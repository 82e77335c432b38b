package perfbench

import graft.api.{Deref, Storage}
import graft.pattern.Pattern
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import Ingest.lit

/** `hunt`: a seeded sequence of Kestrel-shaped read statements over a store
  * built during set-up from the real stix-shifter export and a generated
  * bundle. No step writes data. Each step's answer is recomputed from the
  * store's base Parquet, read with plain Spark and evaluated in the
  * benchmark, never through the verb layers. */
final class Hunt(spark: SparkSession, seed: Long, work: Path, root: Path, plantWrong: Boolean)
    extends Workload {
  import Hunt._

  val cycle: Int = Templates.size
  // the heavy shape of each kind: the most code to compile before timing
  val warmups: Int = Kinds.size

  private val fixtures = root.resolve("src/test/resources/fixtures")
  private val rng = new scala.util.Random(seed)
  private val gen = new StixGen(seed)
  private val genBundles = Seq(("g0", 20, 2, "2.1"))
    .map { case (q, n, t, s) => q -> gen.bundle(n, t, s) }
  private val gets = genBundles.map { case (q, b) => q -> Ingest.getStep(b, rng) }.toMap
  private var store: Storage = _
  private var storeDir: Path = _
  private var inputBytes = 0L

  /** Set-up is an ingest phase: each bundle is cached as Kestrel's GET
    * does it, and a generated bundle's GET is checked against the
    * generator. The caches are recorded as set-up ops. */
  def build(traced: Boolean, trace: Trace): Unit = {
    storeDir = work.resolve("hunt_store")
    store = new Storage(spark, storeDir.toString)
    val ccoe = new String(Files.readAllBytes(fixtures.resolve("ccoe_investigator_demo.json")), "UTF-8")
    val inputs = Seq((Query, ccoe, 1, 0, None)) ++ genBundles.map { case (q, b) => (q, b.json, b.nObjects, b.types.size, Some(gets(q))) }
    cacheOps = inputs.map { case (q, json, n, types, get) =>
      val (o, ms, l) = Ingest.cacheAndGet(store, storeDir, q, json, n, types, s"cache_$q",
        get.map(s => if (plantWrong && q == "g0") s.copy(expected = s.expected + 1) else s), traced, trace)
      // ccoe holds SCO types with no ID-contributing properties, which get
      // random ids, so its bucket files differ from run to run; only the
      // generated bundle's file counts repeat
      (if (get.isEmpty) o.copy(counts = o.counts -- Seq("ingest.files_written", "ingest.bytes_written")) else o, ms, l)
    }
    inputBytes = inputs.map(_._2.getBytes("UTF-8").length.toLong).sum
  }

  private var cacheOps: Seq[(OpOut, Double, Option[Layers])] = Nil
  override def setupOps: Seq[(OpOut, Double, Option[Layers])] = cacheOps

  // ----- answers from the base Parquet ------------------------------------

  private var steps: IndexedSeq[Step] = IndexedSeq.empty
  private var setupChecks: Seq[(String, Boolean, String)] = Nil

  private def base(t: String) = spark.read.parquet(storeDir.resolve(s"$t.parquet").toString)
  private def collect(t: String): Seq[R] =
    base(t).collect().toSeq.map(r => r.schema.fieldNames.zip(r.toSeq).toMap - "__bucket")

  /** Reads the answer tables, checks the set-up and plans the steps. The
    * tables are local: only the planned steps, with digests of their
    * answers, outlive this call, so the retained heap is the program's. */
  override def prepare(): Unit = {
    val direct = (Templates.map(_._2) ++ genBundles.flatMap(_._2.types)).distinct
      .filter(t => Files.exists(storeDir.resolve(s"$t.parquet")))
    val first = direct.map(t => t -> collect(t)).toMap
    // the types the templates' reference paths point at, read off the ids
    val targets = Templates.collect { case (_, t, p) if p.contains('.') =>
      first(t).flatMap(r => Option(r.getOrElse(p.takeWhile(_ != '.'), null))).map(_.toString.split("--")(0))
    }.flatten.distinct.filterNot(first.contains)
      .filter(t => Files.exists(storeDir.resolve(s"$t.parquet")))
    val rows = first ++ targets.map(t => t -> collect(t))
    val prov = base("__queries").select("query_id", "sco_id").collect().toSeq
      .groupMap(_.getString(0))(_.getString(1)).map { case (k, v) => k -> v.toSet }
    val obs = base("observed-data").select("id", "first_observed", "last_observed", "number_observed")
      .collect().map(r => r.getString(0) -> (String.valueOf(r.get(1)), String.valueOf(r.get(2)),
        r.getAs[Number](3).longValue)).toSeq.groupMap(_._1)(_._2)
    val obsOf = base("__contains").select("source_ref", "target_ref").collect().toSeq
      .flatMap(r => obs.getOrElse(r.getString(0), Nil).map(o => r.getString(1) -> o))
      .groupMap(_._1)(_._2)
    // every generated SCO landed under its bundle's query id
    setupChecks = genBundles.flatMap { case (q, b) =>
      b.types.flatMap(t => Option(t).filter(rows.contains)).distinct.map { t =>
        val want = b.distinct(t).size
        val got = rows(t).count(r => prov.getOrElse(q, Set.empty)(r("id").toString))
        (s"store.$q.$t", want == got, s"want $want got $got")
      }
    }
    plan(new Answers(rows, prov.getOrElse(Query, Set.empty), obsOf))
  }

  private val Safe = "[A-Za-z0-9._:/@ -]+".r

  /** Each cycle runs every template once, in a seeded order; the seed
    * also picks the pattern constants, drawn from the template's view. */
  private def plan(a: Answers): Unit = {
    def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.size))
    def step(tpl: (String, String, String)): Step = {
      val (kind, t, p) = tpl
      val vals = a.view(t).map(a.get(_, p)).filter(v => v != null && Safe.matches(v.toString))
        .distinct.sortBy(_.toString)
      require(vals.nonEmpty, s"no $t:$p values under query $Query")
      val st = Step(kind, t, p, Seq(pick(vals), pick(vals)).distinct, rng.nextBoolean(), 3 + rng.nextInt(8), "", "")
      val want = a.answer(st)
      st.copy(expected = digest(want), preview = want.take(120))
    }
    steps = (0 until Cycles).flatMap(_ => rng.shuffle(Templates)).map(step)
    warm = Templates.grouped(2).map(pair => step(pair.last)).toIndexedSeq
  }

  private var warm: IndexedSeq[Step] = IndexedSeq.empty

  def op(i: Int, traced: Boolean, trace: Trace): (OpOut, Double, Option[Layers]) = {
    val s = if (i < 0) warm(i + warmups) else steps(i % steps.size)
    val v = if (i < 0) s"warm${-i}" else s"v$i"
    val (got, ms, layers) = Workload.timed(traced, trace)(run(store, s, v))
    val ok = digest(got) == s.expected
    val layerMs: Map[String, Double] =
      if (!traced) Map.empty
      else Map(
        "pattern.compile_ms" -> Workload.ms(Pattern.compile(
          s"[${s.t}:${s.p} = ${lit(s.c.head)}]", s.t, store.catalog.resolve))._2,
        "catalog.resolve_ms" -> Workload.ms(store.catalog.resolve(v))._2,
        "deref.plan_ms" -> Workload.ms(Deref.autoDeref(store, v))._2)
    (OpOut(s.kind, ok, if (ok) "" else s"${s.kind} ${s.t}:${s.p} want ${s.preview} got ${got.take(120)}",
      layerMs = layerMs, shape = s"${s.t}:${s.p}"), ms, layers)
  }

  override def finalChecks(): Seq[(String, Boolean, String)] = {
    // replaying the session's journal into a new Storage is what a
    // reconnecting Kestrel pays; it must still resolve the last view
    val (fresh, replayMs) = Workload.ms(new Storage(spark, storeDir.toString))
    replay = replayMs
    setupChecks :+ (("replay", fresh.views().nonEmpty, ""))
  }

  private var replay = Double.NaN

  override def summary(): Map[String, Any] = {
    val (files, bytes) = Sys.census(storeDir)
    Map("store_files" -> files, "store_bytes" -> bytes, "input_bytes" -> inputBytes,
      "catalog.replay_ms" -> replay, "steps_planned" -> steps.size,
      "stored_bytes_per_input_byte" -> bytes.toDouble / inputBytes)
  }
}

object Hunt {
  private type R = Map[String, Any]

  /** The query id every step reads: the ccoe export. */
  val Query = "ccoe"

  /** One planned step: kind, view type and path, the constants drawn from
    * the store, and a digest and preview of its expected answer. */
  final case class Step(kind: String, t: String, p: String, c: Seq[Any],
      asc: Boolean, k: Int, expected: String, preview: String)

  val Kinds: Seq[String] = Seq("extract_lookup", "filter_count", "value_counts", "summary",
    "number_observed", "group_lookup", "sort_lookup", "timestamped", "values")

  /** (kind, type, path) of every step shape, two per kind, picked from a
    * measurement of every kind over the ccoe types (perfbench/README.md):
    * first a property of a plain type, then a reference path or a type
    * with many references to dereference, so that each kind spans the
    * measured range of Spark jobs and wall time. `sort_lookup` sorts on a
    * plain property in both: a lookup after a sort on a reference path
    * fails (AMBIGUOUS_REFERENCE). `summary` ignores the path. */
  val Templates: Seq[(String, String, String)] = Seq(
    ("extract_lookup", "network-traffic", "dst_port"),
    ("extract_lookup", "x-oca-event", "process_ref.name"),
    ("filter_count", "ipv4-addr", "value"),
    ("filter_count", "network-traffic", "dst_ref.value"),
    ("value_counts", "process", "name"),
    ("value_counts", "x-oca-event", "host_ref.hostname"),
    ("summary", "user-account", "user_id"),
    ("summary", "x-oca-event", "action"),
    ("number_observed", "directory", "path"),
    ("number_observed", "process", "binary_ref.name"),
    ("group_lookup", "x-oca-asset", "hostname"),
    ("group_lookup", "x-oca-event", "user_ref.user_id"),
    ("sort_lookup", "file", "name"),
    ("sort_lookup", "x-oca-event", "action"),
    ("timestamped", "domain-name", "value"),
    ("timestamped", "x-oca-event", "host_ref.hostname"),
    ("values", "software", "name"),
    ("values", "network-traffic", "dst_ref.value"))

  /** Cycles of the templates planned per run; a run times the first few. */
  val Cycles = 12

  def digest(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  /** Answers computed from the store's base tables: `rows` per type,
    * `prov` the SCO ids under the query, `obsOf` each SCO's observations
    * as (first_observed, last_observed, number_observed). */
  final class Answers(rows: Map[String, Seq[R]], prov: Set[String],
      obsOf: Map[String, Seq[(String, String, Long)]]) {
    private val byId: Map[String, R] = rows.values.flatten.map(r => r("id").toString -> r).toMap

    def view(t: String): Seq[R] = rows(t).filter(r => prov(r("id").toString))

    /** The value at `path` on row `r`, following `_ref` links; null where
      * a reference is unset, as the verbs' left joins give it. */
    def get(r: R, path: String): Any = {
      val segs = path.split('.')
      segs.init.foldLeft(Option(r)) { (row, ref) =>
        row.flatMap(x => Option(x.getOrElse(ref, null))).flatMap(id => byId.get(id.toString))
      }.map(_.getOrElse(segs.last, null)).orNull
    }

    private def eq(p: String, c: Any)(r: R): Boolean = get(r, p) == c

    private def obsRows(v: Seq[R]): Seq[(R, (String, String, Long))] =
      v.flatMap(r => obsOf.getOrElse(r("id").toString, Nil).map(r -> _))

    private def sortKey(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Number, y: Number) => x.doubleValue < y.doubleValue
      case (x, y)                 => x.toString.compareTo(y.toString) < 0
    }

    def answer(s: Step): String = {
      val v = view(s.t)
      val c0 = s.c.head
      s.kind match {
        case "extract_lookup" => v.filter(eq(s.p, c0)).map(_("id").toString).sorted.mkString(",")
        case "filter_count"   => v.count(r => s.c.exists(eq(s.p, _)(r))).toString
        case "value_counts" =>
          obsRows(v).groupMapReduce(x => String.valueOf(get(x._1, s.p)))(_ => 1L)(_ + _)
            .toSeq.map { case (k, n) => s"$k=$n" }.sorted.mkString(",")
        case "summary" =>
          val o = obsRows(v).map(_._2)
          if (o.isEmpty) "null,null,0"
          else s"${o.map(_._1).min},${o.map(_._2).max},${o.map(_._3).sum}"
        case "number_observed" => obsRows(v.filter(eq(s.p, c0))).map(_._2._3).sum.toString
        case "group_lookup"    => v.map(get(_, s.p)).distinct.size.toString
        case "sort_lookup" =>
          val (nulls, vals) = v.map(get(_, s.p)).partition(_ == null)
          val sorted = vals.sortWith(sortKey)
          val ordered = if (s.asc) nulls ++ sorted else sorted.reverse ++ nulls
          ordered.take(s.k).map(String.valueOf).mkString(",")
        case "timestamped" => obsRows(v.filter(eq(s.p, c0))).size.toString
        case "values"      => v.map(r => String.valueOf(get(r, s.p))).sorted.mkString(",")
      }
    }
  }

  /** Runs step `s` into view `v` through the verb layers and renders
    * its answer as `answer` does. */
  def run(store: Storage, s: Step, v: String): String = {
    val p1 = s"[${s.t}:${s.p} = ${lit(s.c.head)}]"
    s.kind match {
      case "extract_lookup" =>
        store.extract(v, s.t, Query, p1)
        store.lookup(v).map(_("id").toString).sorted.mkString(",")
      case "filter_count" =>
        store.extract(s"${v}a", s.t, Query, "")
        store.filter(v, s.t, s"${v}a", s.c.map(c => s"${s.t}:${s.p} = ${lit(c)}").mkString("[", " OR ", "]"))
        store.count(v).toString
      case "value_counts" =>
        store.extract(v, s.t, Query, "")
        store.valueCounts(v, s.p).map { case (k, n) => s"${String.valueOf(k)}=$n" }.sorted.mkString(",")
      case "summary" =>
        store.extract(v, s.t, Query, "")
        val (a, b, n) = store.summary(v)
        s"$a,$b,$n"
      case "number_observed" =>
        store.extract(v, s.t, Query, "")
        store.numberObserved(v, s.p, s.c.head).toString
      case "group_lookup" =>
        store.extract(s"${v}a", s.t, Query, "")
        store.group(v, s"${v}a", Seq(s.p))
        store.lookup(v).size.toString
      case "sort_lookup" =>
        store.extract(s"${v}a", s.t, Query, "")
        store.assign(v, s"${v}a", "sort", s.p, s.asc, Some(s.k))
        store.lookup(v).map(r => String.valueOf(r.getOrElse(s.p, null))).mkString(",")
      case "timestamped" =>
        store.extract(v, s.t, Query, p1)
        store.timestamped(v).count().toString
      case "values" =>
        store.extract(v, s.t, Query, "")
        store.values(s.p, v).map(String.valueOf).sorted.mkString(",")
    }
  }
}
