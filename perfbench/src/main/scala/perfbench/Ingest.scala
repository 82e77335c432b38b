package perfbench

import graft.api.Storage
import graft.ingest.Flatten
import graft.pattern.Pattern
import java.nio.file.Path

/** Kestrel's GET, the write path `hunt` builds its store with: `cache` a
  * bundle, then `extract` a pattern over the new query id and `count` it,
  * checked against the generator's own objects. */
object Ingest {
  /** The GET after a cache: type, property and constants drawn from the
    * bundle, and how many distinct SCOs of the bundle match. */
  final case class Step(t: String, p: String, c: Seq[Any], expected: Long) {
    def pattern: String = c.map(x => s"$t:$p = ${lit(x)}").mkString("[", " OR ", "]")
  }

  /** Pattern literal for a stored value. */
  def lit(c: Any): String = c match {
    case n: Number => n.toString
    case s         => "'" + s + "'"
  }

  /** A GET over bundle `b`: two of its values plus one it never holds. */
  def getStep(b: StixGen.Bundle, rng: scala.util.Random): Step = {
    val t = b.types(rng.nextInt(b.types.size))
    val p = StixGen.HuntProp(t)
    val vals = b.distinct(t).map(_.props(p)).distinct.sortBy(_.toString)
    val absent = if (t == "network-traffic") 1 else StixGen.sco(t, 9999999).props(p)
    val c = (Seq.fill(2)(vals(rng.nextInt(vals.size))) :+ absent).distinct
    Step(t, p, c, b.distinct(t).count(s => c.contains(s.props(p))).toLong)
  }

  /** Kestrel's GET: `cache` a bundle under query id `q`, then `extract` the
    * step's pattern over `q` and `count` it. The returned time is the
    * `cache` call; the GET's time and the layer figures go in the OpOut. */
  def cacheAndGet(store: Storage, storeDir: Path, q: String, json: String, nObjects: Int,
      nTypes: Int, kind: String, get: Option[Step], traced: Boolean,
      trace: Trace): (OpOut, Double, Option[Layers]) = {
    val before = if (traced) Sys.census(storeDir) else (0L, 0L)
    val (_, cacheMs, layers) = Workload.timed(traced, trace)(store.cache(q, json))
    val after = if (traced) Sys.census(storeDir) else (0L, 0L)
    val checked = get.map { s =>
      val (got, getMs, getLayers) = Workload.timed(traced, trace) {
        store.extract(s"get_$q", s.t, q, s.pattern)
        store.count(s"get_$q")
      }
      (got == s.expected, if (got == s.expected) "" else s"GET ${s.t} on $q: want ${s.expected} got $got",
        Map("ingest.read_after_write_ms" -> getMs) ++ (if (!traced) Map.empty else Map(
          "pattern.compile_ms" -> Workload.ms(Pattern.compile(s.pattern, s.t, store.catalog.resolve))._2,
          "catalog.resolve_ms" -> Workload.ms(store.catalog.resolve(s"get_$q"))._2)),
        getLayers.map(l => Map("ingest.get_jobs" -> l.jobs.toDouble)).getOrElse(Map.empty))
    }
    val (ok, detail, getMs, getCounts) = checked.getOrElse((true, "", Map.empty[String, Double], Map.empty[String, Double]))
    val layerMs = getMs ++
      (if (traced) Map("ingest.flatten_ms" -> Workload.ms(Flatten.flattenBundle(json))._2) else Map.empty)
    val counts = Map(
      "ingest.types" -> nTypes.toDouble,
      "ingest.files_written" -> (after._1 - before._1).toDouble,
      "ingest.bytes_written" -> (after._2 - before._2).toDouble) ++ getCounts
    (OpOut(kind, ok, detail, items = nObjects, layerMs = layerMs, counts = counts), cacheMs, layers)
  }

  /** (observations, SCO types) of the bundles the self-test generates. */
  val Schedule: Seq[(Int, Int)] = Seq((10, 2), (25, 3), (50, 4), (100, 5), (200, 6), (500, 8))
}
