package perfbench

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Benchmark runner: one workload, one seed, one closed-loop client.
  *
  *   --workload hunt|pipeline  --seed N  --seconds S  --trace 0|1
  *   [--root DIR] [--work DIR] [--out DIR] [--rev ID] [--plant-wrong 1]
  *   --gen DIR --seed N   writes the generator's bundles and exits
  *
  * With --trace 0 it prints the end-to-end metrics, with --trace 1 the
  * per-layer ones. The last stdout line is one JSON object; every op and a
  * summary after each cycle also go to a JSONL record under --out. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (a.contains("gen")) return gen(Paths.get(a("gen")), a("seed").toLong)
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traceOn = a.getOrElse("trace", "0") == "1"
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    val root = Paths.get(a.getOrElse("root", ".")).toAbsolutePath.normalize
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val work = Paths.get(a.getOrElse("work", s".bench_build/work/$runId")).toAbsolutePath
    val out = Paths.get(a.getOrElse("out", ".bench_build/records")).toAbsolutePath
    Files.createDirectories(work); Files.createDirectories(out)
    val rec = new Records(out.resolve(s"$workload-seed$seed-trace${if (traceOn) 1 else 0}-$runId.jsonl"),
      Map("workload" -> workload, "seed" -> seed, "rev" -> a.getOrElse("rev", "unknown"),
        "cpus" -> cpus, "trace" -> traceOn, "run" -> runId))
    var spark: SparkSession = null
    try {
      spark = session(cpus, work)
      val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
      val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
      val result = run(spark, workload, seed, seconds, traceOn, cpus, root, work,
        a.get("plant-wrong").contains("1"), sessionS, rec)
      stop(spark); spark = null
      println(result)
    } finally {
      if (spark != null) stop(spark)
      Sys.deleteTree(work)
    }
  }

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      // the status store keeps recent plans and jobs; which ones a run
      // ends on would otherwise decide part of the retained heap
      .config("spark.ui.retainedJobs", "1")
      .config("spark.ui.retainedStages", "1")
      .config("spark.ui.retainedTasks", "1")
      .config("spark.sql.ui.retainedExecutions", "1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stop(spark: SparkSession): Unit = {
    try spark.sparkContext.setLogLevel("OFF") catch { case _: Throwable => () }
    try spark.streams.active.foreach(_.stop()) catch { case _: Throwable => () }
    spark.stop()
  }

  /** Fixed-work Spark probe; its time flags a contended machine. */
  def calibrate(spark: SparkSession, cpus: Int): Double = {
    def probe(): Double = Workload.ms(spark.range(0L, 4L * 1000 * 1000, 1L, cpus)
      .select(sum(xxhash64(md5(col("id").cast("string"))).cast("decimal(38,0)"))).head())._2
    probe() // compiles the probe; the second call is the measurement
    probe() / 1000.0
  }

  final case class Done(i: Int, out: OpOut, ms: Double, layers: Option[Layers], traced: Boolean)

  def run(spark: SparkSession, workload: String, seed: Long, seconds: Double, traceOn: Boolean,
      cpus: Int, root: Path, work: Path, plantWrong: Boolean, sessionS: Double,
      rec: Records): String = {
    val wl = Workload.make(workload, spark, seed, work, root, plantWrong)
    val trace = new Trace(spark)
    // an op that throws counts as failed, with the time it took
    def attempt(i: Int, traced: Boolean): Done = {
      val t0 = Sys.nowMs
      try {
        val (o, ms, l) = wl.op(i, traced, trace)
        Done(i, o, ms, l, traced)
      } catch {
        case e: Exception =>
          val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(3).mkString(" ")}"
          System.err.println(s"[perfbench] op $i failed: $msg")
          Done(i, OpOut("error", ok = false, msg), Sys.nowMs - t0, None, traced)
      }
    }
    // set-up: the store or inputs, built once from scratch; a hunt store
    // takes ~40 s to ingest, and the run budget has no room for a second
    if (traceOn) trace.attach()
    val buildS = Workload.ms(wl.build(traceOn, trace))._2 / 1000.0
    trace.detach()
    val setupDone = wl.setupOps.zipWithIndex.map { case ((o, ms, l), k) => Done(-1 - k, o, ms, l, l.nonEmpty) }
    wl.prepare()
    // warm-up inside set-up: the first op runs cold and is reported apart
    val warm = mutable.ArrayBuffer.empty[Done]
    val warmMs = Workload.ms {
      (-wl.warmups until 0).foreach(i => warm += attempt(i, false))
    }._2
    val setupS = sessionS + buildS + warmMs / 1000.0
    val calibS = calibrate(spark, cpus)
    rec.context = rec.context + ("calib_s" -> calibS)
    System.err.println(f"[perfbench] set-up: session $sessionS%.1f s, build $buildS%.1f s, " +
      f"warm-up ${warmMs / 1000}%.1f s (cold op ${warm.head.ms / 1000}%.1f s), calibration $calibS%.2f s")
    rec.write(Map("type" -> "setup", "session_s" -> sessionS, "build_s" -> buildS,
      "warmup_s" -> warmMs / 1000.0, "setup_s" -> setupS, "cold_op_ms" -> warm.head.ms))
    setupDone.foreach(d => rec.write(opRecord(d, "setup_op")))
    warm.foreach(d => rec.write(opRecord(d, "warmup")))

    // the timed closed loop: one client, next op after the previous one
    val done = mutable.ArrayBuffer.empty[Done]
    val t0 = Sys.nowMs
    val cpu0 = Sys.cpuS
    val gc0 = Sys.gcS
    val jit0 = Sys.jitS
    def cycles = done.size / wl.cycle
    // runs stop on a cycle boundary, so every run measures the same op
    // mix; a traced run alternates traced and untraced cycles and needs
    // one of each for the tracing overhead
    def enough = Sys.nowMs - t0 >= seconds * 1000 && done.size % wl.cycle == 0 &&
      done.size >= (if (traceOn) 2 else 1) * wl.cycle
    var i = 0
    while (!enough) {
      val traced = traceOn && (i / wl.cycle) % 2 == 0
      if (traced) trace.attach() else trace.detach()
      val d = attempt(i, traced)
      done += d
      rec.write(opRecord(d, "op"))
      if (done.size % wl.cycle == 0)
        rec.write(Map("type" -> "partial", "ops" -> done.size, "cycles" -> cycles,
          "op_p50_ms" -> Stats.median(done.map(_.ms).toSeq)))
      i += 1
    }
    val loopS = (Sys.nowMs - t0) / 1000.0
    val loopCpuS = Sys.cpuS - cpu0
    trace.detach()
    val checks = wl.finalChecks()
    val peakRss = Sys.peakRssMb
    val liveHeap = Sys.liveHeapMb

    val all = setupDone ++ warm ++ done
    val attempted = all.size + checks.size
    val failed = all.count(!_.out.ok) + checks.count(!_._2)
    all.filter(!_.out.ok).take(5).foreach(d => System.err.println(s"[perfbench] wrong: ${d.out.detail}"))
    checks.filter(!_._2).foreach(c => System.err.println(s"[perfbench] check ${c._1} failed: ${c._3}"))

    val ms = done.map(_.ms).toSeq
    val byKind = done.groupBy(_.out.kind)
    val kindP50 = byKind.map { case (k, ds) => k -> Stats.median(ds.map(_.ms).toSeq) }
    // one pass = one whole cycle of the op mix, averaged over whole cycles
    val passMs = done.take(cycles * wl.cycle).map(_.ms).sum / cycles
    val e2e = Seq(
      ("setup_s", setupS, "s", 1),
      ("pass_s", passMs / 1000.0, "s", cycles),
      ("live_heap_mb", liveHeap, "MiB", 1))
    val layers =
      if (traceOn) Some(perLayer(wl, done.toSeq, setupDone, warm.head.ms, calibS, failed.toDouble / attempted, passMs, setupS))
      else None
    val summary = Map("type" -> "summary", "loop_s" -> loopS, "loop_cpu_s" -> loopCpuS, "loop_gc_s" -> (Sys.gcS - gc0), "loop_jit_s" -> (Sys.jitS - jit0), "ops" -> done.size, "cycles" -> cycles,
      "attempted" -> attempted, "failed" -> failed, "cold_op_ms" -> warm.head.ms,
      "peak_rss_mb" -> peakRss,
      "kind_p50_ms" -> kindP50, "op_p50_ms" -> Stats.median(ms),
      "items_per_s" -> done.map(_.out.items).sum / (ms.sum / 1000.0), "e2e" -> e2e.map(m => m._1 -> m._2).toMap,
      "checks" -> checks.map(c => Map("name" -> c._1, "ok" -> c._2, "detail" -> c._3))) ++
      wl.summary().map { case (k, v) => s"workload.$k" -> v } ++
      layers.map(l => Map("per_layer" -> l.map(m => m._1 -> m._2).toMap)).getOrElse(Map.empty)
    rec.write(summary)

    val shown = layers.getOrElse(e2e.map(m => (m._1, m._2, m._3, m._4)))
    shown.foreach { case (n, v, u, k) => println(f"[perfbench] $workload%-8s $n%-34s $v%14.4f $u%-6s n=$k") }
    val metrics = shown.map { case (n, v, u, _) => n -> Map("value" -> v, "unit" -> u) }
    Json.render(mutable.LinkedHashMap[String, Any](
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics: _*)))
  }

  private def opRecord(d: Done, kind: String): Map[String, Any] =
    Map("type" -> kind, "i" -> d.i, "kind" -> d.out.kind, "ok" -> d.out.ok, "ms" -> d.ms,
      "traced" -> d.traced) ++
      (if (d.out.shape.isEmpty) Map.empty else Map("shape" -> d.out.shape)) ++
      (if (d.out.ok) Map.empty else Map("detail" -> d.out.detail)) ++
      d.out.layerMs ++ d.out.counts ++
      d.layers.map(l => Map("spark.jobs" -> l.jobs, "spark.tasks" -> l.tasks, "spark.task_s" -> l.taskS,
        "spark.shuffle_write_bytes" -> l.shuffleWriteBytes, "spark.spill_bytes" -> l.spillBytes,
        "driver.gap_ms" -> l.gapMs, "plan.actions" -> l.actions, "plan.analysis_ms" -> l.analysisMs,
        "plan.optimization_ms" -> l.optimizationMs, "plan.planning_ms" -> l.planningMs,
        "stream.batch_ms" -> l.batchMs)).getOrElse(Map.empty)

  /** Per-layer metrics of a traced run. Counts average over the first
    * traced cycle, which is the same ops for a given seed, so they repeat
    * exactly; times are medians (means for whole-millisecond figures)
    * over every traced op. Layer-specific
    * times are reported as a share (%) of the wall they sit in. */
  def perLayer(wl: Workload, done: Seq[Done], setupDone: Seq[Done], coldMs: Double, calibS: Double,
      failedRatio: Double, passMs: Double, setupS: Double): Seq[(String, Double, String, Int)] = {
    val info = wl.summary()
    val traced = done.filter(d => d.traced && d.layers.nonEmpty)
    val first = traced.take(wl.cycle)
    // whole cycles of the same mix, traced and untraced: their mean op
    // walls compare the same kinds
    val untraced = done.filter(!_.traced)
    def meanMs(ds: Seq[Done]) = ds.map(_.ms).sum / ds.size
    def meanOf(ds: Seq[Done])(f: Done => Double): Double = if (ds.isEmpty) 0.0 else ds.map(f).sum / ds.size
    def lay(d: Done) = d.layers.get
    def med(f: Done => Double): Double = if (traced.isEmpty) Double.NaN else Stats.median(traced.map(f))
    // phase and gap times come in whole milliseconds; a mean keeps their digits
    def mean(f: Done => Double): Double = meanOf(traced)(f)
    def pctOf(key: String, base: Done => Double): Double = {
      val ds = traced.filter(_.out.layerMs.contains(key))
      if (ds.isEmpty) 0.0 else 100.0 * ds.map(_.out.layerMs(key)).sum / ds.map(base).sum
    }
    val n = traced.size
    val univ = Seq(
      ("spark.jobs", meanOf(first)(lay(_).jobs.toDouble), "count", first.size),
      ("spark.tasks", meanOf(first)(lay(_).tasks.toDouble), "count", first.size),
      ("spark.task_s", med(lay(_).taskS), "s", n),
      ("spark.shuffle_write_bytes", meanOf(first)(lay(_).shuffleWriteBytes.toDouble), "bytes", first.size),
      ("spark.spill_bytes", meanOf(first)(lay(_).spillBytes.toDouble), "bytes", first.size),
      ("driver.gap_ms", mean(lay(_).gapMs), "ms", n),
      ("plan.actions", meanOf(first)(lay(_).actions.toDouble), "count", first.size),
      ("plan.analysis_ms", mean(lay(_).analysisMs), "ms", n),
      ("plan.optimization_ms", mean(lay(_).optimizationMs), "ms", n),
      ("plan.planning_ms", mean(lay(_).planningMs), "ms", n),
      ("catalog.resolve_ms", med(_.out.layerMs.getOrElse("catalog.resolve_ms", Double.NaN)), "ms", n),
      ("stream.batches", first.map(lay(_).batchMs.size.toDouble).sum, "count", first.size),
      ("stream.batch_pct", {
        val s = traced.filter(lay(_).batchMs.nonEmpty)
        if (s.isEmpty) 0.0 else 100.0 * s.map(lay(_).batchMs.sum).sum / s.map(_.ms).sum
      }, "%", n),
      ("calib_s", calibS, "s", 1),
      ("cold_op_ms", coldMs, "ms", 1),
      ("trace_overhead_ratio", meanMs(done.filter(_.traced)) / meanMs(untraced), "ratio", untraced.size),
      ("failed_ratio", failedRatio, "ratio", done.size))
    // the set-up's caches (hunt builds its store with GETs)
    val caches = setupDone.filter(d => d.traced && d.out.counts.contains("ingest.types"))
    val censused = caches.filter(_.out.counts.contains("ingest.files_written"))
    val ingest = Seq(
      ("ingest.flatten_pct",
        if (caches.isEmpty) 0.0 else 100.0 * caches.map(_.out.layerMs("ingest.flatten_ms")).sum / caches.map(_.ms).sum,
        "%", caches.size),
      ("ingest.read_after_write_pct", {
        val g = caches.filter(_.out.layerMs.contains("ingest.read_after_write_ms"))
        if (g.isEmpty) 0.0
        else 100.0 * g.map(_.out.layerMs("ingest.read_after_write_ms")).sum /
          g.map(d => d.ms + d.out.layerMs("ingest.read_after_write_ms")).sum
      }, "%", caches.size),
      ("ingest.jobs_per_cache", meanOf(caches)(lay(_).jobs.toDouble), "count", caches.size),
      ("ingest.jobs_per_type", {
        val c = caches.filter(_.out.counts("ingest.types") > 0)
        if (c.isEmpty) 0.0 else c.map(lay(_).jobs.toDouble).sum / c.map(_.out.counts("ingest.types")).sum
      }, "jobs/type", caches.size),
      ("ingest.files_written", meanOf(censused)(_.out.counts("ingest.files_written")), "count", censused.size),
      ("ingest.bytes_written", meanOf(censused)(_.out.counts("ingest.bytes_written")), "bytes", censused.size),
      ("ingest.stored_bytes_per_input_byte",
        info.get("stored_bytes_per_input_byte").map(_.asInstanceOf[Double]).getOrElse(0.0), "ratio", 1))
    val stix = Seq(
      ("pattern.compile_pct", pctOf("pattern.compile_ms", _.ms), "%", n),
      ("deref.plan_pct", pctOf("deref.plan_ms", _.ms), "%", n),
      ("catalog.replay_pct",
        info.get("catalog.replay_ms").map(_.asInstanceOf[Double] / (10.0 * setupS)).getOrElse(0.0), "%", 1))
    val kinds = (Hunt.Kinds.map("verb." + _) ++ Pipeline.Ops.map("query." + _)).flatMap { k =>
      val name = k.dropWhile(_ != '.').drop(1)
      val all = done.filter(_.out.kind == name)
      val tr = first.filter(_.out.kind == name)
      val p50 = if (all.isEmpty) 0.0 else Stats.median(all.map(_.ms))
      Seq((s"$k.jobs", meanOf(tr)(lay(_).jobs.toDouble), "count", tr.size),
        (s"$k.time_pct", if (passMs > 0) 100.0 * p50 / passMs else 0.0, "%", all.size)) ++
        (if (k.startsWith("query.")) Seq((s"$k.task_per_wall", {
          val t = traced.filter(_.out.kind == name)
          if (t.isEmpty) 0.0 else t.map(lay(_).taskS).sum / (t.map(_.ms).sum / 1000.0)
        }, "ratio", tr.size)) else Nil)
    }
    univ ++ ingest ++ stix ++ kinds
  }

  /** Writes the generator's bundles for `seed` (self-test input). */
  def gen(dir: Path, seed: Long): Unit = {
    Files.createDirectories(dir)
    val g = new StixGen(seed)
    Ingest.Schedule.zipWithIndex.foreach { case ((n, t), i) =>
      val b = g.bundle(n, t, if (i % 2 == 0) "2.0" else "2.1")
      Files.write(dir.resolve(f"bundle_$i%02d.json"), b.json.getBytes("UTF-8"))
    }
  }
}

/** Append-only JSONL record of one run: every line carries the run's
  * context (workload, seed, revision, cpus, calibration). */
final class Records(path: Path, var context: Map[String, Any]) {
  def write(m: Map[String, Any]): Unit = {
    val line = Json.render(scala.collection.immutable.ListMap((context ++ m).toSeq: _*)) + "\n"
    Files.write(path, line.getBytes("UTF-8"), StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}
