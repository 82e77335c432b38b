package perfbench

import org.apache.spark.sql.SparkSession

/** Result of one operation: its step kind and shape, whether its output
  * matched the benchmark's own answer, and layer figures the workload
  * measured with its own timers (only filled in on traced operations). */
final case class OpOut(
    kind: String,
    ok: Boolean,
    detail: String = "",
    items: Double = 1.0,
    layerMs: Map[String, Double] = Map.empty,
    counts: Map[String, Double] = Map.empty,
    shape: String = "")

/** A closed-loop workload with one client: the runner calls `op`
  * back-to-back, each call after the previous one returned. */
trait Workload {
  /** Ops in one cycle of the seeded op mix; medians are steadiest over
    * whole cycles and tracing alternates per cycle. */
  def cycle: Int
  /** Warm-up ops run in set-up, as ops -warmups .. -1; the first is the
    * cold op. */
  def warmups: Int
  /** Builds the workload's inputs and store once, from scratch. */
  def build(traced: Boolean, trace: Trace): Unit
  /** Ops the set-up ran (a store's ingest), as the loop's ops record them. */
  def setupOps: Seq[(OpOut, Double, Option[Layers])] = Nil
  /** Untimed preparation after the last build (answer tables etc.). */
  def prepare(): Unit = ()
  /** Runs op `i` of the seeded sequence and checks its output. The
    * returned wall time covers only the program's work, not the check. */
  def op(i: Int, traced: Boolean, trace: Trace): (OpOut, Double, Option[Layers])
  /** Checks on the final state, run once after the timed loop. */
  def finalChecks(): Seq[(String, Boolean, String)] = Nil
  /** Extra summary fields (sizes, byte ratios) for the records. */
  def summary(): Map[String, Any] = Map.empty
}

object Workload {
  def make(name: String, spark: SparkSession, seed: Long, work: java.nio.file.Path,
      root: java.nio.file.Path, plantWrong: Boolean): Workload = name match {
    case "hunt"     => new Hunt(spark, seed, work, root, plantWrong)
    case "pipeline" => new Pipeline(spark, seed, work, plantWrong)
    case other      => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Times `f` in milliseconds, optionally inside a traced window. */
  def timed[A](traced: Boolean, trace: Trace)(f: => A): (A, Double, Option[Layers]) =
    if (traced) {
      val w = trace.begin()
      val t0 = Sys.nowMs
      val a = f
      val ms = Sys.nowMs - t0
      (a, ms, Some(trace.end(w)))
    } else {
      val t0 = Sys.nowMs
      val a = f
      (a, Sys.nowMs - t0, None)
    }

  def ms[A](f: => A): (A, Double) = {
    val t0 = Sys.nowMs
    val a = f
    (a, Sys.nowMs - t0)
  }
}
