package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.control.NonFatal

/** One run's client: times each engine call as an op, runs the op's
  * correctness check after the clock stops, and keeps everything the
  * report needs. One thread issues every call and waits for its reply
  * (a closed loop with one client), so at most one op is in flight. */
final class Harness(val spark: SparkSession, val workload: String,
                    val seed: Long, val recorder: Option[Recorder]) {

  final case class Op(id: Int, phase: String, kind: String, cycle: Int,
                      startMs: Double, endMs: Double, ok: Boolean)

  val ops = mutable.ArrayBuffer[Op]()
  /** Named samples (setup times, recalls, space ratios, host calibration). */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** Direct measurements of single layers, reported by the traced run. */
  val probes = mutable.LinkedHashMap[String, Double]()
  /** Extra facts the report carries through unchanged. */
  val extra = mutable.LinkedHashMap[String, Any]()

  var phase = "setup"
  var cycle = -1

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch milliseconds, on the scale of Spark's event times. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += v

  /** Logs a failed check to stderr and returns false. */
  def fail(msg: String): Boolean = {
    System.err.println(s"[perfbench] check failed: $msg")
    false
  }

  /** Runs `body` as one timed op of `kind`; `check` runs untimed on its
    * result. Returns the result if the call itself returned, even when
    * the check failed (later steps may still need it). */
  def op[T](kind: String)(body: => T)(check: T => Boolean): Option[T] = {
    val id = ops.size
    if (recorder.isDefined) spark.sparkContext.setJobGroup(s"perfbench:$id:$kind", kind)
    val t0 = nowMs
    val r = try Right(body) catch { case NonFatal(e) => Left(e) }
    val t1 = nowMs
    // jobs the benchmark itself starts between ops carry no op's group
    if (recorder.isDefined) spark.sparkContext.clearJobGroup()
    val ok = r match {
      case Right(v) =>
        try check(v) catch { case NonFatal(e) => fail(s"$kind check threw $e") }
      case Left(e) =>
        System.err.println(s"[perfbench] $kind failed: $e")
        false
    }
    ops += Op(id, phase, kind, cycle, t0, t1, ok)
    r.toOption
  }

  /** Like [[op]] for set-up steps, which must succeed for the run to mean
    * anything: a failure ends the run. */
  def step[T](kind: String)(body: => T): T =
    op(kind)(body)(_ => true).getOrElse(sys.error(s"set-up step $kind failed"))

  /** Runs `setup` `reps` times and records each duration under setup_s;
    * returns the last repetition's state. */
  def setups[T](reps: Int)(setup: Int => T): T = {
    phase = "setup"
    (0 until reps).map { i =>
      cycle = i
      val t0 = System.nanoTime()
      val r = setup(i)
      sample("setup_s", (System.nanoTime() - t0) / 1e9)
      r
    }.last
  }

  /** `warmup` untimed cycles, then `measured` timed ones. Both counts
    * are fixed before the run starts, so every run of a workload measures
    * the same ops in the same cycle states whatever the engine's speed,
    * and percentiles over them keep their rank. */
  def run(warmup: Int, measured: Int)(body: Int => Unit): Unit = {
    def cycles(n: Int): Unit = (1 to n).foreach { _ => cycle += 1; body(cycle) }
    phase = "warmup"; cycle = -1
    cycles(warmup)
    phase = "measure"
    cycles(measured)
    phase = "final"; cycle = -1
  }

  /** A fixed JVM and CPU task (sort and hash of seeded data), timed in
    * every run, so host speed drift shows in the output. */
  def calibrate(reps: Int = 5): Unit = (1 to reps).foreach { _ =>
    val t0 = System.nanoTime()
    val r = new scala.util.Random(7)
    val a = Array.fill(400000)(r.nextDouble())
    java.util.Arrays.sort(a)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8 * a.length)
    a.foreach(buf.putDouble)
    md.update(buf.array())
    require(md.digest().length == 32)
    sample("calib_ms", (System.nanoTime() - t0) / 1e6)
  }

  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)

  /** The raw report: ops, samples, probes and, in a traced run, the
    * recorded Spark jobs and stages. Summaries are computed from it by
    * the report step. */
  def report(): String = {
    extra("run_ms") = Seq(epoch0, nowMs)
    val (jobs, stages) = recorder.map(_.drained()).getOrElse((Nil, Nil))
    Harness.json.writeValueAsString(mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> recorder.isDefined,
      "cores" -> spark.sparkContext.defaultParallelism,
      "attempted" -> attempted, "failed" -> failed,
      "ops" -> ops.map(o => mutable.LinkedHashMap[String, Any](
        "id" -> o.id, "phase" -> o.phase, "kind" -> o.kind, "cycle" -> o.cycle,
        "start_ms" -> o.startMs, "end_ms" -> o.endMs,
        "ok" -> o.ok)),
      "samples" -> samples, "probes" -> probes, "extra" -> extra,
      "jobs" -> jobs.map(j => mutable.LinkedHashMap[String, Any](
        "id" -> j.id, "group" -> j.group, "start_ms" -> j.start, "end_ms" -> j.end)),
      "stages" -> stages.map(s => mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "attempt" -> s.attempt, "job" -> s.job,
        "submit_ms" -> s.submit, "end_ms" -> s.end, "tasks" -> s.tasks,
        "task_busy_ms" -> s.busyMs, "task_wait_ms" -> s.waitMs, "task_gc_ms" -> s.gcMs,
        "input_records" -> s.inRecords, "input_bytes" -> s.inBytes,
        "output_bytes" -> s.outBytes, "shuffle_bytes" -> s.shuffleWrite,
        "shuffle_read_bytes" -> s.shuffleRead, "spill_bytes" -> s.spill))))
  }
}

object Harness {
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** The number of measured cycles for a run of `seconds`, given the
    * seconds one cycle takes on a 4-core host, in whole `period`s (at
    * least one). It depends on the requested seconds only, not on the
    * clock. */
  def measuredCycles(seconds: Int, cycleSeconds: Double, period: Int = 1): Int =
    math.max(1L, math.round(seconds / cycleSeconds / period)).toInt * period
}
