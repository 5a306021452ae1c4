package perfbench

import org.apache.spark.sql.SparkSession

/** Runs one workload in one local Spark session and writes the raw report
  * to `<root>/raw.json`; `run.py` turns it into the benchmark's result.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <root> <cores>
  *
  * The system property `perfbench.digests` names the pinned pipeline
  * result digests (lines of `<query> <sha-256>`); `pin.py` runs without
  * it to produce them.
  */
object Main {
  val Names = Seq("serve_read", "write_mix", "pipeline")

  def main(args: Array[String]): Unit = {
    require(args.length == 6, s"usage: Main <workload> <seed> <seconds> <trace> <root> <cores>")
    val Array(workload, seedArg, secondsArg, traceArg, root, coresArg) = args
    require(Names.contains(workload), s"unknown workload $workload")
    val seconds = secondsArg.toInt
    val cores = coresArg.toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val recorder = if (traceArg == "1") Some(new Recorder) else None
      recorder.foreach(spark.sparkContext.addSparkListener)
      val h = new Harness(spark, workload, seedArg.toLong, recorder)
      h.calibrate()
      val t0 = h.nowMs
      workload match {
        case "serve_read" => Workloads.ServeRead(h, root, seconds)
        case "write_mix" => Workloads.WriteMix(h, root, seconds)
        case "pipeline" =>
          Workloads.Pipeline(h, root, seconds, System.getProperty("java.io.tmpdir"),
            pinnedDigests())
      }
      h.extra("workload_ms") = Seq(t0, h.nowMs)
      h.calibrate()
      java.nio.file.Files.write(java.nio.file.Paths.get(root, "raw.json"),
        h.report().getBytes("UTF-8"))
    } finally spark.stop()
  }

  private def pinnedDigests(): Option[Map[String, String]] =
    Option(System.getProperty("perfbench.digests")).map { path =>
      scala.io.Source.fromFile(path, "UTF-8").getLines().map(_.trim).filter(_.nonEmpty)
        .map { l => val Array(n, d) = l.split(' '); n -> d }.toMap
    }
}
