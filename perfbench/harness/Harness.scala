package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** JVM side of the benchmark: runs one workload of a generated plan and
  * writes `result.json` (metrics, op counts, the outputs to check) into
  * the run directory. `run.py` builds the plan, starts this JVM and
  * checks the outputs against the DuckDB oracles.
  *
  * Usage: Harness <plan.json> <run_dir> <seconds> <trace 0|1> <cores>
  */
object Harness {

  /** Wall-clock start of this JVM, the zero of `setup_s`. */
  lazy val processStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def session(cores: Int, runDir: String): SparkSession = {
    val s = GraftSession.tuned(SparkSession.builder().master(s"local[$cores]"), cores)
      .appName("perfbench")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** High-water mark of this process's resident set, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    processStartMs
    val Array(planPath, runDir, secondsArg, traceArg, coresArg) = args
    val plan = Json.read(planPath)
    val cfg = RunConfig(plan, runDir, secondsArg.toDouble, traceArg == "1",
      coresArg.toInt)
    val result = plan("workload") match {
      case "curate_batch" => Batch.curate(cfg)
      case "report_mix" => Batch.report(cfg)
      case "stream_persist" => StreamPersist.run(cfg)
      case w => sys.error(s"unknown workload $w")
    }
    val out = result + ("peak_rss_mb" -> peakRssMb())
    val w = new java.io.PrintWriter(s"$runDir/result.json", "UTF-8")
    try w.println(Json.write(out)) finally w.close()
    SparkSession.getActiveSession.foreach(_.stop())
    // state-store and JDBC threads must not keep the JVM alive
    sys.exit(0)
  }
}

final case class RunConfig(plan: Map[String, Any], runDir: String,
                           seconds: Double, trace: Boolean, cores: Int) {
  def data: String = plan("data").toString
  def strings(key: String): Seq[String] =
    plan(key).asInstanceOf[Seq[Any]].map(_.toString)
}
