package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *   Main --workload <name> --seed <n> --seconds <n> --trace <0|1>
  *        --data <dir> --warm <dir> --work <dir> --out <file>
  *
  * Writes the run's result object to `--out` (run.py adds the pipeline
  * output check and prints the final line). Exits non-zero on error. */
object Main {
  val Workloads: Map[String, (Ctx, Setup) => Outcome] = Map(
    "serve-report" -> ServeReport.run,
    "pipeline-batch" -> PipelineBatch.run,
    "ingest-cdc" -> IngestCdc.run)

  private def loadAvg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ").take(3).mkString(" ")
    catch { case _: Exception => "" }

  /** Jiffies of the host CPU counters: (steal, total). */
  private def cpuTimes(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").tail.map(_.toLong)
      (f(7), f.sum)
    } catch { case _: Exception => (0L, 1L) }

  private def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024
    } catch { case _: Exception => Double.NaN }

  def main(args: Array[String]): Unit = {
    val code =
      try { runOnce(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def runOnce(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val run = Workloads.getOrElse(workload, sys.error(
      s"unknown workload '$workload' (have ${Workloads.keys.toSeq.sorted.mkString(", ")})"))
    val trace = opt("trace") == "1"
    val work = new File(opt("work")).getAbsoluteFile
    work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val loadBefore = loadAvg()
    val cpuBefore = cpuTimes()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "tmp").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val ctx = Ctx(spark, opt("data"), opt("warm"), work.getPath, opt("seed").toLong,
      opt("seconds").toInt, trace, cores, new Tracer(trace),
      if (trace) Some(new JobListener) else None)
    val setup = new Setup
    val out = run(ctx, setup)
    val started = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val e2e = out.e2e ++ Map("setup_s" -> (setup.readyAt - started) / 1000.0,
      "peak_rss_mb" -> peakRssMb())
    val cpuProbe = graft.BenchProbes.cpuSeconds()
    val scanProbe = graft.BenchProbes.scanSeconds(spark, opt("warm"))
    val metrics =
      if (!trace) Metrics.EndToEnd.map { case (k, u) => k -> (e2e(k), u) }
      else Layers.Names.map { case (k, u) => k -> (out.layers.getOrElse(k, 0.0), u) }
    if (trace) {
      ctx.tracer.write(new File(work, "spans.jsonl"))
      ctx.listener.foreach(_.write(new File(work, "jobs.jsonl")))
    }
    val host = Json.obj(Seq(
      "nproc" -> cores.toString,
      "loadavg_before" -> Json.str(loadBefore),
      "loadavg_after" -> Json.str(loadAvg()),
      "cpu_steal_pct" -> Json.num({
        val (st, tot) = cpuTimes()
        100.0 * (st - cpuBefore._1) / math.max(1L, tot - cpuBefore._2)
      }),
      "calib_cpu_s" -> Json.num(cpuProbe),
      "calib_scan_s" -> Json.num(scanProbe)))
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "correct" -> out.correct.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "named" -> Json.obj((out.named ++ Layers.IngestNames.flatMap { case (k, u) =>
        out.layers.get(k).map(v => (k, v, u)) }).map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "e2e_traced" -> (if (trace) Json.obj(out.e2e.toSeq.map { case (k, v) => k -> Json.num(v) })
                       else "null"),
      "passes" -> out.passes.map { case (tag, ms) =>
        Json.obj(Seq("tag" -> Json.str(tag), "ms" -> Json.num(ms))) }.mkString("[", ",", "]"),
      "wall_s" -> Json.num(out.wall),
      "host" -> host,
      "errors" -> out.errors.map(Json.str).mkString("[", ",", "]")))
    Files.writeString(Paths.get(opt("out")), result + "\n")
    spark.stop()
  }
}
