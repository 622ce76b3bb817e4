package graft.tools

import org.apache.spark.sql.SparkSession

/** DRIVER-HEAP CEILING PROBE (r16 verdict task #6): run the full
  * query battery under a deliberately small JVM heap
  * (`SPARK_DRIVER_MEM=2g sbt "runMain graft.tools.HeapProbe"`) to
  * prove empirically that no query accumulates driver-side state —
  * the "100× scale-up, no driver bottleneck" claim made measurable.
  * In local mode the executors share the capped JVM, so passing at
  * 2 GiB bounds driver state AND per-task working memory together;
  * a query that collected its input would OOM here long before the
  * assertion could lie.
  *
  * Prints one JSON line: peak used heap (sampled after each query,
  * GC-settled every 10), per-family peaks, and any failures.
  */
object HeapProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = graft.core.Cpus.fromEnv(8)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rt = Runtime.getRuntime
    def usedMb: Long = (rt.totalMemory() - rt.freeMemory()) >> 20
    var peak = 0L
    val famPeak = scala.collection.mutable.Map.empty[String, Long]
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val qs = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    qs.zipWithIndex.foreach { case ((name, fn), i) =>
      try { fn(spark, sfDir).count(); () }
      catch { case e: Throwable =>
        failed += s"$name: ${e.getClass.getSimpleName}" }
      if (i % 10 == 9) System.gc()
      val u = usedMb
      peak = math.max(peak, u)
      val fam = name.takeWhile(!_.isDigit)
      famPeak(fam) = math.max(famPeak.getOrElse(fam, 0L), u)
      graft.operators.Dedup.releaseCaches()
      spark.sharedState.cacheManager.clearCache()
    }
    val fams = famPeak.toSeq.sorted
      .map { case (f, m) => s""""$f":$m""" }.mkString(",")
    println(s"""{"probe":"heap","xmxMB":${rt.maxMemory() >> 20},""" +
      s""""queries":${qs.size},"peakUsedMB":$peak,""" +
      s""""familyPeakMB":{$fams},""" +
      s""""failures":[${failed.map("\"" + _ + "\"").mkString(",")}]}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
