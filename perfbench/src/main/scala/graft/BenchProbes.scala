package graft

import org.apache.spark.sql.SparkSession

/** The host-weather probes of [[Bench]]: the same fixed CPU loop and the
  * same fixed parquet scan, timed once each (Bench takes the min of 3
  * after a warm pass). Run at the end of a benchmark run, when the scan
  * path is already warm. */
object BenchProbes {
  def cpuSeconds(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 400000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) System.err.println("calibration sentinel")
    (System.nanoTime() - t0) / 1e9
  }

  def scanSeconds(spark: SparkSession, warmDir: String): Double = {
    val t0 = System.nanoTime()
    val docs = spark.read.parquet(s"$warmDir/documents.parquet")
    docs.selectExpr("bit_xor(xxhash64(doc_id, text)) s").collect()
    val ev = graft.core.Tables.events(spark, warmDir)
    ev.selectExpr("bit_xor(xxhash64(event_id, user_id, event_type, value)) s").collect()
    (System.nanoTime() - t0) / 1e9
  }
}
