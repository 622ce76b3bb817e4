package graft

import org.apache.spark.sql.SparkSession
import graft.tools.RelCorpusGen

/** OFFLINE wide sweep of the relational-corpus differential program —
  * the depth layer above RelCorpusFuzzSpec's CI budget (the same
  * relationship tools/CorpusFuzz has to CorpusFuzzSpec): many more
  * corpora, a DISTINCT seed range (the CI spec uses 1-12; this
  * default sweeps 101-140 with its own request-stream seeds), same
  * battery, same independently-rendered duals. A divergence throws
  * with the full request JSON + dual SQL for shrinking into a named
  * fixture.
  *
  * Usage: sbt 'Test/runMain graft.RelCorpusFuzzMain [nCorpora]' */
object RelCorpusFuzzMain {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(40)
    val cpus = graft.core.Cpus.fromEnv(16)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var total = 0
    (101 until 101 + n).foreach { seed =>
      val dir = graft.core.TempDirs.scratchShared(s"relfuzzwide$seed")
      val profile = RelCorpusGen.writeCorpus(spark, seed, dir)
      println(s"[relfuzz] $profile")
      RelFuzzBattery.registerViews(spark, dir)
      val rnd = new scala.util.Random(77000L + seed)
      total += RelFuzzBattery.runValid(spark, dir, rnd,
        Seq.fill(20)(0) ++ Seq.fill(6)(1) ++ Seq.fill(4)(2) ++
          Seq.fill(4)(3) ++ Seq.fill(8)(4))
      total += RelFuzzBattery.runCubeSql(spark, dir, rnd, 15)
      total += RelFuzzBattery.runPagination(spark, dir, rnd, 8)
      total += RelFuzzBattery.runUnionView(spark, dir, rnd, 5)
      total += RelFuzzBattery.runGrainTz(spark, dir, rnd, 10)
      total += RelFuzzBattery.runTimeShift(spark, dir, rnd, 6)
      total += RelFuzzBattery.runTotalsRowCount(spark, dir, rnd, 5)
      total += RelFuzzBattery.runDrilldown(spark, dir, rnd, 5)
      total += RelFuzzBattery.runDstGrain(spark, dir, rnd, 8)
      total += RelFuzzBattery.runDstTimeShift(spark, dir, rnd, 4)
      total += RelFuzzBattery.runVariantRollup(spark, dir, rnd, 6)
      println(s"[relfuzz] seed=$seed green, cumulative=$total")
    }
    println(s"[relfuzz] ALL GREEN: $total comparisons over $n corpora")
    spark.stop()
  }
}
