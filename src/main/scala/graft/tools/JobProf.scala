package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Per-query job/stage/task accounting (dev tool): run named queries
  * (cold, caches dropped like Bench's timed passes) under a listener
  * that counts jobs, stages and tasks and sums executor task time —
  * wall seconds far above summed-task-seconds/cores means the query is
  * FIXED-OVERHEAD bound (job submit/commit round-trips, planning,
  * driver-side work), not compute bound; a high task count with tiny
  * per-task time means partition-count overhead.
  *
  * Usage: runMain graft.tools.JobProf <query> [query ...] (cores:
  * SPARK_GRAFT_CPUS, default 32; data: QT_DIR)
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val cpus = graft.core.Cpus.fromEnv(32)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir",
        graft.core.TempDirs.scratchShared("spark-local"))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("QT_DIR", "/root/testdata/sf0.1")
    val jobs = new AtomicInteger(); val stages = new AtomicInteger()
    val tasks = new AtomicInteger(); val taskNanos = new AtomicLong()
    val gcMs = new AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        { stages.incrementAndGet(); () }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null) {
          taskNanos.addAndGet(t.taskMetrics.executorRunTime * 1000000L)
          gcMs.addAndGet(t.taskMetrics.jvmGCTime)
          ()
        }
      }
    })
    val qs = graft.SparkEntry.queries
    // one warm pass (codegen) like Bench
    for (name <- args) {
      try qs(name)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    println(f"${"query"}%-28s ${"wall_s"}%7s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s ${"task_s"}%8s ${"gc_s"}%6s")
    for (name <- args; pass <- 1 to 2) {
      graft.operators.Dedup.releaseCaches()
      spark.sharedState.cacheManager.clearCache()
      jobs.set(0); stages.set(0); tasks.set(0); taskNanos.set(0); gcMs.set(0)
      val t0 = System.nanoTime()
      // planning split: building the frame (the query fn itself may
      // run eager work — lifecycle/streaming queries) vs Catalyst
      // analysis+optimization+physical planning vs execution
      val res = try {
        val df = qs(name)(spark, d)
        val tBuilt = System.nanoTime()
        df.queryExecution.executedPlan // force plan
        val tPlanned = System.nanoTime()
        df.count()
        Some((tBuilt, tPlanned))
      } catch { case e: Throwable => println(e); None }
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // let listener drain
      res.foreach { case (tBuilt, tPlanned) =>
        val build = (tBuilt - t0) / 1e9
        val plan = (tPlanned - tBuilt) / 1e9
        println(f"$name%-28s $wall%7.2f ${jobs.get}%5d ${stages.get}%7d ${tasks.get}%6d ${taskNanos.get / 1e9}%8.2f ${gcMs.get / 1e3}%6.2f  build=$build%.2f plan=$plan%.2f")
      }
    }
    spark.stop()
  }
}
