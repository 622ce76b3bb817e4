package graft

import org.apache.spark.sql.SparkSession
import graft.operators.SemanticQueries

/** Shared by the specs that pin the served request path's Spark work:
  * the request bodies and a job counter (a load-independent cost,
  * unlike latency). */
object ServeProbes {

  /** Every `sem*Json` / `cur*Json` request body SemanticQueries
    * declares, by name. */
  lazy val requestBodies: Seq[(String, String)] =
    SemanticQueries.getClass.getMethods.toSeq
      .filter(m => m.getParameterCount == 0 &&
        m.getName.matches("(sem|cur)\\d+Json"))
      .map(m => m.getName -> m.invoke(SemanticQueries).asInstanceOf[String])
      .sortBy(_._1)

  /** Jobs started while `body` runs, counted by a job listener and
    * bracketed by sentinel jobs that flush the asynchronous listener
    * bus (the CuratorsSpec key-ship protocol). */
  def jobsDuring(spark: SparkSession)(body: => Unit): Int = {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    def settle(): Unit = {
      val before = counter.get()
      // a raw RDD count is exactly one job
      spark.sparkContext.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 10000000000L
      while (counter.get() <= before && System.nanoTime() < deadline)
        Thread.sleep(5)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      settle(); counter.set(0)
      body
      settle()
      counter.get() - 1 // minus the closing sentinel
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
