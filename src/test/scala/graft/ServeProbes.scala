package graft

import org.apache.spark.sql.SparkSession
import graft.operators.SemanticQueries

/** Shared by the specs that pin the Spark work of the served request
  * path and of the table mutations: the request bodies, a job counter
  * (a load-independent cost, unlike latency) and a plan recorder. */
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

  /** The physical plan descriptions of the SQL executions `body`
    * starts, collected off the listener bus flushed as [[jobsDuring]]
    * flushes it: what actually ran, not a plan rebuilt beside it. */
  def plansDuring(spark: SparkSession)(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case st: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          plans.add(st.physicalPlanDescription); ()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try { jobsDuring(spark)(body); plans.toArray(Array.empty[String]).toSeq }
    finally spark.sparkContext.removeSparkListener(listener)
  }
}
