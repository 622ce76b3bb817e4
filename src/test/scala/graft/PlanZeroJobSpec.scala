package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.analyzer.{request, RequestModel, SqlFrontDoor}
import graft.operators.SemanticQueries
import graft.planner.Planner

/** Planning a served request launches no Spark job once its source
  * tables have been read: `Tables.tbl` declares a memoized parquet
  * schema instead of inferring it (a one-task job per read), so turning
  * a request into a plan is metadata work only, as in maha's registry.
  * The job count is load-independent, unlike plan latency. */
class PlanZeroJobSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  /** Every `sem*Json` / `cur*Json` request body SemanticQueries declares. */
  private val requestJsons: Seq[(String, String)] =
    SemanticQueries.getClass.getMethods.toSeq
      .filter(m => m.getParameterCount == 0 &&
        m.getName.matches("(sem|cur)\\d+Json"))
      .map(m => m.getName -> m.invoke(SemanticQueries).asInstanceOf[String])
      .sortBy(_._1)

  /** Jobs started while `body` runs, counted by a job listener and
    * bracketed by sentinel jobs that flush the asynchronous listener
    * bus (the CuratorsSpec key-ship protocol). */
  private def jobsDuring(body: => Unit): Int = {
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

  private def plan(req: request.ReportingRequest): Planner.Planned =
    RequestModel.from(req, SemanticQueries.registry)
      .flatMap(Planner.plan(_, spark, sf)).fold(e => fail(e), identity)

  test("every sem*/cur* request plans with zero Spark jobs the second time") {
    assert(requestJsons.map(_._1).count(_.startsWith("sem")) >= 17 &&
      requestJsons.map(_._1).count(_.startsWith("cur")) >= 2,
      s"request bodies not found by name: ${requestJsons.map(_._1)}")
    val jobs = requestJsons.map { case (name, json) =>
      val req = request.parse(json).fold(e => fail(s"$name: $e"), identity)
      plan(req) // first plan: infers each source table's schema
      name -> jobsDuring { plan(req); () }
    }
    assert(jobs.forall(_._2 == 0),
      s"second Planner.plan ran Spark jobs: ${jobs.filter(_._2 != 0)}")
  }

  test("the SQL front door plans with zero Spark jobs the second time") {
    def toReq() = SqlFrontDoor.toRequest(spark, SemanticQueries.sql02Text)
      .fold(e => fail(e), identity)
    plan(toReq())
    val n = jobsDuring { plan(toReq()); () }
    assert(n == 0, s"second SqlFrontDoor + Planner.plan ran $n Spark jobs")
  }
}
