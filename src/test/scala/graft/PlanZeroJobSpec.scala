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

  private val requestJsons = ServeProbes.requestBodies

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
      name -> ServeProbes.jobsDuring(spark) { plan(req); () }
    }
    assert(jobs.forall(_._2 == 0),
      s"second Planner.plan ran Spark jobs: ${jobs.filter(_._2 != 0)}")
  }

  test("the SQL front door plans with zero Spark jobs the second time") {
    def toReq() = SqlFrontDoor.toRequest(spark, SemanticQueries.sql02Text)
      .fold(e => fail(e), identity)
    plan(toReq())
    val n = ServeProbes.jobsDuring(spark) { plan(toReq()); () }
    assert(n == 0, s"second SqlFrontDoor + Planner.plan ran $n Spark jobs")
  }
}
