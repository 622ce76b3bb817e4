package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.analyzer.{request, RequestModel}
import graft.operators.SemanticQueries
import graft.planner.Planner
import graft.serving.Serving

/** Job budget of the serializer: the Spark jobs `Serving.jsonEnvelope`
  * runs on each planned `sem*`/`cur*` body at sf0.001, pinned per body.
  * A rise fails; a fall is an improvement to re-pin, with the reason in
  * CHANGES.md. The counts are AQE query stages plus the final collect,
  * so they do not depend on host load the way latency does. */
class EnvelopeJobBudgetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  /** Warm envelope jobs per body, measured at sf0.001 with `local[4]`
    * (52 in total; draining the same frames through `toLocalIterator`
    * ran 88). A body's first run starts up to 3 more one-time jobs, so
    * each body is served once before it is counted. */
  private val budget: Map[String, Int] = Map(
    "cur01Json" -> 3, "cur04Json" -> 3, "sem01Json" -> 3, "sem02Json" -> 6,
    "sem03Json" -> 2, "sem04Json" -> 4, "sem05Json" -> 2, "sem06Json" -> 2,
    "sem07Json" -> 2, "sem08Json" -> 3, "sem09Json" -> 3, "sem10Json" -> 2,
    "sem11Json" -> 2, "sem12Json" -> 2, "sem13Json" -> 4, "sem14Json" -> 3,
    "sem15Json" -> 2, "sem16Json" -> 2, "sem18Json" -> 2)

  /** A fresh plan of `json`, built outside any count. */
  private def planned(json: String): DataFrame =
    request.parse(json)
      .flatMap(RequestModel.from(_, SemanticQueries.registry))
      .flatMap(Planner.plan(_, spark, sf)).fold(e => fail(e), identity).df

  private def jobs(body: => Unit): Int = ServeProbes.jobsDuring(spark)(body)

  test("jsonEnvelope stays within its pinned job budget on every sem*/cur* body") {
    val got = ServeProbes.requestBodies.map { case (name, json) =>
      Serving.jsonEnvelope(planned(json)) // first run: one-time work
      val page = planned(json)
      name -> jobs { Serving.jsonEnvelope(page); () }
    }
    val over = got.filter { case (n, j) => budget.get(n).forall(j > _) }
    assert(over.isEmpty, s"envelope jobs above budget (or unpinned): " +
      over.map { case (n, j) => s"$n $j > ${budget.getOrElse(n, "none")}" })
  }

  test("an unpaginated sorted page is served as a top-k: two jobs fewer " +
      "than draining the range-sorted frame") {
    val sorted = ServeProbes.requestBodies.flatMap { case (name, json) =>
      val drain = planned(json)
      val drained = jobs { val it = drain.toLocalIterator(); while (it.hasNext) it.next() }
      if (!drain.queryExecution.executedPlan.toString.contains("rangepartitioning")) None
      else {
        val page = planned(json)
        val served = jobs { Serving.jsonEnvelope(page); () }
        // the frame the envelope collects, planned but not run
        val plan = planned(json).limit(Serving.SyncMaxRows + 1)
          .queryExecution.executedPlan.toString
        Some((name, drained, served, plan))
      }
    }
    assert(sorted.size >= 10, s"too few range-sorted bodies: ${sorted.map(_._1)}")
    sorted.foreach { case (name, drained, served, plan) =>
      assert(plan.contains("TakeOrderedAndProject") && !plan.contains("rangepartitioning"),
        s"$name is not planned as a top-k:\n$plan")
      assert(served <= drained - 2, s"$name: $served envelope jobs vs $drained draining")
    }
  }
}
