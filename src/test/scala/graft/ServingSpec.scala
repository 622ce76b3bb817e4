package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s.jackson.JsonMethods
import org.json4s._
import graft.serving.Serving
import graft.core.Tables

/** Serving-layer round trips (JsonRowList / CSVRowList /
  * ResultSetTransformer analogues) and day-partitioned-layout partition
  * pruning — the physical layout the engine expects fact tables to use
  * at 100 TB (DayColumn annotation → partition column, SURVEY §4.1).
  */
class ServingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  test("json envelope carries fields, rows and rowCount for a page") {
    val page = operators.Relational.q05(spark, sf)
    val env = JsonMethods.parse(Serving.jsonEnvelope(page))
    val JArray(fields) = (env \ "fields"): @unchecked
    assert(fields.map(f => (f \ "fieldName").values) ==
      List("l_orderkey", "revenue", "total_qty"))
    val JInt(n) = (env \ "rowCount"): @unchecked
    assert(n == 10)
    val JArray(rows) = (env \ "rows"): @unchecked
    assert(rows.size == 10)
    // rows are positional arrays aligned with fields
    val JArray(first) = rows.head: @unchecked
    assert(first.size == 3 && first(1).isInstanceOf[JDouble])
  }

  test("json envelope serializes a page of exactly cap rows in full and refuses cap + 1") {
    val page = spark.range(0, 7).toDF("id").orderBy(col("id").desc)
    val env = JsonMethods.parse(Serving.jsonEnvelope(page, cap = 7))
    val JInt(n) = (env \ "rowCount"): @unchecked
    val JArray(rows) = (env \ "rows"): @unchecked
    assert(n == 7 && rows.size == 7)
    assert(rows.map { case JArray(List(JInt(v))) => v.toInt; case o => fail(s"$o") } ==
      (6 to 0 by -1).toList, "the top-k keeps the requested order")
    val over = intercept[IllegalArgumentException](Serving.jsonEnvelope(page, cap = 6))
    assert(over.getMessage.contains("6-row"), over.getMessage)
  }

  test("json envelope emits explicit nulls positionally") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[String], Option.empty[Double]))
      .toDF("k", "s", "v")
    val env = JsonMethods.parse(Serving.jsonEnvelope(df))
    val JArray(rows) = (env \ "rows"): @unchecked
    val JArray(first) = rows.head: @unchecked
    assert(first.size == 3 && first(1) == JNull && first(2) == JNull)
  }

  test("csv sink round-trips a result") {
    val out = "target/test-serving/csv"
    val df = operators.Relational.q01(spark, sf)
    Serving.writeCsv(df, out)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() == df.count())
    assert(back.columns.toSeq == df.columns.toSeq)
  }

  test("json sink round-trips a result") {
    val out = "target/test-serving/json"
    val df = operators.Relational.q06(spark, sf)
    Serving.writeJson(df, out)
    assert(spark.read.json(out).count() == df.count())
  }

  test("date and scale transformers render grains and fixed decimals") {
    val df = Tables.orders(spark, sf).limit(1)
      .select(
        Serving.dateTransform(col("o_orderdate"), "month").as("m"),
        Serving.scaleTransform(lit(1.23456), 2).as("d"))
    val r = df.collect()(0)
    assert(r.getString(0).matches("\\d{4}-\\d{2}"))
    assert(r.getDecimal(1).toString == "1.23")
  }

  test("day-partitioned layout prunes partitions from the scan") {
    val out = "target/test-serving/orders_by_month"
    if (!new java.io.File(out + "/_SUCCESS").exists()) {
      Tables.orders(spark, sf)
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .write.mode("overwrite").partitionBy("o_month").parquet(out)
    }
    val pruned = spark.read.parquet(out)
      .filter(col("o_month") === "1995-03")
      .agg(count(lit(1)))
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_month"),
      s"no partition filter:\n$plan")
    // the scan must touch only the one matching partition
    val scanned = PlanInspect.scans(pruned.queryExecution.executedPlan)
      .map(_.selectedPartitions.partitionCount)
    assert(scanned.nonEmpty && scanned.forall(_ == 1),
      s"pruning left $scanned partitions")
  }

  test("request-log envelope round-trips through the Kafka producer path") {
    import graft.serving.RequestLog
    import graft.operators.SemanticQueries
    val producer = new RequestLog.MockProducer
    val writer = new RequestLog.ProducerWriter(producer, "maha-request-log")
    val prev = SemanticQueries.requestLogWriter
    SemanticQueries.requestLogWriter = writer
    try {
      // a real request through the logged run path publishes its
      // plan-time envelope via the producer transport
      SemanticQueries.runLogged(SemanticQueries.sem01Json, "kafka-req-1")(spark, sf)
      writer.close()
    } finally SemanticQueries.requestLogWriter = prev
    val (topic, key, value) = producer.sent.head
    assert(topic == "maha-request-log" && key == "kafka-req-1")
    // the message value must parse back to the same envelope fields a
    // downstream request-log consumer relies on
    val env = JsonMethods.parse(new String(value, "UTF-8"))
    implicit val fmts: Formats = DefaultFormats
    assert((env \ "requestId").extract[String] == "kafka-req-1")
    assert((env \ "cube").extract[String] == "order_stats")
    assert((env \ "status").extract[Int] == 200)
    assert((env \ "drivingTable").extract[String].nonEmpty)
    assert((env \ "requestEndTime").extract[Long] >=
      (env \ "requestStartTime").extract[Long])
  }
}
