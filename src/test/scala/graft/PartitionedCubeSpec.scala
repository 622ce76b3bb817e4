package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.semantic.model._
import graft.analyzer.{request, RequestModel}
import graft.planner.Planner

/** Partition-column handling through the SEMANTIC layer (reference
  * PartitionColumn + DayColumn annotation, Column.scala:142-157 +
  * ColumnAnnotation.scala:104): a cube whose fact is a day-partitioned
  * parquet layout; a request's day Between filter must prune the scan
  * to the matching partitions — the layout every 100 TB fact table
  * uses.
  */
class PartitionedCubeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"
  val loc = new java.io.File("target/test-partitioned/orders_by_month").getAbsolutePath

  private def writeOnce(): Unit =
    if (!new java.io.File(loc + "/_SUCCESS").exists()) {
      graft.core.Tables.orders(spark, sf)
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .write.mode("overwrite").partitionBy("o_month").parquet(loc)
    }

  test("day-window request on a partitioned cube prunes the scan") {
    writeOnce()
    val cube = CubeDef(
      name = "orders_partitioned",
      variants = Seq(FactDef(
        name = "orders_by_month",
        table = "ignored",
        dimCols = Seq(
          PubCol("Order Month", "o_month", allowedOps = Set(BetweenOp, EqOp, InOp)),
          PubCol("Order Priority", "o_orderpriority")),
        metrics = Seq(
          PubMetric("Order Count", CountRollup, _ => lit(1)),
          PubMetric("Total Spend", SumRollup,
            df => graft.core.Tables.dec2(df.col("o_totalprice")), _.cast("double"))),
        cost = 1,
        view = Some((s, _) => s.read.parquet(loc)))),
      dims = Nil)
    val json =
      """{"cube": "orders_partitioned",
        | "selectFields": [{"field": "Order Month"}, {"field": "Order Count"}, {"field": "Total Spend"}],
        | "filterExpressions": [{"field": "Order Month", "operator": "between", "from": "1995-03", "to": "1995-05"}]}""".stripMargin
    val planned = (for {
      req <- request.parse(json)
      m <- RequestModel.from(req, Registry(cube))
      p <- Planner.plan(m, spark, sf)
    } yield p.df).toOption.get
    val rows = planned.collect()
    assert(rows.map(_.getString(0)).toSet == Set("1995-03", "1995-04", "1995-05"))
    // the month window must reach the scan as partition filters
    val scan = PlanInspect.scans(planned.queryExecution.executedPlan).head
    assert(scan.partitionFilters.nonEmpty, "no partition filters pushed")
    assert(scan.selectedPartitions.partitionCount == 3,
      s"expected 3 pruned partitions, got ${scan.selectedPartitions.partitionCount}")
    // cross-check values against the unpartitioned source
    val want = graft.core.Tables.orders(spark, sf)
      .filter(date_format(col("o_orderdate"), "yyyy-MM").between("1995-03", "1995-05"))
      .count()
    assert(rows.map(_.getLong(1)).sum == want)
  }

  test("dim-filter join prunes fact partitions at RUNTIME (dynamic partition pruning)") {
    writeOnce()
    import spark.implicits._
    // a calendar dim mapping month → quarter: the request filters the
    // DIM side only, so static pruning can't help — the month set is
    // known only once the (broadcast) dim is built, and Spark must
    // inject it into the fact scan as a dynamic partition filter. At
    // 100 TB this is the difference between scanning 3 months and 10
    // years when the user filters on any dim attribute of time.
    // the dim must be a real datasource scan: over a LocalRelation the
    // quarter filter constant-folds away and DPP has no Filter to lift
    val calLoc = new java.io.File("target/test-partitioned/calendar").getAbsolutePath
    (1 to 12).map(m => (f"1995-$m%02d", s"1995-Q${(m - 1) / 3 + 1}"))
      .toDF("cal_month", "quarter")
      .write.mode("overwrite").parquet(calLoc)
    val cal = spark.read.parquet(calLoc)
    val fact = spark.read.parquet(loc)
    val joined = fact.join(broadcast(cal), col("o_month") === col("cal_month"))
      .filter(col("quarter") === "1995-Q2")
      .groupBy("o_month").agg(count(lit(1)).as("n"))
      .orderBy("o_month")
    val rows = joined.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("1995-04", "1995-05", "1995-06"))
    val scan = PlanInspect.scans(joined.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(_.toString.contains("orders_by_month")))
      .get
    assert(scan.partitionFilters.exists(_.toString.toLowerCase.contains("dynamicpruning")),
      s"no dynamic pruning filter on the fact scan:\n${scan.partitionFilters}")
    // the runtime-pruned scan must touch exactly the quarter's
    // partitions — selectedPartitions only sees STATIC filters, so
    // read the scan's post-execution metric instead
    assert(scan.metrics("numPartitions").value == 3,
      s"expected 3 runtime-pruned partitions, got ${scan.metrics("numPartitions").value} " +
        s"of ${scan.selectedPartitions.partitionCount} statically selected")
  }

  test("Tables.tbl over a partitioned directory keeps its partition columns") {
    // tbl declares a memoized schema on every read after the first; a
    // partitioned layout must come back with the same columns, types
    // (an int partition column stays int) and order as plain inference
    val tmp = graft.core.TempDirs.scratch("tbl-part")
    val path = s"$tmp/orders_pm.parquet"
    graft.core.Tables.orders(spark, sf)
      .filter(year(col("o_orderdate")) < 1997)
      .withColumn("o_year", year(col("o_orderdate")))
      .withColumn("o_month", date_format(col("o_orderdate"), "MM"))
      .write.partitionBy("o_year", "o_month").parquet(path)
    val inferred = spark.read.parquet(path)
    val first = graft.core.Tables.tbl(spark, tmp, "orders_pm")
    val second = graft.core.Tables.tbl(spark, tmp, "orders_pm")
    assert(first.schema == inferred.schema && second.schema == inferred.schema,
      s"${second.schema.treeString} vs ${inferred.schema.treeString}")
    assert(inferred.schema.fieldNames.takeRight(2).toSeq == Seq("o_year", "o_month"))
    assert(second.count() == inferred.count())
    assert(second.filter(col("o_year") === 1995).count() ==
      inferred.filter(col("o_year") === 1995).count())
  }

  test("Tables.tableRows counts a partitioned directory's nested files") {
    // a partitioned `<table>.parquet/` keeps its data under `col=val/`
    // subdirectories: a top-level-only listing read 0 rows there,
    // and that 0 reached the key-ship's keyRows
    val tmp = graft.core.TempDirs.scratch("rows-part")
    val path = s"$tmp/orders_py.parquet"
    graft.core.Tables.orders(spark, sf)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.partitionBy("o_year").parquet(path)
    val n = spark.read.parquet(path).count()
    assert(n > 0)
    assert(graft.core.Tables.tableRows(spark, tmp, "orders_py") == n)
    // a flat table counts as before
    graft.core.Tables.orders(spark, sf).write.parquet(s"$tmp/orders_flat.parquet")
    assert(graft.core.Tables.tableRows(spark, tmp, "orders_flat") == n)
  }
}
