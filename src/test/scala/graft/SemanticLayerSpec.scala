package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.analyzer.{request, RequestModel}
import graft.operators.SemanticQueries

/** Analyzer + planner decision tests, mirroring the reference's
  * RequestModelTest / DefaultQueryPipelineFactoryTest coverage:
  * alias resolution errors, filter-operation legality, join-type
  * matrix, variant (rollup) selection, join elimination, agg staging.
  */
class SemanticLayerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  private def model(json: String) =
    request.parse(json).flatMap(RequestModel.from(_, SemanticQueries.registry))

  test("request parser rejects malformed operator") {
    val r = request.parse(
      """{"cube": "order_stats", "selectFields": [{"field": "Order Priority"}],
        | "filterExpressions": [{"field": "Order Priority", "operator": "frobnicate", "value": "x"}]}""".stripMargin)
    assert(r.isLeft && r.swap.toOption.get.contains("unknown filter operator"))
  }

  test("unknown field is rejected with cube name in the error") {
    val r = model(
      """{"cube": "order_stats", "selectFields": [{"field": "No Such Field"}]}""")
    assert(r.isLeft && r.swap.toOption.get.contains("No Such Field"))
  }

  test("filter-operation legality: Order Date allows between but not like") {
    val bad = model(
      """{"cube": "order_stats", "selectFields": [{"field": "Order Priority"}],
        | "filterExpressions": [{"field": "Order Date", "operator": "like", "value": "1995%"}]}""".stripMargin)
    assert(bad.isLeft && bad.swap.toOption.get.contains("not allowed"))
  }

  test("sortBy must reference a selected field") {
    val r = model(
      """{"cube": "order_stats", "selectFields": [{"field": "Order Priority"}],
        | "sortBy": [{"field": "Total Spend", "order": "Desc"}]}""".stripMargin)
    assert(r.isLeft && r.swap.toOption.get.contains("not in selectFields"))
  }

  test("join-type matrix: fact-driven with dim filter → inner") {
    val m = model(SemanticQueries.sem02Json).toOption.get
    assert(m.joinKinds.values.toSet == Set(RequestModel.InnerJoin))
    assert(m.joinDims == Seq("customer", "nation", "region"))
  }

  test("join-type matrix: dim-driven → right outer on the driving dim") {
    val m = model(SemanticQueries.sem04Json).toOption.get
    assert(m.joinKinds("customer") == RequestModel.RightOuterJoin)
  }

  test("join-type matrix: fact-driven without dim filter → left outer") {
    val m = model(
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Customer Name"}, {"field": "Order Count"}]}""".stripMargin)
      .toOption.get
    assert(m.joinKinds.values.toSet == Set(RequestModel.LeftOuterJoin))
  }

  test("join-type matrix: dim-driven snowflake ROJs only the driving dim") {
    // Customer Name is the driving (most granular) dim; nation/region are
    // reachability parents and must be inner-joined — ROJ-ing them would
    // fabricate null-extended rows for nations with no customers
    // (reference RequestModel.scala:180-228).
    val m = model(
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Customer Name"}, {"field": "Region Name"}, {"field": "Order Count"}],
        | "dimensionDriven": true}""".stripMargin).toOption.get
    assert(m.joinKinds("customer") == RequestModel.RightOuterJoin)
    assert(m.joinKinds("nation") == RequestModel.InnerJoin)
    assert(m.joinKinds("region") == RequestModel.InnerJoin)
  }

  test("join-type matrix: dim-driven with metric filter forces inner") {
    val m = model(
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Customer Name"}, {"field": "Order Count"}],
        | "filterExpressions": [{"field": "Order Count", "operator": ">", "value": "3"}],
        | "dimensionDriven": true}""".stripMargin).toOption.get
    assert(m.joinKinds("customer") == RequestModel.InnerJoin)
  }

  test("snowflake parent expansion: region pulls nation and customer") {
    val m = model(
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Region Name"}, {"field": "Order Count"}]}""".stripMargin)
      .toOption.get
    assert(m.joinDims == Seq("customer", "nation", "region"))
  }

  test("planner picks the cheap rollup when it covers the request") {
    val p = SemanticQueries.planFor(SemanticQueries.sem01Json, spark, sf).toOption.get
    assert(p.factName == "orders_by_priority_day_rollup")
  }

  test("planner falls back to base when rollup lacks a column") {
    val p = SemanticQueries.planFor(SemanticQueries.sem03Json, spark, sf).toOption.get
    assert(p.factName == "orders_base")
  }

  test("rollup is disqualified when dims must be joined") {
    val p = SemanticQueries.planFor(SemanticQueries.sem02Json, spark, sf).toOption.get
    assert(p.factName == "orders_base")
    assert(p.twoStage, "re-aggregable metrics + dim joins → agg-before-join")
  }

  test("join elimination: FK-only request produces no join in the plan") {
    val p = SemanticQueries.planFor(SemanticQueries.sem05Json, spark, sf).toOption.get
    val physical = p.df.queryExecution.executedPlan.toString
    assert(!physical.toLowerCase.contains("join"), s"unexpected join:\n$physical")
  }

  test("small dims are broadcast in the snowflake join") {
    val p = SemanticQueries.planFor(SemanticQueries.sem02Json, spark, sf).toOption.get
    val physical = p.df.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin"), s"no broadcast join:\n$physical")
  }

  test("metric filter on unselected metric is rejected") {
    val r = model(
      """{"cube": "order_stats", "selectFields": [{"field": "Order Priority"}],
        | "filterExpressions": [{"field": "Total Spend", "operator": ">", "value": "10"}]}""".stripMargin)
    assert(r.isLeft && r.swap.toOption.get.contains("unselected"))
  }

  test("maxDaysWindow: missing day filter and oversize window rejected") {
    import graft.semantic.model.Registry
    val capped = Registry(SemanticQueries.orderCube.copy(maxDaysWindow = Some(31)))
    def m(json: String) = request.parse(json).flatMap(RequestModel.from(_, capped))
    val noDay = m(
      """{"cube": "order_stats", "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}]}""")
    assert(noDay.isLeft && noDay.swap.toOption.get.contains("maxDaysWindow"))
    val tooWide = m(
      """{"cube": "order_stats", "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}],
        | "filterExpressions": [{"field": "Order Date", "operator": "between", "from": "1995-01-01", "to": "1995-03-31"}]}""".stripMargin)
    assert(tooWide.isLeft && tooWide.swap.toOption.get.contains("exceeds maxDaysWindow"))
    val ok = m(
      """{"cube": "order_stats", "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}],
        | "filterExpressions": [{"field": "Order Date", "operator": "between", "from": "1995-01-01", "to": "1995-01-31"}]}""".stripMargin)
    assert(ok.isRight)
  }

  test("non-unique static mapping filter becomes an IN over storage values") {
    import graft.semantic.model._
    import org.apache.spark.sql.functions._
    // O and P both display as 'Active': filtering on Active must match both
    val mapping = StaticMapping(
      Map("O" -> "Active", "P" -> "Active", "F" -> "Done"), "Unknown")
    val cube = SemanticQueries.orderCube.copy(variants =
      Seq(SemanticQueries.orderCube.base.copy(dimCols =
        SemanticQueries.orderCube.base.dimCols.map {
          case pc if pc.alias == "Order Status" =>
            pc.copy(staticMapping = Some(mapping))
          case pc => pc
        })))
    val reg = Registry(cube)
    val json =
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Order Status"}, {"field": "Order Count"}],
        | "filterExpressions": [{"field": "Order Status", "operator": "in", "values": ["Active"]}]}""".stripMargin
    val planned = for {
      req <- request.parse(json)
      m <- RequestModel.from(req, reg)
      p <- graft.planner.Planner.plan(m, spark, sf)
    } yield p.df
    val got = planned.toOption.get.agg(sum(col("Order Count"))).collect()(0).getLong(0)
    val want = graft.core.Tables.orders(spark, sf)
      .filter(col("o_orderstatus").isin("O", "P")).count()
    assert(got == want)
  }

  test("default display filter also matches storage values mapped to the default") {
    import graft.semantic.model._
    import org.apache.spark.sql.functions._
    // 'P' is explicitly mapped to the default display 'Other'; filtering
    // on 'Other' must match BOTH unmapped storage values and 'P'
    val mapping = StaticMapping(Map("O" -> "Open", "P" -> "Other"), "Other")
    val cube = SemanticQueries.orderCube.copy(variants =
      Seq(SemanticQueries.orderCube.base.copy(dimCols =
        SemanticQueries.orderCube.base.dimCols.map {
          case pc if pc.alias == "Order Status" =>
            pc.copy(staticMapping = Some(mapping))
          case pc => pc
        })))
    val json =
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Order Status"}, {"field": "Order Count"}],
        | "filterExpressions": [{"field": "Order Status", "operator": "=", "value": "Other"}]}""".stripMargin
    val planned = for {
      req <- request.parse(json)
      m <- RequestModel.from(req, Registry(cube))
      p <- graft.planner.Planner.plan(m, spark, sf)
    } yield p.df
    val got = planned.toOption.get.agg(sum(col("Order Count"))).collect()(0).getLong(0)
    val want = graft.core.Tables.orders(spark, sf)
      .filter(col("o_orderstatus") =!= "O").count() // P and F both display 'Other'
    assert(got == want)
  }

  test("unknown display value in a static-mapping filter errors loudly") {
    val bad =
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Order Status"}, {"field": "Order Count"}],
        | "filterExpressions": [{"field": "Order Status", "operator": "=", "value": "Bogus"}]}""".stripMargin
    val ex = intercept[IllegalArgumentException] {
      SemanticQueries.run(bad)(spark, sf).collect()
    }
    assert(ex.getMessage.contains("Bogus"))
  }

  test("filter trees: or with one child and mixed metric/dim are rejected") {
    val oneChild = request.parse(
      """{"cube": "order_stats", "selectFields": [{"field": "Order Priority"}],
        | "filterExpressions": [{"operator": "or", "filterExpressions": [
        |   {"field": "Order Priority", "operator": "=", "value": "1-URGENT"}]}]}""".stripMargin)
    assert(oneChild.isLeft && oneChild.swap.toOption.get.contains(">= 2"))
    val mixed = model(
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}],
        | "filterExpressions": [{"operator": "or", "filterExpressions": [
        |   {"field": "Order Priority", "operator": "=", "value": "1-URGENT"},
        |   {"field": "Order Count", "operator": ">", "value": "3"}]}]}""".stripMargin)
    assert(mixed.isLeft && mixed.swap.toOption.get.contains("mixes"))
  }

  test("outer filter on an unselected field is rejected") {
    val r = model(
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}],
        | "filterExpressions": [{"operator": "outer", "filter":
        |   {"field": "Order Status", "operator": "=", "value": "Open"}}]}""".stripMargin)
    assert(r.isLeft && r.swap.toOption.get.contains("outer filter"))
  }

  test("mixed or-tree disables agg-before-join (needs fact cols post-join)") {
    val p = SemanticQueries.planFor(SemanticQueries.sem09Json, spark, sf).toOption.get
    assert(!p.twoStage)
  }

  test("maxRowsSync guard: unpaginated and oversize requests rejected") {
    import graft.semantic.model.Registry
    val capped = Registry(SemanticQueries.orderCube.copy(maxRowsSync = Some(100)))
    def m(json: String) = request.parse(json).flatMap(RequestModel.from(_, capped))
    val unpaged = m(
      """{"cube": "order_stats", "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}]}""")
    assert(unpaged.isLeft && unpaged.swap.toOption.get.contains("requires pagination"))
    val tooBig = m(
      """{"cube": "order_stats", "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}],
        | "rowsPerPage": 500}""".stripMargin)
    assert(tooBig.isLeft && tooBig.swap.toOption.get.contains("maxRowsSync"))
    val ok = m(
      """{"cube": "order_stats", "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}],
        | "rowsPerPage": 100}""".stripMargin)
    assert(ok.isRight)
  }

  test("schema ACL: restricted column rejected without the right schema") {
    val noSchema = model(
      """{"cube": "user_events", "selectFields": [{"field": "User ID"}, {"field": "Event Count"}]}""")
    assert(noSchema.isLeft && noSchema.swap.toOption.get.contains("restricted"))
    val wrongSchema = model(
      """{"cube": "user_events", "selectFields": [{"field": "User ID"}, {"field": "Event Count"}],
        | "schema": "public"}""".stripMargin)
    assert(wrongSchema.isLeft)
    val ok = model(
      """{"cube": "user_events", "selectFields": [{"field": "User ID"}, {"field": "Event Count"}],
        | "schema": "internal"}""".stripMargin)
    assert(ok.isRight)
  }

  test("timezone: local day filter converts to a UTC half-open range") {
    // 2024-01-05 local (PST, UTC-8) starts at 08:00 UTC; a UTC request
    // on the same dates matches a strictly different event set
    val utc = SemanticQueries.run(SemanticQueries.sem08Json.replace(
      """ "timezone": "America/Los_Angeles"""", """ "timezone": "UTC""""))(spark, sf)
    val la = SemanticQueries.run(SemanticQueries.sem08Json)(spark, sf)
    import org.apache.spark.sql.functions._
    val utcN = utc.agg(sum(col("Event Count"))).collect()(0).getLong(0)
    val laN = la.agg(sum(col("Event Count"))).collect()(0).getLong(0)
    assert(utcN != laN, "UTC and LA windows should select different event sets")
    // LA window = [05T08:00Z, 16T08:00Z)
    val want = graft.core.Tables.events(spark, sf)
      .filter(col("ts") >= lit("2024-01-05 08:00:00") && col("ts") < lit("2024-01-16 08:00:00"))
      .count()
    assert(laN == want)
  }

  test("dim-driven pagination limits the driving dim before the join") {
    val p = SemanticQueries.planFor(SemanticQueries.sem04Json, spark, sf).toOption.get
    assert(p.dimPaged, "sem04 should page the driving dim pre-join")
    assert(p.df.count() == 50)
    // scale shape (r13): the page's keys pre-filter the FACT with a
    // broadcast LEFT-SEMI before the right-outer join — a ROJ can only
    // broadcast its left side, so without the semi the whole fact
    // would shuffle against a rowsPerPage-bounded page
    val phys = p.df.queryExecution.executedPlan.toString
    assert(phys.contains("LeftSemi") && phys.contains("__pagekey"),
      s"paged dim must semi-filter the fact:\n${phys.take(3000)}")
    // a metric sort disables the dim-side page (fact order decides)
    val metricSorted = SemanticQueries.sem04Json.replace(
      """ "rowsPerPage": 50""",
      """ "rowsPerPage": 50, "sortBy": [{"field": "Total Spend", "order": "Desc"}]""")
    val p2 = SemanticQueries.planFor(metricSorted, spark, sf).toOption.get
    assert(!p2.dimPaged)
    assert(p2.df.count() == 50)
  }

  test("SQL front door: BETWEEN merges, IN reverse-maps, limit applies") {
    val req = graft.analyzer.SqlFrontDoor
      .toRequest(spark, SemanticQueries.sql02Text).toOption.get
    assert(req.cube == "order_stats")
    assert(req.rowsPerPage == 3)
    assert(req.filters.exists {
      case request.BetweenFilter("Order Date", "1995-01-01", "1996-12-31") => true
      case _ => false
    })
    assert(req.filters.exists {
      case request.InFilter("Order Status", vs) => vs == Seq("Open", "Fulfilled")
      case _ => false
    })
    assert(req.sortBy == Seq(request.SortBy("Total Spend", descending = true)))
  }

  test("SQL front door: OR trees translate; GROUP BY is rejected") {
    val orReq = graft.analyzer.SqlFrontDoor.toRequest(spark,
      """SELECT `Order Priority`, `Order Count` FROM order_stats
        |WHERE `Order Priority` = '1-URGENT' OR `Order Priority` = '2-HIGH'""".stripMargin)
      .toOption.get
    assert(orReq.filters.exists(_.isInstanceOf[request.OrFilter]))
    val grouped = graft.analyzer.SqlFrontDoor.toRequest(spark,
      "SELECT `Order Priority`, COUNT(*) FROM order_stats GROUP BY `Order Priority`")
    assert(grouped.isLeft)
  }

  test("const column renders as a literal and groups correctly") {
    import graft.semantic.model._
    val cube = SemanticQueries.orderCube.copy(variants =
      Seq(SemanticQueries.orderCube.base.copy(dimCols =
        SemanticQueries.orderCube.base.dimCols :+
          PubCol("Data Source", "__none", allowedOps = Set.empty,
            constVal = Some("graft")))))
    val json =
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Data Source"}, {"field": "Order Priority"}, {"field": "Order Count"}]}""".stripMargin
    val planned = for {
      req <- request.parse(json)
      m <- RequestModel.from(req, Registry(cube))
      p <- graft.planner.Planner.plan(m, spark, sf)
    } yield p.df
    val rows = planned.toOption.get.collect()
    assert(rows.length == 5 && rows.forall(_.getString(0) == "graft"))
  }

  test("passthrough column: selectable verbatim, every filter op rejected") {
    import graft.semantic.model._
    // an opaque payload column (reference PassthroughType,
    // DataType.scala:168-186): rides the raw priority string through
    val cube = SemanticQueries.orderCube.copy(variants =
      Seq(SemanticQueries.orderCube.base.copy(dimCols =
        SemanticQueries.orderCube.base.dimCols :+
          PubCol("Opaque Payload", "o_orderpriority", passthrough = true))))
    val reg = Registry(cube)
    def planOf(json: String) = for {
      req <- request.parse(json)
      m <- RequestModel.from(req, reg)
      p <- graft.planner.Planner.plan(m, spark, sf)
    } yield p.df
    val ok = planOf(
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Opaque Payload"}, {"field": "Order Count"}]}""".stripMargin)
    val rows = ok.fold(e => fail(e), _.collect())
    assert(rows.nonEmpty && rows.forall(!_.isNullAt(0)),
      "passthrough column must carry the physical value verbatim")
    // every operator class is illegal on a passthrough column,
    // whatever allowedOps claims
    for (f <- Seq(
        """{"field": "Opaque Payload", "operator": "=", "value": "x"}""",
        """{"field": "Opaque Payload", "operator": "in", "values": ["x"]}""",
        """{"field": "Opaque Payload", "operator": "like", "value": "%x%"}""",
        """{"field": "Opaque Payload", "operator": "isnull"}""")) {
      val bad = planOf(
        s"""{"cube": "order_stats",
           | "selectFields": [{"field": "Opaque Payload"}, {"field": "Order Count"}],
           | "filterExpressions": [$f]}""".stripMargin)
      assert(bad.isLeft && bad.swap.toOption.get.contains("passthrough"),
        s"filter $f must be rejected: $bad")
    }
    // the marker is incompatible with a static mapping by construction
    intercept[IllegalArgumentException] {
      PubCol("Bad", "x", passthrough = true,
        staticMapping = Some(StaticMapping(Map("a" -> "b"), "a")))
    }
    // introspection must advertise what the analyzer accepts: the
    // /domain field descriptor for a passthrough column carries ZERO
    // filter operators (allowedOps defaults to AllOps, but every
    // filter fails — advertising them would be a lying contract)
    val domainJson = graft.semantic.Domain.domainJson(reg)
    val payloadDesc = domainJson.split("""\{"field":""")
      .find(_.startsWith(""""Opaque Payload"""")).get
    assert(payloadDesc.contains(""""filterable":false""")
      && payloadDesc.contains(""""filterOperations":[]"""),
      s"passthrough field must advertise no filter ops: $payloadDesc")
  }

  test("data refresh hook: served cube picks up changed dim parquet without restart") {
    // druid-lookups refresh-cadence analogue: land new data under the
    // served dir, call Freshness.refresh, and the NEXT request must
    // reflect it — including re-broadcasting a changed dim and
    // rebuilding memoized intermediates derived from the dir
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths}
    val tmp = graft.core.TempDirs.scratch("fresh")
    for (t <- Seq("orders", "customer", "nation", "region", "documents"))
      Files.copy(Paths.get(s"$sf/$t.parquet"), Paths.get(s"$tmp/$t.parquet"))
    val json =
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Region Name"}, {"field": "Order Count"}]}""".stripMargin
    def regions(): Set[String] =
      SemanticQueries.run(json)(spark, tmp).collect().map(_.getString(0)).toSet
    assert(regions().contains("ASIA"))
    val n0 = graft.operators.Dedup.shingled(spark, tmp).count()

    // land new data: every region renamed, one document appended.
    // Staged write + filesystem MOVE, the way an EXTERNAL ingestion
    // job lands files — a same-session Spark write to the final path
    // would fire CacheManager.recacheByPath and mask the staleness
    // the refresh hook exists to fix.
    def rewrite(table: String, mod: org.apache.spark.sql.DataFrame
        => org.apache.spark.sql.DataFrame): Unit = {
      val out = mod(graft.core.Tables.tbl(spark, tmp, table))
      val rows = java.util.Arrays.asList(out.collect(): _*)
      val stage = s"$tmp/_stage_$table"
      spark.createDataFrame(rows, out.schema).write.parquet(stage)
      assert(new java.io.File(s"$tmp/$table.parquet").delete())
      Files.move(Paths.get(stage), Paths.get(s"$tmp/$table.parquet"))
    }
    rewrite("region", _.withColumn("r_name", concat(col("r_name"), lit("_V2"))))
    rewrite("documents", df => {
      val one = df.limit(1).collect()(0)
      val idI = df.schema.fieldIndex("doc_id")
      val txtI = df.schema.fieldIndex("text")
      val extra = org.apache.spark.sql.Row.fromSeq(one.toSeq
        .updated(idI, 987654321L)
        .updated(txtI, "a brand new landed document with plenty of fresh tokens"))
      df.unionByName(spark.createDataFrame(
        java.util.Arrays.asList(extra), df.schema))
    })

    // WITHOUT the hook the memoized shingle frame is stale — this is
    // exactly the lie the refresh exists to prevent
    assert(graft.operators.Dedup.shingled(spark, tmp).count() == n0,
      "precondition: memoized intermediate must be stale before refresh")

    graft.semantic.Freshness.refresh(spark, tmp)
    val after = regions()
    assert(after.exists(_.endsWith("_V2")) && !after.contains("ASIA"),
      s"changed dim not re-broadcast after refresh: $after")
    assert(graft.operators.Dedup.shingled(spark, tmp).count() == n0 + 1,
      "memoized intermediate not rebuilt from the landed data")
  }

  test("schema memo: a file replaced in place WITHOUT refresh is re-inferred") {
    // Tables.tbl declares a memoized parquet schema; the memo key
    // carries the file identity, so a table landed under the same path
    // without calling Freshness.refresh is re-inferred on the next plan
    // (and its footer row count re-read) instead of served stale
    import graft.semantic.model._
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths}
    val tmp = graft.core.TempDirs.scratch("restamp")
    for (t <- Seq("orders", "customer", "nation", "region"))
      Files.copy(Paths.get(s"$sf/$t.parquet"), Paths.get(s"$tmp/$t.parquet"))
    val cube = SemanticQueries.orderCube.copy(dims =
      SemanticQueries.orderCube.dims.map(d =>
        if (d.name == "region") d.copy(cols = d.cols :+ PubCol("Region Note", "r_note"))
        else d))
    val reg = Registry(cube)
    def rows(fields: String*): Either[String, Array[org.apache.spark.sql.Row]] =
      for {
        req <- request.parse(s"""{"cube": "order_stats", "selectFields": [""" +
          (fields :+ "Order Count").map(f => s"""{"field": "$f"}""").mkString(", ") + "]}")
        m <- RequestModel.from(req, reg)
        p <- graft.planner.Planner.plan(m, spark, tmp)
      } yield p.df.collect()
    assert(rows("Region Name").fold(e => fail(e), _.length) == 5)
    val n0 = graft.core.Tables.tableRows(spark, tmp, "region")
    assert(intercept[org.apache.spark.sql.AnalysisException](
      rows("Region Name", "Region Note")).getMessage.contains("r_note"),
      "precondition: the old file has no r_note column")

    // land a replacement as ONE file: staged write, then a rename over
    // the old path, the way an external ingestion job lands it
    val old = graft.core.Tables.tbl(spark, tmp, "region")
    val landed = old
      .withColumn("r_note", concat(col("r_name"), lit("!")))
      .unionByName(old.limit(1)
        .withColumn("r_regionkey", lit(99L).cast(old.schema("r_regionkey").dataType))
        .withColumn("r_note", lit("spare")))
    val stage = s"$tmp/_stage_region"
    spark.createDataFrame(java.util.Arrays.asList(landed.collect(): _*),
      landed.schema).coalesce(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(s"$tmp/region.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)

    val after = rows("Region Name", "Region Note").fold(e => fail(e), identity)
    assert(after.length == 5 && after.forall(_.getString(1).endsWith("!")),
      s"the plan did not see the landed column: ${after.toSeq}")
    assert(graft.core.Tables.tableRows(spark, tmp, "region") == n0 + 1,
      "tableRows served the row count of the replaced file")
  }

  test("schema memo: Freshness.refresh drops the dir's schema entries") {
    import java.nio.file.{Files, Paths}
    val tmp = graft.core.TempDirs.scratch("refresh-drop")
    for (t <- Seq("nation", "region"))
      Files.copy(Paths.get(s"$sf/$t.parquet"), Paths.get(s"$tmp/$t.parquet"))
    graft.core.Tables.nation(spark, tmp)
    graft.core.Tables.region(spark, tmp)
    graft.core.Tables.region(spark, tmp) // a hit: no second entry
    assert(graft.semantic.Freshness.refresh(spark, tmp) == 2,
      "refresh must drop exactly the two schema entries keyed on the dir")
    assert(graft.semantic.Freshness.refresh(spark, tmp) == 0)
    // a sibling dir's entries survive a refresh of this one
    graft.core.Tables.region(spark, tmp)
    assert(graft.semantic.Freshness.refresh(spark, tmp + "x") == 0)
    assert(graft.semantic.Freshness.refresh(spark, tmp) == 1)
  }

  test("schema memo: a conf that changes inference is part of the key") {
    // a naive (isAdjustedToUTC=false) µs timestamp column in a file
    // written without Spark's schema footer (as the events generator
    // writes them) infers as TIMESTAMP_NTZ or TIMESTAMP by
    // spark.sql.parquet.inferTimestampNTZ.enabled, which rawEvents
    // flips: a schema memoized under one setting must not be declared
    // under the other
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val tmp = graft.core.TempDirs.scratch("ntz")
    val schema = Types.buildMessage()
      .required(INT64).as(LogicalTypeAnnotation.timestampType(false,
        LogicalTypeAnnotation.TimeUnit.MICROS)).named("t")
      .named("ntz")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$tmp/ntz.parquet"))
      .withType(schema).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("t", 1704448800000000L))
    finally w.close()
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val prior = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      assert(graft.core.Tables.tbl(spark, tmp, "ntz").schema("t").dataType ==
        TimestampNTZType)
      spark.conf.set(key, "false")
      assert(graft.core.Tables.tbl(spark, tmp, "ntz").schema("t").dataType ==
        TimestampType)
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("PublicColumn guard rails: required, dependsOn, incompatibleWith, filteringRequired") {
    import graft.semantic.model._
    // the four reference PublicColumn validation knobs (Column.scala
    // :13-44), enforced at request-model time with the reference's
    // error shapes (reference RequestModel.scala:445-457, :532-535,
    // :592-595) — validation only, so no plan/execution needed
    val base = SemanticQueries.orderCube.base
    def regWith(mod: PubCol => PubCol): Registry =
      Registry(SemanticQueries.orderCube.copy(variants =
        Seq(base.copy(dimCols = base.dimCols.map(mod)))))
    def model(reg: Registry, json: String) =
      request.parse(json).flatMap(RequestModel.from(_, reg))

    // required: every request must SELECT the column
    val reqReg = regWith(c =>
      if (c.alias == "Order Priority") c.copy(required = true) else c)
    val missingReq = model(reqReg,
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Order Status"}, {"field": "Order Count"}]}""".stripMargin)
    assert(missingReq.swap.toOption.get ==
      "Missing required field: cube=order_stats, field=Order Priority")
    assert(model(reqReg,
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}]}""".stripMargin).isRight)

    // dependsOn: selecting the column requires selecting its deps
    val depReg = regWith(c =>
      if (c.alias == "Order Status") c.copy(dependsOn = Set("Order Date")) else c)
    val missingDep = model(depReg,
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Order Status"}, {"field": "Order Count"}]}""".stripMargin)
    assert(missingDep.swap.toOption.get ==
      "Missing dependent column: cube=order_stats, field=Order Status, dependsOnColumn=Order Date")
    assert(model(depReg,
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Order Status"}, {"field": "Order Date"},
        |   {"field": "Order Count"}]}""".stripMargin).isRight)
    // a request NOT selecting the column owes nothing
    assert(model(depReg,
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}]}""".stripMargin).isRight)

    // incompatibleWith: the two columns cannot be co-selected
    val incReg = regWith(c =>
      if (c.alias == "Customer Key") c.copy(incompatibleWith = Set("Order Priority")) else c)
    val clash = model(incReg,
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Customer Key"}, {"field": "Order Priority"},
        |   {"field": "Order Count"}]}""".stripMargin)
    assert(clash.swap.toOption.get ==
      "Incompatible columns found in request, Customer Key is not compatible with [Order Priority]")
    assert(model(incReg,
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Customer Key"}, {"field": "Order Count"}]}""".stripMargin).isRight)

    // filteringRequired: EVERY request against the cube must filter
    // the column (selected or not) — the high-cardinality guard rail
    val filtReg = regWith(c =>
      if (c.alias == "Customer Key") c.copy(filteringRequired = true) else c)
    val noFilter = model(filtReg,
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}]}""".stripMargin)
    assert(noFilter.swap.toOption.get ==
      "Missing required filter: cube=order_stats, field=Customer Key")
    assert(model(filtReg,
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}],
        | "filterExpressions": [
        |   {"field": "Customer Key", "operator": "in", "values": ["1", "2"]}]}""".stripMargin).isRight,
      "a filter on the column satisfies the guard even when it is not selected")

    // an OUTER filter must NOT satisfy the guard: it applies to
    // rendered rows after aggregation, leaving the column's scan
    // unfiltered — the exact thing the knob forbids
    val outerOnly = model(filtReg,
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Customer Key"}, {"field": "Order Count"}],
        | "filterExpressions": [{"operator": "outer", "filter":
        |   {"field": "Customer Key", "operator": "in", "values": ["1"]}}]}""".stripMargin)
    assert(outerOnly.swap.toOption.get ==
      "Missing required filter: cube=order_stats, field=Customer Key",
      s"outer filter must not satisfy filteringRequired: $outerOnly")

    // knobs are CUBE-level: a knob declared on one variant's copy of
    // an alias binds even when another variant re-declares the alias
    // unmarked (a last-wins alias map would silently drop it)
    val twoVariant = Registry(SemanticQueries.orderCube.copy(variants = Seq(
      base.copy(dimCols = base.dimCols.map(c =>
        if (c.alias == "Order Priority") c.copy(required = true) else c)),
      base.copy(name = "orders_unmarked"))))
    val dropped = model(twoVariant,
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Order Status"}, {"field": "Order Count"}]}""".stripMargin)
    assert(dropped.swap.toOption.get ==
      "Missing required field: cube=order_stats, field=Order Priority",
      s"knob on one variant must survive an unmarked re-declaration: $dropped")

    // a passthrough column is unfilterable, so it can never demand one
    intercept[IllegalArgumentException] {
      PubCol("Bad", "x", passthrough = true, filteringRequired = true)
    }
  }

  test("hiddenFromJson: column requestable but absent from introspection") {
    import graft.semantic.model._
    // reference PublicColumn.hiddenFromJson (Column.scala:20): the
    // deprecated-but-still-served field pattern — clients keep
    // sending it, new clients never see it advertised
    val base = SemanticQueries.orderCube.base
    val cube = SemanticQueries.orderCube.copy(variants = Seq(base.copy(
      dimCols = base.dimCols.map(c =>
        if (c.alias == "Customer Key") c.copy(hiddenFromJson = true) else c))))
    val reg = Registry(cube)
    val advertised = graft.semantic.Domain.fields(cube).map(_.field)
    assert(!advertised.contains("Customer Key")
      && advertised.contains("Order Priority"), advertised.toString)
    val described = graft.analyzer.SqlFrontDoor
      .describe("order_stats", reg)(spark).collect().map(_.getString(0))
    assert(!described.contains("Customer Key"), described.mkString(","))
    // still fully requestable AND filterable
    val m = request.parse(
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Customer Key"}, {"field": "Order Count"}],
        | "filterExpressions": [
        |   {"field": "Customer Key", "operator": "in", "values": ["1", "2"]}]}""".stripMargin)
      .flatMap(RequestModel.from(_, reg))
    assert(m.isRight, m.toString)
  }

  test("fallback execution: empty cheap variant falls back to base") {
    import graft.semantic.model._
    import org.apache.spark.sql.functions._
    // a "stale rollup": covers the request but returns no rows
    val emptyRollup = SemanticQueries.orderCube.base.copy(
      name = "stale_rollup", cost = 1,
      view = Some((s, d) => graft.core.Tables.orders(s, d).filter(lit(false))))
    val cube = SemanticQueries.orderCube.copy(variants =
      Seq(emptyRollup, SemanticQueries.orderCube.base))
    val json =
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}]}""".stripMargin
    val planned = for {
      req <- request.parse(json)
      m <- RequestModel.from(req, Registry(cube))
      p <- graft.planner.Planner.planWithFallback(m, spark, sf)
    } yield p
    val p = planned.toOption.get
    assert(p.factName == "orders_base", "should have fallen back")
    assert(p.df.count() == 5)
    // without fallback the cheap empty variant is (correctly) chosen
    val direct = (for {
      req <- request.parse(json)
      m <- RequestModel.from(req, Registry(cube))
      p <- graft.planner.Planner.plan(m, spark, sf)
    } yield p).toOption.get
    assert(direct.factName == "stale_rollup" && direct.df.count() == 0)
  }

  test("request-aware cost: cheapest variant flips with the window width") {
    import graft.semantic.model._
    // daily base: scanned rows grow with the window; lifetime rollup:
    // pre-aggregated across time, window-independent (reference
    // CostEstimator.scala:25-60 — rows = defaultRowCount × (numDays+1))
    val base = SemanticQueries.orderCube.base.copy(
      costModel = Some(CostModel(rowsPerDay = 1000)))
    val lifetime = SemanticQueries.orderCube.base.copy(
      name = "orders_lifetime_rollup",
      costModel = Some(CostModel(rowsPerDay = 0, fixedRows = Some(50000))))
    val cube = SemanticQueries.orderCube.copy(variants = Seq(base, lifetime))
    def pick(from: String, to: String): String = (for {
      req <- request.parse(
        s"""{"cube": "order_stats",
           | "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}],
           | "filterExpressions": [{"field": "Order Date", "operator": "between",
           |   "from": "$from", "to": "$to"}]}""".stripMargin)
      m <- RequestModel.from(req, Registry(cube))
      p <- graft.planner.Planner.plan(m, spark, sf)
    } yield p.factName).toOption.get
    // 2-day window: 1000×3 = 3k < 50k → daily base
    assert(pick("1995-01-01", "1995-01-02") == "orders_base")
    // 90-day window: 1000×91 = 91k > 50k → lifetime rollup
    assert(pick("1995-01-01", "1995-03-31") == "orders_lifetime_rollup")
    // no window → unbounded horizon (CostModel.UnboundedHorizonDays =
    // 3650): 1000×3651 ≫ 50k, so the window-independent lifetime
    // rollup correctly wins a lifetime scan
    val noWindow = (for {
      req <- request.parse(
        """{"cube": "order_stats",
          | "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}]}""".stripMargin)
      m <- RequestModel.from(req, Registry(cube))
      p <- graft.planner.Planner.plan(m, spark, sf)
    } yield p.factName).toOption.get
    assert(noWindow == "orders_lifetime_rollup")
  }

  test("cost multiplier penalizes estimates crossing a row threshold") {
    import graft.semantic.model._
    // CostMultiplier analogue (reference Fact.scala:426-429): past 10k
    // estimated rows the base is penalized 10×, so even a 20-day window
    // (21k rows) loses to a 100k-row lifetime rollup
    val base = SemanticQueries.orderCube.base.copy(
      costModel = Some(CostModel(rowsPerDay = 1000,
        multiplier = Seq(10000L -> 1.0, Long.MaxValue -> 10.0))))
    val lifetime = SemanticQueries.orderCube.base.copy(
      name = "orders_lifetime_rollup",
      costModel = Some(CostModel(rowsPerDay = 0, fixedRows = Some(100000))))
    val cube = SemanticQueries.orderCube.copy(variants = Seq(base, lifetime))
    def pick(from: String, to: String): String = (for {
      req <- request.parse(
        s"""{"cube": "order_stats",
           | "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}],
           | "filterExpressions": [{"field": "Order Date", "operator": "between",
           |   "from": "$from", "to": "$to"}]}""".stripMargin)
      m <- RequestModel.from(req, Registry(cube))
      p <- graft.planner.Planner.plan(m, spark, sf)
    } yield p.factName).toOption.get
    // 5-day window: 6k ≤ 10k → mult 1 → 6k < 100k → base
    assert(pick("1995-01-01", "1995-01-05") == "orders_base")
    // 20-day window: 21k > 10k → ×10 = 210k > 100k → rollup
    assert(pick("1995-01-01", "1995-01-20") == "orders_lifetime_rollup")
  }

  test("int-keyed static mapping: numeric reverse filter reaches the scan") {
    val p = SemanticQueries.planFor(SemanticQueries.sem16Json, spark, sf).toOption.get
    // the reverse-mapped predicate compares the int column against
    // numeric literals, so it must appear in PushedFilters (a cast on
    // the column side would block pushdown)
    val scanLine = p.df.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PushedFilters"))
    assert(scanLine.exists(_.contains("l_linenumber")),
      s"numeric predicate not pushed: $scanLine")
    val roles = p.df.collect().map(_.getString(0)).toSet
    assert(roles == Set("Primary", "Additional"))
  }

  test("registry domain JSON describes cubes, fields, ops, and caps") {
    val json = graft.semantic.Domain.domainJson(SemanticQueries.registry)
    assert(json.contains("\"name\":\"order_stats\""))
    assert(json.contains("\"field\":\"Order Date\""))
    assert(json.contains("\"dataType\":\"Date\""))
    assert(json.contains("\"filterOperations\":[\"=\",\"BETWEEN\",\"IN\"]"))
    assert(json.contains("\"dimensionName\":\"customer\""))
    // restricted column advertises its schemas (User ID on user_events)
    assert(json.contains("\"allowedSchemas\":[\"internal\"]"))
    // int-keyed mapping surfaces its typed enum
    assert(json.contains("\"dataType\":\"Enum(Int)\""))
    // dimensions section lists snowflake dims with their fields
    assert(json.contains("\"dimensions\":[") &&
      json.contains("{\"name\":\"customer\",\"fields\":["))
  }

  test("freshness: per-table data-as-of surfaces in the domain JSON") {
    import graft.semantic.Freshness
    Freshness.invalidate()
    // order_stats base has a day-grain column → max(o_orderdate)
    val base = SemanticQueries.orderCube.base
    val f = Freshness.forFact(spark, sf, base)
    assert(f.source == "max(o_orderdate)", f)
    assert(f.asOf.matches("\\d{4}-\\d{2}-\\d{2}.*"), s"date-shaped asOf: $f")
    // memoized: a second call must not rescan (same instance is fine;
    // assert stability)
    assert(Freshness.forFact(spark, sf, base) == f)
    // a gainless fact falls back to file mtime
    val noGrain = SemanticQueries.lineitemCube.base
    val lf = Freshness.forFact(spark, sf, noGrain)
    assert(lf.source == "file_mtime" && lf.asOf.nonEmpty)
    // domain JSON carries the block per cube
    val fresh = Freshness.forRegistry(SemanticQueries.registry, spark, sf)
    val json = graft.semantic.Domain.domainJson(SemanticQueries.registry, fresh)
    assert(json.contains("\"dataAsOf\":[{\"table\":"))
    assert(json.contains("\"source\":\"max(o_orderdate)\""))
    // without freshness the field is null (pure-config introspection)
    assert(graft.semantic.Domain.domainJson(SemanticQueries.registry)
      .contains("\"dataAsOf\":null"))
    Freshness.invalidate()
  }

  test("DESCRIBE cube through the SQL front door") {
    val df = graft.analyzer.SqlFrontDoor.run(
      "DESCRIBE order_stats", SemanticQueries.registry)(spark, sf)
    val rows = df.collect()
    assert(rows.length == 17) // r19: + the filtered `Urgent Spend`
    val byField = rows.map(r => r.getString(0) -> r).toMap
    assert(byField("Order Date").getString(2) == "Date")
    assert(byField("Order Date").getString(4) == "=,BETWEEN,IN")
    assert(byField("Customer Name").getString(3) == "customer")
    assert(byField("Total Spend").getString(5) == "Sum")
    assert(byField("Urgent Spend").getString(5) == "Sum")
    assert(byField("Avg Order Value").getString(5) == "Derived")
    // unknown cube errors loudly
    val err = intercept[IllegalArgumentException] {
      graft.analyzer.SqlFrontDoor.run("DESCRIBE nope", SemanticQueries.registry)(spark, sf)
    }
    assert(err.getMessage.contains("unknown cube"))
  }

  test("schema ACL applies to every leaf of a filter tree") {
    val viaTree = model(
      """{"cube": "user_events",
        | "selectFields": [{"field": "Event Type"}, {"field": "Event Count"}],
        | "filterExpressions": [{"operator": "and", "filterExpressions": [
        |   {"field": "Event Type", "operator": "=", "value": "click"},
        |   {"field": "User ID", "operator": "=", "value": "7"}]}]}""".stripMargin)
    assert(viaTree.isLeft && viaTree.swap.toOption.get.contains("restricted"))
  }

  test("variant coverage is judged on every filter-tree leaf") {
    // Order Status only exists on the base variant; an AND tree whose
    // HEAD leaf is covered by the cheap rollup must still force base
    val json =
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}],
        | "filterExpressions": [{"operator": "and", "filterExpressions": [
        |   {"field": "Order Priority", "operator": "=", "value": "1-URGENT"},
        |   {"field": "Order Status", "operator": "=", "value": "Open"}]}]}""".stripMargin
    val p = SemanticQueries.planFor(json, spark, sf).toOption.get
    assert(p.factName == "orders_base", s"picked ${p.factName}")
    assert(p.df.count() > 0)
  }

  test("dim-page disabled when the result grain is coarser than dim rows") {
    val json =
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Market Segment"}, {"field": "Order Count"}],
        | "dimensionDriven": true, "rowsPerPage": 3}""".stripMargin
    val p = SemanticQueries.planFor(json, spark, sf).toOption.get
    assert(!p.dimPaged, "paging dim rows would truncate a segment-grain aggregate")
    // segment counts must cover ALL customers' orders despite the page
    val rows = p.df.collect()
    assert(rows.map(_.getLong(1)).sum > 0)
  }

  test("SQL front door rejects typed date literals and duplicate bounds") {
    val typed = graft.analyzer.SqlFrontDoor.toRequest(spark,
      "SELECT `Order Priority`, `Order Count` FROM order_stats " +
        "WHERE `Order Date` BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'")
    assert(typed.isLeft && typed.swap.toOption.get.contains("literal"))
    val dup = graft.analyzer.SqlFrontDoor.toRequest(spark,
      "SELECT `Order Priority`, `Order Count` FROM order_stats " +
        "WHERE `Order Priority` >= '1' AND `Order Priority` >= '2' AND `Order Priority` <= '5'")
    assert(dup.isLeft && dup.swap.toOption.get.contains("bounds"))
  }

  test("maxDaysLookBack rejects windows starting too far back") {
    import graft.semantic.model.Registry
    val capped = Registry(SemanticQueries.orderCube.copy(maxDaysLookBack = Some(365)))
    def req(from: String, to: String) = request.parse(
      s"""{"cube": "order_stats",
         | "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}],
         | "filterExpressions": [{"field": "Order Date", "operator": "between",
         |   "from": "$from", "to": "$to"}],
         | "asOfDate": "1996-06-30"}""".stripMargin)
      .flatMap(RequestModel.from(_, capped))
    // from 1996-01-01 = 181 days back of the pinned as-of date: fine
    assert(req("1996-01-01", "1996-06-01").isRight)
    // from 1995-01-01 = 546 days back: rejected with the cap in the error
    val far = req("1995-01-01", "1995-06-01")
    assert(far.isLeft && far.swap.toOption.get.contains("maxDaysLookBack=365"))
    // declaring the cap makes the time filter required: a request
    // without one must not scan unbounded history silently
    val none = request.parse(
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}]}""".stripMargin)
      .flatMap(RequestModel.from(_, capped))
    assert(none.isLeft && none.swap.toOption.get.contains("maxDaysLookBack"))
    // a bad request timezone is a validation error, not an uncaught
    // ZoneRulesException escaping the Either contract
    val badTz = request.parse(
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}],
        | "filterExpressions": [{"field": "Order Date", "operator": "between",
        |   "from": "1996-01-01", "to": "1996-06-01"}],
        | "timezone": "Mars/Olympus"}""".stripMargin)
      .flatMap(RequestModel.from(_, capped))
    assert(badTz.isLeft && badTz.swap.toOption.get.contains("timezone"))
  }

  test("a cube may not mix cost-modeled and static-cost variants") {
    import graft.semantic.model._
    val e = intercept[IllegalArgumentException] {
      SemanticQueries.orderCube.copy(variants = Seq(
        SemanticQueries.orderCube.base,
        SemanticQueries.orderCube.base.copy(name = "modeled",
          costModel = Some(CostModel(rowsPerDay = 1000)))))
    }
    assert(e.getMessage.contains("costModel"))
  }

  test("maxDaysWindow accepts a day Between nested in a top-level AND tree") {
    import graft.semantic.model.Registry
    val capped = Registry(SemanticQueries.orderCube.copy(maxDaysWindow = Some(31)))
    val r = request.parse(
      """{"cube": "order_stats", "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}],
        | "filterExpressions": [{"operator": "and", "filterExpressions": [
        |   {"field": "Order Date", "operator": "between", "from": "1995-01-01", "to": "1995-01-31"},
        |   {"field": "Order Priority", "operator": "=", "value": "1-URGENT"}]}]}""".stripMargin)
      .flatMap(RequestModel.from(_, capped))
    assert(r.isRight, r.swap.toOption.getOrElse(""))
  }

  test("dimension-only request eliminates the fact scan") {
    val p = SemanticQueries.planFor(SemanticQueries.sem13Json, spark, sf).toOption.get
    val plan = p.df.queryExecution.executedPlan.toString
    assert(!plan.contains("orders.parquet"), s"fact scanned:\n$plan")
    assert(p.df.count() > 0)
    // a coarsest-dim-only request touches ONLY that dim's table
    val regionOnly = model(
      """{"cube": "order_stats", "selectFields": [{"field": "Region Name"}]}""")
      .toOption.get
    assert(regionOnly.joinDims == Seq("region"), regionOnly.joinDims.toString)
    val p2 = (for {
      m <- Right(regionOnly): Either[String, RequestModel.Model]
      pp <- graft.planner.Planner.plan(m, spark, sf)
    } yield pp).toOption.get
    val plan2 = p2.df.queryExecution.executedPlan.toString
    assert(!plan2.contains("customer.parquet") && !plan2.contains("orders.parquet"),
      s"unneeded scans:\n$plan2")
    assert(p2.df.count() == 5)
  }

  test("dim-page disabled by a filter on a non-driving dim") {
    // Region Name is owned by the region dim, inner-joined AFTER the
    // driving customer dim would be paged — paging first would return a
    // short/wrong page, so dimPageable must reject the rewrite.
    val json =
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Customer Name"}, {"field": "Order Count"}],
        | "filterExpressions": [{"field": "Region Name", "operator": "=", "value": "ASIA"}],
        | "dimensionDriven": true, "rowsPerPage": 10}""".stripMargin
    val p = SemanticQueries.planFor(json, spark, sf).toOption.get
    assert(!p.dimPaged, "page must be taken after the region filter")
    val got = p.df.collect().map(_.getString(0)).toSeq
    import org.apache.spark.sql.functions._
    val want = graft.core.Tables.customer(spark, sf)
      .join(graft.core.Tables.nation(spark, sf),
        col("c_nationkey") === col("n_nationkey"))
      .join(graft.core.Tables.region(spark, sf),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select("c_name").orderBy("c_name").limit(10)
      .collect().map(_.getString(0)).toSeq
    assert(got == want, s"page mismatch:\n got=$got\nwant=$want")
    // a filter owned by the DRIVING dim keeps the pre-join page: it is
    // applied to the dim scan before orderBy/offset/limit
    val drivingFiltered =
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Customer Name"}, {"field": "Order Count"}],
        | "filterExpressions": [{"field": "Market Segment", "operator": "=", "value": "BUILDING"}],
        | "dimensionDriven": true, "rowsPerPage": 10}""".stripMargin
    val p2 = SemanticQueries.planFor(drivingFiltered, spark, sf).toOption.get
    assert(p2.dimPaged, "driving-dim filter must not disable the dim page")
    val got2 = p2.df.collect().map(_.getString(0)).toSeq
    val want2 = graft.core.Tables.customer(spark, sf)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_name").orderBy("c_name").limit(10)
      .collect().map(_.getString(0)).toSeq
    assert(got2 == want2)
  }

  test("fallback with a single covering variant never executes the plan") {
    import graft.semantic.model._
    import org.apache.spark.sql.functions._
    // a view that parses/plans fine but THROWS on execution: if the
    // emptiness probe ran, planWithFallback itself would blow up
    val bomb = udf((x: Long) => {
      throw new RuntimeException("boom"); x: Long
    })
    val bombed = SemanticQueries.orderCube.base.copy(
      name = "bomb", view = Some((s, d) =>
        graft.core.Tables.orders(s, d).filter(bomb(col("o_orderkey")) > 0)))
    val cube = SemanticQueries.orderCube.copy(variants = Seq(bombed))
    val json =
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}]}""".stripMargin
    val planned = for {
      req <- request.parse(json)
      m <- RequestModel.from(req, Registry(cube))
      p <- graft.planner.Planner.planWithFallback(m, spark, sf)
    } yield p
    assert(planned.isRight, "single-variant path must not probe-execute")
    intercept[Exception] { planned.toOption.get.df.count() } // proves the bomb arms
  }

  test("fallback returns the earlier empty plan when the last variant throws") {
    import graft.semantic.model._
    import org.apache.spark.sql.functions._
    val bomb = udf((x: Long) => { throw new RuntimeException("boom"); x: Long })
    val emptyCheap = SemanticQueries.orderCube.base.copy(
      name = "empty_cheap", cost = 1,
      view = Some((s, d) => graft.core.Tables.orders(s, d).filter(lit(false))))
    val bombedBase = SemanticQueries.orderCube.base.copy(
      name = "bombed_base", cost = 100, view = Some((s, d) =>
        graft.core.Tables.orders(s, d).filter(bomb(col("o_orderkey")) > 0)))
    val cube = SemanticQueries.orderCube.copy(variants = Seq(emptyCheap, bombedBase))
    val json =
      """{"cube": "order_stats",
        | "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}]}""".stripMargin
    val planned = for {
      req <- request.parse(json)
      m <- RequestModel.from(req, Registry(cube))
      p <- graft.planner.Planner.planWithFallback(m, spark, sf)
    } yield p
    val p = planned.toOption.get
    assert(p.factName == "empty_cheap",
      "valid-but-empty beats a throwing costlier variant")
    assert(p.df.count() == 0)
  }

  test("async requests skip the sync pagination guard, capped by maxRowsAsync") {
    import graft.semantic.model.Registry
    val capped = Registry(SemanticQueries.orderCube.copy(
      maxRowsSync = Some(100), maxRowsAsync = Some(1000)))
    def m(json: String) = request.parse(json).flatMap(RequestModel.from(_, capped))
    // async without pagination: legal (the reference's async path)
    val asyncUnpaged = m(
      """{"cube": "order_stats", "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}],
        | "requestType": "async"}""".stripMargin)
    assert(asyncUnpaged.isRight, asyncUnpaged.swap.toOption.getOrElse(""))
    // async page above the async cap: rejected
    val asyncTooBig = m(
      """{"cube": "order_stats", "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}],
        | "requestType": "async", "rowsPerPage": 5000}""".stripMargin)
    assert(asyncTooBig.isLeft &&
      asyncTooBig.swap.toOption.get.contains("maxRowsAsync"))
    // sync unpaged still rejected on the same cube
    val syncUnpaged = m(
      """{"cube": "order_stats", "selectFields": [{"field": "Order Priority"}, {"field": "Order Count"}]}""")
    assert(syncUnpaged.isLeft &&
      syncUnpaged.swap.toOption.get.contains("requires pagination"))
  }

  test("rollup and base variants agree on the same request") {
    import org.apache.spark.sql.functions._
    val viaRollup = SemanticQueries.run(SemanticQueries.sem01Json)(spark, sf)
    // force the base variant by asking for a column only the base has
    val baseJson = SemanticQueries.sem01Json.replace(
      """{"field": "Order Priority"}""",
      """{"field": "Order Priority"}, {"field": "Order Status"}""")
    val viaBase = SemanticQueries.run(baseJson)(spark, sf)
      .groupBy(col("Order Priority"))
      .agg(sum(col("Order Count")).as("Order Count"),
        sum(col("Total Spend")).as("Total Spend"))
    val a = viaRollup.collect().map(r => (r.getString(0), r.getLong(1),
      math.round(r.getDouble(2) * 100))).toSet
    val b = viaBase.collect().map(r => (r.getString(0), r.getLong(1),
      math.round(r.getDouble(2) * 100))).toSet
    assert(a == b)
  }

  test("DimDef.hotFactKeys routes the big-dim join through the hot-key salt") {
    import graft.semantic.model._
    import org.apache.spark.sql.functions._
    // the reference's config-driven style: declared whale keys on a
    // non-broadcastable dim flip the fact⋈dim join to the salted
    // hot/cold union — result must be identical to the plain plan
    val hotKeys = graft.core.Tables.orders(spark, sf)
      .groupBy("o_custkey").count().orderBy(desc("count"))
      .limit(2).collect().map(_.getLong(0)).toSeq
    def cube(hot: Seq[Long]) = CubeDef(
      name = "orders_skew",
      variants = Seq(FactDef(
        name = "orders_skew_base",
        table = "orders",
        dimCols = Seq(PubCol("Customer Key", "o_custkey")),
        metrics = Seq(PubMetric("Order Count", CountRollup, _ => lit(1))),
        cost = 1)),
      dims = Seq(DimDef("customer", "customer", "c_custkey", "o_custkey",
        None, Seq(PubCol("Market Segment", "c_mktsegment")),
        small = false, hotFactKeys = hot)))
    def served(hot: Seq[Long]) = {
      val json =
        """{"cube": "orders_skew",
          | "selectFields": [{"field": "Market Segment"},
          |                  {"field": "Order Count"}],
          | "sortBy": [{"field": "Market Segment", "order": "ASC"}]}"""
          .stripMargin
      (for {
        req <- request.parse(json)
        m <- RequestModel.from(req, Registry(cube(hot)))
        p <- graft.planner.Planner.plan(m, spark, sf)
      } yield p.df).fold(e => fail(e), identity)
    }
    val plain = served(Nil)
    val salted = served(hotKeys)
    val saltedPlan = salted.queryExecution.executedPlan.toString
    assert(saltedPlan.contains("Union"),
      s"declared hot keys must split the join hot/cold:\n${saltedPlan.take(3000)}")
    assert(!plain.queryExecution.executedPlan.toString.contains("Union"),
      "the undeclared cube must keep the plain single join")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows(salted) == rows(plain),
      "the salted route must not change results")
  }

  test("CostModel.fromTxnTable: manifest row count drives the variant ranking") {
    import graft.semantic.model._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.core.TxnTable
    // a cube served over a mutable TxnTable gets its request-aware
    // cost from the manifest's row channel — one metadata read at
    // registry build, no scan — so Planner.explain ranks with the
    // table's ACTUAL size
    val tdir = graft.core.TempDirs.scratchShared("costrows")
    TxnTable.init(spark, tdir,
      graft.core.Tables.orders(spark, sf)
        .select("o_orderkey", "o_orderpriority", "o_totalprice"),
      numFiles = 2, statsCols = Seq("o_orderkey"))
    val expected = TxnTable.rowCount(tdir)
    assert(expected.nonEmpty, "fresh table must carry manifest rows")
    val cube = CubeDef(
      name = "served_live",
      variants = Seq(FactDef(
        name = "served_live_base", table = "orders",
        dimCols = Seq(PubCol("Order Priority", "o_orderpriority")),
        metrics = Seq(PubMetric("Order Count", CountRollup, _ => lit(1))),
        cost = 999999,
        view = Some((s, _) => TxnTable.read(s, tdir)),
        costModel = CostModel.fromTxnTable(tdir))),
      dims = Nil)
    val out = for {
      req <- request.parse(
        """{"cube":"served_live","selectFields":[{"field":"Order Priority"},{"field":"Order Count"}]}""")
      m <- RequestModel.from(req, Registry(cube))
      r <- graft.planner.Planner.explain(m, spark, sf)
    } yield r
    val (choices, p) = out.fold(e => fail(e), identity)
    assert(choices.exists(c => c.chosen &&
      expected.contains(c.estCost)),
      s"estCost must equal the manifest row count: $choices vs $expected")
    assert(p.df.agg(org.apache.spark.sql.functions.sum(col("Order Count")))
      .first().getLong(0) == expected.get,
      "the served cube must still read the live snapshot")
  }

  test("fuzzed request JSON: parse + analyze return Left, never throw raw") {
    // the front door feeds arbitrary bytes into parse; anything short
    // of a clean Left is a 500 in production. 600 seeded mutations of
    // three valid requests: truncations, char flips, slice splices —
    // plus a pathological deep-nesting body
    val rnd = new scala.util.Random(2026)
    val seeds = Seq(SemanticQueries.sem01Json, SemanticQueries.cur04Json,
      SemanticQueries.sem08Json)
    var parsedOk = 0
    for (base <- seeds; _ <- 1 to 200) {
      val mutated = rnd.nextInt(3) match {
        case 0 => base.substring(0, rnd.nextInt(base.length))
        case 1 =>
          val b = base.toCharArray
          b(rnd.nextInt(b.length)) = "\"{}[]:,x".charAt(rnd.nextInt(8))
          new String(b)
        case _ =>
          val cut = rnd.nextInt(base.length)
          base.take(cut) + base.drop(rnd.nextInt(base.length))
      }
      val res = request.parse(mutated) // must not throw
      res.foreach { req =>
        RequestModel.from(req, SemanticQueries.registry) // must not throw
        parsedOk += 1
      }
    }
    // most mutations should break parsing; some survive — both paths
    // must have been exercised for the test to mean anything
    assert(parsedOk > 0, "no mutation survived — fuzz too destructive")
    val deep = """{"cube":""" + "[" * 5000
    assert(request.parse(deep).isLeft, "deep nesting must fail cleanly")
  }

  test("oversized IN-list requests are rejected with a steer, not planned") {
    // a 10⁶-value IN list would become a 10⁶-literal expression tree
    // on the driver — KeyShip's cliff, arriving through the front
    // door. The analyzer must reject it BEFORE any planning, with the
    // steer (ship key sets that large as data via a semi-join)
    val vals = (0 until RequestModel.MaxInFilterValues + 1)
      .map(i => s""""$i"""").mkString(",")
    val json =
      s"""{"cube": "order_stats",
         | "selectFields": [{"field": "Order Priority"}, {"field": "Total Spend"}],
         | "filterExpressions": [{"field": "Customer Key", "operator": "in", "values": [$vals]}]}"""
        .stripMargin
    val res = for {
      req <- request.parse(json)
      m <- RequestModel.from(req, SemanticQueries.registry)
    } yield m
    assert(res.isLeft, "an oversized IN list must be rejected")
    val msg = res.swap.toOption.get
    assert(msg.contains("IN list has 100001 values") &&
      msg.contains("semi-join"), msg)
    // the complement arm too
    val notJson = json.replace("\"operator\": \"in\"", "\"operator\": \"not in\"")
    val notRes = for {
      req <- request.parse(notJson)
      m <- RequestModel.from(req, SemanticQueries.registry)
    } yield m
    assert(notRes.swap.toOption.exists(_.contains("anti-join")), s"$notRes")
    // one under the bound still plans
    val okJson = json.replace(s""","100000"]""", "]")
    val ok = for {
      req <- request.parse(okJson)
      m <- RequestModel.from(req, SemanticQueries.registry)
    } yield m
    assert(ok.isRight, s"at-bound IN list must still plan: $ok")
  }

  test("hotFactKeys salt survives duplicate column names from an earlier dim join") {
    import graft.semantic.model._
    import org.apache.spark.sql.functions._
    // dim A is a self-lookup on the ORDERS table itself: after its
    // join the accumulated frame carries every orders column TWICE
    // (o_custkey included), so bare-name resolution of the fact fk /
    // salt-source columns throws an ambiguous-reference
    // AnalysisException — the salted route must resolve the key
    // through the fact side instead
    val hotKeys = graft.core.Tables.orders(spark, sf)
      .groupBy("o_custkey").count().orderBy(desc("count"))
      .limit(2).collect().map(_.getLong(0)).toSeq
    def cube(hot: Seq[Long]) = CubeDef(
      name = "orders_selfref",
      variants = Seq(FactDef(
        name = "orders_selfref_base",
        table = "orders",
        dimCols = Seq(PubCol("Customer Key", "o_custkey")),
        metrics = Seq(PubMetric("Order Count", CountRollup, _ => lit(1))),
        cost = 1)),
      dims = Seq(
        DimDef("selfref", "orders", "o_orderkey", "o_orderkey", None,
          Seq(PubCol("Self Status", "o_orderstatus")), small = true),
        DimDef("customer", "customer", "c_custkey", "o_custkey", None,
          Seq(PubCol("Market Segment", "c_mktsegment")),
          small = false, hotFactKeys = hot)))
    def served(hot: Seq[Long]) = {
      val json =
        """{"cube": "orders_selfref",
          | "selectFields": [{"field": "Self Status"},
          |                  {"field": "Market Segment"},
          |                  {"field": "Order Count"}]}""".stripMargin
      (for {
        req <- request.parse(json)
        m <- RequestModel.from(req, Registry(cube(hot)))
        p <- graft.planner.Planner.plan(m, spark, sf)
      } yield p.df).fold(e => fail(e), identity)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
    val salted = served(hotKeys) // threw AnalysisException pre-fix
    assert(salted.queryExecution.executedPlan.toString.contains("Union"),
      "declared hot keys must still take the salted route")
    assert(rows(salted) == rows(served(Nil)),
      "the salted route must not change results under duplicate names")
  }
}
