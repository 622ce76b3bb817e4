package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import graft.core.{TempDirs, Tables, TxnTable}
import graft.operators.SemanticQueries
import graft.semantic.Freshness
import graft.semantic.model._
import graft.serving.{HttpFrontDoor, JobQueue, PageCache, RequestLog, ServiceMonitor}

/** The front door's page cache: a repeated /report or /sql page is
  * answered from the cache with no Spark job, and never when the data
  * or the answer may have changed. */
class HttpPageCacheSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  private lazy val client = HttpClient.newHttpClient()

  private def post(port: Int, path: String, body: String,
      reqId: String = java.util.UUID.randomUUID().toString): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("X-Request-Id", reqId)
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  /** `post` and the Spark jobs it started. */
  private def counted(port: Int, path: String, body: String,
      reqId: String = java.util.UUID.randomUUID().toString): (HttpResponse[String], Int) = {
    var r: HttpResponse[String] = null
    val jobs = ServeProbes.jobsDuring(spark) { r = post(port, path, body, reqId) }
    (r, jobs)
  }

  private def withDoor[T](dir: String, reg: Registry = SemanticQueries.registry,
      monitor: ServiceMonitor = ServiceMonitor.NoOp)(f: Int => T): T = {
    val jobs = new JobQueue(spark, dir, Files.createTempDirectory("pagecache"))
    val door = new HttpFrontDoor(spark, dir, reg, jobs, monitor = monitor)
    val port = door.start()
    try f(port) finally { door.stop(); jobs.shutdown() }
  }

  private def withLog[T](f: RequestLog.InMemoryWriter => T): T = {
    val mem = new RequestLog.InMemoryWriter
    val prev = SemanticQueries.requestLogWriter
    SemanticQueries.requestLogWriter = mem
    try f(mem) finally SemanticQueries.requestLogWriter = prev
  }

  /** A one-fact cube over `view` grouping `dim` as `group` and summing
    * `metric` as `total`. */
  private def cubeDef(name: String, dim: String, metric: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.Column, view: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      group: String = "Group", total: String = "Total") =
    CubeDef(name = name,
      variants = Seq(FactDef(name = s"${name}_base", table = "orders",
        dimCols = Seq(PubCol(group, dim)),
        metrics = Seq(PubMetric(total, SumRollup, metric)),
        cost = 1, view = Some(view))),
      dims = Nil)

  private def cube(name: String, dim: String, metric: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.Column, view: (SparkSession, String) => org.apache.spark.sql.DataFrame) =
    Registry(cubeDef(name, dim, metric, view))

  private def totalReport(name: String, group: String = "Group", total: String = "Total") =
    s"""{"cube":"$name","selectFields":[{"field":"$group"},{"field":"$total"}]}"""

  test("a repeated /report or /sql body answers byte-identically with no Spark " +
      "job, one -served record and one monitor bracket per request") {
    val mon = new ServiceMonitor.Counting
    withLog { mem =>
      withDoor(sf, monitor = mon) { port =>
        val sql = "SELECT `Order Priority`, `Order Count` FROM order_stats " +
          "ORDER BY `Order Priority`"
        for ((path, body) <- Seq("/report" -> SemanticQueries.sem01Json, "/sql" -> sql)) {
          val first = post(port, path, body, s"$path-1")
          assert(first.statusCode() == 200, first.body())
          val (second, jobs) = counted(port, path, body, s"$path-2")
          assert(second.statusCode() == 200 && second.body() == first.body(),
            s"$path: ${second.body().take(300)}")
          assert(jobs == 0, s"$path: a repeated page ran $jobs Spark jobs")
          for (id <- Seq(s"$path-1", s"$path-2")) {
            val served = mem.records.filter(_.requestId == s"$id-served")
            assert(served.size == 1 && served.head.status == 200, s"$id: $served")
          }
        }
        assert(mon.started("report") == 2 && mon.succeeded("report") == 2)
        assert(mon.started("sql") == 2 && mon.succeeded("sql") == 2)
      }
    }
  }

  test("two cubes that publish the same expression under different names " +
      "do not share a page") {
    // canonicalization erases aliases, so only the key's schema tells them apart
    val view: (SparkSession, String) => org.apache.spark.sql.DataFrame = Tables.orders
    val reg = Registry(
      cubeDef("named_a", "o_orderstatus", _.col("o_totalprice"), view),
      cubeDef("named_b", "o_orderstatus", _.col("o_totalprice"), view,
        group = "Status", total = "Revenue"))
    val jobs = new JobQueue(spark, sf, Files.createTempDirectory("pagecache"))
    val door = new HttpFrontDoor(spark, sf, reg, jobs)
    val port = door.start()
    try {
      val a = post(port, "/report", totalReport("named_a"))
      assert(a.statusCode() == 200 && a.body().contains("\"fieldName\":\"Group\""), a.body())
      val (b, missJobs) = counted(port, "/report", totalReport("named_b", "Status", "Revenue"))
      assert(b.statusCode() == 200 && b.body().contains("\"fieldName\":\"Status\"") &&
        b.body().contains("\"fieldName\":\"Revenue\"") && !b.body().contains("Total"),
        b.body().take(300))
      assert(missJobs > 0, "a page served under other names was answered from the cache")
      val (again, hitJobs) = counted(port, "/report", totalReport("named_a"))
      assert(again.body() == a.body() && hitJobs == 0, s"$hitJobs jobs")
      val st = door.pageStats
      assert(st.entries == 2 && st.hits == 1 && st.misses == 2, st)
    } finally { door.stop(); jobs.shutdown() }
  }

  test("a table file replaced without /refresh misses and serves the new answer") {
    val tmp = TempDirs.scratch("pagefile")
    for (t <- Seq("orders", "customer", "nation", "region"))
      Files.copy(Paths.get(s"$sf/$t.parquet"), Paths.get(s"$tmp/$t.parquet"))
    val json = """{"cube": "order_stats",
      | "selectFields": [{"field": "Region Name"}, {"field": "Order Count"}]}""".stripMargin
    withDoor(tmp) { port =>
      val before = post(port, "/report", json).body()
      assert(before.contains("ASIA") && !before.contains("ASIA_V2"), before.take(300))
      val (hit, hitJobs) = counted(port, "/report", json)
      assert(hit.body() == before && hitJobs == 0, s"$hitJobs jobs")
      // land a renamed region table the external way: staged, then moved
      val out = Tables.tbl(spark, tmp, "region")
        .withColumn("r_name", concat(col("r_name"), lit("_V2")))
      spark.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
        .write.parquet(s"$tmp/_stage")
      assert(new java.io.File(s"$tmp/region.parquet").delete())
      Files.move(Paths.get(s"$tmp/_stage"), Paths.get(s"$tmp/region.parquet"))
      val (after, jobs) = counted(port, "/report", json)
      assert(after.body().contains("ASIA_V2"), after.body().take(300))
      assert(jobs > 0, "a page over a replaced file was answered from the cache")
    }
  }

  test("a commit on a TxnTable-backed cube between two identical requests " +
      "changes the total") {
    val s = spark; import s.implicits._
    val tdir = TempDirs.scratchShared("pagetxn")
    TxnTable.init(spark, tdir, (0L until 100L).toDF("k")
      .withColumn("payload", col("k")).withColumn("grp", lit("all")),
      numFiles = 2, statsCols = Seq("k"))
    val reg = cube("txn_stats", "grp", _.col("payload"), (s, _) => TxnTable.read(s, tdir))
    val totalRe = """"all",(-?\d+)""".r
    def total(r: HttpResponse[String]): Long =
      totalRe.findFirstMatchIn(r.body()).map(_.group(1).toLong)
        .getOrElse(fail(r.body().take(300)))
    withDoor(sf, reg) { port =>
      val json = totalReport("txn_stats")
      assert(total(post(port, "/report", json)) == 4950L)
      val (hit, hitJobs) = counted(port, "/report", json)
      assert(total(hit) == 4950L && hitJobs == 0, s"$hitJobs jobs")
      TxnTable.upsert(spark, tdir, "k",
        Seq((0L, 1000000L, "all")).toDF("k", "payload", "grp"))
      val (after, jobs) = counted(port, "/report", json)
      assert(total(after) == 4950L + 1000000L && jobs > 0,
        s"after the commit: ${after.body().take(300)}, $jobs jobs")
    }
  }

  test("a repeated over-cap request still answers 400 with its failure record") {
    withLog { mem =>
      // 8,623 (day, priority) rows at sf0.01, over the default sync cap
      withDoor(sf.replace("sf0.001", "sf0.01")) { port =>
        val cap = s"${graft.serving.Serving.SyncMaxRows}-row page cap"
        val sql = "SELECT `Order Date`, `Order Priority`, `Order Count` FROM order_stats"
        for (i <- 1 to 2) {
          val (r, jobs) = counted(port, "/sql", sql, s"cap-$i")
          assert(r.statusCode() == 400 && r.body().contains(cap), r.body())
          assert(jobs > 0, s"over-cap request $i ran no Spark job")
          val done = mem.records.filter(_.requestId == s"cap-$i-served")
          assert(done.size == 1 && done.head.status == 400 &&
            done.head.errorMessage.exists(_.contains(cap)), done)
        }
      }
    }
  }

  test("a rand() view and a JDBC-backed view are never cached") {
    // Spark refuses rand() inside an aggregate, so the view draws it
    val noisy = cube("noisy", "o_orderstatus", _.col("noise"),
      (s, d) => Tables.orders(s, d).withColumn("noise", rand()))
    withDoor(sf, noisy) { port =>
      val json = totalReport("noisy")
      val first = post(port, "/report", json)
      assert(first.statusCode() == 200, first.body())
      val (r, jobs) = counted(port, "/report", json)
      assert(r.statusCode() == 200 && jobs > 0, s"a rand() page ran $jobs jobs")
    }
    val url = {
      val d = Files.createTempDirectory("graft-derby-page")
      s"jdbc:derby:${d.resolve("pagedb")};create=true"
    }
    def exec(sql: String): Unit = {
      val c = java.sql.DriverManager.getConnection(url)
      try { c.createStatement().execute(sql); () } finally c.close()
    }
    exec("CREATE TABLE page_fact (grp VARCHAR(10), v INT)")
    exec("INSERT INTO page_fact VALUES ('all', 10), ('all', 20)")
    val jdbc = cube("jdbc_stats", "GRP", _.col("V"),
      (s, _) => graft.core.JdbcSource.dim(s, url, "page_fact"))
    withDoor(sf, jdbc) { port =>
      val json = totalReport("jdbc_stats")
      val first = post(port, "/report", json)
      assert(first.statusCode() == 200 && first.body().contains("\"all\",30"), first.body())
      val (again, jobs) = counted(port, "/report", json)
      assert(again.body() == first.body() && jobs > 0, s"a JDBC page ran $jobs jobs")
      exec("INSERT INTO page_fact VALUES ('all', 5)")
      val after = post(port, "/report", json)
      assert(after.body().contains("\"all\",35"), after.body())
    }
    // the refusals, one per reason, at the key
    val s = spark; import s.implicits._
    val orders = Tables.orders(spark, sf)
    assert(PageCache.keyOf(orders, 10).isDefined)
    assert(PageCache.keyOf(Seq(1, 2).toDF("x"), 10).isDefined)
    assert(PageCache.keyOf(orders.withColumn("r", rand()), 10).isEmpty)
    assert(PageCache.keyOf(orders.withColumn("t", current_timestamp()), 10).isEmpty)
    assert(PageCache.keyOf(orders.withColumn("d", current_date()), 10).isEmpty)
    assert(PageCache.keyOf(spark.range(3).toDF(), 10).isEmpty)
    assert(PageCache.keyOf(graft.core.JdbcSource.dim(spark, url, "page_fact"), 10).isEmpty)
    assert(PageCache.keyOf(orders.filter(col("o_orderkey").isin(
      spark.range(3).toDF())), 10).isEmpty, "a range leaf inside a subquery")
    // a key names its files but holds none of the scan's objects (a file
    // index and its Hadoop configuration), and tells two copies apart
    val key = PageCache.keyOf(orders, 10).get
    assert(key.plan.collectWithSubqueries {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r }.isEmpty,
      key.plan.treeString)
    assert(PageCache.keyOf(Tables.orders(spark, sf), 10).contains(key))
    assert(!PageCache.keyOf(Tables.orders(spark, sf.replace("sf0.001", "sf0.01")), 10)
      .contains(key))
  }

  test("the byte budget and the entry count evict least recently used pages; " +
      "a refresh drops them all") {
    val region = Tables.tbl(spark, sf, "region")
    val keys = (1 to 4).map(c => PageCache.keyOf(region, c).get)
    val page = "x" * 200 // weighs 400 bytes
    val cache = new PageCache(maxEntries = 10, maxBytes = 1000)
    cache.put(keys(0), page); cache.put(keys(1), page)
    assert(cache.get(keys(0)).contains(page)) // keys(1) is now the eldest
    cache.put(keys(2), page)
    assert(cache.get(keys(1)).isEmpty, "over the byte budget, the LRU page goes")
    assert(cache.get(keys(0)).contains(page) && cache.get(keys(2)).contains(page))
    assert(cache.stats == PageCache.Stats(entries = 2, bytes = 800L, hits = 3,
      misses = 1, evictions = 1))
    cache.put(keys(3), "y" * 600)
    assert(cache.get(keys(3)).isEmpty && cache.stats.entries == 2 &&
      cache.stats.bytes == 800L, "a page over the whole budget is never stored")
    val few = new PageCache(maxEntries = 2, maxBytes = 1L << 20)
    keys.take(3).foreach(few.put(_, page))
    assert(few.get(keys(0)).isEmpty && few.stats.entries == 2 && few.stats.evictions == 1)
    // a refresh drops every entry, and a key made before it is not stored
    val stale = keys(3)
    Freshness.refresh(spark, TempDirs.scratch("pagerefresh"))
    assert(cache.get(keys(0)).isEmpty && cache.stats.entries == 0 &&
      cache.stats.bytes == 0L && cache.stats.evictions == 1, "a refresh evicts nothing")
    cache.put(stale, page)
    assert(cache.stats.entries == 0)
    val fresh = PageCache.keyOf(region, 4).get
    cache.put(fresh, page)
    assert(cache.get(fresh).contains(page))
  }
}
