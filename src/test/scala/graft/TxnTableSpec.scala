package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.TxnTable

/** Copy-on-write table (`core/TxnTable`): key deletes and upserts
  * rewrite only stat-matched files, versions are snapshot-isolated
  * and time-travelable, vacuum bounds storage. */
class TxnTableSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  private def freshTable(): String = {
    val dir = graft.core.TempDirs.scratchShared("txntable")
    // range-partitioned on the key so footer stats are tight — the
    // layout a key-addressed table would use (Z-order for multi-key)
    val src = graft.core.Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
    TxnTable.init(spark, dir, src.coalesce(8), numFiles = 8)
    dir
  }

  /** A table artifact written before the current on-disk format is
    * refused loudly, and the refusal names the upgrade call. */
  private def assertNeedsUpgrade(body: => Any): Unit = {
    val ex = intercept[RuntimeException](body)
    assert(String.valueOf(ex.getMessage).contains("TxnTable.upgrade"),
      s"the refusal must name the upgrade: ${ex.getMessage}")
  }

  /** The plans a keyed mutation ran rewrote its survivors with a LEFT
    * ANTI join, and none carries a literal IN / INSET key tree. */
  private def assertAntiJoinOnly(plans: Seq[String]): Unit = {
    assert(plans.exists(_.contains("LeftAnti")),
      s"expected an anti-join survivor rewrite:\n${plans.mkString("\n")}")
    assert(!plans.exists(p => p.contains(" IN (") || p.contains("INSET")),
      "no literal IN tree at any key scale")
  }

  /** (relative name -> (mtime, bytes)) of every file under `dir`. */
  private def fileStates(dir: String): Map[String, (Long, Seq[Byte])] = {
    val root = java.nio.file.Paths.get(dir)
    scala.util.Using.resource(java.nio.file.Files.walk(root)) { st =>
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => root.relativize(p).toString ->
          (java.nio.file.Files.getLastModifiedTime(p).toMillis,
            java.nio.file.Files.readAllBytes(p).toSeq))
        .toMap
    }
  }

  test("init writes v1; delete rewrites only stat-matched files") {
    val dir = freshTable()
    // NOTE init's repartition(8) hash-scatters keys, so every file
    // spans the key range — rebuild with a range layout by hand
    val all = TxnTable.read(spark, dir).collect()
    assert(TxnTable.version(dir) == 1 && all.nonEmpty)

    // keys from a narrow range: with the hash-scattered init layout
    // every file matches; assert correctness here, file-economy below
    val keys = TxnTable.read(spark, dir)
      .orderBy("o_orderkey").limit(5)
      .collect().map(_.getLong(0)).toSeq
    val rewrote = TxnTable.deleteKeys(spark, dir, "o_orderkey", keys)
    assert(rewrote >= 1)
    assert(TxnTable.version(dir) == 2)
    val after = TxnTable.read(spark, dir)
    assert(after.filter(col("o_orderkey").isin(keys: _*)).count() == 0,
      "deleted keys must be gone")
    assert(after.count() == all.length - keys.length,
      "only the deleted keys may disappear")
    // TIME TRAVEL: v1 still reads complete
    assert(TxnTable.read(spark, dir, v = 1).count() == all.length)
  }

  test("a range-clustered table rewrites a strict subset of files") {
    val dir = graft.core.TempDirs.scratchShared("txntable")
    import spark.implicits._
    // 8 files of tight contiguous key ranges: 0-999, 1000-1999, ...
    val parts = (0 until 8).map { p =>
      (p * 1000L until (p + 1) * 1000L).toDF("k")
        .withColumn("payload", col("k") * 2)
    }
    TxnTable.init(spark, dir, parts.head, numFiles = 1)
    parts.tail.foreach(p => TxnTable.upsert(spark, dir, "k", p, numFiles = 1))
    val before = TxnTable.liveFiles(dir)
    assert(before.size >= 8)
    // delete keys living in ONE range: exactly the file(s) covering
    // 3000-3009 rewrite; everything else carries over BY REFERENCE
    val rewrote = TxnTable.deleteKeys(spark, dir, "k",
      (3000L to 3009L).toSeq)
    val afterFiles = TxnTable.liveFiles(dir)
    assert(rewrote < before.size / 2,
      s"stat pruning failed: rewrote $rewrote of ${before.size} files")
    val carried = before.toSet & afterFiles.toSet
    assert(carried.size == before.size - rewrote,
      "untouched files must carry over by reference, not be rewritten")
    assert(TxnTable.read(spark, dir).count() == 8000 - 10)
  }

  test("upsert replaces matched keys and inserts new ones atomically") {
    val dir = freshTable()
    import spark.implicits._
    val v1 = TxnTable.read(spark, dir)
    val total = v1.count()
    val twoKeys = v1.orderBy("o_orderkey").limit(2)
      .collect().map(_.getLong(0))
    val updates = Seq(
      (twoKeys(0), 1L, java.math.BigDecimal.valueOf(1.23), "X"),
      (twoKeys(1), 2L, java.math.BigDecimal.valueOf(4.56), "X"),
      (999999999L, 3L, java.math.BigDecimal.valueOf(7.89), "X"))
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .withColumn("o_totalprice",
        col("o_totalprice").cast(v1.schema("o_totalprice").dataType))
      .withColumn("o_custkey",
        col("o_custkey").cast(v1.schema("o_custkey").dataType))
    TxnTable.upsert(spark, dir, "o_orderkey", updates)
    val after = TxnTable.read(spark, dir)
    assert(after.count() == total + 1, "2 replaced + 1 inserted")
    assert(after.filter(col("o_orderstatus") === "X").count() == 3)
    assert(after.filter(col("o_orderkey") === twoKeys(0)).count() == 1,
      "no duplicate rows for a replaced key")
  }

  test("optimize restores pruning that scattered upserts decayed") {
    val dir = graft.core.TempDirs.scratchShared("txntable")
    import spark.implicits._
    // start clustered, then upsert hash-scattered commits: every new
    // file spans the whole key range, so pruning decays
    TxnTable.init(spark, dir,
      (0L until 8000L).toDF("k").withColumn("payload", col("k") * 2)
        .repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      numFiles = 0)
    (0 until 3).foreach { i =>
      val scattered = (0L until 8000L by 13L).map(_ + i).toDF("k")
        .withColumn("payload", col("k") * 3)
      TxnTable.upsert(spark, dir, "k", scattered, numFiles = 4)
    }
    def filesForBox(): Int = {
      val live = TxnTable.liveFiles(dir).map(rel => s"$dir/$rel")
      graft.core.Layout.statsForFiles(spark, live, "k")
        .count { case (_, lo, hi) => hi >= 1000 && lo <= 1999 }
    }
    val decayed = filesForBox()
    val totalBefore = TxnTable.liveFiles(dir).size
    assert(decayed > totalBefore / 2,
      s"fixture should be decayed: $decayed of $totalBefore files match a 1/8 box")
    val rows = TxnTable.read(spark, dir).count()
    TxnTable.optimize(spark, dir, Seq("k"), numFiles = 8)
    val after = filesForBox()
    val totalAfter = TxnTable.liveFiles(dir).size
    // a 1/8-wide box over 8 range files straddles 2 boundaries in the
    // ideal layout and occasionally 3 — repartitionByRange SAMPLES its
    // boundaries, so their placement jitters run to run; ≤ 3 still
    // proves the decayed >half-match state was restored to clustered
    assert(after <= 3 && after * 2 < decayed,
      s"optimize must restore pruning: $after of $totalAfter files for " +
        s"a 1/8 box (decayed state matched $decayed)")
    assert(TxnTable.read(spark, dir).count() == rows,
      "optimize must not change contents")
  }

  test("optimizeRange re-clusters only the decayed region; the bulk carries by reference") {
    val dir = graft.core.TempDirs.scratchShared("txnoptrange")
    import spark.implicits._
    // well-clustered table over [0, 16000): 8 tight range files
    TxnTable.init(spark, dir,
      (0L until 16000L).toDF("k").withColumn("payload", col("k") * 2)
        .repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      numFiles = 0, statsCols = Seq("k"))
    // churn CONFINED to [0, 2000): scattered upserts decay only the
    // low region's clustering
    (0 until 3).foreach { i =>
      TxnTable.upsert(spark, dir, "k",
        (0L until 2000L by 7L).map(_ + i).filter(_ < 2000L)
          .toDF("k").withColumn("payload", col("k") * 3),
        numFiles = 3)
    }
    val rows = TxnTable.read(spark, dir).count()
    def filesFor(lo: Long, hi: Long): Int = {
      val live = TxnTable.liveFiles(dir).map(rel => s"$dir/$rel")
      graft.core.Layout.statsForFiles(spark, live, "k")
        .count { case (_, fLo, fHi) => fHi >= lo && fLo <= hi }
    }
    val decayedLow = filesFor(500, 699) // a 10% box of the churned region
    assert(decayedLow >= 4,
      s"fixture must decay the low region: $decayedLow files for a 10% box")
    val before = TxnTable.liveFiles(dir).toSet
    val highBefore = filesFor(9000, 9999)
    val rewrote = TxnTable.optimizeRange(spark, dir, "k",
      lo = 0L, hi = 1999L, numFiles = 3)
    assert(rewrote >= 4, s"expected the churned files re-clustered: $rewrote")
    val after = TxnTable.liveFiles(dir).toSet
    // the well-clustered bulk (files strictly above the box) carried
    val carried = before & after
    assert(carried.nonEmpty && carried.size == before.size - rewrote,
      "files outside the box must carry by reference")
    assert(filesFor(500, 699) <= 2,
      s"the box must be re-clustered: ${filesFor(500, 699)} files for the 10% box")
    assert(filesFor(9000, 9999) == highBefore,
      "the untouched region's pruning must be unchanged")
    assert(TxnTable.read(spark, dir).count() == rows,
      "optimizeRange must not change contents")
  }

  test("optimizeRange leaves an already range-clustered box alone: no rewrite, no commit") {
    val dir = graft.core.TempDirs.scratchShared("txnoptrangeidem")
    import spark.implicits._
    TxnTable.init(spark, dir,
      (0L until 30000L).toDF("k").withColumn("payload", col("k") * 2)
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      numFiles = 0, statsCols = Seq("k"))
    val v0 = TxnTable.version(dir)
    val files0 = TxnTable.liveFiles(dir).toSet
    assert(files0.size == 4, s"fixture must land 4 range files: $files0")
    (1 to 3).foreach { i =>
      assert(TxnTable.optimizeRange(spark, dir, "k", 0L, 30000L) == 0,
        s"call $i re-clustered a clustered box")
      assert(TxnTable.version(dir) == v0, s"call $i committed a version")
    }
    assert(TxnTable.liveFiles(dir).toSet == files0)
    // more matched files than numFiles still packs into numFiles
    assert(TxnTable.optimizeRange(spark, dir, "k", 0L, 30000L,
      numFiles = 2) == 4)
    assert(TxnTable.version(dir) == v0 + 1 &&
      TxnTable.read(spark, dir).count() == 30000L)
  }

  test("schema evolution: an upsert can add a column without rewriting history") {
    val dir = graft.core.TempDirs.scratchShared("txntable")
    import spark.implicits._
    TxnTable.init(spark, dir,
      (0L until 100L).toDF("k").withColumn("payload", col("k") * 2),
      numFiles = 2)
    // the new commit carries a column the v1 files lack
    val widened = Seq((50L, 100L, "hello"), (200L, 400L, "new"))
      .toDF("k", "payload", "note")
    TxnTable.upsert(spark, dir, "k", widened, numFiles = 1)
    val after = TxnTable.read(spark, dir)
    assert(after.columns.toSet == Set("k", "payload", "note"))
    assert(after.count() == 101)
    assert(after.filter(col("note").isNotNull).count() == 2,
      "pre-evolution rows must read the new column as null")
    assert(after.filter(col("k") === 50L && col("note") === "hello").count() == 1)
  }

  test("a cube served from a TxnTable view reflects mutations immediately") {
    import graft.semantic.model._
    import graft.analyzer.{request, RequestModel}
    // the semantic layer's FactDef.view hook makes the mutable table a
    // first-class fact source: every request re-reads the manifest, so
    // a committed delete is visible to the NEXT served request with no
    // registry or cache ceremony (plans are built per request; the
    // manifest read is the snapshot pin)
    val dir = freshTable()
    val cube = CubeDef(
      name = "orders_live",
      variants = Seq(FactDef(
        name = "orders_live_base",
        table = "unused",
        dimCols = Seq(PubCol("Order Status", "o_orderstatus")),
        metrics = Seq(PubMetric("Order Count", CountRollup, _ => lit(1))),
        cost = 1,
        view = Some((s, _) => TxnTable.read(s, dir)))),
      dims = Nil)
    val reg = Registry(cube)
    def served(): Long = {
      val json =
        """{"cube": "orders_live",
          | "selectFields": [{"field": "Order Count"}]}""".stripMargin
      (for {
        req <- request.parse(json)
        m <- RequestModel.from(req, reg)
        p <- graft.planner.Planner.plan(m, spark, sf)
      } yield p.df).toOption.get
        .agg(sum(col("Order Count"))).first().getLong(0)
    }
    val before = served()
    val keys = TxnTable.read(spark, dir).orderBy("o_orderkey").limit(7)
      .collect().map(_.getLong(0)).toSeq
    TxnTable.deleteKeys(spark, dir, "o_orderkey", keys)
    assert(served() == before - 7,
      "the next request must serve the post-delete snapshot")
  }

  test("compactSmall packs only the small files; big files carry by reference") {
    val dir = graft.core.TempDirs.scratchShared("txntable")
    import spark.implicits._
    // one big clustered commit + 5 tiny streaming-style commits
    TxnTable.init(spark, dir,
      (0L until 50000L).toDF("k").withColumn("payload", col("k")),
      numFiles = 1)
    (0 until 5).foreach { i =>
      TxnTable.upsert(spark, dir, "k",
        Seq((100000L + i, 1L)).toDF("k", "payload"), numFiles = 1)
    }
    val before = TxnTable.liveFiles(dir)
    val bigFiles = before.filter(rel =>
      new java.io.File(dir, rel).length() >= 100000)
    assert(bigFiles.nonEmpty && before.size >= 6)
    val rows = TxnTable.read(spark, dir).count()
    val packed = TxnTable.compactSmall(spark, dir, minBytes = 100000)
    assert(packed >= 5, s"expected the small commits packed, got $packed")
    val after = TxnTable.liveFiles(dir)
    assert(bigFiles.forall(after.contains),
      "files at target size must carry over by reference")
    assert(after.size < before.size, s"${before.size} -> ${after.size}")
    assert(TxnTable.read(spark, dir).count() == rows,
      "compaction must not change contents")
  }

  test("mutations plan the rewrite set from manifest stats — no footer walk") {
    val dir = graft.core.TempDirs.scratchShared("txntable")
    import spark.implicits._
    TxnTable.init(spark, dir,
      (0L until 8000L).toDF("k").withColumn("payload", col("k") * 2)
        .repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      numFiles = 0, statsCols = Seq("k"))
    // every live entry must carry [min,max] for k from the commit pass
    assert(TxnTable.liveEntries(dir).forall(_.stats.contains("k")))
    val before = graft.core.Layout.footerReads.get()
    val rewrote = TxnTable.deleteKeys(spark, dir, "k", Seq(3000L, 3005L))
    val reads = graft.core.Layout.footerReads.get() - before
    // the ONLY footer opens allowed are the commit-time stats of the
    // files this delete itself wrote — planning the rewrite set reads
    // the manifest, not O(live files) footers
    assert(rewrote >= 1 && rewrote <= 2, s"range pruning broke: $rewrote")
    assert(reads <= rewrote,
      s"expected <= $rewrote commit-stat footer reads, saw $reads — " +
        "the mutation is footer-walking the live set")
    assert(TxnTable.read(spark, dir).count() == 7998)
    // carried-over entries keep their stats BY REFERENCE (no recompute)
    assert(TxnTable.liveEntries(dir).forall(_.stats.contains("k")))
  }

  test("legacy bare-path manifests are refused until upgrade, then fall " +
      "back to footers and self-upgrade their stats") {
    val dir = graft.core.TempDirs.scratchShared("txntable")
    import spark.implicits._
    TxnTable.init(spark, dir,
      (0L until 4000L).toDF("k").withColumn("payload", col("k"))
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      numFiles = 0, statsCols = Seq("k"))
    // rewrite v1 as the PRE-STATS format: one quoted bare path per line
    val legacy = TxnTable.liveFiles(dir)
      .map("\"" + _ + "\"").mkString("[\n", ",\n", "\n]")
    java.nio.file.Files.write(
      new java.io.File(dir, "manifest-v1.json").toPath,
      legacy.getBytes("UTF-8"))
    // the in-place rewrite violates the manifest-immutability premise
    // the resolution caches rest on — drop them (the probe seam)
    TxnTable.dropCaches(dir)
    assertNeedsUpgrade(TxnTable.liveEntries(dir))
    assertNeedsUpgrade(TxnTable.deleteKeys(spark, dir, "k", Seq(1000L)))
    assert(TxnTable.upgrade(spark, dir) == 1)
    assert(TxnTable.liveEntries(dir).forall(_.stats.isEmpty))
    // the upgrade records each file's true size (the bare path had none)
    assert(TxnTable.liveEntries(dir).forall(e =>
      e.bytes == new java.io.File(dir, e.path).length() && e.bytes > 0))
    // first delete: footer fallback finds the rewrite set correctly
    val rewrote = TxnTable.deleteKeys(spark, dir, "k", Seq(1000L, 1001L))
    assert(rewrote >= 1 && TxnTable.read(spark, dir).count() == 3998)
    // ...and the commit it wrote carries stats, so the NEXT mutation on
    // the same file is manifest-served (the table self-upgrades)
    val fresh = TxnTable.liveEntries(dir).filter(_.stats.contains("k"))
    assert(fresh.nonEmpty, "the rewrite commit must carry stats")
    val before = graft.core.Layout.footerReads.get()
    TxnTable.deleteKeys(spark, dir, "k", Seq(1002L))
    val reads = graft.core.Layout.footerReads.get() - before
    // only the still-legacy carried files (3 of 4) + this delete's own
    // fresh commit may be footer-read — never the upgraded entries
    assert(reads <= TxnTable.liveEntries(dir).count(_.stats.isEmpty) + 2,
      s"unexpected footer reads: $reads")
    assert(TxnTable.read(spark, dir).count() == 3997)
  }

  test("changes() yields net row-level CDC and reads only the file diff") {
    val dir = graft.core.TempDirs.scratchShared("txntable")
    import spark.implicits._
    TxnTable.init(spark, dir,
      (0L until 8000L).toDF("k").withColumn("payload", col("k") * 2)
        .repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      numFiles = 0, statsCols = Seq("k"))
    TxnTable.deleteKeys(spark, dir, "k", Seq(3000L, 3001L)) // v2
    TxnTable.upsert(spark, dir, "k", // v3: replace 100, insert 99999
      Seq((100L, -1L), (99999L, -2L)).toDF("k", "payload"))
    // v1 -> v3 NET: deletes 3000,3001 and the OLD row of 100;
    // inserts the new 100 and 99999. Untouched rows of the rewritten
    // files must cancel; carried files must not even be read.
    val ch = TxnTable.changes(spark, dir, fromV = 1)
    val rows = ch.select("_change_type", "k", "payload")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(rows == Set(
      ("delete", 3000L, 6000L), ("delete", 3001L, 6002L),
      ("delete", 100L, 200L),
      ("insert", 100L, -1L), ("insert", 99999L, -2L)))
    // file-diff economy: the plan's inputs are exactly the added ∪
    // removed files — no carried-by-reference file is opened
    val carried = (TxnTable.liveFiles(dir, 1).toSet &
      TxnTable.liveFiles(dir).toSet).map(rel => s"$dir/$rel")
    val inputs = ch.inputFiles.map(_.stripPrefix("file:")).toSet
    assert(carried.nonEmpty, "fixture must carry files by reference")
    assert((inputs & carried).isEmpty,
      s"CDC read carried files: ${inputs & carried}")
    // incremental consumption: v2 -> v3 sees only the upsert
    val tail = TxnTable.changes(spark, dir, fromV = 2)
      .select("_change_type", "k").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(tail == Set(("delete", 100L), ("insert", 100L),
      ("insert", 99999L)))
  }

  test("changes() digest pre-pass (r21): wide rows diff on a 96-bit " +
      "digest first, exact exceptAll runs on survivors only; narrow " +
      "rows stay on the direct path") {
    import spark.implicits._
    // WIDE table (8 longs + a string ≈ 84 estimated bytes ≥ the gate):
    // the digest legs must engage — and the result must equal the
    // snapshot-level multiset difference regardless
    val dir = graft.core.TempDirs.scratchShared("txndigest")
    val base = (0L until 4000L).toDF("k")
      .select(col("k") +: (1 to 7).map(i => (col("k") * i).as(s"p$i"))
        :+ concat(lit("row-"), col("k")).as("tag"): _*)
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
    TxnTable.init(spark, dir, base, numFiles = 0, statsCols = Seq("k"))
    TxnTable.deleteKeys(spark, dir, "k", Seq(1500L, 1501L)) // v2
    TxnTable.upsert(spark, dir, "k", // v3: replace 200, insert 77777
      Seq(200L, 77777L).toDF("k")
        .select(col("k") +: (1 to 7).map(i => lit(-i.toLong).as(s"p$i"))
          :+ lit("upserted").as("tag"): _*))
    val ch = TxnTable.changes(spark, dir, fromV = 1)
    val plan = ch.queryExecution.executedPlan.toString
    assert(plan.contains("xxhash64") && plan.contains("LeftSemi"),
      s"digest pre-pass did not engage on a wide schema:\n$plan")
    // parity dual: net CDC over the file diff ≡ multiset difference of
    // the full snapshots (carried rows cancel either way)
    val v3 = TxnTable.read(spark, dir)
    val v1 = TxnTable.read(spark, dir, v = 1)
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "p7", "tag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sorted
    assert(keyed(ch.filter(col("_change_type") === "insert")
        .drop("_change_type")) == keyed(v3.exceptAll(v1)),
      "digest-pruned inserts must equal the snapshot multiset diff")
    assert(keyed(ch.filter(col("_change_type") === "delete")
        .drop("_change_type")) == keyed(v1.exceptAll(v3)),
      "digest-pruned deletes must equal the snapshot multiset diff")
    // NARROW table (16 estimated bytes < the gate): direct exceptAll,
    // no digest machinery in the plan — measured locally the digest
    // legs are pure added jobs at this width
    val nd = graft.core.TempDirs.scratchShared("txndigestn")
    TxnTable.init(spark, nd,
      (0L until 1000L).toDF("k").withColumn("p", col("k") * 2)
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      numFiles = 0, statsCols = Seq("k"))
    TxnTable.deleteKeys(spark, nd, "k", Seq(10L))
    val nplan = TxnTable.changes(spark, nd, fromV = 1)
      .queryExecution.executedPlan.toString
    assert(!nplan.contains("xxhash64"),
      s"narrow schema must stay on the direct exceptAll path:\n$nplan")
  }

  /** The multiset difference `a − b` of two collected snapshots: what
    * the direct exceptAll path computes, done on the driver. */
  private def minus(a: Seq[Row], b: Seq[Row]): Map[Row, Int] = {
    val nb = b.groupBy(identity).map { case (r, rs) => r -> rs.size }
    a.groupBy(identity).map { case (r, rs) =>
      r -> (rs.size - nb.getOrElse(r, 0)) }.filter(_._2 > 0)
  }

  /** `changes(fromV = 1)`, executed, against the snapshot multiset
    * difference. */
  private def assertChangesMatchSnapshots(dir: String): DataFrame = {
    val ch = TxnTable.changes(spark, dir, fromV = 1)
    val byType = ch.collect().toSeq.groupBy(_.getAs[String]("_change_type"))
    val v1 = TxnTable.read(spark, dir, v = 1).collect().toSeq
    val vn = TxnTable.read(spark, dir).collect().toSeq
    def side(t: String) = byType.getOrElse(t, Nil)
      .map(r => Row.fromSeq(r.toSeq.init))
      .groupBy(identity).map { case (r, rs) => r -> rs.size }
    assert(side("insert") == minus(vn, v1), "inserts != snapshot diff")
    assert(side("delete") == minus(v1, vn), "deletes != snapshot diff")
    ch
  }

  /** 4000 rows of 8 longs + a string (≈ 84 estimated bytes/row, over
    * the digest gate) plus `extra` columns; v2 deletes 2 keys, v3
    * upserts `upserted` keys with new payloads. */
  private def wideTable(tag: String, upserted: Seq[Long],
      extra: Seq[Column] = Nil): String = {
    import spark.implicits._
    def cols(k: Column, p: Int => Column, t: Column) =
      (k.as("k") +: (1 to 7).map(i => p(i).as(s"p$i")) :+ t.as("tag")) ++
        extra
    val dir = graft.core.TempDirs.scratchShared(tag)
    TxnTable.init(spark, dir, (0L until 4000L).toDF("k")
      .select(cols(col("k"), col("k") * _,
        concat(lit("row-"), col("k"))): _*)
      .repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      numFiles = 0, statsCols = Seq("k"))
    TxnTable.deleteKeys(spark, dir, "k", Seq(1500L, 1501L))
    TxnTable.upsert(spark, dir, "k", upserted.toDF("k")
      .select(cols(col("k"), i => lit(-i.toLong), lit("upserted")): _*))
    dir
  }

  test("changes() digest pre-pass broadcasts the hot set of a small " +
      "change: no full-width exchange on the data side of the semi-join") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      SortMergeJoinExec}
    object H extends AdaptiveSparkPlanHelper
    val dir = wideTable("txndigestbcast", Seq(200L, 77777L))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(key)
    // at the default threshold, and at one below the planner's estimate
    // of the hot set (≈ the digest aggregates of the rewritten files, so
    // a large rewrite with a small net change looks like this)
    for (threshold <- Seq(prior, "1024")) {
      spark.conf.set(key, threshold)
      try {
        val plan = assertChangesMatchSnapshots(dir).queryExecution.executedPlan
        val semis = H.collect(plan) {
          case j: BroadcastHashJoinExec if j.joinType == LeftSemi => j }
        assert(semis.nonEmpty, s"hot set not broadcast at $threshold:\n$plan")
        assert(H.collect(plan) {
            case j: SortMergeJoinExec if j.joinType == LeftSemi => j }.isEmpty,
          s"digest semi-join sort-merged at $threshold:\n$plan")
        semis.foreach(j => assert(
          H.collect(j.left) { case e: ShuffleExchangeLike => e }.isEmpty,
          s"data side shuffled before the semi-join at $threshold:\n$plan"))
      } finally spark.conf.set(key, prior)
    }
  }

  test("changes() digest pre-pass on a wide table with user columns " +
      "named _rd1 and _RD2 equals the snapshot multiset difference") {
    val dir = wideTable("txndigestrd", Seq(200L, 77777L),
      Seq((col("k") % 5).as("_rd1"), lit("x").as("_RD2")))
    val plan = assertChangesMatchSnapshots(dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("xxhash64"),
      s"digest pre-pass did not engage past the _rd1 column:\n$plan")
  }

  test("CDC deltas maintain a rollup exactly equal to a full recompute") {
    val dir = graft.core.TempDirs.scratchShared("txntable")
    import spark.implicits._
    TxnTable.init(spark, dir,
      graft.core.Tables.orders(spark, sf)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"),
      numFiles = 0, statsCols = Seq("o_orderkey"))
    val keys = Seq("o_orderstatus")
    val sums = Seq("o_totalprice")
    def snap(v: Int = -1) =
      TxnTable.rollupOf(TxnTable.read(spark, dir, v), keys, sums)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2))).toSet
    val v1Rollup = snap(1)
    TxnTable.deleteKeys(spark, dir, "o_orderkey", Seq(1L, 3L, 5L)) // v2
    TxnTable.upsert(spark, dir, "o_orderkey",
      Seq((2L, "Z", 42.5), (7777777L, "Z", 17.25))
        .toDF("o_orderkey", "o_orderstatus", "o_totalprice")) // v3
    // one-shot: fold v1->v3 changes into the v1 rollup
    val oneShot = TxnTable.applyCdcDelta(v1Rollup,
      TxnTable.changes(spark, dir, fromV = 1), keys, sums)
    assert(rows(oneShot) == rows(snap()),
      "delta-maintained rollup must equal the full recompute exactly")
    // chained: v1->v2 then v2->v3 lands in the same place
    val chained = TxnTable.applyCdcDelta(
      TxnTable.applyCdcDelta(v1Rollup,
        TxnTable.changes(spark, dir, 1, 2), keys, sums),
      TxnTable.changes(spark, dir, 2, 3), keys, sums)
    assert(rows(chained) == rows(snap()),
      "per-commit incremental application must converge identically")
    // a fully-deleted group disappears from the maintained rollup
    val zKeys = TxnTable.read(spark, dir)
      .filter(col("o_orderstatus") === "Z")
      .select("o_orderkey").collect().map(_.getLong(0)).toSeq
    TxnTable.deleteKeys(spark, dir, "o_orderkey", zKeys) // v4
    val afterDrop = TxnTable.applyCdcDelta(oneShot,
      TxnTable.changes(spark, dir, 3, 4), keys, sums)
    assert(rows(afterDrop) == rows(snap()))
    assert(!afterDrop.collect().exists(_.getString(0) == "Z"),
      "a group whose rows are all deleted must vanish")
  }

  test("changes() aligns schemas across column evolution") {
    val dir = graft.core.TempDirs.scratchShared("txntable")
    import spark.implicits._
    TxnTable.init(spark, dir,
      (0L until 100L).toDF("k").withColumn("payload", col("k")),
      numFiles = 1)
    TxnTable.upsert(spark, dir, "k",
      Seq((50L, 500L, "note")).toDF("k", "payload", "note"), numFiles = 1)
    val ch = TxnTable.changes(spark, dir, fromV = 1)
    assert(ch.columns.toSet == Set("k", "payload", "note", "_change_type"))
    val byType = ch.collect().map(r =>
      (r.getAs[String]("_change_type"), r.getAs[Long]("k"),
        r.getAs[Any]("note"))).toSet
    // the old row reads the evolved column as null on the delete side
    assert(byType == Set(("delete", 50L, null), ("insert", 50L, "note")))
  }

  test("randomized mutation histories: snapshot ≡ model, CDC-maintained rollup ≡ recompute") {
    import spark.implicits._
    // three seeded random histories of deletes/upserts against a
    // driver-side model map — pins snapshot semantics AND the
    // changes()/applyCdcDelta loop on histories nobody hand-picked
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val dir = graft.core.TempDirs.scratchShared(s"txnprop$seed")
      var model: Map[Long, (String, Long)] = (0L until 200L)
        .map(k => k -> (s"g${k % 5}", k * 10)).toMap
      TxnTable.init(spark, dir,
        model.toSeq.map { case (k, (g, v)) => (k, g, v) }
          .toDF("k", "g", "v")
          .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
        numFiles = 0, statsCols = Seq("k"))
      for (_ <- 1 to 4) {
        rnd.nextInt(3) match {
          case 0 =>
            val ks = Seq.fill(rnd.nextInt(8) + 1)(rnd.nextLong(260L)).distinct
            TxnTable.deleteKeys(spark, dir, "k", ks)
            model = model -- ks
          case 1 =>
            val rows = Seq.fill(rnd.nextInt(6) + 1)(rnd.nextLong(260L))
              .distinct.map(k => (k, s"g${rnd.nextInt(7)}", rnd.nextLong(1000L)))
            TxnTable.upsert(spark, dir, "k",
              rows.toDF("k", "g", "v"), numFiles = 2)
            model = model ++ rows.map { case (k, g, v) => k -> (g, v) }
          case _ =>
            // the _op-tagged CDC batch shape through mergeFrame: one
            // frame, mixed deletes + upserts, disjoint keys
            val ks = Seq.fill(rnd.nextInt(8) + 2)(rnd.nextLong(260L)).distinct
            val (delK, upK) = ks.splitAt(ks.length / 2)
            val rows =
              delK.map(k => (k, "", 0L, "delete")) ++
                upK.map(k => (k, s"g${rnd.nextInt(7)}", rnd.nextLong(1000L),
                  "upsert"))
            TxnTable.mergeFrame(spark, dir, "k",
              rows.toDF("k", "g", "v", "_op"), numFiles = 2)
            model = model -- delK ++
              rows.collect { case (k, g, v, "upsert") => k -> (g, v) }
        }
      }
      val got = TxnTable.read(spark, dir).collect()
        .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toSet
      assert(got == model.toSet, s"seed $seed: snapshot != model")
      // follower: fold every per-version change set into the v1 rollup
      val keys = Seq("g"); val sums = Seq("v")
      val maintained = (2 to TxnTable.version(dir))
        .foldLeft(TxnTable.rollupOf(
          TxnTable.read(spark, dir, v = 1), keys, sums)) { (roll, v) =>
          TxnTable.applyCdcDelta(roll,
            TxnTable.changes(spark, dir, v - 1, v), keys, sums)
        }
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
      assert(canon(maintained) ==
        canon(TxnTable.rollupOf(TxnTable.read(spark, dir), keys, sums)),
        s"seed $seed: maintained rollup != recompute")
    }
  }

  test("merge applies deletes + upserts in ONE atomic version") {
    import spark.implicits._
    def build(): String = {
      val dir = graft.core.TempDirs.scratchShared("txnmerge")
      TxnTable.init(spark, dir,
        (0L until 1000L).toDF("k").withColumn("payload", col("k") * 2)
          .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
        numFiles = 0, statsCols = Seq("k"))
      dir
    }
    val updates = Seq((10L, -1L), (2000L, -2L)).toDF("k", "payload")
    // reference behavior: the same batch as two sequential commits
    val seqDir = build()
    TxnTable.deleteKeys(spark, seqDir, "k", Seq(5L, 6L))
    TxnTable.upsert(spark, seqDir, "k", updates)
    // merge: one commit, one version
    val mDir = build()
    TxnTable.merge(spark, mDir, "k", updates, deletes = Seq(5L, 6L))
    assert(TxnTable.version(mDir) == 2,
      "a mixed batch must publish exactly one new version")
    assert(TxnTable.version(seqDir) == 3)
    def rows(dir: String) = TxnTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(mDir) == rows(seqDir),
      "merge must land exactly where delete-then-upsert lands")
    // the CDC of the merge is the whole batch as one change set
    val ch = TxnTable.changes(spark, mDir, fromV = 1)
      .select("_change_type", "k").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(ch == Set(("delete", 5L), ("delete", 6L), ("delete", 10L),
      ("insert", 10L), ("insert", 2000L)))
  }

  test("racing commits to the same version: one wins, the other fails loudly") {
    val dir = graft.core.TempDirs.scratchShared("txntable")
    import spark.implicits._
    TxnTable.init(spark, dir,
      (0L until 100L).toDF("k").withColumn("payload", col("k")),
      numFiles = 1)
    val entries = TxnTable.liveEntries(dir)
    TxnTable.writeManifest(dir, 2, entries) // writer A commits v2
    // writer B planned against v1 and tries to publish its own v2:
    // the exclusive hard-link publish must refuse, never last-wins
    val ex = intercept[java.util.ConcurrentModificationException] {
      TxnTable.writeManifest(dir, 2, entries.take(0))
    }
    assert(ex.getMessage.contains("re-plan"))
    assert(TxnTable.liveFiles(dir, 2) == entries.map(_.path),
      "the winner's manifest must be untouched by the loser's attempt")
    // the loser re-plans against the winner and lands as v3
    TxnTable.writeManifest(dir, 3, entries)
    assert(TxnTable.version(dir) == 3)
  }

  test("no-hardlink publish fallback is a true test-and-set under a thread race") {
    // the link-less path (overlayfs/FUSE/FAT) claims the version with
    // an exclusive lock-file create before moving — N racers through
    // the manifest publish must yield exactly ONE committed manifest,
    // with the winner's bytes intact (an exists-then-move pair would
    // let two racers both "succeed" and silently lose one commit)
    val dir = graft.core.TempDirs.scratchShared("txnlock")
    new java.io.File(dir).mkdirs()
    val n = 8
    val gate = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Int]]()
    graft.core.AtomicFiles.disableLinksForTest = true
    try {
      val threads = (0 until n).map { i =>
        val t = new Thread(() => {
          gate.await()
          try {
            TxnTable.publishManifest(dir, 2, s"writer-$i".getBytes("UTF-8"))
            results.add(Right(i))
          } catch { case e: Throwable => results.add(Left(e)) }
          ()
        })
        t.start(); t
      }
      gate.countDown()
      threads.foreach(_.join())
    } finally graft.core.AtomicFiles.disableLinksForTest = false
    val (losers, winners) = {
      import scala.jdk.CollectionConverters._
      results.asScala.toSeq.partition(_.isLeft)
    }
    assert(winners.size == 1, s"exactly one racer must claim v2: $results")
    assert(losers.size == n - 1 && losers.forall(_.left.exists(
      _.isInstanceOf[java.util.ConcurrentModificationException])),
      s"every loser must fail loudly with CME: $losers")
    val winner = winners.head.toOption.get
    val body = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "manifest-v2.json").toPath), "UTF-8")
    assert(body == s"writer-$winner",
      s"committed manifest must be the claim winner's bytes: $body vs writer-$winner")
  }

  test("a torn write (commit files, no manifest) is invisible and vacuumable") {
    val dir = freshTable()
    import spark.implicits._
    val rows = TxnTable.read(spark, dir).count()
    // simulate a writer crash AFTER the commit dir landed but BEFORE
    // the manifest rename: data files exist, no manifest references
    // them — the atomic rename is the commit point
    val orphan = new java.io.File(dir, "files/dead-commit")
    orphan.mkdirs()
    (0L until 10L).toDF("k").write.mode("overwrite")
      .parquet(orphan.getAbsolutePath)
    assert(TxnTable.read(spark, dir).count() == rows,
      "readers must never see an uncommitted write")
    assert(TxnTable.version(dir) == 1)
    TxnTable.vacuum(dir, keepSince = 1, force = true)
    assert(!orphan.exists(),
      "vacuum must clean up the crashed writer's orphans")
    assert(TxnTable.read(spark, dir).count() == rows)
  }

  test("a planned read pins its snapshot across later mutations") {
    val dir = freshTable()
    // the manifest is resolved at DataFrame construction, so a reader
    // holding a plan keeps its version even while writers commit —
    // snapshot isolation without locks (files live until vacuum, the
    // same reader-vs-retention contract every manifest table has)
    val pinned = TxnTable.read(spark, dir)
    val before = pinned.count()
    val keys = TxnTable.read(spark, dir).orderBy("o_orderkey").limit(5)
      .collect().map(_.getLong(0)).toSeq
    TxnTable.deleteKeys(spark, dir, "o_orderkey", keys)
    assert(pinned.count() == before,
      "an already-planned reader must keep its snapshot")
    assert(TxnTable.read(spark, dir).count() == before - 5,
      "a new reader sees the mutation")
  }

  test("a slow writer overlapped by a fast one re-plans — no lost update") {
    // THE lost-update scenario: writer A plans against v1 and spends
    // seconds rewriting; writer B commits v2 meanwhile. A publishes at
    // its PLANNED version + 1 (= B's v2) → collides → re-plans against
    // B's manifest and lands as v3 carrying BOTH mutations. Publishing
    // at latest-at-commit-time + 1 (the bug this pins) would have
    // silently dropped B's files from A's higher manifest.
    val dir = graft.core.TempDirs.scratchShared("txntable")
    import spark.implicits._
    TxnTable.init(spark, dir,
      (0L until 1000L).toDF("k").withColumn("payload", col("k"))
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      numFiles = 0, statsCols = Seq("k"))
    // B's commit fires in A's plan→publish window, exactly once
    var fired = false
    TxnTable.onBeforeCommit = () => {
      if (!fired) {
        fired = true
        TxnTable.deleteKeys(spark, dir, "k", Seq(900L)) // writer B
      }
    }
    try TxnTable.upsert(spark, dir, "k", // writer A
      Seq((100L, -1L), (2000L, -2L)).toDF("k", "payload"))
    finally TxnTable.onBeforeCommit = () => ()
    assert(fired)
    // init=v1, B=v2, A's losing attempt burned nothing, A retried=v3
    assert(TxnTable.version(dir) == 3,
      "both writers must land, serialized by the manifest log")
    val after = TxnTable.read(spark, dir)
    assert(after.filter(col("k") === 900L).count() == 0,
      "writer B's delete must survive writer A's overlapping commit")
    assert(after.filter(col("k") === 100L && col("payload") === -1L)
      .count() == 1 &&
      after.filter(col("k") === 2000L).count() == 1,
      "writer A's upsert must land after its re-plan")
    assert(after.count() == 1000 - 1 + 1)
    // A's losing attempt orphaned its commit dirs; vacuum reclaims
    // them and every live version still reads
    val orphanable = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      val referenced = (1 to 3)
        .flatMap(v => TxnTable.liveFiles(dir, v)).toSet
      walk(new java.io.File(dir, "files"))
        .filter(_.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath.stripPrefix(dir + "/"))
        .filterNot(referenced)
    }
    assert(orphanable.nonEmpty,
      "the losing attempt must have left orphaned commit files")
    TxnTable.vacuum(dir, keepSince = 3, force = true)
    assert(TxnTable.read(spark, dir).count() == 1000)
  }

  test("two concurrent writer THREADS both land under OCC retry") {
    // the hook-based race above pins the deterministic interleave;
    // this one runs two real writers concurrently — whatever the
    // actual overlap turns out to be (full collision + retry, or
    // accidental serialization), both mutations must commit and the
    // final state must reflect both
    val dir = graft.core.TempDirs.scratchShared("txnrace")
    import spark.implicits._
    TxnTable.init(spark, dir,
      (0L until 2000L).toDF("k").withColumn("payload", col("k"))
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      numFiles = 0, statsCols = Seq("k"))
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutor(pool)
    try {
      val a = Future {
        TxnTable.deleteKeys(spark, dir, "k", Seq(100L, 101L)) }
      val b = Future {
        TxnTable.upsert(spark, dir, "k",
          Seq((200L, -5L), (5000L, -6L)).toDF("k", "payload")) }
      Await.result(Future.sequence(Seq(a.map(_ => ()), b.map(_ => ()))),
        180.seconds)
    } finally pool.shutdown()
    assert(TxnTable.version(dir) == 3,
      "both writers must commit, serialized by the manifest log")
    val after = TxnTable.read(spark, dir)
    assert(after.filter(col("k").isin(100L, 101L)).count() == 0,
      "the delete must survive")
    assert(after.filter(col("k") === 200L && col("payload") === -5L)
      .count() == 1 && after.filter(col("k") === 5000L).count() == 1,
      "the upsert must survive")
    assert(after.count() == 2000 - 2 + 1)
  }

  test("NULL-key rows survive delete/upsert/merge rewrites of their file") {
    val dir = graft.core.TempDirs.scratchShared("txntable")
    import spark.implicits._
    // one file holding keys 0-99 AND two NULL-key rows: any mutation
    // in that key range rewrites the file, and SQL three-valued logic
    // says NULL ∉ {keys} is UNKNOWN → the rows must be KEPT (the old
    // !isin filter evaluated to NULL and silently dropped them)
    val src = (0L until 100L).map(k => (Option(k), k * 2)) ++
      Seq((Option.empty[Long], -1L), (Option.empty[Long], -2L))
    TxnTable.init(spark, dir, src.toDF("k", "payload"), numFiles = 1)
    def nullRows() = TxnTable.read(spark, dir)
      .filter(col("k").isNull).count()
    assert(nullRows() == 2)
    TxnTable.deleteKeys(spark, dir, "k", Seq(10L))
    assert(nullRows() == 2, "deleteKeys must not drop NULL-key rows")
    TxnTable.upsert(spark, dir, "k", Seq((20L, 999L)).toDF("k", "payload"))
    assert(nullRows() == 2, "upsert must not drop NULL-key rows")
    TxnTable.merge(spark, dir, "k",
      Seq((30L, 888L)).toDF("k", "payload"), deletes = Seq(40L))
    assert(nullRows() == 2, "merge must not drop NULL-key rows")
    assert(TxnTable.read(spark, dir).count() == 100 + 2 - 2,
      "only keys 10 and 40 disappear; 20/30 replaced in place")
  }

  test("a 10^6-key upsert stays distributed: anti-join rewrite, no key collect") {
    val dir = graft.core.TempDirs.scratchShared("txntable")
    import spark.implicits._
    TxnTable.init(spark, dir,
      (0L until 2000000L).toDF("k").withColumn("payload", col("k") * 2)
        .repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      numFiles = 0, statsCols = Seq("k"))
    // a million-key correction batch confined to the lower half of the
    // key space: as a driver-side isin literal this would be a 10^6-
    // node expression tree (minutes to even construct); as a frame it
    // is ordinary distributed data
    val updates = (0L until 1000000L).toDF("k")
      .withColumn("payload", -col("k"))
    // plan shape: the survivors must rewrite via LEFT ANTI join —
    // never a literal IN tree
    val plans = ServeProbes.plansDuring(spark) {
      TxnTable.upsert(spark, dir, "k", updates, numFiles = 8) }
    assertAntiJoinOnly(plans)
    val after = TxnTable.read(spark, dir)
    assert(after.count() == 2000000L)
    assert(after.filter(col("k") < 1000000L && col("payload") =!= -col("k"))
      .count() == 0, "every matched key must carry the corrected row")
    assert(after.filter(col("k") >= 1000000L && col("payload") =!= col("k") * 2)
      .count() == 0, "unmatched rows must be untouched")
    // file economy still holds at this key scale: upper-half files
    // carry over by reference
    val carried = TxnTable.liveFiles(dir, 1).toSet &
      TxnTable.liveFiles(dir).toSet
    assert(carried.nonEmpty,
      "range pruning must carry the unmatched half by reference")
  }

  test("a deleteKeys list over literalKeyMax takes the anti-join carrier; NULL-key rows survive") {
    val dir = graft.core.TempDirs.scratchShared("txntable")
    import spark.implicits._
    val n = TxnTable.literalKeyMax + 1
    val src = (0L until 3L * n).map(k => (Option(k), k * 2)) :+
      ((Option.empty[Long], -1L))
    TxnTable.init(spark, dir, src.toDF("k", "payload")
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      numFiles = 0, statsCols = Seq("k"))
    // every even key below 2n: one key past the literal carrier's
    // limit, spread over the lower files — the NULL-key row's included
    val keys = (0L until 2L * n by 2L)
    assert(keys.size == n)
    var rewritten = 0
    val plans = ServeProbes.plansDuring(spark) {
      rewritten = TxnTable.deleteKeys(spark, dir, "k", keys) }
    assert(rewritten > 0 && TxnTable.version(dir) == 2)
    assertAntiJoinOnly(plans)
    val gone = keys.toSet
    val model = src.filter(_._1.forall(k => !gone(k))).toSet
    val after = TxnTable.read(spark, dir).as[(Option[Long], Long)].collect()
    assert(after.length == model.size && after.toSet == model,
      "the result must equal the model's, the NULL-key row included")
  }

  test("CHECK constraints reject bad batches atomically; NULL passes; drop lifts") {
    val dir = graft.core.TempDirs.scratchShared("txncheck")
    import spark.implicits._
    TxnTable.init(spark, dir,
      (0L until 100L).map(k => (k, k * 10)).toDF("k", "v"),
      numFiles = 1, statsCols = Seq("k"))
    // a constraint the table already violates is refused up front
    val bad = intercept[IllegalArgumentException] {
      TxnTable.addConstraint(spark, dir, "v_small", "v < 100")
    }
    assert(bad.getMessage.contains("existing rows"), bad.getMessage)
    TxnTable.addConstraint(spark, dir, "v_nonneg", "v >= 0")
    TxnTable.addConstraint(spark, dir, "k_bounded", "k < 100000")
    assert(TxnTable.constraints(dir).map(_._1) ==
      Seq("v_nonneg", "k_bounded"))
    val v0 = TxnTable.version(dir)
    // a violating upsert is rejected BEFORE anything lands: same
    // version, no orphan commit dirs beyond the initial one
    val rej = intercept[IllegalArgumentException] {
      TxnTable.upsert(spark, dir, "k", Seq((5L, -1L)).toDF("k", "v"))
    }
    assert(rej.getMessage.contains("v_nonneg") &&
      rej.getMessage.contains("no version was committed"), rej.getMessage)
    assert(TxnTable.version(dir) == v0, "rejected batch must not commit")
    assert(Option(new java.io.File(dir, "files").listFiles())
      .get.length == 1, "rejected batch must leave no orphan commit dir")
    // mergeFrame: only the post-compaction UPSERT winners are judged —
    // a delete event's filler payload violating the constraint is fine
    TxnTable.mergeFrame(spark, dir, "k",
      Seq((7L, -999L, "delete", 1L), (8L, 888L, "upsert", 1L))
        .toDF("k", "v", "_op", "seq"), seqCol = Some("seq"))
    assert(TxnTable.read(spark, dir).filter(col("k") === 7L).count() == 0)
    // NULL predicate result passes (SQL CHECK semantics)
    TxnTable.upsert(spark, dir, "k",
      Seq((Option(9L), Option.empty[Long])).toDF("k", "v"))
    assert(TxnTable.read(spark, dir).filter(col("k") === 9L)
      .first().isNullAt(1))
    // empty names/predicates would write a line the parser can never
    // read back (wedging every future mutation) — rejected up front
    intercept[IllegalArgumentException] {
      TxnTable.addConstraint(spark, dir, "", "v >= 0")
    }
    intercept[IllegalArgumentException] {
      TxnTable.addConstraint(spark, dir, "x", "")
    }
    // a batch that OMITS a constrained column passes: those rows read
    // back with the column NULL, and SQL CHECK passes NULL — the
    // schema-evolution contract must not be vetoed by the guard
    TxnTable.upsert(spark, dir, "k", Seq(Tuple1(11L)).toDF("k"))
    assert(TxnTable.read(spark, dir).filter(col("k") === 11L)
      .first().isNullAt(1), "narrow batch must land with v = NULL")
    // a null-REJECTING constraint must see omitted columns as the
    // typed NULLs they will read back as — and reject the batch (a
    // skip-on-unresolved shortcut would wave it through silently)
    val dir2 = graft.core.TempDirs.scratchShared("txncheck2")
    TxnTable.init(spark, dir2, Seq((1L, 5L)).toDF("k", "v"),
      numFiles = 1, statsCols = Seq("k"))
    TxnTable.addConstraint(spark, dir2, "v_req", "v IS NOT NULL")
    val nr = intercept[IllegalArgumentException] {
      TxnTable.upsert(spark, dir2, "k", Seq(Tuple1(2L)).toDF("k"))
    }
    assert(nr.getMessage.contains("v_req"), nr.getMessage)
    // drop lifts the guard
    TxnTable.dropConstraint(dir, "v_nonneg")
    assert(TxnTable.constraints(dir).map(_._1) == Seq("k_bounded"))
    TxnTable.upsert(spark, dir, "k", Seq((5L, -1L)).toDF("k", "v"))
    assert(TxnTable.read(spark, dir).filter(col("k") === 5L)
      .first().getLong(1) == -1L)
  }

  test("randomized histories WITH renames: snapshot ≡ model under live schema evolution") {
    import spark.implicits._
    // the colmap channel under histories nobody hand-picked: renames
    // interleave with deletes/upserts/CDC batches, every mutation
    // writes the THEN-CURRENT logical spelling, and the final
    // snapshot, per-version time travel, and a one-shot CDC fold must
    // all agree with the driver-side model
    var totalRenames = 0
    for (seed <- Seq(3, 11)) {
      val rnd = new scala.util.Random(seed)
      val dir = graft.core.TempDirs.scratchShared(s"txnren$seed")
      var model: Map[Long, (String, Long)] = (0L until 150L)
        .map(k => k -> (s"g${k % 5}", k * 10)).toMap
      var vName = "v"
      val nameAt = scala.collection.mutable.Map(1 -> vName)
      TxnTable.init(spark, dir,
        model.toSeq.map { case (k, (g, v)) => (k, g, v) }
          .toDF("k", "g", vName)
          .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
        numFiles = 0, statsCols = Seq("k"))
      for (step <- 1 to 6) {
        rnd.nextInt(4) match {
          case 0 =>
            val ks = Seq.fill(rnd.nextInt(8) + 1)(rnd.nextLong(200L)).distinct
            TxnTable.deleteKeys(spark, dir, "k", ks)
            model = model -- ks
          case 1 =>
            val rows = Seq.fill(rnd.nextInt(6) + 1)(rnd.nextLong(200L))
              .distinct.map(k => (k, s"g${rnd.nextInt(7)}", rnd.nextLong(1000L)))
            TxnTable.upsert(spark, dir, "k",
              rows.toDF("k", "g", vName), numFiles = 2)
            model = model ++ rows.map { case (k, g, v) => k -> (g, v) }
          case 2 =>
            val ks = Seq.fill(rnd.nextInt(8) + 2)(rnd.nextLong(200L)).distinct
            val (delK, upK) = ks.splitAt(ks.length / 2)
            val rows =
              delK.map(k => (k, "", 0L, "delete")) ++
                upK.map(k => (k, s"g${rnd.nextInt(7)}", rnd.nextLong(1000L),
                  "upsert"))
            TxnTable.mergeFrame(spark, dir, "k",
              rows.toDF("k", "g", vName, "_op"), numFiles = 2)
            model = model -- delK ++
              rows.collect { case (k, g, v, "upsert") => k -> (g, v) }
          case _ =>
            val next = s"v$step"
            TxnTable.renameColumn(spark, dir, vName, next)
            vName = next
            totalRenames += 1
        }
        nameAt(TxnTable.version(dir)) = vName
      }
      // final snapshot: current logical name, model-exact contents
      val now = TxnTable.read(spark, dir)
      assert(now.columns.toSeq == Seq("k", "g", vName),
        s"seed $seed: final logical schema")
      val got = now.collect()
        .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toSet
      assert(got == model.toSet, s"seed $seed: snapshot != model")
      // time travel surfaces the name in force at EVERY version
      nameAt.foreach { case (ver, n) =>
        assert(TxnTable.read(spark, dir, ver).columns.toSeq ==
          Seq("k", "g", n), s"seed $seed v$ver: time-travel schema")
      }
      // one-shot CDC fold across the whole (rename-bearing) history
      // aligns to the FINAL logical names and lands on the recompute
      val keys = Seq("g"); val sums = Seq(vName)
      val base = TxnTable.rollupOf(TxnTable.read(spark, dir, v = 1)
        .withColumnRenamed(nameAt(1), vName), keys, sums)
      val folded = TxnTable.applyCdcDelta(base,
        TxnTable.changes(spark, dir, 1), keys, sums)
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
      assert(canon(folded) ==
        canon(TxnTable.rollupOf(now, keys, sums)),
        s"seed $seed: CDC fold across renames != recompute")
    }
    assert(totalRenames >= 2,
      s"seeds exercised only $totalRenames renames — pick richer seeds")
  }

  test("constraint set rides the manifest log: declare-vs-writer races serialize") {
    val dir = graft.core.TempDirs.scratchShared("txnrace1")
    import spark.implicits._
    TxnTable.init(spark, dir,
      (0L until 50L).map(k => (k, k * 10)).toDF("k", "v"),
      numFiles = 1, statsCols = Seq("k"))
    // RACE A — declare wins the version slot: a mutation carrying a
    // violating row is past enforcement (old, empty set) when the
    // declaration commits. The mutation's publish collides, its OCC
    // retry re-enforces against the NEW set, and the batch is
    // rejected — the declared constraint is never violated.
    var fired = false
    TxnTable.onBeforeCommit = () => {
      if (!fired) {
        fired = true
        TxnTable.addConstraint(spark, dir, "v_nonneg", "v >= 0")
      }
    }
    val rej = try intercept[IllegalArgumentException] {
      TxnTable.upsert(spark, dir, "k", Seq((5L, -1L)).toDF("k", "v"))
    } finally TxnTable.onBeforeCommit = () => ()
    assert(fired)
    assert(rej.getMessage.contains("v_nonneg"), rej.getMessage)
    assert(TxnTable.read(spark, dir).filter(col("v") < 0).count() == 0,
      "no committed row may violate the declared constraint")
    assert(TxnTable.constraints(dir).map(_._1) == Seq("v_nonneg"))
    // RACE B — the mutation wins the slot: a declare that validated
    // the pre-mutation snapshot loses its publish, retries, and
    // re-validates INCLUDING the freshly-committed violating rows —
    // the declare fails loudly instead of landing a lie.
    TxnTable.dropConstraint(dir, "v_nonneg")
    var fired2 = false
    TxnTable.onBeforeCommit = () => {
      if (!fired2) {
        fired2 = true
        TxnTable.upsert(spark, dir, "k", Seq((7L, -7L)).toDF("k", "v"))
      }
    }
    val lost = try intercept[IllegalArgumentException] {
      TxnTable.addConstraint(spark, dir, "v_nonneg2", "v >= 0")
    } finally TxnTable.onBeforeCommit = () => ()
    assert(fired2)
    assert(lost.getMessage.contains("existing rows"), lost.getMessage)
    assert(TxnTable.constraints(dir).isEmpty,
      "the failed declare must leave no constraint behind")
    assert(TxnTable.read(spark, dir)
      .filter(col("k") === 7L && col("v") === -7L).count() == 1,
      "the winning mutation's rows stay committed")
  }

  test("concurrent declarations: both land, neither lost, epochs time-travel") {
    val dir = graft.core.TempDirs.scratchShared("txnrace2")
    import spark.implicits._
    TxnTable.init(spark, dir,
      (0L until 20L).map(k => (k, k)).toDF("k", "v"),
      numFiles = 1, statsCols = Seq("k"))
    val v1 = TxnTable.version(dir)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // the old flat-file read-modify-write silently dropped one of two
    // racing declares; the epoch claim + OCC retry serializes them
    val fs = Seq("c_a" -> "v >= 0", "c_b" -> "k >= 0").map { case (n, p) =>
      Future(TxnTable.addConstraint(spark, dir, n, p))
    }
    fs.foreach(Await.result(_, 60.seconds))
    assert(TxnTable.constraints(dir).map(_._1).toSet == Set("c_a", "c_b"),
      "both concurrent declarations must survive")
    assert(TxnTable.version(dir) == v1 + 2,
      "each declaration commits its own serialized version")
    // time travel sees the set in force at each version
    assert(TxnTable.constraintsAt(dir, v1).isEmpty)
    assert(TxnTable.constraintsAt(dir, v1 + 1).size == 1)
    assert(TxnTable.constraintsAt(dir, v1 + 2).size == 2)
    // dropConstraint is a serialized epoch too
    TxnTable.dropConstraint(dir, "c_a")
    assert(TxnTable.constraints(dir).map(_._1) == Seq("c_b"))
    assert(TxnTable.constraintsAt(dir, v1 + 2).size == 2,
      "the drop must not rewrite history")
  }

  test("column mapping: rename/drop are metadata versions; time travel keeps old names") {
    val dir = graft.core.TempDirs.scratchShared("txncolmap")
    import spark.implicits._
    TxnTable.init(spark, dir,
      (0L until 100L).map(k => (k, k * 10)).toDF("k", "v"),
      numFiles = 2, statsCols = Seq("k"))
    val v1 = TxnTable.version(dir)
    // rename lands as ONE committed version, no data file rewritten
    val filesBefore = TxnTable.liveFiles(dir).toSet
    TxnTable.renameColumn(spark, dir, "v", "score")
    assert(TxnTable.version(dir) == v1 + 1)
    assert(TxnTable.liveFiles(dir).toSet == filesBefore,
      "a rename must not touch one data file")
    // post-rename reads the new name; values intact
    val now = TxnTable.read(spark, dir)
    assert(now.columns.toSeq == Seq("k", "score"))
    assert(now.filter(col("k") === 7L).first().getLong(1) == 70L)
    // time travel BEFORE the rename reads the old name
    val old = TxnTable.read(spark, dir, v1)
    assert(old.columns.toSeq == Seq("k", "v"))
    // mutations write the NEW logical name (translated to the stable
    // physical name under the hood)...
    TxnTable.upsert(spark, dir, "k", Seq((7L, 777L)).toDF("k", "score"))
    assert(TxnTable.read(spark, dir).filter(col("k") === 7L)
      .first().getLong(1) == 777L)
    // ...and REJECT the renamed-away spelling loudly
    val stale = intercept[IllegalArgumentException] {
      TxnTable.upsert(spark, dir, "k", Seq((8L, 1L)).toDF("k", "v"))
    }
    assert(stale.getMessage.contains("renamed or dropped"), stale.getMessage)
    // CDC across the rename surfaces the target version's logical
    // names — the upsert reads as delete(old)+insert(new) on `score`
    val ch = TxnTable.changes(spark, dir, v1)
    assert(ch.columns.contains("score") && !ch.columns.contains("v"))
    val chRows = ch.filter(col("k") === 7L)
      .select("_change_type", "score").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(chRows == Set(("delete", 70L), ("insert", 777L)), chRows)
    // an active constraint on the column blocks the change (it would
    // silently stop binding); dropping it unblocks
    TxnTable.addConstraint(spark, dir, "score_pos", "score >= 0")
    val blocked = intercept[IllegalArgumentException] {
      TxnTable.renameColumn(spark, dir, "score", "points")
    }
    assert(blocked.getMessage.contains("score_pos"), blocked.getMessage)
    TxnTable.dropConstraint(dir, "score_pos")
    TxnTable.renameColumn(spark, dir, "score", "points")
    assert(TxnTable.read(spark, dir).columns.toSeq == Seq("k", "points"))
    // maintenance preserves the physical invariant: optimize rewrites
    // files, reads still surface logical names, key pruning survives
    TxnTable.optimize(spark, dir, Seq("k"), numFiles = 2)
    assert(TxnTable.read(spark, dir).columns.toSeq == Seq("k", "points"))
    assert(TxnTable.read(spark, dir).filter(col("k") === 7L)
      .first().getLong(1) == 777L)
    TxnTable.deleteKeys(spark, dir, "k", Seq(7L))
    assert(TxnTable.read(spark, dir).filter(col("k") === 7L).count() == 0)
    // drop: metadata-only disappearance; pre-drop time travel keeps it
    val vPreDrop = TxnTable.version(dir)
    TxnTable.dropColumn(spark, dir, "points")
    assert(TxnTable.read(spark, dir).columns.toSeq == Seq("k"))
    assert(TxnTable.read(spark, dir, vPreDrop).columns.toSeq ==
      Seq("k", "points"))
    // resurrecting the dropped physical name is rejected (mergeSchema
    // would silently merge new data into the tombstoned column)
    val res = intercept[IllegalArgumentException] {
      TxnTable.upsert(spark, dir, "k", Seq((9L, 5L)).toDF("k", "v"))
    }
    assert(res.getMessage.contains("renamed or dropped"), res.getMessage)
    // unknown / taken names fail loudly
    intercept[IllegalArgumentException] {
      TxnTable.renameColumn(spark, dir, "nope", "x")
    }
    intercept[IllegalArgumentException] {
      TxnTable.renameColumn(spark, dir, "k", "k")
    }
    // RENAME CHAIN re-issuing an old spelling: b->c then a->b makes
    // "b" a LIVE logical name again (now naming physical a) — writes
    // of "b" must route to physical a, not be rejected as stale
    val dir3 = graft.core.TempDirs.scratchShared("txnchain")
    TxnTable.init(spark, dir3,
      (0L until 10L).map(i => (i, i * 2, i * 3)).toDF("k", "a", "b"),
      numFiles = 1, statsCols = Seq("k"))
    TxnTable.renameColumn(spark, dir3, "b", "c")
    TxnTable.renameColumn(spark, dir3, "a", "b")
    assert(TxnTable.read(spark, dir3).columns.toSeq == Seq("k", "b", "c"))
    TxnTable.upsert(spark, dir3, "k", Seq((3L, 100L)).toDF("k", "b"))
    val row3 = TxnTable.read(spark, dir3).filter(col("k") === 3L).first()
    assert(row3.getLong(row3.fieldIndex("b")) == 100L,
      "the re-issued logical spelling must write its CURRENT physical")
    assert(row3.isNullAt(row3.fieldIndex("c")),
      "the chained rename's other column must stay independent")
    // a FULL-ROW frame in the adversarial column order (c before b):
    // a sequential rename fold would collide c->b into the live b and
    // then rename both to a — the simultaneous projection must land
    // both values regardless of order
    TxnTable.upsert(spark, dir3, "k",
      Seq((4L, 444L, 40L)).toDF("k", "c", "b"))
    val row4 = TxnTable.read(spark, dir3).filter(col("k") === 4L).first()
    assert(row4.getLong(row4.fieldIndex("b")) == 40L &&
      row4.getLong(row4.fieldIndex("c")) == 444L,
      s"order-adversarial chained write mangled: $row4")
  }

  test("constraint/colmap epochs survive a vacuum that sweeps their anchor manifest") {
    val dir = graft.core.TempDirs.scratchShared("txnepochvac")
    import spark.implicits._
    TxnTable.init(spark, dir,
      (0L until 50L).map(k => (k, k)).toDF("k", "v"),
      numFiles = 1, statsCols = Seq("k"))                      // v1
    TxnTable.renameColumn(spark, dir, "v", "score")            // v2
    TxnTable.addConstraint(spark, dir, "v_nonneg", "score >= 0") // v3
    (1 to 3).foreach(i => TxnTable.upsert(spark, dir, "k",
      Seq((i.toLong, i.toLong * 10)).toDF("k", "score")))      // v4-v6
    // vacuum sweeps manifests v1-v4 — the epochs' anchor manifests go
    // with them; the declared metadata must STAY IN FORCE (an epoch
    // below the vacuum horizon necessarily committed)
    TxnTable.vacuum(dir, keepSince = 5, force = true)
    assert(TxnTable.constraints(dir).map(_._1) == Seq("v_nonneg"),
      "a routine vacuum must not silently drop declared constraints")
    assert(TxnTable.read(spark, dir).columns.toSeq == Seq("k", "score"),
      "a routine vacuum must not revert the column mapping")
    val rej = intercept[IllegalArgumentException] {
      TxnTable.upsert(spark, dir, "k", Seq((9L, -1L)).toDF("k", "score"))
    }
    assert(rej.getMessage.contains("v_nonneg"), rej.getMessage)
  }

  test("vacuum retention guard: a freshly superseded version's reader survives") {
    val dir = graft.core.TempDirs.scratchShared("txnretain")
    import spark.implicits._
    TxnTable.init(spark, dir,
      (0L until 200L).map(k => (k, k)).toDF("k", "v"),
      numFiles = 2, statsCols = Seq("k"))
    // a reader pins v1's snapshot (plan built, not yet executed)...
    val pinned = TxnTable.read(spark, dir, v = 1)
    // ...then a mutation supersedes it and a vacuum runs immediately
    TxnTable.upsert(spark, dir, "k", Seq((5L, -5L)).toDF("k", "v"))
    val refused = intercept[java.util.ConcurrentModificationException] {
      TxnTable.vacuum(dir, keepSince = 2)
    }
    assert(refused.getMessage.contains("superseded less than"),
      refused.getMessage)
    // the refusal is what keeps the pinned reader's files alive
    assert(pinned.count() == 200,
      "the pinned snapshot must still read after the refused vacuum")
    // past the horizon the same sweep proceeds (simulate by shrinking
    // the window to zero) — and the dropped version's reads fail
    // loudly afterwards, the documented contract
    TxnTable.vacuum(dir, keepSince = 2, retainMillis = 0L)
    intercept[RuntimeException] { TxnTable.read(spark, dir, v = 1).count() }
    assert(TxnTable.read(spark, dir).count() == 200)
  }

  test("mergeFrame seqCol: the highest-sequence op per key wins, NULL keys bypass") {
    val dir = graft.core.TempDirs.scratchShared("txnseq")
    import spark.implicits._
    TxnTable.init(spark, dir,
      (0L until 100L).map(k => (Option(k), k * 10))
        .toDF("k", "v"), numFiles = 1, statsCols = Seq("k"))
    // one batch, multiple ops per key, deliberately out of order:
    //  k=1: upsert@2 then delete@5  -> key gone
    //  k=2: delete@1 then upsert@4  -> survives with the upsert value
    //  k=3: upsert@1 then upsert@7  -> exactly ONE row, the later value
    //  two NULL-key upserts         -> BOTH insert (no collapsing)
    val batch = Seq(
      (Option(1L), 111L, "upsert", 2L), (Option(1L), 0L, "delete", 5L),
      (Option(2L), 0L, "delete", 1L), (Option(2L), 222L, "upsert", 4L),
      (Option(3L), 300L, "upsert", 1L), (Option(3L), 333L, "upsert", 7L),
      (Option.empty[Long], -1L, "upsert", 1L),
      (Option.empty[Long], -2L, "upsert", 2L))
      .toDF("k", "v", "_op", "seq")
    TxnTable.mergeFrame(spark, dir, "k", batch, seqCol = Some("seq"))
    val after = TxnTable.read(spark, dir)
    assert(after.columns.toSeq == Seq("k", "v"),
      s"op/seq metadata must not leak into the table: ${after.columns.toSeq}")
    assert(after.filter(col("k") === 1L).count() == 0, "delete@5 wins")
    assert(after.filter(col("k") === 2L).collect().map(_.getLong(1)).toSeq
      == Seq(222L), "upsert@4 wins over delete@1")
    assert(after.filter(col("k") === 3L).collect().map(_.getLong(1)).toSeq
      == Seq(333L), "later upsert wins, exactly one row")
    assert(after.filter(col("k").isNull).collect().map(_.getLong(1)).toSet
      == Set(-1L, -2L), "NULL-key events must not collapse")
    assert(after.count() == 100 - 1 + 2,
      "k=1 deleted; k=2,3 replaced in place; two null-key inserts")
    // a NULL sequence value is a feed bug: max_by would silently
    // collapse that key to an all-NULL row — rejected loudly instead
    val nullSeq = intercept[IllegalArgumentException] {
      TxnTable.mergeFrame(spark, dir, "k",
        Seq((Option(4L), Option(44L), "upsert", Option.empty[Long]))
          .toDF("k", "v", "_op", "seq"), seqCol = Some("seq"))
    }
    assert(nullSeq.getMessage.contains("NULL sequence"), nullSeq.getMessage)
  }

  test("manifest-carried row counts: COUNT(*) is a metadata read across mutations") {
    val dir = graft.core.TempDirs.scratchShared("txnrows")
    import spark.implicits._
    TxnTable.init(spark, dir,
      (0L until 1000L).toDF("k").withColumn("payload", col("k"))
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      numFiles = 0, statsCols = Seq("k"))
    def check(tag: String): Unit = {
      val meta = TxnTable.rowCount(dir)
      val scan = TxnTable.read(spark, dir).count()
      assert(meta.contains(scan), s"$tag: manifest rows $meta != scan $scan")
    }
    check("init")
    TxnTable.deleteKeys(spark, dir, "k", Seq(10L, 20L, 30L))
    check("delete")
    TxnTable.upsert(spark, dir, "k",
      Seq((40L, -1L), (5000L, -2L)).toDF("k", "payload"))
    check("upsert (replace + insert)")
    TxnTable.mergeFrame(spark, dir, "k",
      Seq((50L, 0L, "delete"), (5001L, -3L, "upsert"))
        .toDF("k", "payload", "_op"))
    check("mergeFrame")
    // time travel: each version's count is its own metadata
    assert(TxnTable.rowCount(dir, v = 1).contains(1000L))
    // rows survive carry-by-reference (untouched files keep their
    // counts without any footer re-read)
    assert(TxnTable.liveEntries(dir).forall(_.rows >= 0))
    // a legacy bare-path manifest has no rows channel: it is refused
    // until upgraded, and then unknown must surface as None, never as
    // a number
    val legacyDir = graft.core.TempDirs.scratchShared("txnrowslegacy")
    TxnTable.init(spark, legacyDir, (0L until 10L).toDF("k"), numFiles = 1,
      statsCols = Seq("k"))
    assert(TxnTable.rowCount(legacyDir).contains(10L))
    val mf = new java.io.File(legacyDir, "manifest-v1.json")
    val paths = TxnTable.liveFiles(legacyDir)
    java.nio.file.Files.write(mf.toPath,
      paths.map(p => s""""$p"""").mkString("[\n", ",\n", "\n]")
        .getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    TxnTable.dropCaches(legacyDir)
    assertNeedsUpgrade(TxnTable.rowCount(legacyDir))
    TxnTable.upgrade(spark, legacyDir)
    assert(TxnTable.rowCount(legacyDir).isEmpty,
      "legacy manifests must report unknown, not a guessed count")
  }

  test("mergeFrame: a 10^6-DELETE CDC batch stays distributed end-to-end") {
    val dir = graft.core.TempDirs.scratchShared("txntable")
    import spark.implicits._
    TxnTable.init(spark, dir,
      (0L until 2000000L).toDF("k").withColumn("payload", col("k") * 2)
        .repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      numFiles = 0, statsCols = Seq("k"))
    // the round-10 gap: merge's delete arm was Seq[Long]-only, so a
    // CDC correction feed had to collect() its delete keys per batch.
    // mergeFrame takes the _op-tagged Debezium shape whole — a
    // million deletes + a handful of upserts ride the same frame
    // carrier as updates, and the rewrite plans as a LEFT ANTI join
    val changes = (0L until 1000000L)
      .toDF("k").withColumn("payload", lit(0L))
      .withColumn("_op", lit("delete"))
      .unionByName(Seq((1500000L, -7L, "upsert"), (2500000L, -8L, "upsert"))
        .toDF("k", "payload", "_op"))
    // plan shape on the survivor rewrite: anti-join, no literal IN
    val plans = ServeProbes.plansDuring(spark) {
      TxnTable.mergeFrame(spark, dir, "k", changes, numFiles = 8) }
    assertAntiJoinOnly(plans)
    val after = TxnTable.read(spark, dir)
    assert(after.count() == 2000000L - 1000000L + 1,
      "1M deleted, one replaced in place, one inserted")
    assert(after.filter(col("k") < 1000000L).count() == 0,
      "every delete-tagged key must be gone")
    assert(after.filter(col("k") === 1500000L).collect()
      .map(_.getLong(1)).toSeq == Seq(-7L),
      "the matched upsert must replace its row in the same version")
    assert(after.filter(col("k") === 2500000L).count() == 1,
      "the unmatched upsert must insert")
    assert(TxnTable.version(dir) == 2,
      "deletes + upserts must land in ONE committed version")
  }

  test("a corrupted manifest line fails loudly, never parses as a path") {
    val dir = graft.core.TempDirs.scratchShared("txntable")
    import spark.implicits._
    TxnTable.init(spark, dir, (0L until 10L).toDF("k"), numFiles = 1)
    val mf = new java.io.File(dir, "manifest-v1.json")
    val txt = new String(
      java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    java.nio.file.Files.write(mf.toPath,
      (txt.stripSuffix("]") +
        """{"path":"files/x.parquet","bytes":BROKEN,"stats":{}},""" +
        "\n]").getBytes("UTF-8"))
    val ex = intercept[RuntimeException](TxnTable.liveEntries(dir))
    assert(ex.getMessage.contains("unparseable manifest line"),
      s"wrong failure: ${ex.getMessage}")
  }

  test("vacuum deletes unreferenced files and keeps live versions readable") {
    val dir = freshTable()
    val keys = TxnTable.read(spark, dir).orderBy("o_orderkey").limit(3)
      .collect().map(_.getLong(0)).toSeq
    TxnTable.deleteKeys(spark, dir, "o_orderkey", keys)
    val liveCount = TxnTable.read(spark, dir).count()
    def allParquet(): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(dir, "files"))
    }
    val before = allParquet()
    TxnTable.vacuum(dir, keepSince = 2, force = true)
    assert(allParquet() < before,
      "vacuum must physically remove the rewritten-away files")
    assert(TxnTable.read(spark, dir).count() == liveCount,
      "latest version must survive vacuum intact")
    intercept[RuntimeException](TxnTable.read(spark, dir, v = 1))
  }

  test("RESTORE rolls back as a NEW commit: by-reference, history kept, " +
      "schema and epochs re-anchored; timestamp time travel resolves") {
    import spark.implicits._
    val dir = graft.core.TempDirs.scratchShared("txnrestore")
    val tsBefore = System.currentTimeMillis() - 1
    Thread.sleep(5)
    TxnTable.init(spark, dir,
      (0L until 30L).map(k => (k, k)).toDF("k", "v"),
      numFiles = 2, statsCols = Seq("k"))                       // v1
    val v1Rows = TxnTable.read(spark, dir).collect().toSet
    val v1Files = TxnTable.liveFiles(dir, 1).toSet
    Thread.sleep(15)
    TxnTable.renameColumn(spark, dir, "v", "score")             // v2
    val tsAtV2 = System.currentTimeMillis()
    Thread.sleep(15)
    TxnTable.addConstraint(spark, dir, "s_pos", "score >= 0")   // v3
    TxnTable.upsert(spark, dir, "k",
      Seq((1L, 99L, "x")).toDF("k", "score", "tag"))            // v4
    assert(TxnTable.read(spark, dir).columns.toSeq ==
      Seq("k", "score", "tag"))
    // RESTORE to v1: a fifth version whose files are v1's by
    // reference, schema (k,v — no tag, pre-rename name) and epoch
    // anchors (no constraint, no mapping) re-activated
    val v5 = TxnTable.restore(spark, dir, 1)
    assert(v5 == 5 && TxnTable.version(dir) == 5)
    assert(TxnTable.liveFiles(dir, 5).toSet == v1Files,
      "restore must carry the old files by reference, rewriting nothing")
    val now = TxnTable.read(spark, dir)
    assert(now.columns.toSeq == Seq("k", "v"))
    assert(now.collect().toSet == v1Rows)
    assert(TxnTable.constraintsAt(dir, 5).isEmpty,
      "the restored version re-activates v1's (empty) constraint set")
    // this restore BURIES the post-toV column 'tag', so it commits a
    // colmap epoch (DESCRIBE HISTORY labels it so)
    assert(TxnTable.versionKind(dir, 5) == "colmap")
    // the buried column's physical slot is tombstoned: re-issuing the
    // spelling — same type or RE-TYPED — is refused loudly, so a CDC
    // diff spanning the restore can never read old bytes as a new type
    val retype = intercept[IllegalArgumentException] {
      TxnTable.upsert(spark, dir, "k",
        Seq((3L, 3L, 42L)).toDF("k", "v", "tag"))
    }
    assert(retype.getMessage.contains("renamed or dropped"),
      retype.getMessage)
    // the bad history stays time-travelable until vacuumed
    assert(TxnTable.read(spark, dir, 4).columns.toSeq ==
      Seq("k", "score", "tag"))
    // a post-restore writer is governed by the restored epochs: the
    // rolled-back s_pos no longer rejects, and the restored schema
    // accepts the pre-rename spelling
    TxnTable.upsert(spark, dir, "k", Seq((2L, -7L)).toDF("k", "v"))
    assert(TxnTable.read(spark, dir).filter(col("k") === 2L)
      .first().getLong(1) == -7L)
    // CDC across the restore reads as ordinary net changes in the
    // RESTORED (target-version) schema
    val ch = TxnTable.changes(spark, dir, 4, 5)
    assert(ch.columns.toSeq.take(2) == Seq("k", "v"))
    assert(ch.filter(col("_change_type") === "delete").count() > 0,
      "the upserted v4 row must read back as deleted by the restore")
    // TIMESTAMP AS OF: an instant after v2's commit resolves v2 (the
    // rename — same rows, renamed column); one before the table
    // existed is loud
    assert(TxnTable.versionAsOf(dir, tsAtV2) == 2)
    val asOf = TxnTable.readAsOf(spark, dir, tsAtV2)
    assert(asOf.columns.toSeq == Seq("k", "score"))
    assert(asOf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      v1Rows.map(r => (r.getLong(0), r.getLong(1))))
    assert(TxnTable.versionAsOf(dir, System.currentTimeMillis()) ==
      TxnTable.version(dir))
    val early = intercept[IllegalArgumentException] {
      TxnTable.versionAsOf(dir, tsBefore)
    }
    assert(early.getMessage.contains("no version"), early.getMessage)
    // a vacuumed restore target refuses loudly instead of resurrecting
    // a half-missing state
    TxnTable.vacuum(dir, keepSince = 5, force = true)
    intercept[Exception] { TxnTable.restore(spark, dir, 4) }
    assert(TxnTable.read(spark, dir).filter(col("k") === 2L).count() == 1,
      "the live head survives the refused restore")
  }

  test("manifest-carried schema: recorded at init, grows under evolution, " +
      "refuses type changes; legacy tables are refused until upgrade") {
    import spark.implicits._
    val dir = graft.core.TempDirs.scratchShared("txnschema")
    TxnTable.init(spark, dir,
      (0L until 50L).map(k => (k, k * 2)).toDF("k", "v"),
      numFiles = 2, statsCols = Seq("k"))
    assert(TxnTable.physSchemaAt(dir, 1).fieldNames.toSeq == Seq("k", "v"),
      "init must record the schema")
    // schema evolution: the upsert's new column folds into the
    // recorded schema; pre-evolution rows read as typed nulls
    TxnTable.upsert(spark, dir, "k",
      Seq((1L, 10L, "x")).toDF("k", "v", "tag"))
    val v2 = TxnTable.version(dir)
    assert(TxnTable.physSchemaAt(dir, v2).fieldNames.toSeq ==
      Seq("k", "v", "tag"))
    val now = TxnTable.read(spark, dir)
    assert(now.filter(col("k") === 2L).select("tag").first().isNullAt(0))
    assert(now.filter(col("k") === 1L).select("tag").first()
      .getString(0) == "x")
    // the read plans with the RECORDED schema — no footer union
    assert(now.schema.fieldNames.toSeq == Seq("k", "v", "tag"))
    // time travel reads the schema AT the version
    assert(TxnTable.read(spark, dir, 1).columns.toSeq == Seq("k", "v"))
    // a type change is refused loudly, and atomically: no version
    // lands, the table stays intact
    val boom = intercept[IllegalArgumentException] {
      TxnTable.upsert(spark, dir, "k",
        Seq((3L, "oops", "y")).toDF("k", "v", "tag"))
    }
    assert(boom.getMessage.contains("schema evolution"), boom.getMessage)
    assert(TxnTable.version(dir) == v2 &&
      TxnTable.read(spark, dir).count() == 50)
    // LEGACY manifests (no schema header) are refused until the
    // upgrade records the schema their footer union yields
    val leg = graft.core.TempDirs.scratchShared("txnlegacy")
    TxnTable.init(spark, leg,
      (0L until 20L).map(k => (k, k)).toDF("k", "v"),
      numFiles = 2, statsCols = Seq("k"))
    val m1 = new java.io.File(leg, "manifest-v1.json").toPath
    val stripped = new String(java.nio.file.Files.readAllBytes(m1), "UTF-8")
      .split('\n')
      .filterNot(l => l.contains("\"schema\":") || l.contains("\"epochs\":"))
      .mkString("\n")
    java.nio.file.Files.write(m1, stripped.getBytes("UTF-8"))
    TxnTable.dropCaches(leg)
    assertNeedsUpgrade(TxnTable.physSchemaAt(leg, 1))
    assertNeedsUpgrade(TxnTable.read(spark, leg))
    assertNeedsUpgrade(TxnTable.deleteKeys(spark, leg, "k", Seq(1L)))
    assert(TxnTable.version(leg) == 1, "a refused mutation commits nothing")
    assert(TxnTable.upgrade(spark, leg) == 1)
    assert(TxnTable.physSchemaAt(leg, 1).fieldNames.toSeq == Seq("k", "v"),
      "the upgrade records the footer union's schema")
    assert(TxnTable.read(spark, leg).count() == 20)
    TxnTable.deleteKeys(spark, leg, "k", Seq(1L))
    assert(TxnTable.physSchemaAt(leg, 2).fieldNames.toSeq == Seq("k", "v"),
      "the first mutation carries the upgraded schema forward")
  }

  test("epoch anchors: an orphaned epoch file (crashed lost declare) is " +
      "never activated by a later commit taking its version") {
    import spark.implicits._
    val dir = graft.core.TempDirs.scratchShared("txnphantom")
    TxnTable.init(spark, dir,
      (0L until 10L).map(k => (k, k)).toDF("k", "v"),
      numFiles = 1, statsCols = Seq("k"))
    TxnTable.addConstraint(spark, dir, "v_small", "v < 1000")
    val planned = TxnTable.version(dir)
    val slot = planned + 1
    // forge the crash: a dropConstraint claimed epoch `slot`, lost the
    // manifest race, and died before its rollback delete — its epoch
    // file (the EMPTY constraint set) sits orphaned on disk
    java.nio.file.Files.write(
      new java.io.File(dir, s"constraints-v$slot.json").toPath,
      s"""{"epoch":$slot}\n""".getBytes("UTF-8"))
    // a data writer takes version `slot`; its manifest anchors the set
    // in force at `planned` — NOT the orphan
    TxnTable.upsert(spark, dir, "k", Seq((1L, 5L)).toDF("k", "v"))
    assert(TxnTable.version(dir) == slot)
    assert(TxnTable.constraintsAt(dir, slot).map(_._1) == Seq("v_small"),
      "the orphaned epoch must stay inert — activation rides the manifest")
    assert(TxnTable.versionKind(dir, slot) == "data",
      "the orphan must not mislabel the data commit that took its slot")
    // and the still-active constraint really enforces
    val rejected = intercept[IllegalArgumentException] {
      TxnTable.upsert(spark, dir, "k", Seq((2L, 5000L)).toDF("k", "v"))
    }
    assert(rejected.getMessage.contains("v_small"), rejected.getMessage)
    // a real declaration later proceeds unobstructed
    TxnTable.dropConstraint(dir, "v_small")
    assert(TxnTable.constraintsAt(dir, TxnTable.version(dir)).isEmpty)
    TxnTable.upsert(spark, dir, "k", Seq((2L, 5000L)).toDF("k", "v"))
    assert(TxnTable.read(spark, dir).filter(col("k") === 2L)
      .first().getLong(1) == 5000L)
  }

  test("legacy epochs: a table predating the anchor channel is refused " +
      "until upgrade; the upgraded anchors resolve LIST-free with the " +
      "directory scan's answers") {
    import spark.implicits._
    val dir = graft.core.TempDirs.scratchShared("txnlegup")
    TxnTable.init(spark, dir,
      (0L until 20L).map(k => (k, k)).toDF("k", "v"),
      numFiles = 1, statsCols = Seq("k"))                          // v1
    TxnTable.addConstraint(spark, dir, "v_small", "v < 1000")      // v2
    TxnTable.upsert(spark, dir, "k", Seq((1L, 5L)).toDF("k", "v")) // v3
    // forge the LEGACY shape: strip the schema/epochs header lines
    // from every manifest (a table written before the anchor channel)
    (1 to 3).foreach { v =>
      val m = new java.io.File(dir, s"manifest-v$v.json").toPath
      val stripped = new String(
        java.nio.file.Files.readAllBytes(m), "UTF-8").split('\n')
        .filterNot(l => l.contains("\"schema\":") ||
          l.contains("\"epochs\":"))
        .mkString("\n")
      java.nio.file.Files.write(m, stripped.getBytes("UTF-8"))
      ()
    }
    TxnTable.dropCaches(dir)
    assertNeedsUpgrade(TxnTable.constraintsAt(dir, 3))
    assertNeedsUpgrade(TxnTable.versionKind(dir, 2))
    assert(TxnTable.upgrade(spark, dir) == 3)
    // cold in-process caches (a fresh reader): zero LISTs, the
    // directory scan's answers
    TxnTable.dropCaches(dir)
    TxnTable.resetIoCountersForTest()
    assert(TxnTable.constraintsAt(dir, 3).map(_._1) == Seq("v_small"))
    assert(TxnTable.constraintsAt(dir, 1).isEmpty,
      "epoch time travel below the declare must stay empty")
    assert(TxnTable.manifestLog.lists.get() == 0,
      s"upgraded epoch resolution must be LIST-free, " +
        s"saw ${TxnTable.manifestLog.lists.get()}")
    assert((1 to 3).map(TxnTable.versionKind(dir, _)) ==
      Seq("data", "constraints", "data"))
    // the active constraint still ENFORCES, and the next mutation
    // carries the upgraded anchors forward
    val rejected = intercept[IllegalArgumentException] {
      TxnTable.upsert(spark, dir, "k", Seq((2L, 5000L)).toDF("k", "v"))
    }
    assert(rejected.getMessage.contains("v_small"), rejected.getMessage)
    TxnTable.upsert(spark, dir, "k", Seq((2L, 7L)).toDF("k", "v")) // v4
    assert(TxnTable.constraintsAt(dir, 4).map(_._1) == Seq("v_small"))
  }

  test("upgrade: a root constraints.json becomes epoch 0 and reads the " +
      "same constraintsAt at every version; a count-less epoch header " +
      "gains its count; a second upgrade touches no file") {
    import spark.implicits._
    val dir = graft.core.TempDirs.scratchShared("txnupgflat")
    TxnTable.init(spark, dir,
      (0L until 20L).map(k => (k, k)).toDF("k", "v"),
      numFiles = 1, statsCols = Seq("k"))                          // v1
    TxnTable.upsert(spark, dir, "k", Seq((1L, 5L)).toDF("k", "v")) // v2
    TxnTable.renameColumn(spark, dir, "v", "w")                    // v3
    TxnTable.upsert(spark, dir, "k", Seq((2L, 7L)).toDF("k", "w")) // v4
    // forge the OLDER shapes: the flat root constraint file (in force
    // wherever no constraints epoch is — here, every version) and a
    // colmap epoch with the count-less header
    val flat = """{"name":"k_pos","predicate":"k >= 0"}"""
    java.nio.file.Files.write(new java.io.File(dir, "constraints.json").toPath,
      (flat + "\n").getBytes("UTF-8"))
    val cm3 = new java.io.File(dir, "colmap-v3.json").toPath
    val cmLines = new String(java.nio.file.Files.readAllBytes(cm3), "UTF-8")
      .split('\n').filter(_.nonEmpty)
    assert(cmLines.head == "{\"epoch\":3,\"n\":1}")
    java.nio.file.Files.write(cm3,
      ("{\"epoch\":3}" +: cmLines.tail).mkString("", "\n", "\n")
        .getBytes("UTF-8"))
    TxnTable.dropCaches(dir)
    assertNeedsUpgrade(TxnTable.constraintsAt(dir, 2))
    assertNeedsUpgrade(TxnTable.read(spark, dir, 4))
    // epoch 0 + the colmap header + four manifests anchoring epoch 0,
    // then the root file goes
    assert(TxnTable.upgrade(spark, dir) == 7)
    assert(!new java.io.File(dir, "constraints.json").exists())
    (1 to 4).foreach { v =>
      assert(TxnTable.constraintsAt(dir, v) == Seq(("k_pos", "k >= 0")),
        s"v$v must read the flat file's set")
    }
    assert(new String(java.nio.file.Files.readAllBytes(cm3), "UTF-8")
      .startsWith("{\"epoch\":3,\"n\":1}\n"))
    assert(TxnTable.colMapAt(dir, 2).isEmpty &&
      TxnTable.colMapAt(dir, 4) == Seq(("v", Some("w"))))
    assert(TxnTable.read(spark, dir).columns.toSeq == Seq("k", "w"))
    assert((1 to 4).map(TxnTable.versionKind(dir, _)) ==
      Seq("data", "data", "colmap", "data"),
      "epoch 0 is numbered below every version: none reads as its declare")
    // the upgraded constraint ENFORCES
    val rejected = intercept[IllegalArgumentException] {
      TxnTable.upsert(spark, dir, "k", Seq((-1L, 1L)).toDF("k", "w"))
    }
    assert(rejected.getMessage.contains("k_pos"), rejected.getMessage)
    // IDEMPOTENT: a second upgrade rewrites nothing
    val once = fileStates(dir)
    assert(TxnTable.upgrade(spark, dir) == 0)
    assert(fileStates(dir) == once, "a second upgrade must touch no file")
  }

  test("upgrade of a current-format table touches no file; a commit on " +
      "a prior manifest whose ts is forged into the future records a ts " +
      "at or after it") {
    import spark.implicits._
    val dir = graft.core.TempDirs.scratchShared("txnupgcur")
    TxnTable.init(spark, dir,
      (0L until 20L).map(k => (k, k)).toDF("k", "v"),
      numFiles = 2, statsCols = Seq("k"))                          // v1
    TxnTable.addConstraint(spark, dir, "v_small", "v < 1000")      // v2
    TxnTable.upsert(spark, dir, "k", Seq((1L, 5L)).toDF("k", "v")) // v3
    TxnTable.checkpoint(dir)
    TxnTable.restore(spark, dir, 1)                                // v4
    val before = fileStates(dir)
    assert(TxnTable.upgrade(spark, dir) == 0)
    assert(fileStates(dir) == before, "a current table must stay untouched")
    // a writer whose predecessor recorded an instant ahead of this
    // clock (clock skew between writers): the log stays non-decreasing
    val future = System.currentTimeMillis() + 86400000L
    val m4 = new java.io.File(dir, "manifest-v4.json").toPath
    java.nio.file.Files.write(m4, new String(
      java.nio.file.Files.readAllBytes(m4), "UTF-8")
      .replaceAll("\\{\"ts\":\\d+\\}", s"""{"ts":$future}""")
      .getBytes("UTF-8"))
    TxnTable.dropCaches(dir)
    assert(TxnTable.historyWithTs(dir).last._5 == future)
    TxnTable.upsert(spark, dir, "k", Seq((2L, 6L)).toDF("k", "v")) // v5
    TxnTable.restore(spark, dir, 3)                                // v6
    val tss = TxnTable.historyWithTs(dir).map(_._5)
    assert(tss.drop(3).forall(_ >= future), s"ts went backwards: $tss")
    // binary search over the non-decreasing log
    assert(TxnTable.versionAsOf(dir, future - 1) == 3)
    assert(TxnTable.versionAsOf(dir, future) == 6)
  }

  test("maintenance speaks LOGICAL names: optimize after a rename chain " +
      "clusters the intended column; stale spellings reject loudly") {
    import spark.implicits._
    val dir = graft.core.TempDirs.scratchShared("txnoptlog")
    // values chosen so the two columns cluster DIFFERENTLY: a is
    // sequential, b is bit-reversed (clustering on one scatters the other)
    def rev(x: Long): Long = java.lang.Long.reverse(x) >>> 48
    TxnTable.init(spark, dir,
      (0L until 256L).map(k => (k, rev(k))).toDF("a", "b"),
      numFiles = 2, statsCols = Seq("a"))
    // the adversarial chain: b->c then a->b — the spelling 'b' now
    // means the OLD a; silently clustering physical b would Z-order
    // the wrong column
    TxnTable.renameColumn(spark, dir, "b", "c")
    TxnTable.renameColumn(spark, dir, "a", "b")
    TxnTable.optimize(spark, dir, Seq("b"), numFiles = 4)
    // the files must be range-clustered on PHYSICAL a (logical b):
    // per-file [min,max] of physical a are pairwise disjoint
    val ranges = TxnTable.liveEntries(dir).map { e =>
      val r = spark.read.parquet(s"$dir/${e.path}")
        .agg(min(col("a")), max(col("a"))).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"optimize clustered the wrong column: $ranges")
      case _ =>
    }
    // a renamed-away spelling rejects loudly on every maintenance op
    val staleOpt = intercept[IllegalArgumentException] {
      TxnTable.optimize(spark, dir, Seq("a"), numFiles = 2)
    }
    assert(staleOpt.getMessage.contains("renamed"), staleOpt.getMessage)
    val staleRange = intercept[IllegalArgumentException] {
      TxnTable.optimizeRange(spark, dir, "a", 0L, 10L)
    }
    assert(staleRange.getMessage.contains("renamed"), staleRange.getMessage)
    val staleDel = intercept[IllegalArgumentException] {
      TxnTable.deleteKeys(spark, dir, "a", Seq(1L))
    }
    assert(staleDel.getMessage.contains("renamed"), staleDel.getMessage)
    // the current logical spellings all work end-to-end
    assert(TxnTable.optimizeRange(spark, dir, "b", 0L, 63L) >= 0)
    TxnTable.deleteKeys(spark, dir, "b", Seq(1L))
    val left = TxnTable.read(spark, dir)
    assert(left.columns.toSeq == Seq("b", "c") && left.count() == 255)
  }

  test("delta manifests: commits render O(changed files); auto-checkpoint " +
      "bounds the tail; checkpoint+tail ≡ chain at every version across " +
      "rename, constraint, restore") {
    import spark.implicits._
    val dir = graft.core.TempDirs.scratchShared("txndelta")
    def manifestText(v: Int) = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, s"manifest-v$v.json").toPath), "UTF-8")
    TxnTable.init(spark, dir,
      (0L until 4000L).toDF("k").withColumn("v", col("k") * 10)
        .repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      numFiles = 0, statsCols = Seq("k"))                        // v1 full
    TxnTable.upsert(spark, dir, "k", Seq((1L, -1L)).toDF("k", "v")) // v2
    TxnTable.deleteKeys(spark, dir, "k", Seq(2L))                   // v3
    TxnTable.renameColumn(spark, dir, "v", "w")                     // v4
    TxnTable.addConstraint(spark, dir, "w_sane", "w > -100")        // v5
    (6 to 9).foreach { i =>                                         // v6-v9
      TxnTable.upsert(spark, dir, "k",
        Seq((i.toLong, i.toLong)).toDF("k", "w"))
    }
    // shape: a one-file upsert's manifest is a DELTA — it lists the
    // changed entries only, never re-renders the unchanged live set
    assert(manifestText(2).contains("\"delta\":true"))
    val liveAtV2 = TxnTable.liveEntries(dir, 2).size
    val entryLinesV2 = manifestText(2).split('\n')
      .count(_.contains("\"path\":"))
    assert(entryLinesV2 < liveAtV2,
      s"delta must not re-render the live set ($entryLinesV2 entry " +
        s"lines vs $liveAtV2 live files)")
    // a metadata epoch (rename/constraint) is an EMPTY delta: zero
    // entry lines, zero removes — O(1) bytes at any table size
    Seq(4, 5).foreach { v =>
      val txt = manifestText(v)
      assert(txt.contains("\"delta\":true") &&
        !txt.contains("\"path\":") && !txt.contains("\"remove\":"),
        s"v$v must be an empty delta")
    }
    // v2..v9 is an 8-delta tail: the v9 commit auto-checkpoints
    assert(new java.io.File(dir, "checkpoint-v9.json").exists(),
      "the delta tail reached CheckpointInterval — v9 must checkpoint")
    TxnTable.restore(spark, dir, 3)                                 // v10
    assert(!manifestText(10).contains("\"delta\":true"),
      "restore replaces the whole live set — a full snapshot manifest")
    TxnTable.upsert(spark, dir, "k", Seq((11L, 11L)).toDF("k", "v")) // v11
    // ground truth from the warm chain, then prove every version
    // resolves identically (a) cold and (b) from a forced checkpoint
    val expect = (1 to 11).map(v =>
      v -> TxnTable.liveEntries(dir, v).toSet).toMap
    TxnTable.dropCaches(dir)
    (1 to 11).foreach { v =>
      assert(TxnTable.liveEntries(dir, v).toSet == expect(v),
        s"cold resolution of v$v drifted")
    }
    (1 to 11).foreach { v =>
      assert(TxnTable.checkpoint(dir, v) == v)
      TxnTable.dropCaches(dir)
      assert(TxnTable.liveEntries(dir, v).toSet == expect(v),
        s"checkpoint resolution of v$v ≠ chain resolution")
    }
    // and the data-level surface is right at the head: the restore
    // rolled back to v3 (k=1 upserted, k=2 deleted, pre-rename name)
    val head = TxnTable.read(spark, dir)
    assert(head.columns.toSeq == Seq("k", "v"))
    assert(head.count() == 3999) // 4000 - delete(k=2); upserts replace
    assert(head.filter(col("k") === 1L).first().getLong(1) == -1L)
    assert(head.filter(col("k") === 2L).count() == 0)
  }

  test("vacuum checkpoints the oldest kept version before dropping its " +
      "ancestry — kept delta versions resolve after the sweep") {
    import spark.implicits._
    val dir = graft.core.TempDirs.scratchShared("txnvacckpt")
    TxnTable.init(spark, dir,
      (0L until 1000L).toDF("k").withColumn("v", col("k"))
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      numFiles = 0, statsCols = Seq("k"))                        // v1
    (2 to 5).foreach { i =>                                      // v2-v5
      TxnTable.upsert(spark, dir, "k",
        Seq((i.toLong, -i.toLong)).toDF("k", "v"))
    }
    val expect4 = TxnTable.read(spark, dir, 4).collect().toSet
    val expect5 = TxnTable.read(spark, dir, 5).collect().toSet
    // v4 is a delta with no checkpoint; dropping v1-v3 would strand it
    TxnTable.vacuum(dir, keepSince = 4, force = true)
    assert(new java.io.File(dir, "checkpoint-v4.json").exists(),
      "vacuum must write the resolution base it is about to orphan")
    TxnTable.dropCaches(dir)
    assert(TxnTable.read(spark, dir, 4).collect().toSet == expect4)
    assert(TxnTable.read(spark, dir, 5).collect().toSet == expect5)
    intercept[RuntimeException] { TxnTable.read(spark, dir, 2).count() }
  }

  test("TIMESTAMP AS OF and the vacuum retention guard key off the " +
      "RECORDED commit ts — an mtime rewrite (rsync/migration) shifts nothing") {
    import spark.implicits._
    val dir = graft.core.TempDirs.scratchShared("txnts")
    TxnTable.init(spark, dir,
      (0L until 50L).map(k => (k, k)).toDF("k", "v"),
      numFiles = 1, statsCols = Seq("k"))                        // v1
    Thread.sleep(15)
    TxnTable.upsert(spark, dir, "k", Seq((1L, -1L)).toDF("k", "v")) // v2
    val tsAtV2 = System.currentTimeMillis()
    Thread.sleep(15)
    TxnTable.upsert(spark, dir, "k", Seq((2L, -2L)).toDF("k", "v")) // v3
    assert(TxnTable.versionAsOf(dir, tsAtV2) == 2)
    // the migration: every manifest's mtime is rewritten — far past
    // (a coarse-mtime filesystem) AND far future would both corrupt
    // an mtime-keyed answer
    (1 to 3).foreach { v =>
      java.nio.file.Files.setLastModifiedTime(
        new java.io.File(dir, s"manifest-v$v.json").toPath,
        java.nio.file.attribute.FileTime.fromMillis(1000L * v))
    }
    TxnTable.dropCaches(dir)
    assert(TxnTable.versionAsOf(dir, tsAtV2) == 2,
      "TIMESTAMP AS OF must survive an mtime rewrite")
    // retention: mtimes now claim v1/v2 were superseded in 1970; the
    // RECORDED ts knows they were superseded moments ago — the guard
    // must still protect a pinned reader
    val refused = intercept[java.util.ConcurrentModificationException] {
      TxnTable.vacuum(dir, keepSince = 3)
    }
    assert(refused.getMessage.contains("superseded less than"),
      refused.getMessage)
    // INVERSION: a legacy oldest manifest (no recorded ts) whose
    // mtime an rsync pushed into the FUTURE is refused until upgrade;
    // the upgrade clamps the filled instant below its successor's
    // recorded one, so the binary search never falsely throws 'no
    // version existed'
    val m1 = new java.io.File(dir, "manifest-v1.json").toPath
    val stripped = new String(java.nio.file.Files.readAllBytes(m1), "UTF-8")
      .split('\n').filterNot(_.trim.startsWith("{\"ts\":")).mkString("\n")
    java.nio.file.Files.write(m1, stripped.getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(m1,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 86400000L))
    TxnTable.dropCaches(dir)
    assertNeedsUpgrade(TxnTable.versionAsOf(dir, tsAtV2))
    assert(TxnTable.upgrade(spark, dir) == 1)
    assert(TxnTable.versionAsOf(dir, tsAtV2) == 2,
      "an mtime-inverted legacy head must not shift the asOf answer")
    val tss = TxnTable.historyWithTs(dir).map(_._5)
    assert(tss == tss.sorted, s"upgraded instants must be in order: $tss")
  }

  test("the maintenance lease serializes restore against vacuum; the " +
      "head-advance abort still covers ordinary commits") {
    import spark.implicits._
    val dir = graft.core.TempDirs.scratchShared("txnvacrace")
    TxnTable.init(spark, dir,
      (0L until 500L).toDF("k").withColumn("v", col("k"))
        .repartitionByRange(2, col("k")).sortWithinPartitions("k"),
      numFiles = 0, statsCols = Seq("k"))                        // v1
    TxnTable.upsert(spark, dir, "k", Seq((1L, -1L)).toDF("k", "v")) // v2
    TxnTable.upsert(spark, dir, "k", Seq((2L, -2L)).toDF("k", "v")) // v3
    // THE r14 RACE, now structurally closed: a restore trying to
    // commit inside vacuum's listing→delete window (re-referencing
    // files the sweep judged dead) REFUSES on the lease, naming the
    // holder — it can no longer slip between the head re-check and
    // the delete loop
    var refusal: Option[String] = None
    TxnTable.onBeforeVacuumDelete = () =>
      try { TxnTable.restore(spark, dir, 1); () }
      catch { case e: java.util.ConcurrentModificationException =>
        refusal = Some(e.getMessage)
      }
    try TxnTable.vacuum(dir, keepSince = 3, force = true)
    finally TxnTable.onBeforeVacuumDelete = () => ()
    assert(refusal.exists(m => m.contains("held by") &&
      m.contains("vacuum")),
      s"the in-window restore must refuse on the lease: $refusal")
    // the sweep completed: v1 is gone, restoring to it is the clean
    // client error (never a half-gutted head)
    assert(TxnTable.version(dir) == 3)
    intercept[IllegalArgumentException] {
      TxnTable.restore(spark, dir, 1)
    }
    assert(TxnTable.read(spark, dir).count() == 500)
    // ORDINARY COMMITS don't take the lease (a lease on the write
    // path would lock every streaming trigger) — the head-advance
    // abort still protects their fresh files from a stale drop set
    TxnTable.onBeforeVacuumDelete = () => {
      TxnTable.upsert(spark, dir, "k", Seq((3L, -3L)).toDF("k", "v")); ()
    }
    try {
      val aborted = intercept[java.util.ConcurrentModificationException] {
        TxnTable.vacuum(dir, keepSince = 3, force = true)
      }
      assert(aborted.getMessage.contains("advanced past"),
        aborted.getMessage)
    } finally TxnTable.onBeforeVacuumDelete = () => ()
    assert(TxnTable.read(spark, dir).count() == 500,
      "the aborted sweep must leave the racing commit intact")
  }

  test("lease expiry: a crashed holder's lock is taken over; a live " +
      "holder refuses loudly; release is token-checked") {
    import spark.implicits._
    val dir = graft.core.TempDirs.scratchShared("txnlease")
    TxnTable.init(spark, dir, (0L until 10L).toDF("k"), numFiles = 1)
    TxnTable.upsert(spark, dir, "k", Seq(Tuple1(1L)).toDF("k"))
    val lock = new java.io.File(dir, "_maintenance.lock")
    // a LIVE holder (fresh ts, generous ttl) blocks maintenance with
    // a conflict NAMING it — the operator's retry signal
    java.nio.file.Files.write(lock.toPath,
      (s"""{"holder":"vacuum@pid999","token":"t0",""" +
        s""""ts":${System.currentTimeMillis()},"ttlMs":600000}""")
        .getBytes("UTF-8"))
    val held = intercept[java.util.ConcurrentModificationException] {
      TxnTable.vacuum(dir, keepSince = 2, force = true)
    }
    assert(held.getMessage.contains("vacuum@pid999"), held.getMessage)
    assert(TxnTable.version(dir) == 2)
    // a CRASHED holder (expired ttl) is reclaimed without operator
    // intervention — maintenance proceeds
    java.nio.file.Files.write(lock.toPath,
      (s"""{"holder":"restore@pid999","token":"t0",""" +
        s""""ts":${System.currentTimeMillis() - 5000},"ttlMs":1}""")
        .getBytes("UTF-8"))
    TxnTable.vacuum(dir, keepSince = 2, force = true)
    assert(!lock.exists(), "the completed op must release the lease")
    // a CORRUPT lock body (nobody can identify the holder) is treated
    // as expired — reclaimable, never a wedge
    java.nio.file.Files.write(lock.toPath, "junk".getBytes("UTF-8"))
    TxnTable.vacuum(dir, keepSince = 2, force = true)
    assert(!lock.exists())
    // RELEASE IS TOKEN-CHECKED: after a TTL takeover, the slow
    // original holder's release must not delete the new holder's lock
    val t1 = graft.core.Lease.acquire(dir, "slow-op", ttlMillis = 1)
    Thread.sleep(10)
    val t2 = graft.core.Lease.acquire(dir, "takeover-op",
      ttlMillis = 600000)
    graft.core.Lease.release(dir, t1) // the slow holder resumes, dies
    assert(lock.exists(),
      "a superseded holder's release must not free the new lease")
    graft.core.Lease.release(dir, t2)
    assert(!lock.exists())
  }

  test("lease renewal: a live long-running holder renews past its TTL " +
      "and is never taken over; a stalled one frees after the TTL") {
    val dir = graft.core.TempDirs.scratchShared("leaserenew")
    new java.io.File(dir).mkdirs()
    // a deliberately TINY ttl: without renewal this lease would be
    // reclaimable after 60 ms — the user-controlled-work-length case
    // (a 32k BPE run under a fixed TTL)
    val tok = graft.core.Lease.acquire(dir, "long-op", ttlMillis = 60)
    val until = System.currentTimeMillis() + 400
    while (System.currentTimeMillis() < until) {
      graft.core.Lease.renew(dir, tok)
      val held = intercept[java.util.ConcurrentModificationException] {
        graft.core.Lease.acquire(dir, "contender", ttlMillis = 60000)
      }
      assert(held.getMessage.contains("long-op"),
        s"a renewing holder must stay held: ${held.getMessage}")
      Thread.sleep(20)
    }
    // renewal is token-checked: a stranger's renew must not extend it
    graft.core.Lease.renew(dir, "not-the-token")
    // the holder stalls (no more renews): after the TTL a contender
    // reclaims — the crashed-trainer recovery path
    Thread.sleep(120)
    val tok2 = graft.core.Lease.acquire(dir, "contender", ttlMillis = 60000)
    // the stalled holder's late release must not free the new lease
    graft.core.Lease.release(dir, tok)
    assert(new java.io.File(dir, "_maintenance.lock").exists())
    graft.core.Lease.release(dir, tok2)
    assert(!new java.io.File(dir, "_maintenance.lock").exists())
  }

  test("lease takeover storm: racing reapers of an expired lock never " +
      "produce two concurrent holders (reap is move-based, not delete)") {
    // the TOCTOU this pins: contender B judges the lock expired, A
    // reaps + re-claims first, then B's takeover must NOT destroy A's
    // fresh claim. With a delete-based reap two maintenance ops could
    // both hold; the atomic-move reap gives the inode to one reaper
    val dir = graft.core.TempDirs.scratchShared("leasestorm")
    new java.io.File(dir).mkdirs()
    val lock = new java.io.File(dir, "_maintenance.lock")
    val concurrent = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    val acquisitions = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    // a fresh EXPIRED lock is planted repeatedly so every round is a
    // multi-reaper race on a crashed holder's leftovers
    val planter = new Thread(() => while (!stop.get()) {
      try {
        if (!lock.exists())
          java.nio.file.Files.write(lock.toPath,
            (s"""{"holder":"crashed@pid1","token":"tx",""" +
              s""""ts":${System.currentTimeMillis() - 9999},"ttlMs":1}""")
              .getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW)
        ()
      } catch { case scala.util.control.NonFatal(_) => () }
      Thread.sleep(1)
    })
    def contender(): Unit = (1 to 60).foreach { _ =>
      try {
        val tok = graft.core.Lease.acquire(dir, "storm-op",
          ttlMillis = 600000)
        val now = concurrent.incrementAndGet()
        maxSeen.getAndUpdate(m => math.max(m, now))
        acquisitions.incrementAndGet()
        Thread.sleep(2) // hold briefly — a second holder would overlap
        concurrent.decrementAndGet()
        graft.core.Lease.release(dir, tok)
      } catch {
        case _: java.util.ConcurrentModificationException => // held: fine
      }
    }
    val threads = (1 to 6).map(_ => new Thread(() => contender()))
    planter.start(); threads.foreach(_.start())
    threads.foreach(_.join(120000))
    stop.set(true); planter.join(10000)
    assert(acquisitions.get() > 0, "the storm must land real acquisitions")
    assert(maxSeen.get() == 1,
      s"two maintenance holders overlapped (max=${maxSeen.get()})")
  }

  test("lease heartbeat: a sweep that outlives its TTL is renewed by " +
      "withLeaseHandle's daemon beat and never taken over; the fence " +
      "passes throughout") {
    val dir = graft.core.TempDirs.scratchShared("leasebeat")
    new java.io.File(dir).mkdirs()
    // TTL far below the body's duration: without the heartbeat every
    // contender probe below would reclaim — the ADVICE scenario (an
    // object-store vacuum sweeping 10⁴ files past a 10-minute TTL)
    graft.core.Lease.withLeaseHandle(dir, "slow-sweep",
        ttlMillis = 800) { h =>
      // body runs 3× the TTL; the beat lands every ttl/3 ≈ 266 ms, so
      // the lock's stamped age stays far under the 800 ms expiry even
      // under test-suite scheduling jitter
      val until = System.currentTimeMillis() + 2500
      while (System.currentTimeMillis() < until) {
        h.checkFence() // a live renewed holder must pass its own fence
        val held = intercept[java.util.ConcurrentModificationException] {
          graft.core.Lease.acquire(dir, "contender", ttlMillis = 60000)
        }
        assert(held.getMessage.contains("slow-sweep"),
          s"a heartbeat-renewed holder must stay held: ${held.getMessage}")
        Thread.sleep(50)
      }
    }
    assert(!new java.io.File(dir, "_maintenance.lock").exists(),
      "the completed body must release the lease")
    assert(Option(new java.io.File(dir).listFiles()).get
      .forall(!_.getName.endsWith(".tmp")),
      "renew must not orphan its temp files in the data dir")
  }

  test("lease fencing: a holder stalled past its TTL and taken over " +
      "has its resumed deletes REFUSED — vacuum drops nothing, restore " +
      "refuses to publish") {
    import spark.implicits._
    val dir = graft.core.TempDirs.scratchShared("leasefence")
    TxnTable.init(spark, dir,
      (0L until 100L).toDF("k").withColumn("v", col("k"))
        .repartitionByRange(2, col("k")).sortWithinPartitions("k"),
      numFiles = 0, statsCols = Seq("k"))                          // v1
    TxnTable.upsert(spark, dir, "k", Seq((1L, -1L)).toDF("k", "v")) // v2
    TxnTable.upsert(spark, dir, "k", Seq((2L, -2L)).toDF("k", "v")) // v3
    val lock = new java.io.File(dir, "_maintenance.lock")
    def parquetCount(): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(dir, "files"))
    }
    // THE TTL-STALL RESIDUE, simulated at the hook: the sweep has
    // planned its drop set, then "stalls past its TTL" — a reap plus
    // a contender's fresh claim land (we plant them directly; clock
    // waits would only slow the test) — then the stale holder resumes
    // straight into its delete loop. The fence must refuse BEFORE the
    // first delete: zero files and zero manifests dropped.
    val filesBefore = parquetCount()
    TxnTable.onBeforeVacuumDelete = () =>
      java.nio.file.Files.write(lock.toPath,
        (s"""{"holder":"contender@pid7","token":"other-token",""" +
          s""""ts":${System.currentTimeMillis()},"ttlMs":600000}""")
          .getBytes("UTF-8"))
    val fenced =
      try intercept[java.util.ConcurrentModificationException] {
        TxnTable.vacuum(dir, keepSince = 3, force = true)
      } finally TxnTable.onBeforeVacuumDelete = () => ()
    assert(fenced.getMessage.contains("fencing"), fenced.getMessage)
    assert(parquetCount() == filesBefore,
      "a fence-refused vacuum must delete ZERO data files")
    assert((1 to 3).forall(v =>
      new java.io.File(dir, s"manifest-v$v.json").exists()),
      "a fence-refused vacuum must drop ZERO manifests")
    assert(TxnTable.read(spark, dir, 1).count() == 100,
      "v1 must remain fully time-travelable after the refused sweep")
    // RESTORE's mirror: superseded between its plan and its publish —
    // it must refuse to commit (no new version, no re-verify trip),
    // not publish a head a vacuum may be gutting
    java.nio.file.Files.deleteIfExists(lock.toPath)
    val trips = TxnTable.restoreReVerifyTrips.get()
    TxnTable.onBeforeCommit = () =>
      java.nio.file.Files.write(lock.toPath,
        (s"""{"holder":"contender@pid7","token":"other-token",""" +
          s""""ts":${System.currentTimeMillis()},"ttlMs":600000}""")
          .getBytes("UTF-8"))
    val fencedR =
      try intercept[java.util.ConcurrentModificationException] {
        TxnTable.restore(spark, dir, 1)
      } finally TxnTable.onBeforeCommit = () => ()
    assert(fencedR.getMessage.contains("fencing"), fencedR.getMessage)
    assert(TxnTable.version(dir) == 3,
      "a fence-refused restore must publish nothing")
    assert(!new java.io.File(dir, "manifest-v4.json").exists())
    assert(TxnTable.restoreReVerifyTrips.get() == trips,
      "the post-publish re-verify must never fire — fencing refuses first")
    // cleanup: the planted contender lock would wedge later tests'
    // maintenance on this scratch dir
    java.nio.file.Files.deleteIfExists(lock.toPath)
    // after the refusals, a FRESH lease completes the same ops clean
    TxnTable.vacuum(dir, keepSince = 3, force = true)
    assert(!new java.io.File(dir, "manifest-v1.json").exists())
    assert(TxnTable.read(spark, dir).count() == 100)
  }

  test("fence-atomic batches: a takeover landing MID-SWEEP (between " +
      "delete batches) refuses every later batch — zero deletes after " +
      "the takeover instant, manifests untouched") {
    import spark.implicits._
    val dir = graft.core.TempDirs.scratchShared("leasemidbatch")
    // v1: ~80 data files (2000 rows round-robined into 80 partitions
    // leaves none empty), all rewritten away by v2 — so a keepSince=2
    // sweep dooms >64 files = at least TWO fence-atomic batches
    TxnTable.init(spark, dir, (0L until 2000L).toDF("k"),
      numFiles = 80)
    TxnTable.upsert(spark, dir, "k", (0L until 2000L).toDF("k"),
      numFiles = 2)
    val lock = new java.io.File(dir, "_maintenance.lock")
    def parquetCount(): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(dir, "files"))
    }
    val before = parquetCount()
    // the takeover (reap + fresh claim, planted directly — the real
    // reap path is pinned by the Lease-level race test below) lands
    // BETWEEN batch 0 and batch 1: batch 1's section-held fence must
    // refuse before its first delete
    TxnTable.onVacuumBatch = i => if (i == 1)
      java.nio.file.Files.write(lock.toPath,
        (s"""{"holder":"contender@pid7","token":"other-token",""" +
          s""""ts":${System.currentTimeMillis()},"ttlMs":600000}""")
          .getBytes("UTF-8"))
    val fenced =
      try intercept[java.util.ConcurrentModificationException] {
        TxnTable.vacuum(dir, keepSince = 2, force = true)
      } finally TxnTable.onVacuumBatch = _ => ()
    assert(fenced.getMessage.contains("fencing"), fenced.getMessage)
    assert(parquetCount() == before - 64,
      s"exactly the one pre-takeover batch (64 files) may be deleted; " +
        s"saw ${before - parquetCount()}")
    assert(new java.io.File(dir, "manifest-v1.json").exists(),
      "the post-loop manifest drop must be refused too")
    assert(TxnTable.read(spark, dir).count() == 2000,
      "the head version must be untouched by the refused sweep")
    // a fresh lease finishes the interrupted sweep clean
    java.nio.file.Files.deleteIfExists(lock.toPath)
    TxnTable.vacuum(dir, keepSince = 2, force = true)
    assert(!new java.io.File(dir, "manifest-v1.json").exists())
    assert(TxnTable.read(spark, dir).count() == 2000)
  }

  test("fencedSection: under a REAL takeover race (expired lease, dead " +
      "heartbeat, live worker), no section body runs after a successor " +
      "acquires — the reap cannot interleave with a held section") {
    val dir = graft.core.TempDirs.scratchShared("leasesectionrace")
    new java.io.File(dir).mkdirs()
    // acquire WITHOUT withLeaseHandle: no heartbeat — the lease
    // expires in 40 ms while the worker keeps running batches
    val tok = graft.core.Lease.acquire(dir, "stalled-op", ttlMillis = 40)
    val h = graft.core.Lease.handleFor(dir, tok)
    val takenOverAt = new java.util.concurrent.atomic.AtomicLong(0)
    val contender = new Thread(() => {
      var t: String = null
      while (t == null) {
        try t = graft.core.Lease.acquire(dir, "contender",
          ttlMillis = 600000)
        catch {
          case _: java.util.ConcurrentModificationException =>
            Thread.sleep(5)
        }
      }
      takenOverAt.set(System.nanoTime())
    })
    contender.setDaemon(true)
    contender.start()
    var refused = false
    var bodiesAfterTakeover = 0
    val deadline = System.currentTimeMillis() + 20000
    while (!refused && System.currentTimeMillis() < deadline) {
      try h.fencedSection {
        // the fence passed INSIDE the section — if a successor had
        // already fully acquired, this body is the two-holder overlap
        // the construct exists to prevent
        if (takenOverAt.get() != 0) bodiesAfterTakeover += 1
      } catch {
        case _: java.util.ConcurrentModificationException => refused = true
      }
      Thread.sleep(1)
    }
    contender.join(15000)
    assert(refused,
      "the expired, non-renewing holder must eventually be fenced out")
    assert(takenOverAt.get() != 0, "the contender must take over")
    assert(bodiesAfterTakeover == 0,
      s"$bodiesAfterTakeover section bodies ran after the successor " +
        "acquired — the fence+delete pair is not atomic")
  }

  test("fencedSection REFUSES (throws, body not run) when the reaper " +
      "section stays contended past the entry deadline — the r17 " +
      "degrade-to-check-then-act residue is closed") {
    val dir = graft.core.TempDirs.scratchShared("leasesectionrefuse")
    new java.io.File(dir).mkdirs()
    val tok = graft.core.Lease.acquire(dir, "op", ttlMillis = 600000)
    // injected shrunk entry window (r19: the seams are constructor
    // parameters, not mutable production globals)
    val h = graft.core.Lease.handleFor(dir, tok,
      graft.core.Lease.SectionConfig(entryTimeoutMillis = 300))
    // a hostage holds the section FRESH for the whole entry window
    // (staleness cleanup only fires on sections older than the window)
    val section = new java.io.File(dir, ".reaper.lock")
    java.nio.file.Files.write(section.toPath, "hostage".getBytes("UTF-8"))
    var ran = false
    try {
      val e = intercept[java.util.ConcurrentModificationException] {
        h.fencedSection { ran = true }
      }
      assert(e.getMessage.contains("could not enter the reaper section"),
        e.getMessage)
      assert(!ran,
        "the destructive body ran UNFENCED on the contended path — " +
          "this is exactly the degraded check-then-act the refusal closes")
      // hostage released → the same batch enters and runs clean
      java.nio.file.Files.deleteIfExists(section.toPath)
      h.fencedSection { ran = true }
      assert(ran, "the uncontended path must be unchanged")
    } finally {
      graft.core.Lease.release(dir, tok)
    }
  }

  test("a fencedSection body that outlives the section staleness window " +
      "keeps its section LIVE (mtime heartbeat): a concurrent entrant " +
      "refuses instead of reaping the 'stale' section mid-body") {
    val dir = graft.core.TempDirs.scratchShared("leasesectionlong")
    new java.io.File(dir).mkdirs()
    val tok = graft.core.Lease.acquire(dir, "op", ttlMillis = 600000)
    // shrink the windows so the race runs in seconds: staleness 700 ms
    // (heartbeat refreshes at ~233 ms), body 2200 ms — an UNREFRESHED
    // section would be judged crashed and stolen 3× over
    val h = graft.core.Lease.handleFor(dir, tok,
      graft.core.Lease.SectionConfig(
        entryTimeoutMillis = 300, staleMillis = 700))
    try {
      @volatile var contenderEntered = false
      @volatile var contenderRefused = false
      val contender = new Thread(() => {
        try {
          Thread.sleep(1200) // mid-body, well past unrefreshed staleness
          try h.fencedSection { contenderEntered = true }
          catch {
            case _: java.util.ConcurrentModificationException =>
              contenderRefused = true
          }
        } catch { case _: InterruptedException => () }
      })
      contender.setDaemon(true)
      contender.start()
      h.fencedSection { Thread.sleep(2200) }
      contender.join(10000)
      assert(!contenderEntered,
        "a concurrent entrant reaped the section MID-BODY — the long " +
          "body's heartbeat failed to keep it visibly live")
      assert(contenderRefused,
        "the contender must have run into the live section and refused")
    } finally {
      graft.core.Lease.release(dir, tok)
    }
  }

  test("fencedSection LOSS IS LOUD (r19): a section STOLEN mid-body " +
      "interrupts the body and the call throws — the batch aborts " +
      "instead of completing unfenced; a body that swallows the " +
      "interrupt still fails the call") {
    val dir = graft.core.TempDirs.scratchShared("leasesectionloss")
    new java.io.File(dir).mkdirs()
    val tok = graft.core.Lease.acquire(dir, "op", ttlMillis = 600000)
    val h = graft.core.Lease.handleFor(dir, tok,
      graft.core.Lease.SectionConfig(
        entryTimeoutMillis = 300, staleMillis = 600))
    val section = new java.io.File(dir, ".reaper.lock")
    try {
      // 1) interruptible body: a 10-batch delete loop; the section is
      // stolen-and-replaced after batch 2 — the heartbeat (cadence
      // 200 ms) must detect the foreign token, interrupt the body,
      // and the call must throw with batches left UNRUN
      val thief = new Thread(() => {
        try {
          Thread.sleep(500)
          java.nio.file.Files.write(section.toPath,
            "successor-token".getBytes("UTF-8"))
        } catch { case _: InterruptedException => () }
      })
      thief.setDaemon(true); thief.start()
      var batches = 0
      val e = intercept[java.util.ConcurrentModificationException] {
        h.fencedSection {
          (1 to 10).foreach { _ =>
            batches += 1
            Thread.sleep(400) // each "batch"; interrupt lands here
          }
        }
      }
      thief.join(5000)
      assert(e.getMessage.contains("LOST its reaper section"), e.getMessage)
      assert(batches < 10,
        s"the batch loop must ABORT on section loss, not run all 10 " +
          s"(ran $batches)")
      assert(!Thread.currentThread().isInterrupted,
        "the abort interrupt must not leak into the caller")
      // the stolen section belongs to the 'successor' — clean it up
      java.nio.file.Files.deleteIfExists(section.toPath)

      // 2) a body that SWALLOWS the interrupt and completes: the call
      // must still throw (loss is never silent), and the successor's
      // section must not be deleted by the loser's exit
      val thief2 = new Thread(() => {
        try {
          Thread.sleep(500)
          java.nio.file.Files.write(section.toPath,
            "successor-token".getBytes("UTF-8"))
        } catch { case _: InterruptedException => () }
      })
      thief2.setDaemon(true); thief2.start()
      var completed = false
      val e2 = intercept[java.util.ConcurrentModificationException] {
        h.fencedSection {
          val until = System.currentTimeMillis() + 1500
          while (System.currentTimeMillis() < until)
            try Thread.sleep(100)
            catch { case _: InterruptedException => () } // swallowed
          completed = true
        }
      }
      thief2.join(5000)
      assert(completed, "this body deliberately ignores the interrupt")
      assert(e2.getMessage.contains("LOST its reaper section"),
        s"a completed-but-unfenced body must still fail loudly: ${e2.getMessage}")
      assert(new String(java.nio.file.Files.readAllBytes(section.toPath),
        "UTF-8") == "successor-token",
        "the loser's exit must not delete the successor's section")
      java.nio.file.Files.deleteIfExists(section.toPath)
    } finally {
      graft.core.Lease.release(dir, tok)
    }
  }

  test("fencedSection heartbeat-failure abort (r19): when section " +
      "refreshes keep FAILING (file swapped for an unreadable " +
      "directory), the body aborts before the staleness window runs " +
      "out rather than running on unfenced") {
    val dir = graft.core.TempDirs.scratchShared("leasesectionioerr")
    new java.io.File(dir).mkdirs()
    val tok = graft.core.Lease.acquire(dir, "op", ttlMillis = 600000)
    val h = graft.core.Lease.handleFor(dir, tok,
      graft.core.Lease.SectionConfig(
        entryTimeoutMillis = 300, staleMillis = 600))
    val section = new java.io.File(dir, ".reaper.lock")
    try {
      // deny reads/writes of the section file: swap it for a DIRECTORY
      // of the same name — readAllBytes then fails every tick
      val saboteur = new Thread(() => {
        try {
          Thread.sleep(300)
          java.nio.file.Files.deleteIfExists(section.toPath)
          java.nio.file.Files.createDirectory(section.toPath)
          ()
        } catch { case _: InterruptedException => () }
      })
      saboteur.setDaemon(true); saboteur.start()
      var batches = 0
      val t0 = System.currentTimeMillis()
      val e = intercept[java.util.ConcurrentModificationException] {
        h.fencedSection {
          (1 to 20).foreach { _ =>
            batches += 1
            Thread.sleep(200)
          }
        }
      }
      val elapsed = System.currentTimeMillis() - t0
      saboteur.join(5000)
      assert(e.getMessage.contains("LOST its reaper section"), e.getMessage)
      assert(batches < 20,
        s"the batch loop must abort on persistent refresh failure " +
          s"(ran $batches of 20)")
      assert(elapsed < 3000,
        s"the abort must land around the staleness horizon, not after " +
          s"the whole body (${elapsed} ms)")
      java.nio.file.Files.deleteIfExists(section.toPath)
    } finally {
      graft.core.Lease.release(dir, tok)
    }
  }

  test("fencedSection end-of-body ownership re-verify (r20): a section " +
      "lost while NO heartbeat ever ran (total beat starvation — the " +
      "miss counter is blind to never-scheduled beats) still fails the " +
      "call instead of completing as if fenced") {
    val dir = graft.core.TempDirs.scratchShared("leasesectionstarve")
    new java.io.File(dir).mkdirs()
    val tok = graft.core.Lease.acquire(dir, "op", ttlMillis = 600000)
    // staleMillis huge → heartbeat cadence 200 s: no beat fires inside
    // the short body below, exactly the starved-scheduler regime — the
    // beat-side sentinel (onLost / consecutive-miss) cannot fire, so
    // only the unconditional end-of-body re-verify stands between a
    // reaped section and a silently-unfenced completion
    val h = graft.core.Lease.handleFor(dir, tok,
      graft.core.Lease.SectionConfig(
        entryTimeoutMillis = 300, staleMillis = 600000))
    val section = new java.io.File(dir, ".reaper.lock")
    try {
      var completed = false
      val e = intercept[java.util.ConcurrentModificationException] {
        h.fencedSection {
          // simulate reap + successor claim mid-body, before any beat
          java.nio.file.Files.write(section.toPath,
            "successor-token".getBytes("UTF-8"))
          completed = true
        }
      }
      assert(completed, "the body itself runs to completion here")
      assert(e.getMessage.contains("LOST its reaper section"),
        s"starved-beat loss must still be loud: ${e.getMessage}")
      assert(new String(java.nio.file.Files.readAllBytes(section.toPath),
        "UTF-8") == "successor-token",
        "the loser's exit must not delete the successor's section")
      java.nio.file.Files.deleteIfExists(section.toPath)
    } finally {
      graft.core.Lease.release(dir, tok)
    }
  }

  test("randomized histories WITH restore/checkpoint/maintenance over the " +
      "delta log: every surviving version ≡ its model, cold-cache, and " +
      "the CDC fold ≡ recompute across restores") {
    import spark.implicits._
    // the delta-manifest fuzz: deletes/upserts/mergeFrames interleave
    // with RESTOREs (model rewinds), explicit checkpoints (resolution
    // bases mid-chain) and content-neutral maintenance — then every
    // version is re-resolved from a cold cache and compared to the
    // model the walk recorded for it
    for (seed <- Seq(3, 11)) {
      val rnd = new scala.util.Random(seed)
      val dir = graft.core.TempDirs.scratchShared(s"txndfuzz$seed")
      var model: Map[Long, (String, Long)] = (0L until 200L)
        .map(k => k -> (s"g${k % 5}", k * 10)).toMap
      TxnTable.init(spark, dir,
        model.toSeq.map { case (k, (g, v)) => (k, g, v) }
          .toDF("k", "g", "v")
          .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
        numFiles = 0, statsCols = Seq("k"))
      var modelAt: Map[Int, Map[Long, (String, Long)]] = Map(1 -> model)
      for (_ <- 1 to 8) {
        rnd.nextInt(6) match {
          case 0 =>
            val ks = Seq.fill(rnd.nextInt(8) + 1)(rnd.nextLong(260L)).distinct
            TxnTable.deleteKeys(spark, dir, "k", ks)
            model = model -- ks
          case 1 =>
            val rows = Seq.fill(rnd.nextInt(6) + 1)(rnd.nextLong(260L))
              .distinct.map(k => (k, s"g${rnd.nextInt(7)}", rnd.nextLong(1000L)))
            TxnTable.upsert(spark, dir, "k",
              rows.toDF("k", "g", "v"), numFiles = 2)
            model = model ++ rows.map { case (k, g, v) => k -> (g, v) }
          case 2 =>
            val ks = Seq.fill(rnd.nextInt(8) + 2)(rnd.nextLong(260L)).distinct
            val (delK, upK) = ks.splitAt(ks.length / 2)
            val rows =
              delK.map(k => (k, "", 0L, "delete")) ++
                upK.map(k => (k, s"g${rnd.nextInt(7)}", rnd.nextLong(1000L),
                  "upsert"))
            TxnTable.mergeFrame(spark, dir, "k",
              rows.toDF("k", "g", "v", "_op"), numFiles = 2)
            model = model -- delK ++
              rows.collect { case (k, g, v, "upsert") => k -> (g, v) }
          case 3 =>
            val toV = rnd.nextInt(TxnTable.version(dir)) + 1
            if (toV < TxnTable.version(dir)) {
              TxnTable.restore(spark, dir, toV)
              model = modelAt(toV)
            }
          case 4 =>
            TxnTable.checkpoint(dir,
              rnd.nextInt(TxnTable.version(dir)) + 1)
            ()
          case _ =>
            if (rnd.nextBoolean()) {
              TxnTable.compactSmall(spark, dir, minBytes = 1L << 14,
                numFiles = 1); ()
            } else {
              TxnTable.optimizeRange(spark, dir, "k",
                rnd.nextLong(200L), rnd.nextLong(60L) + 200L); ()
            }
        }
        modelAt += TxnTable.version(dir) -> model
      }
      // cold-cache: every version re-resolves through whatever mix of
      // snapshots, checkpoints and delta tails the walk left behind
      TxnTable.dropCaches(dir)
      (1 to TxnTable.version(dir)).foreach { v =>
        val got = TxnTable.read(spark, dir, v).collect()
          .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toSet
        assert(got == modelAt(v).toSet, s"seed $seed v$v: snapshot != model")
      }
      // the CDC fold spans data commits, maintenance no-ops and
      // restores alike — exactly equal to a recompute at the head
      val keys = Seq("g"); val sums = Seq("v")
      val maintained = (2 to TxnTable.version(dir))
        .foldLeft(TxnTable.rollupOf(
          TxnTable.read(spark, dir, v = 1), keys, sums)) { (roll, v) =>
          TxnTable.applyCdcDelta(roll,
            TxnTable.changes(spark, dir, v - 1, v), keys, sums)
        }
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
      assert(canon(maintained) ==
        canon(TxnTable.rollupOf(TxnTable.read(spark, dir), keys, sums)),
        s"seed $seed: maintained rollup != recompute across restores")
    }
  }

  test("restore of an upgraded legacy zero-file version is a clean " +
      "commit, not an opaque schema-inference crash") {
    import spark.implicits._
    val dir = graft.core.TempDirs.scratchShared("txnrestempty")
    TxnTable.init(spark, dir,
      (0L until 20L).map(k => (k, k)).toDF("k", "v"),
      numFiles = 1, statsCols = Seq("k"))                        // v1
    TxnTable.writeManifest(dir, 2, Nil)                          // v2: empty
    assert(TxnTable.liveEntries(dir, 2).isEmpty)
    TxnTable.upsert(spark, dir, "k", Seq((5L, 5L)).toDF("k", "v")) // v3
    // make the table LEGACY: strip the schema headers so restore's
    // toPhysCols fallback has no recorded schema to lean on
    (1 to 3).foreach { v =>
      val p = new java.io.File(dir, s"manifest-v$v.json").toPath
      val stripped = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .split('\n').filterNot(_.contains("\"schema\":")).mkString("\n")
      java.nio.file.Files.write(p, stripped.getBytes("UTF-8"))
    }
    TxnTable.dropCaches(dir)
    assertNeedsUpgrade(TxnTable.restore(spark, dir, 2))
    assert(TxnTable.version(dir) == 3, "a refused restore commits nothing")
    assert(TxnTable.upgrade(spark, dir) == 3)
    // the empty version takes its predecessor's schema: the restore
    // buries nothing and head's surface stays visible
    assert(TxnTable.physSchemaAt(dir, 2).fieldNames.toSeq == Seq("k", "v"))
    val v4 = TxnTable.restore(spark, dir, 2)
    assert(v4 == 4 && TxnTable.liveEntries(dir, 4).isEmpty,
      "restoring to the empty version must commit cleanly")
    assert(TxnTable.read(spark, dir).columns.toSeq == Seq("k", "v"))
  }

  test("head hint: steady-state reads resolve with ZERO directory " +
      "LISTs; every stale-hint shape self-heals") {
    import spark.implicits._
    val dir = graft.core.TempDirs.scratchShared("txnhint")
    TxnTable.init(spark, dir,
      (0L until 100L).toDF("k").withColumn("p", col("k") * 2),
      numFiles = 2)
    (1 to 4).foreach { i =>
      TxnTable.upsert(spark, dir, "k",
        Seq((i.toLong, 999L)).toDF("k", "p"), numFiles = 1)
    }
    val head = TxnTable.version(dir)
    assert(head == 5)
    val hint = new java.io.File(dir, "_head.json")
    assert(hint.exists(), "each publish must prime the head hint")
    def listsDuring[T](body: => T): (T, Long) = {
      TxnTable.resetIoCountersForTest()
      val r = body
      (r, TxnTable.manifestLog.lists.get())
    }
    // STEADY STATE: head resolution, reads, history bounds, asOf —
    // all through hint + existence probes, zero LISTs (on an object
    // store a LIST is paged: 10+ round trips per read at 10⁴ versions)
    val (_, l1) = listsDuring {
      assert(TxnTable.version(dir) == head)
      assert(TxnTable.read(spark, dir).count() == 100)
      assert(TxnTable.versionAsOf(dir, System.currentTimeMillis()) == head)
      TxnTable.historyWithTs(dir)
    }
    assert(l1 == 0, s"steady-state reads must not LIST the root ($l1)")
    // HINT DELETED (crash before any hint ever landed / external
    // cleanup): one LIST fallback, correct answer, re-primed
    assert(hint.delete())
    val (v2, l2) = listsDuring(TxnTable.version(dir))
    assert(v2 == head && l2 == 1 && hint.exists(),
      "a missing hint costs one LIST and self-primes")
    val (_, l3) = listsDuring(TxnTable.version(dir))
    assert(l3 == 0)
    // HINT CORRUPT (garbage bytes): fallback, correct, self-heals
    java.nio.file.Files.write(hint.toPath, "not json".getBytes("UTF-8"))
    assert(TxnTable.version(dir) == head)
    // HINT AT A NEVER-COMMITTED VERSION (past the head): the hinted
    // manifest's own existence probe fails -> fallback, correct
    java.nio.file.Files.write(hint.toPath,
      s"""{"head":${head + 7}}""".getBytes("UTF-8"))
    assert(TxnTable.version(dir) == head)
    // HINT BEHIND THE HEAD (a crash between publish and hint-write):
    // the forward probe walks to the true head — probes, zero LISTs,
    // never a stale answer (the OCC planner must see the real head)
    java.nio.file.Files.write(hint.toPath,
      """{"head":1}""".getBytes("UTF-8"))
    val (v5, l5) = listsDuring(TxnTable.version(dir))
    assert(v5 == head && l5 == 0,
      "a stale-behind hint heals via forward probes, not a LIST")
    assert(TxnTable.read(spark, dir).count() == 100)
    // HINT BELOW THE VACUUM HORIZON: vacuum drops v1-v2; a hint
    // pointing at a vacuumed version fails its existence probe ->
    // fallback, correct
    TxnTable.vacuum(dir, keepSince = 3, force = true)
    java.nio.file.Files.write(hint.toPath,
      """{"head":1}""".getBytes("UTF-8"))
    assert(TxnTable.version(dir) == head)
    assert(TxnTable.historyWithTs(dir).map(_._1) == (3 to head),
      "the surviving range must enumerate without the dropped prefix")
    // and the whole surface still answers correctly afterwards
    assert(TxnTable.read(spark, dir).count() == 100)
    assert(TxnTable.versionAsOf(dir, System.currentTimeMillis()) == head)
  }
}
