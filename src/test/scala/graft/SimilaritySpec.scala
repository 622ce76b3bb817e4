package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.operators.Similarity

/** Scale-hardening checks for the LSH similarity operators: the
  * signature must run as the native codegen'd expression (not an
  * interpreted higher-order fold), multi-band amplification must find
  * planted near-duplicates, and over-sized buckets must be capped
  * before the self-join.
  */
class SimilaritySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  /** An index artifact written before the current on-disk format is
    * refused loudly, and the refusal names the upgrade call. */
  private def assertIndexNeedsUpgrade(body: => Any): Unit = {
    val ex = intercept[IllegalStateException](body)
    assert(String.valueOf(ex.getMessage).contains("ivfUpgrade"),
      s"the refusal must name the upgrade: ${ex.getMessage}")
  }

  /** (absolute path -> (mtime, bytes)) of every file under `dirs`. */
  private def fileStates(dirs: String*): Map[String, (Long, Seq[Byte])] =
    dirs.flatMap { d =>
      scala.util.Using.resource(
          java.nio.file.Files.walk(java.nio.file.Paths.get(d))) { st =>
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => p.toAbsolutePath.toString ->
            (java.nio.file.Files.getLastModifiedTime(p).toMillis,
              java.nio.file.Files.readAllBytes(p).toSeq))
          .toList
      }
    }.toMap

  test("ivfUpgrade: a ts-less pointer gains its mtime, count-less " +
      "takedown and tombstone files gain their count — refused until " +
      "then; a current index and a second upgrade touch no file; a " +
      "publish never records a ts below its predecessor's") {
    val root = graft.core.TempDirs.scratchShared("ivfupgroot")
    val lay = graft.core.TempDirs.scratchShared("ivfupglay")
    new java.io.File(lay).mkdirs()
    def put(f: java.io.File, body: String): Unit = {
      java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8")); ()
    }
    assert(Similarity.ivfPublish(root, lay, 4) == 1)
    Similarity.ivfPublishAs(root, 2, lay, 4)
    Similarity.ivfDelete(root, Seq(3L, 5L))
    val current = fileStates(root, lay)
    assert(Similarity.ivfUpgrade(root) == 0)
    assert(fileStates(root, lay) == current,
      "a current index must stay untouched")
    // forge the OLDER shapes: gen 1 without its ts (mtime 1 s before
    // gen 2's publish), both id files without their count header
    val ts2 = Similarity.ivfCommitTs(root, 2)
    val g1 = new java.io.File(root, "gen-1.json")
    put(g1, s"""{"gen":1,"path":"$lay","k":4}""")
    assert(g1.setLastModified(ts2 - 1000L))
    val idFiles = Seq(new java.io.File(root, "_takedowns"),
      new java.io.File(lay, "_tombstones")).flatMap(d =>
      d.listFiles().filter(_.getName.endsWith(".txt")))
    assert(idFiles.size == 2)
    idFiles.foreach(f => put(f, "3\n5\n"))
    Similarity.dropGenPtrCacheForTest(root)
    assertIndexNeedsUpgrade(Similarity.ivfCommitTs(root, 1))
    assertIndexNeedsUpgrade(Similarity.ivfTombstones(lay))
    assertIndexNeedsUpgrade(Similarity.takedownLedger(root))
    assert(Similarity.ivfUpgrade(root) == 3)
    assert(Similarity.ivfCommitTs(root, 1) == ts2 - 1000L,
      "a pointer's filled instant is its mtime when that is in order")
    assert(Similarity.ivfTombstones(lay) == Set(3L, 5L))
    assert(Similarity.takedownLedger(root) == Set(3L, 5L))
    assert(idFiles.forall(f => new String(java.nio.file.Files.readAllBytes(
      f.toPath), "UTF-8") == "#n=2\n3\n5\n"))
    val once = fileStates(root, lay)
    assert(Similarity.ivfUpgrade(root) == 0)
    assert(fileStates(root, lay) == once, "a second upgrade must touch no file")
    // a publisher whose predecessor recorded an instant ahead of this
    // clock: the pointer log stays non-decreasing
    val future = System.currentTimeMillis() + 86400000L
    put(new java.io.File(root, "gen-2.json"),
      s"""{"gen":2,"path":"$lay","k":4,"ts":$future}""")
    Similarity.dropGenPtrCacheForTest(root)
    Similarity.ivfPublishAs(root, 3, lay, 4)
    assert(Similarity.ivfCommitTs(root, 3) >= future)
    assert(Similarity.ivfGenAsOf(root, future - 1) == 1)
    assert(Similarity.ivfGenAsOf(root, future) == 3)
  }

  test("band signatures: deterministic, bands independent, packed width") {
    import spark.implicits._
    // distinct powers of two: no ±1 combination sums to exactly zero,
    // so negating the vector provably flips EVERY plane's sign bit
    val df = Seq(
      (1L, Array.tabulate(16)(i => (1 << i).toFloat)),
      (2L, Array.tabulate(16)(i => (1 << i).toFloat)),     // identical
      (3L, Array.tabulate(16)(i => -(1 << i).toFloat)))    // negated
      .toDF("vec_id", "embedding")
    val sigs = df.select(col("vec_id"),
      GraftFunctions.hyperplaneBands(col("embedding"), 4, 8, 42L).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(sigs(1L) == sigs(2L), "identical vectors must share every band")
    assert(sigs(1L).length == 4)
    assert(sigs(1L).forall(s => s >= 0 && s < 256), "8-bit band signatures")
    // a negated vector flips every plane's sign: all bands must differ
    // (each band complements, and 8-bit complement != identity)
    assert(sigs(1L).zip(sigs(3L)).forall { case (a, b) => (a ^ b) == 255 })
  }

  test("sim03/sim04 plans contain the native signature, no interpreted HOF") {
    val df = Similarity.queries("sim03_lsh_ann")(spark, sf)
    val plan = df.queryExecution.analyzed.toString.toLowerCase
    assert(plan.contains("hyperplane_bands"), s"native expr missing:\n$plan")
    assert(!plan.contains("lambdafunction"),
      s"interpreted higher-order fold back in the signature path:\n$plan")
    val plan4 = Similarity.queries("sim04_embedding_near_dups")(spark, sf)
      .queryExecution.analyzed.toString.toLowerCase
    assert(plan4.contains("hyperplane_bands") && !plan4.contains("lambdafunction"))
  }

  test("multi-band amplification finds a planted near-duplicate pair") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    def vec(): Array[Float] = Array.fill(32)(rnd.nextGaussian().toFloat)
    val base = vec()
    val nearDup = base.map(x => x + 0.001f) // cosine ≈ 1
    val corpus = (1L to 200L).map(i => (i, vec())) ++
      Seq((900L, base), (901L, nearDup))
    val df = corpus.toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(GraftFunctions.fixdotD(col("embedding"), col("embedding"))))
    val pairs = Similarity.simNearDupPairsFrom(df,
      bands = 3, rowsPerBand = 8, seed = 7L, maxBucket = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((900L, 901L)),
      "an almost-identical pair agrees on every plane, so every band matches")
  }

  test("LSH ANN: a consistent subset of the exact ranking, never fabricated") {
    val ann = Similarity.queries("sim03_lsh_ann")(spark, sf).collect()
    val exact = Similarity.simCosineTopK(spark, sf).collect()
    // where a pair also appears in the brute-force top-5, the ANN
    // cosine must be bit-identical (same fixdot arithmetic)
    val exactCos = exact.map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    ann.foreach { r =>
      exactCos.get((r.getLong(0), r.getLong(1))).foreach { c =>
        assert(r.getDouble(3) == c, s"cosine drift on ${(r.getLong(0), r.getLong(1))}")
      }
    }
    // per query: contiguous ranks from 1, descending cosine, no self
    ann.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getLong(2))
      assert(sorted.map(_.getLong(2)).toSeq == (1L to sorted.length).toSeq)
      val cos = sorted.map(_.getDouble(3)).toSeq
      assert(cos == cos.sorted.reverse, s"non-monotone ranking for query $q")
      assert(!rows.map(_.getLong(1)).contains(q))
    }
    // an ANN hit can never beat the query's true best neighbor
    val best = exact.filter(_.getLong(2) == 1)
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    ann.foreach(r => assert(r.getDouble(3) <= best(r.getLong(0)) + 1e-12))
  }

  test("IVF ANN: deterministic, probes its own lists, decent recall") {
    val r1 = Similarity.simIvfAnn(spark, sf).collect()
    val r2 = Similarity.simIvfAnn(spark, sf).collect()
    assert(r1.toSeq == r2.toSeq,
      "hash seeding + exact decimal means + fixdot must make IVF deterministic")
    // per query: ranks are exactly 1..3, neighbors distinct, never self
    val byQ = r1.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until 10L).toSet)
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getLong(2)).sorted.toSeq == Seq(1L, 2L, 3L))
      val nbrs = rows.map(_.getLong(1))
      assert(nbrs.distinct.length == 3 && !nbrs.contains(q))
    }
    // recall@3 vs the brute-force ground truth: nprobe=4 of k=8 lists
    // scans about half this (unclustered, synthetic) corpus, so the
    // expected overlap is ≈50%; 20% is a safe floor for 30 slots
    val exact = Similarity.simCosineTopK(spark, sf).collect()
      .filter(_.getLong(2) <= 3).map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = r1.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.2, s"recall@3 $recall collapsed — probe routing is broken")
  }

  test("PQ/ADC: valid codes, deterministic, beats-random recall") {
    val r1 = Similarity.simPqAdc(spark, sf).collect()
    assert(r1.toSeq == Similarity.simPqAdc(spark, sf).collect().toSeq,
      "fixed-point PQ must be deterministic")
    val byQ = r1.groupBy(_.getLong(0))
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getLong(2)).sorted.toSeq == (1L to 5L).toSeq)
      assert(!rows.map(_.getLong(1)).contains(q), "self must be excluded")
      // packed code is 4 nibbles of 0..15
      rows.map(_.getLong(3)).foreach(c => assert(c >= 0 && c < 65536))
    }
    // 16-bit codes of 64-dim vectors are lossy, but ADC ranking must
    // still overlap the exact ranking far above chance (5 random picks
    // from ~n would hit ≈5/n); floor at 10% of the exact top-5 set
    val exact = Similarity.simCosineTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = r1.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.1, s"PQ recall@5 $recall at chance level — ADC broken")
    // encoding must run as the fused native kernel — the 4×16
    // slice+fixdot struct tree it replaces benched ~4× slower
    val plan = Similarity.simPqAdc(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("centroid_probe"), s"PQ encode not fused:\n${plan.take(2000)}")
  }

  test("bucket cap drops degenerate hot buckets before the self-join") {
    import spark.implicits._
    // 50 identical vectors: one bucket of 50 per band → C(50,2) pairs
    val df = (1L to 50L).map(i => (i, Array.tabulate(16)(j => (j + 1).toFloat)))
      .toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(GraftFunctions.fixdotD(col("embedding"), col("embedding"))))
    val uncapped = Similarity.simNearDupPairsFrom(df, 2, 8, 7L, maxBucket = 1000)
    assert(uncapped.count() == 50L * 49 / 2)
    val capped = Similarity.simNearDupPairsFrom(df, 2, 8, 7L, maxBucket = 10)
    assert(capped.count() == 0, "hot buckets must be skipped entirely")
  }

  test("semdedup: planted dups cluster; keep = farthest from centroid") {
    import spark.implicits._
    // k=4 orthogonal seeds (pairwise cos 0 → no seed-seed pairs); a
    // planted trio near seed 0 whose farthest-from-centroid member is
    // id 11; an isolated singleton near seed 3 that must NOT appear
    val rows = Seq(
      0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(0f, 1f, 0f, 0f),
      2L -> Array(0f, 0f, 1f, 0f), 3L -> Array(0f, 0f, 0f, 1f),
      10L -> Array(0.9f, 0.1f, 0f, 0f), 11L -> Array(0.8f, 0.2f, 0f, 0f),
      20L -> Array(0f, 0f, 0f, 0.7f))
    val v = rows.toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(GraftFunctions.fixdotD(col("embedding"), col("embedding"))))
    val out = Similarity.semDedupFrom(spark, v, k = 4, tau = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // {0,10,11} is one duplicate group: cos(0,10)≈0.994, cos(0,11)≈0.970,
    // cos(10,11)≈0.993 — all ≥ 0.3 and same cluster. cos-to-centroid is
    // 1.0 / 0.994 / 0.970, so the kept (farthest) member is 11.
    // 20 pairs with 3 (cos 1.0, same cluster) → group {3,20}; both sit
    // at centroid-cosine ≈ 1.0 (fixed-point rounding decides the keep,
    // so only size/drops are asserted for this group)
    assert(out.length == 2, s"expected 2 groups, got ${out.toSeq}")
    assert(out.contains((0L, 3L, 11L, 2L)),
      s"trio group wrong (want grp=0 sz=3 keep=11 dropped=2): ${out.toSeq}")
    val g3 = out.find(_._1 == 3L).get
    assert(g3._2 == 2L && g3._4 == 1L, s"pair group wrong: $g3")
    // singletons (1, 2) never appear
    assert(!out.exists(t => t._1 == 1L || t._1 == 2L))
  }

  test("semdedup hier: two-level assignment matches flat on separated clusters") {
    import spark.implicits._
    // same planted corpus as the dd08 test: k=4 seeds, g=2 supers
    // (centers 1,2); centers 3,4 tie between the supers and group
    // under super 1 (lowest-sid tie-break). Every vector routes to a
    // group that CONTAINS its true nearest center, so the two-level
    // result must equal the flat-argmin result row-for-row.
    val rows = Seq(
      0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(0f, 1f, 0f, 0f),
      2L -> Array(0f, 0f, 1f, 0f), 3L -> Array(0f, 0f, 0f, 1f),
      10L -> Array(0.9f, 0.1f, 0f, 0f), 11L -> Array(0.8f, 0.2f, 0f, 0f),
      20L -> Array(0f, 0f, 0f, 0.7f))
    val v = rows.toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(GraftFunctions.fixdotD(col("embedding"), col("embedding"))))
    val flat = Similarity.semDedupFrom(spark, v, k = 4, tau = 0.3)
      .collect().map(_.toSeq).toSeq
    val hier = Similarity.semDedupHierFrom(spark, v, k = 4, tau = 0.3)
      .collect().map(_.toSeq).toSeq
    assert(hier == flat, s"hier=$hier flat=$flat")
  }

  test("hier assignment is ONE kernel occurrence even under a union input") {
    import spark.implicits._
    // regression lock for the dd09 100x probe finding: a CASE over
    // per-group probes gets cloned into every union branch by
    // PushProjectionThroughUnion (measured 7x end-to-end); the fused
    // HierCentroidProbe must appear exactly once per branch with NO
    // blowup in plan size — i.e. occurrences scale with branches, not
    // branches x groups
    val rows = (0L until 32L).map(i =>
      (i, Array.tabulate(4)(j => math.sin(i * 4.0 + j).toFloat)))
    val one = rows.toDF("vec_id", "embedding")
    val unioned = (0 until 8).map(i =>
      one.select((col("vec_id") + lit(i * 1000L)).as("vec_id"),
        col("embedding"))).reduce(_ unionByName _)
      .withColumn("nrm", sqrt(GraftFunctions.fixdotD(col("embedding"), col("embedding"))))
    val plan = Similarity.dbgAssignHier(unioned, 16)
      .queryExecution.optimizedPlan.toString
    val occ = "hier_centroid_probe".r.findAllIn(plan).length
    assert(occ <= 8, s"expected <= 1 kernel per union branch, saw $occ")
    assert(!plan.contains("CASE WHEN"), "no per-group CASE in the plan")
  }

  test("semdedup memoTag: assignment frame scanned once, not per reference") {
    import spark.implicits._
    // the source counts its own reads: every materialization of the
    // corpus RDD bumps the accumulator once per row, so the accumulator
    // is a direct scan-count metric. Un-memoized, the assignment frame
    // is re-derived per reference (pair-join side a, side b, scoring
    // join, plus each connected-components round) — ≥ 4n reads.
    // Memoized (the production dd08 path), the frame is computed once
    // and every later reference hits the cache: ≤ centroid collect (n)
    // + one materialization (n, ≤ 2n under concurrent-stage races).
    val acc = spark.sparkContext.longAccumulator("semdedup-src-reads")
    val n = 200
    val rdd = spark.sparkContext.parallelize(0L until n, 4).map { i =>
      acc.add(1)
      (i, Array.tabulate(8)(j => math.sin(i * 8.0 + j).toFloat))
    }
    val v = rdd.toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(GraftFunctions.fixdotD(col("embedding"), col("embedding"))))
    acc.reset()
    Similarity.semDedupFrom(spark, v, k = 4, tau = 0.9).count()
    val unmemo = acc.value
    acc.reset()
    Similarity.semDedupFrom(spark, v, k = 4, tau = 0.9,
      memoTag = Some("spec-memo-scan-count")).count()
    val memo = acc.value
    assert(unmemo >= 4L * n,
      s"un-memoized path should scan ≥ 4n rows, saw $unmemo (n=$n)")
    assert(memo <= 3L * n,
      s"memoized path should scan ≤ 3n rows (collect + one compute + race slack), saw $memo")
    assert(memo + n <= unmemo,
      s"memoization must save at least one full scan: memo=$memo unmemo=$unmemo")
  }

  test("persisted index: serve scan dynamically prunes to the probed lists") {
    val serve = Similarity.simPersistedIndexFrom(spark, sf)
    val rows = serve.df.collect()
    assert(rows.nonEmpty)
    val scan = PlanInspect.scans(serve.df.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(
        _.toString.contains("ivfindex")))
      .getOrElse(fail("no scan over the persisted postings table"))
    // the join on the PARTITION column against the broadcast probe
    // side must inject a runtime dynamicpruning subquery into the
    // postings scan — file-listing-level pruning, not a post-scan
    // filter
    assert(scan.partitionFilters.exists(
      _.toString.toLowerCase.contains("dynamicpruning")),
      s"no dynamic pruning on the postings scan:\n${scan.partitionFilters}")
    // k=16 list directories exist; 5 queries x nprobe=2 probe <= 10
    // distinct lists, so the runtime-pruned partition count must be
    // strictly below k (post-execution metric — static
    // selectedPartitions can't see runtime pruning)
    val read = scan.metrics("numPartitions").value
    assert(read <= 10 && read >= 1,
      s"expected <= 10 probed partitions of 16, scan read $read")
  }

  test("sim12: appended index equals a from-scratch rebuild; history files untouched") {
    import org.apache.spark.sql.functions._
    val v = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    // replicate the build: base (vec_id < 400) then appended delta,
    // under the same frozen first-16 flat quantizer
    val cents = v.filter(col("vec_id") < 16)
      .orderBy("vec_id").collect().toSeq
      .map(r => (r.getLong(0).toInt + 1, r.getSeq[Float](1)))
    def assigned(pred: org.apache.spark.sql.Column) = {
      val frame = v.filter(pred)
      frame.select(Similarity.nearestCidColForTest(cents, col("embedding"))
        .as("cid"), col("vec_id"))
    }
    val incDir = graft.core.TempDirs.scratchShared("sim12spec")
    assigned(col("vec_id") < 400).repartition(col("cid"))
      .write.partitionBy("cid").mode("overwrite").parquet(incDir)
    def fileState(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(incDir))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.length()).toMap
    }
    val before = fileState()
    assigned(col("vec_id") >= 400).repartition(col("cid"))
      .write.partitionBy("cid").mode("append").parquet(incDir)
    val after = fileState()
    // append-only: every base file survives byte-identical
    assert(before.forall { case (p, len) => after.get(p).contains(len) },
      "append must not rewrite or resize history files")
    assert(after.size > before.size, "the delta must land as new files")
    // appended ≡ rebuilt: same (cid, vec_id) assignment set
    val scratchDir = graft.core.TempDirs.scratchShared("sim12scratch")
    assigned(lit(true)).repartition(col("cid"))
      .write.partitionBy("cid").mode("overwrite").parquet(scratchDir)
    def rows(dir: String) = spark.read.parquet(dir)
      .select("cid", "vec_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(rows(incDir) == rows(scratchDir),
      "incremental index must equal the from-scratch build exactly")
  }

  test("IVF drift statistic trips on planted drift; retrain restores balance") {
    import spark.implicits._
    // the production failure mode of sim12's frozen coarse quantizer:
    // the ingest distribution drifts, appends pile into one list, and
    // a probed hot list costs a corpus scan. ivfBalance is the cheap
    // per-append detector (count-by-cid metadata); ivfRetrain is the
    // scheduled repair (re-train + rewrite, atomic swap by caller).
    val k = 8
    val rnd = new scala.util.Random(5)
    def jitter(): Float = (rnd.nextDouble() * 0.1 - 0.05).toFloat
    val centers = (0 until k).map { i =>
      val a = 2 * math.Pi * i / k
      Seq(math.cos(a).toFloat, math.sin(a).toFloat)
    }
    def near(c: Seq[Float]) = c.map(x => x + jitter())
    def df(rows: Seq[(Long, Seq[Float])]) = rows.map { case (id, e) =>
      (id, e, math.sqrt(e.map(x => x.toDouble * x).sum)) }
      .toDF("vec_id", "embedding", "nrm")
    val cts = centers.zipWithIndex.map { case (c, i) => (i + 1, c) }
    def assign(rows: org.apache.spark.sql.DataFrame) = rows.select(
      Similarity.nearestCidColForTest(cts, col("embedding")).as("cid"),
      col("vec_id"), col("embedding"), col("nrm"))
    val dir = graft.core.TempDirs.scratchShared("ivfdrift")
    // day 0: 400 vectors spread evenly over the 8 true clusters
    val base = (0 until 400).map(i => (i.toLong, near(centers(i % k))))
    assign(df(base)).repartition(col("cid"))
      .write.partitionBy("cid").mode("overwrite").parquet(dir)
    val b0 = Similarity.ivfBalance(spark, dir, k)
    assert(!b0.drifted && b0.factor < 2.0,
      s"pre-drift balance must be healthy: $b0")
    // drift: 400 appended vectors all in cluster 3's neighborhood —
    // the frozen quantizer piles every one into list cid=4
    val drift = (0 until 400).map(i => (1000L + i, near(centers(3))))
    assign(df(drift)).repartition(col("cid"))
      .write.partitionBy("cid").mode("append").parquet(dir)
    val b1 = Similarity.ivfBalance(spark, dir, k)
    assert(b1.drifted && b1.maxCid == 4 && b1.total == 800,
      s"planted drift must trip the stat: $b1") // (50+400)/800·8 = 4.5
    // retrain: new quantizer over the current corpus splits the hot
    // region across several lists
    val (dir2, cents2) = Similarity.ivfRetrain(spark, dir, k)
    assert(cents2.size == k)
    val b2 = Similarity.ivfBalance(spark, dir2, k)
    assert(!b2.drifted && b2.factor < b1.factor,
      s"retrain must restore balance: $b1 -> $b2")
    assert(b2.total == b1.total, "retrain must preserve every vector")
    // generation pointer: publish the drifted layout as gen 1, then
    // the retrain event publishes its successor atomically
    val root = graft.core.TempDirs.scratchShared("ivfgen")
    assert(Similarity.ivfPublish(root, dir, k) == 1)
    assert(Similarity.ivfCurrent(root).exists(c => c._1 == 1 && c._2 == dir))
    // the publish race: a retrain that planned against gen 1 races a
    // faster writer into the gen-2 slot — the exclusive-create claim
    // makes the loser fail loudly, never last-wins-overwrite
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "gen-2.json"),
      s"""{"gen":2,"path":"racer","k":$k}""".getBytes("UTF-8"))
    intercept[java.util.ConcurrentModificationException] {
      Similarity.ivfPublishAs(root, 2, dir2, k)
    }
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "gen-2.json"))
    val (g2, fresh) = Similarity.ivfRetrainPublish(spark, root, iters = 2)
    assert(g2 == 2 && Similarity.ivfCurrent(root).exists(_._2 == fresh))
    assert(Similarity.ivfHistory(root).map(_._1) == Seq(1, 2))
    // the superseded generation's layout is untouched — in-flight
    // readers keep their snapshot
    assert(spark.read.parquet(dir).count() == 800)
    assert(!Similarity.ivfBalance(spark, fresh, k).drifted,
      "the published retrain must serve a balanced index")
    // generation VACUUM: gen 1 was just superseded — the retention
    // guard refuses (an in-flight query may still scan its layout)
    val refused = intercept[java.util.ConcurrentModificationException] {
      Similarity.ivfVacuum(spark, root, keepGens = 1)
    }
    assert(refused.getMessage.contains("superseded less than"),
      refused.getMessage)
    assert(spark.read.parquet(dir).count() == 800,
      "the refused sweep must leave the superseded layout intact")
    // past the horizon (window=0) the sweep drops gen 1 — layout AND
    // pointer — and the current generation still serves
    assert(Similarity.ivfVacuum(spark, root, keepGens = 1, retainMillis = 0L)
      == Seq(1))
    assert(Similarity.ivfHistory(root).map(_._1) == Seq(2))
    assert(!new java.io.File(dir).exists(),
      "the swept generation's layout must be deleted")
    assert(Similarity.ivfCurrent(root).exists(_._2 == fresh) &&
      spark.read.parquet(fresh).count() == 800,
      "the current generation must survive the sweep and keep serving")
    assert(Similarity.ivfVacuum(spark, root, keepGens = 1, retainMillis = 0L)
      .isEmpty, "an already-clean root sweeps nothing")
  }

  test("index lease fencing: a vacuum stalled past its TTL and taken " +
      "over has its resumed layout destruction REFUSED") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    def vec(): Array[Float] = Array.fill(6)(rnd.nextGaussian().toFloat)
    val k = 3
    def layout(name: String, ids: Range): String = {
      val d = graft.core.TempDirs.scratchShared(name)
      ids.map(i => (i.toLong, vec()))
        .toDF("vec_id", "embedding")
        .withColumn("nrm", expr(
          "sqrt(aggregate(embedding, 0D, (a,x) -> a + cast(x as double)*x))"))
        .select((col("vec_id") % k + 1).cast("int").as("cid"),
          col("vec_id"), col("embedding"), col("nrm"))
        .repartition(col("cid"))
        .write.partitionBy("cid").mode("overwrite").parquet(d)
      d
    }
    val root = graft.core.TempDirs.scratchShared("ivffenceroot")
    val layA = layout("ivffencea", 0 until 30)
    val layB = layout("ivffenceb", 0 until 30)
    assert(Similarity.ivfPublish(root, layA, k) == 1)
    Similarity.ivfPublishAs(root, 2, layB, k)
    val lock = new java.io.File(root, "_maintenance.lock")
    // the TTL-stall residue on the index side (the TxnTable.vacuum
    // mirror): the sweep plans its drop set, stalls, is reaped and
    // re-claimed by a contender, then resumes into the drop loop —
    // the fence refuses before gen 1's layout or pointer is touched
    Similarity.onBeforeIvfVacuumDrop = () =>
      java.nio.file.Files.write(lock.toPath,
        (s"""{"holder":"contender@pid7","token":"other-token",""" +
          s""""ts":${System.currentTimeMillis()},"ttlMs":600000}""")
          .getBytes("UTF-8"))
    val fenced =
      try intercept[java.util.ConcurrentModificationException] {
        Similarity.ivfVacuum(spark, root, keepGens = 1, retainMillis = 0L)
      } finally Similarity.onBeforeIvfVacuumDrop = () => ()
    assert(fenced.getMessage.contains("fencing"), fenced.getMessage)
    assert(new java.io.File(layA).exists() &&
      spark.read.parquet(layA).count() == 30,
      "a fence-refused index vacuum must destroy ZERO layouts")
    assert(Similarity.ivfHistory(root).map(_._1) == Seq(1, 2),
      "a fence-refused index vacuum must drop ZERO pointers")
    // a fresh lease completes the same sweep clean
    java.nio.file.Files.deleteIfExists(lock.toPath)
    assert(Similarity.ivfVacuum(spark, root, keepGens = 1,
      retainMillis = 0L) == Seq(1))
    assert(!new java.io.File(layA).exists() &&
      Similarity.ivfHistory(root).map(_._1) == Seq(2))
  }

  test("ivfGenAsOf binary-searches recorded instants: O(log) pointer " +
      "reads and ZERO root LISTs on a deep history; a legacy mtime " +
      "inversion is refused until ivfUpgrade clamps it into order") {
    val root = graft.core.TempDirs.scratchShared("ivfasofdeep")
    new java.io.File(root).mkdirs()
    // a DEEP pointer history (64 generations, recorded instants 1 s
    // apart) — pointers only: asOf is pure metadata, layouts unread
    val t0 = System.currentTimeMillis() - 10000000L
    def plant(g: Int, body: String): Unit = {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, s"gen-$g.json"),
        body.getBytes("UTF-8"))
      ()
    }
    (1 to 64).foreach(g => plant(g,
      s"""{"gen":$g,"path":"lay$g","k":4,"ts":${t0 + g * 1000L}}"""))
    Similarity.ivfLog.writeHint(root, 64) // steady state
    Similarity.dropGenPtrCacheForTest(root)
    Similarity.resetIvfIoCountersForTest()
    assert(Similarity.ivfGenAsOf(root, t0 + 37 * 1000L + 500) == 37)
    assert(Similarity.ivfGenAsOf(root, t0 + 1000L) == 1,
      "exactly-at-publish resolves that generation")
    assert(Similarity.ivfGenAsOf(root,
      System.currentTimeMillis()) == 64)
    assert(Similarity.ivfLog.lists.get() == 0,
      "a hinted deep-history asOf must never LIST the root")
    assert(Similarity.ivfPointerReads.get() <= 16,
      s"cold asOf over 64 generations must stay O(log): " +
        s"${Similarity.ivfPointerReads.get()} pointer reads")
    intercept[IllegalArgumentException] {
      Similarity.ivfGenAsOf(root, t0) // predates the oldest: loud
    }
    // THE ADVICE SCENARIO: the oldest pointer is LEGACY (no recorded
    // ts) and an rsync pushed its mtime into the FUTURE — refused
    // until the upgrade fills it clamped below gen 2's recorded
    // instant, so the search never answers a false 'nothing
    // published' from an inverted head of the range
    plant(1, """{"gen":1,"path":"lay1","k":4}""")
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(root, "gen-1.json"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 86400000L))
    Similarity.dropGenPtrCacheForTest(root)
    assertIndexNeedsUpgrade(Similarity.ivfGenAsOf(root, t0 + 37 * 1000L))
    assert(Similarity.ivfUpgrade(root) == 1)
    assert(Similarity.ivfCommitTs(root, 1) == t0 + 2 * 1000L)
    assert(Similarity.ivfGenAsOf(root, t0 + 37 * 1000L + 500) == 37,
      "an mtime-inverted legacy pointer must not shift the asOf answer")
    // hint-bounded history: the full committed chain, zero LISTs
    Similarity.resetIvfIoCountersForTest()
    assert(Similarity.ivfHistoryHintBounded(root).map(_._1) ==
      (1 to 64))
    assert(Similarity.ivfLog.lists.get() == 0)
    // a hint left 8 behind the head (best-effort hint writes lost)
    // is rewritten by ONE ivfCurrent, so later reads stop re-walking
    Similarity.ivfLog.writeHint(root, 56)
    assert(Similarity.ivfCurrent(root).map(_._1).contains(64))
    val hint = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, graft.core.VersionLog.HintFile)), "UTF-8")
    assert(hint.contains("\"gen\":64"), s"stale hint kept: $hint")
  }

  test("streamed ingest composes with retrain: exactly-once ACROSS the generation swap") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextGaussian().toFloat)
    def batch(ids: Range) = ids.map(i => (i.toLong, vec()))
      .toDF("vec_id", "embedding")
    val k = 4
    // gen 1: a segmented base + two streamed batches, published
    val lay1 = graft.core.TempDirs.scratchShared("xgen1")
    val cents = (1 to k).map(c => Similarity.ctr(c, vec().toSeq))
    batch(0 until 40)
      .withColumn("nrm", expr(
        "sqrt(aggregate(embedding, 0D, (a,x) -> a + cast(x as double)*x))"))
      .select(lit(1).as("cid"), col("vec_id"), col("embedding"), col("nrm"))
      .write.partitionBy("cid").mode("overwrite").parquet(s"$lay1/seg=base")
    val root = graft.core.TempDirs.scratchShared("xgenroot")
    Similarity.ivfPublish(root, lay1, k)
    Similarity.ivfStreamAppendCurrent(spark, root, batch(40 until 50), bid = 0L)
    Similarity.ivfStreamAppendCurrent(spark, root, batch(50 until 60), bid = 1L)
    assert(Similarity.ivfReadLayout(spark, lay1).count() == 60)
    // the scheduled retrain folds the streamed batches into gen 2 and
    // CARRIES THE APPLIED-BID LEDGER forward
    val (g2, lay2) = Similarity.ivfRetrainPublish(spark, root, iters = 2)
    assert(g2 == 2)
    assert(Similarity.ivfReadLayout(spark, lay2).count() == 60,
      "the retrain must fold every committed streamed vector in")
    // the crash case: batch 1 is REDELIVERED after the swap (append
    // to gen 1 committed, checkpoint did not) — the carried marker
    // makes it a no-op against gen 2; no vector is ever served twice
    Similarity.ivfStreamAppendCurrent(spark, root, batch(50 until 60), bid = 1L)
    val served = Similarity.ivfReadLayout(spark, lay2)
    assert(served.count() == 60 &&
      served.select("vec_id").distinct().count() == 60,
      "a redelivered pre-swap batch must be a no-op against the new generation")
    // ingest continues uninterrupted into the fresh generation
    Similarity.ivfStreamAppendCurrent(spark, root, batch(60 until 70), bid = 2L)
    assert(Similarity.ivfReadLayout(spark, lay2).count() == 70)
    assert(Similarity.ivfReadLayout(spark, lay1).count() == 60,
      "the superseded generation is untouched (snapshot isolation)")
    // THE SNAPSHOT GAP: a batch commits into the live layout AFTER
    // the next retrain's corpus snapshot but BEFORE its publish — its
    // checkpoint is committed, so it will never be redelivered. The
    // publisher's catch-up sweep must fold it into the fresh
    // generation (with a marker), or it would vanish on vacuum.
    Similarity.onBeforeIvfPublish = () => {
      Similarity.onBeforeIvfPublish = () => ()
      Similarity.ivfStreamAppendCurrent(spark, root,
        batch(70 until 80), bid = 3L)
    }
    val (g3, lay3) = try Similarity.ivfRetrainPublish(spark, root, iters = 1)
      finally Similarity.onBeforeIvfPublish = () => ()
    assert(g3 == 3)
    val s3 = Similarity.ivfReadLayout(spark, lay3)
    assert(s3.count() == 80 && s3.select("vec_id").distinct().count() == 80,
      "the catch-up sweep must fold the snapshot-gap batch in, once")
    // and a (hypothetical) redelivery of the gap batch still no-ops
    Similarity.ivfStreamAppendCurrent(spark, root, batch(70 until 80), bid = 3L)
    assert(Similarity.ivfReadLayout(spark, lay3).count() == 80)
    // CRASH-SAFE DURABILITY: simulate a publisher that died between
    // its pointer publish and its catch-up sweep — strip the swept
    // gap segment (b3 data + marker) from gen 3, reconstructing the
    // state where only gen 2 holds that batch. Vacuum, the only
    // operation that can destroy gen 2, must FOLD the gap batch
    // forward before dropping it.
    graft.core.TempDirs.rmTree(new java.io.File(lay3, "seg=b3"))
    assert(Similarity.ivfReadLayout(spark, lay3).count() == 70,
      "crash reconstruction: gen 3 is missing batch b2")
    Similarity.ivfVacuum(spark, root, keepGens = 1, retainMillis = 0L)
    assert(Similarity.ivfHistory(root).map(_._1) == Seq(3))
    val rescued = Similarity.ivfReadLayout(spark, lay3)
    assert(rescued.count() == 80 &&
      rescued.select("vec_id").distinct().count() == 80,
      "vacuum must fold the gap batch forward before destroying it")
    // the fold is idempotent and re-runnable (the crash-recovery
    // property ivfVacuum relies on): a second pass folds nothing
    assert(Similarity.ivfFoldForward(spark,
      Similarity.ivfCurrent(root).get._2,
      Similarity.ivfCurrent(root).get._2).isEmpty)
    // external-vector serve over the surviving generation: a corpus
    // point's own coordinates rank it first at cosine ~1, and a
    // multi-query batch keeps per-query ranks independent
    val corpus = Similarity.ivfReadLayout(spark, lay3)
      .filter(col("vec_id").isin(12L, 34L))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val extServed = Similarity.ivfServeVecs(spark, lay3,
      Seq(corpus(12L), corpus(34L)), nprobe = k, topK = 2).collect()
    assert(extServed.length == 4)
    val top = extServed.filter(_.getLong(2) == 1L)
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top == Map(0L -> 12L, 1L -> 34L),
      s"each external query's own corpus point must rank first: $top")
    // a bare cid layout refuses streamed appends loudly (mixing the
    // two partition shapes would silently drop the base from serving)
    val bare = graft.core.TempDirs.scratchShared("xgenbare")
    batch(0 until 5)
      .select(lit(1).as("cid"), col("vec_id"), col("embedding"))
      .write.partitionBy("cid").mode("overwrite").parquet(bare)
    val boom = intercept[IllegalArgumentException] {
      Similarity.ivfStreamAppend(cents, bare, batch(5 until 6), bid = 0L)
    }
    assert(boom.getMessage.contains("segment-committed"), boom.getMessage)
  }

  test("index maintenance lease: rollback and vacuum refuse while a " +
      "live holder works; a crashed holder's lock is reclaimed") {
    import spark.implicits._
    def vec(i: Long) = Seq(math.cos(i * 0.1).toFloat, math.sin(i * 0.1).toFloat)
    val lay1 = graft.core.TempDirs.scratchShared("leasegen1")
    (0L until 50L).map(i => (i, vec(i),
        math.sqrt(vec(i).map(x => x.toDouble * x).sum)))
      .toDF("vec_id", "embedding", "nrm")
      .select(lit(1).as("cid"), col("vec_id"), col("embedding"), col("nrm"))
      .write.partitionBy("cid").mode("overwrite").parquet(lay1)
    val root = graft.core.TempDirs.scratchShared("leaseroot")
    Similarity.ivfPublish(root, lay1, 4)
    Similarity.ivfRetrainPublish(spark, root, iters = 1)
    val lock = new java.io.File(root, "_maintenance.lock")
    // a LIVE index-vacuum holds the lease: a rollback inside its
    // listing→destroy window refuses naming the holder — a vacuum can
    // no longer destroy the layouts a rollback is folding from
    java.nio.file.Files.write(lock.toPath,
      (s"""{"holder":"index-vacuum@pid999","token":"t0",""" +
        s""""ts":${System.currentTimeMillis()},"ttlMs":600000}""")
        .getBytes("UTF-8"))
    val held = intercept[java.util.ConcurrentModificationException] {
      Similarity.ivfRollback(spark, root, 1)
    }
    assert(held.getMessage.contains("index-vacuum@pid999"),
      held.getMessage)
    val heldV = intercept[java.util.ConcurrentModificationException] {
      Similarity.ivfVacuum(spark, root, keepGens = 1, retainMillis = 0L)
    }
    assert(heldV.getMessage.contains("held by"), heldV.getMessage)
    // a CRASHED holder (expired ttl) reclaims without intervention
    java.nio.file.Files.write(lock.toPath,
      (s"""{"holder":"index-rollback@pid999","token":"t0",""" +
        s""""ts":${System.currentTimeMillis() - 5000},"ttlMs":1}""")
        .getBytes("UTF-8"))
    val (g3, _) = Similarity.ivfRollback(spark, root, 1)
    assert(g3 == 3)
    assert(!lock.exists(), "the completed rollback must release the lease")
  }

  test("generation retention keys off the RECORDED publish instant — " +
      "an mtime rewrite shifts nothing; legacy pointers need ivfUpgrade") {
    import spark.implicits._
    def vec(i: Long) = Seq(math.cos(i * 0.1).toFloat, math.sin(i * 0.1).toFloat)
    val lay1 = graft.core.TempDirs.scratchShared("tsgen1")
    (0L until 50L).map(i => (i, vec(i),
        math.sqrt(vec(i).map(x => x.toDouble * x).sum)))
      .toDF("vec_id", "embedding", "nrm")
      .select(lit(1).as("cid"), col("vec_id"), col("embedding"), col("nrm"))
      .write.partitionBy("cid").mode("overwrite").parquet(lay1)
    val root = graft.core.TempDirs.scratchShared("tsgenroot")
    Similarity.ivfPublish(root, lay1, 4)
    val (g2, _) = Similarity.ivfRetrainPublish(spark, root, iters = 1)
    assert(g2 == 2)
    val tsBefore = Seq(1, 2).map(g => Similarity.ivfCommitTs(root, g))
    assert(tsBefore.forall(t =>
      math.abs(System.currentTimeMillis() - t) < 120000L),
      s"recorded publish instants must be from this run: $tsBefore")
    // THE MIGRATION EVENT: an rsync/backup-restore rewrites every
    // pointer mtime to 1970. Recorded instants must not move — and
    // the retention guard must still REFUSE to drop the freshly
    // superseded gen 1 (the mtime-keyed guard would compute a
    // 50-year age and silently wave the sweep through)
    Seq(1, 2).foreach(g =>
      assert(new java.io.File(root, s"gen-$g.json").setLastModified(0L)))
    Similarity.dropGenPtrCacheForTest(root)
    assert(Seq(1, 2).map(g => Similarity.ivfCommitTs(root, g)) == tsBefore,
      "publish instants are durable metadata, not filesystem state")
    val refused = intercept[java.util.ConcurrentModificationException] {
      Similarity.ivfVacuum(spark, root, keepGens = 1)
    }
    assert(refused.getMessage.contains("superseded less than"),
      refused.getMessage)
    // LEGACY pointer (pre-ts body) at the head slot: refused until the
    // upgrade records its mtime — clamped to no earlier than gen 2's
    // recorded instant (this 2009 mtime predates it)
    val legacy = new java.io.File(root, "gen-3.json")
    java.nio.file.Files.write(legacy.toPath,
      s"""{"gen":3,"path":${"\"" + lay1 + "\""},"k":4}""".getBytes("UTF-8"))
    assert(legacy.setLastModified(1234567890000L))
    assertIndexNeedsUpgrade(Similarity.ivfCommitTs(root, 3))
    assert(Similarity.ivfUpgrade(root) == 1)
    assert(Similarity.ivfCommitTs(root, 3) == tsBefore(1),
      "the filled instant is clamped to its predecessor's")
  }

  test("vacuum's fold-forward never writes a taken-down id's bytes " +
      "into the successor — not even transiently") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextGaussian().toFloat)
    def batch(ids: Range) = ids.map(i => (i.toLong, vec()))
      .toDF("vec_id", "embedding")
    val k = 4
    val lay1 = graft.core.TempDirs.scratchShared("vfex1")
    batch(0 until 40)
      .withColumn("nrm", expr(
        "sqrt(aggregate(embedding, 0D, (a,x) -> a + cast(x as double)*x))"))
      .select(lit(1).as("cid"), col("vec_id"), col("embedding"), col("nrm"))
      .write.partitionBy("cid").mode("overwrite").parquet(s"$lay1/seg=base")
    val root = graft.core.TempDirs.scratchShared("vfexroot")
    Similarity.ivfPublish(root, lay1, k)
    // the batch lands in the SNAPSHOT GAP (after the retrain's corpus
    // read, before its publish) so the catch-up sweep folds it into
    // gen 2 as a real seg=b0 — the shape whose loss the crashed-
    // publisher reconstruction below simulates
    Similarity.onBeforeIvfPublish = () => {
      Similarity.onBeforeIvfPublish = () => ()
      Similarity.ivfStreamAppendCurrent(spark, root,
        batch(40 until 50), bid = 0L)
    }
    val (g2, lay2) = try Similarity.ivfRetrainPublish(spark, root, iters = 2)
      finally Similarity.onBeforeIvfPublish = () => ()
    assert(g2 == 2)
    assert(Similarity.ivfReadLayout(spark, lay2).count() == 50)
    // crashed-publisher reconstruction: gen 2 lost batch b0 (data +
    // marker), and id 45 — a b0 vector — was taken down with its ONLY
    // tombstone in the doomed gen-1 layout (the delete landed while
    // gen 1 still served, and the crash ate the carry)
    graft.core.TempDirs.rmTree(new java.io.File(lay2, "seg=b0"))
    Similarity.ivfTombstone(lay1, Seq(45L))
    assert(Similarity.ivfReadLayout(spark, lay2).count() == 40)
    // vacuum folds b0 forward before destroying gen 1 — the folded
    // rows themselves must EXCLUDE the taken-down id: before the fix
    // its bytes were written into the (live, serving) successor one
    // job before carryTombstones imposed the marker — a GDPR delete
    // transiently resurfacing in search results
    assert(Similarity.ivfVacuum(spark, root, keepGens = 1,
      retainMillis = 0L) == Seq(1))
    val after = Similarity.ivfReadLayout(spark, lay2)
    assert(after.filter(col("vec_id") === 45L).count() == 0,
      "the taken-down id's bytes must never land in the successor")
    assert(after.filter(col("vec_id") >= 40L).count() == 9,
      "every OTHER b0 vector must survive the fold (durability)")
    assert(after.select("vec_id").distinct().count() == 49)
  }

  test("st13 streamed append is exactly-once under foreachBatch redelivery") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextGaussian().toFloat)
    val cents = (1 to 4).map(c => Similarity.ctr(c, vec().toSeq))
    val root = graft.core.TempDirs.scratchShared("st13replay")
    def files(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(root)).map(_.getAbsolutePath)
        .filter(_.endsWith(".parquet")).toSet
    }
    val b0 = (0L until 20L).map(i => (i, vec())).toDF("vec_id", "embedding")
    Similarity.ivfStreamAppend(cents, root, b0, bid = 0L)
    val after0 = files()
    assert(after0.nonEmpty)
    // crash-then-redeliver: the same bid arrives again (at-least-once
    // foreachBatch). The _SUCCESS-marked segment makes it a no-op:
    // no new files, no duplicate vec_ids in the served scan.
    Similarity.ivfStreamAppend(cents, root,
      (0L until 20L).map(i => (i, vec())).toDF("vec_id", "embedding"), bid = 0L)
    assert(files() == after0, "redelivered bid must not write")
    val served = Similarity.ivfReadCommitted(spark, root)
    assert(served.count() == 20)
    assert(served.select("vec_id").distinct().count() == 20,
      "no duplicate vec_ids after replay")
    // the NEXT bid applies normally
    val b1 = (20L until 30L).map(i => (i, vec())).toDF("vec_id", "embedding")
    Similarity.ivfStreamAppend(cents, root, b1, bid = 1L)
    assert(Similarity.ivfReadCommitted(spark, root).count() == 30)
    // a crash-orphaned partial segment (no _SUCCESS) is invisible to
    // serving and is overwritten clean when its bid is redelivered
    val orphan = new java.io.File(root, "seg=b2")
    orphan.mkdirs()
    java.nio.file.Files.write(
      orphan.toPath.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
    assert(Similarity.ivfReadCommitted(spark, root).count() == 30,
      "uncommitted segment must not be served")
    val b2 = (30L until 35L).map(i => (i, vec())).toDF("vec_id", "embedding")
    Similarity.ivfStreamAppend(cents, root, b2, bid = 2L)
    val s2 = Similarity.ivfReadCommitted(spark, root)
    assert(s2.count() == 35 && s2.select("vec_id").distinct().count() == 35)
  }

  test("generation quantizer is PINNED: a fresh session (process restart) " +
      "assigns, routes and serves identically mid-stream") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextGaussian().toFloat)
    def batch(ids: Range) = ids.map(i => (i.toLong, vec()))
      .toDF("vec_id", "embedding")
    val k = 4
    val lay0 = graft.core.TempDirs.scratchShared("qpin0")
    batch(0 until 40)
      .withColumn("nrm", expr(
        "sqrt(aggregate(embedding, 0D, (a,x) -> a + cast(x as double)*x))"))
      .select(lit(1).as("cid"), col("vec_id"), col("embedding"), col("nrm"))
      .write.partitionBy("cid").mode("overwrite").parquet(s"$lay0/seg=base")
    val root = graft.core.TempDirs.scratchShared("qpinroot")
    Similarity.ivfPublish(root, lay0, k)
    // the retrain persists the TRAINED quantizer inside the layout —
    // the generation's pinned source of truth
    val (_, lay2) = Similarity.ivfRetrainPublish(spark, root, iters = 2)
    assert(new java.io.File(lay2, "_quantizer.json").exists(),
      "retrain must pin its trained quantizer to the layout")
    // batch N lands in this process...
    Similarity.ivfStreamAppendCurrent(spark, root, batch(40 until 50), 0L)
    // ...then the process "restarts": a fresh session has an empty
    // memo and must resolve the SAME quantizer from disk
    val fresh = spark.newSession()
    assert(Similarity.layoutCentroids(spark, lay2) ==
      Similarity.layoutCentroids(fresh, lay2),
      "two processes must resolve bit-identical generation centroids")
    // batch N+1 lands from the restarted process
    Similarity.ivfStreamAppendCurrent(fresh, root, batch(50 until 60), 1L)
    // ASSIGNMENT PARITY: re-assigning every stored vector with the
    // restarted process's quantizer moves NOTHING — routing and
    // storage agree across the restart, so streamed ≡ rebuilt holds
    val cents2 = Similarity.layoutCentroids(fresh, lay2)
      .map(c => (c.cid, c.cemb))
    val moved = Similarity.ivfReadLayout(fresh, lay2)
      .withColumn("re",
        Similarity.nearestCidColForTest(cents2, col("embedding")))
      .filter(col("re") =!= col("cid").cast("int")).count()
    assert(moved == 0,
      s"$moved vectors would change lists under the restarted quantizer")
    // SERVED PARITY: the same external query gets the identical top-k
    // from both processes
    val q = Similarity.ivfReadLayout(spark, lay2)
      .filter(col("vec_id") === 44L).select("embedding")
      .head().getSeq[Float](0)
    def serve(s: org.apache.spark.sql.SparkSession) =
      Similarity.ivfServeVecs(s, lay2, Seq(q), nprobe = 2, topK = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq
    assert(serve(spark) == serve(fresh),
      "served top-k must be identical across a process restart")
    // legacy layouts (no quantizer sidecar) estimate from the
    // IMMUTABLE seg=base only — also restart-stable: the estimate
    // ignores segments streamed after publish
    val est0 = Similarity.layoutCentroids(fresh, lay0)
    Similarity.ivfStreamAppend(est0.map(c =>
      Similarity.ctr(c.cid, c.cemb)), lay0, batch(90 until 95), 7L)
    assert(Similarity.layoutCentroids(spark.newSession(), lay0) == est0,
      "the fallback estimate must not drift as streamed segments land")
  }

  test("zero-norm corpus vectors never surface in serve results (no NaN " +
      "cosine on the wire)") {
    import spark.implicits._
    val rnd = new scala.util.Random(555)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextGaussian().toFloat)
    val lay = graft.core.TempDirs.scratchShared("znorm")
    (0L until 20L).map(i => (i, vec())).toDF("vec_id", "embedding")
      .withColumn("nrm", expr(
        "sqrt(aggregate(embedding, 0D, (a,x) -> a + cast(x as double)*x))"))
      .select(lit(1).as("cid"), col("vec_id"), col("embedding"), col("nrm"))
      .write.partitionBy("cid").mode("overwrite").parquet(s"$lay/seg=base")
    // an unvetted appended batch carries a ZERO vector (vec_id 99)
    val cents = Similarity.layoutCentroids(spark, lay)
    Similarity.ivfStreamAppend(cents, lay,
      Seq((99L, Array.fill(8)(0f)), (98L, vec()))
        .toDF("vec_id", "embedding"), bid = 0L)
    val res = Similarity.ivfServe(spark, lay, Seq(3L), nprobe = 1,
      topK = 25).collect()
    assert(res.nonEmpty)
    assert(res.forall(r => !r.getDouble(3).isNaN && !r.getDouble(3).isInfinite),
      "every served cosine must be finite (JSON-safe)")
    assert(!res.exists(_.getLong(1) == 99L),
      "a direction-less zero vector must never rank as a neighbor")
  }

  test("ANN takedown: tombstoned ids vanish from serving at once and are " +
      "physically purged by the next retrain; gap deletes carry forward") {
    import spark.implicits._
    val rnd = new scala.util.Random(8181)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextGaussian().toFloat)
    def batch(ids: Range) = ids.map(i => (i.toLong, vec()))
      .toDF("vec_id", "embedding")
    val k = 4
    val lay0 = graft.core.TempDirs.scratchShared("tdel0")
    batch(0 until 50)
      .withColumn("nrm", expr(
        "sqrt(aggregate(embedding, 0D, (a,x) -> a + cast(x as double)*x))"))
      .select(lit(1).as("cid"), col("vec_id"), col("embedding"), col("nrm"))
      .write.partitionBy("cid").mode("overwrite").parquet(s"$lay0/seg=base")
    val root = graft.core.TempDirs.scratchShared("tdelroot")
    Similarity.ivfPublish(root, lay0, k)
    val (_, lay1) = Similarity.ivfRetrainPublish(spark, root, iters = 2)
    Similarity.ivfStreamAppendCurrent(spark, root, batch(50 until 60), 0L)
    // takedown: one base id, one streamed id — logically gone at once
    val (gen, n) = Similarity.ivfDelete(root, Seq(7L, 55L))
    assert(gen == 2 && n == 2)
    def servedIds(layout: String): Set[Long] =
      Similarity.ivfServe(spark, layout, Seq(3L), nprobe = k,
        topK = 100).collect().map(_.getLong(1)).toSet
    val after = servedIds(lay1)
    assert(after.nonEmpty && !after.contains(7L) && !after.contains(55L),
      s"tombstoned ids must never surface as neighbors: $after")
    // a tombstoned id is gone on EVERY path: using it AS a query is
    // refused loudly (400 over the wire) — the deleted embedding's
    // neighbor ranking must not stay retrievable until the purge
    val blockedQ = intercept[IllegalArgumentException] {
      Similarity.ivfServe(spark, lay1, Seq(7L, 3L), k, 100)
    }
    assert(blockedQ.getMessage.contains("takedown") &&
      blockedQ.getMessage.contains("7"), blockedQ.getMessage)
    // the retrain is the PHYSICAL purge: the fresh layout lacks the
    // bytes, and a delete issued mid-training (the snapshot gap)
    // carries forward as a fresh tombstone
    Similarity.onBeforeIvfPublish = () => {
      Similarity.onBeforeIvfPublish = () => ()
      Similarity.ivfDelete(root, Seq(12L)); ()
    }
    val (g3, lay2) = try Similarity.ivfRetrainPublish(spark, root, iters = 1)
      finally Similarity.onBeforeIvfPublish = () => ()
    assert(g3 == 3)
    val freshIds = Similarity.ivfReadLayout(spark, lay2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!freshIds.contains(7L) && !freshIds.contains(55L),
      "the retrain must drop tombstoned bytes physically")
    assert(freshIds.contains(12L),
      "the gap delete's bytes predate its tombstone — still present...")
    assert(Similarity.ivfTombstones(lay2) == Set(12L),
      "...so the gap delete must carry forward as a trimmed tombstone")
    val served3 = servedIds(lay2)
    assert(!served3.contains(12L) && !served3.contains(7L) &&
      !served3.contains(55L))
    // the NEXT retrain purges the carried gap delete physically and
    // carries nothing (trim to empty)
    val (_, lay3) = Similarity.ivfRetrainPublish(spark, root, iters = 1)
    assert(!Similarity.ivfReadLayout(spark, lay3)
      .select("vec_id").collect().map(_.getLong(0)).toSet.contains(12L))
    assert(Similarity.ivfTombstones(lay3).isEmpty,
      "a fully purged takedown set must not accumulate forever")
    // VACUUM TOMBSTONE FOLD: reconstruct a publisher that crashed
    // before both carries — a superseded layout holds the ONLY
    // tombstone for an id whose bytes live in the current generation.
    // Vacuum (the one operation that can destroy that tombstone) must
    // fold it forward before any drop, or the takedown would silently
    // reverse.
    Similarity.ivfTombstone(lay2, Seq(30L))
    Similarity.ivfVacuum(spark, root, keepGens = 1, retainMillis = 0L)
    assert(Similarity.ivfTombstones(lay3) == Set(30L),
      "vacuum must carry an orphaned takedown into the survivor")
    assert(!servedIds(lay3).contains(30L),
      "the folded takedown must bind in serving")
  }

  test("generation pointer publish under the no-hardlink fallback: " +
      "readers never see a torn pointer, racers get exactly one winner") {
    val root = graft.core.TempDirs.scratchShared("qfall")
    graft.core.AtomicFiles.disableLinksForTest = true
    try {
      @volatile var stop = false
      @volatile var readerErr: Option[Throwable] = None
      // a reader hammering the pointer directory for the whole storm:
      // any half-published file would throw ivfHistory's corrupt-file
      // error and fail the spec
      val reader = new Thread(() => while (!stop) {
        try { Similarity.ivfHistory(root); () }
        catch { case t: Throwable => readerErr = Some(t); stop = true }
      })
      reader.start()
      (1 to 12).foreach { g =>
        val wins = new java.util.concurrent.atomic.AtomicInteger(0)
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val racers = (1 to 8).map { i => new Thread(() =>
          try { Similarity.ivfPublishAs(root, g, s"/lay-$g-$i", 4); wins.incrementAndGet(); () }
          catch {
            case _: java.util.ConcurrentModificationException => ()
            case t: Throwable => errs.add(t); ()
          }) }
        racers.foreach(_.start()); racers.foreach(_.join())
        assert(errs.isEmpty, s"unexpected racer failure: ${errs.peek()}")
        assert(wins.get() == 1,
          s"generation $g must have exactly one publish winner, got ${wins.get()}")
      }
      stop = true
      reader.join()
      assert(readerErr.isEmpty, s"reader observed a torn pointer: $readerErr")
      assert(Similarity.ivfHistory(root).map(_._1) == (1 to 12),
        "every generation resolved complete")
    } finally { graft.core.AtomicFiles.disableLinksForTest = false }
  }

  test("drift statistic counts SERVED vectors only: a takedown-heavy " +
      "list cannot trip the retrain trigger; real drift still does") {
    import spark.implicits._
    val k = 8
    val rnd = new scala.util.Random(17)
    def vec(c: Int): Seq[Float] = {
      val a = 2 * math.Pi * c / k
      Seq((math.cos(a) + rnd.nextDouble() * 0.1 - 0.05).toFloat,
        (math.sin(a) + rnd.nextDouble() * 0.1 - 0.05).toFloat)
    }
    def layout(rows: Seq[(Long, Int)]): String = {
      val dir = graft.core.TempDirs.scratchShared("tombal")
      rows.map { case (id, c) =>
        val e = vec(c)
        (c + 1, id, e, math.sqrt(e.map(x => x.toDouble * x).sum))
      }.toDF("cid", "vec_id", "embedding", "nrm")
        .repartition(col("cid"))
        .write.partitionBy("cid").mode("overwrite").parquet(dir)
      dir
    }
    // 8 lists x 5 served vectors each, plus 60 vectors in list 1 that
    // are ALL tombstoned (a takedown batch awaiting its purge)
    val even = (0 until 40).map(i => (i.toLong, i % k))
    val deadRows = (0 until 60).map(i => (1000L + i, 0))
    val dir = layout(even ++ deadRows)
    Similarity.ivfTombstone(dir, (0 until 60).map(1000L + _))
    val b = Similarity.ivfBalance(spark, dir, k)
    // raw counts would read (5+60)/100*8 = 5.2 (drifted); served
    // counts read 5/40*8 = 1.0 (balanced)
    assert(!b.drifted && b.total == 40 && b.factor < 1.5,
      s"tombstoned vectors must not inflate the drift statistic: $b")
    // real drift among SERVED vectors still trips with takedowns
    // present elsewhere: list 4 genuinely owns most live vectors
    val hot = (0 until 200).map(i => (2000L + i, 3))
    val dir2 = layout(even ++ deadRows ++ hot)
    Similarity.ivfTombstone(dir2, (0 until 60).map(1000L + _))
    val b2 = Similarity.ivfBalance(spark, dir2, k)
    assert(b2.drifted && b2.maxCid == 4,
      s"real drift among served vectors must still trip: $b2")
    // degenerate but defined: every vector tombstoned
    val dir3 = layout(even)
    Similarity.ivfTombstone(dir3, even.map(_._1))
    val b3 = Similarity.ivfBalance(spark, dir3, k)
    assert(b3.total == 0 && !b3.drifted,
      s"a fully tombstoned layout is empty, not a crash: $b3")
  }

  test("generation ROLLBACK: a bad retrain publish reverts by pointer — " +
      "old top-k bit-identical, takedowns survive, vacuum keeps the " +
      "aliased layout") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextGaussian().toFloat)
    val k = 4
    val lay0 = graft.core.TempDirs.scratchShared("rb0")
    (0 until 60).map(i => (i.toLong, vec()))
      .toDF("vec_id", "embedding")
      .withColumn("nrm", expr(
        "sqrt(aggregate(embedding, 0D, (a,x) -> a + cast(x as double)*x))"))
      .select(lit(1).as("cid"), col("vec_id"), col("embedding"), col("nrm"))
      .write.partitionBy("cid").mode("overwrite").parquet(s"$lay0/seg=base")
    val root = graft.core.TempDirs.scratchShared("rbroot")
    Similarity.ivfPublish(root, lay0, k)                       // gen 1
    def topk(layout: String, qid: Long): Seq[(Long, Long)] =
      Similarity.ivfServe(spark, layout, Seq(qid), nprobe = k, topK = 5)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    val gold = topk(lay0, 3L)
    val (g2, lay1) = Similarity.ivfRetrainPublish(spark, root, iters = 2)
    assert(g2 == 2)
    // a takedown lands while the (bad) gen 2 serves
    Similarity.ivfDelete(root, Seq(gold.head._1))
    // ROLLBACK to gen 1: gen 3 re-serves gen 1's layout by pointer
    val (g3, served) = Similarity.ivfRollback(spark, root, toGen = 1)
    assert(g3 == 3 && served == lay0)
    assert(Similarity.ivfCurrent(root).contains((3, lay0, k)))
    assert(Similarity.ivfRollbackOf(root, 3).contains(1) &&
      Similarity.ivfRollbackOf(root, 2).isEmpty,
      "history must label the rollback publish")
    // the takedown issued under the bad generation SURVIVES: the
    // rolled-back serve excludes it; every other neighbor and rank
    // is bit-identical to the pre-retrain gold
    val after = topk(lay0, 3L)
    assert(!after.map(_._1).contains(gold.head._1),
      "the takedown must bind after the rollback")
    assert(after.map(_._1) == topk(lay0, 3L).map(_._1),
      "rollback serve must be deterministic")
    val goldSurvivors = gold.filterNot(_._1 == gold.head._1).map(_._1)
    assert(after.map(_._1).take(goldSurvivors.size) == goldSurvivors,
      s"surviving neighbors must rank exactly as before: $gold -> $after")
    // client errors, loudly: current gen, unknown gen
    intercept[IllegalArgumentException] {
      Similarity.ivfRollback(spark, root, 3)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfRollback(spark, root, 99)
    }
    // VACUUM with the alias: gen 1's layout is served by kept gen 3 —
    // the sweep may drop pointers (and the bad gen 2's layout) but
    // must keep the aliased directory
    val dropped = Similarity.ivfVacuum(spark, root, keepGens = 1,
      retainMillis = 0L)
    assert(dropped == Seq(1, 2))
    assert(new java.io.File(lay0).exists(),
      "an aliased layout serving a kept generation must survive vacuum")
    assert(!new java.io.File(lay1).exists(),
      "the abandoned bad generation's layout is swept")
    assert(Similarity.ivfHistory(root).map(_._1) == Seq(3))
    assert(topk(lay0, 3L).map(_._1) == after.map(_._1),
      "serving continues unchanged across the sweep")
    // a rollback to a vacuumed generation refuses loudly
    val gone = intercept[IllegalArgumentException] {
      Similarity.ivfRollback(spark, root, 2)
    }
    assert(gone.getMessage.contains("vacuumed") ||
      gone.getMessage.contains("no such"), gone.getMessage)
    // SECOND scenario: the rollback reverts the RETRAIN, never the
    // DATA — a batch streamed in while the bad generation served must
    // survive the rollback (folded into the restored layout), and a
    // takedown of a folded id must still bind
    val (g4, _) = Similarity.ivfRetrainPublish(spark, root, iters = 1)
    assert(g4 == 4)
    Similarity.ivfStreamAppendCurrent(spark, root,
      (1000 until 1010).map(i => (i.toLong, vec()))
        .toDF("vec_id", "embedding"), 7L)
    Similarity.ivfDelete(root, Seq(1005L))
    val (g5, served5) = Similarity.ivfRollback(spark, root, toGen = 3)
    assert(g5 == 5 && served5 == lay0)
    val ids5 = Similarity.ivfReadLayout(spark, lay0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert((1000 until 1010).filter(_ != 1005).forall(i => ids5(i.toLong)),
      "the bad generation's streamed batch must fold into the restored layout")
    assert(!ids5(1005L),
      "the taken-down id is FILTERED out of the fold itself — its " +
        "bytes never land in a layout the pointer may already serve")
    val served5b = Similarity.ivfServe(spark, lay0, Seq(1001L),
      nprobe = k, topK = 100).collect().map(_.getLong(1)).toSet
    assert(served5b.nonEmpty)
    assert(!served5b.contains(1005L) && !served5b.contains(gold.head._1),
      "takedowns — carried and pre-existing — must bind on the folded layout")
    // redelivery of the folded bid against the rolled-back generation
    // is a no-op (the fold carried the applied-bid marker)
    val nBefore = Similarity.ivfReadLayout(spark, lay0).count()
    Similarity.ivfStreamAppendCurrent(spark, root,
      (1000 until 1010).map(i => (i.toLong, vec()))
        .toDF("vec_id", "embedding"), 7L)
    assert(Similarity.ivfReadLayout(spark, lay0).count() == nBefore,
      "a redelivered bid must be a no-op across the rollback")
  }

  test("rollback re-imposes a takedown whose per-layout trail was trimmed " +
      "by an intermediate physical purge (the root ledger)") {
    import spark.implicits._
    val rnd = new scala.util.Random(2468)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextGaussian().toFloat)
    val k = 4
    val lay0 = graft.core.TempDirs.scratchShared("rbledger0")
    (0 until 50).map(i => (i.toLong, vec()))
      .toDF("vec_id", "embedding")
      .withColumn("nrm", expr(
        "sqrt(aggregate(embedding, 0D, (a,x) -> a + cast(x as double)*x))"))
      .select(lit(1).as("cid"), col("vec_id"), col("embedding"), col("nrm"))
      .write.partitionBy("cid").mode("overwrite").parquet(s"$lay0/seg=base")
    val root = graft.core.TempDirs.scratchShared("rbledgerroot")
    Similarity.ivfPublish(root, lay0, k)                       // gen 1
    val (_, lay1) = Similarity.ivfRetrainPublish(spark, root, iters = 1) // 2
    Similarity.ivfDelete(root, Seq(7L)) // tombstones lay1 + the ledger
    // the next retrain PURGES 7 physically; carry trims its trail away
    val (_, lay2) = Similarity.ivfRetrainPublish(spark, root, iters = 1) // 3
    assert(Similarity.ivfTombstones(lay2).isEmpty,
      "the purge must trim the per-layout trail (the setup premise)")
    // even erase the INTERMEDIATE layout's trail (simulating its
    // vacuum): only the root ledger remembers the takedown now
    graft.core.TempDirs.rmTree(new java.io.File(lay1, "_tombstones"))
    assert(Similarity.takedownLedger(root) == Set(7L))
    // rollback to gen 1 — whose layout STILL HOLDS 7's bytes
    val (g4, served) = Similarity.ivfRollback(spark, root, toGen = 1)
    assert(g4 == 4 && served == lay0)
    assert(Similarity.ivfTombstones(lay0).contains(7L),
      "the ledger must re-impose the takedown on the restored layout")
    val ids = Similarity.ivfServe(spark, lay0, Seq(3L), nprobe = k,
      topK = 100).collect().map(_.getLong(1)).toSet
    assert(!ids.contains(7L),
      "a physically-present but ledger-dead id must never serve")
    // a retired id can never be RE-INGESTED: the never-trimmed ledger
    // would silently bury the re-added live vector on a later
    // rollback — reject the batch loudly at ingest instead
    val reuse = intercept[IllegalArgumentException] {
      Similarity.ivfStreamAppendCurrent(spark, root,
        Seq((7L, vec().toSeq), (300L, vec().toSeq))
          .toDF("vec_id", "embedding"), 42L)
    }
    assert(reuse.getMessage.contains("retired") &&
      reuse.getMessage.contains("7"), reuse.getMessage)
    // the rejected batch left nothing behind; a clean batch proceeds
    assert(!new java.io.File(served, "seg=b42/_SUCCESS").exists())
    Similarity.ivfStreamAppendCurrent(spark, root,
      Seq((301L, vec().toSeq)).toDF("vec_id", "embedding"), 43L)
    assert(new java.io.File(served, "seg=b43/_SUCCESS").exists())
    // ledger COMPACTION: many one-file deletes coalesce to a single
    // file with the id set intact (vacuum schedules this; the direct
    // call is the unit seam)
    Similarity.ivfDelete(root, Seq(310L))
    Similarity.ivfDelete(root, Seq(311L, 312L))
    val before = Similarity.takedownLedger(root)
    assert(Similarity.compactTakedownLedger(root) >= 3)
    assert(Similarity.takedownLedger(root) == before,
      "compaction must preserve the exact ledger id set")
    assert(Option(new java.io.File(root, "_takedowns").listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".txt")) == 1,
      "compaction must leave one ledger file")
    assert(Similarity.compactTakedownLedger(root) == 0,
      "an already-compact ledger is a no-op")
  }

  test("rollback folds a batch from the layout holding its REAL segment " +
      "(not the current marker-only ledger); an unsourceable batch refuses") {
    import spark.implicits._
    val rnd = new scala.util.Random(1357)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextGaussian().toFloat)
    val k = 4
    val lay0 = graft.core.TempDirs.scratchShared("rbfold0")
    (0 until 40).map(i => (i.toLong, vec()))
      .toDF("vec_id", "embedding")
      .withColumn("nrm", expr(
        "sqrt(aggregate(embedding, 0D, (a,x) -> a + cast(x as double)*x))"))
      .select(lit(1).as("cid"), col("vec_id"), col("embedding"), col("nrm"))
      .write.partitionBy("cid").mode("overwrite").parquet(s"$lay0/seg=base")
    val root = graft.core.TempDirs.scratchShared("rbfoldroot")
    Similarity.ivfPublish(root, lay0, k)                       // gen 1
    val (_, lay1) = Similarity.ivfRetrainPublish(spark, root, iters = 1) // 2
    // b6 ingested under gen 2: its REAL segment lives in lay1 only
    Similarity.ivfStreamAppendCurrent(spark, root,
      (500 until 510).map(i => (i.toLong, vec()))
        .toDF("vec_id", "embedding"), 6L)
    // gen 3 absorbs b6 into its base and carries a MARKER-ONLY ledger
    val (_, lay2) = Similarity.ivfRetrainPublish(spark, root, iters = 1) // 3
    assert(new java.io.File(lay2, "seg=b6/_SUCCESS").exists())
    // rollback across BOTH retrains: the fold must source b6 from
    // lay1's real segment; lay2's empty marker must not crash it
    val (g4, _) = Similarity.ivfRollback(spark, root, toGen = 1)
    assert(g4 == 4)
    val ids = Similarity.ivfReadLayout(spark, lay0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert((500 until 510).forall(i => ids(i.toLong)),
      "the batch must fold from where its real segment lives")
    // UNSOURCEABLE: erase the real segment's layout (simulating its
    // vacuum) on a fresh chain — the rollback must refuse, not
    // silently drop committed vectors
    val (_, lay4) = Similarity.ivfRetrainPublish(spark, root, iters = 1) // 5
    Similarity.ivfStreamAppendCurrent(spark, root,
      (900 until 905).map(i => (i.toLong, vec()))
        .toDF("vec_id", "embedding"), 9L)
    val (_, _) = Similarity.ivfRetrainPublish(spark, root, iters = 1) // 6
    graft.core.TempDirs.rmTree(new java.io.File(lay4))
    val refuse = intercept[IllegalArgumentException] {
      Similarity.ivfRollback(spark, root, toGen = 4)
    }
    assert(refuse.getMessage.contains("b9") &&
      refuse.getMessage.contains("vacuumed"), refuse.getMessage)
  }

  test("generation vacuum under rollback aliasing: shared layout deleted " +
      "only at its LAST dropped reference, folds route to the next " +
      "EXISTING layout, tombstones transit") {
    import spark.implicits._
    val rnd = new scala.util.Random(9753)
    def vec(): Array[Float] = Array.fill(8)(rnd.nextGaussian().toFloat)
    val k = 4
    val p1 = graft.core.TempDirs.scratchShared("vacalias0")
    (0 until 40).map(i => (i.toLong, vec()))
      .toDF("vec_id", "embedding")
      .withColumn("nrm", expr(
        "sqrt(aggregate(embedding, 0D, (a,x) -> a + cast(x as double)*x))"))
      .select(lit(1).as("cid"), col("vec_id"), col("embedding"), col("nrm"))
      .write.partitionBy("cid").mode("overwrite").parquet(s"$p1/seg=base")
    val root = graft.core.TempDirs.scratchShared("vacaliasroot")
    Similarity.ivfPublish(root, p1, k)                         // gen 1
    val (_, p2) = Similarity.ivfRetrainPublish(spark, root, iters = 1) // 2
    val (g3, served3) = Similarity.ivfRollback(spark, root, 1) // 3 -> p1
    assert(g3 == 3 && served3 == p1)
    val (_, p4) = Similarity.ivfRetrainPublish(spark, root, iters = 1) // 4
    // a takedown whose ONLY per-layout trail sits in the doomed p2
    // (a crashed carry): it must transit p2 -> p1 -> p4 through the
    // vacuum's fold chain
    Similarity.ivfTombstone(p2, Seq(11L))
    val dropped = Similarity.ivfVacuum(spark, root, keepGens = 1,
      retainMillis = 0L)
    assert(dropped == Seq(1, 2, 3))
    assert(!new java.io.File(p1).exists() && !new java.io.File(p2).exists(),
      "both superseded layouts are eventually destroyed")
    assert(new java.io.File(p4).exists())
    assert(Similarity.ivfHistory(root).map(_._1) == Seq(4))
    assert(Similarity.ivfTombstones(p4).contains(11L),
      "an orphaned takedown must transit the alias chain into the survivor")
    val ids = Similarity.ivfServe(spark, p4, Seq(3L), nprobe = k,
      topK = 100).collect().map(_.getLong(1)).toSet
    assert(ids.nonEmpty && !ids.contains(11L))
  }
}
