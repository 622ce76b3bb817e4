package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables._

/** Similarity search over the embeddings table (Array[Float]).
  *
  * Numeric determinism: dot products are folded in exact fixed-point
  * (each float×float product is computed in double — identical IEEE
  * result in any engine — scaled by 1e12, floored, summed as BIGINT),
  * so results hash-match the DuckDB oracle despite Spark's
  * nondeterministic row order. Only the final sqrt/divide run in
  * double, on operands that are bit-identical across engines.
  *
  * Scale path: brute-force top-k broadcasts the (small) query set and
  * scans the corpus once — the right plan when queries ≪ corpus.
  * The LSH variant buckets by random-hyperplane signature so candidate
  * generation is an equi-join on bucket id instead of a cross join.
  *
  * Every IVF entry point (sim05/06/09/11/12/13, st13, the `/index`
  * serve and maintenance ops) runs the same four steps, each written
  * once below:
  *   1. SEED — [[seedCents]]: the flat quantizer, the first k vectors
  *      as centroids (cid = vec_id + 1); sim05 and retrains train
  *      instead ([[trainCentroids]]).
  *   2. ASSIGN — [[writeLayout]]: nearest-centroid list per vector,
  *      one shuffle on cid, a cid-partitioned parquet layout.
  *   3. ROUTE — [[routeProbes]]: each query to its nprobe nearest
  *      lists, map-only.
  *   4. RANK — [[rankProbed]]: broadcast probes ⋈ postings on cid,
  *      self-exclusion, exact cosine, map-side-combining top-k.
  * Entry points differ only in their constants, their memo keys and
  * scratch tags, and what they filter around these steps.
  */
object Similarity {

  /** Exact fixed-point dot: each float×float product is computed in
    * double (IEEE-identical in any engine), scaled by 1e12, floored,
    * and summed as BIGINT — an associative exact sum, so Spark's
    * partial-aggregation order can't perturb it. Runs as the native
    * codegen'd [[graft.functions.FixedPointDot]] expression (a tight
    * primitive loop; the aggregate/zip_with HOF form it replaces
    * allocated an array and ran interpreted per element). */
  private def dotFix = graft.functions.GraftFunctions.fixdotD(col("qe"), col("ce"))

  private def withNorm(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .withColumn("nrm", sqrt(
        graft.functions.GraftFunctions.fixdotD(col("embedding"), col("embedding"))))

  /** Brute-force cosine top-5 for query vectors vec_id < 10
    * (oracle-checked). Query side is broadcast; corpus side is a
    * single scan; ranking is a per-query window. */
  def simCosineTopK(s: SparkSession, d: String): DataFrame =
    simCosineTopKFrom(withNorm(s, d))

  /** Map-side-combining top-k per query: see
    * [[graft.functions.Udafs.topKByScore]] — each scan partition
    * reduces to ≤ k candidates per query BEFORE the shuffle, so the
    * exchange carries nq·k·partitions rows, not nq·corpus. The
    * row_number window this replaces shipped every scored pair. */
  private[graft] def topKAgg(k: Int) = udaf(
    graft.functions.Udafs.topKByScore(k),
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[
      graft.functions.Udafs.ScoredId]())

  /** [[topKAgg]] with an extra ride-along integer column (PQ code,
    * quantized dot, list id) — avoids a join-back after the top-k. */
  private[graft] def topKPayloadAgg(k: Int) = udaf(
    graft.functions.Udafs.topKWithPayload(k),
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[
      graft.functions.Udafs.ScoredRow]())

  /** Explode a (qid, top: array<struct<score,id>>) frame into ranked
    * rows (qid, nid, rank, `scoreName`). */
  private def explodeRanked(g: DataFrame, scoreName: String): DataFrame =
    g.select(col("qid"),
        posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("qid"), col("s.id").as("nid"),
        (col("pos") + 1).cast("bigint").as("rank"),
        col("s.score").as(scoreName))

  private[graft] def simCosineTopKFrom(v: DataFrame, nq: Int = 10): DataFrame = {
    val q = broadcast(v.filter(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn")))
    val c = v.select(col("vec_id").as("nid"), col("embedding").as("ce"),
      col("nrm").as("cn"))
    c.join(q, col("qid") =!= col("nid"))
      .withColumn("cosine", dotFix / (col("qn") * col("cn")))
      .groupBy("qid").agg(topKAgg(5)(col("cosine"), col("nid")).as("top"))
      .transform(explodeRanked(_, "cosine"))
      .orderBy("qid", "rank")
  }

  /** Per-label corpus statistics on embedding norms (oracle-checked):
    * the norm is double but summed as exact decimal for the mean. */
  def simLabelStats(s: SparkSession, d: String): DataFrame =
    withNorm(s, d)
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        (sum(col("nrm").cast("decimal(18,9)")).cast("double") / count(lit(1)))
          .as("avg_norm"),
        min(col("nrm")).as("min_norm"),
        max(col("nrm")).as("max_norm"))
      .orderBy("label")

  /** Explode a frame into one row per (band_idx, band_sig): the
    * multi-band hyperplane signature runs as the native codegen'd
    * [[graft.functions.HyperplaneBands]] expression (one pass over the
    * vector for ALL planes, cached ±1 coefficient matrix) — replacing
    * the interpreted aggregate(zip_with(...)) per-plane fold that
    * re-derived every coefficient per row. */
  private def banded(v: DataFrame, bands: Int, rowsPerBand: Int,
      seed: Long): DataFrame =
    v.select(v.columns.map(col) :+
      posexplode(graft.functions.GraftFunctions.hyperplaneBands(
        col("embedding"), bands, rowsPerBand, seed))
        .as(Seq("band_idx", "band_sig")): _*)

  /** LSH-bucketed ANN (oracle-checked: the md5-derived ±1 planes and
    * exact fixed-point sign sums are recomputed verbatim by the DuckDB
    * oracle, so the "hash-dependent" output is in fact engine-portable):
    * multi-band AND-OR amplified candidate generation (as in the
    * MinHash dedup family): a corpus vector is a candidate for a query
    * when ANY of the `bands` per-band signatures (rowsPerBand sign
    * bits each) matches exactly. Expected per-band bucket size is n/2^rowsPerBand
    * — tunable, unlike a single flat bucket id whose candidate set is
    * O(n²/2^planes) with planes capped by signature width. The (tiny)
    * query side is broadcast, so candidate generation is a broadcast
    * equi-join on (band, signature): a single corpus scan, no shuffle. */
  def simLshAnn(s: SparkSession, d: String): DataFrame = {
    val bands = 3; val rowsPerBand = 6; val seed = 42L
    val ex = banded(withNorm(s, d), bands, rowsPerBand, seed)
    val q = broadcast(ex.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("band_idx"), col("band_sig")))
    val c = ex.select(col("vec_id").as("nid"), col("embedding").as("ce"),
      col("nrm").as("cn"), col("band_idx"), col("band_sig"))
    val w = Window.partitionBy("qid").orderBy(desc("cosine"), col("nid"))
    c.join(q, Seq("band_idx", "band_sig"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("cosine", dotFix / (col("qn") * col("cn")))
      // a pair can match in several bands: dedupe before ranking so
      // duplicates don't occupy top-k slots
      .select("qid", "nid", "cosine").distinct()
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= 3)
      .select("qid", "nid", "rank", "cosine")
      .orderBy("qid", "rank")
  }

  /** Embedding-cosine near-dup pairs (oracle-checked, same signature
    * replication as sim03): all same-bucket
    * pairs in any band with cosine ≥ 0.3 — the embedding analogue of
    * MinHash dedup (this synthetic corpus has no true embedding
    * near-dups; max pairwise cosine ≈ 0.48). Verification (the fixdot
    * cosine) is fused into the band self-join as in the SimHash
    * operator, so candidate pairs are never materialized; an
    * over-sized bucket (a degenerate hot key: near-constant embedding
    * regions) is dropped before the self-join, bounding the join's
    * worst case — the same cap discipline as the hot-shingle filter in
    * the n-gram dedup. */
  def simNearDupPairs(s: SparkSession, d: String): DataFrame =
    simNearDupPairsFrom(withNorm(s, d), bands = 3, rowsPerBand = 8,
      seed = 7L, maxBucket = 10000)

  private[graft] def simNearDupPairsFrom(v: DataFrame, bands: Int,
      rowsPerBand: Int, seed: Long, maxBucket: Int): DataFrame = {
    val ex = banded(v, bands, rowsPerBand, seed)
    val hot = ex.groupBy("band_idx", "band_sig")
      .agg(count(lit(1)).as("sz")).filter(col("sz") > maxBucket)
      .select("band_idx", "band_sig")
    val capped = ex.join(broadcast(hot), Seq("band_idx", "band_sig"), "left_anti")
    val a = capped.select(col("band_idx"), col("band_sig"),
      col("vec_id").as("x"), col("embedding").as("qe"), col("nrm").as("qn"))
    val b = capped.select(col("band_idx"), col("band_sig"),
      col("vec_id").as("y"), col("embedding").as("ce"), col("nrm").as("cn"))
    a.join(b, Seq("band_idx", "band_sig"))
      .filter(col("x") < col("y"))
      .withColumn("cosine", dotFix / (col("qn") * col("cn")))
      .filter(col("cosine") >= 0.3)
      .select("x", "y", "cosine")
      .distinct() // a pair can match in several bands
      .orderBy("x", "y")
  }

  // ---------------------------------------------------------------
  // IVF (inverted-file) ANN — the coarse-quantizer scale path next to
  // the LSH route: train k centroids, assign every corpus vector to
  // its nearest centroid (the "inverted lists"), then search only the
  // nprobe lists nearest each query. Candidate generation is an
  // equi-join on centroid id — per-query work is nprobe/k of the
  // corpus instead of all of it.
  //
  // Everything is deterministic so results are stable across runs:
  // seeding orders by a hash of vec_id, list means are exact decimal
  // sums, and all dot products run through the fixed-point codegen
  // expression. Training is fully distributed (no driver-side k-means):
  // assignment is a broadcast cross-join of k centroids against the
  // corpus with a partial-aggregated min(struct(dist,cid)) — shuffle
  // volume n rows, not n×k — and the mean step shuffles (cid,pos)
  // partial sums, n×dim rows map-side-combined into k×dim groups.
  // ---------------------------------------------------------------

  /** A coarse-quantizer centroid, driver-resident: cid, the vector,
    * and its fixed-point squared norm (the constant term of the
    * distance). Centers are O(k·dim) index METADATA — the MLlib
    * KMeans representation — not data. */
  private[graft] case class Ctr(cid: Int, cemb: Seq[Float], cn2: Double)

  /** Driver-side replica of [[graft.functions.FixedPointDot]] —
    * identical arithmetic (per-element double product, ×1e12, floor,
    * exact long sum), so centroid norms computed here equal the ones
    * the engine computes, bit for bit. */
  private def fixdotDriver(a: Seq[Float], b: Seq[Float]): Long = {
    val n = math.min(a.length, b.length)
    var acc = 0L; var i = 0
    while (i < n) {
      acc += math.floor(a(i).toDouble * b(i).toDouble * 1e12).toLong
      i += 1
    }
    acc
  }

  private[graft] def ctr(cid: Int, emb: Seq[Float]): Ctr =
    Ctr(cid, emb, fixdotDriver(emb, emb).toDouble / 1e12)

  /** The fused [[graft.functions.CentroidProbe]] kernel against the
    * (small, driver-resident) center set: nearest-centroid choice and
    * probe routing are MAP-ONLY projections — one compiled loop over
    * all k centers per row, no cross join, no argmin shuffle, one
    * corpus scan. This is the 100 TB shape — centroids ship with the
    * expression (a real deployment broadcasts them), the corpus
    * streams by once. */
  private def probeCol(centers: Seq[Ctr], v: Column, nprobe: Int): Column =
    graft.functions.GraftFunctions.centroidProbe(v,
      centers.map(_.cemb), centers.map(_.cid), centers.map(_.cn2), nprobe)

  /** argmin cid per row (ties on cid ascending — identical to the
    * min(struct(dist,cid)) aggregate it replaces). */
  private def nearestCidCol(centers: Seq[Ctr], v: Column): Column =
    probeCol(centers, v, nprobe = 1).getItem(0)

  /** Test hook: [[nearestCidCol]] over bare (cid, embedding) pairs, so
    * specs can replicate an index build's assignment exactly. */
  private[graft] def nearestCidColForTest(
      centers: Seq[(Int, Seq[Float])], v: Column): Column =
    nearestCidCol(centers.map { case (cid, e) => ctr(cid, e) }, v)

  /** IVF step 1, SEED: the first-k vectors as centers (sim06's
    * flat-quantizer discipline — deterministic, oracle-replicable;
    * cid = vec_id + 1). */
  private def seedCents(v: DataFrame, k: Int): Seq[Ctr] =
    v.filter(col("vec_id") < k)
      .select(col("vec_id"), col("embedding"))
      .orderBy("vec_id").collect().toSeq
      .map(r => ctr(r.getLong(0).toInt + 1, r.getSeq[Float](1)))

  /** IVF step 2, ASSIGN: each (vec_id, embedding, nrm) row to its
    * nearest centroid, one shuffle on cid, written `partitionBy(cid)`
    * under `path` — the one inverted-file layout writer (index
    * builds, streamed segments, retrains). */
  private def writeLayout(rows: DataFrame, cents: Seq[Ctr], path: String,
      mode: String = "overwrite"): Unit =
    rows.select(nearestCidCol(cents, col("embedding")).as("cid"),
        col("vec_id"), col("embedding"), col("nrm"))
      .repartition(col("cid"))
      .write.partitionBy("cid").mode(mode).parquet(path)

  /** IVF step 3, ROUTE: each query row to its `nprobe` nearest lists
    * — one (qid, qe, qn, cid) row per probed list, map-only (the
    * fused kernel with nprobe > 1, ascending (dist, cid)). `id`, `emb`
    * and `nrm` name the query frame's columns. */
  private def routeProbes(q: DataFrame, cents: Seq[Ctr], nprobe: Int,
      id: String = "vec_id", emb: String = "embedding",
      nrm: String = "nrm"): DataFrame =
    q.select(col(id).as("qid"), col(emb).as("qe"), col(nrm).as("qn"),
      explode(probeCol(cents, col(emb), nprobe)).as("cid"))

  /** A layout's rows as postings: (cid, nid, ce, cn). */
  private def postingsOf(layout: DataFrame): DataFrame =
    layout.select(col("cid"), col("vec_id").as("nid"),
      col("embedding").as("ce"), col("nrm").as("cn"))

  /** IVF step 4, RANK: broadcast the routed probes into the postings
    * on cid (over a cid-partitioned scan this is dynamic partition
    * pruning: only probed lists are read), drop self-matches, exact
    * cosine, then the map-side-combining top-k — candidates are
    * nprobe/k of the corpus per query and would otherwise all ride a
    * rank window's shuffle. */
  private def rankProbed(postings: DataFrame, probes: DataFrame,
      topK: Int, excludeSelf: Boolean = true): DataFrame = {
    val joined = postings.join(broadcast(probes), Seq("cid"))
    (if (excludeSelf) joined.filter(col("qid") =!= col("nid")) else joined)
      .withColumn("cosine", dotFix / (col("qn") * col("cn")))
      .groupBy("qid")
      .agg(topKAgg(topK)(col("cosine"), col("nid")).as("top"))
      .transform(explodeRanked(_, "cosine"))
      .orderBy("qid", "rank")
  }

  /** Train k centroids: hash-seeded picks refined by `iters` Lloyd
    * steps. Means are exact decimal sums cast back to float, so the
    * centroids (and everything downstream) are run-order independent.
    * Each Lloyd step is ONE self-contained job: a map-only assignment
    * fused into the posexplode (no cross join, no argmin shuffle, no
    * join back onto the corpus), then the two mean aggregations. All
    * corpus-sized work is distributed; only the k×dim centers ride
    * the driver. */
  private def trainCentroids(v: DataFrame, k: Int, iters: Int): Seq[Ctr] = {
    // hash-order the corpus and TAKE k (TakeOrderedAndProject — no
    // global sort); collect returns the k seeds in that order, so
    // cid = hash-order rank, same assignment as ever
    var centers: Seq[Ctr] =
      v.select(col("vec_id"), col("embedding"))
        .orderBy(hash(col("vec_id")), col("vec_id")).limit(k)
        .collect().toSeq.zipWithIndex
        .map { case (r, i) => ctr(i + 1, r.getSeq[Float](1)) }
    for (_ <- 1 to iters) {
      val means = v
        .select(nearestCidCol(centers, col("embedding")).as("cid"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg((sum(col("x").cast("decimal(28,12)")) / count(lit(1)))
          .cast("float").as("m"))
        .groupBy("cid")
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cemb"))
      centers = means.collect().toSeq
        .map(r => ctr(r.getInt(0), r.getSeq[Float](1)))
    }
    centers
  }

  /** The in-plan IVF search, shared by the trained (sim05) and flat
    * (sim06) quantizers: step 2's assignment as a map-only projection
    * (no layout is written), then ROUTE and RANK for query vectors
    * vec_id < 10 — per-query work is nprobe·n/k rows. */
  private def ivfSearch(v: DataFrame, centers: Seq[Ctr],
      nprobe: Int, topK: Int): DataFrame = {
    val lists = v.select(
      nearestCidCol(centers, col("embedding")).as("cid"),
      col("vec_id").as("nid"), col("embedding").as("ce"), col("nrm").as("cn"))
    rankProbed(lists, routeProbes(v.filter(col("vec_id") < 10), centers,
      nprobe), topK)
  }

  /** IVF ANN top-3 for query vectors vec_id < 10. k-means training is
    * not SQL-expressible, but the output is fully deterministic
    * (hash-seeded picks, exact decimal means, fixdot arithmetic), so
    * the oracle is a GOLDEN REGRESSION PIN of the sf0.01 output — the
    * driver's correctness scale (TESTDATA.md); checking at any OTHER
    * scale must skip this query, its pin is a different fixed fact
    * there. Determinism + recall are additionally spec-asserted, and
    * the SEARCH path is scale-independently oracle-checked via sim06.
    * k=8 lists, nprobe=4: each query scans ≈ half the corpus here; at
    * scale k grows with corpus size (√n lists is the usual rule) and
    * nprobe stays small. */
  def simIvfAnn(s: SparkSession, d: String): DataFrame = {
    val k = 8; val nprobe = 4; val iters = 2
    val v = withNorm(s, d)
    // the trained quantizer is k×dim floats of index metadata; memoize
    // per (session, dir) so repeat invocations reuse the index instead
    // of retraining (an IVF index is built once and amortized over
    // queries)
    val cents = graft.core.Caches.memoObj(s, s"ivf|$d|k$k-i$iters")(
      trainCentroids(v, k, iters))
    ivfSearch(v, cents, nprobe, topK = 3)
  }

  /** IVF with a FLAT (untrained) quantizer — centroids are the first k
    * corpus vectors (cid = vec_id + 1) with no Lloyd refinement. The
    * point: every stage of the IVF search path (nearest-centroid
    * assignment, inverted lists, nprobe probe routing, in-list exact
    * ranking) becomes pure fixdot arithmetic a SQL oracle can replicate
    * exactly, so the driver's hash gate covers the whole search
    * machinery; only Lloyd training (sim05) stays spec-checked. */
  def simIvfFlat(s: SparkSession, d: String): DataFrame = {
    val k = 8; val nprobe = 4
    val v = withNorm(s, d)
    ivfSearch(v, seedCents(v, k), nprobe, topK = 3)
  }

  /** sim11 — the IVF index PERSISTED as a cid-partitioned parquet
    * table, the ingest/serve split every production ANN deployment
    * runs: flat SEED (sim06's oracle-expressible discipline, k=16 here
    * so probed ∪ ≪ k), ASSIGN once into the layout, then each query
    * batch ROUTEs and RANKs over the layout scan. The RANK join is on
    * the PARTITION column, which Spark turns into dynamic partition
    * pruning — the scan's partitionFilters carry a runtime
    * `dynamicpruning` subquery fed by the probe side, so of the k list
    * directories only the probed ones are ever opened (plan-asserted
    * in SimilaritySpec). At 100 TB: nprobe/k of the corpus is READ,
    * not just filtered — the step beyond sim06's in-plan routing. */
  def simPersistedIndex(s: SparkSession, d: String): DataFrame =
    simPersistedIndexFrom(s, d).df

  /** The serve-side frame plus the postings path (for plan specs). */
  private[graft] case class ServeIndex(df: DataFrame, dir: String)
  private[graft] def simPersistedIndexFrom(s: SparkSession, d: String)
      : ServeIndex = {
    val k = 16; val nprobe = 2; val nq = 5
    val v = withNorm(s, d)
    val cents = seedCents(v, k)
    val dir = graft.core.Caches.memoObj(s, s"ivfindex|$d|k$k") {
      val path = graft.core.TempDirs.scratchShared("ivfindex")
      writeLayout(v, cents, path)
      path
    }
    val df = rankProbed(postingsOf(s.read.parquet(dir)),
      routeProbes(v.filter(col("vec_id") < nq), cents, nprobe), topK = 3)
    ServeIndex(df, dir)
  }

  /** sim13 — TAKEDOWN-AWARE ANN SERVE (oracle-checked): the persisted
    * index carries a TOMBSTONE set ([[ivfTombstone]] — GDPR takedowns
    * awaiting their physical purge at the next retrain), and the serve
    * path must rank as if the deleted vectors never existed. The
    * tombstone filter is a pushed NOT-IN at the postings scan (below
    * the literal threshold; the broadcast anti-join regime takes over
    * above it — [[dropTombstoned]]), so routing, candidate generation
    * and the top-k aggregate all run over the surviving rows only.
    * Deleted IDs may still QUERY (a dead row is not a dead caller).
    * Oracle: flat-quantizer IVF over the corpus with the tombstoned
    * ids excluded from the NEIGHBOR side — the filter must be
    * result-invisible beyond removing the deleted rows. */
  def simTakedownServe(s: SparkSession, d: String): DataFrame = {
    val k = 16; val nprobe = 2; val nq = 5
    val dead = (0L until 40L).filter(_ % 3 == 1)
    val v = withNorm(s, d)
    val cents = seedCents(v, k)
    val dir = graft.core.Caches.memoObj(s, s"ivftakedown|$d|k$k") {
      val path = graft.core.TempDirs.scratchShared("ivftakedown")
      writeLayout(v, cents, path)
      ivfTombstone(path, dead)
      path
    }
    rankProbed(
      postingsOf(dropTombstoned(s, s.read.parquet(dir),
        ivfTombstones(dir), "vec_id")),
      routeProbes(v.filter(col("vec_id") < nq), cents, nprobe), topK = 3)
  }

  /** INCREMENTAL ANN ingest over the persisted index — the rolling-
    * append production shape (and the ANN counterpart of dd12's
    * delta-vs-index dedup): the coarse quantizer is FROZEN at
    * index-build time, a daily delta batch is assigned to the
    * existing lists with that same quantizer (map-only — O(delta·k)
    * work, the history is never re-read, never re-clustered) and
    * APPENDED into the cid-partitioned layout; the serve path is
    * unchanged and sees old and new vectors in one scan, so a vector
    * is searchable the moment its batch lands. Retraining is a
    * separate, scheduled OPTIMIZE-style event precisely because
    * assignment must stay deterministic between retrains — the
    * contract that makes appended ≡ rebuilt-from-scratch EXACTLY
    * (spec-pinned), not approximately. Queries here deliberately span
    * base AND delta ids; the oracle replays flat-quantizer IVF over
    * the full corpus, which the incremental build must equal. */
  def simIncrementalIngest(s: SparkSession, d: String): DataFrame = {
    val k = 16; val nprobe = 3
    val v = withNorm(s, d)
    // the last ~20% of ids are the "daily delta"; the split point is
    // index metadata (one max aggregate) and does NOT affect results —
    // appended ≡ rebuilt is the whole contract — so the oracle replays
    // over the full corpus without knowing it
    val maxId = v.agg(max("vec_id")).first().getLong(0)
    val deltaFrom = (maxId + 1) * 4 / 5
    val cents = seedCents(v, k)
    val dir = graft.core.Caches.memoObj(s, s"ivfinc|$d|k$k") {
      val path = graft.core.TempDirs.scratchShared("ivfinc")
      // day 0: the base index
      writeLayout(v.filter(col("vec_id") < deltaFrom), cents, path)
      // day 1: the delta, assigned by the SAME frozen quantizer and
      // appended — history files untouched (spec-pinned)
      writeLayout(v.filter(col("vec_id") >= deltaFrom), cents, path,
        mode = "append")
      path
    }
    rankProbed(postingsOf(s.read.parquet(dir)),
      routeProbes(v.filter(col("vec_id") < 4 || col("vec_id") >= maxId - 2),
        cents, nprobe), topK = 5)
  }

  /** EXACTLY-ONCE append of one streamed micro-batch into a
    * frozen-quantizer IVF layout. foreachBatch is at-least-once: a
    * crash between the index write and the checkpoint commit means
    * the restarted query REDELIVERS the batch, and a raw
    * `mode("append")` would land the same vectors twice — duplicated
    * vec_ids then surface twice in served top-k. So each batch
    * commits as its own `seg=b<bid>` partition directory (the base
    * build is `seg=base`), staged into a dot-dir and claimed with one
    * ATOMIC RENAME — the `_SUCCESS`-marked directory appears complete
    * or not at all: a redelivered bid whose marker exists is a no-op,
    * an interrupted write leaves only an invisible staging dir, two
    * writers racing one bid resolve to exactly one winner, and
    * readers ([[ivfReadCommitted]]) scan only marked segments. This
    * is the st05/st11 applied-bid discipline (`Streaming.scala`
    * rollupState) transplanted to the ANN index sink. */
  private[graft] def ivfStreamAppend(cents: Seq[Ctr], path: String,
      batch: DataFrame, bid: Long): Unit = {
    // a streamed append only composes with a SEGMENT-committed layout:
    // mixing seg=* dirs into a bare cid=* build would make the two
    // partition shapes unreadable together, and the seg-only reader
    // would silently drop the bare base
    require(!Option(new java.io.File(path).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .exists(_.getName.startsWith("cid=")),
      s"layout $path is a bare cid build — streamed appends need a " +
        "segment-committed layout (seg=base; ivfRetrain produces one)")
    val seg = new java.io.File(path, s"seg=b$bid")
    if (new java.io.File(seg, "_SUCCESS").exists()) {
      sweepStaging(path, bid) // the bid is committed: staging is junk
      return                  // redelivered
    }
    // stage into a dot-dir (invisible to segment listing), then claim
    // the slot with ONE atomic rename: two writers racing the same bid
    // (the retrain catch-up sweep vs the appender's post-swap
    // re-apply — both carrying the same batch) cannot interleave
    // half-written files into one directory; exactly one rename wins,
    // the loser sees the winner's marker and drops its staging dir
    val tmp = new java.io.File(path,
      s".seg-b$bid-${java.util.UUID.randomUUID()}")
    writeLayout(batch.withColumn("nrm", sqrt(graft.functions.GraftFunctions
        .fixdotD(col("embedding"), col("embedding")))),
      cents, tmp.getAbsolutePath)
    // orphan handling lives INSIDE the failure path, never as an
    // entry-time delete: a pre-write exists/rmTree pair would race a
    // concurrent committer (check sees no marker, the other writer's
    // rename lands, our delete destroys a COMMITTED segment). Here
    // the marker check runs only after our own rename refuses, so a
    // committed winner is always observed, and only a genuinely
    // unmarked leftover is cleared before one bounded retry.
    var attempts = 0
    var done = false
    while (!done) {
      try {
        java.nio.file.Files.move(tmp.toPath, seg.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        done = true
      } catch {
        case e: java.nio.file.FileSystemException =>
          if (new java.io.File(seg, "_SUCCESS").exists()) {
            graft.core.TempDirs.rmTree(tmp) // lost to a committed twin
            done = true
          } else if (attempts == 0) {
            attempts = 1
            graft.core.TempDirs.rmTree(seg) // unmarked crash orphan
          } else {
            graft.core.TempDirs.rmTree(tmp)
            throw e
          }
      }
    }
    sweepStaging(path, bid)
  }

  /** Best-effort cleanup of crash-orphaned staging dirs for a bid
    * whose segment is committed (or just became so): each crashed
    * attempt leaves a fresh `.seg-b<bid>-<uuid>` with full batch
    * data, and nothing else ever lists dot-dirs. Safe because any
    * LIVE same-bid writer either already renamed (its staging is
    * gone) or will observe the committed marker and no-op; a mid-
    * write victim surfaces a transient job error whose redelivery
    * no-ops against the marker. */
  private def sweepStaging(path: String, bid: Long): Unit =
    Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith(s".seg-b$bid-"))
      .foreach(graft.core.TempDirs.rmTree)

  /** Read a segment-committed IVF layout: only `_SUCCESS`-marked
    * `seg=*` directories participate, so a crash-orphaned partial
    * segment is invisible to serving. `basePath` keeps `seg` and
    * `cid` as partition columns of one unified scan — partition
    * pruning on `cid` still applies across all segments. */
  private[graft] def ivfReadCommitted(s: SparkSession, root: String): DataFrame = {
    val segs = ivfCommittedSegs(root)
    require(segs.nonEmpty, s"no committed segments under $root")
    ivfReadSegs(s, root, segs.map(_._2))
  }

  /** One scan over the given segment dirs of a layout (`basePath`
    * keeps `seg` and `cid` partition columns); with no segments, the
    * bare cid-partitioned build under `root`. */
  private def ivfReadSegs(s: SparkSession, root: String,
      segs: Seq[java.io.File]): DataFrame =
    if (segs.isEmpty) s.read.parquet(root)
    else s.read.option("basePath", root)
      .parquet(segs.map(_.getAbsolutePath): _*)

  private def ivfCommittedSegs(root: String): Seq[(String, java.io.File)] =
    Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty[java.io.File]).toSeq
      .filter(f => f.getName.startsWith("seg=") &&
        new java.io.File(f, "_SUCCESS").exists())
      .map(f => (f.getName.stripPrefix("seg="), f))
      .sortBy(_._1)

  /** Layout reader that serves BOTH shapes: a segment-committed
    * layout (streamed ingest — committed segs only) and a plain
    * cid-partitioned one (batch builds). Every maintenance/serve
    * entry point reads through this, so the two shapes are
    * interchangeable everywhere. */
  private[graft] def ivfReadLayout(s: SparkSession, dir: String): DataFrame =
    ivfReadSegs(s, dir, ivfCommittedSegs(dir).map(_._2))

  /** st13 — STREAMING VECTOR INGEST (the continuous-arrival form of
    * [[simIncrementalIngest]], and the ANN counterpart of st10's
    * streaming table ingest): delta vectors arrive as a FILE STREAM;
    * each micro-batch is assigned to the existing lists with the
    * FROZEN coarse quantizer (map-only — O(batch·k), the history is
    * never re-read) and appended into the cid-partitioned layout
    * inside `foreachBatch`, so a vector is searchable the moment its
    * batch commits. Retraining stays a separate scheduled event
    * ([[ivfRetrain]] + the generation pointer) — exactly because
    * per-batch assignment must be deterministic, which is what makes
    * STREAMED-APPENDED ≡ REBUILT exact. Oracle: flat-quantizer IVF
    * over the full corpus — the oracle cannot see how the index was
    * built, which IS the contract (sim12's argument, now across the
    * streaming boundary). */
  def st13StreamIngest(s: SparkSession, d: String): DataFrame = {
    val k = 16; val nprobe = 2
    val v = withNorm(s, d)
    val maxId = v.agg(max("vec_id")).first().getLong(0)
    val deltaFrom = (maxId + 1) * 4 / 5
    val cents = seedCents(v, k)
    val dir = graft.core.Caches.memoObj(s, s"ivfstream|$d|k$k") {
      val path = graft.core.TempDirs.scratchShared("ivfstream")
      // day 0: the base index (batch build, frozen quantizer), committed
      // as its own segment — same _SUCCESS-marked unit as each batch
      writeLayout(v.filter(col("vec_id") < deltaFrom), cents,
        s"$path/seg=base")
      // the arrival stream: the delta lands as two files, one per
      // micro-batch (maxFilesPerTrigger=1)
      val src = graft.core.TempDirs.scratchShared("st13")
      val delta = v.filter(col("vec_id") >= deltaFrom)
      delta.filter(col("vec_id") % 2 === 0).select("vec_id", "embedding")
        .coalesce(1).write.parquet(s"$src/b0")
      delta.filter(col("vec_id") % 2 === 1).select("vec_id", "embedding")
        .coalesce(1).write.parquet(s"$src/b1")
      val q = s.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$src/b*")
        .writeStream
        .option("checkpointLocation",
          graft.core.TempDirs.scratch("st13ckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          ivfStreamAppend(cents, path, batch, bid)
        }
        .start()
      q.awaitTermination()
      path
    }
    // serve over old + new in one scan (committed segments only) —
    // the plan sim11/sim12 pinned
    rankProbed(postingsOf(ivfReadCommitted(s, dir)),
      routeProbes(v.filter(col("vec_id") < 6 || col("vec_id") >= maxId - 1),
        cents, nprobe), topK = 4)
  }

  /** DRIFT STATISTIC for a frozen-quantizer cid-partitioned index
    * ([[simIncrementalIngest]]'s production shape): `factor` = max
    * list share × k — 1.0 at perfect balance, k when one list owns
    * everything. The production failure mode of freezing the coarse
    * quantizer is exactly this: as the ingest distribution drifts
    * from the training distribution, appended vectors pile into a
    * few lists, and probe cost for a hot list decays toward a corpus
    * scan (nprobe·n/k stops being the per-query bound). The check is
    * one count-by-cid aggregate — O(k) rows of metadata — cheap
    * enough to run on every append, like `DESCRIBE HISTORY`. */
  private[graft] case class IvfBalance(k: Int, total: Long,
      maxCid: Int, maxShare: Double) {
    def factor: Double = maxShare * k
    /** The retrain trigger: past 4× the fair share, probing the hot
      * list costs what probing 4 lists should. */
    def drifted: Boolean = factor > 4.0
  }

  private[graft] def ivfBalance(s: SparkSession, dir: String,
      k: Int): IvfBalance = {
    // drift is measured over the SERVED population: tombstoned
    // vectors (takedowns awaiting their physical purge) are never
    // scanned by serve, so counting them would let a takedown-heavy
    // list trip the 4x retrain trigger for vectors no query pays for
    // — or, inverted, mask real drift among the vectors queries
    // actually probe. The tombstone set is driver-bounded metadata,
    // so the filter costs nothing extra.
    val counts = dropTombstoned(s, ivfReadLayout(s, dir),
        ivfTombstonesCached(s, dir), "vec_id")
      .groupBy(col("cid").cast("int").as("c")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    if (counts.isEmpty) IvfBalance(k, 0L, -1, 0.0) // fully tombstoned
    else {
      val total = counts.map(_._2).sum
      val (mc, mn) = counts.maxBy(_._2)
      IvfBalance(k, total, mc, mn.toDouble / math.max(total, 1L))
    }
  }

  /** A generation's quantizer, PINNED: the trained centroids persist
    * as `quantizer.json` inside the layout directory ([[ivfRetrain]]
    * writes it before the layout is ever published), so every process
    * at any time assigns and routes with the EXACT quantizer the
    * generation was built with — the session memo is an optimization,
    * never the source of truth. Without pinning, a restart would
    * re-estimate centroids over a layout that has since grown and
    * batch N+1 would be assigned with a different quantizer than
    * batch N, silently eroding the streamed-≡-rebuilt contract.
    *
    * Layouts predating the sidecar (hand-built spec layouts, bare cid
    * builds) fall back to an estimate — the per-cid element-wise mean
    * — taken from the IMMUTABLE `seg=base` only (never the growing
    * streamed segments, which would make the estimate time-dependent)
    * with an exact decimal sum, so the fallback too is identical
    * across processes and partitionings. UPGRADE CAVEAT: a sidecar-
    * less layout that ALREADY carries streamed segments assigned
    * under the old whole-layout estimate may route queries with
    * slightly different centroids than those batches were stored
    * under (a recall dip for exactly those vectors, not an error);
    * the old estimate was also restart-unstable, so there is no
    * drift-free choice for such layouts — schedule one retrain
    * (which pins the sidecar) to converge. Shape: posexplode to
    * (cid, pos) partial means — map-side combined, k·dim groups —
    * never a whole-vector collect. */
  private[graft] def layoutCentroids(s: SparkSession,
      dir: String): Seq[Ctr] =
    graft.core.Caches.memoObj(s, s"ivfcents|$dir") {
      readQuantizer(dir).getOrElse {
        val base = new java.io.File(dir, "seg=base")
        val src =
          if (new java.io.File(base, "_SUCCESS").exists())
            ivfReadSegs(s, dir, Seq(base))
          else ivfReadLayout(s, dir)
        src
          .select(col("cid").cast("int").as("c"),
            posexplode(col("embedding")))
          .groupBy("c", "pos")
          .agg((sum(col("col").cast("decimal(28,12)")) / count(lit(1)))
            .cast("double").as("m"))
          .groupBy("c").agg(sort_array(collect_list(
            struct(col("pos"), col("m")))).as("ps"))
          .collect().toSeq
          .map(r => ctr(r.getInt(0),
            r.getSeq[org.apache.spark.sql.Row](1)
              .map(_.getDouble(1).toFloat)))
          .sortBy(_.cid)
      }
    }

  /** Persist a layout's trained quantizer — one header line plus one
    * `{"cid":…,"emb":[…]}` line per centroid. Written ONCE, before
    * the layout publishes (the dir is still private scratch), via
    * [[graft.core.AtomicFiles.replace]] so no reader ever parses a
    * torn file. Floats round-trip exactly through toString/toFloat. */
  private[graft] def writeQuantizer(dir: String, cents: Seq[Ctr]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    graft.core.AtomicFiles.replace(dir, "_quantizer.json",
      (s"""{"k":${cents.size}}""" +: cents.map(c =>
        s"""{"cid":${c.cid},"emb":[${c.cemb.mkString(",")}]}"""))
        .mkString("", "\n", "\n"))
  }

  private[graft] def readQuantizer(dir: String): Option[Seq[Ctr]] = {
    val f = new java.io.File(dir, "_quantizer.json")
    if (!f.exists()) return None
    val lines = new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
    val head = """\{"k":(\d+)\}""".r
    val cent = """\{"cid":(\d+),"emb":\[([^\]]*)\]\}""".r
    def corrupt(why: String) = sys.error(
      s"corrupt quantizer file ${f.getPath} ($why) — delete it to " +
        "fall back to the seg=base estimate")
    val k = lines.headOption match {
      case Some(head(n)) => n.toInt
      case _ => corrupt("missing header")
    }
    val cs = lines.drop(1).map {
      case cent(cid, emb) => ctr(cid.toInt,
        emb.split(',').toSeq.filter(_.nonEmpty).map(_.toFloat))
      case l => corrupt(s"unparseable line '$l'")
    }.sortBy((c: Ctr) => c.cid)
    if (cs.size != k) corrupt(s"expected $k centroids, found ${cs.size}")
    Some(cs)
  }

  /** SERVE a published cid-partitioned layout with a runtime `nprobe`
    * KNOB — the recall/latency dial every IVF deployment exposes:
    * route each query (looked up by vec_id) to its nprobe nearest
    * list centroids, scan only those lists (the broadcast-probe join
    * dynamically prunes the partition scan, sim11's plan), rank with
    * the map-side-combining top-k aggregate. nprobe=k degenerates to
    * exact flat search; nprobe=1 is the fastest/lowest-recall point.
    * The measured trade curve at 8M vectors is recorded in
    * SCALE_SLOPE round 12, "ANN serve-quality curve". */
  private[graft] def ivfServe(s: SparkSession, layout: String,
      queryIds: Seq[Long], nprobe: Int, topK: Int): DataFrame = {
    require(queryIds.nonEmpty, "at least one query vec_id required")
    // a tombstoned id is DELETED from the takedown's point of view:
    // letting it keep resolving as a query would serve the deleted
    // embedding's neighbor ranking through the API until the physical
    // purge — the takedown contract says gone means gone, on every
    // path, immediately (a 400 over the wire, same as an unknown id)
    val dead = ivfTombstonesCached(s, layout)
    val blocked = queryIds.filter(dead)
    if (blocked.nonEmpty) throw new IllegalArgumentException(
      s"vec_id(s) ${blocked.sorted.mkString(",")} were deleted " +
        "(takedown) and cannot be used as queries")
    val post = ivfReadLayout(s, layout)
    val queries = post.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn"))
    // a corpus query must not count ITSELF among its neighbors — the
    // exclusion runs before the top-k so it never burns a slot
    ivfServeFrame(s, layout, queries, nprobe, topK, excludeSelf = true)
  }

  /** Serve top-k for EXTERNAL query vectors (the real serve contract —
    * a caller's embedding, not a corpus id): the queries arrive as a
    * driver-local list, ride as a broadcast probe frame, and take the
    * exact same routed scan as the by-id path. */
  private[graft] def ivfServeVecs(s: SparkSession, layout: String,
      vecs: Seq[Seq[Float]], nprobe: Int, topK: Int): DataFrame = {
    require(vecs.nonEmpty, "at least one query vector required")
    // dimension from the (memoized) serve centroids — no per-request
    // Spark job just to learn the width
    val dims = layoutCentroids(s, layout).head.cemb.size
    vecs.zipWithIndex.foreach { case (v, i) =>
      require(v.size == dims,
        s"query $i has ${v.size} dims; the index stores $dims")
      require(v.forall(f => !f.isNaN && !f.isInfinite),
        s"query $i contains a non-finite component")
      // a zero vector has no direction: cosine would be 0/0 = NaN,
      // which would also corrupt the JSON serve response
      require(v.exists(_ != 0f), s"query $i is the zero vector") }
    import s.implicits._
    val queries = vecs.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("qid", "qe")
      .withColumn("qn", sqrt(graft.functions.GraftFunctions
        .fixdotD(col("qe"), col("qe"))))
    ivfServeFrame(s, layout, queries, nprobe, topK)
  }

  /** The shared routed-scan serve: ROUTE the (qid, qe, qn) query
    * frame against the layout's pinned quantizer, RANK over its
    * postings — with the serve-only guards below. */
  private def ivfServeFrame(s: SparkSession, layout: String,
      queries: DataFrame, nprobe: Int, topK: Int,
      excludeSelf: Boolean = false): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    require(topK >= 1, s"k must be >= 1, got $topK")
    val cents = layoutCentroids(s, layout)
    val np = math.min(nprobe, cents.size)
    // a zero-norm corpus vector has no direction: its cosine is 0/0 =
    // NaN, which would rank arbitrarily AND break the JSON serve
    // envelope (bare NaN is invalid JSON). Ingest validates QUERY
    // vectors but appended batches are unvetted — drop degenerate
    // postings here, inside codegen, at zero extra jobs. Same guard
    // on the query side for the by-id path (a zero corpus vector used
    // as a query would NaN every one of its results).
    // tombstoned ids (takedowns awaiting their physical purge at the
    // next retrain) must never surface as neighbors
    rankProbed(
      postingsOf(dropTombstoned(s,
        ivfReadLayout(s, layout).filter(col("nrm") > 0d),
        ivfTombstonesCached(s, layout), "vec_id")),
      routeProbes(queries.filter(col("qn") > 0d), cents, np,
        id = "qid", emb = "qe", nrm = "qn"),
      topK, excludeSelf)
  }

  /** RETRAIN maintenance op — what [[ivfBalance]]'s trigger schedules
    * (verdict r10 #4): re-train the coarse quantizer on the CURRENT
    * corpus with the sim05 trainer and rewrite the cid-partitioned
    * layout into a fresh directory; returns (new layout path, new
    * quantizer as (cid, center) pairs). The swap to serving is the
    * caller's atomic-publish step — same discipline as TxnTable's
    * manifest swap — which is precisely why retraining is a separate
    * scheduled event and never part of the append path: between
    * retrains assignment must stay deterministic so that
    * appended ≡ rebuilt holds exactly. Cost is O(iters) distributed
    * passes over the corpus (measured in SCALE_SLOPE r11). */
  private[graft] def ivfRetrain(s: SparkSession, dir: String, k: Int,
      iters: Int = 4): (String, Seq[(Int, Seq[Float])]) = {
    // SNAPSHOT the committed segment list ONCE: the corpus read and
    // the carried ledger must describe the same instant — listing
    // segments again after training would mark a batch as applied
    // whose vectors the snapshot never saw (permanent loss once the
    // old generation is vacuumed). Batches that commit AFTER this
    // snapshot are the publisher's catch-up sweep's problem
    // ([[ivfRetrainPublish]]).
    val segs = ivfCommittedSegs(dir)
    // the retrain is the PHYSICAL takedown purge: tombstoned ids are
    // excluded from the training corpus and from the fresh layout —
    // their bytes do not survive the rewrite
    val corpus = dropTombstoned(s,
      ivfReadSegs(s, dir, segs.map(_._2))
        .select(col("vec_id"), col("embedding"), col("nrm")),
      ivfTombstones(dir), "vec_id")
    val cents = trainCentroids(corpus, k, iters)
    val path = graft.core.TempDirs.scratchShared("ivfretrain")
    writeLayout(corpus, cents, s"$path/seg=base")
    // CARRY THE APPLIED-BID LEDGER FORWARD — exactly the snapshot's
    // bids, no more: the retrain folded those batches into its fresh
    // base, so a batch redelivered AFTER the generation swap (crash
    // between the old layout's append and the checkpoint commit) is
    // a no-op against the NEW layout too — an empty `seg=b<bid>`
    // marker (a `_SUCCESS` and no data files) makes
    // [[ivfStreamAppend]]'s redelivery check hold across generations
    // while contributing zero rows to any scan.
    segs.map(_._1).filter(_.matches("b\\d+"))
      .foreach { bid =>
        val m = new java.io.File(path, s"seg=$bid")
        m.mkdirs()
        java.nio.file.Files.createFile(m.toPath.resolve("_SUCCESS"))
        ()
      }
    // PIN the trained quantizer to the layout (verdict r12 #1): every
    // later append/serve/fold — in this process or any other — reads
    // these exact centroids back instead of re-estimating them over a
    // layout that keeps growing, so assignment and routing stay
    // deterministic for the generation's whole life
    writeQuantizer(path, cents)
    (path, cents.map(c => (c.cid, c.cemb)))
  }

  /** Streamed ingest against the PUBLISHED index: resolve the current
    * generation per batch, route the batch with that generation's
    * (layout-derived) quantizer, and commit it exactly-once into its
    * layout — so a scheduled [[ivfRetrainPublish]] transparently
    * redirects subsequent appends to the fresh generation, and the
    * carried bid ledger keeps redelivery across the swap a no-op.
    * This is the production composition of st13's ingest and the
    * generation pointer: vectors are searchable the moment their
    * batch commits, retrains repair drift without pausing ingest, and
    * no vector is ever served twice. */
  private[graft] def ivfStreamAppendCurrent(s: SparkSession, root: String,
      batch: DataFrame, bid: Long): Unit = {
    val (gen0, path, _) = ivfCurrent(root).getOrElse(
      throw new IllegalStateException(s"no published index under $root"))
    // RETIRED IDS: a vec_id the root ledger records is permanently
    // retired — re-ingesting it would collide with the rollback
    // re-impose (the never-trimmed ledger would silently bury the
    // re-added, live vector on any later rollback). Renewed-consent
    // re-ingest uses a FRESH id. Checked only for genuinely NEW
    // batches (a redelivered bid no-ops on its marker before any row
    // is read) and only when the ledger is non-empty (zero jobs for
    // the takedown-free table).
    if (!new java.io.File(path, s"seg=b$bid/_SUCCESS").exists()) {
      val retired = takedownLedger(root)
      if (retired.nonEmpty) {
        val hit = tombstoneJoin(s, batch.select("vec_id"), retired,
          "vec_id", keep = true).limit(5).collect().map(_.getLong(0))
        if (hit.nonEmpty) throw new IllegalArgumentException(
          s"batch b$bid re-ingests permanently retired (taken-down) " +
            s"vec_id(s) ${hit.sorted.mkString(",")} — a deleted id " +
            "cannot be reused; re-ingest under fresh ids")
      }
    }
    // commit into the current layout, then the POST-COMMIT POINTER
    // RE-CHECK: a retrain whose snapshot predates this batch may
    // publish its successor while we were writing — its catch-up
    // sweep covers batches committed before the sweep LISTS the old
    // layout, and the re-apply covers the rest (the two overlap
    // rather than leave a gap). Each apply is guarded by the bid
    // marker, so the convergence loop never double-lands a vector no
    // matter how the orderings interleave.
    applyUntilStable(root, gen0, path)(p =>
      ivfStreamAppend(layoutCentroids(s, p), p, batch, bid))
    ()
  }

  /** Apply `write` to generation `gen0`'s layout `path`, then re-apply
    * it to each newer current layout until the generation pointer is
    * stable — the post-write pointer re-check a retrain publishing
    * mid-write needs ([[ivfStreamAppendCurrent]], [[ivfDelete]]).
    * `write` must be idempotent. Returns the generation it settled
    * on. */
  private def applyUntilStable(root: String, gen0: Int, path: String)(
      write: String => Unit): Int = {
    write(path)
    var gen = gen0
    var cur = ivfCurrent(root)
    while (cur.exists(_._1 != gen)) {
      val (g2, p2, _) = cur.get
      gen = g2
      write(p2)
      cur = ivfCurrent(root)
    }
    gen
  }

  // ---- TAKEDOWN (GDPR for the vector store) ----
  //
  // Segments are immutable, so a delete cannot rewrite them in place
  // (the same reason TxnTable is copy-on-write): a takedown lands as a
  // TOMBSTONE — an underscore-prefixed sidecar (invisible to parquet
  // scans) of vec_ids the serve path must never return — and the next
  // RETRAIN is the physical purge (its corpus excludes the tombstoned
  // ids, the rewrite drops their bytes). Deletes issued while a
  // retrain trains (the same snapshot gap streamed batches have) are
  // covered by carrying the old layout's tombstone set forward at
  // publish, TRIMMED to ids actually present in the fresh layout — a
  // bounded job, since a takedown batch is request metadata (the
  // deleteKeys contract). Logical delete is immediate; physical purge
  // completes at retrain + vacuum of the superseded layouts.

  /** Tombstone `ids` in the CURRENT generation. Returns (gen, count).
    * POST-WRITE POINTER RE-CHECK (the [[ivfStreamAppendCurrent]]
    * discipline): a retrain whose gap sweep listed the old layout's
    * tombstones BEFORE this write may publish its successor while we
    * were writing — the tombstone would then live only in a layout
    * vacuum will destroy. Re-tombstoning into each newer current
    * layout until the pointer is stable closes every interleaving
    * (a tombstone for an id the new layout lacks is a harmless
    * no-op filter; the next retrain trims it away). */
  private[graft] def ivfDelete(root: String,
      ids: Seq[Long]): (Int, Int) = {
    val (gen0, path, _) = ivfCurrent(root).getOrElse(
      throw new IllegalStateException(s"no published index under $root"))
    // the ROOT LEDGER records the takedown FIRST (before any layout
    // tombstone): per-layout tombstones are TRIMMED as retrains purge
    // physically, but an older layout may still hold the bytes — a
    // later ROLLBACK must be able to re-impose every takedown ever
    // issued, even after its per-layout trail was trimmed or its
    // layout vacuumed. Append-only, never trimmed, bounded by total
    // takedown volume (driver metadata, like a deleteKeys audit log).
    // Ledger-before-tombstone is the safe crash order: a delete that
    // crashes mid-apply errs toward MORE deletion at rollback, never
    // resurrection.
    recordTakedown(root, ids)
    val gen = applyUntilStable(root, gen0, path)(ivfTombstone(_, ids))
    (gen, ids.distinct.size)
  }

  /** Append one tombstone file to a layout — write-tmp + atomic move,
    * so readers never parse a torn file; files are append-only and
    * union at read. */
  private[graft] def ivfTombstone(layout: String, ids: Seq[Long]): Unit =
    writeIdFile(new java.io.File(layout, "_tombstones"), ids)

  /** The union of a layout's tombstoned ids — driver-bounded by the
    * takedown volume between retrains, like a deleteKeys batch. */
  private[graft] def ivfTombstones(layout: String): Set[Long] =
    readIdFiles(new java.io.File(layout, "_tombstones"))

  /** Every id EVER taken down under this index root — the append-only
    * ledger [[ivfDelete]] writes before touching any layout. Never
    * trimmed: per-layout tombstones shrink as retrains purge, but a
    * rollback to an old layout must re-impose takedowns whose
    * per-layout trail is gone. */
  private[graft] def takedownLedger(root: String): Set[Long] =
    readIdFiles(new java.io.File(root, "_takedowns"))

  private def recordTakedown(root: String, ids: Seq[Long]): Unit =
    writeIdFile(new java.io.File(root, "_takedowns"), ids)

  /** Coalesce the ledger's one-file-per-delete accumulation into a
    * single file — scheduled from [[ivfVacuum]], the retention op.
    * Safe under a concurrent [[ivfDelete]]: only the files CAPTURED
    * by the initial listing are replaced (a delete landing mid-
    * compaction keeps its own file), the combined file is written
    * before any original is removed (readers between the two steps
    * see the union plus duplicates — set semantics dedupe), and a
    * crash mid-removal leaves duplicates, never a lost id. */
  private[graft] def compactTakedownLedger(root: String): Int = {
    val d = new java.io.File(root, "_takedowns")
    val captured = Option(d.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".txt"))
    if (captured.length <= 1) return 0
    val ids = captured.flatMap(parseIdFile).toSeq.distinct
    writeIdFile(d, ids)
    captured.foreach(f => { f.delete(); () })
    captured.length
  }

  /** Union-read of a directory of id files. A concurrent
    * [[compactTakedownLedger]] may delete a listed file AFTER this
    * listing captured it (the compaction writes the combined file
    * first, so the ids are guaranteed present under a fresh listing)
    * — retry with a new listing instead of surfacing a spurious
    * NoSuchFileException 500 to a rollback or ingest guard. Bounded:
    * each retry needs another racing compaction to have landed
    * mid-read, and compactions are vacuum-scheduled. */
  private def readIdFiles(d: java.io.File): Set[Long] = {
    def once(): Set[Long] =
      Option(d.listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".txt"))
        .flatMap(parseIdFile)
        .toSet
    var attempts = 0
    while (true) {
      try return once()
      catch {
        case e: java.nio.file.NoSuchFileException =>
          attempts += 1
          if (attempts > 8) throw e
      }
    }
    sys.error("unreachable")
  }

  /** Parse one takedown/tombstone id file under the TORN-TAIL GUARD
    * (the GDPR channel's wrong-answer shape): a file truncated at a
    * LINE boundary would otherwise read as a silently smaller dead
    * set and serve a deleted vector again. Every file carries its id
    * count in a `#n=` header ([[writeIdFile]]); a file without one
    * predates it and is refused, naming [[ivfUpgrade]].
    * [[writeIdFile]] never writes a file without ids, so an empty one
    * is a tear too — read as "no ids", it would serve every vector it
    * took down again. */
  private def parseIdFile(f: java.io.File): Seq[Long] = {
    val lines = new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .split('\n').filter(_.nonEmpty)
    if (lines.isEmpty) sys.error(
      s"torn takedown file ${f.getPath} (empty) — restore it to recover")
    if (!lines.head.startsWith("#n=")) indexNeedsUpgrade(f, "no #n= header")
    val n = lines.head.stripPrefix("#n=").toInt
    if (lines.length - 1 != n) sys.error(
      s"torn takedown file ${f.getPath} (${lines.length - 1} " +
        s"of $n recorded ids) — restore it to recover")
    lines.iterator.drop(1).map(_.toLong).toSeq
  }

  private def indexNeedsUpgrade(f: java.io.File, what: String): Nothing =
    graft.core.VersionLog.predatesFormat(f, what,
      "Similarity.ivfUpgrade on the index root")

  private def writeIdFile(d: java.io.File, ids: Seq[Long]): Unit = {
    require(ids.nonEmpty, "at least one vec_id required")
    d.mkdirs()
    val distinctIds = ids.distinct.sorted
    // `#n=` header = the torn-tail guard readIdFiles verifies
    graft.core.AtomicFiles.replace(d.getPath,
      s"del-${java.util.UUID.randomUUID()}.txt",
      (s"#n=${distinctIds.size}" +: distinctIds).mkString("", "\n", "\n"))
    // CHANGE MARKER, bumped AFTER the id file is durable and BEFORE
    // the delete request acks: serve-path readers key their memoized
    // tombstone set on this value (one GET instead of a directory
    // LIST per search — the head-hint discipline applied to the
    // takedown channel), so any read issued after the ack sees the
    // new marker and re-reads. NOT best-effort: a silently lost bump
    // would serve a GDPR-deleted id from a stale cache, so a failed
    // bump fails the delete request loudly (the ledger already
    // recorded the id; the retry is idempotent).
    graft.core.AtomicFiles.replace(d.getPath, "_seq",
      java.util.UUID.randomUUID().toString)
  }

  /** Serve-path LIST counter for the tombstone channel (probe/spec
    * seam, like `ivfLog.lists`). */
  private[graft] val ivfTombstoneLists =
    new java.util.concurrent.atomic.AtomicLong()

  /** Serve-path tombstone read, memoized on the `_seq` CHANGE MARKER
    * ([[writeIdFile]] bumps it after every takedown write, before the
    * delete acks): a search request pays ONE GET — not a directory
    * LIST, and not a re-read of every takedown file ever written —
    * per-request round trips on a hot path being the object-store
    * anti-pattern the stats/schema/head-hint channels exist to kill.
    * Read-your-writes holds: any read issued after a delete's ack
    * sees the bumped marker and re-reads under a fresh key. A layout
    * without the marker (no takedown yet, or hand-built) takes the
    * listing-keyed memo; its first takedown writes the marker. */
  private[graft] def ivfTombstonesCached(s: SparkSession,
      layout: String): Set[Long] = {
    val seqF = new java.io.File(layout, "_tombstones/_seq")
    if (seqF.exists()) {
      val v =
        try new String(
          java.nio.file.Files.readAllBytes(seqF.toPath), "UTF-8")
        catch { case _: java.nio.file.NoSuchFileException => "" }
      if (v.nonEmpty)
        return graft.core.Caches.memoObj(s, s"ivftomb|$layout|$v") {
          ivfTombstoneLists.incrementAndGet()
          ivfTombstones(layout)
        }
    }
    val names = Option(
      new java.io.File(layout, "_tombstones").listFiles())
      .getOrElse(Array.empty[java.io.File]).map(_.getName)
      .filter(_.endsWith(".txt")).sorted.toSeq
    ivfTombstoneLists.incrementAndGet()
    if (names.isEmpty) Set.empty
    else graft.core.Caches.memoObj(s,
      s"ivftomb|$layout|${names.length}|${names.hashCode}") {
      ivfTombstones(layout)
    }
  }

  /** Drop (anti) or keep (semi) tombstoned rows of a frame carrying
    * `idCol`: a pushed IN/NOT-IN literal below the literal threshold,
    * a broadcast (anti|semi) join above it — ONE copy of the q47
    * regime switch for every tombstone consumer. */
  private def tombstoneJoin(s: SparkSession, df: DataFrame,
      dead: Set[Long], idCol: String, keep: Boolean): DataFrame =
    if (dead.isEmpty) { if (keep) df.limit(0) else df }
    else if (dead.size <= 1000) {
      val in = col(idCol).isin(dead.toSeq: _*)
      df.filter(if (keep) in else !in)
    } else {
      import s.implicits._
      df.join(broadcast(dead.toSeq.toDF("__dead")),
        col(idCol) === col("__dead"),
        if (keep) "left_semi" else "left_anti")
    }

  private def dropTombstoned(s: SparkSession, df: DataFrame,
      dead: Set[Long], idCol: String): DataFrame =
    tombstoneJoin(s, df, dead, idCol, keep = false)

  /** Carry a layout's takedowns into its SUCCESSOR, trimmed to ids the
    * successor actually stores and not already tombstoned there — one
    * job bounded by the takedown volume. Idempotent and re-runnable
    * (the crash-recovery form the batch fold has). */
  private[graft] def carryTombstones(s: SparkSession, from: String,
      to: String): Seq[Long] =
    imposeTombstones(s, ivfTombstones(from), to)

  /** Impose an arbitrary dead-id set on a layout, trimmed to ids it
    * actually stores and not already tombstoned — the carrier behind
    * [[carryTombstones]] and the rollback's ledger re-impose. */
  private def imposeTombstones(s: SparkSession, deadAll: Set[Long],
      to: String): Seq[Long] = {
    val dead = deadAll -- ivfTombstones(to)
    if (dead.isEmpty) return Nil
    val stillThere = tombstoneJoin(s,
        ivfReadLayout(s, to).select("vec_id"), dead, "vec_id",
        keep = true)
      .distinct().collect().map(_.getLong(0)).toSeq
    if (stillThere.nonEmpty) ivfTombstone(to, stillThere)
    stillThere
  }

  /** Atomic serve pointer for an IVF index (completes [[ivfRetrain]]'s
    * "the swap is the caller's publish step"): generation files
    * `gen-<N>.json` under a root, claimed with an EXCLUSIVE CREATE —
    * the same put-if-absent discipline as TxnTable's manifest publish,
    * so two concurrent retrains racing to publish the same generation
    * cannot both land; the loser re-reads and re-publishes at the
    * winner's successor. Readers resolve the MAX generation — one
    * directory listing, no lock — and old layouts stay on disk until
    * swept, so an in-flight query over the previous generation is
    * never broken (snapshot isolation for the index). */
  private[graft] def ivfPublish(root: String, layoutPath: String,
      k: Int): Int = {
    val gen = ivfCurrent(root).map(_._1).getOrElse(0) + 1
    ivfPublishAs(root, gen, layoutPath, k)
    gen
  }

  /** The claim itself, at an explicit generation — what a retrain
    * that PLANNED against generation g must publish as g+1 (planning
    * and publishing bracket real work, so the slot can be taken by
    * the time the claim runs; the exclusive create is what makes the
    * collision loud instead of a lost index). */
  private[graft] def ivfPublishAs(root: String, gen: Int,
      layoutPath: String, k: Int,
      rollbackOf: Option[Int] = None): Unit = {
    new java.io.File(root).mkdirs()
    val rb = rollbackOf.map(g => s""","rollbackOf":$g""").getOrElse("")
    // the publish INSTANT rides the pointer body (the TxnTable
    // commit-ts discipline): file mtime is not durable metadata — an
    // rsync/backup/object-store migration rewrites it, which would
    // silently shift ivfVacuum's retention verdicts. Never below the
    // predecessor's, so ivfGenAsOf's binary search holds.
    val ts = graft.core.VersionLog.nextTs(genPtr(root, gen - 1).fold(0L)(_.ts))
    val body = (s"""{"gen":$gen,"path":${jq(layoutPath)},"k":$k""" +
      s""","ts":$ts$rb}""").getBytes("UTF-8")
    // exclusive publish ([[graft.core.VersionLog.publish]]), then the
    // head hint: the pointer file appears COMPLETE or not at all, and
    // a racing publisher of the same generation loses loudly instead
    // of last-wins-overwriting the index. A ZERO-LENGTH
    // claim under the target name is provably a crash leftover of the
    // pre-lock fallback (the lock protocol only ever moves complete
    // files; ivfHistory skips it as not-published) — without healing
    // it here, every retrain would plan gen N, collide on the husk,
    // re-read gen N-1 and loop its 409 forever. Clear it once and
    // retry the claim; concurrent healers resolve to one winner.
    var attempts = 0
    var done = false
    while (!done) {
      try {
        ivfLog.publish(root, gen, body)(throw new SlotTaken)
        done = true
      } catch {
        case _: SlotTaken =>
          val f = ivfLog.file(root, gen)
          if (attempts == 0 && f.exists() && f.length() == 0) {
            attempts = 1
            java.nio.file.Files.deleteIfExists(f.toPath)
            ()
          } else throw new java.util.ConcurrentModificationException(
            s"index generation $gen already published under $root — " +
              "re-read the current pointer and re-publish")
      }
    }
  }

  // ---- LIST-FREE SERVE-PATH RESOLUTION: the generation pointers are
  // a [[graft.core.VersionLog]] (`gen-<N>.json`, hint key `gen`) —
  // head, committed range, publish instants, as-of and retention come
  // from the shared log; this object keeps the pointer body format.
  // Published pointer bodies are IMMUTABLE (exclusive create; vacuum
  // deletes whole files; only zero-length crash husks are ever
  // replaced, and husks are never cached) → parse ONCE per file
  // ([[genPtr]]), the ivfTombstonesCached discipline. A husk does not
  // count as committed: it stops the head's forward probe exactly as
  // an unpublished generation would.
  private final case class GenPtr(path: String, k: Int, ts: Long,
      rollbackOf: Option[Int])

  private val genPtrCache =
    new java.util.concurrent.ConcurrentHashMap[String, GenPtr]()
  private[graft] val ivfLog = new graft.core.VersionLog("gen-", "gen",
    (root, g) => genPtr(root, g).isDefined,
    (root, g) => genPtr(root, g).getOrElse(throw new IllegalStateException(
      s"no published index generation $g under $root")).ts)
  private[graft] val ivfPointerReads =
    new java.util.concurrent.atomic.AtomicLong()
  private[graft] def resetIvfIoCountersForTest(): Unit = {
    ivfLog.lists.set(0); ivfLog.probes.set(0); ivfPointerReads.set(0)
  }
  private[graft] def dropGenPtrCacheForTest(root: String): Unit = {
    genPtrCache.keySet.removeIf(_.startsWith(
      new java.io.File(root).getAbsolutePath)); ()
  }

  /** Memoized parse of one published pointer file. None = absent, or
    * a zero-length crash husk (claim created, fill never ran — NOT
    * published; never cached, it may be healed and re-claimed). Loud
    * on a non-empty file missing its fields (external damage) or its
    * `ts` (written before the current format: [[ivfUpgrade]]). */
  private def genPtr(root: String, gen: Int): Option[GenPtr] = {
    val f = ivfLog.file(root, gen)
    val key = f.getAbsolutePath
    val hit = genPtrCache.get(key)
    if (hit != null) return Some(hit)
    if (!f.exists()) return None
    ivfPointerReads.incrementAndGet()
    val body = new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    if (body.isEmpty) return None
    def corrupt(what: String) = throw new IllegalStateException(
      s"corrupt index generation file ${f.getPath} (missing " +
        s"$what) — delete or restore it to recover")
    val path = """"path":"((?:[^"\\]|\\.)*)"""".r
      .findFirstMatchIn(body)
      .fold(corrupt("path"))(_.group(1))
      .replace("\\\"", "\"").replace("\\\\", "\\")
    val k = """"k":(\d+)""".r.findFirstMatchIn(body)
      .fold(corrupt("k"))(_.group(1)).toInt
    val ts = """"ts":(\d+)""".r.findFirstMatchIn(body)
      .fold(indexNeedsUpgrade(f, "no ts"))(_.group(1).toLong)
    val rb = """"rollbackOf":(\d+)""".r.findFirstMatchIn(body)
      .map(_.group(1).toInt)
    val p = GenPtr(path, k, ts, rb)
    if (genPtrCache.size > 10000) genPtrCache.clear()
    genPtrCache.put(key, p)
    Some(p)
  }

  /** Local publish-collision signal for [[ivfPublishAs]]'s heal loop. */
  private final class SlotTaken extends RuntimeException

  private def jq(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** The live (max-generation) serve pointer: (gen, layout path, k).
    * HOT PATH (every search/balance/ingest resolves it): hint +
    * forward probe + memoized pointer parse — O(1) GET-class calls
    * and ZERO directory LISTs at steady state; falls back to the
    * listing (and self-primes the hint) when the hint is missing,
    * corrupt, or points at a vacuumed/husk generation. */
  private[graft] def ivfCurrent(root: String): Option[(Int, String, Int)] =
    ivfLog.head(root).map { g =>
      val p = genPtr(root, g).get
      (g, p.path, p.k)
    }

  /** The generation a published pointer ROLLED BACK to, if it was a
    * rollback publish — the op=history label. */
  private[graft] def ivfRollbackOf(root: String, gen: Int): Option[Int] =
    genPtr(root, gen).flatMap(_.rollbackOf)

  /** The publish instant of generation `gen`: the timestamp RECORDED
    * in its pointer body — what [[ivfVacuum]]'s retention guard and
    * op=history key off ([[graft.core.VersionLog.commitTs]]). */
  private[graft] def ivfCommitTs(root: String, gen: Int): Long =
    ivfLog.commitTs(root, gen)

  /** The committed generation range [oldest..head] WITHOUT a
    * directory LIST ([[graft.core.VersionLog.range]]) — O(log
    * generations) GET-class probes total. Empty when nothing is
    * published. */
  private[graft] def ivfCommittedGens(root: String): Seq[Int] =
    ivfLog.range(root)

  /** `op=history`'s enumeration, HINT-BOUNDED: the range resolves via
    * [[ivfCommittedGens]] (zero LISTs) and the pointer parses are
    * memoized, so a deep history costs one GET per NEW pointer and
    * nothing per re-ask. [[ivfVacuum]]/[[ivfRollback]] keep the
    * [[ivfHistory]] LIST as their ground truth — a maintenance sweep
    * must see stragglers outside the hinted range, an ops answer need
    * only see the committed chain. */
  private[graft] def ivfHistoryHintBounded(
      root: String): Seq[(Int, String, Int)] =
    ivfCommittedGens(root)
      .flatMap(g => genPtr(root, g).map(p => (g, p.path, p.k)))

  /** The generation SERVING at a wall-clock instant — the index side
    * of the table's TIMESTAMP AS OF (`versionAsOf`), and the audit
    * question a takedown/rollback investigation actually asks ("which
    * layout answered queries at 14:02?"): the newest generation
    * published at or before `tsMillis` (pointer semantics — a
    * rollback generation is itself a publish, so the answer follows
    * the pointer history exactly as readers did). Loud when the
    * instant predates the oldest surviving generation (the earlier
    * state is vacuumed — answering with a LATER generation would be
    * silently wrong).
    *
    * O(log generations) pointer reads and ZERO LISTs for a deep
    * history ([[graft.core.VersionLog.asOf]]). */
  private[graft] def ivfGenAsOf(root: String, tsMillis: Long): Int =
    ivfLog.asOf(root, tsMillis) { (oldest, oldestTs) =>
      throw new IllegalArgumentException(
        s"no generation of $root was published at $tsMillis (oldest " +
          s"surviving generation $oldest published at $oldestTs)")
    }.getOrElse(throw new IllegalStateException(
      s"no published index under $root"))

  /** ROLLBACK the serve pointer — the TxnTable-RESTORE analogue on
    * the /index surface: a bad retrain publish is reverted by
    * publishing generation N+1 whose pointer references a PREVIOUS
    * generation's layout. Nothing is rewritten or deleted: the bad
    * generation stays on disk (time-travelable/auditable until
    * vacuum), readers swap atomically with the pointer, and a racing
    * retrain loses the exclusive N+1 claim loudly. Takedowns issued
    * while the bad generation served carry FORWARD into the restored
    * layout (trimmed to ids it actually stores), so a GDPR delete
    * survives the rollback; a vacuumed target refuses loudly (the
    * client error, not a half-missing serve). Returns
    * (newGen, servedLayoutPath). */
  private[graft] def ivfRollback(s: SparkSession, root: String,
      toGen: Int): (Int, String) =
    // MAINTENANCE LEASE on the index root: a vacuum cannot destroy the
    // layouts this rollback is folding from (or the target it is about
    // to re-serve) mid-flight — the index twin of the table's
    // restore-vs-vacuum closure. Retrains/ingest never take it: the
    // exclusive generation claim already serializes publishes.
    graft.core.Lease.withLeaseHandle(root, "index-rollback") { lease =>
    val hist = ivfHistory(root)
    val (curGen, curPath, _) = hist.lastOption.getOrElse(
      throw new IllegalStateException(s"no published index under $root"))
    if (toGen == curGen) throw new IllegalArgumentException(
      s"generation $toGen is already current under $root")
    val (_, tPath, tK) = hist.find(_._1 == toGen).getOrElse(
      throw new IllegalArgumentException(
        s"cannot roll back $root to generation $toGen: no such " +
          "published generation (vacuumed?)"))
    if (!new java.io.File(tPath).exists())
      throw new IllegalArgumentException(
        s"cannot roll back $root to generation $toGen: its layout " +
          "was vacuumed")
    // the rollback reverts the RETRAIN (quantizer + layout), never
    // the DATA: streamed batches ingested after toGen exist only in
    // LATER layouts, and st13's exactly-once contract says no
    // committed vector is ever lost — fold them into the restored
    // layout NOW (bid-marker idempotent, re-assigned with the
    // target's pinned quantizer), from EVERY surviving later layout:
    // a batch's real segment lives wherever it was first committed,
    // which after intermediate retrains is not necessarily the
    // current layout (the current layout may carry only the
    // marker-ledger entry, its vectors absorbed into a base). Fold
    // BEFORE the tombstone pass: a folded batch may re-introduce ids
    // a later generation tombstoned, and the impose is what buries
    // them again.
    val later = hist.filter(_._1 > toGen)
    val survivingLater = later.map(_._2).distinct
      .filter(p => p != tPath && new java.io.File(p).exists())
    // the dead set FIRST, imposed BEFORE any fold and FILTERING the
    // folds themselves: a re-run of a crashed rollback may fold into
    // a tPath the pointer ALREADY serves, so a taken-down id must
    // never be written there, not even for the one job between a
    // fold and a later impose
    val deadAll = takedownLedger(root) ++
      survivingLater.flatMap(p => ivfTombstones(p))
    imposeTombstones(s, deadAll, tPath)
    survivingLater.foreach { p =>
      ivfFoldForward(s, p, tPath, exclude = deadAll); () }
    // UNSOURCEABLE batches refuse the rollback loudly: a bid whose
    // every surviving record is a marker-only ledger entry (its
    // vectors were absorbed into an intermediate base and the layout
    // holding the real segment was vacuumed) cannot be re-expressed
    // in the restored layout — proceeding would silently drop
    // committed vectors from serving.
    val tBids = ivfCommittedSegs(tPath).map(_._1)
      .filter(_.matches("b\\d+")).toSet
    val missing = survivingLater.flatMap(p =>
      ivfCommittedSegs(p).map(_._1).filter(_.matches("b\\d+")))
      .toSet -- tBids
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"cannot roll back $root to generation $toGen: streamed " +
        s"batch(es) ${missing.toSeq.sorted.mkString(",")} were absorbed " +
        "by an intermediate retrain and their original segments were " +
        "vacuumed — roll back to a newer generation")
    // The dead-set union above is the takedown-survival half of the
    // contract: per-layout tombstones are TRIMMED as retrains purge,
    // so an id deleted two generations ago may have no trail in the
    // current layout while its bytes still sit in the restored one —
    // the ROOT LEDGER plus every surviving later layout's tombstones
    // re-impose it, trimmed to ids the target stores, BEFORE the
    // pointer swap. All idempotent: a crash between fold/impose and
    // publish leaves only extra segments/tombstones in an unserved
    // (or already-correct) layout; re-running the rollback completes
    // it.
    // FENCE before the pointer publish (the restore discipline): a
    // rollback that stalled past its TTL and was superseded — say by
    // a vacuum that then destroyed tPath — must refuse to publish a
    // pointer at it rather than serve a half-missing layout
    lease.checkFence()
    ivfPublishAs(root, curGen + 1, tPath, tK, rollbackOf = Some(toGen))
    (curGen + 1, tPath)
    }

  /** ONE-SHOT UPGRADE of an index root into the current on-disk
    * format — the only code reading the older shapes, and the call
    * every refusal of one names. A generation pointer with no `ts`
    * gets its mtime clamped into generation order
    * ([[graft.core.VersionLog.fillTs]]); a `_takedowns` or
    * `_tombstones` id file with no `#n=` header gains one. IDEMPOTENT:
    * a current file is never rewritten. Runs under the index
    * maintenance lease. Returns the number of files rewritten. */
  def ivfUpgrade(root: String): Int =
    graft.core.Lease.withLeaseHandle(root, "index-upgrade") { _ =>
      var touched = 0
      def rewrite(f: java.io.File, body: String): Unit = {
        graft.core.AtomicFiles.replace(f.getParent, f.getName, body)
        touched += 1
      }
      def text(f: java.io.File) =
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val tsPat = """"ts":(\d+)""".r
      // zero-length crash husks are not published — nothing to upgrade
      val ptrs = ivfLog.list(root).map(ivfLog.file(root, _))
        .filter(_.length() > 0)
      val bodies = ptrs.map(text(_).trim)
      val ts = graft.core.VersionLog.fillTs(bodies.map(tsPat
        .findFirstMatchIn(_).map(_.group(1).toLong)).toIndexedSeq,
        i => ptrs(i).lastModified())
      ptrs.indices.filterNot(i => tsPat.findFirstIn(bodies(i)).isDefined)
        .foreach(i => rewrite(ptrs(i),
          bodies(i).stripSuffix("}") + s""","ts":${ts(i)}}"""))
      (new java.io.File(root, "_takedowns") +: ivfHistory(root)
          .map(g => new java.io.File(g._2, "_tombstones")).distinct)
        .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
        .filter(_.getName.endsWith(".txt")).foreach { f =>
          val ids = text(f).split('\n').filter(_.nonEmpty)
          if (ids.nonEmpty && !ids.head.startsWith("#n="))
            rewrite(f, (s"#n=${ids.length}" +: ids).mkString("", "\n", "\n"))
        }
      touched
    }

  /** Every published generation, ascending — the index's DESCRIBE
    * HISTORY. One root LIST (the ops-surface ground truth, like
    * vacuum's on the table side) with body parses MEMOIZED
    * ([[genPtr]] — descriptive failure on a corrupt pointer, never a
    * bare NoSuchElementException; zero-length crash husks read as
    * not-yet-published). The SERVE path never calls this:
    * [[ivfCurrent]] resolves LIST-free. */
  private[graft] def ivfHistory(root: String): Seq[(Int, String, Int)] =
    ivfLog.list(root)
      .flatMap(g => genPtr(root, g).map(p => (g, p.path, p.k)))

  /** Sweep superseded index generations — the retention op that
    * bounds storage after repeated retrains (each publishes a FULL
    * fresh layout; without a sweep the root accumulates one corpus
    * copy per generation). Keeps the newest `keepGens` generations
    * unconditionally; an older generation is dropped only once its
    * SUCCESSOR's pointer is older than `retainMillis` — an in-flight
    * query over the superseded layout pinned its snapshot when that
    * generation was still current, so the successor's age bounds how
    * stale any live reader can be (the TxnTable vacuum contract).
    * A too-young drop set refuses loudly as a conflict; `force`
    * overrides. Returns the generations dropped. Layouts outside the
    * root (shared scratch dirs) are deleted recursively; the pointer
    * file goes last, so a crash mid-sweep leaves a pointer whose
    * layout is partially gone — re-running the sweep completes it,
    * and readers resolve the MAX generation, which is never swept.
    *
    * BEFORE any drop, each doomed generation's unmarked streamed
    * batches FOLD FORWARD into its successor ([[ivfFoldForward]],
    * ascending so chains propagate transitively): a retrain publisher
    * that crashed between its pointer publish and its catch-up sweep
    * leaves gap batches only the superseded layout holds, and vacuum
    * is the single operation that could destroy them — so it
    * completes the fold first, making the crash window a durability
    * no-op. */
  private[graft] def ivfVacuum(s: SparkSession, root: String,
      keepGens: Int = 2,
      retainMillis: Long = 7L * 24 * 3600 * 1000,
      force: Boolean = false): Seq[Int] = {
    require(keepGens >= 1, "must keep at least the current generation")
    // FENCED lease (the TxnTable.vacuum discipline): re-verified at
    // the boundary into the destructive phase and once per dropped
    // generation, so a holder that stalled past its TTL and was taken
    // over has its remaining layout destruction REFUSED
    graft.core.Lease.withLeaseHandle(root, "index-vacuum") { lease =>
    // the ledger never trims its IDS, but its FILE COUNT is bounded
    // here: vacuum is the scheduled retention pass, so it also folds
    // the one-file-per-delete accumulation into a single file
    compactTakedownLedger(root)
    val hist = ivfHistory(root)
    val drop = hist.dropRight(keepGens)
    if (drop.isEmpty) return Nil
    if (!force) {
      val young = ivfLog.young(root, drop.map(_._1),
        hist.map(_._1).toSet, retainMillis)
      if (young.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"index vacuum refused under $root: generation(s) " +
            young.mkString(", ") +
            s" were superseded less than ${retainMillis} ms ago and an " +
            "in-flight query may still be scanning their layout — wait " +
            "out the retention window or pass force=true")
    }
    // a ROLLBACK generation references an OLDER generation's layout
    // by pointer — two generations, one directory. Sweeping must
    // respect the aliasing both ways: a layout a KEPT generation
    // still serves survives outright (only its old pointer goes),
    // and a layout shared by TWO DROPPED generations is destroyed
    // only at its LAST reference (deleting at the first would make
    // the later generation's fold read a dead directory). The fold
    // target is the next generation whose layout still EXISTS — the
    // immediate successor may be a rollback pointer at an
    // already-processed (or missing) directory.
    val keptPaths = hist.takeRight(keepGens).map(_._2).toSet
    val lastRef: Map[String, Int] = drop.zipWithIndex
      .groupBy(_._1._2).map { case (p, xs) => p -> xs.map(_._2).max }
    // loop-invariant under the held lease: read the ledger ONCE, not
    // once per dropped generation (O(drops × ledger-files) GETs on an
    // object store otherwise); a concurrent ivfDelete's additions
    // mid-sweep are covered by its own tombstone write + pointer
    // re-check, exactly as in the rollback's hoisted deadAll
    val ledger = takedownLedger(root)
    onBeforeIvfVacuumDrop()
    lease.checkFence()
    drop.zipWithIndex.map { case ((g, path, _), idx) =>
      lease.checkFence()
      // fold + carry + destroy only at the path's LAST dropped
      // reference: earlier references' folds would be pure wasted
      // I/O (anything pushed sideways round-trips back before the
      // final fold), and the transit chain is preserved because any
      // inbound fold into a path happens at an index before that
      // path's own lastRef
      if (!keptPaths.contains(path) && lastRef(path) == idx &&
          new java.io.File(path).exists()) {
        hist.filter(_._1 > g).map(_._2)
          .find(p2 => p2 != path && new java.io.File(p2).exists())
          .foreach { succ =>
            // the doomed layout's dead set FILTERS the folded rows
            // themselves: the successor is typically the LIVE serving
            // layout, and an id whose only tombstone lives in the
            // doomed layout (the crashed-publisher case) must never
            // have its bytes written there even for the one job
            // between the fold and the carry below — a takedown must
            // not resurface, not even transiently (the ivfRollback
            // discipline)
            ivfFoldForward(s, path, succ,
              exclude = ivfTombstones(path) ++ ledger)
            // a takedown whose only tombstone lives in the doomed
            // layout (publisher crashed between publish and its gap
            // sweep) must fold forward too, or destroying the layout
            // silently resurrects the deleted ids — the one ordering
            // that would make a GDPR delete reversible. This carries
            // the tombstone for ids whose bytes ALREADY sit in succ;
            // the exclude above covers ids the fold would have moved.
            carryTombstones(s, path, succ); ()
          }
        // DESTRUCTION IS FENCE-ATOMIC: the layout's rmTree runs inside
        // the reaper section with the fence judged while it is held
        // ([[graft.core.Lease.Handle.fencedSection]]) — a holder
        // superseded between the per-generation fence above and this
        // delete (the r16 stacked residue) is refused with zero
        // overlap. The fold/carry above stay OUTSIDE the section: they
        // are Spark jobs (the section is µs-scale), and they only ADD
        // idempotent segments/tombstones a retry re-derives — the
        // irreversible step is this rmTree alone.
        lease.fencedSection {
          graft.core.TempDirs.rmTree(new java.io.File(path))
        }
      }
      lease.fencedSection { ivfLog.drop(root, g) }
      // the dropped pointer must not survive in the parse cache — a
      // later same-named publish (impossible in this log's monotone
      // numbering, but cheap to rule out structurally) or a probe of
      // the swept range must see absence
      genPtrCache.remove(ivfLog.file(root, g).getAbsolutePath)
      g
    }
    }
  }

  /** The scheduled maintenance event end-to-end: read the CURRENT
    * generation, retrain on its corpus, publish the fresh layout as
    * the next generation (exclusive-create claim). Returns the new
    * (gen, path). */
  /** Test seam: runs between training and the pointer publish —
    * the window in which a live ingest can commit batches the
    * retrain's snapshot never saw. */
  private[graft] var onBeforeIvfPublish: () => Unit = () => ()

  /** Test hook: runs after ivfVacuum has planned its drop set but
    * before any layout is destroyed — the window in which a stalled-
    * then-superseded holder's deletes must be fence-refused. */
  private[graft] var onBeforeIvfVacuumDrop: () => Unit = () => ()

  private[graft] def ivfRetrainPublish(s: SparkSession, root: String,
      iters: Int = 4): (Int, String) = {
    val (planned, path, k) = ivfCurrent(root).getOrElse(
      throw new IllegalStateException(s"no published index under $root"))
    val (fresh, _) = ivfRetrain(s, path, k, iters)
    onBeforeIvfPublish()
    // TAKEDOWN CARRY, PRE-PUBLISH: deletes issued since the retrain's
    // snapshot (which purged the then-known set physically) exist only
    // as old-layout tombstones — carry them into the fresh layout
    // BEFORE it becomes current, or the swap would serve the deleted
    // ids until the post-fold sweep lands (a takedown must never
    // resurface, even transiently)
    carryTombstones(s, path, fresh)
    // publish at EXACTLY planned+1 — never re-read the pointer after
    // training: a concurrent retrain (or an ingest that bumped the
    // generation) may have moved it, and re-reading would let a STALE
    // index (trained on the pre-bump corpus) land as the newest
    // generation with no conflict raised. The exclusive-create claim
    // turns that race into a loud CME/409 the caller re-plans from.
    ivfPublishAs(root, planned + 1, fresh, k)
    // CATCH-UP SWEEP: training brackets real work, so a live ingest
    // can commit batches into the OLD layout between the retrain's
    // snapshot and this publish — unmarked in the fresh layout and,
    // with their checkpoints committed, never to be redelivered.
    // Re-assign each such batch into the fresh layout (idempotent —
    // the bid marker guards each). Together with
    // [[ivfStreamAppendCurrent]]'s post-commit pointer re-check this
    // covers every CRASH-FREE ordering: a batch committing before
    // this sweep runs is listed here; one committing after it
    // necessarily re-checks the pointer after the publish above and
    // re-applies itself. A publisher crashing MID-sweep is also
    // covered — the fold is re-runnable, and [[ivfVacuum]] re-runs it
    // against each generation's successor before any drop, so the
    // only operation that can destroy the old layout first completes
    // the fold.
    ivfFoldForward(s, path, fresh)
    // TAKEDOWN GAP SWEEP, POST-FOLD: covers deletes that landed
    // between the pre-publish carry and the publish (ivfDelete's own
    // post-write pointer re-check overlaps from the other side, the
    // batch-fold argument), plus ids a folded gap BATCH re-introduced
    // into the fresh layout.
    carryTombstones(s, path, fresh)
    (planned + 1, fresh)
  }

  /** Fold every committed streamed batch of `from` whose applied-bid
    * marker is absent in `to` into `to`, re-assigned with `to`'s
    * (layout-derived) quantizer. Idempotent and RE-RUNNABLE — the
    * crash-recovery form of the retrain catch-up sweep. Returns the
    * folded bids. */
  private[graft] def ivfFoldForward(s: SparkSession, from: String,
      to: String, exclude: Set[Long] = Set.empty): Seq[Long] = {
    val candidates = ivfCommittedSegs(from).map(_._1)
      .filter(_.matches("b\\d+"))
      .filterNot(b => new java.io.File(to, s"seg=$b/_SUCCESS").exists())
      // MARKER-ONLY segs (a retrain's applied-bid ledger carry — a
      // _SUCCESS with no data files, the vectors live in that
      // layout's seg=base) hold nothing to move; reading one would
      // crash schema inference. A rollback that NEEDS such a batch's
      // vectors detects the gap separately ([[ivfRollback]]'s
      // unsourceable check) instead of silently skipping data.
      .filter(b => segHasData(from, b))
    if (candidates.isEmpty) return Nil
    val cents = layoutCentroids(s, to)
    candidates.map { b =>
      // `exclude` (the rollback's dead-id set): a fold may target the
      // LIVE serving layout (re-running a crashed rollback whose
      // pointer already aliases the target) — taken-down ids must be
      // dropped from the rows themselves, never written first and
      // tombstoned a job later (a takedown must not resurface even
      // transiently)
      val rows = dropTombstoned(s,
        ivfReadSegs(s, from, Seq(new java.io.File(from, s"seg=$b")))
          .select("vec_id", "embedding"),
        exclude, "vec_id")
      val bid = b.stripPrefix("b").toLong
      ivfStreamAppend(cents, to, rows, bid)
      bid
    }
  }

  /** Whether a committed segment actually carries data files (vs a
    * marker-only applied-bid ledger entry). Recursive: a real
    * streamed segment nests its parquet under cid= partition dirs. */
  private def segHasData(layout: String, seg: String): Boolean = {
    def walk(f: java.io.File): Boolean =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .exists(walk)
      else f.getName.endsWith(".parquet")
    walk(new java.io.File(layout, s"seg=$seg"))
  }

  /** Int8 scalar-quantized cosine top-k (oracle-checked): the
    * memory-bandwidth scale path for 100 TB embedding search — a
    * symmetric per-vector quantization (scale = 127/max|x|, round
    * half-up) shrinks the corpus 4× and turns every dot product into
    * pure integer arithmetic, which is EXACTLY reproducible across
    * engines (unlike float sums, whose result depends on fold order).
    * The quantized cosine qdot/√(q·q)/√(c·c) needs no dequantization:
    * the per-vector scales cancel. In production the quantized column
    * is materialized once at ingest; the transform() here stands in
    * for that prep stage, and the search itself is the same
    * broadcast-queries × one-corpus-scan plan as sim01. */
  def simInt8TopK(s: SparkSession, d: String): DataFrame = {
    val qv = embeddings(s, d)
      .withColumn("mx", expr(
        "cast(array_max(transform(embedding, x -> abs(x))) as double)"))
      .withColumn("q", expr(
        """transform(embedding, x -> cast(floor(cast(x as double)
          |  * (127.0d / (case when mx > 0d then mx else 1.0d end)) + 0.5d) as int))""".stripMargin))
      .withColumn("self", graft.functions.GraftFunctions.intdot(col("q"), col("q")))
      .select(col("vec_id"), col("q"), col("self"))
    val lhs = broadcast(qv.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("q").as("qa"), col("self").as("sa")))
    val rhs = qv.select(col("vec_id").as("nid"), col("q").as("qb"), col("self").as("sb"))
    rhs.join(lhs, col("qid") =!= col("nid"))
      .withColumn("qdot", graft.functions.GraftFunctions.intdot(col("qa"), col("qb")))
      // NULL (not NaN) for a zero vector: Spark's 0/0.0 is NaN, which
      // sorts FIRST under desc() and would crown zero vectors rank-1
      // everywhere; DuckDB's 0/0 is NULL (sorts last) — align on NULL
      .withColumn("qcos", when(col("sa") > 0 && col("sb") > 0,
        col("qdot").cast("double")
          / (sqrt(col("sa").cast("double")) * sqrt(col("sb").cast("double")))))
      // a NULL qcos sorts last in the oracle, so with ≥ k non-null
      // candidates per query (nulls only arise from zero vectors) it
      // can never reach top-k — drop before the aggregate, whose
      // input score is a primitive double
      .filter(col("qcos").isNotNull)
      .groupBy("qid")
      .agg(topKPayloadAgg(5)(col("qcos"), col("nid"), col("qdot")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("qid"), col("s.id").as("nid"),
        (col("pos") + 1).cast("bigint").as("rank"),
        col("s.payload").as("qdot"), col("s.score").as("qcos"))
      .orderBy("qid", "rank")
  }

  /** Product-quantization ANN with asymmetric-distance scoring (PQ/ADC,
    * Jégou et al., "Product Quantization for Nearest Neighbor Search",
    * TPAMI 2011 — the codebook compression the int8 path (sim07) does
    * not give): the 64-dim vector splits into m=4 subvectors, each
    * quantized to one of k=16 per-subspace centroids, so a corpus
    * vector stores as 4 nibbles (16 bits vs 256 float bytes). A query
    * never decodes the corpus: it precomputes the 4×16 table of
    * query-subvector × centroid dots, and each candidate's approximate
    * dot is 4 table lookups summed.
    *
    * Codebook here is FLAT (subvectors of the first k corpus vectors,
    * the sim06 discipline) so encoding, table build and ADC ranking are
    * all exact fixdot arithmetic a SQL oracle replicates bit-for-bit;
    * Lloyd-refined codebooks would train like sim05. Scale shape: both
    * encoding and ADC are MAP-ONLY against literal centroids (64 rows
    * of index metadata); at 100 TB the codes column is materialized
    * once at ingest and the per-query work is one scan of 2-byte
    * codes — the memory-bandwidth win PQ exists for. */
  def simPqAdc(s: SparkSession, d: String): DataFrame = {
    val m = 4; val k = 16; val sub = 16
    val v = embeddings(s, d)
    val cbRows = v.filter(col("vec_id") < k)
      .select(col("vec_id"), col("embedding"))
      .orderBy("vec_id").collect()
    // codebook(j)(c): subspace j's centroid c (a subdim-float slice)
    val cb = (0 until m).map(j => (0 until k).map(c =>
      cbRows(c).getSeq[Float](1).slice(j * sub, (j + 1) * sub)))
    def subcol(e: Column, j: Int) = slice(e, j * sub + 1, sub)
    // RAW fixed-point long (not fixdotD's descaled double): the ADC
    // tables and score sums are exact BIGINT arithmetic
    def fix(a: Column, b: Seq[Float]) =
      graft.functions.GraftFunctions.fixdot(a, typedlit(b))
    // nearest centroid per subspace via the fused CentroidProbe kernel
    // (nprobe=1): ONE compiled loop over the 16 centroids per row —
    // the least(struct…) tree of 16 slice+fixdot branches it replaces
    // benched 5.4 s at sf0.1; the kernel's ‖c‖² − 2·(fixdot/10¹²)
    // double distance is the sim06 discipline the oracle mirrors
    def codeCol(e: Column, j: Int): Column =
      graft.functions.GraftFunctions.centroidProbe(subcol(e, j),
        cb(j), 0 until k,
        cb(j).map(c => fixdotDriver(c, c).toDouble / 1e12), nprobe = 1)
        .getItem(0)
    val coded = v.select(col("vec_id").as("nid")
      +: (0 until m).map(j => codeCol(col("embedding"), j).as(s"c$j")): _*)
      .withColumn("code",
        (((col("c0") * k + col("c1")) * k + col("c2")) * k + col("c3"))
          .cast("bigint"))
    // per-query ADC tables: 16 literal-centroid dots per subspace
    val q = broadcast(v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid")
        +: (0 until m).map(j => array((0 until k).map(c =>
          fix(subcol(col("embedding"), j), cb(j)(c))): _*).as(s"t$j")): _*))
    val fp = (0 until m).map(j =>
      element_at(col(s"t$j"), col(s"c$j") + 1)).reduce(_ + _)
    // fp (an exact fixed-point BIGINT well under 2⁵³) rides the
    // aggregate's double score slot losslessly; code is the payload —
    // no join-back after the top-k
    coded.join(q, col("qid") =!= col("nid"))
      .withColumn("fp", fp)
      .groupBy("qid")
      .agg(topKPayloadAgg(5)(col("fp").cast("double"), col("nid"),
        col("code")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("qid"), col("s.id").as("nid"),
        (col("pos") + 1).cast("bigint").as("rank"),
        col("s.payload").as("code"), (col("s.score") / 1e12).as("approx_dot"))
      .orderBy("qid", "rank")
  }

  /** IVF-PQ ANN (IVFADC, Jégou et al. TPAMI 2011 §IV: coarse-quantize,
    * product-quantize the RESIDUAL vector−centroid, score candidates
    * per probed list with residual ADC tables) — the composition of
    * sim05/06's routing and sim08's codebook compression, and the
    * standard billion-scale ANN configuration: the inverted lists
    * bound the scan (nprobe·n/g candidates per query) while the codes
    * bound the bytes (2 per vector here vs 256 float).
    *
    * Residuals are float subtraction (exact: a float difference is
    * the correctly-rounded exact difference, which DuckDB reproduces
    * bit-for-bit via DOUBLE subtract + cast back to FLOAT), and both
    * quantizers are FLAT off the corpus head (coarse = first g
    * vectors; codebook = the NEXT k vectors' RESIDUAL subvectors —
    * residual space per the paper, because the quantizer must live
    * at the scale of what it encodes, and disjoint from the coarse
    * head, because a centroid's own residual is an exactly-zero dead
    * entry), so routing, encoding, table build and ADC ranking are
    * all exact fixed-point arithmetic the SQL oracle replicates
    * value-for-value.
    *
    * Scale shape: assignment and probe routing are map-only through
    * the fused CentroidProbe kernel; candidate generation is an
    * equi-join on the list id with the tiny query×nprobe side
    * broadcast; the per-(query, list) ADC tables are built on the
    * broadcast side (nprobe table builds per query — the paper's cost
    * model). At 100 TB the codes column and list assignment are
    * materialized once at ingest; a query scans only its probed
    * lists' 2-byte codes. */
  def simIvfPq(s: SparkSession, d: String): DataFrame =
    simIvfPqFrom(s, embeddings(s, d), g = 8)

  private[graft] def simIvfPqFrom(s: SparkSession, v: DataFrame,
      g: Int, nq: Int = 10, memoTag: Option[String] = None): DataFrame = {
    val nprobe = 2; val m = 4; val k = 16; val sub = 16
    val coarse = seedCents(v, g)
    // RESIDUAL-SPACE codebook (the canonical IVFADC choice, Jégou
    // §IV-A: the product quantizer is trained on residuals): entries
    // are corpus-head RESIDUALS, not raw vectors, and the codebook
    // rows are the k vectors AFTER the coarse head — a row that IS a
    // coarse centroid has an exactly-zero residual, a dead codebook
    // entry. The recall gate (AnnRecallGateSpec) caught both defects
    // as chance-level recall@5: a raw-vector codebook encodes
    // residuals against entries at the wrong scale, and a
    // coarse-overlapping one is partly (at g = k, entirely) zeros, so
    // every ADC table lookup scored 0 while the oracle — replicating
    // the same definition — still hash-matched. Same flat-head
    // discipline, same exact arithmetic (float subtract is correctly
    // rounded, so the DuckDB oracle replicates it bit-for-bit);
    // assignment ties replicate the engine's (dist, cid) ordering.
    val cbRows = v.filter(col("vec_id") >= g && col("vec_id") < g + k)
      .select(col("vec_id"), col("embedding"))
      .orderBy("vec_id").collect()
    def headResidual(e: Seq[Float]): Seq[Float] = {
      val c = coarse.minBy(ct =>
        (ct.cn2 - 2.0 * (fixdotDriver(e, ct.cemb).toDouble / 1e12),
          ct.cid))
      e.zip(c.cemb).map { case (a, b) => a - b }
    }
    val cb = (0 until m).map(j => (0 until k).map(c =>
      headResidual(cbRows(c).getSeq[Float](1)).slice(j * sub, (j + 1) * sub)))
    def subcol(e: Column, j: Int) = slice(e, j * sub + 1, sub)
    def fix(a: Column, b: Seq[Float]) =
      graft.functions.GraftFunctions.fixdot(a, typedlit(b))
    def codeCol(e: Column, j: Int): Column =
      graft.functions.GraftFunctions.centroidProbe(subcol(e, j),
        cb(j), 0 until k,
        cb(j).map(c => fixdotDriver(c, c).toDouble / 1e12), nprobe = 1)
        .getItem(0)
    import s.implicits._
    val cdf = broadcast(coarse.map(c => (c.cid, c.cemb))
      .toDF("cid", "cemb"))
    // corpus: coarse-assign, residual-encode — both map-only (the
    // 8-row centroid join is a broadcast). memoTag caches the coded
    // corpus: production materializes list ids + codes ONCE at ingest
    // and amortizes them over every query batch, so a memoized probe
    // measures the steady-state per-query cost rather than re-paying
    // the encode.
    def mkCoded = v
      .select(col("vec_id").as("nid"), col("embedding"),
        nearestCidCol(coarse, col("embedding")).as("cid"))
      .join(cdf, "cid")
      .withColumn("res", zip_with(col("embedding"), col("cemb"), _ - _))
      .select(col("nid") +: col("cid")
        +: (0 until m).map(j => codeCol(col("res"), j).as(s"c$j")): _*)
    val coded = memoTag.fold(mkCoded)(t => graft.core.Caches.memo(s, t)(mkCoded))
    // queries: nprobe nearest lists each, one residual ADC table per
    // (query, list). Each table entry carries the paper's FULL
    // per-subspace squared-distance term ‖qres_j‖² + ‖e_c‖² −
    // 2·qres_j·e_c (exact fixed-point longs), so the summed lookup is
    // the IVFADC estimate of ‖qres − reŝ‖² itself. Two score forms
    // the recall gate measured at chance on a clustered corpus and
    // buried here: plain dot(qres, reŝ) (a residual-MIPS score the
    // paper never uses — rewards big-norm codes), and the ‖qres‖²-
    // dropped distance (that term is constant per PROBED LIST but
    // differs ACROSS a query's nprobe lists, so far-list candidates
    // win on inflated cross terms — scores must be comparable across
    // lists).
    val q = broadcast(v.filter(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(probeCol(coarse, col("embedding"), nprobe)).as("cid"))
      .join(cdf, "cid")
      .withColumn("qres", zip_with(col("qe"), col("cemb"), _ - _))
      .select(col("qid") +: col("cid")
        +: (0 until m).map(j => array((0 until k).map(c =>
          graft.functions.GraftFunctions.fixdot(
            subcol(col("qres"), j), subcol(col("qres"), j)) +
            lit(fixdotDriver(cb(j)(c), cb(j)(c))) -
            lit(2L) * fix(subcol(col("qres"), j), cb(j)(c))): _*)
          .as(s"t$j")): _*))
    val fp = (0 until m).map(j =>
      element_at(col(s"t$j"), col(s"c$j") + 1)).reduce(_ + _)
    // candidates here are nprobe/g of the corpus per query — exactly
    // the set a rank window would ship whole; the routing list id
    // rides the payload slot, fp (an exact fixed-point distance term
    // well under 2⁵³) rides the score slot NEGATED (the aggregate
    // keeps highest-score: nearest = smallest distance), ties on nid
    // ascending as everywhere in the family
    coded.join(q, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("fp", fp)
      .groupBy("qid")
      .agg(topKPayloadAgg(5)((-col("fp")).cast("double"), col("nid"),
        col("cid").cast("long")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("qid"), col("s.id").as("nid"),
        (col("pos") + 1).cast("bigint").as("rank"),
        col("s.payload").cast("int").as("list_id"),
        // 0.0 − score, not −score: an exactly-zero distance (a query
        // whose residual table is all zeros) must render +0.0 like
        // the oracle's fp/1e12, not IEEE −0.0
        ((lit(0.0) - col("s.score")) / 1e12).as("approx_dist"))
      .orderBy("qid", "rank")
  }

  /** SemDeDup — semantic dedup of the embedding corpus (Abbas et al.
    * 2023, arXiv:2303.09540): cluster with a coarse quantizer, compute
    * pairwise cosine only WITHIN each cluster, connect pairs ≥ τ into
    * duplicate groups (transitive closure — the same large/small-star
    * contraction as dd05), and keep per group the member FARTHEST from
    * its cluster centroid (the paper's diversity-preserving pick; ties
    * → lowest vec_id), dropping the rest.
    *
    * Scale shape: assignment and centroid-cosine are map-only against
    * the k×dim literal centers (one corpus scan through the fused
    * CentroidProbe kernel); the quadratic stage is confined WITHIN a
    * cluster by an equi-join on cid — in SemDeDup's own regime k grows
    * with the corpus (k ≈ n/⟨cluster size⟩ holds clusters at a fixed
    * few-thousand docs), so within-cluster pairs stay bounded and a
    * skewed list splits under AQE; the closure is dd05's O(log n)
    * contraction, never a per-cluster collect. The flat quantizer
    * (first-k vectors — sim06's discipline) keeps every stage exact
    * fixed-point arithmetic the SQL oracle replicates value-for-value;
    * a production run swaps in sim05's trained centroids without
    * touching any downstream stage. */
  def semDedup(s: SparkSession, d: String): DataFrame =
    semDedupFrom(s, withNorm(s, d), k = 8, tau = 0.3,
      memoTag = Some(s"semdedup|$d|k8"))

  private[graft] def semDedupFrom(s: SparkSession, v: DataFrame, k: Int,
      tau: Double, memoTag: Option[String] = None): DataFrame = {
    val cents = seedCents(v, k)
    semDedupPipeline(s, v, cents,
      _.withColumn("cid", nearestCidCol(cents, col("embedding"))),
      tau, memoTag)
  }

  /** dd09 — SemDeDup with a HIERARCHICAL (two-level) assignment: the
    * exact-flat argmin over all k centers costs O(n·k·dim), which is
    * the measured superlinear term of dd08 at scale (k grows with the
    * corpus to hold cluster size constant, so n·k is quadratic in n).
    * Routing through √k super-centers first — nearest super (√k dots),
    * then exact argmin within that super's center group (~√k dots) —
    * cuts assignment to O(n·√k·dim), the same exact-vs-routed duality
    * the ANN stack already has (sim01 brute vs sim03/05 routed).
    *
    * The assignment is approximate ONLY in which group is searched
    * (a vector whose true nearest center lives in a different super's
    * group gets its in-group nearest instead — the standard IVF
    * nprobe=1 trade); everything else (pair cosines, closure, keep
    * pick) is dd08 exactly, and every step is the same fixed-point
    * arithmetic, so the DuckDB oracle replicates the full pipeline
    * value-for-value. Precondition for oracle parity: the k seed
    * vectors are pairwise distinct (the engine has an exact full-
    * argmin fallback branch for a vector routed to a super whose
    * group is empty — reachable only through fixed-point near-ties
    * between duplicate seeds — which the oracle does not model). */
  def semDedupHier(s: SparkSession, d: String): DataFrame =
    semDedupHierFrom(s, withNorm(s, d), k = 16, tau = 0.3,
      memoTag = Some(s"semdeduph|$d|k16"))

  private[graft] def semDedupHierFrom(s: SparkSession, v: DataFrame, k: Int,
      tau: Double, memoTag: Option[String] = None): DataFrame = {
    val cents = seedCents(v, k)
    semDedupPipeline(s, v, cents,
      _.withColumn("cid", hierCidCol(cents, col("embedding"))),
      tau, memoTag)
  }

  /** dd09's assignment column: the FUSED two-level kernel
    * ([[graft.functions.HierCentroidProbe]]) — supers are the first
    * √k centers, each center grouped under its nearest super with the
    * kernel's own (dist, cid) fixed-point tie-break, all computed
    * k×√k driver-side and shipped as one expression. One expression
    * (not a CASE over √k per-group probes) so projection-duplicating
    * optimizer rules (PushProjectionThroughUnion) and codegen size
    * stay O(1) in the group count. */
  private def hierCidCol(cents: Seq[Ctr], v: Column): Column = {
    val g = math.max(1, math.round(math.sqrt(cents.length.toDouble)).toInt)
    val supers = cents.take(g)
    def nearestSuperIdx(e: Seq[Float]): Int =
      supers.indices.minBy(si =>
        (supers(si).cn2 - 2.0 * (fixdotDriver(e, supers(si).cemb).toDouble / 1e12),
          supers(si).cid))
    val groupOf: Seq[Seq[Int]] = {
      val bySuper = cents.indices.groupBy(ci => nearestSuperIdx(cents(ci).cemb))
      supers.indices.map(si => bySuper.getOrElse(si, Nil))
    }
    graft.functions.GraftFunctions.hierCentroidProbe(v,
      supers.map(_.cemb), supers.map(_.cn2),
      cents.map(_.cemb), cents.map(_.cid), cents.map(_.cn2), groupOf)
  }

  /** Diagnostic seam: the bare hierarchical assignment projection (no
    * pair join / closure) — SimilaritySpec's plan-shape regression test
    * asserts the fused kernel stays O(1) in the group count here. */
  private[graft] def dbgAssignHier(v: DataFrame, k: Int): DataFrame = {
    val cents = seedCents(v, k)
    v.select(col("vec_id"), hierCidCol(cents, col("embedding")).as("cid"))
  }

  /** The shared SemDeDup tail: given an `assign` step that adds the
    * per-vector `cid`, compute cosine-to-own-centroid, within-cluster
    * pairs ≥ τ, transitive closure, and the farthest-from-centroid
    * keep pick per group. */
  private def semDedupPipeline(s: SparkSession, v: DataFrame,
      cents: Seq[Ctr], assign: DataFrame => DataFrame, tau: Double,
      memoTag: Option[String]): DataFrame = {
    import s.implicits._
    val cdf = broadcast(cents.map(c => (c.cid, c.cemb, c.cn2))
      .toDF("cid", "cemb", "cn2"))
    // per-vector cluster id + cosine to the OWN centroid (the keep
    // score); memoized — the frame feeds both pair-join sides and the
    // final scoring join
    def mkM = assign(v.select(col("vec_id"), col("embedding"), col("nrm")))
      .join(cdf, "cid")
      .withColumn("cosc",
        graft.functions.GraftFunctions.fixdotD(col("embedding"), col("cemb"))
          / (col("nrm") * sqrt(col("cn2"))))
      .select("vec_id", "cid", "embedding", "nrm", "cosc")
    val m = memoTag.fold(mkM)(t => graft.core.Caches.memo(s, t)(mkM))
    val a = m.select(col("cid"), col("vec_id").as("x"),
      col("embedding").as("qe"), col("nrm").as("qn"))
    val b = m.select(col("cid"), col("vec_id").as("y"),
      col("embedding").as("ce"), col("nrm").as("cn"))
    val pairs = a.join(b, Seq("cid"))
      .filter(col("x") < col("y"))
      .filter(dotFix / (col("qn") * col("cn")) >= tau)
      .select("x", "y")
    // within-cluster pairs are unique by construction (one cid per
    // vec_id, x < y) — skip the CC input dedup exchange
    val labels = Dedup.connectedComponents(pairs, pairsDistinct = true)
    labels.join(m.select(col("vec_id").as("doc_id"), col("cosc")), "doc_id")
      .groupBy(col("canonical").as("grp"))
      .agg(count(lit(1)).as("sz"),
        min(struct(col("cosc"), col("doc_id"))).as("b"))
      .select(col("grp"), col("sz"), col("b.doc_id").as("keep_id"),
        (col("sz") - lit(1L)).as("n_dropped"), col("b.cosc").as("keep_cos"))
      .orderBy("grp")
  }

  /** Matryoshka (MRL) two-stage retrieval: coarse-score every corpus
    * vector with only the FIRST `pdim` dimensions (matryoshka-trained
    * embeddings front-load information, so a 16-dim prefix preserves
    * neighborhood structure), shortlist the top `shortlist` per query,
    * then rerank only the shortlist with the full vector. Stage 1
    * touches pdim/dim of the float traffic of a flat scan — at 100 TB
    * the prefix lives as its own (4× narrower) column so the scan
    * reads ¼ of the bytes, and stage 2's full-vector fetch is a
    * broadcast-semi-joined point lookup over `shortlist × nq` rows,
    * i.e. negligible. Same fixed-point arithmetic as sim01, so the
    * two-stage result is oracle-checkable bit-for-bit. */
  def simMrlRerank(s: SparkSession, d: String): DataFrame =
    simMrlRerankFrom(embeddings(s, d).select("vec_id", "embedding"))

  /** @param preSliced optional (vec_id, pe) frame where pe is already
    *   the materialized pdim-prefix column — the production storage
    *   layout (prefix stored next to the full vector, read without
    *   touching the wide column). Default derives it by slicing
    *   `base`, which is correct but reads the full vectors. */
  private[graft] def simMrlRerankFrom(base: DataFrame, pdim: Int = 16,
      shortlist: Int = 20, k: Int = 5, nq: Int = 10,
      preSliced: Option[DataFrame] = None): DataFrame = {
    val fx = graft.functions.GraftFunctions
    // stage 1 reads ONLY the prefix: (vec_id, pe, pn) — at scale the
    // prefix is its own column and this scan never touches the full
    // vector bytes; the shortlist window shuffles bare (qid, nid,
    // pcos) triples, no embeddings ride the shuffle
    val p = preSliced.getOrElse(base
      .select(col("vec_id"), slice(col("embedding"), 1, pdim).as("pe")))
      .withColumn("pn", sqrt(fx.fixdotD(col("pe"), col("pe"))))
    val qp = broadcast(p.filter(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("pe").as("qpe"),
        col("pn").as("qpn")))
    // shortlist via the map-side-combining top-k aggregate: each scan
    // partition reduces to ≤ shortlist candidates per query before the
    // shuffle — nq·shortlist·partitions rows cross the wire, not the
    // nq·corpus scored pairs a rank window would ship
    val cand = p.select(col("vec_id").as("nid"), col("pe").as("cpe"),
        col("pn").as("cpn"))
      .join(qp, col("qid") =!= col("nid"))
      .withColumn("pcos",
        fx.fixdotD(col("qpe"), col("cpe")) / (col("qpn") * col("cpn")))
      .groupBy("qid")
      .agg(topKAgg(shortlist)(col("pcos"), col("nid")).as("top"))
      .select(col("qid"), explode(col("top.id")).as("nid"))
    // stage 2: the nq×shortlist candidate set is tiny — broadcast it
    // into the full-vector scan (the "fetch"), broadcast the nq query
    // vectors, rerank. Full-dim norms and dots are computed AFTER the
    // candidate join, so the expensive arithmetic runs on ≤ nq·
    // shortlist rows — a full-corpus norm pass here would silently
    // re-pay the brute-force cost the funnel exists to avoid.
    val qf = broadcast(base.filter(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("embedding").as("qe")))
    val wF = Window.partitionBy("qid").orderBy(desc("cosine"), col("nid"))
    base.select(col("vec_id").as("nid"), col("embedding").as("ce"))
      .join(broadcast(cand), Seq("nid"))
      .join(qf, Seq("qid"))
      .withColumn("qn", sqrt(fx.fixdotD(col("qe"), col("qe"))))
      .withColumn("cn", sqrt(fx.fixdotD(col("ce"), col("ce"))))
      .withColumn("cosine", dotFix / (col("qn") * col("cn")))
      .select("qid", "nid", "cosine")
      .withColumn("rank", row_number().over(wF).cast("bigint"))
      .filter(col("rank") <= k)
      .select("qid", "nid", "rank", "cosine")
      .orderBy("qid", "rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim10_mrl_rerank" -> (simMrlRerank _),
    "dd08_semdedup" -> (semDedup _),
    "dd09_semdedup_hier" -> (semDedupHier _),
    "sim08_pq_adc" -> (simPqAdc _),
    "sim09_ivf_pq" -> (simIvfPq _),
    "sim01_cosine_topk" -> (simCosineTopK _),
    "sim02_label_stats" -> (simLabelStats _),
    "sim03_lsh_ann" -> (simLshAnn _),
    "sim04_embedding_near_dups" -> (simNearDupPairs _),
    "sim05_ivf_ann" -> (simIvfAnn _),
    "sim06_ivf_flat" -> (simIvfFlat _),
    "sim07_int8_topk" -> (simInt8TopK _),
    "sim11_persisted_index" -> (simPersistedIndex _),
    "sim12_incremental_ingest" -> (simIncrementalIngest _),
    "sim13_takedown_serve" -> (simTakedownServe _),
    "st13_stream_vector_ingest" -> (st13StreamIngest _),
  )

  /** Shared oracle CTEs: per-vector norms (`v`) and per-(vec, band)
    * hyperplane signatures (`sigs`) — the byte-for-byte SQL replica of
    * [[graft.functions.HyperplaneBands]] (md5-parity ±1 coefficients,
    * exact fixed-point sign sums), which is what lets the LSH queries
    * be hash-checked rather than rows-only. */
  private[graft] def hyperSigCtes(bands: Int, rowsPerBand: Int, seed: Long): String = {
    val planes = bands * rowsPerBand
    s"""v AS (SELECT vec_id, embedding,
       |  sqrt(CAST(list_sum(list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12) nrm
       |  FROM embeddings),
       |dims AS (SELECT CAST(max(len(embedding)) AS BIGINT) dim FROM embeddings),
       |pc AS (SELECT p, list_transform(range(0, dim), i ->
       |    CASE WHEN substr(md5('$seed:' || p || ':' || i), 1, 1)
       |      IN ('0','2','4','6','8','a','c','e') THEN 1 ELSE -1 END) coefs
       |  FROM range(0, $planes) t(p), dims),
       |sums AS (SELECT v.vec_id, pc.p,
       |  CAST(list_sum(list_transform(list_zip(v.embedding, pc.coefs),
       |    z -> CAST(z[2] AS BIGINT) * CAST(floor(CAST(z[1] AS DOUBLE) * 1e12) AS BIGINT))) AS BIGINT) s
       |  FROM v, pc),
       |sigs AS (SELECT vec_id, CAST(p // $rowsPerBand AS INTEGER) band_idx,
       |  CAST(sum(CASE WHEN s >= 0 THEN 1 << (p % $rowsPerBand) ELSE 0 END) AS INTEGER) band_sig
       |  FROM sums GROUP BY vec_id, p // $rowsPerBand)""".stripMargin
  }

  /** Exact fixed-point pair cosine between CTE rows `qv` and `cv` —
    * identical arithmetic to [[dotFix]] / sim01's oracle. */
  private val oracleCosine: String =
    """(CAST(list_sum(list_transform(list_zip(qv.embedding, cv.embedding),
      |      z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12)
      |      / (qv.nrm * cv.nrm)""".stripMargin

  val oracle: Map[String, String] = Map(
    // the full SemDeDup pipeline in exact fixed-point arithmetic:
    // flat-quantizer assignment (sim06's argmin), within-cluster
    // cosine pairs, recursive-CTE transitive closure (dd05's ground
    // truth), per-group farthest-from-centroid keep pick
    "dd08_semdedup" ->
      """WITH RECURSIVE v AS (SELECT vec_id, embedding,
        |  sqrt(CAST(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12) nrm
        |  FROM embeddings),
        |c AS (SELECT CAST(vec_id + 1 AS INTEGER) cid, embedding cemb,
        |  CAST(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12 cn2
        |  FROM embeddings WHERE vec_id < 8),
        |asg AS (SELECT vec_id, cid, cosc FROM (
        |  SELECT v.vec_id, c.cid,
        |    (CAST(list_sum(list_transform(list_zip(v.embedding, c.cemb),
        |      z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12)
        |      / (v.nrm * sqrt(c.cn2)) AS cosc,
        |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |      c.cn2 - 2 * (CAST(list_sum(list_transform(list_zip(v.embedding, c.cemb),
        |        z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12),
        |      c.cid) rn
        |  FROM v, c) t WHERE rn = 1),
        |m AS (SELECT v.vec_id, v.embedding, v.nrm, a.cid, a.cosc
        |      FROM v JOIN asg a USING (vec_id)),
        |pairs AS (SELECT a.vec_id x, b.vec_id y
        |  FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  WHERE (CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12)
        |      / (a.nrm * b.nrm) >= 0.3),
        |e AS (SELECT x a, y b FROM pairs UNION SELECT y, x FROM pairs),
        |reach(a, b) AS (SELECT a, b FROM e
        |  UNION SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |lab AS (SELECT a AS vec_id, LEAST(a, MIN(b)) AS grp FROM reach GROUP BY a),
        |sc AS (SELECT l.vec_id, l.grp, m.cosc FROM lab l JOIN m USING (vec_id)),
        |keep AS (SELECT grp, vec_id AS keep_id, cosc AS keep_cos FROM (
        |  SELECT grp, vec_id, cosc,
        |    row_number() OVER (PARTITION BY grp ORDER BY cosc, vec_id) rn FROM sc) t
        |  WHERE rn = 1),
        |szs AS (SELECT grp, COUNT(*) sz FROM sc GROUP BY grp)
        |SELECT s.grp, CAST(s.sz AS BIGINT) sz, k.keep_id,
        |  CAST(s.sz - 1 AS BIGINT) n_dropped, k.keep_cos
        |FROM szs s JOIN keep k USING (grp) ORDER BY grp""".stripMargin,
    // dd09: dd08's pipeline with the TWO-LEVEL assignment — centers
    // group under their nearest super (cg), each vector routes to its
    // nearest super (vs), then exact argmin over that group's centers
    // only; identical fixed-point arithmetic and (dist, id) tie-breaks
    // throughout, so the replica is value-for-value
    "dd09_semdedup_hier" ->
      """WITH RECURSIVE v AS (SELECT vec_id, embedding,
        |  sqrt(CAST(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12) nrm
        |  FROM embeddings),
        |c AS (SELECT CAST(vec_id + 1 AS INTEGER) cid, embedding cemb,
        |  CAST(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12 cn2
        |  FROM embeddings WHERE vec_id < 16),
        |sup AS (SELECT cid sid, cemb semb, cn2 sn2 FROM c WHERE cid <= 4),
        |cg AS (SELECT cid, sid FROM (
        |  SELECT c.cid, s.sid,
        |    row_number() OVER (PARTITION BY c.cid ORDER BY
        |      s.sn2 - 2 * (CAST(list_sum(list_transform(list_zip(c.cemb, s.semb),
        |        z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12),
        |      s.sid) rn
        |  FROM c, sup s) t WHERE rn = 1),
        |vs AS (SELECT vec_id, sid FROM (
        |  SELECT v.vec_id, s.sid,
        |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |      s.sn2 - 2 * (CAST(list_sum(list_transform(list_zip(v.embedding, s.semb),
        |        z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12),
        |      s.sid) rn
        |  FROM v, sup s) t WHERE rn = 1),
        |asg AS (SELECT vec_id, cid, cosc FROM (
        |  SELECT v.vec_id, c.cid,
        |    (CAST(list_sum(list_transform(list_zip(v.embedding, c.cemb),
        |      z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12)
        |      / (v.nrm * sqrt(c.cn2)) AS cosc,
        |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |      c.cn2 - 2 * (CAST(list_sum(list_transform(list_zip(v.embedding, c.cemb),
        |        z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12),
        |      c.cid) rn
        |  FROM v JOIN vs ON v.vec_id = vs.vec_id
        |       JOIN cg ON cg.sid = vs.sid
        |       JOIN c ON c.cid = cg.cid) t WHERE rn = 1),
        |m AS (SELECT v.vec_id, v.embedding, v.nrm, a.cid, a.cosc
        |      FROM v JOIN asg a USING (vec_id)),
        |pairs AS (SELECT a.vec_id x, b.vec_id y
        |  FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  WHERE (CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12)
        |      / (a.nrm * b.nrm) >= 0.3),
        |e AS (SELECT x a, y b FROM pairs UNION SELECT y, x FROM pairs),
        |reach(a, b) AS (SELECT a, b FROM e
        |  UNION SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |lab AS (SELECT a AS vec_id, LEAST(a, MIN(b)) AS grp FROM reach GROUP BY a),
        |sc AS (SELECT l.vec_id, l.grp, m.cosc FROM lab l JOIN m USING (vec_id)),
        |keep AS (SELECT grp, vec_id AS keep_id, cosc AS keep_cos FROM (
        |  SELECT grp, vec_id, cosc,
        |    row_number() OVER (PARTITION BY grp ORDER BY cosc, vec_id) rn FROM sc) t
        |  WHERE rn = 1),
        |szs AS (SELECT grp, COUNT(*) sz FROM sc GROUP BY grp)
        |SELECT s.grp, CAST(s.sz AS BIGINT) sz, k.keep_id,
        |  CAST(s.sz - 1 AS BIGINT) n_dropped, k.keep_cos
        |FROM szs s JOIN keep k USING (grp) ORDER BY grp""".stripMargin,
    // full IVFADC replica: coarse flat-quantizer assignment (dd08's
    // argmin CTE), float-exact residuals (DOUBLE subtract cast back to
    // FLOAT — bit-identical to Spark's float subtraction), sim08's
    // codebook encoding on the residual, per-(query, probed-list)
    // residual ADC tables, candidates only from probed lists
    "sim09_ivf_pq" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |c AS (SELECT CAST(vec_id + 1 AS INTEGER) cid, embedding cemb,
        |  CAST(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12 cn2
        |  FROM e WHERE vec_id < 8),
        |asg AS (SELECT vec_id, cid FROM (
        |  SELECT v.vec_id, c.cid,
        |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |      c.cn2 - 2 * (CAST(list_sum(list_transform(list_zip(v.embedding, c.cemb),
        |        z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12),
        |      c.cid) rn
        |  FROM e v, c) t WHERE rn = 1),
        |res AS (SELECT a.vec_id, a.cid,
        |  list_transform(list_zip(v.embedding, c.cemb),
        |    z -> CAST(CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE) AS FLOAT)) r
        |  FROM asg a JOIN e v ON v.vec_id = a.vec_id JOIN c ON c.cid = a.cid),
        |subs AS (SELECT CAST(j AS INTEGER) j FROM range(4) t(j)),
        |cb AS (SELECT subs.j, cbv.vec_id ccid,
        |    cbv.r[subs.j*16+1 : subs.j*16+16] AS cent
        |  FROM (SELECT vec_id, r FROM res
        |        WHERE vec_id >= 8 AND vec_id < 24) cbv, subs),
        |enc AS (SELECT res.vec_id, cb.j, cb.ccid,
        |  CAST(CAST(list_sum(list_transform(list_zip(cb.cent, cb.cent),
        |    z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS BIGINT) AS DOUBLE) / 1e12
        |  - 2 * (CAST(CAST(list_sum(list_transform(
        |      list_zip(res.r[cb.j*16+1 : cb.j*16+16], cb.cent),
        |    z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS BIGINT) AS DOUBLE) / 1e12) AS dist
        |  FROM res, cb),
        |codes AS (SELECT vec_id, j, ccid FROM (
        |  SELECT vec_id, j, ccid,
        |    row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, ccid) rn
        |  FROM enc) WHERE rn = 1),
        |probes AS (SELECT vec_id qid, cid FROM (
        |  SELECT v.vec_id, c.cid,
        |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |      c.cn2 - 2 * (CAST(list_sum(list_transform(list_zip(v.embedding, c.cemb),
        |        z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12),
        |      c.cid) rn
        |  FROM e v, c WHERE v.vec_id < 10) t WHERE rn <= 2),
        |qres AS (SELECT p.qid, p.cid,
        |  list_transform(list_zip(q.embedding, c.cemb),
        |    z -> CAST(CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE) AS FLOAT)) r
        |  FROM probes p JOIN e q ON q.vec_id = p.qid JOIN c ON c.cid = p.cid),
        |qt AS (SELECT qr.qid, qr.cid, cb.j, cb.ccid,
        |  CAST(list_sum(list_transform(
        |      list_zip(qr.r[cb.j*16+1 : cb.j*16+16], qr.r[cb.j*16+1 : cb.j*16+16]),
        |    z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS BIGINT)
        |  + CAST(list_sum(list_transform(list_zip(cb.cent, cb.cent),
        |    z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS BIGINT)
        |  - 2 * CAST(list_sum(list_transform(
        |      list_zip(qr.r[cb.j*16+1 : cb.j*16+16], cb.cent),
        |    z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS BIGINT) AS t
        |  FROM qres qr, cb),
        |approx AS (SELECT qt.qid, cd.vec_id nid, r2.cid, CAST(SUM(qt.t) AS BIGINT) fp
        |  FROM codes cd JOIN res r2 ON r2.vec_id = cd.vec_id
        |  JOIN qt ON qt.cid = r2.cid AND qt.j = cd.j AND qt.ccid = cd.ccid
        |  WHERE qt.qid <> cd.vec_id
        |  GROUP BY qt.qid, cd.vec_id, r2.cid)
        |SELECT qid, nid, rank, list_id, approx_dist FROM (
        |  SELECT qid, nid, CAST(cid AS INTEGER) list_id,
        |    CAST(fp AS DOUBLE) / 1e12 AS approx_dist,
        |    row_number() OVER (PARTITION BY qid ORDER BY fp ASC, nid) rank
        |  FROM approx) t
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // full PQ replica: same flat codebook (subvectors of vec_id<16),
    // same fixed-point argmin encoding, same ADC table-lookup scoring
    "sim08_pq_adc" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |subs AS (SELECT CAST(j AS INTEGER) j FROM range(4) t(j)),
        |cb AS (SELECT subs.j, c.vec_id cid,
        |    c.embedding[subs.j*16+1 : subs.j*16+16] AS cent
        |  FROM (SELECT vec_id, embedding FROM e WHERE vec_id < 16) c, subs),
        |enc AS (SELECT e.vec_id, cb.j, cb.cid,
        |  CAST(CAST(list_sum(list_transform(list_zip(cb.cent, cb.cent),
        |    z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS BIGINT) AS DOUBLE) / 1e12
        |  - 2 * (CAST(CAST(list_sum(list_transform(
        |      list_zip(e.embedding[cb.j*16+1 : cb.j*16+16], cb.cent),
        |    z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS BIGINT) AS DOUBLE) / 1e12) AS dist
        |  FROM e, cb),
        |codes AS (SELECT vec_id, j, cid FROM (
        |  SELECT vec_id, j, cid,
        |    row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, cid) rn
        |  FROM enc) WHERE rn = 1),
        |packed AS (SELECT vec_id,
        |    CAST(SUM(cid * (CASE j WHEN 0 THEN 4096 WHEN 1 THEN 256
        |                           WHEN 2 THEN 16 ELSE 1 END)) AS BIGINT) AS code
        |  FROM codes GROUP BY vec_id),
        |qt AS (SELECT q.vec_id qid, cb.j, cb.cid,
        |  CAST(list_sum(list_transform(
        |      list_zip(q.embedding[cb.j*16+1 : cb.j*16+16], cb.cent),
        |    z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS BIGINT) AS t
        |  FROM e q, cb WHERE q.vec_id < 10),
        |approx AS (SELECT qt.qid, c.vec_id nid, CAST(SUM(qt.t) AS BIGINT) fp
        |  FROM codes c JOIN qt ON qt.j = c.j AND qt.cid = c.cid
        |  WHERE qt.qid <> c.vec_id
        |  GROUP BY qt.qid, c.vec_id)
        |SELECT qid, nid, rank, code, approx_dot FROM (
        |  SELECT a.qid, a.nid, p.code,
        |    CAST(a.fp AS DOUBLE) / 1e12 AS approx_dot,
        |    row_number() OVER (PARTITION BY a.qid ORDER BY a.fp DESC, a.nid) rank
        |  FROM approx a JOIN packed p ON p.vec_id = a.nid) t
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // GOLDEN REGRESSION PIN (like DESCRIBE/EXPLAIN): the IVF result is
    // fully deterministic by construction — hash-seeded k-means, exact
    // decimal means, fixed-point dots — so its sf0.01 output is a fixed
    // fact; any drift in training, assignment, probe routing or ranking
    // fails the hash. (The search MACHINERY is independently
    // oracle-checked via sim06's flat quantizer.)
    "sim05_ivf_ann" ->
      """SELECT * FROM (VALUES
        | (CAST(0 AS BIGINT), CAST(365 AS BIGINT), CAST(1 AS BIGINT), CAST('0.36999359652295405' AS DOUBLE)),
        | (0, 334, 2, CAST('0.3627220558566085' AS DOUBLE)),
        | (0, 423, 3, CAST('0.2969335986167615' AS DOUBLE)),
        | (1, 386, 1, CAST('0.371484541813965' AS DOUBLE)),
        | (1, 407, 2, CAST('0.32700994959476415' AS DOUBLE)),
        | (1, 195, 3, CAST('0.322744426329669' AS DOUBLE)),
        | (2, 117, 1, CAST('0.31814256421497933' AS DOUBLE)),
        | (2, 450, 2, CAST('0.2663439551754453' AS DOUBLE)),
        | (2, 145, 3, CAST('0.2634942990943068' AS DOUBLE)),
        | (3, 130, 1, CAST('0.39987234323441534' AS DOUBLE)),
        | (3, 231, 2, CAST('0.29878836543214143' AS DOUBLE)),
        | (3, 207, 3, CAST('0.2917018470308902' AS DOUBLE)),
        | (4, 114, 1, CAST('0.3985126935617111' AS DOUBLE)),
        | (4, 408, 2, CAST('0.32275312526896976' AS DOUBLE)),
        | (4, 482, 3, CAST('0.313897029295821' AS DOUBLE)),
        | (5, 404, 1, CAST('0.32840296335881164' AS DOUBLE)),
        | (5, 419, 2, CAST('0.3192374330200543' AS DOUBLE)),
        | (5, 33, 3, CAST('0.3109867269286997' AS DOUBLE)),
        | (6, 350, 1, CAST('0.3245176323191489' AS DOUBLE)),
        | (6, 430, 2, CAST('0.3225202654552148' AS DOUBLE)),
        | (6, 145, 3, CAST('0.29769573838537794' AS DOUBLE)),
        | (7, 340, 1, CAST('0.492765713485283' AS DOUBLE)),
        | (7, 425, 2, CAST('0.40751993417161997' AS DOUBLE)),
        | (7, 209, 3, CAST('0.3944625171316967' AS DOUBLE)),
        | (8, 39, 1, CAST('0.3846962740956175' AS DOUBLE)),
        | (8, 138, 2, CAST('0.3566711639452886' AS DOUBLE)),
        | (8, 403, 3, CAST('0.3382375201224662' AS DOUBLE)),
        | (9, 49, 1, CAST('0.3851705320655604' AS DOUBLE)),
        | (9, 489, 2, CAST('0.3435384464384384' AS DOUBLE)),
        | (9, 386, 3, CAST('0.32211790741256185' AS DOUBLE))
        |) AS t(qid, nid, rank, cosine)
        |ORDER BY qid, rank""".stripMargin,
    // identical signatures to the native HyperplaneBands expression
    // (bands=3, rowsPerBand=6, seed=42), then the same candidate
    // generation (any-band match), pair dedup, verify, and ranking
    "sim03_lsh_ann" ->
      s"""WITH ${hyperSigCtes(bands = 3, rowsPerBand = 6, seed = 42L)},
         |cand AS (SELECT DISTINCT q.vec_id qid, c.vec_id nid
         |  FROM sigs q JOIN sigs c
         |    ON q.band_idx = c.band_idx AND q.band_sig = c.band_sig
         |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |p AS (SELECT cand.qid, cand.nid, $oracleCosine AS cosine
         |  FROM cand
         |  JOIN v qv ON qv.vec_id = cand.qid
         |  JOIN v cv ON cv.vec_id = cand.nid)
         |SELECT qid, nid, rank, cosine FROM (
         |  SELECT qid, nid, cosine,
         |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
         |  FROM p) t
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    // bands=3, rowsPerBand=8, seed=7; the maxBucket=10000 hot-bucket
    // drop is replicated (inert on this corpus: 500 vectors)
    "sim04_embedding_near_dups" ->
      s"""WITH ${hyperSigCtes(bands = 3, rowsPerBand = 8, seed = 7L)},
         |hot AS (SELECT band_idx, band_sig FROM sigs
         |  GROUP BY band_idx, band_sig HAVING count(*) > 10000),
         |capped AS (SELECT s.* FROM sigs s
         |  WHERE NOT EXISTS (SELECT 1 FROM hot h
         |    WHERE h.band_idx = s.band_idx AND h.band_sig = s.band_sig)),
         |cand AS (SELECT DISTINCT a.vec_id x, b.vec_id y
         |  FROM capped a JOIN capped b
         |    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
         |  WHERE a.vec_id < b.vec_id),
         |p AS (SELECT cand.x, cand.y, $oracleCosine AS cosine
         |  FROM cand
         |  JOIN v qv ON qv.vec_id = cand.x
         |  JOIN v cv ON cv.vec_id = cand.y)
         |SELECT x, y, cosine FROM p WHERE cosine >= 0.3 ORDER BY x, y""".stripMargin,
    // the two-stage MRL funnel in exact fixed-point: prefix-cosine
    // shortlist (embedding[1:16]) then full-vector rerank
    "sim10_mrl_rerank" ->
      """WITH v AS (SELECT vec_id, embedding,
        |  sqrt(CAST(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12) nrm,
        |  embedding[1:16] pe,
        |  sqrt(CAST(list_sum(list_transform(embedding[1:16],
        |    x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12) pn
        |  FROM embeddings),
        |cand AS (SELECT q.vec_id qid, c.vec_id nid,
        |  q.embedding qe, c.embedding ce, q.nrm qn, c.nrm cn,
        |  row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |    (CAST(list_sum(list_transform(list_zip(q.pe, c.pe),
        |      z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12)
        |      / (q.pn * c.pn) DESC, c.vec_id) prank
        |  FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |p AS (SELECT qid, nid,
        |  (CAST(list_sum(list_transform(list_zip(qe, ce),
        |    z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12)
        |    / (qn * cn) AS cosine
        |  FROM cand WHERE prank <= 20)
        |SELECT qid, nid, rank, cosine FROM (
        |  SELECT qid, nid, cosine,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
        |  FROM p) t
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "sim01_cosine_topk" ->
      """WITH v AS (SELECT vec_id, embedding,
        |  sqrt(CAST(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12) nrm
        |  FROM embeddings),
        |p AS (SELECT q.vec_id qid, c.vec_id nid,
        |  (CAST(list_sum(list_transform(list_zip(q.embedding, c.embedding),
        |    z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12)
        |    / (q.nrm * c.nrm) AS cosine
        |  FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
        |SELECT qid, nid, rank, cosine FROM (
        |  SELECT qid, nid, cosine,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
        |  FROM p) t
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "sim02_label_stats" ->
      """WITH v AS (SELECT label,
        |  sqrt(CAST(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12) nrm
        |  FROM embeddings)
        |SELECT label, COUNT(*) AS n,
        | CAST(SUM(CAST(nrm AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS avg_norm,
        | MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
        |FROM v GROUP BY label ORDER BY label""".stripMargin,
    // the complete IVF search path with the flat quantizer — every
    // stage (assignment, probe routing, in-list ranking) replicated in
    // exact fixed-point arithmetic
    "sim06_ivf_flat" ->
      """WITH v AS (SELECT vec_id, embedding,
        |  sqrt(CAST(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12) nrm
        |  FROM embeddings),
        |c AS (SELECT CAST(vec_id + 1 AS INTEGER) cid, embedding cemb,
        |  CAST(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12 cn2
        |  FROM embeddings WHERE vec_id < 8),
        |asg AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT v.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        c.cn2 - 2 * (CAST(list_sum(list_transform(list_zip(v.embedding, c.cemb),
        |          z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12),
        |        c.cid) rn
        |    FROM v, c) t WHERE rn = 1),
        |probes AS (
        |  SELECT qid, cid FROM (
        |    SELECT v.vec_id qid, c.cid,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        c.cn2 - 2 * (CAST(list_sum(list_transform(list_zip(v.embedding, c.cemb),
        |          z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12),
        |        c.cid) rn
        |    FROM v, c WHERE v.vec_id < 10) t WHERE rn <= 4),
        |cand AS (
        |  SELECT pr.qid, a.vec_id nid FROM probes pr
        |  JOIN asg a ON a.cid = pr.cid
        |  WHERE a.vec_id <> pr.qid),
        |p AS (
        |  SELECT cand.qid, cand.nid,
        |    (CAST(list_sum(list_transform(list_zip(q.embedding, n.embedding),
        |      z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12)
        |      / (q.nrm * n.nrm) AS cosine
        |  FROM cand
        |  JOIN v q ON q.vec_id = cand.qid
        |  JOIN v n ON n.vec_id = cand.nid)
        |SELECT qid, nid, rank, cosine FROM (
        |  SELECT qid, nid, cosine,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
        |  FROM p) t
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    // sim12: appended-index serve ≡ flat-quantizer IVF over the FULL
    // corpus (the oracle never sees the base/delta split — appended ≡
    // rebuilt IS the contract); nprobe=3, top-5, queries span base ids
    // (< 4) and the freshest delta ids (max-2..max)
    // cand separates the probe-routing equi-joins from the q<>n
    // inequality (applied to ALL oracles of this shape): joined as
    // written, DuckDB's optimizer paired the two `v` instances with a
    // blockwise NL join (20k x 20k wide rows, 50 GB of spill at sf1)
    // — the inequality now lives inside an equi-join's residual
    // filter, so no plan can go quadratic
    "sim12_incremental_ingest" ->
      """WITH v AS (SELECT vec_id, embedding,
        |  sqrt(CAST(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12) nrm
        |  FROM embeddings),
        |c AS (SELECT CAST(vec_id + 1 AS INTEGER) cid, embedding cemb,
        |  CAST(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12 cn2
        |  FROM embeddings WHERE vec_id < 16),
        |asg AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT v.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        c.cn2 - 2 * (CAST(list_sum(list_transform(list_zip(v.embedding, c.cemb),
        |          z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12),
        |        c.cid) rn
        |    FROM v, c) t WHERE rn = 1),
        |probes AS (
        |  SELECT qid, cid FROM (
        |    SELECT v.vec_id qid, c.cid,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        c.cn2 - 2 * (CAST(list_sum(list_transform(list_zip(v.embedding, c.cemb),
        |          z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12),
        |        c.cid) rn
        |    FROM v, c
        |    WHERE v.vec_id < 4
        |       OR v.vec_id >= (SELECT MAX(vec_id) - 2 FROM embeddings)
        |  ) t WHERE rn <= 3),
        |cand AS (
        |  SELECT pr.qid, a.vec_id nid FROM probes pr
        |  JOIN asg a ON a.cid = pr.cid
        |  WHERE a.vec_id <> pr.qid),
        |p AS (
        |  SELECT cand.qid, cand.nid,
        |    (CAST(list_sum(list_transform(list_zip(q.embedding, n.embedding),
        |      z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12)
        |      / (q.nrm * n.nrm) AS cosine
        |  FROM cand
        |  JOIN v q ON q.vec_id = cand.qid
        |  JOIN v n ON n.vec_id = cand.nid)
        |SELECT qid, nid, rank, cosine FROM (
        |  SELECT qid, nid, cosine,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
        |  FROM p) t
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // st13: streamed-appended serve ≡ flat-quantizer IVF over the
    // FULL corpus — same contract as sim12, across the streaming
    // boundary; nprobe=2, top-4, queries span base ids (< 6) and the
    // freshest streamed ids (max-1..max)
    "st13_stream_vector_ingest" ->
      """WITH v AS (SELECT vec_id, embedding,
        |  sqrt(CAST(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12) nrm
        |  FROM embeddings),
        |c AS (SELECT CAST(vec_id + 1 AS INTEGER) cid, embedding cemb,
        |  CAST(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12 cn2
        |  FROM embeddings WHERE vec_id < 16),
        |asg AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT v.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        c.cn2 - 2 * (CAST(list_sum(list_transform(list_zip(v.embedding, c.cemb),
        |          z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12),
        |        c.cid) rn
        |    FROM v, c) t WHERE rn = 1),
        |probes AS (
        |  SELECT qid, cid FROM (
        |    SELECT v.vec_id qid, c.cid,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        c.cn2 - 2 * (CAST(list_sum(list_transform(list_zip(v.embedding, c.cemb),
        |          z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12),
        |        c.cid) rn
        |    FROM v, c
        |    WHERE v.vec_id < 6
        |       OR v.vec_id >= (SELECT MAX(vec_id) - 1 FROM embeddings)
        |  ) t WHERE rn <= 2),
        |cand AS (
        |  SELECT pr.qid, a.vec_id nid FROM probes pr
        |  JOIN asg a ON a.cid = pr.cid
        |  WHERE a.vec_id <> pr.qid),
        |p AS (
        |  SELECT cand.qid, cand.nid,
        |    (CAST(list_sum(list_transform(list_zip(q.embedding, n.embedding),
        |      z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12)
        |      / (q.nrm * n.nrm) AS cosine
        |  FROM cand
        |  JOIN v q ON q.vec_id = cand.qid
        |  JOIN v n ON n.vec_id = cand.nid)
        |SELECT qid, nid, rank, cosine FROM (
        |  SELECT qid, nid, cosine,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
        |  FROM p) t
        |WHERE rank <= 4 ORDER BY qid, rank""".stripMargin,
    // sim11: the persisted-index serve path is semantically sim06's
    // flat-quantizer IVF at k=16/nprobe=2/nq=5 — the parquet
    // round-trip (float arrays, IEEE doubles) is exact, so the same
    // SQL replica covers the materialized index
    "sim11_persisted_index" ->
      """WITH v AS (SELECT vec_id, embedding,
        |  sqrt(CAST(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12) nrm
        |  FROM embeddings),
        |c AS (SELECT CAST(vec_id + 1 AS INTEGER) cid, embedding cemb,
        |  CAST(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12 cn2
        |  FROM embeddings WHERE vec_id < 16),
        |asg AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT v.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        c.cn2 - 2 * (CAST(list_sum(list_transform(list_zip(v.embedding, c.cemb),
        |          z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12),
        |        c.cid) rn
        |    FROM v, c) t WHERE rn = 1),
        |probes AS (
        |  SELECT qid, cid FROM (
        |    SELECT v.vec_id qid, c.cid,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        c.cn2 - 2 * (CAST(list_sum(list_transform(list_zip(v.embedding, c.cemb),
        |          z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12),
        |        c.cid) rn
        |    FROM v, c WHERE v.vec_id < 5) t WHERE rn <= 2),
        |cand AS (
        |  SELECT pr.qid, a.vec_id nid FROM probes pr
        |  JOIN asg a ON a.cid = pr.cid
        |  WHERE a.vec_id <> pr.qid),
        |p AS (
        |  SELECT cand.qid, cand.nid,
        |    (CAST(list_sum(list_transform(list_zip(q.embedding, n.embedding),
        |      z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12)
        |      / (q.nrm * n.nrm) AS cosine
        |  FROM cand
        |  JOIN v q ON q.vec_id = cand.qid
        |  JOIN v n ON n.vec_id = cand.nid)
        |SELECT qid, nid, rank, cosine FROM (
        |  SELECT qid, nid, cosine,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
        |  FROM p) t
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    // sim11's serve with the takedown filter on the NEIGHBOR side:
    // tombstoned ids (vec_id < 40 with vec_id % 3 = 1) never rank
    "sim13_takedown_serve" ->
      """WITH v AS (SELECT vec_id, embedding,
        |  sqrt(CAST(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12) nrm
        |  FROM embeddings),
        |c AS (SELECT CAST(vec_id + 1 AS INTEGER) cid, embedding cemb,
        |  CAST(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12 cn2
        |  FROM embeddings WHERE vec_id < 16),
        |asg AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT v.vec_id, c.cid,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        c.cn2 - 2 * (CAST(list_sum(list_transform(list_zip(v.embedding, c.cemb),
        |          z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12),
        |        c.cid) rn
        |    FROM v, c) t WHERE rn = 1),
        |probes AS (
        |  SELECT qid, cid FROM (
        |    SELECT v.vec_id qid, c.cid,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        c.cn2 - 2 * (CAST(list_sum(list_transform(list_zip(v.embedding, c.cemb),
        |          z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12),
        |        c.cid) rn
        |    FROM v, c WHERE v.vec_id < 5) t WHERE rn <= 2),
        |p AS (
        |  SELECT q.vec_id qid, n.vec_id nid,
        |    (CAST(list_sum(list_transform(list_zip(q.embedding, n.embedding),
        |      z -> CAST(floor(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) * 1e12) AS BIGINT))) AS DOUBLE) / 1e12)
        |      / (q.nrm * n.nrm) AS cosine
        |  FROM probes pr
        |  JOIN v q ON q.vec_id = pr.qid
        |  JOIN asg a ON a.cid = pr.cid
        |  JOIN v n ON n.vec_id = a.vec_id
        |  WHERE q.vec_id <> n.vec_id
        |    AND NOT (n.vec_id < 40 AND n.vec_id % 3 = 1))
        |SELECT qid, nid, rank, cosine FROM (
        |  SELECT qid, nid, cosine,
        |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
        |  FROM p) t
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    // integer arithmetic end-to-end: quantization, dots and self-dots
    // are exact, so the oracle replicates them value-for-value
    "sim07_int8_topk" ->
      """WITH qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
        |      * (127.0 / (CASE WHEN mx > 0 THEN mx ELSE 1.0 END)) + 0.5) AS INTEGER)) q
        |  FROM (SELECT vec_id, embedding,
        |          CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) mx
        |        FROM embeddings)),
        |sd AS (SELECT vec_id, q,
        |  CAST(list_sum(list_transform(q, x -> CAST(x AS BIGINT) * x)) AS BIGINT) self
        |  FROM qv),
        |p AS (
        |  SELECT a.vec_id qid, b.vec_id nid,
        |    CAST(list_sum(list_transform(list_zip(a.q, b.q),
        |      z -> CAST(z[1] AS BIGINT) * z[2])) AS BIGINT) qdot,
        |    a.self sa, b.self sb
        |  FROM sd a JOIN sd b ON a.vec_id < 10 AND a.vec_id <> b.vec_id)
        |SELECT qid, nid, rank, qdot, qcos FROM (
        |  SELECT qid, nid, qdot,
        |    CAST(qdot AS DOUBLE) / (sqrt(CAST(sa AS DOUBLE)) * sqrt(CAST(sb AS DOUBLE))) AS qcos,
        |    row_number() OVER (PARTITION BY qid ORDER BY
        |      CAST(qdot AS DOUBLE) / (sqrt(CAST(sa AS DOUBLE)) * sqrt(CAST(sb AS DOUBLE))) DESC,
        |      nid) AS rank
        |  FROM p) t
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
  )
}
