package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables._

/** Deterministic sampling / splitting for training-data pipelines.
  *
  * Both operators key every decision off a CONTENT-INDEPENDENT, salted
  * md5 of the stable row id — never `rand()` and never the raw id:
  *  - reproducible across engines, runs, partitionings and cluster
  *    sizes (a re-run of the 100 TB job assigns every row identically,
  *    so downstream caches and eval sets stay valid);
  *  - the salt ("split:" / "sample:") decorrelates the two decisions —
  *    the val set is not a biased slice of the sample;
  *  - raw ids are usually assigned by ingestion order, so `id % 100`
  *    would fold temporal drift into the split; md5 destroys that.
  *
  * Everything is a map-only stage over the scan (the stratified rate
  * table is a broadcast of a handful of rows) — at 100 TB the split
  * costs exactly one pass, no shuffle.
  */
object Sampling {

  /** 60-bit integer from the first 15 hex chars of a salted md5 —
    * exactly reproducible in any engine with md5 + hex parsing. */
  private def saltedBucket(salt: String, id: org.apache.spark.sql.Column,
      mod: Int) =
    (conv(substring(md5(concat(lit(salt), id.cast("string"))), 1, 15), 16, 10)
      .cast("bigint") % mod)

  /** Train/val/test split assignment (90/5/5 over 1000 buckets). */
  def spSplit(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("bucket", saltedBucket("split:", col("doc_id"), 1000))
      .withColumn("split",
        when(col("bucket") < 900, "train")
          .when(col("bucket") < 950, "val")
          .otherwise("test"))
      .select("doc_id", "bucket", "split")
      .orderBy("doc_id")

  /** Stratified downsampling: per-language keep rates (e.g. downsample
    * over-represented English 10%, keep 50% of the rest) via a
    * broadcast-joined rate table — the idiomatic shape when strata and
    * rates come from config, not code. */
  def spStratified(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rates = Seq(("en", 10), ("fr", 50), ("es", 50), ("de", 50), ("zh", 50))
      .toDF("lang", "rate")
    documents(s, d)
      .join(broadcast(rates), "lang")
      .filter(saltedBucket("sample:", col("doc_id"), 100) < col("rate"))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Tokens-per-doc in the repo-wide whitespace convention. */
  private def withTok(s: SparkSession, d: String): DataFrame =
    documents(s, d).withColumn("n_tok",
      size(expr(TextOps.tokensExpr)).cast("bigint"))

  /** Concat-and-chunk sequence packing (the LLM-pretraining layout):
    * all documents are logically concatenated in doc_id order and cut
    * into fixed 512-token training sequences; each document maps to
    * its global token offset and the [first_seq, last_seq] span it
    * lands in (documents may straddle a cut).
    *
    * The global offset is a distributed two-phase prefix sum — the
    * scale-safe alternative to a single-partition running-sum window
    * (which would funnel 100 TB through one task):
    *  1. per-BUCKET token sums (bucket = doc_id / bucketWidth), a tiny
    *     aggregate collected to the driver and turned into per-bucket
    *     prefix offsets (#buckets = maxDocId/bucketWidth — the knob
    *     that keeps the driver list bounded at any corpus size);
    *  2. a window per bucket (bounded partitions) adds the
    *     within-bucket running sum to the broadcast bucket prefix.
    * Everything is integer-exact, so the layout is reproducible
    * run-to-run and engine-to-engine. */
  def spSequencePack(s: SparkSession, d: String): DataFrame = {
    // one shared frame: the width probe prunes to a doc_id-only scan,
    // and the pack reuses the same tokenized plan instead of building
    // a second independent one
    val in = withTok(s, d)
    spSequencePackFrom(in, seqLen = 512, bucketWidth = adaptiveWidthFor(in))
  }

  /** Cap on the per-bucket rows the prefix sum collects to the driver.
    * #buckets = ⌈(maxDocId+1)/bucketWidth⌉, so deriving the width from
    * maxDocId keeps the driver list ≤ this bound at ANY corpus size
    * (a fixed width of 100 would collect 10⁸ rows at 10¹⁰ docs). The
    * output is bucket-width-invariant (spec-proven), so the policy is
    * pure driver-memory hygiene. */
  private[graft] val MaxPrefixBuckets = 100000L

  /** ⌈(maxDocId+1)/MaxPrefixBuckets⌉, floored at 1. */
  private[graft] def adaptiveBucketWidth(maxDocId: Long): Long =
    math.max(1L, (maxDocId + MaxPrefixBuckets) / MaxPrefixBuckets)

  /** One column-pruned max(doc_id) scan → the adaptive bucket width. */
  private[graft] def adaptiveWidthFor(docs: DataFrame): Long = {
    val r = docs.agg(max("doc_id")).first()
    adaptiveBucketWidth(if (r.isNullAt(0)) 0L else r.getLong(0))
  }

  /** The distributed two-phase EXCLUSIVE prefix sum of column `v` in
    * doc_id order — shared by sp03's token offsets and sp09's byte
    * offsets. Returns (doc_id, v, start_off). See [[spSequencePack]]
    * for why this replaces a single-partition running-sum window. */
  private def withPrefix(docs: DataFrame, v: String,
      bucketWidth: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = docs.sparkSession
    import s.implicits._
    val toks = docs.select(col("doc_id"), col(v))
      .withColumn("bucket", expr(s"doc_id DIV $bucketWidth"))
    val bucketSums = toks.groupBy("bucket").agg(sum(v).as("bt"))
      .orderBy("bucket").collect()
    var run = 0L
    val prefixes = bucketSums.map { r =>
      val p = (r.getLong(0), run); run += r.getLong(1); p
    }.toSeq
    val prefixDf = broadcast(prefixes.toDF("bucket", "bucket_off"))
    val w = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    toks.join(prefixDf, "bucket")
      .withColumn("start_off",
        col("bucket_off") + coalesce(sum(v).over(w), lit(0L)))
      .select("doc_id", v, "start_off")
  }

  private[graft] def spSequencePackFrom(docs: DataFrame, seqLen: Int,
      bucketWidth: Long): DataFrame =
    withPrefix(docs, "n_tok", bucketWidth)
      .withColumn("first_seq", expr(s"start_off DIV $seqLen"))
      .withColumn("last_seq", expr(s"(start_off + n_tok - 1) DIV $seqLen"))
      .select("doc_id", "n_tok", "start_off", "first_seq", "last_seq")
      .orderBy("doc_id")

  /** Byte-budgeted shard assignment for corpus EXPORT (the "write
    * ~equal-size output files" step of a curation run): documents in
    * doc_id order are greedily packed into contiguous shards of
    * ~targetBytes — a document whose start offset falls in shard k
    * belongs wholly to shard k (docs are never split; a shard may
    * overrun by at most one document). The assignment is the same
    * two-phase prefix sum as sp03, over BYTES instead of tokens, so it
    * is integer-exact, reproducible, and never funnels the corpus
    * through one task; sp05 covers WHICH order docs arrive in, this
    * covers how that order cuts into files. Output is the per-shard
    * manifest a writer job consumes (one task per shard_id ⇒ one
    * output file each). */
  def spShardExport(s: SparkSession, d: String): DataFrame = {
    val in = documents(s, d)
      .withColumn("n_bytes", octet_length(col("text")).cast("bigint"))
    spShardExportFrom(in, targetBytes = 16384L,
      bucketWidth = adaptiveWidthFor(in))
  }

  private[graft] def spShardExportFrom(docs: DataFrame, targetBytes: Long,
      bucketWidth: Long): DataFrame =
    withPrefix(docs, "n_bytes", bucketWidth)
      .withColumn("shard_id", expr(s"start_off DIV $targetBytes"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_bytes").as("shard_bytes"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("shard_id")

  /** The materialized form of [[spSequencePack]]: one row per
    * (sequence, document) span — which token range of each document
    * lands in which fixed-length training sequence. This is the table
    * a trainer's data loader actually consumes (seq_id → ordered doc
    * slices); straddling documents emit one span per sequence they
    * cross. Same two-phase prefix sum as sp03, then a map-only explode
    * of each doc's [first_seq, last_seq] range — fan-out is
    * ⌈n_tok/seqLen⌉+1 per doc, never data-dependent skew. */
  def spPackSpans(s: SparkSession, d: String): DataFrame = {
    val in = withTok(s, d)
    spPackSpansFrom(in, seqLen = 512, bucketWidth = adaptiveWidthFor(in))
  }

  private[graft] def spPackSpansFrom(docs: DataFrame, seqLen: Int,
      bucketWidth: Long): DataFrame =
    spSequencePackFrom(docs, seqLen, bucketWidth)
      // a zero-token doc has last_seq < first_seq and Spark's sequence()
      // would step DOWNWARD (two bogus negative spans) where the oracle's
      // range() is empty — filter so the operator is total for corpora
      // whose tokenization can yield empty docs
      .filter(col("n_tok") >= 1)
      .withColumn("seq_id", explode(expr("sequence(first_seq, last_seq)")))
      .withColumn("doc_tok_start",
        greatest(lit(0L), expr(s"seq_id * ${seqLen}L - start_off")))
      .withColumn("n_tok_in_seq",
        least(col("start_off") + col("n_tok"), expr(s"(seq_id + 1) * ${seqLen}L"))
          - greatest(col("start_off"), expr(s"seq_id * ${seqLen}L")))
      .select("seq_id", "doc_id", "doc_tok_start", "n_tok_in_seq")
      .orderBy("seq_id", "doc_id")

  /** Domain-mixture reweighting: per-source sampling rates that move
    * the token mixture toward a uniform target share (the static
    * DoReMi-style reweight). Per-source token totals are one partial-
    * aggregated shuffle of k rows; the global total joins back as a
    * broadcast — no global window, no second scan. Over-represented
    * sources get rate < 1; under-represented ones are left at 1
    * (sampling can only remove data). */
  def spMixtureWeights(s: SparkSession, d: String): DataFrame = {
    val per = withTok(s, d).groupBy("source")
      .agg(sum("n_tok").cast("bigint").as("n_tokens"))
    val tot = per.agg(sum("n_tokens").cast("bigint").as("total"),
      count(lit(1)).as("k"))
    per.join(broadcast(tot))
      .withColumn("natural_share", col("n_tokens").cast("double") / col("total"))
      .withColumn("sample_rate",
        least(lit(1.0), (col("total").cast("double") / col("k")) / col("n_tokens")))
      .withColumn("expected_tokens",
        least(col("n_tokens").cast("double"), col("total").cast("double") / col("k")))
      .select("source", "n_tokens", "natural_share", "sample_rate", "expected_tokens")
      .orderBy("source")
  }

  /** Deterministic corpus shuffle for training-data export: every doc
    * gets a content-independent salted-md5 sort key; docs are sharded
    * by the key and ranked within their shard by it. The result is a
    * reproducible global permutation materialized as (shard, rank) —
    * what an exporter writes as shuffled training shards so
    * consecutive training batches never replay ingestion order.
    *
    * Scale shape: ONE hash shuffle on the shard id, then a per-shard
    * sort window of n/shards rows — `shards` is the knob that keeps a
    * shard's sort partition bounded at any corpus size (pick shards ≈
    * corpus/10⁶ in production; 8 here so the tiny corpora still
    * exercise multi-row shards). Never a global sort or a global
    * row_number. */
  def spCorpusShuffle(s: SparkSession, d: String): DataFrame = {
    val shards = 8
    import org.apache.spark.sql.expressions.Window
    val key = conv(substring(md5(concat(lit("shuffle:"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("bigint")
    val w = Window.partitionBy("shard").orderBy("key", "doc_id")
    documents(s, d)
      .select(col("doc_id"), key.as("key"), (key % shards).as("shard"))
      .withColumn("shuffle_rank", row_number().over(w).cast("bigint"))
      .select("doc_id", "shard", "shuffle_rank")
      .orderBy("shard", "shuffle_rank")
  }

  /** Temperature-based mixture sampling (the multilingual α-sampling
    * of XLM/mT5: sample probability ∝ natural share^α, α < 1 flattens
    * the mixture toward rare languages). α is pinned at 0.5 so the
    * power is sqrt — correctly rounded IEEE in every engine, which
    * keeps the whole computation engine-portable (an arbitrary pow()
    * has no cross-libm guarantee); the normalizing sum over the
    * per-language sqrt terms is an exact DECIMAL sum of the (few)
    * stratum rows. Per-language expected tokens = total · p_s. */
  def spTemperatureMix(s: SparkSession, d: String): DataFrame = {
    // the per-language aggregate (a handful of rows) feeds THREE
    // consumers (itself, the total, the normalizer) — cache it via the
    // session registry so the documents scan + tokenization run once,
    // not once per embedded reference
    val per = graft.core.Caches.memo(s, s"sp07|$d|per")(
      withTok(s, d).groupBy("lang")
        .agg(sum("n_tok").cast("bigint").as("n_tokens")))
    val tot = per.agg(sum("n_tokens").cast("bigint").as("total"))
    // FIXED-POINT normalizer (the dd08 pattern): quantize each
    // tempered share to an exact BIGINT before summing — a DOUBLE→
    // DECIMAL(28,18) cast rounds differently across engines beyond
    // the 17-digit shortest representation (corpus-fuzz r17 finding:
    // last-ULP drift in sample_prob on 3 of 10 generated corpora),
    // while floor(x·1e12) and an integer SUM are bit-exact on both.
    val shared = per.join(broadcast(tot))
      .withColumn("natural_share", col("n_tokens").cast("double") / col("total"))
      .withColumn("tempered_fp",
        floor(sqrt(col("natural_share")) * lit(1e12)).cast("long"))
    val norm = shared.agg(sum("tempered_fp").cast("bigint").as("z_fp"))
    shared.join(broadcast(norm))
      .withColumn("sample_prob",
        col("tempered_fp").cast("double") / col("z_fp").cast("double"))
      .withColumn("expected_tokens", col("sample_prob") * col("total").cast("double"))
      .select("lang", "n_tokens", "natural_share", "sample_prob", "expected_tokens")
      .orderBy("lang")
  }

  /** Per-source document budget (domain balancing — the cap step of a
    * CC-style pipeline: no single domain may contribute more than K
    * documents, keeping the best ones). Rank within source by length
    * desc (doc_id tie-break — swap in a model quality score like tx14's
    * in production), keep rank ≤ K. Shape: see [[topNPerSource]] —
    * the map-side-combined top-K aggregate makes a mega-domain a
    * non-event (each scan partition emits ≤ K rows per source; the
    * reduce side merges sorted K-lists), where the earlier
    * partitioned-window form needed salting to survive one. */
  def spSourceBudget(s: SparkSession, d: String): DataFrame =
    topNPerSource(documents(s, d), 40)

  /** Top-N docs per source by (n_chars DESC, doc_id) — as the
    * map-side-combining [[graft.operators.Similarity.topKAgg]]
    * aggregate, NOT a partitioned window: the window form shuffles
    * every document row to its source's partition (few sources ⇒ hot
    * partitions at 100 TB); the aggregate reduces each scan partition
    * to ≤ N rows per source before the exchange, which then carries
    * sources × N × partitions rows. n_chars rides through the score
    * slot (exact below 2⁵³) so no join-back is needed. */
  private[graft] def topNPerSource(docs: DataFrame, k: Int): DataFrame =
    docs
      .select(col("source"), col("n_chars"), col("doc_id"))
      .groupBy("source")
      .agg(Similarity.topKAgg(k)(col("n_chars").cast("double"),
        col("doc_id")).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("s.id").as("doc_id"), col("source"),
        col("s.score").cast("bigint").as("n_chars"),
        (col("pos") + 1).cast("bigint").as("rank_in_source"))
      .orderBy("source", "rank_in_source")

  /** Weighted sampling WITHOUT replacement, probability ∝ n_chars
    * (sequential Poisson / priority sampling, Ohlsson 1998: priority
    * q = w/u with u uniform, keep the top-k priorities — an
    * order-sample PPS scheme; the E-S u^(1/w) exponent is avoided on
    * purpose: w/u is one IEEE division, bit-identical in any engine,
    * while pow/ln are not correctly-rounded and could flip a rank at
    * an ulp boundary). u is the salted-md5 uniform every sp* sampler
    * uses, so the draw is deterministic and replayable: adding a doc
    * never changes another doc's priority (the sample is stable under
    * corpus deltas — the property that makes incremental re-curation
    * cheap, cf. dd12). Shape: map-only priority computation on the
    * scan, then ONE TakeOrderedAndProject top-k — no shuffle, no
    * global sort; at 100 TB it is the same per-partition top-k +
    * driver merge Spark uses for any LIMIT-by-order. */
  def spPrioritySample(s: SparkSession, d: String): DataFrame = {
    val k = 100
    // u in (0, 1]: 60-bit md5 prefix + 1 over 2^60 — never zero, so
    // the division below cannot overflow to inf
    val u = (conv(substring(md5(concat(lit("prio:"),
        col("doc_id").cast("string"))), 1, 15), 16, 10)
      .cast("bigint") + lit(1L)).cast("double") / lit(math.pow(2, 60))
    documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("priority", col("n_chars").cast("double") / u)
      .orderBy(desc("priority"), col("doc_id"))
      .limit(k)
      .withColumn("draw_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(desc("priority"), col("doc_id"))).cast("bigint"))
      .select("draw_rank", "doc_id", "source", "n_chars", "priority")
      .orderBy("draw_rank")
  }

  /** Length-bucketed batching manifest (the padding-efficiency story
    * for non-packed fine-tuning batches, where examples can't be
    * concatenated and every batch pads to its longest member): bucket
    * docs by n_tok//16, pad each bucket to its own max length, report
    * per-bucket doc/token counts, padded volume and efficiency, plus
    * the waste a single global pad-to-max batcher would have paid
    * (the quantity length-bucketing exists to eliminate). All integer
    * arithmetic except the final efficiency ratios (one division
    * each). Shape: ONE map-side-combined aggregate on the bucket id —
    * no window, no sort; the global-max comparison broadcasts a
    * 1-row aggregate. */
  def spPaddingManifest(s: SparkSession, d: String): DataFrame = {
    val width = 16
    val per = withTok(s, d)
      .select((col("n_tok") / width).cast("bigint").as("bucket"), col("n_tok"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").cast("bigint").as("sum_tok"),
        max("n_tok").as("max_tok"))
      .withColumn("pad_tok", col("n_docs") * col("max_tok"))
      .withColumn("efficiency",
        col("sum_tok").cast("double") / col("pad_tok"))
    val global = per.agg(max("max_tok").as("gmax"))
    per.join(broadcast(global))
      .withColumn("global_pad_tok", col("n_docs") * col("gmax"))
      .select("bucket", "n_docs", "sum_tok", "max_tok", "pad_tok",
        "efficiency", "global_pad_tok")
      .orderBy("bucket")
  }

  /** sp12 — bucket-aware curation (the decision step CCNet bolts onto
    * its head/middle/tail split, Wenzek et al. 2020: keep the head,
    * sample the middle, drop most of the tail): tx17's per-doc quality
    * buckets ([[TextOps.qualityBucketedScored]]) join a 3-row broadcast
    * rate table (head 100% / middle 50% / tail 10%), each doc draws
    * its deterministic salted-md5 uniform (sp02's replayable-draw
    * discipline — same doc, same verdict, on any cluster and in any
    * engine), and the manifest reports per-(lang, bucket) kept docs
    * and kept tokens. Plan shape: the bucket frame's aggregates +
    * broadcast joins + ONE map-only filter and rollup — no new
    * shuffle beyond tx17's own. */
  def spQualityCurate(s: SparkSession, d: String): DataFrame =
    spQualityCurateWith(s, d, boundsExact = true)

  /** sp12 with tx17's boundary estimator selectable — `boundsExact =
    * false` swaps the per-language sort for the mergeable percentile
    * sketch (the 100 TB path); the curation chain downstream is
    * identical. */
  def spQualityCurateWith(s: SparkSession, d: String,
      boundsExact: Boolean): DataFrame = {
    import s.implicits._
    val rates = Seq(("head", 100), ("middle", 50), ("tail", 10))
      .toDF("bucket", "rate")
    // the memoized scored frame carries n_tok (r20): no third corpus
    // scan + re-tokenization just for the token budget — the previous
    // shape re-ran the bigram pipeline for the buckets AND re-tokenized
    // the corpus for n_tok; both now read one cached intermediate
    val scored = TextOps.fluencyLang(s, d)
      .select("doc_id", "lang", "fluency", "n_tok")
    TextOps.qualityBucketedScored(
        scored.select("doc_id", "lang", "fluency"), boundsExact)
      .join(scored.select("doc_id", "n_tok"), "doc_id")
      .join(broadcast(rates), "bucket")
      .withColumn("kept",
        saltedBucket("curate:", col("doc_id"), 100) < col("rate"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_tok")).otherwise(0L))
          .as("tokens_kept"))
      .orderBy("lang", "bucket")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sp12_quality_curate" -> (spQualityCurate _),
    "sp11_padding_manifest" -> (spPaddingManifest _),
    "sp10_priority_sample" -> (spPrioritySample _),
    "sp08_source_budget" -> (spSourceBudget _),
    "sp01_split_assign" -> (spSplit _),
    "sp02_stratified_sample" -> (spStratified _),
    "sp03_sequence_pack" -> (spSequencePack _),
    "sp04_mixture_weights" -> (spMixtureWeights _),
    "sp05_corpus_shuffle" -> (spCorpusShuffle _),
    "sp06_pack_spans" -> (spPackSpans _),
    "sp07_temperature_mix" -> (spTemperatureMix _),
    "sp09_shard_export" -> (spShardExport _),
  )

  val oracle: Map[String, String] = Map(
    // sp12: tx17's bucket chain + the 3-row rate table + sp02's
    // salted-md5 deterministic draw + the rollup
    "sp12_quality_curate" ->
      """WITH tok AS (SELECT doc_id, string_split_regex(trim(text, ' '), '[ \t\n\x0b\f\r]+') t FROM documents),
        |bi AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
        |         i -> t[i] || ' ' || t[i+1])) bg
        |       FROM tok WHERE len(t) >= 2),
        |cnt AS (SELECT bg, COUNT(*) c FROM bi GROUP BY bg),
        |per AS (SELECT doc_id, COUNT(*) n_bigrams,
        |          SUM(length(format('{:b}', c))) lb
        |        FROM bi JOIN cnt USING (bg) GROUP BY doc_id),
        |scored AS (
        |  SELECT d.doc_id, d.lang,
        |    CAST(p.lb AS DOUBLE) / p.n_bigrams AS fluency
        |  FROM per p JOIN documents d USING (doc_id)),
        |bounds AS (
        |  SELECT lang, quantile_cont(fluency, 0.25) b_lo,
        |         quantile_cont(fluency, 0.75) b_hi
        |  FROM scored GROUP BY lang),
        |bucketed AS (
        |  SELECT s.doc_id, s.lang,
        |    CASE WHEN s.fluency > b.b_hi THEN 'head'
        |         WHEN s.fluency > b.b_lo THEN 'middle'
        |         ELSE 'tail' END AS bucket
        |  FROM scored s JOIN bounds b USING (lang)),
        |rates(bucket, rate) AS (VALUES ('head', 100), ('middle', 50), ('tail', 10)),
        |drawn AS (
        |  SELECT bk.lang, bk.bucket,
        |    CAST(len(t.t) AS BIGINT) AS n_tok,
        |    CAST(('0x' || substr(md5('curate:' || bk.doc_id), 1, 15)) AS BIGINT) % 100 < r.rate AS kept
        |  FROM bucketed bk
        |  JOIN tok t USING (doc_id)
        |  JOIN rates r USING (bucket))
        |SELECT lang, bucket, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN kept THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_kept
        |FROM drawn GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,
    "sp11_padding_manifest" ->
      """WITH tok AS (SELECT CAST(len(string_split_regex(trim(text, ' '), '[ \t\n\x0b\f\r]+')) AS BIGINT) n_tok
        |  FROM documents),
        |per AS (SELECT n_tok // 16 AS bucket, COUNT(*) n_docs,
        |    CAST(SUM(n_tok) AS BIGINT) sum_tok, MAX(n_tok) max_tok
        |  FROM tok GROUP BY 1),
        |g AS (SELECT MAX(max_tok) gmax FROM per)
        |SELECT bucket, n_docs, sum_tok, max_tok,
        |  n_docs * max_tok AS pad_tok,
        |  CAST(sum_tok AS DOUBLE) / (n_docs * max_tok) AS efficiency,
        |  n_docs * gmax AS global_pad_tok
        |FROM per, g ORDER BY bucket""".stripMargin,
    // priority = w/u stated directly; both engines compute u then the
    // outer division in the same order, so the doubles are bit-equal
    "sp10_priority_sample" ->
      """WITH p AS (SELECT doc_id, source, n_chars,
        |  CAST(n_chars AS DOUBLE) /
        |    (CAST(CAST(('0x' || substr(md5('prio:' || doc_id), 1, 15)) AS BIGINT) + 1 AS DOUBLE)
        |      / 1152921504606846976.0) AS priority
        |  FROM documents)
        |SELECT draw_rank, doc_id, source, n_chars, priority FROM (
        |  SELECT doc_id, source, n_chars, priority,
        |    CAST(row_number() OVER (ORDER BY priority DESC, doc_id) AS BIGINT) AS draw_rank
        |  FROM p) t
        |WHERE draw_rank <= 100 ORDER BY draw_rank""".stripMargin,
    "sp09_shard_export" ->
      """WITH b AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) n_bytes FROM documents),
        |o AS (SELECT doc_id, n_bytes,
        |  COALESCE(SUM(n_bytes) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) st
        |  FROM b)
        |SELECT CAST(st // 16384 AS BIGINT) AS shard_id, COUNT(*) AS n_docs,
        |  CAST(SUM(n_bytes) AS BIGINT) AS shard_bytes,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin,
    "sp08_source_budget" ->
      """SELECT doc_id, source, n_chars, rank_in_source FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id) AS rank_in_source
        |  FROM documents)
        |WHERE rank_in_source <= 40
        |ORDER BY source, rank_in_source""".stripMargin,
    "sp01_split_assign" ->
      """SELECT doc_id, bucket,
        |  CASE WHEN bucket < 900 THEN 'train'
        |       WHEN bucket < 950 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        CAST(('0x' || substr(md5('split:' || doc_id), 1, 15)) AS BIGINT) % 1000 AS bucket
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "sp02_stratified_sample" ->
      """WITH rates(lang, rate) AS (VALUES ('en', 10), ('fr', 50), ('es', 50), ('de', 50), ('zh', 50))
        |SELECT doc_id, d.lang, source
        |FROM documents d JOIN rates r ON d.lang = r.lang
        |WHERE CAST(('0x' || substr(md5('sample:' || doc_id), 1, 15)) AS BIGINT) % 100 < rate
        |ORDER BY doc_id""".stripMargin,
    // the oracle states the SPEC (a single global running sum); the
    // Spark side computes the identical integers via the distributed
    // two-phase prefix sum — exact arithmetic, so they hash-match
    "sp03_sequence_pack" ->
      """WITH tok AS (SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text, ' '), '[ \t\n\x0b\f\r]+')) AS BIGINT) n_tok FROM documents),
        |off AS (SELECT doc_id, n_tok,
        |  CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) start_off
        |  FROM tok)
        |SELECT doc_id, n_tok, start_off,
        |  start_off // 512 AS first_seq,
        |  (start_off + n_tok - 1) // 512 AS last_seq
        |FROM off ORDER BY doc_id""".stripMargin,
    "sp04_mixture_weights" ->
      """WITH tok AS (SELECT source,
        |  CAST(len(string_split_regex(trim(text, ' '), '[ \t\n\x0b\f\r]+')) AS BIGINT) n_tok FROM documents),
        |per AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) n_tokens FROM tok GROUP BY source),
        |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) total, COUNT(*) k FROM per)
        |SELECT source, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / total AS natural_share,
        |  LEAST(1.0, (CAST(total AS DOUBLE) / k) / n_tokens) AS sample_rate,
        |  LEAST(CAST(n_tokens AS DOUBLE), CAST(total AS DOUBLE) / k) AS expected_tokens
        |FROM per, tot ORDER BY source""".stripMargin,
    "sp06_pack_spans" ->
      """WITH tok AS (SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text, ' '), '[ \t\n\x0b\f\r]+')) AS BIGINT) n_tok FROM documents),
        |off AS (SELECT doc_id, n_tok,
        |  CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) start_off
        |  FROM tok),
        |spans AS (SELECT doc_id, n_tok, start_off,
        |  unnest(range(start_off // 512, (start_off + n_tok - 1) // 512 + 1)) AS seq_id
        |  FROM off)
        |SELECT seq_id, doc_id,
        |  GREATEST(0, seq_id * 512 - start_off) AS doc_tok_start,
        |  LEAST(start_off + n_tok, (seq_id + 1) * 512)
        |    - GREATEST(start_off, seq_id * 512) AS n_tok_in_seq
        |FROM spans ORDER BY seq_id, doc_id""".stripMargin,
    "sp07_temperature_mix" ->
      """WITH tok AS (SELECT lang,
        |  CAST(len(string_split_regex(trim(text, ' '), '[ \t\n\x0b\f\r]+')) AS BIGINT) n_tok FROM documents),
        |per AS (SELECT lang, CAST(SUM(n_tok) AS BIGINT) n_tokens FROM tok GROUP BY lang),
        |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) total FROM per),
        |sh AS (SELECT lang, n_tokens, CAST(n_tokens AS DOUBLE) / total AS natural_share,
        |         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE) / total) * 1e12) AS BIGINT) AS tempered_fp,
        |         total
        |       FROM per, tot),
        |norm AS (SELECT CAST(SUM(tempered_fp) AS BIGINT) z_fp FROM sh)
        |SELECT lang, n_tokens, natural_share,
        |  CAST(tempered_fp AS DOUBLE) / CAST(z_fp AS DOUBLE) AS sample_prob,
        |  (CAST(tempered_fp AS DOUBLE) / CAST(z_fp AS DOUBLE)) * CAST(total AS DOUBLE) AS expected_tokens
        |FROM sh, norm ORDER BY lang""".stripMargin,
    "sp05_corpus_shuffle" ->
      """WITH k AS (SELECT doc_id,
        |  CAST(('0x' || substr(md5('shuffle:' || doc_id), 1, 15)) AS BIGINT) skey
        |  FROM documents)
        |SELECT doc_id, skey % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY skey % 8 ORDER BY skey, doc_id) AS BIGINT) AS shuffle_rank
        |FROM k ORDER BY shard, shuffle_rank""".stripMargin,
  )
}
