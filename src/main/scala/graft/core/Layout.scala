package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional clustering (Z-order) file layout.
  *
  * At 100 TB the scan is won or lost before the first task runs: a
  * table linearly sorted on one column gives tight parquet min/max
  * stats — and therefore row-group/file pruning — on THAT column only;
  * a selective predicate on any second dimension still reads the whole
  * table. Interleaving the bits of several columns into one Z-value
  * and range-partitioning + sorting the write on it makes every file
  * cover a small hyper-rectangle of the clustered space, so min/max
  * stats stay tight on ALL clustered dimensions at once (the
  * `OPTIMIZE ZORDER BY` capability of lakehouse table formats,
  * expressed directly over Spark's write path; the reference engine
  * has no layout op at all — its Druid/Oracle backends own physical
  * layout. Derived from the public Z-order curve construction, bit
  * interleaving of fixed-width keys).
  *
  * Pipeline shape (all distributed, stats pre-pass is one aggregate
  * row of index metadata on the driver):
  *   1. one `agg(min, max)` pass → per-column [lo, hi];
  *   2. map-only: 16-bit uniform bucket per column → bit interleave →
  *      `__z` (pure codegen'd column arithmetic, no UDF);
  *   3. `repartitionByRange(n, __z)` + `sortWithinPartitions(__z)` →
  *      parquet files in Z order, row groups tight on every dimension.
  *
  * Uniform min-max bucketing keeps the bucket map a pure expression;
  * heavily skewed columns would want rank (quantile-boundary) buckets
  * instead — same interleave, boundaries from `approxQuantile` — at
  * the cost of a literal boundary array in the plan. Pruning quality
  * degrades gracefully either way; results never change (the layout
  * is invisible to query semantics — q41's oracle pins exactly that).
  */
object Layout {

  /** Interleave the low `bits` bits of the given non-negative integer
    * columns into one LONG: bit `i` of column `j` lands at position
    * `i * m + (m - 1 - j)` (column 0 owns the most-significant lane of
    * each group). `m * bits` must fit a long: m ≤ 3 at 16 bits. */
  def interleaveBits(cols: Seq[Column], bits: Int = 16): Column = {
    val m = cols.size
    require(m >= 1 && m * bits <= 62, s"$m cols x $bits bits overflow a LONG")
    val terms = for {
      (c, j) <- cols.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(
      shiftright(c.cast("long"), i).bitwiseAND(lit(1L)), i * m + (m - 1 - j))
    terms.reduce(_ bitwiseOR _)
  }

  /** Uniform 16-bit bucket of `c` over [lo, hi] (clamped — rows
    * outside the measured range, e.g. written after the stats pass in
    * an incremental setting, still map to a valid bucket). */
  def bucket16(c: Column, lo: Double, hi: Double): Column =
    least(lit(65535L), greatest(lit(0L),
      floor((c.cast("double") - lit(lo)) / lit(math.max(hi - lo, 1e-12))
        * 65536.0).cast("long")))

  /** The Z-value column for `df` over `zcols`, computing the
    * per-column [lo, hi] stats pre-pass here (one aggregate → one
    * driver row — index metadata, not data). Numeric/date columns get
    * range buckets (range AND equality predicates prune); STRING
    * columns get a 16-bit hash bucket — equal values share a bucket,
    * so equality predicates on a categorical dimension (source, lang)
    * prune via the co-clustered numeric stats of the same files,
    * while range predicates on strings stay unprunable (hash order is
    * not lexicographic — the honest trade, same as hash-bucketed
    * clustering everywhere). */
  def zValueFor(df: DataFrame, zcols: Seq[String]): Column = {
    import org.apache.spark.sql.types.StringType
    val isStr = zcols.map(c => df.schema(c).dataType == StringType)
    val numeric = zcols.zip(isStr).filter(!_._2).map(_._1)
    val stats: Map[String, (Double, Double)] =
      if (numeric.isEmpty) Map.empty
      else {
        val aggs = numeric.flatMap(c => Seq(
          min(col(c).cast("double")).as(s"lo_$c"),
          max(col(c).cast("double")).as(s"hi_$c")))
        val r = df.agg(aggs.head, aggs.tail: _*).first()
        numeric.zipWithIndex.map { case (c, i) =>
          c -> (r.getDouble(2 * i), r.getDouble(2 * i + 1)) }.toMap
      }
    interleaveBits(zcols.zip(isStr).map {
      case (c, true) => pmod(hash(col(c)), lit(65536)).cast("long")
      case (c, false) =>
        val (lo, hi) = stats(c); bucket16(col(c), lo, hi)
    })
  }

  /** Equi-DEPTH (rank/quantile-boundary) bucket expression: bucket of
    * `c` = number of `bounds` ≤ c, computed by an UNROLLED BINARY
    * SEARCH when-tree — log₂(buckets) comparisons per row, pure
    * codegen'd column arithmetic, no UDF and no per-row array scan.
    * `bounds` must be sorted ascending (duplicates fine: equal
    * boundaries make their empty bucket unreachable, which is exactly
    * the degenerate-distribution behavior wanted). */
  def rankBucket(c: Column, bounds: Array[Double]): Column = {
    def go(lo: Int, hi: Int): Column = // final bucket in [lo, hi]
      if (lo >= hi) lit(lo.toLong)
      else {
        val mid = (lo + hi) / 2
        when(c.cast("double") >= lit(bounds(mid)), go(mid + 1, hi))
          .otherwise(go(lo, mid))
      }
    go(0, bounds.length)
  }

  /** Z-value with equi-depth buckets — the SKEWED-COLUMN variant of
    * [[zValueFor]]. Uniform min-max buckets collapse under skew: a
    * heavy-tailed column squeezes most rows into a handful of
    * buckets, the interleave loses its discrimination in the dense
    * region, and files there span wide value ranges — pruning decays
    * exactly where the queries land. Rank buckets put ~equal ROW
    * COUNTS in every bucket by construction (boundaries from one
    * `approxQuantile` pass — 2^bits−1 doubles of driver-side index
    * metadata, the same sampled-boundary move `repartitionByRange`
    * makes internally), so the dense region gets proportionally more
    * buckets and per-file value ranges stay tight where the data is.
    * 8-bit lanes (vs uniform's 16) keep the when-tree small — 256
    * equi-depth buckets discriminate better on skew than 65536
    * uniform ones. Strings keep their hash lane. Layout choice never
    * changes results; SCALE_SLOPE.md "Round 10 — equi-depth Z-order
    * buckets" measures the pruning delta. */
  def zValueForRanked(df: DataFrame, zcols: Seq[String],
      bits: Int = 8): Column = {
    import org.apache.spark.sql.types.StringType
    val nb = 1 << bits
    val isStr = zcols.map(c => df.schema(c).dataType == StringType)
    val numeric = zcols.zip(isStr).filter(!_._2).map(_._1)
    val probs = (1 until nb).map(_.toDouble / nb).toArray
    val bounds: Map[String, Array[Double]] =
      if (numeric.isEmpty) Map.empty
      else numeric.zip(
        df.select(numeric.map(c => col(c).cast("double").as(c)): _*)
          .stat.approxQuantile(numeric.toArray, probs, 0.001))
        .map { case (c, bs) => c -> bs }.toMap
    interleaveBits(zcols.zip(isStr).map {
      case (c, true) => pmod(hash(col(c)), lit(nb)).cast("long")
      case (c, false) => rankBucket(col(c), bounds(c))
    }, bits)
  }

  /** Interquartile span coverage of `c`: the fraction of the min-max
    * span the middle HALF of rows occupy — 0.5 for uniform data,
    * ~0.2 for bell-shaped, collapsing toward 0 under a heavy tail
    * (half the mass squeezed into a sliver of the range, exactly the
    * shape that collapses uniform Z buckets: even a 5%-of-rows tail
    * stretches the span 10⁶× without moving the quartiles). One
    * approxQuantile + one min/max aggregate of driver metadata. */
  def spanCoverage(df: DataFrame, c: String): Double = {
    val cd = df.select(col(c).cast("double").as(c))
    val qs = cd.stat.approxQuantile(c, Array(0.25, 0.75), 0.01)
    val r = cd.agg(min(col(c)), max(col(c))).first()
    if (r.isNullAt(0)) 1.0
    else {
      val span = r.getDouble(1) - r.getDouble(0)
      if (span <= 0) 1.0 else (qs(1) - qs(0)) / span
    }
  }

  /** THE BUCKET DECISION, automated (the autoJoin discipline applied
    * to layout): uniform min-max buckets unless some numeric z-column
    * is measurably skewed — interquartile span coverage below
    * `rankedBelow` — in which case equi-depth buckets take over
    * (uniform buckets on such a column collapse the dense region into
    * one bucket; SCALE_SLOPE r10 measured 62/64 vs 24/64 files
    * read). The 0.05 default keeps bell-shaped data (~0.2) on the cheaper
    * uniform path and flags only genuine heavy tails. Returns the
    * choice so callers and specs can assert WHICH layout was
    * written. */
  def writeZOrderedAuto(df: DataFrame, path: String, zcols: Seq[String],
      numFiles: Int, rankedBelow: Double = 0.05): Boolean = {
    import org.apache.spark.sql.types.StringType
    val ranked = zcols.exists(c =>
      df.schema(c).dataType != StringType && spanCoverage(df, c) < rankedBelow)
    writeZOrdered(df, path, zcols, numFiles, ranked)
    ranked
  }

  /** Write `df` to `path` as parquet Z-ordered on `zcols` across
    * `numFiles` range partitions. Every output file covers one
    * contiguous Z range = one small hyper-rectangle per dimension, so
    * a selective predicate on ANY clustered column prunes most files
    * (and row groups within them) from their footer stats alone.
    * `ranked = true` swaps uniform buckets for equi-depth ones
    * ([[zValueForRanked]]) — the right layout when a clustered
    * column is heavily skewed ([[writeZOrderedAuto]] decides from a
    * sampled skew statistic). */
  def writeZOrdered(df: DataFrame, path: String, zcols: Seq[String],
      numFiles: Int, ranked: Boolean = false): Unit =
    df.withColumn("__z",
        if (ranked) zValueForRanked(df, zcols) else zValueFor(df, zcols))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Per-file [min, max] footer statistics of `column` under `dir` —
    * the same numbers a scan's row-group pruning reads. Driver-side
    * footer walk (bytes ∝ #files, never data). */
  def fileStats(spark: org.apache.spark.sql.SparkSession, dir: String,
      column: String): Seq[(String, Long, Long)] = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    statsForFiles(spark,
      fs.listStatus(new Path(dir)).toSeq
        .filter(f => f.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString), column)
      .map { case (p, lo, hi) => (new Path(p).getName, lo, hi) }
  }

  /** Footer opens performed by [[statsForFiles]] since JVM start —
    * lets tests prove a path is served from manifest-carried stats
    * (the counter must NOT move) rather than a per-file footer walk. */
  val footerReads = new java.util.concurrent.atomic.AtomicLong(0)

  /** [[fileStats]] over an explicit file list (full paths kept). */
  def statsForFiles(spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String], column: String): Seq[(String, Long, Long)] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    paths.map { p =>
      footerReads.incrementAndGet()
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(p), conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        val stats = blocks.flatMap(_.getColumns.asScala
          .find(_.getPath.toDotString == column).map(_.getStatistics))
        if (stats.isEmpty)
          // zero-row file (or the column is absent from this file's
          // schema): the EMPTY range — intersects nothing, so pruning
          // correctly never selects it
          (p, Long.MaxValue, Long.MinValue)
        else {
          val los = stats.map(_.genericGetMin.asInstanceOf[Number].longValue)
          val his = stats.map(_.genericGetMax.asInstanceOf[Number].longValue)
          (p, los.min, his.max)
        }
      } finally reader.close()
    }
  }

  /** One footer read per file yields BOTH the per-column [min,max]
    * stats (columns without integer-comparable footer stats are absent
    * from the map) and the exact ROW COUNT (the footer carries it for
    * free) — the commit-time stats pass of [[TxnTable]]: both ride the
    * manifest, so `COUNT(*)`-grade questions become a manifest read,
    * never a scan. */
  def multiStatsWithRows(spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String], columns: Seq[String])
      : Seq[(String, Long, Map[String, (Long, Long)])] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val want = columns.toSet
    paths.map { p =>
      footerReads.incrementAndGet()
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(p), conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        val rows = blocks.map(_.getRowCount).sum
        if (blocks.isEmpty)
          // zero-row file: record the EMPTY range for every requested
          // column so later mutations prune it from the manifest
          // instead of re-reading its footer forever
          (p, 0L, columns.map(_ -> (Long.MaxValue, Long.MinValue)).toMap)
        else {
          val byCol = blocks.flatMap(_.getColumns.asScala)
            .filter(c => want.contains(c.getPath.toDotString))
            .groupBy(_.getPath.toDotString)
          val stats = byCol.flatMap { case (c, chunks) =>
            try {
              val ss = chunks.map(_.getStatistics)
              val los = ss.map(_.genericGetMin.asInstanceOf[Number].longValue)
              val his = ss.map(_.genericGetMax.asInstanceOf[Number].longValue)
              Some(c -> (los.min, his.max))
            } catch { case _: Throwable => None } // non-numeric / no stats
          }.toMap
          (p, rows, stats)
        }
      } finally reader.close()
    }
  }

  /** How many files under `dir` a range predicate `lo <= column <= hi`
    * must read, by footer stats — the pruning measure a 100 TB scan
    * lives by. */
  def filesIntersecting(spark: org.apache.spark.sql.SparkSession,
      dir: String, column: String, lo: Long, hi: Long): Int =
    fileStats(spark, dir, column).count { case (_, fLo, fHi) =>
      fHi >= lo && fLo <= hi }
}
