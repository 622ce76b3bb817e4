package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.DecimalType
import java.nio.file.{FileVisitOption, Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import scala.jdk.CollectionConverters._

/** Parquet table loaders + numeric-determinism helpers.
  *
  * Determinism contract with the DuckDB oracle: every aggregated money
  * column is cast to an exact DECIMAL before SUM (decimal addition is
  * associative, so Spark's partial/final aggregation order cannot change
  * the result) and cast to DOUBLE only at the very end (a single exact
  * decimal → double conversion is identical across engines). Keep the
  * declared precisions small enough that products stay under DECIMAL(38)
  * in both Spark and DuckDB, so no intermediate rounding ever occurs.
  */
object Tables {
  /** A fresh relation over `<dir>/<name>.parquet`. The parquet schema
    * is inferred once per (session, file identity, inference confs)
    * and memoized in [[Caches.memoObj]]; later calls read with that
    * schema declared, so planning a request over a known table runs
    * no Spark job (inference is a one-task job per read). Only the
    * schema is memoized, never the frame: each call returns a new scan
    * with fresh attribute ids, which the planner's paged driving dim
    * relies on. The key carries `dir` as its own '|' token, so
    * [[graft.semantic.Freshness.refresh]] drops it; it also carries
    * the file identity ([[fileStamp]]), so a file landed without a
    * refresh is re-inferred, and every conf that changes what
    * inference returns ([[rawEvents]] sets the first two). A missing
    * path fails with Spark's own path-not-found error. */
  def tbl(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    fileStamp(path) match {
      case None => spark.read.parquet(path)
      case Some(stamp) =>
        val confs = InferenceConfs
          .map(k => spark.conf.getOption(k).getOrElse("")).mkString(",")
        var inferred: DataFrame = null // the miss's own read, returned as is
        val schema = Caches.memoObj(spark,
            s"tblschema|$dir|$name|$confs|$stamp") {
          inferred = spark.read.parquet(path)
          inferred.schema
        }
        if (inferred != null) inferred
        else spark.read.schema(schema).parquet(path)
    }
  }

  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.timestampType")

  /** The identity of the parquet data at `path`, as a hex digest (so
    * it holds no '|'), or None when the path does not exist or changes
    * under the walk (the caller then reads without the memo, as Spark
    * alone would). A file is identified by its size, nanosecond mtime
    * and file key (the inode), so a replace-by-rename is seen even at
    * equal size and mtime; a directory by the sorted relative names,
    * sizes, mtimes and file keys of every file below it (partition
    * subdirectories included). Both footer facts of a table, [[tbl]]'s
    * schema and [[tableRows]], key on it. */
  private[core] def fileStamp(path: String): Option[String] =
    try {
      val root = Paths.get(path)
      val lines = leafFiles(root).map { case (p, a) =>
        s"${root.relativize(p)} ${a.size} ${a.lastModifiedTime.to(
          java.util.concurrent.TimeUnit.NANOSECONDS)} ${a.fileKey}"
      }.sorted
      Some(java.util.HexFormat.of().formatHex(
        java.security.MessageDigest.getInstance("SHA-256")
          .digest(lines.mkString("\n").getBytes("UTF-8"))))
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException |
          _: java.nio.file.InvalidPathException => None
    }

  /** Every regular file at or below `root` (a file root is its own one
    * entry) with its attributes, following links. */
  private def leafFiles(root: Path): List[(Path, BasicFileAttributes)] =
    scala.util.Using.resource(
        Files.walk(root, FileVisitOption.FOLLOW_LINKS)) { st =>
      st.iterator().asScala.map(p =>
        (p, Files.readAttributes(p, classOf[BasicFileAttributes])))
        .filter(_._2.isRegularFile).toList
    }

  def region(s: SparkSession, d: String): DataFrame    = tbl(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = tbl(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = tbl(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = tbl(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = tbl(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = tbl(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = tbl(s, d, "lineitem")

  /** Exact row count of a raw parquet table from its FOOTERS — one
    * driver-side metadata read per file, memoized per session, no
    * Spark job. The raw-table analogue of [[TxnTable.rowCount]]'s
    * manifest channel: it feeds cardinality-aware decisions
    * ([[graft.operators.KeyShip]]'s `keyRows`, CostModel fixedRows)
    * for tables that are plain directories rather than manifest
    * logs. A directory table counts every `*.parquet` file below it,
    * partition subdirectories (`col=val/`) included — the file set
    * Spark reads, which skips any path component starting with `.`,
    * or with `_` unless it names a partition. */
  def tableRows(s: SparkSession, dir: String, name: String): Long =
    Caches.memoObj(s, s"tablerows|$dir|$name|" +
        fileStamp(s"$dir/$name.parquet").getOrElse("")) {
      val root = Paths.get(s"$dir/$name.parquet")
      val paths = leafFiles(root).map(_._1).filter(p => p == root ||
        p.toString.endsWith(".parquet") && !root.relativize(p).iterator()
          .asScala.map(_.toString).exists(c => c.startsWith(".") ||
            c.startsWith("_") && !c.contains("=")))
        .map(_.toString).sorted
      java.lang.Long.valueOf(
        Layout.multiStatsWithRows(s, paths, Nil).map(_._2).sum)
    }.longValue()
  /** events.ts arrives in either of two parquet encodings depending on
    * the data generation: TIMESTAMP(MICROS) (native Spark TimestampType
    * — nothing to do, time predicates push down as-is) or
    * TIMESTAMP(NANOS), which Spark 4 rejects by default; for the latter
    * read nanos as long and floor-truncate to microseconds (identical
    * to DuckDB's ns→µs truncation). The truncation makes time
    * predicates opaque to scan pushdown, so the
    * [[graft.functions.MicrosTruncationPushdown]] rule (installed here;
    * also available via GraftExtensions) rewrites them back onto the
    * raw nanos column. Both encodings yield the same µs TimestampType
    * `ts` column, so every consumer is encoding-agnostic. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = rawEvents(s, d)
    if (eventsTsIsNanosLong(raw)) {
      // synchronized: concurrent first use would otherwise race the
      // contains/append check and install the rule twice (harmless — the
      // rewrite is idempotent — but noisy); the narrow pattern keeps an
      // accidental double install inert for non-events queries too
      s.experimental.synchronized {
        if (!s.experimental.extraOptimizations.contains(
            graft.functions.MicrosTruncationPushdown))
          s.experimental.extraOptimizations =
            s.experimental.extraOptimizations :+ graft.functions.MicrosTruncationPushdown
      }
    }
    normalizeEventsTs(raw)
  }

  /** events.parquet exactly as the file decodes (nanos files → ts as
    * raw LONG under the nanosAsLong legacy flag; µs files → ts as
    * TimestampType). Naive (isAdjustedToUTC=false) µs columns must
    * decode as TimestampType, not TIMESTAMP_NTZ — NTZ is rejected by
    * streaming watermarks / unix_micros, and an NTZ→LTZ cast after the
    * scan would block predicate pushdown; disabling NTZ inference keeps
    * the instant semantics (raw µs since epoch, UTC session) AND the
    * pushdown at the scan. */
  def rawEvents(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    tbl(s, d, "events")
  }

  /** The raw (pre-normalization) file schema of events.parquet in `d`
    * — what `readStream.schema(...)` must declare. Footer-only read. */
  def eventsRawSchema(s: SparkSession, d: String)
      : org.apache.spark.sql.types.StructType = rawEvents(s, d).schema

  private def eventsTsIsNanosLong(df: DataFrame): Boolean =
    df.schema("ts").dataType == org.apache.spark.sql.types.LongType

  /** Normalize a raw events frame (batch or stream) so `tsCol` is a µs
    * TimestampType regardless of the file encoding: raw-nanos LONG →
    * `timestamp_micros(ts div 1000)` (integral div — a double division
    * would lose precision above 2^53 ns); TIMESTAMP_NTZ (a read that
    * bypassed [[rawEvents]]'s NTZ-inference toggle) → cast to
    * TimestampType (value-preserving under the UTC session timezone);
    * already-timestamp → as-is. */
  def normalizeEventsTs(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(tsCol,
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr(s"`$tsCol` div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(tsCol, org.apache.spark.sql.functions.col(tsCol)
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  def documents(s: SparkSession, d: String): DataFrame = tbl(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = tbl(s, d, "embeddings")

  /** Money-ish columns (price, quantity, acctbal): 2 decimal places. */
  def dec2(c: Column): Column = c.cast(DecimalType(12, 2))
  /** Rate columns (discount, tax): small magnitude, 2 decimal places. */
  def rate(c: Column): Column = c.cast(DecimalType(8, 2))
  /** High-fidelity measure columns (events.value): 6 decimal places. */
  def dec6(c: Column): Column = c.cast(DecimalType(18, 6))
}
