package graft.semantic

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.semantic.model._

/** Data-freshness introspection — the analogue of the reference's
  * ingestion-time surface (service/.../IngestionTimeUpdater.scala:
  * per-table ingestion time looked up by the registry and published
  * next to the domain JSON, so every reporting UI can show
  * "data as of").
  *
  * Per fact variant: when the variant declares a time-grain public
  * column, freshness is `max(<physical grain column>)` — a
  * single-column columnar scan (parquet reads just that column). At
  * 100 TB this is a scheduled per-table metadata pass, not a
  * per-request one, which is why results are memoized per
  * (dir, table); [[invalidate]] is the refresh hook an ingestion
  * pipeline would call. Variants without a grain column fall back to
  * the data file's modification time — the signal an external
  * ingestion tracker publishes.
  */
object Freshness {

  /** `source` says how `asOf` was derived: "max(<col>)" or
    * "file_mtime". */
  final case class TableFreshness(table: String, asOf: String, source: String)

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(String, String), TableFreshness]()

  /** Drop memoized entries (all, or one table) — the hook an ingestion
    * pipeline calls after landing new data. */
  def invalidate(table: Option[String] = None): Unit = table match {
    case None => memo.clear()
    case Some(t) => memo.keySet.removeIf(_._2 == t)
  }

  /** Data-landed hook for a LONG-RUNNING service — the analogue of
    * druid-lookups' scheduled lookup refresh (reference
    * BaseRocksDBLookupExtractor.java / JDBCLookupExtractor.java
    * cadence), called from an ingestion completion callback or a
    * scheduled tick instead of restarting the server:
    *  1. drops this dir's memoized freshness (next /domain re-reads);
    *  2. drops every session cache entry derived from the dir
    *     ([[graft.core.Caches.invalidateMatching]] — cache keys embed
    *     their source dir), so memoized intermediates (dedup shingle
    *     frames, IVF quantizers, …) are rebuilt from the new data;
    *  3. refreshes Spark's own path caches so any catalog-cached
    *     relation under the dir re-lists its files.
    * Requests plan against `Tables.tbl` per call, which reads with a
    * parquet schema memoized per (dir, table, file identity, inference
    * confs); step 2 drops those schema entries too, so after this hook
    * the very next request re-infers and reflects the landed data —
    * including re-broadcasting changed dims. (A file landed WITHOUT the
    * hook changes its identity, so its schema is re-inferred as well.)
    * Last, it bumps [[generation]], which drops every front door's
    * page cache ([[graft.serving.PageCache]]).
    * Returns the number of session cache entries dropped in step 2. */
  def refresh(s: SparkSession, dir: String): Int = {
    memo.keySet.removeIf(_._1 == dir)
    val dropped = graft.core.Caches.invalidateMatching(s, dir)
    s.catalog.refreshByPath(dir)
    refreshes.incrementAndGet()
    dropped
  }

  private val refreshes = new java.util.concurrent.atomic.AtomicLong()

  /** How many [[refresh]] calls have completed in this JVM. A cache of
    * served answers holds the value it was filled under and drops its
    * entries when this moves on. */
  def generation: Long = refreshes.get()

  def forFact(s: SparkSession, dir: String, f: FactDef): TableFreshness =
    memo.computeIfAbsent((dir, f.table), _ => compute(s, dir, f))

  private def compute(s: SparkSession, dir: String, f: FactDef): TableFreshness = {
    val grainCol = f.dimCols.find(_.grain.isDefined).map(_.physical)
    grainCol match {
      case Some(c) =>
        val df = f.view.map(_(s, dir))
          .getOrElse(graft.core.Tables.tbl(s, dir, f.table))
        val mx = df.agg(max(col(c)).cast("string")).collect()(0).getString(0)
        TableFreshness(f.table, Option(mx).getOrElse(""), s"max($c)")
      case None =>
        val file = new java.io.File(s"$dir/${f.table}.parquet")
        val ts = java.time.Instant.ofEpochMilli(file.lastModified()).toString
        TableFreshness(f.table, ts, "file_mtime")
    }
  }

  /** Freshness for every variant of every cube in a registry, keyed by
    * cube name — the shape [[Domain.domainJson]] embeds. */
  def forRegistry(reg: Registry, s: SparkSession,
      dir: String): Map[String, Seq[TableFreshness]] =
    reg.cubes.values.map { c =>
      c.name -> c.variants.map(forFact(s, dir, _)).distinct
    }.toMap
}
