package graft.serving

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.{Attribute, CurrentDate, CurrentTime,
  CurrentTimestampLike, Expression, LocalTimestamp}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType
import graft.semantic.Freshness

/** A bounded cache of served JSON pages, owned by one [[HttpFrontDoor]]
  * for `POST /report` and `POST /sql`: a repeated request over unchanged
  * data is answered with the envelope it got before, with no Spark job.
  *
  * What a page is keyed by is [[PageCache.Key]]; what is never cached
  * is in [[PageCache.keyOf]] (and a refused over-cap page, which
  * `HttpFrontDoor.servePage` does not store). The front door's bounds
  * are [[PageCache.MaxEntries]] and [[PageCache.MaxBytes]].
  *
  * It holds at most `maxEntries` pages and `maxBytes` of them
  * (UTF-16 envelope chars plus the rows of the key's `LocalRelation`s;
  * the rest of a key, 18-54 KB for the sf0.1 request bodies, is not
  * weighed, so 256 keys add at most ~14 MB);
  * the least recently used entry is evicted first, and a page larger
  * than the whole budget is never stored. Every completed
  * [[Freshness.refresh]] drops all entries. [[stats]] counts lookups
  * that hit and missed and the entries evicted, so a run can report
  * its hit share. */
private[graft] final class PageCache(maxEntries: Int, maxBytes: Long) {
  import PageCache.{Key, Stats}
  require(maxEntries > 0 && maxBytes > 0, s"bounds $maxEntries, $maxBytes")

  /** Access-ordered: iteration starts at the least recently used. Each
    * value is the envelope and its weight. */
  private val entries = new java.util.LinkedHashMap[Key, (String, Long)](16, 0.75f, true)
  private var bytes = 0L
  private var generation = Freshness.generation
  private var hits, misses, evictions = 0L

  /** Drops every entry once a refresh has completed since the last
    * call. Callers hold the lock. */
  private def sync(): Unit = {
    val g = Freshness.generation
    if (g != generation) { entries.clear(); bytes = 0L; generation = g }
  }

  def get(k: Key): Option[String] = synchronized {
    sync()
    val env = Option(entries.get(k)).map(_._1)
    if (env.isDefined) hits += 1 else misses += 1
    env
  }

  /** Stores `env` under `k` unless a refresh completed after `k` was
    * made (its answer may predate the refresh) or it exceeds the byte
    * budget on its own; then evicts least recently used entries down to
    * both bounds. */
  def put(k: Key, env: String): Unit = synchronized {
    sync()
    val w = k.weight(env)
    if (k.generation == generation && w <= maxBytes &&
        !entries.containsKey(k)) {
      entries.put(k, (env, w))
      bytes += w
      val it = entries.values().iterator()
      while (entries.size > maxEntries || bytes > maxBytes) {
        bytes -= it.next()._2
        it.remove()
        evictions += 1
      }
    }
  }

  def stats: Stats = synchronized {
    sync(); Stats(entries.size, bytes, hits, misses, evictions)
  }
}

private[graft] object PageCache {
  /** The front door's bounds: enough for a working set of a few hundred
    * distinct bodies; 32 MiB is a few percent of a 3 GiB driver heap
    * and holds at least 16 pages at the 5,000-row sync cap. */
  val MaxEntries = 256
  val MaxBytes: Long = 32L << 20

  /** The entries and bytes held now, and since the cache was made the
    * lookups that hit and missed and the entries evicted (a refresh's
    * drop is not an eviction). */
  final case class Stats(entries: Int, bytes: Long, hits: Long, misses: Long,
      evictions: Long)

  /** The identity of one served page: the canonical analyzed plan with
    * each file relation replaced by its [[FileScan]] (which carries every
    * input file with its [[graft.core.Tables.fileStamp]]), the page's
    * schema, the page cap, and the [[Freshness.generation]] it was made
    * under. The schema is there because canonicalization erases output
    * names (every alias becomes "", every attribute "none"), and the
    * envelope's `fieldNames` are those names: two plans that differ only
    * in them must not share a page. */
  final case class Key(plan: LogicalPlan, schema: StructType, cap: Int,
      generation: Long) {
    private[PageCache] def weight(env: String): Long =
      2L * env.length + plan.collectWithSubqueries {
        case l: LocalRelation => l.computeStats().sizeInBytes.toLong
      }.sum
  }

  /** The key of `df` served under `cap`, or None when its answer may
    * change with nothing in the key changing: a nondeterministic or
    * clock-reading expression, or a leaf other than a parquet/file scan
    * or a `LocalRelation` (a JDBC or streaming source, an RDD, a range),
    * subqueries included; or an input file whose identity cannot be
    * read. The files come from the analyzed plan's relations, not from
    * `df.inputFiles`, which reads the optimized plan, where a cached
    * fragment hides its files behind an `InMemoryRelation`. */
  def keyOf(df: DataFrame, cap: Int): Option[Key] = {
    val gen = Freshness.generation
    val plan = df.queryExecution.analyzed
    val nodes = plan.collectWithSubqueries { case p => p }
    val cacheable = nodes.forall { p =>
      p.expressions.forall(e => e.deterministic && !e.exists(readsClock)) &&
        (p.children.nonEmpty || (p match {
          case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation] && !r.isStreaming
          case _: LocalRelation => true
          case _ => false
        }))
    }
    if (!cacheable) None
    else {
      val stamped = nodes.collect { case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs -> fs.inputFiles.toSeq.sorted.map(f => stampOf(f).map(st => s"$f $st"))
      }.toMap
      if (stamped.values.exists(_.exists(_.isEmpty))) None
      else Some(Key(plan.canonicalized.transformUpWithSubqueries {
        case r @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
          FileScan(r.output, fs, stamped(fs).flatten)
      }, plan.schema, cap, gen))
    }
  }

  /** A file relation as a key holds it: the fields that decide its
    * rows (those `HadoopFsRelation` compares, with the file index as
    * its root paths) and its input files with their stamps, but none of
    * the relation's objects. A relation's `InMemoryFileIndex` holds a
    * Hadoop configuration of ~100 KB, so a key holding the relations
    * would keep 40-460 KB per page alive (sf0.1 request bodies); with
    * these leaves a key is 18-54 KB. */
  private final case class FileScan(output: Seq[Attribute], rootPaths: Seq[String],
      format: String, dataSchema: StructType, partitionSchema: StructType,
      bucketSpec: Option[BucketSpec], options: Map[String, String],
      files: Seq[String]) extends LeafNode

  private object FileScan {
    def apply(output: Seq[Attribute], fs: HadoopFsRelation, files: Seq[String]): FileScan =
      FileScan(output, fs.location.rootPaths.map(_.toString).sorted,
        fs.fileFormat.getClass.getName, fs.dataSchema, fs.partitionSchema,
        fs.bucketSpec, fs.options, files)
  }

  private def readsClock(e: Expression): Boolean = e match {
    case _: CurrentTimestampLike | _: CurrentDate | _: CurrentTime |
        _: LocalTimestamp => true
    case _ => false
  }

  /** The identity of one input file given as a URI string; None for a
    * non-local file or one that is gone. */
  private def stampOf(uri: String): Option[String] =
    try graft.core.Tables.fileStamp(
      java.nio.file.Paths.get(new java.net.URI(uri)).toString)
    catch {
      case _: IllegalArgumentException | _: java.net.URISyntaxException |
          _: java.nio.file.FileSystemNotFoundException => None
    }
}
