package graft.core

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Copy-on-write table with a versioned manifest — the lakehouse
  * transaction-log pattern in miniature, built for the two mutations a
  * 100 TB training-data platform cannot avoid: key deletion (GDPR /
  * takedown: "remove every row of these users") and upsert (late
  * corrections). Plain parquet directories can only append; rewriting
  * the whole table for a thousand deleted keys is a non-starter at
  * scale.
  *
  * Mechanics:
  *  - data lives in immutable commit directories
  *    (`files/<commit-uuid>/part-*.parquet`) — nothing is ever
  *    modified in place;
  *  - each version is a `manifest-v<N>.json`: a DELTA record of the
  *    commit's changes (removed paths + added entries — O(changed
  *    files) to render, the commit-metadata analogue of Delta Lake's
  *    delta commits) for mutations, or a full snapshot for commits
  *    that replace the whole live set (init/optimize/restore).
  *    Entries carry byte size, exact row count,
  *    and per-column [min,max] stats (the Delta-style stats
  *    channel): stats are computed ONCE, from the footers of the
  *    files a commit just wrote, and every later mutation plans its
  *    rewrite set from manifest metadata alone — O(changed) I/O
  *    instead of an O(files) footer walk (on an object store each
  *    footer open is a round trip; at production file counts the
  *    walk, not the rewrite, dominated the measured delete cost —
  *    see SCALE_SLOPE.md cow_delete_16x);
  *  - a `checkpoint-v<K>.json` sidecar (auto-written when the delta
  *    tail reaches [[CheckpointInterval]], at vacuum, or via
  *    [[checkpoint]]) materializes the resolved live set so reads
  *    resolve from O(checkpoint + short tail), never the whole log —
  *    the manifest-list/checkpoint idea of Iceberg/Delta;
  *  - the manifest publish is exclusive-create, so readers see
  *    version N or N+1, never a torn state — SNAPSHOT ISOLATION, and
  *    reading an older manifest is TIME TRAVEL for free;
  *  - a mutation rewrites ONLY the files whose [min,max] on the key
  *    column can contain an affected key, so a delete of k keys
  *    touches O(files-containing-k), not O(table); untouched files
  *    carry over into the new manifest BY REFERENCE, stats included
  *    (never recomputed);
  *  - entries missing the needed column's stats (a column first used
  *    as a mutation key after they were written) fall back to a footer
  *    read for exactly those files;
  *  - ONE on-disk format: an older artifact fails every read loudly,
  *    naming [[upgrade]], the one-shot rewrite into the current one;
  *  - [[vacuum]] physically deletes files no live manifest references.
  *
  * CONCURRENCY (optimistic, serialized by the manifest log): every
  * mutation captures the manifest version it PLANNED against and
  * publishes at exactly `planned + 1`. If another writer committed in
  * between — even if the slower writer's Spark rewrite took minutes —
  * the publish collides on the already-taken version number and raises
  * `ConcurrentModificationException`; the mutation then RE-PLANS from
  * the winner's manifest and retries (bounded), so no committed file
  * list is ever built from a stale snapshot and no update can be lost.
  * A losing attempt's commit directory is orphaned (referenced by no
  * manifest) and reclaimed by [[vacuum]], like any torn write.
  *
  * KEY CARRIERS: all four keyed mutations ([[deleteKeys]], [[upsert]],
  * [[merge]], [[mergeFrame]]) commit through one method,
  * [[commitKeyed]], and one carrier chosen BY SIZE
  * ([[planKeyedMutation]]). A key set of at most 10⁴ distinct keys —
  * a `deleteKeys` list that short (no job), or a key frame whose one
  * `limit` probe comes back complete — ships as a literal
  * (scan-pushable — the everyday takedown or correction batch pays
  * exactly the small-batch cost). Anything larger takes the frame
  * carrier: the rewrite set is planned by joining the key frame
  * against the manifest's per-file [min,max] ranges (only file PATHS
  * — bounded by file count, not key count — come back), and matched
  * files are rewritten with a `left_anti` join against the keys, so a
  * frame's keys never land on the driver and a long list never
  * becomes an `IN` tree. Both carriers keep SQL NULL semantics: a
  * NULL-key row matches nothing and survives every rewrite.
  */
object TxnTable {

  /** One live file of a table version: relative path, byte size,
    * per-column [min,max], and exact row count — all carried from its
    * commit's footer pass. Empty stats / `rows < 0` = committed by a
    * table with no declared stats columns (no footer pass ran). */
  final case class FileEntry(path: String, bytes: Long,
      stats: Map[String, (Long, Long)], rows: Long = -1L)

  private def fileOf(dir: String, name: String) = new java.io.File(dir, name)

  /** The manifest chain (`manifest-v<N>.json`): publish, head,
    * committed range, commit instants, as-of and retention all live
    * in [[VersionLog]]; this object keeps the body format. Any
    * existing manifest counts as committed — a damaged one fails
    * loudly when parsed. Its `lists`/`probes` counters are the
    * table's I/O-shape seams. */
  private[graft] val manifestLog = new VersionLog("manifest-v", "head",
    (dir, v) => fileOf(dir, s"manifest-v$v.json").exists(),
    (dir, v) => manifestMeta(dir, v).ts)

  private[graft] def resetIoCountersForTest(): Unit = {
    manifestLog.lists.set(0); manifestLog.probes.set(0)
  }

  /** Latest committed version — O(1 + tail) existence probes via the
    * head hint, zero directory LISTs on the steady path. */
  def version(dir: String): Int =
    manifestLog.head(dir).getOrElse(sys.error(s"no manifest under $dir"))

  private def needsUpgrade(f: java.io.File, what: String): Nothing =
    VersionLog.predatesFormat(f, what,
      s"""TxnTable.upgrade(spark, "${f.getParent}")""")

  // anything but this entry shape is a parse error, never a guessed
  // file path (a corrupted or foreign-format line must fail loudly
  // here, not as a confusing read error later, and must never make
  // vacuum misjudge what's referenced)
  private val entryPat =
    """\{"path":"([^"]+)","bytes":(\d+),"rows":(-?\d+),"stats":\{(.*)\}\}""".r
  private val statPat = """"([^"]+)":\[(-?\d+),(-?\d+)\]""".r
  // manifest METADATA header lines, all three on every manifest: the
  // table's physical schema, the epoch anchors, and the commit
  // wall-clock timestamp
  private val schemaLinePrefix = """{"schema":"""
  private val epochsLinePrefix = """{"epochs":"""
  private val tsLinePrefix = """{"ts":"""
  private val headerPrefixes =
    Seq(schemaLinePrefix, epochsLinePrefix, tsLinePrefix)
  // DELTA manifest vocabulary: a manifest carrying this marker lists
  // only its commit's CHANGES — `{"remove":"<path>"}` lines for files
  // rewritten away plus ordinary entry lines for files added — and
  // resolves against its predecessor. Mutations of a 100 TB table
  // touch O(changed) files; rendering the full live set (10⁵ entries,
  // ~10 MB) per commit would make commit metadata cost O(live files),
  // per streaming trigger — the write-side twin of the footer walks
  // the stats/schema channels killed on the read side. Full-snapshot
  // manifests remain the format of init/optimize/restore (commits
  // that replace the whole live set anyway).
  private val deltaMarker = """{"delta":true}"""
  private val removePat = """\{"remove":"([^"]+)"\}""".r

  /** The metadata header of one committed manifest:
    *  - `schema`: the table's full PHYSICAL schema as of that version
    *    (recorded at commit — the write-time union of the prior
    *    version's schema and the new data's columns), so reads plan
    *    with an explicit schema instead of a mergeSchema footer walk
    *    over every live file (O(files) round trips on an object
    *    store, per read — the same class of walk the stats channel
    *    killed for mutation planning);
    *  - `epochs`: base → epoch version ANCHORS — which
    *    constraints/colmap epoch is in force at this version. Folding
    *    the anchor into the manifest makes epoch ACTIVATION atomic
    *    with the commit: an orphaned epoch file (a declare that lost
    *    its version slot and crashed before rollback) is referenced
    *    by no committed manifest and therefore can never be silently
    *    activated by a later writer taking that version number —
    *    closing the lost-publish phantom window structurally.
    *  - `ts`: the commit wall-clock instant, recorded at publish.
    *    `TIMESTAMP AS OF` and the vacuum retention guard key off it:
    *    filesystem mtime is NOT durable metadata (an rsync, a backup
    *    restore, an object-store migration rewrites it), so keying
    *    time travel off mtime would silently shift answers after a
    *    routine migration.
    *  - `delta`: whether the manifest is a change record (resolved
    *    against its predecessor) or a full snapshot.
    * Committed manifests are immutable, so all parse once per
    * (dir, version) and cache. */
  private final case class ManifestMeta(
      schema: org.apache.spark.sql.types.StructType,
      epochs: Map[String, Int], ts: Long, delta: Boolean)

  private val metaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int), ManifestMeta]()

  private def manifestMeta(dir: String, v: Int): ManifestMeta = {
    val key = (dir, v)
    val hit = metaCache.get(key)
    if (hit != null) return hit
    val lines = manifestLines(dir, v)
    val r = ManifestMeta(schemaOf(lines).get, epochsOf(lines).get,
      tsOf(lines).get, lines.contains(deltaMarker))
    if (metaCache.size > 10000) metaCache.clear()
    metaCache.put(key, r)
    r
  }

  // the header decoders (None = the line is absent)
  private def header(lines: Seq[String], prefix: String): Option[String] =
    lines.find(_.startsWith(prefix)).map(_.stripPrefix(prefix))
  private def schemaOf(lines: Seq[String]) = header(lines, schemaLinePrefix)
    .map(h => org.apache.spark.sql.types.DataType.fromJson(h.dropRight(1))
      .asInstanceOf[org.apache.spark.sql.types.StructType])
  private def epochsOf(lines: Seq[String]) = header(lines, epochsLinePrefix)
    .map(""""([A-Za-z]+)":(\d+)""".r.findAllMatchIn(_)
      .map(m => m.group(1) -> m.group(2).toInt).toMap)
  private def tsOf(lines: Seq[String]) =
    header(lines, tsLinePrefix).map(_.stripSuffix("}").trim.toLong)

  /** The table's recorded PHYSICAL schema at version `v`. */
  private[graft] def physSchemaAt(dir: String,
      v: Int): org.apache.spark.sql.types.StructType =
    manifestMeta(dir, v).schema

  /** Forget the cached manifest metadata, epoch sets and live sets of
    * `dir` — after [[upgrade]] (or a probe) rewrote manifests in place,
    * breaking the immutability premise the caches rest on. */
  private[graft] def dropCaches(dir: String): Unit = {
    metaCache.keySet.removeIf(_._1 == dir)
    epochCache.keySet.removeIf(_._1 == dir)
    entriesCache.keySet.removeIf(_._1 == dir)
    ()
  }

  /** Union for schema evolution at commit time: keeps the base
    * column order (and spellings — matching is case-insensitive, like
    * Spark's resolver), appends genuinely new columns, and refuses a
    * type change loudly — silently re-typing a column would corrupt
    * every older file's reads. Everything is nullable: rows from
    * before a column existed read as null. */
  private[graft] def unionSchema(
      base: org.apache.spark.sql.types.StructType,
      add: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val byLower = base.fields.map(f => f.name.toLowerCase -> f).toMap
    add.fields.foreach { f =>
      byLower.get(f.name.toLowerCase).foreach { b =>
        // catalogString ignores nullability — the comparison SQL's
        // type system actually cares about
        require(b.dataType.catalogString == f.dataType.catalogString,
          s"schema evolution cannot change column '${b.name}' from " +
            s"${b.dataType.catalogString} to ${f.dataType.catalogString}")
      }
    }
    val extra = add.fields.filterNot(f => byLower.contains(f.name.toLowerCase))
    org.apache.spark.sql.types.StructType(
      (base.fields ++ extra).map(_.copy(nullable = true)))
  }

  /** The trimmed lines of manifest `v`, under the TORN-TAIL GUARD and
    * the format check. Every manifest is rendered as an array, `[` …
    * `]`: a truncation that happens to cut at a LINE boundary — or at
    * zero bytes — would otherwise parse as a valid, silently SHORTER
    * live set (an empty delta drops its predecessor chain: a
    * zero-byte v2 resolves v3 to v3's own adds) — the torn shapes a
    * per-line parse cannot catch (mid-line tears die loudly as
    * unparseable lines). The publish seam itself cannot tear (tmp is
    * fully written before the link/move), so this is external-damage
    * detection, and loud is the contract. A manifest missing any
    * header line predates the current format (`current` checks). */
  private def manifestLines(dir: String, v: Int,
      current: Boolean = true): Seq[String] = {
    val f = manifestLog.file(dir, v)
    if (!f.exists()) sys.error(s"no manifest v$v under $dir")
    val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val body = txt.trim
    if (!body.startsWith("[") || !body.endsWith("]")) sys.error(
      s"torn manifest ${f.getPath} (empty or unterminated body) — " +
        "restore it to recover")
    val lines = txt.split('\n').toSeq.map(_.trim.stripSuffix(","))
    if (current) headerPrefixes.find(p => header(lines, p).isEmpty)
      .foreach(p => needsUpgrade(f, s"no ${p.drop(2).dropRight(2)} header"))
    lines
  }

  private def statsOf(body: String): Map[String, (Long, Long)] =
    statPat.findAllMatchIn(body).map(m =>
      m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap

  /** One entry line of a manifest or checkpoint (`kind`) `f`. */
  private def parseEntry(line: String, kind: String,
      f: java.io.File): FileEntry =
    line match {
      case entryPat(path, bytes, rows, statsBody) =>
        FileEntry(path, bytes.toLong, statsOf(statsBody), rows.toLong)
      case _ => sys.error(s"unparseable $kind line in ${f.getPath}: '$line' " +
        "(a table written before the current on-disk format needs one " +
        "TxnTable.upgrade call)")
    }

  /** Parse one manifest file body. Left(entries) for a full-snapshot
    * manifest; Right((adds, removes)) for a delta. One entry per
    * line; unrecognized lines are a loud error. */
  private def parseManifestBody(dir: String, v: Int)
      : Either[Seq[FileEntry], (Seq[FileEntry], Set[String])] = {
    val f = manifestLog.file(dir, v)
    var isDelta = false
    val adds = Seq.newBuilder[FileEntry]
    val removes = Set.newBuilder[String]
    manifestLines(dir, v).foreach {
      case "" | "[" | "]" =>
      case l if headerPrefixes.exists(l.startsWith) => // metadata header
      case `deltaMarker` => isDelta = true
      case removePat(p) => removes += p
      case line => adds += parseEntry(line, "manifest", f)
    }
    if (isDelta) Right((adds.result(), removes.result()))
    else Left(adds.result())
  }

  /** Resolved live sets, keyed (dir, version). A committed version's
    * live set is immutable (manifests publish exclusively and are
    * never rewritten; vacuum deletes whole manifests, never edits
    * one), so caching is safe; bounded by wholesale clear. Without
    * it, every delta resolution would re-walk its checkpoint + tail
    * — correct, but a per-trigger tax on streaming commits. */
  private val entriesCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int), Seq[FileEntry]]()
  // bound by TOTAL CACHED ENTRIES, not version count: at the 10⁵-files
  // regime one version's live set is already tens of MB, so a
  // version-count bound alone would let a long history() scan retain
  // gigabytes. The counter only grows between wholesale clears
  // (targeted evictions — vacuum, the test seam — leave it high,
  // which merely clears earlier than strictly needed).
  private val entriesCached = new java.util.concurrent.atomic.AtomicLong()
  private def cacheEntries(dir: String, v: Int,
      es: Seq[FileEntry]): Seq[FileEntry] = {
    if (entriesCache.size > 512 || entriesCached.get() > (1L << 20)) {
      // reset BEFORE clear: a concurrent put landing in between is
      // then over-counted (clears earlier than needed — harmless);
      // the reverse order would erase its count while its entries
      // stay cached, silently re-opening the memory bound
      entriesCached.set(0)
      entriesCache.clear()
    }
    if (entriesCache.put((dir, v), es) == null)
      entriesCached.addAndGet(es.size.toLong)
    es
  }

  /** Live file entries of `v` (default: latest), resolved from the
    * newest SNAPSHOT SOURCE at or below `v` — a cached resolution, a
    * `checkpoint-v<K>.json` sidecar, or a full-snapshot manifest —
    * plus the tail of delta manifests up to `v`, applied in order
    * (remove by path, then append adds). Read cost is O(checkpoint +
    * changed files in the tail), and the auto-checkpoint bound
    * ([[CheckpointInterval]]) keeps the tail short. Every version
    * resolved along the way is cached, so ascending scans (history,
    * CDC followers) pay each delta once. */
  def liveEntries(dir: String, v: Int = -1): Seq[FileEntry] = {
    val rv = if (v < 0) version(dir) else v
    val hit = entriesCache.get((dir, rv))
    if (hit != null) return hit
    // descend to the nearest snapshot source, collecting delta frames
    var frames = List.empty[(Int, Seq[FileEntry], Set[String])] // oldest first
    var cur = rv
    var base: Seq[FileEntry] = null
    while (base == null) {
      if (cur < 1) sys.error(s"no manifest v$rv under $dir")
      val c = entriesCache.get((dir, cur))
      if (c != null) base = c
      else readCheckpoint(dir, cur) match {
        case Some(es) => base = cacheEntries(dir, cur, es)
        case None => parseManifestBody(dir, cur) match {
          case Left(es) => base = cacheEntries(dir, cur, es)
          case Right((adds, removes)) =>
            frames = (cur, adds, removes) :: frames
            cur -= 1
        }
      }
    }
    frames.foldLeft(base) { case (acc, (fv, adds, removes)) =>
      cacheEntries(dir, fv, acc.filterNot(e => removes(e.path)) ++ adds)
    }
  }

  /** Live file list (relative paths) of `v` (default: latest). */
  def liveFiles(dir: String, v: Int = -1): Seq[String] =
    liveEntries(dir, v).map(_.path)

  /** Exact row count of version `v` from manifest METADATA alone —
    * O(manifest), no scan (footers recorded the count at commit
    * time). None when any live entry was committed without a footer
    * pass (no declared stats columns): an unknown must surface as
    * unknown, never as a number. Serves
    * COUNT(*)-grade questions (also over the maintenance history
    * endpoint); a cube registered over a TxnTable can feed it into
    * `CostModel(fixedRows = ...)` at registry build to make variant
    * ranking and key-ship sizing data-driven — that wiring is the
    * registry author's choice, not automatic. */
  def rowCount(dir: String, v: Int = -1): Option[Long] = {
    val es = liveEntries(dir, v)
    if (es.exists(_.rows < 0)) None else Some(es.map(_.rows).sum)
  }

  /** Commit `v` atomically — and EXCLUSIVELY ([[VersionLog.publish]]):
    * two writers racing to publish the same version cannot both land;
    * exactly one wins, the other gets ConcurrentModificationException
    * and must re-plan against the winner's manifest. This is
    * optimistic concurrency control, the protocol every manifest-log
    * table format uses; on an object store the same contract comes
    * from a put-if-absent on the manifest key. `newCols`: the schema
    * of the data this commit wrote, unioned into the carried one. */
  private[graft] def writeManifest(dir: String, v: Int,
      entries: Seq[FileEntry],
      newCols: Option[org.apache.spark.sql.types.StructType] = None,
      epochUpdate: Option[(String, Int)] = None): Unit =
    publishManifestBody(dir, v,
      buildHeader(dir, v, newCols, epochUpdate), entries)

  /** Commit version `v` as a DELTA manifest: only this commit's
    * changes are rendered — `removes` (paths rewritten away) and
    * `adds` (fresh entries) — so commit metadata cost is O(changed
    * files), not O(live files). Same exclusive publish, same header
    * carry-forward as [[writeManifest]]. After a successful publish
    * the delta tail length is checked and a checkpoint written when
    * it reaches [[CheckpointInterval]] — bounding every later read's
    * resolution walk. */
  private[graft] def writeDelta(dir: String, v: Int,
      adds: Seq[FileEntry], removes: Seq[String],
      newCols: Option[org.apache.spark.sql.types.StructType] = None,
      epochUpdate: Option[(String, Int)] = None): Unit = {
    val body = buildHeader(dir, v, newCols, epochUpdate) ++
      (deltaMarker +: removes.sorted.map(p => s"""{"remove":"$p"}""")) ++
      adds.map(entryLine)
    publishLines(dir, v, body)
    maybeCheckpoint(dir, v)
  }

  /** The metadata header a commit at `v` writes: the schema carried
    * from v-1 unioned with `newCols` ([[unionSchema]] — the physical
    * schema only grows), the epoch anchors carried from v-1 overlaid
    * with this commit's own epoch, if any, and the commit instant,
    * never below v-1's ([[VersionLog.nextTs]]). The anchors line is
    * ALWAYS written, even empty: a manifest says explicitly which
    * epoch is in force, so an orphaned epoch file is never resolved.
    * A v-1 written before the current format fails loudly here, so
    * no writer commits on top of a log [[upgrade]] has not rewritten. */
  private def buildHeader(dir: String, v: Int,
      newCols: Option[org.apache.spark.sql.types.StructType],
      epochUpdate: Option[(String, Int)]): Seq[String] =
    if (v == 1) renderHeader(newCols.getOrElse(sys.error(
      s"the first commit under $dir needs a schema")), epochUpdate.toMap,
      System.currentTimeMillis())
    else {
      val prior = manifestMeta(dir, v - 1)
      renderHeader(newCols.fold(prior.schema)(unionSchema(prior.schema, _)),
        prior.epochs ++ epochUpdate, VersionLog.nextTs(prior.ts))
    }

  /** ONE renderer for the manifest metadata header (schema line +
    * commit-timestamp line + epoch-anchor line) — [[buildHeader]]'s
    * carry-forward path and [[restore]]'s replaced header must never
    * drift apart. */
  private def renderHeader(schema: org.apache.spark.sql.types.StructType,
      anchors: Map[String, Int], tsMillis: Long): Seq[String] =
    Seq(s"""{"schema":${schema.json}}""", s"""{"ts":$tsMillis}""",
      anchors.toSeq.sortBy(_._1)
        .map { case (b, k) => s""""$b":$k""" }
        .mkString("""{"epochs":{""", ",", "}}"))

  private def entryLine(e: FileEntry): String = {
    val stats = e.stats.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
      s""""$c":[$lo,$hi]""" }.mkString(",")
    s"""{"path":"${e.path}","bytes":${e.bytes},"rows":${e.rows},"stats":{$stats}}"""
  }

  /** Render + exclusively publish one full-snapshot manifest (shared
    * by [[writeManifest]]'s carry-forward header and [[restore]]'s
    * replaced header). */
  private def publishManifestBody(dir: String, v: Int,
      header: Seq[String], entries: Seq[FileEntry]): Unit =
    publishLines(dir, v, header ++ entries.map(entryLine))

  private def publishLines(dir: String, v: Int, lines: Seq[String]): Unit =
    publishManifest(dir, v,
      lines.mkString("[\n", ",\n", "\n]").getBytes("UTF-8"))

  /** The one manifest publish every commit goes through. */
  private[graft] def publishManifest(dir: String, v: Int,
      body: Array[Byte]): Unit =
    manifestLog.publish(dir, v, body)(
      throw new java.util.ConcurrentModificationException(
        s"manifest v$v already committed under $dir — a concurrent " +
          "writer won; re-read the latest version and re-plan"))

  /** A delta tail longer than this gets a checkpoint: resolution
    * reads O(checkpoint + tail), so the interval bounds every
    * reader's walk while keeping per-commit metadata O(changed
    * files). 8 ≈ Delta Lake's every-10-commits checkpoint cadence. */
  val CheckpointInterval: Int = 8

  /** Write `checkpoint-v<K>.json` — the resolved live set of
    * committed version `cv` (default: latest) as a SIDECAR snapshot.
    * Not a commit: checkpoints are derivable, idempotent (content is
    * a pure function of the committed log) and re-writable, so a
    * plain atomic move (replace OK — two racers write identical
    * content) suffices; losing one costs resolution depth, never
    * correctness. Returns the checkpointed version. */
  def checkpoint(dir: String, v: Int = -1): Int = {
    val cv = if (v < 0) version(dir) else v
    // a nonexistent target is a CLIENT error (400 over the wire),
    // never the internal manifest-missing failure liveEntries raises
    if (!manifestLog.exists(dir, cv))
      throw new IllegalArgumentException(
        s"cannot checkpoint $dir at v$cv: no such committed version")
    val es = liveEntries(dir, cv)
    val body = (s"""{"checkpoint":$cv}""" +: es.map(entryLine))
      .mkString("[\n", ",\n", "\n]")
    AtomicFiles.replace(dir, s"checkpoint-v$cv.json", body)
    cv
  }

  /** Whether version `v` has a checkpoint sidecar — the ops/audit
    * surface (`op=history` labels checkpointed versions so an
    * operator can see the resolution bases at a glance). */
  def hasCheckpoint(dir: String, v: Int): Boolean =
    fileOf(dir, s"checkpoint-v$v.json").exists()

  private def readCheckpoint(dir: String,
      v: Int): Option[Seq[FileEntry]] = {
    val f = fileOf(dir, s"checkpoint-v$v.json")
    if (!f.exists()) return None
    val txt = new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    // same torn-tail guard as the manifest parse: a line-boundary
    // truncation must not read as a valid shorter snapshot
    if (txt.startsWith("[") && !txt.trim.endsWith("]")) sys.error(
      s"torn checkpoint file ${f.getPath} (unterminated body) — " +
        "delete it to recover (checkpoints are derivable)")
    val lines = txt.split('\n').map(_.trim.stripSuffix(","))
      .filterNot(l => l.isEmpty || l == "[" || l == "]")
    if (!lines.headOption.contains(s"""{"checkpoint":$v}"""))
      sys.error(s"corrupt checkpoint file ${f.getPath} (missing " +
        "header) — delete it to recover (checkpoints are derivable)")
    Some(lines.drop(1).toSeq.map(parseEntry(_, "checkpoint", f)))
  }

  /** Post-publish: checkpoint `v` when the delta tail behind it has
    * reached [[CheckpointInterval]]. NEVER throws — the commit is
    * already published and the caller must not mistake a failed
    * (derivable, retryable-any-time) checkpoint for a failed commit;
    * a missed checkpoint costs the next resolutions a longer walk
    * until a later commit's attempt succeeds. */
  private def maybeCheckpoint(dir: String, v: Int): Unit =
    try {
      var k = v
      var tail = 0
      while (tail < CheckpointInterval && k >= 1 &&
          !fileOf(dir, s"checkpoint-v$k.json").exists() &&
          manifestMeta(dir, k).delta) { tail += 1; k -= 1 }
      if (tail >= CheckpointInterval) { checkpoint(dir, v); () }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Test hook: runs after a mutation has planned + rewritten but
    * BEFORE it publishes its manifest — the window in which a
    * concurrent writer's commit must force this one to re-plan. */
  private[graft] var onBeforeCommit: () => Unit = () => ()

  /** Run `body(plannedVersion)` with bounded optimistic-concurrency
    * retry: the body must plan from `plannedVersion`'s manifest and
    * publish at `plannedVersion + 1`; on a publish collision it is
    * re-invoked against the new latest version. Each losing attempt
    * orphans its commit dir (vacuum-collected). A `rewrite` (the
    * content-invisible [[optimize]], [[optimizeRange]], [[compactSmall]])
    * first waits out this process's commits retrying a lost round on
    * `dir` (bounded by their retries): a rewrite loop committing faster
    * than a mutation plans would otherwise starve it. */
  private[graft] def withOcc[T](dir: String, maxRetries: Int = 4,
      rewrite: Boolean = false)(body: Int => T): T = {
    var last: java.util.ConcurrentModificationException = null
    var attempt = 0
    var waiting: java.util.concurrent.atomic.AtomicInteger = null
    try {
      while (attempt <= maxRetries) {
        if (rewrite) Option(retrying.get(dir))
          .foreach(w => while (w.get() > 0) Thread.sleep(10))
        val planned = version(dir)
        try return body(planned)
        catch {
          case e: java.util.ConcurrentModificationException =>
            if (!rewrite && waiting == null) {
              waiting = retrying.computeIfAbsent(dir,
                _ => new java.util.concurrent.atomic.AtomicInteger())
              waiting.incrementAndGet()
            }
            last = e; attempt += 1
        }
      }
      throw last
    } finally if (waiting != null) waiting.decrementAndGet()
  }

  /** Per table, the commits of this process retrying a lost round. */
  private val retrying = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicInteger]()

  /** Columns whose stats every commit records into the manifest —
    * declared once at [[init]] (`table.json`), extended automatically
    * by the key column of any mutation (so the first delete on a new
    * key column upgrades the table for all later ones). */
  def statsCols(dir: String): Seq[String] = {
    val f = fileOf(dir, "table.json")
    if (!f.exists()) Nil
    else """"([^"]+)"""".r
      .findAllMatchIn(new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .dropWhile(_ != '[')).map(_.group(1)).toSeq
  }

  /** The declared stats columns under their CURRENT LOGICAL spellings
    * (dropped columns omitted): `table.json` persists physical names
    * — [[colsWith]] appends each mutation's physical key — while the
    * maintenance API speaks logical, so a default built from raw
    * [[statsCols]] would address renamed-away spellings and fail
    * loudly after any rename. */
  def logicalStatsCols(dir: String): Seq[String] = {
    val m = colMapAt(dir, version(dir)).toMap
    statsCols(dir).flatMap(p => m.getOrElse(p, Some(p)))
  }

  private def writeStatsCols(dir: String, cols: Seq[String]): Unit = {
    // atomic replace: a torn table.json would read as a SHORTER stats
    // set — perf-only (stats gate pruning, never correctness), but a
    // key-column upgrade silently lost to a tear is a lasting
    // whole-table-rewrite tax on every later mutation of that key
    val body = cols.distinct.map("\"" + _ + "\"")
      .mkString("{\"statsCols\":[", ",", "]}")
    try AtomicFiles.replace(dir, "table.json", body)
    catch {
      // filesystems without atomic replace (some network/object-store
      // mounts): stats are perf-only, so degrade to a plain replace
      // rather than hard-fail the calling mutation
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        java.nio.file.Files.write(fileOf(dir, "table.json").toPath,
          body.getBytes("UTF-8"))
        ()
    }
  }

  /** CHECK constraints (the lakehouse expectations channel): declared
    * SQL predicates every incoming row of every future commit must
    * satisfy — the operational guard against a malformed CDC batch
    * landing in the table. Semantics follow SQL CHECK: a row violates
    * only when the predicate is FALSE (NULL passes). Enforcement runs
    * BEFORE any file is written, so a rejected batch leaves no
    * version, no orphan files, and nothing to vacuum; the cost is one
    * short-circuit job over the incoming frame per mutation, and zero
    * when no constraints are declared.
    *
    * Declare a constraint. The constraint set RIDES THE MANIFEST LOG:
    * a declaration commits a new table version (same file entries,
    * new constraint epoch), so it is serialized against every
    * mutation by the same OCC publish that serializes mutations
    * against each other. That closes the declare-vs-in-flight-writer
    * window structurally: if a mutation that validated the OLD set
    * commits the version slot first, THIS declare loses the publish,
    * retries, and re-validates the snapshot INCLUDING the mutation's
    * rows (failing loudly if they violate); if the declare commits
    * first, the mutation's publish loses and its OCC retry re-runs
    * enforcement against the NEW set. Either way no committed row
    * ever violates a declared constraint. It also makes concurrent
    * declarations lost-update-free (each epoch slot is claimed
    * exclusively) and gives time travel the constraint set that was
    * in force at any version ([[constraintsAt]]). */
  def addConstraint(s: SparkSession, dir: String, name: String,
      predicate: String): Unit = {
    require(name.nonEmpty && predicate.nonEmpty,
      "constraint name and predicate must be non-empty")
    require(!name.exists(c => c == '"' || c == '\n') &&
      !predicate.exists(c => c == '"' || c == '\n'),
      "constraint names and predicates must not contain quotes or newlines")
    withOcc(dir) { planned =>
      val cur = constraintsAt(dir, planned)
      require(cur.forall(_._1 != name),
        s"constraint '$name' already exists on $dir")
      // must hold on the snapshot this declaration commits against: a
      // constraint the table already violates would poison every
      // future mutation
      val bad = read(s, dir, planned).filter(s"NOT ($predicate)")
        .limit(1).count()
      if (bad > 0) throw new IllegalArgumentException(
        s"constraint '$name' ($predicate) is violated by existing rows — " +
          "clean the table first, then declare it")
      commitConstraintEpoch(dir, planned, cur :+ (name, predicate))
    }
  }

  def dropConstraint(dir: String, name: String): Unit =
    withOcc(dir) { planned =>
      val cur = constraintsAt(dir, planned)
      // dropping an undeclared name commits NOTHING — a no-op must
      // not burn a version slot (and a pointless epoch file)
      if (cur.exists(_._1 == name))
        commitConstraintEpoch(dir, planned, cur.filterNot(_._1 == name))
    }

  /** Publish `cs` as the constraint set effective from version
    * `planned + 1`: claim the epoch file exclusively, then commit
    * manifest `planned + 1` carrying the previous version's file
    * entries unchanged. The epoch file must exist BEFORE the manifest
    * that activates it (readers gate on the committed manifest, so
    * the pre-commit file is invisible); if the manifest publish loses
    * to a concurrent writer the claim is rolled back — it must not
    * outlive the lost commit, or a later mutation committing that
    * version number would activate an orphaned set. */
  private def commitConstraintEpoch(dir: String, planned: Int,
      cs: Seq[(String, String)]): Unit =
    commitMetaEpoch(dir, planned, "constraints",
      cs.map { case (n, p) => s"""{"name":"$n","predicate":"$p"}""" })

  /** Commit versioned table METADATA (a constraint set, a column
    * mapping) as its own manifest version: claim the epoch file
    * exclusively, then commit manifest `planned + 1` carrying the
    * previous version's file entries unchanged. On a lost manifest
    * publish the claim is rolled back — it must not outlive the lost
    * commit, or a later writer committing that version number would
    * activate an orphaned set. */
  private def commitMetaEpoch(dir: String, planned: Int, base: String,
      lines: Seq[String]): Unit = {
    val k = planned + 1
    publishEpochFile(dir, base, k, lines)
    // roll the claim back on ANY failed manifest commit (not just a
    // lost race): an orphaned epoch file would be silently ACTIVATED
    // by the next ordinary mutation committing version k — a
    // constraint/mapping that never passed through a successful
    // declare. (A hard crash between claim and commit is the same
    // micro-window the manifest publish itself documents — no Spark
    // work in between — and the recovery message names the file.)
    // the manifest ANCHORS the epoch it activates — readers resolve
    // the set through the committed manifest, never the bare file.
    // A metadata epoch carries its predecessor's file entries
    // UNCHANGED — the empty delta, O(1) metadata regardless of table
    // size (a constraint declare on a 10⁵-file table must not render
    // 10 MB of unchanged entries).
    // the test seam runs INSIDE the rollback scope: any live-process
    // failure between claim and manifest — not only a lost publish —
    // must release the claim (a hard crash stays the documented
    // micro-window whose recovery message names the file)
    try { onBeforeCommit()
      writeDelta(dir, k, Nil, Nil, epochUpdate = Some(base -> k)) }
    catch { case e: Throwable =>
      java.nio.file.Files.deleteIfExists(
        fileOf(dir, s"$base-v$k.json").toPath)
      // heal any reader that resolved the claim in the lost-publish
      // window (claim visible + winner's manifest committed, before
      // this rollback): their cached answer names a set that was
      // never declared, and a poisoned entry would wedge later
      // declares with phantom 'already exists' failures. The stamp
      // bump fences readers mid-computation: one that listed the
      // orphan before this delete cannot re-insert after the purge.
      epochStamp.incrementAndGet()
      epochCache.keySet.removeIf(key =>
        key._1 == dir && key._2 == base && key._3 >= k)
      throw e
    }
  }

  /** Exclusive claim + fill of `<base>-v<k>.json` (full set, one
    * header + one line per entry). Hard-link claim = the file
    * appears complete or not at all; the no-link fallback claims a
    * transient `.lock` side file (O_CREAT|O_EXCL), exists-checks
    * inside it, and atomic-moves the COMPLETE file into place — the
    * target never exists partially filled. A crash between claim and
    * move leaves only the stale `.lock` (the error path names it for
    * recovery), and epoch k stays invisible regardless until
    * manifest v<k> commits. */
  private def publishEpochFile(dir: String, base: String, k: Int,
      lines: Seq[String]): Unit =
    // the header CARRIES THE LINE COUNT: an epoch file has no closing
    // token, so a truncation at a line boundary after the header
    // would otherwise parse as a valid, silently SHORTER set — for a
    // colmap that resurrects a renamed-away physical column, for
    // constraints it silently stops enforcing one. The count makes
    // that torn shape loud.
    AtomicFiles.publishExclusive(dir, s"$base-v$k.json",
      (s"""{"epoch":$k,"n":${lines.size}}""" +: lines)
        .mkString("", "\n", "\n").getBytes("UTF-8"))(
      lostEpochSlot(dir, base, k))

  /** A concurrent declaration holds this epoch slot. Wait briefly for
    * its manifest to land (so the withOcc retry re-plans against a
    * NEW version instead of spinning its bounded retries against the
    * same one), then signal the collision. */
  private def lostEpochSlot(dir: String, base: String, k: Int): Nothing = {
    val deadline = System.nanoTime() + 2000000000L
    while (version(dir) < k && System.nanoTime() < deadline)
      Thread.sleep(10)
    throw new java.util.ConcurrentModificationException(
      s"$base epoch v$k under $dir already claimed by a concurrent " +
        "declaration" +
        (if (version(dir) < k)
          s" that has not committed (crashed? delete $base-v$k.json" +
            " to recover)" else "") + "; re-planning")
  }

  /** Epoch sets are IMMUTABLE once their version is committed: a new
    * epoch can only claim a slot ABOVE the current latest version, so
    * the "highest epoch <= v" answer for a committed v never changes
    * — cached per (dir, base, v) to keep mutation-heavy paths (a
    * streaming sink committing per trigger) from re-listing and
    * re-parsing the table root on every read. Bounded: cleared
    * wholesale past 10k entries (a restart-grade event, not a
    * correctness one). */
  private val epochCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Int), Option[Seq[String]]]()
  /** Bumped by every cache heal: an epochLinesAt computation that
    * STARTED before a heal must not re-insert its (possibly poisoned)
    * answer after the heal ran — the put is gated on the stamp it
    * read before computing. */
  private val epochStamp = new java.util.concurrent.atomic.AtomicLong()

  /** The committed `<base>-v<k>.json` lines (header stripped) in
    * force at version `v`: the epoch the ANCHOR CHANNEL names — the
    * highest committed manifest <= v lists the epoch in force, so
    * activation rides the committed manifest and an orphaned epoch
    * file (a lost-then-crashed declare) can never be resolved. An
    * anchor survives the vacuum of the manifest that declared it
    * (every later manifest carries it forward). None = no epoch
    * declared yet. */
  private def epochLinesAt(dir: String, base: String,
      v: Int): Option[Seq[String]] = {
    val key = (dir, base, v)
    val hit = epochCache.get(key)
    if (hit != null) return hit
    val stamp = epochStamp.get()
    val maxCommitted = manifestLog.head(dir).getOrElse(0)
    // an in-flight v (planned + 1, mid-declare) resolves through the
    // latest COMMITTED manifest — the pre-declare answer, by
    // construction. LIST-FREE: versions are consecutive, so the
    // highest committed manifest <= v is min(v, head)
    val mv = math.min(v, maxCommitted)
    val r =
      if (mv < 1) None
      else manifestMeta(dir, mv).epochs.get(base)
        .map(k => epochFileLines(dir, base, k))
    if (epochCache.size > 10000) epochCache.clear()
    // only a COMMITTED version's answer is immutable: caching an
    // in-flight v would pin the pre-declare answer for the version a
    // racing declare is about to commit
    if (epochStamp.get() == stamp && v <= maxCommitted)
      epochCache.put(key, r)
    r
  }

  /** Read committed epoch `k`'s lines (header verified + stripped).
    * An ANCHORED epoch file that is missing is a loud error — vacuum
    * never deletes epoch files, so absence means external damage. */
  private def epochFileLines(dir: String, base: String,
      k: Int): Seq[String] = {
    val f = fileOf(dir, s"$base-v$k.json")
    if (!f.exists()) sys.error(
      s"missing $base epoch file ${f.getPath} referenced by a " +
        "committed manifest — restore it to recover")
    val lines = new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
    val hdr = s"""\\{"epoch":$k,"n":(\\d+)\\}""".r
    lines.headOption match {
      case Some(hdr(n)) =>
        // TORN-TAIL GUARD: the header's recorded count catches a
        // line-boundary truncation that would otherwise read as a
        // silently smaller set
        if (lines.size - 1 != n.toInt) sys.error(
          s"torn $base epoch file ${f.getPath} (${lines.size - 1} of " +
            s"$n recorded entries) — restore it to recover")
        lines.drop(1)
      // FORMAT-BUMP HAZARD: the counted header is a one-way on-disk
      // change — a binary predating it parses `{"epoch":k,"n":N}` as
      // corrupt. Never advise deletion here: an anchored epoch file
      // holds committed constraints/colmaps, and deleting one on a
      // rolled-back binary's say-so silently drops them (see
      // README.md "On-disk format compatibility").
      case _ => sys.error(s"unreadable $base epoch file ${f.getPath} " +
        "(missing or unrecognized header). A table written before the " +
        "counted header needs one TxnTable.upgrade call; if it was " +
        "written by a newer binary, upgrade this binary instead of " +
        "touching the file — deleting an epoch file drops committed " +
        s"$base declarations permanently")
    }
  }

  /** The constraint set in force at committed version `v`. A root
    * `constraints.json` (the flat set of tables predating the epoch
    * channel) is refused while no epoch is in force, never silently
    * ignored: ignoring it would stop enforcing its constraints. */
  def constraintsAt(dir: String, v: Int): Seq[(String, String)] = {
    val pat = """\{"name":"([^"]+)","predicate":"([^"]+)"\}""".r
    epochLinesAt(dir, "constraints", v).getOrElse {
      val flat = fileOf(dir, "constraints.json")
      if (flat.exists()) needsUpgrade(flat, "root constraint file")
      Nil
    }.map {
      case pat(n, p) => (n, p)
      case line => sys.error(
        s"unparseable constraint line in $dir constraints epoch: '$line'")
    }
  }

  /** Declared constraints in force at the latest committed version,
    * in declaration order. */
  def constraints(dir: String): Seq[(String, String)] =
    constraintsAt(dir, version(dir))

  // ---- COLUMN MAPPING (rename / drop without rewriting history) ----
  //
  // Files always carry their column's PHYSICAL name — the name the
  // column had when it first landed — forever ([[optimize]] and
  // compaction rewrite through the physical reader, so the invariant
  // survives every maintenance pass). A rename or drop is pure
  // metadata: a colmap epoch (same manifest-log discipline as the
  // constraint channel) records physical → logical (or physical →
  // dropped), [[read]] projects through the mapping in force at the
  // requested version — so time travel before the rename reads the
  // OLD name — and mutations translate incoming logical columns back
  // to physical before any file is written. This is Delta's column
  // mapping idea re-expressed over the manifest log; it is what lets
  // a CDC feed rename a field without breaking a 100 TB table's
  // readers or rewriting one byte of data.

  /** physical → Some(logical) (renamed) | None (dropped), at
    * committed version `v`. Physicals absent from the map are their
    * own logical name. */
  def colMapAt(dir: String, v: Int): Seq[(String, Option[String])] = {
    val ren = """\{"physical":"([^"]+)","logical":"([^"]+)"\}""".r
    val drp = """\{"physical":"([^"]+)","dropped":true\}""".r
    epochLinesAt(dir, "colmap", v).getOrElse(Nil).map {
      case ren(p, l) => (p, Some(l))
      case drp(p) => (p, None)
      case line => sys.error(
        s"unparseable colmap line under $dir: '$line'")
    }
  }

  private def renderColMap(cm: Seq[(String, Option[String])]): Seq[String] =
    cm.map {
      case (p, Some(l)) => s"""{"physical":"$p","logical":"$l"}"""
      case (p, None) => s"""{"physical":"$p","dropped":true}"""
    }

  /** Rename a column — one committed metadata version, no data file
    * touched. Serialized against mutations and other declarations by
    * the same OCC publish as everything else. Rejected when the old
    * name does not exist, the new name is taken, or an active CHECK
    * constraint would stop analyzing post-rename (drop the constraint
    * first — a constraint that silently stops binding is worse than a
    * refused rename). */
  def renameColumn(s: SparkSession, dir: String, from: String,
      to: String): Unit = {
    require(from.nonEmpty && to.nonEmpty && from != to,
      "rename needs two distinct non-empty names")
    require(!to.exists(c => c == '"' || c == '\n'),
      "column names must not contain quotes or newlines")
    withOcc(dir) { planned =>
      val cm = colMapAt(dir, planned)
      val phys = readPhysical(s, dir, planned).schema.map(_.name).toSeq
      def logicalOf(p: String): Option[String] =
        cm.collectFirst { case (pp, l) if pp == p => l }.getOrElse(Some(p))
      val logicals = phys.flatMap(logicalOf)
      require(logicals.contains(from), s"column '$from' does not exist " +
        s"(visible columns: ${logicals.mkString(", ")})")
      require(!logicals.contains(to), s"column '$to' already exists")
      val p = phys.find(pp => logicalOf(pp).contains(from)).get
      val next = cm.filterNot(_._1 == p) :+ (p -> Some(to))
      validateConstraintsUnder(s, dir, planned, next,
        s"rename '$from' -> '$to'")
      commitMetaEpoch(dir, planned, "colmap", renderColMap(next))
    }
  }

  /** Drop a column — metadata only; history (and time travel before
    * the drop) keeps the data. Same constraint guard as rename. */
  def dropColumn(s: SparkSession, dir: String, name: String): Unit =
    withOcc(dir) { planned =>
      val cm = colMapAt(dir, planned)
      val phys = readPhysical(s, dir, planned).schema.map(_.name).toSeq
      def logicalOf(p: String): Option[String] =
        cm.collectFirst { case (pp, l) if pp == p => l }.getOrElse(Some(p))
      val p = phys.find(pp => logicalOf(pp).contains(name)).getOrElse(
        throw new IllegalArgumentException(
          s"column '$name' does not exist"))
      val next = cm.filterNot(_._1 == p) :+ (p -> None)
      validateConstraintsUnder(s, dir, planned, next, s"drop '$name'")
      commitMetaEpoch(dir, planned, "colmap", renderColMap(next))
    }

  /** Every active constraint must still ANALYZE against the post-
    * change logical schema — an analysis-only check (limit-0 frame,
    * no job). */
  private def validateConstraintsUnder(s: SparkSession, dir: String,
      planned: Int, cm: Seq[(String, Option[String])],
      change: String): Unit = {
    val post = applyColMap(readPhysical(s, dir, planned).limit(0), cm)
    constraintsAt(dir, planned).foreach { case (n, pred) =>
      try { post.filter(pred).queryExecution.analyzed; () }
      catch { case _: Exception =>
        throw new IllegalArgumentException(
          s"$change would break CHECK constraint '$n' ($pred) — " +
            "drop the constraint first")
      }
    }
  }

  /** Project a physical-named frame through a column mapping:
    * dropped physicals disappear, renamed ones alias to their
    * logical name, unmapped ones pass through. A plain select —
    * column pruning and filter pushdown run through it untouched. */
  private def applyColMap(df: DataFrame,
      cm: Seq[(String, Option[String])]): DataFrame =
    if (cm.isEmpty) df
    else {
      val m = cm.toMap
      df.select(df.schema.fields.toSeq.flatMap { f =>
        m.get(f.name) match {
          case Some(None) => None
          case Some(Some(l)) => Some(col(f.name).as(l))
          case None => Some(col(f.name))
        }
      }: _*)
    }

  /** Translate an incoming LOGICAL-named mutation frame to physical
    * names for the write path. Columns that collide with a renamed-
    * away or dropped physical name are rejected loudly: silently
    * accepting them would resurrect dropped data (mergeSchema would
    * merge the new column into the tombstoned physical) or write two
    * physical spellings of one logical column. */
  private def toPhysical(df: DataFrame,
      cm: Seq[(String, Option[String])]): DataFrame =
    if (cm.isEmpty) df
    else {
      // a renamed-away or dropped PHYSICAL spelling is rejected —
      // unless that spelling is currently some OTHER column's LOGICAL
      // name (rename chains like b->c then a->b re-issue old
      // spellings legitimately; the l2p translation below routes them
      // to the right physical)
      val logicalNow = cm.collect { case (_, Some(l)) => l }.toSet
      val gone = cm.collect {
        case (p, None) => p
        case (p, Some(l)) if l != p => p
      }.toSet -- logicalNow
      df.columns.find(gone).foreach(c =>
        throw new IllegalArgumentException(
          s"column '$c' no longer exists under that name (renamed or " +
            "dropped) — write the current logical name"))
      // ONE simultaneous projection, never a sequential rename fold:
      // under a rename chain (b->c, a->b) a frame ordered (…, c, b)
      // would have the fold's first step (c->b) collide with the
      // still-present b before its own step (b->a) ran, yielding
      // duplicate names the write rejects — order-dependently. A
      // select maps every column in the same instant.
      val l2p = cm.collect { case (p, Some(l)) => l -> p }.toMap
      df.select(df.columns.toSeq.map(c =>
        col(c).as(l2p.getOrElse(c, c))): _*)
    }

  /** The physical spelling of a logical column name — STRICT: a
    * renamed-away or dropped spelling is rejected loudly (unless that
    * spelling is currently some other column's logical name, the
    * rename-chain case), because silently addressing the stale
    * physical would delete/cluster/rewrite the WRONG column. */
  private def physicalName(cm: Seq[(String, Option[String])],
      logical: String): String =
    cm.collectFirst { case (p, Some(l)) if l == logical => p }
      .getOrElse {
        cm.collectFirst { case (p, lo) if p == logical => lo } match {
          case Some(None) => throw new IllegalArgumentException(
            s"column '$logical' was dropped — it cannot be addressed")
          case Some(Some(l)) => throw new IllegalArgumentException(
            s"column '$logical' was renamed to '$l' — address it by " +
              "its current name")
          case None => logical
        }
      }

  /** What a committed version DID: 'constraints' / 'colmap' for
    * metadata epochs (same file entries as their predecessor — no
    * data touched), 'data' otherwise. Fills the operation column of
    * DESCRIBE HISTORY. Resolved through the manifest's epoch ANCHORS
    * — a version is an epoch commit iff its own manifest anchors an
    * epoch AT that version — so an orphaned epoch file (a crashed lost
    * declare) cannot mislabel the data commit that took its slot. */
  def versionKind(dir: String, v: Int): String = {
    val m = manifestMeta(dir, v).epochs
    if (m.get("constraints").contains(v)) "constraints"
    else if (m.get("colmap").contains(v)) "colmap"
    else "data"
  }

  /** Reject `incoming` if any declared constraint is FALSE on any of
    * its rows — one short-circuit (limit-1) job, run before anything
    * is written. The error names the first violated constraint.
    * Constraints are judged against the batch AS IT WILL READ BACK:
    * columns the batch omits are aligned in as typed NULLs (the
    * schema-evolution contract), so `v >= 0` passes a v-less batch
    * (NULL passes, SQL CHECK) while `v IS NOT NULL` correctly rejects
    * it — a skip-on-unresolved shortcut would silently wave the
    * latter through. A predicate that STILL fails analysis after
    * alignment (e.g. the batch redeclares the column with an
    * incompatible type) fails loudly, never silently passes.
    * Runs INSIDE the mutation's OCC body against the set committed as
    * of `planned`: when a concurrent [[addConstraint]] wins the
    * version slot, the mutation's publish collides and the retry
    * re-enforces against the new set — the structural closure of the
    * declare-vs-in-flight-writer window. */
  private def enforceConstraints(s: SparkSession, dir: String,
      incoming: DataFrame, planned: Int): Unit = {
    val cs = constraintsAt(dir, planned)
    if (cs.nonEmpty) {
      val tableCols = read(s, dir, planned).schema
      val aligned = tableCols.fields.foldLeft(incoming) { (df, f) =>
        if (df.columns.contains(f.name)) df
        else df.withColumn(f.name, lit(null).cast(f.dataType))
      }
      val combined = cs.map { case (_, p) => s"NOT ($p)" }.mkString(" OR ")
      if (aligned.filter(combined).limit(1).count() > 0) {
        val guilty = cs.find { case (_, p) =>
          aligned.filter(s"NOT ($p)").limit(1).count() > 0 }
        throw new IllegalArgumentException(
          s"constraint '${guilty.map(_._1).getOrElse("?")}' " +
            s"(${guilty.map(_._2).getOrElse("?")}) rejected the batch — " +
            "no version was committed")
      }
    }
  }

  /** Write `df` as one immutable commit dir and read the fresh files'
    * footers ONCE for `cols` stats + byte sizes; returns manifest
    * entries. `numFiles <= 0` keeps the frame's own partitioning (a
    * caller-supplied range/Z layout — repartitioning would scatter the
    * clustering the stats pruning depends on). */
  private def commitFiles(s: SparkSession, dir: String, df: DataFrame,
      numFiles: Int, cols: Seq[String]): Seq[FileEntry] = {
    val commit = java.util.UUID.randomUUID().toString
    val out = s"$dir/files/$commit"
    (if (numFiles > 0) df.repartition(numFiles) else df).write.parquet(out)
    val files = Option(new java.io.File(out).listFiles())
      .getOrElse(Array.empty).toSeq
      .filter(_.getName.endsWith(".parquet"))
    // one footer pass yields stats AND exact row counts; a table
    // with no declared stats columns skips the pass and records rows
    // as unknown
    val byPath: Map[String, (Long, Map[String, (Long, Long)])] =
      if (cols.isEmpty) Map.empty
      else Layout.multiStatsWithRows(s, files.map(_.getPath), cols)
        .map { case (p, r, st) => (p, (r, st)) }.toMap
    files.map { f =>
      val (rows, st) = byPath.getOrElse(f.getPath,
        (-1L, Map.empty[String, (Long, Long)]))
      FileEntry(s"files/$commit/${f.getName}", f.length(), st, rows)
    }
  }

  /** Create the table at `dir` from `df` as version 1, recording
    * [min,max] manifest stats for `statsCols` (typically the mutation
    * key and the clustering columns) on this and every later commit. */
  def init(s: SparkSession, dir: String, df: DataFrame,
      numFiles: Int = 8, statsCols: Seq[String] = Nil): Unit = {
    new java.io.File(dir).mkdirs()
    writeStatsCols(dir, statsCols)
    writeManifest(dir, 1, commitFiles(s, dir, df, numFiles, statsCols),
      newCols = Some(df.schema))
  }

  /** Snapshot read of `v` (default: latest), planned with the schema
    * `v` recorded — SCHEMA EVOLUTION: an upsert may carry columns
    * the older commits lack (rows from before the column existed read
    * as null), so a table can grow columns without rewriting history.
    * The result projects through the COLUMN MAPPING in force at `v`
    * ([[colMapAt]]): renamed columns surface under their logical name
    * as of that version — time travel before a rename reads the old
    * name — and dropped columns disappear. */
  def read(s: SparkSession, dir: String, v: Int = -1): DataFrame = {
    val rv = if (v < 0) version(dir) else v
    applyColMap(readPhysical(s, dir, rv), colMapAt(dir, rv))
  }

  /** The raw physical-named scan of `v` — what maintenance rewrites
    * ([[optimize]]) and mutation internals read, so files keep their
    * physical column names forever (the invariant the mapping
    * depends on). Plans with the manifest-recorded schema — ZERO
    * footer I/O. */
  private def readPhysical(s: SparkSession, dir: String,
      v: Int): DataFrame = readSubset(s, dir, v, liveFiles(dir, v))

  /** Read a subset of version `v`'s live files WITH `v`'s recorded
    * schema: columns a pre-evolution file lacks surface as typed
    * nulls, exactly as a mergeSchema read would yield them, without
    * opening a single footer. */
  private def readSubset(s: SparkSession, dir: String, v: Int,
      rels: Seq[String]): DataFrame =
    s.read.schema(physSchemaAt(dir, v)).parquet(rels.map(rel => s"$dir/$rel"): _*)

  /** CDC read — net row-level changes between two committed versions
    * (the lakehouse `table_changes` surface), computed from the
    * MANIFEST FILE DIFF: only files added or removed between the two
    * versions are read; files carried by reference — the overwhelming
    * majority under copy-on-write — are never opened, so the cost is
    * O(commit delta), not O(table). Within the diff, rows identical on
    * both sides (the untouched rows of a rewritten file) cancel via
    * multiset difference (`exceptAll` — a hash aggregate over the
    * delta, no join), leaving exactly the net inserts and deletes;
    * an upsert therefore reads back as delete(old row) + insert(new
    * row). Result carries every data column plus `_change_type`
    * ('insert' | 'delete'). Schema evolution is handled by aligning
    * both sides to the target version's columns (dropped-column
    * history reads as null, same as [[read]]). This is how a
    * downstream consumer (index refresh, sync to a serving store,
    * incremental re-dedup) follows a mutating 100 TB table without
    * rescanning it. */
  def changes(s: SparkSession, dir: String, fromV: Int,
      toV: Int = -1): DataFrame = {
    val fromSet = liveFiles(dir, fromV).toSet
    val rvTo = if (toV < 0) version(dir) else toV
    val toSet = liveFiles(dir, rvTo).toSet
    val removed = (fromSet -- toSet).toSeq.sorted
    val added = (toSet -- fromSet).toSeq.sorted
    val schemaCarrier = read(s, dir, rvTo).limit(0)
    val cmTo = colMapAt(dir, rvTo)
    def side(ps: Seq[String]): DataFrame =
      if (ps.isEmpty) schemaCarrier
      else {
        // files carry physical names; surface them under the TARGET
        // version's logical names before aligning, so a rename is
        // transparent to CDC followers (renamed data matches by
        // logical name instead of reading as spurious null deltas).
        // The read plans with rvTo's recorded schema — the physical
        // schema only grows, so it covers every file live at fromV —
        // keeping the diff footer-free.
        val df = applyColMap(readSubset(s, dir, rvTo, ps), cmTo)
        val have = df.columns.toSet
        df.select(schemaCarrier.schema.map(f =>
          (if (have(f.name)) col(f.name)
           else lit(null).cast(f.dataType)).as(f.name)): _*)
      }
    val rem = side(removed)
    val add = side(added)
    val (a, r) =
      if (schemaCarrier.schema.map(_.dataType.defaultSize).sum
          < DigestDiffMinRowBytes) (add, rem)
      else digestPrune(add, rem)
    a.exceptAll(r).withColumn("_change_type", lit("insert"))
      .unionByName(r.exceptAll(a).withColumn("_change_type",
        lit("delete")))
  }

  /** Row-width gate for [[digestPrune]]: below it the direct exceptAll
    * is cheaper — the digest pass costs one extra scan of each
    * (O(commit delta)) side plus two narrow shuffles, which only pays
    * for itself once the avoided full-width exchanges carry rows
    * meaningfully wider than the 12-byte digest. The bench tables
    * (3 columns ≈ 36 estimated bytes) stay on the direct path —
    * measured locally the digest legs were pure added jobs there. */
  private[graft] val DigestDiffMinRowBytes = 64

  /** Digest pre-pass for the CDC multiset difference (guide §2.3
    * "shuffle keys and metadata instead of payloads"): the exceptAll
    * pair is a hash aggregate KEYED ON EVERY COLUMN, so for wide rows
    * both exchange legs carry the full payload — almost all of it the
    * carried-over rows of rewritten files, which cancel. Aggregate a
    * 96-bit row digest per side first (two narrow shuffles), keep only
    * digests whose per-side multiplicities DIFFER, and run the exact
    * full-column exceptAll on just those rows (a semi-join on the
    * digest). Cancellation is on the digest: two DIFFERENT rows that
    * collide on all 96 bits with matching multiplicities would cancel
    * — at 2⁻⁹⁶ per pair that is beyond any non-adversarial corpus
    * (the dd11/pp01 md5-digest discipline); collisions among the KEPT
    * digests merely add rows to the exact residual pass and cannot
    * change the result. The two digest columns take a prefix no data
    * column starts with, so a user column named `_rd1` cannot collide. */
  private def digestPrune(add: DataFrame,
      rem: DataFrame): (DataFrame, DataFrame) = {
    val dataCols = add.columns.toSeq.map(col)
    val pfx = Iterator.iterate("_rd")("_" + _).find(p =>
      !add.columns.exists(_.toLowerCase.startsWith(p))).get
    val digs = Seq(pfx + "1", pfx + "2")
    def withDig(df: DataFrame): DataFrame = df.select(dataCols
      :+ xxhash64(dataCols: _*).as(digs(0))
      :+ hash(dataCols: _*).as(digs(1)): _*)
    def digCounts(df: DataFrame, as: String): DataFrame =
      withDig(df).groupBy(digs.map(col): _*).agg(count(lit(1)).as(as))
    val hot = digCounts(add, "_ca")
      .join(digCounts(rem, "_cr"), digs, "full_outer")
      .filter(coalesce(col("_ca"), lit(0L))
        =!= coalesce(col("_cr"), lit(0L)))
      .select(digs.map(col): _*)
    // the hot set is O(net change): broadcast it into both side scans
    def keep(df: DataFrame): DataFrame = withDig(df)
      .join(broadcast(hot), digs, "left_semi").select(dataCols: _*)
    (keep(add), keep(rem))
  }

  /** An additive rollup of `df`: row count `n` plus exact
    * DECIMAL(30,6) sums of `sumCols` (named `sum_<col>`) per `keys`
    * group. Decimal, not double, so [[applyCdcDelta]] is EXACTLY equal
    * to a full recompute regardless of merge order — the property that
    * lets a maintained rollup be trusted like a recomputed one. */
  def rollupOf(df: DataFrame, keys: Seq[String],
      sumCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val aggs = count(lit(1)).cast("long").as("n") +:
      sumCols.map(c => sum(col(c).cast(DecimalType(30, 6)))
        .cast(DecimalType(30, 6)).as(s"sum_$c"))
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Incremental view maintenance from CDC: fold a [[changes]] frame
    * into a [[rollupOf]]-shaped rollup — inserts add, deletes
    * subtract, groups whose count reaches zero disappear. The work is
    * O(commit delta) + a merge keyed on the (small) rollup, never a
    * rescan of the table: the downstream cube follows a mutating
    * 100 TB source at the cost of the mutation, which is the entire
    * point of emitting CDC. Exactness: decimal arithmetic makes
    * delta-application ≡ full recompute (spec-pinned), so the
    * maintained rollup never drifts. */
  def applyCdcDelta(prior: DataFrame, ch: DataFrame, keys: Seq[String],
      sumCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val sign = when(col("_change_type") === "insert", lit(1L))
      .otherwise(lit(-1L))
    val deltaAggs = sum(sign).cast("long").as("n") +:
      sumCols.map(c => sum(sign * col(c).cast(DecimalType(30, 6)))
        .cast(DecimalType(30, 6)).as(s"sum_$c"))
    val delta = ch.groupBy(keys.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
    val mergedAggs = sum(col("n")).cast("long").as("n") +:
      sumCols.map(c => sum(col(s"sum_$c")).cast(DecimalType(30, 6))
        .as(s"sum_$c"))
    prior.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(mergedAggs.head, mergedAggs.tail: _*)
      .filter(col("n") > 0)
  }

  /** [min,max] of `keyCol` per live entry of version `v`, from the
    * manifest's carried stats; only entries MISSING `keyCol` stats
    * (written before `keyCol` was a stats column) pay a footer read,
    * and only for themselves. */
  private def entryRanges(s: SparkSession, dir: String, keyCol: String,
      v: Int): (Seq[FileEntry], FileEntry => (Long, Long)) = {
    val live = liveEntries(dir, v)
    val unstated = live.filterNot(_.stats.contains(keyCol))
    val footerStats: Map[String, (Long, Long)] =
      if (unstated.isEmpty) Map.empty
      else Layout.statsForFiles(s, unstated.map(e => s"$dir/${e.path}"), keyCol)
        .map { case (p, lo, hi) => (p, (lo, hi)) }.toMap
    (live, e => e.stats.getOrElse(keyCol, footerStats(s"$dir/${e.path}")))
  }

  /** Which live entries can contain any of `keys` on `keyCol` — the
    * rewrite set — planned from the manifest's carried stats.
    * Driver-side key list; for a DataFrame of keys see
    * [[matchedEntriesByFrame]]. */
  private def matchedEntries(s: SparkSession, dir: String, keyCol: String,
      keys: Seq[Long], v: Int): Seq[FileEntry] = {
    val sorted = keys.sorted.toArray
    def anyKeyIn(lo: Long, hi: Long): Boolean = {
      val i = java.util.Arrays.binarySearch(sorted, lo)
      val from = if (i >= 0) i else -i - 1
      from < sorted.length && sorted(from) <= hi
    }
    val (live, rangeOf) = entryRanges(s, dir, keyCol, v)
    live.filter { e => val (lo, hi) = rangeOf(e); anyKeyIn(lo, hi) }
  }

  /** `updates`' key set as a one-column frame `__k` (long, non-null,
    * distinct) — the DISTRIBUTED key carrier: the keys themselves
    * never leave the cluster. */
  private def keyFrame(updates: DataFrame, keyCol: String): DataFrame =
    updates.select(col(keyCol).cast("long").as("__k"))
      .filter(col("__k").isNotNull).distinct()

  /** A driver-side key list as a `__k` frame. */
  private def literalFrame(s: SparkSession, keys: Seq[Long]): DataFrame =
    s.createDataset(keys)(Encoders.scalaLong).toDF("__k")

  /** Key sets at or below this size are request-metadata-sized: they
    * ship as a driver literal (a binary-searched rewrite plan, a
    * scan-pushable predicate — the cheapest carrier). Above it the
    * frame carrier takes over. */
  private[graft] val literalKeyMax = 10000

  /** The keys of one keyed mutation as its caller holds them: a
    * driver-side list (`Left` — a takedown batch is request metadata)
    * or a [[keyFrame]]-shaped `__k` frame (`Right`). */
  private type KeySet = Either[Seq[Long], DataFrame]

  /** Plan a mutation keyed by `keys`: returns (matched, survivorsOf)
    * where `survivorsOf(matchedRows)` filters out the keyed rows with
    * NULL-correct semantics. THE CARRIER DECISION, by size: a key set
    * of at most [[literalKeyMax]] keys — a list that short, or a frame
    * whose one `limit(max+1).collect()` probe comes back complete —
    * ships as a literal (a list runs no job here, a frame only the
    * probe); anything larger takes the frame carrier (manifest-range
    * join + left_anti rewrite), so an oversized frame's keys never land
    * on the driver and an oversized list never becomes an `IN` tree. */
  private def planKeyedMutation(s: SparkSession, dir: String,
      keyCol: String, keys: KeySet, planned: Int)
      : (Seq[FileEntry], DataFrame => DataFrame) = {
    val lits = keys.fold(_.distinct,
      _.limit(literalKeyMax + 1).collect().map(_.getLong(0)).toSeq)
    if (lits.length <= literalKeyMax)
      (matchedEntries(s, dir, keyCol, lits, planned),
        _.filter(col(keyCol).isNull || !col(keyCol).isin(lits: _*)))
    else {
      val frame = keys.getOrElse(literalFrame(s, lits))
      (matchedEntriesByFrame(s, dir, keyCol, frame, planned),
        _.join(frame, col(keyCol).cast("long") === col("__k"), "left_anti"))
    }
  }

  /** The rewrite set for a DataFrame of keys, with NO driver-side key
    * materialization: (1) the key frame's global [min,max] — two
    * longs, a sketch of the set, not the set — prunes the manifest's
    * per-file ranges to candidates; (2) an exact any-key-in-range
    * check runs as a distributed join of the key frame against the
    * BROADCAST candidate range list (bounded by file count). Only
    * matched file PATHS return to the driver — metadata, O(files). */
  private def matchedEntriesByFrame(s: SparkSession, dir: String,
      keyCol: String, keys: DataFrame, v: Int): Seq[FileEntry] = {
    val (live, rangeOf) = entryRanges(s, dir, keyCol, v)
    val ext = keys.agg(min(col("__k")), max(col("__k"))).head()
    if (ext.isNullAt(0)) return Nil // empty key set
    val (kmin, kmax) = (ext.getLong(0), ext.getLong(1))
    val cand = live.map(e => (e.path, rangeOf(e)))
      .collect { case (p, (lo, hi)) if hi >= kmin && lo <= kmax => (p, lo, hi) }
    if (cand.isEmpty) return Nil
    val rangesDf = s.createDataFrame(cand).toDF("__path", "__lo", "__hi")
    val matchedPaths = keys.join(broadcast(rangesDf),
        col("__k") >= col("__lo") && col("__k") <= col("__hi"))
      .select("__path").distinct()
      .collect().map(_.getString(0)).toSet
    live.filter(e => matchedPaths(e.path))
  }

  /** The stats set later commits should carry: the declared table
    * columns plus this mutation's key column (persisted, so the table
    * self-upgrades on first use of a new key). */
  private def colsWith(dir: String, keyCol: String): Seq[String] = {
    val cols = (statsCols(dir) :+ keyCol).distinct
    writeStatsCols(dir, cols)
    cols
  }

  /** Publish `adds` in place of the `removed` entries as the delta
    * version after `planned`, behind the [[onBeforeCommit]] seam;
    * returns how many files were removed. */
  private def commitDelta(dir: String, planned: Int, adds: Seq[FileEntry],
      removed: Seq[FileEntry],
      newCols: Option[org.apache.spark.sql.types.StructType] = None): Int = {
    onBeforeCommit()
    writeDelta(dir, planned + 1, adds, removed.map(_.path), newCols)
    removed.size
  }

  /** The ONE keyed copy-on-write commit behind [[deleteKeys]],
    * [[upsert]], [[merge]] and [[mergeFrame]]. Each OCC round enforces
    * the constraints on `inserts` (LOGICAL space), maps names to the
    * files' physical ones, plans the rewrite set through the one
    * carrier decision ([[planKeyedMutation]]), rewrites the matched
    * files' survivors into at most `numFiles` files, writes `inserts`
    * into `numFiles`, and publishes both as one delta version — so
    * deletes, replacements and inserts land together, and readers
    * never see the gap. `keys` are read off the LOGICAL frames and
    * evaluated in each round, once the key column has resolved; the
    * rewrite plan runs in physical space. With no match and no
    * inserts nothing is committed. Returns the number of files the
    * winning round rewrote. */
  private def commitKeyed(s: SparkSession, dir: String, keyCol: String,
      keys: => KeySet, inserts: Option[DataFrame], numFiles: Int): Int =
    withOcc(dir) { planned =>
      inserts.foreach(enforceConstraints(s, dir, _, planned))
      val cm = colMapAt(dir, planned)
      val phys = inserts.map(toPhysical(_, cm))
      val pKey = physicalName(cm, keyCol)
      val (matched, survivorsOf) =
        planKeyedMutation(s, dir, pKey, keys, planned)
      if (matched.isEmpty && phys.isEmpty) 0
      else {
        val cols = colsWith(dir, pKey)
        val survivors =
          if (matched.isEmpty) Nil
          else commitFiles(s, dir, survivorsOf(
            readSubset(s, dir, planned, matched.map(_.path))),
            math.min(numFiles, matched.size), cols)
        val inserted = phys.toSeq.flatMap(commitFiles(s, dir, _, numFiles, cols))
        commitDelta(dir, planned, survivors ++ inserted, matched,
          phys.map(_.schema))
      }
    }

  /** Delete every row whose `keyCol` is in `keys`: rewrite only the
    * stat-matched files, carry the rest by reference, commit one new
    * manifest version (retrying with a fresh plan on a concurrent
    * writer's collision). NULL-key rows are never deleted (SQL
    * three-valued semantics). Returns the number of files rewritten
    * by the winning attempt; deleting keys no file can hold commits
    * nothing and returns 0. */
  def deleteKeys(s: SparkSession, dir: String, keyCol: String,
      keys: Seq[Long], numFiles: Int = 4): Int =
    commitKeyed(s, dir, keyCol, Left(keys), None, numFiles)

  /** Upsert: rows of `updates` replace same-key rows (delete + insert
    * in ONE committed version — readers never see the gap). Small
    * batches ship their keys as literals, a 10⁷-key correction batch
    * stays distributed end-to-end ([[planKeyedMutation]]). */
  def upsert(s: SparkSession, dir: String, keyCol: String,
      updates: DataFrame, numFiles: Int = 4): Unit =
    commitKeyed(s, dir, keyCol, Right(keyFrame(updates, keyCol)),
      Some(updates), numFiles)

  /** MERGE: deletes and upserts applied together in ONE committed
    * version — the `MERGE INTO` shape (matched update-rows replaced,
    * `deletes` keys removed, unmatched update-rows inserted). A
    * correction batch is usually mixed, and applying it as
    * deleteKeys + upsert would publish an intermediate version in
    * which the deletes have happened but the corrections have not —
    * a state no one ever intended to exist (and one a concurrent
    * reader or CDC follower would observe). One rewrite pass over the
    * union of affected keys also touches each matched file once
    * instead of up to twice. Update keys stay distributed (the
    * `deletes` list is request metadata and may ride the driver). */
  def merge(s: SparkSession, dir: String, keyCol: String,
      updates: DataFrame, deletes: Seq[Long], numFiles: Int = 4): Unit =
    commitKeyed(s, dir, keyCol, Right(keyFrame(updates, keyCol)
      .union(literalFrame(s, deletes)).distinct()), Some(updates), numFiles)

  /** MERGE from ONE `_op`-tagged DataFrame (the Debezium/CDC-feed
    * shape a streaming merge sink already holds): rows whose `opCol`
    * equals `deleteOp` are deletions, every other row an upsert. The
    * point over [[merge]]'s `deletes: Seq[Long]` arm: the DELETE keys
    * stay in the frame end-to-end — affected keys ride
    * [[planKeyedMutation]]'s carrier decision (literal below
    * `literalKeyMax`, manifest-range join + left_anti above), so a
    * 10⁶-delete CDC correction batch never materializes its keys on
    * the driver. [[merge]] remains for genuinely request-metadata
    * delete lists. Semantics are identical: deletes + replacements +
    * inserts land in ONE committed version under OCC retry.
    *
    * MULTIPLE OPS PER KEY: with no `seqCol`, a batch is assumed
    * key-disjoint (the st12 contract) — a key tagged both delete and
    * upsert nets out as the upsert (its row re-inserts after the
    * rewrite), and two upserts of one key insert BOTH rows. A real
    * CDC feed orders its events (Debezium LSN / binlog position):
    * pass that column as `seqCol` and the batch is COMPACTED first —
    * the highest-sequence op per key wins, the standard CDC apply
    * rule — via a map-side-combining `max_by` aggregate (never a
    * per-key window shuffle of the raw batch). NULL-key rows bypass
    * compaction (each is its own event; collapsing them would merge
    * unrelated rows). Sequence ties are the feed's bug, not resolved
    * here. */
  def mergeFrame(s: SparkSession, dir: String, keyCol: String,
      changes: DataFrame, opCol: String = "_op",
      deleteOp: String = "delete", numFiles: Int = 4,
      seqCol: Option[String] = None): Unit = {
    // compaction is invariant across OCC retries (the batch doesn't
    // change when the publish loses a race), so it runs ONCE before
    // the retry loop; constraint enforcement runs INSIDE it, because
    // a retry may be re-planning against a newly-declared set
    val compacted = seqCol.fold(changes) { sc =>
      // a feed that claims ordering must provide it: max_by skips
      // NULL orderings, so a NULL-seq event would silently collapse
      // its key to an all-NULL row — reject the batch loudly instead
      if (changes.filter(col(sc).isNull).limit(1).count() > 0)
        throw new IllegalArgumentException(
          s"mergeFrame seqCol='$sc': batch contains NULL sequence " +
            "values — every event must carry its order")
      val cs = changes.columns
      val keyed = changes.filter(col(keyCol).isNotNull)
        .groupBy(col(keyCol).as("__ck"))
        .agg(max_by(struct(cs.map(col): _*), col(sc)).as("__row"))
        .select(cs.map(c => col(s"__row.`$c`").as(c)): _*)
      // cache ONCE (released in the finally below): the compacted
      // frame feeds the key carrier, the rewrite anti-join, and the
      // insert — a persist keeps lineage (recomputable on block
      // loss, unlike a localCheckpoint) while sparing the max_by
      // aggregate a re-run per consumer
      keyed.unionByName(changes.filter(col(keyCol).isNull)).persist()
    }
    // untagged (NULL-op) rows upsert — three-valued `=!=` would
    // silently drop them from BOTH arms. The op tag and the sequence
    // column are APPLY metadata, not table columns — both leave
    // before the insert. Constraints judge what can LAND: upsert rows
    // only (a delete event's payload columns are feed filler, not
    // table rows), and only the post-compaction winners.
    val updates = compacted.filter(col(opCol).isNull ||
      col(opCol) =!= deleteOp).drop(seqCol.toSeq :+ opCol: _*)
    // delete + upsert keys together: every affected row leaves its
    // file in one rewrite pass, then upsert rows re-insert
    try commitKeyed(s, dir, keyCol, Right(keyFrame(compacted, keyCol)),
      Some(updates), numFiles)
    finally { if (seqCol.isDefined) { compacted.unpersist(); () } }
  }

  /** OPTIMIZE: rewrite the whole live set as one freshly clustered
    * commit — range-clustered on `zcols.head` when one column is
    * given, Z-ordered ([[Layout]]) for several — and commit it as a
    * new version. Copy-on-write mutations hash-scatter their rewrite
    * commits, so pruning quality decays with every delete/upsert;
    * this is the scheduled re-clustering pass that restores it (the
    * lakehouse `OPTIMIZE [ZORDER BY]`). Old files stay until
    * [[vacuum]]; readers on the prior version are unaffected.
    * `ranked = true` uses equi-depth Z buckets
    * ([[Layout.zValueForRanked]]) — the right clustering when a
    * z-column is heavily skewed. */
  def optimize(s: SparkSession, dir: String, zcols: Seq[String],
      numFiles: Int = 8, ranked: Boolean = false): Unit =
    withOcc(dir, rewrite = true) { planned =>
    // zcols arrive LOGICAL — the spelling every other API speaks —
    // and translate to physical here (a renamed-away spelling is
    // rejected loudly): silently clustering the stale physical would
    // Z-order the WRONG column and defeat the pruning the operator
    // asked for. The rewrite itself runs through the PHYSICAL reader:
    // files must keep physical column names forever, or the colmap
    // channel (and the manifest stats keyed on physical names) breaks.
    val pZcols = {
      val cm = colMapAt(dir, planned)
      zcols.map(physicalName(cm, _))
    }
    val live = readPhysical(s, dir, planned)
    val clustered =
      if (pZcols.size == 1 && !ranked)
        live.repartitionByRange(numFiles, col(pZcols.head))
          .sortWithinPartitions(pZcols.head)
      else
        live.withColumn("__z",
            if (ranked) Layout.zValueForRanked(live, pZcols)
            else Layout.zValueFor(live, pZcols))
          .repartitionByRange(numFiles, col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z")
    val fresh = commitFiles(s, dir, clustered, numFiles = 0, statsCols(dir))
    onBeforeCommit()
    writeManifest(dir, planned + 1, fresh)
  }

  /** Incremental OPTIMIZE: re-cluster ONLY the live files whose
    * `keyCol` range intersects [lo, hi] — copy-on-write churn is
    * usually LOCALIZED (hot users, recent days), so clustering decay
    * is localized too, and a full [[optimize]] pays O(table) to fix
    * an O(region) problem. Matched files rewrite as one range-
    * clustered commit; everything outside the box carries by
    * reference, stats included. The box is planned from the
    * manifest's carried stats (one metadata read, same as the
    * mutations). A box that is already clustered — at most `numFiles`
    * matched files whose key ranges are pairwise disjoint — is left
    * as it is, with no commit. Returns how many files were
    * re-clustered. */
  def optimizeRange(s: SparkSession, dir: String, keyCol: String,
      lo: Long, hi: Long, numFiles: Int = 4): Int =
    withOcc(dir, rewrite = true) { planned =>
      // keyCol is LOGICAL (loud reject of renamed-away spellings) —
      // the stats channel and the files speak physical
      val pKey = physicalName(colMapAt(dir, planned), keyCol)
      val (live, rangeOf) = entryRanges(s, dir, pKey, planned)
      val matched = live.filter { e =>
        val (l, h) = rangeOf(e); h >= lo && l <= hi
      }
      val ranges = matched.map(rangeOf).sortBy(_._1)
      val disjoint = ranges.zip(ranges.drop(1)).forall { case (a, b) => a._2 < b._1 }
      if (matched.size <= numFiles && disjoint) 0
      else {
        val clustered = readSubset(s, dir, planned, matched.map(_.path))
          .repartitionByRange(numFiles, col(pKey))
          .sortWithinPartitions(pKey)
        commitDelta(dir, planned, commitFiles(s, dir, clustered,
          numFiles = 0, statsCols(dir)), matched)
      }
    }

  /** Incremental compaction: bin-pack ONLY the live files smaller
    * than `minBytes` into `numFiles` fresh files; files already at
    * target size carry over by reference. This is the compaction a
    * streaming ingest actually schedules — each trigger lands small
    * commits, and rewriting the whole table per sweep ([[optimize]])
    * would be O(table) per trigger interval; this sweep is O(recent
    * small files). Sizes come from the manifest. Returns how many
    * small files were packed. */
  def compactSmall(s: SparkSession, dir: String, minBytes: Long,
      numFiles: Int = 1): Int = withOcc(dir, rewrite = true) { planned =>
    val small = liveEntries(dir, planned).filter(_.bytes < minBytes)
    if (small.size <= numFiles) 0 // nothing worth packing
    else commitDelta(dir, planned, commitFiles(s, dir,
      readSubset(s, dir, planned, small.map(_.path)),
      numFiles, statsCols(dir)), small)
  }

  /** Table history — one row per committed version: (version, live
    * file count, total live bytes, exact rows when every entry
    * carries them). Pure manifest metadata (no data
    * file touched) — the audit surface behind `op=history`, the
    * lakehouse DESCRIBE HISTORY analogue. */
  def history(dir: String): Seq[(Int, Int, Long, Option[Long])] =
    historyWithTs(dir).map(t => (t._1, t._2, t._3, t._4))

  /** [[history]] plus each version's recorded commit instant: the
    * audit row DESCRIBE HISTORY actually shows an operator. */
  def historyWithTs(dir: String)
      : Seq[(Int, Int, Long, Option[Long], Long)] =
    manifestLog.range(dir).map { v =>
      val es = liveEntries(dir, v)
      (v, es.size, es.map(_.bytes).sum,
        if (es.exists(_.rows < 0)) None else Some(es.map(_.rows).sum),
        manifestLog.commitTs(dir, v))
    }

  /** RESTORE the table to the state of committed version `toV` — as a
    * NEW commit (the lakehouse RESTORE semantics): the restored
    * version's file entries (stats included) carry over by reference
    * into a fresh manifest at the head of the log, so nothing is
    * rewritten, history is preserved (the bad versions stay
    * time-travelable until vacuum), CDC followers see the restore as
    * ordinary net row changes, and concurrent writers serialize
    * against it through the same OCC publish as every mutation.
    * The restore re-activates `toV`'s LOGICAL SURFACE and epoch
    * anchors (a later rename/drop/constraint is rolled back with the
    * data it described); physical columns added after `toV` stay in
    * the recorded schema but are TOMBSTONED via the colmap channel —
    * invisible to reads, their spelling refused to writers — so the
    * no-retype invariant holds across the restore. Files added after
    * `toV` become unreferenced at head and are vacuum-collected.
    * Returns the new version (labelled 'colmap' in DESCRIBE HISTORY
    * when it buries columns, 'data' otherwise). */
  /** Fires when the post-publish re-verify finds a vacuumed file —
    * with the maintenance lease serializing restore against vacuum
    * this path must be unreachable (soak-asserted); it remains as
    * defense in depth for the lease-TTL takeover residue. */
  private[graft] val restoreReVerifyTrips =
    new java.util.concurrent.atomic.AtomicLong()

  def restore(s: SparkSession, dir: String, toV: Int): Int =
    // the MAINTENANCE LEASE brackets the whole plan-to-publish window:
    // a vacuum cannot delete this restore's target files mid-flight
    // (and this restore cannot re-reference files a running vacuum
    // already judged dead) — the structural closure of the race the
    // head-advance abort and the post-publish re-verify only narrowed
    Lease.withLeaseHandle(dir, "restore") { lease =>
    withOcc(dir) { planned =>
      require(toV >= 1 && toV <= planned,
        s"cannot restore $dir to v$toV (latest is v$planned)")
      // a vacuumed target is a CLIENT error (400 over the wire), not
      // the internal manifest-missing failure liveEntries raises
      if (!manifestLog.exists(dir, toV))
        throw new IllegalArgumentException(
          s"cannot restore $dir to v$toV: its manifest was vacuumed")
      val entries = liveEntries(dir, toV)
      // files must still exist — a vacuumed restore target is gone
      entries.find(e => !fileOf(dir, e.path).exists()).foreach(e =>
        throw new IllegalArgumentException(
          s"cannot restore $dir to v$toV: ${e.path} was vacuumed"))
      val k = planned + 1
      val toMeta = manifestMeta(dir, toV)
      // THE RECORDED SCHEMA NEVER SHRINKS — the no-retype invariant
      // unionSchema enforces needs the full historical physical set.
      // Shrinking to toV's schema would let a later writer re-add a
      // restore-buried column under a DIFFERENT type, and CDC diffs
      // spanning the restore would then read the old files' bytes
      // with the new type (a runtime Parquet conversion crash). So
      // the restore records head ∪ toV, and every physical column the
      // restore buries is TOMBSTONED through the colmap channel: reads
      // present exactly toV's surface, and a writer re-issuing the
      // buried spelling is rejected loudly (pick a new name).
      val headMeta = manifestMeta(dir, planned)
      val schemaOut = unionSchema(headMeta.schema, toMeta.schema)
      val toPhysCols = toMeta.schema.fieldNames.map(_.toLowerCase).toSet
      val buried = schemaOut.fieldNames.toSeq
        .filterNot(f => toPhysCols(f.toLowerCase))
      val cmTo = colMapAt(dir, toV)
      val anchors =
        if (buried.isEmpty) toMeta.epochs
        else {
          val restoredCm = cmTo.filterNot(e => buried.contains(e._1)) ++
            buried.map(p => (p, Option.empty[String]))
          publishEpochFile(dir, "colmap", k, renderColMap(restoredCm))
          toMeta.epochs + ("colmap" -> k)
        }
      onBeforeCommit()
      // FENCE immediately before the publish: a restore that stalled
      // past its TTL (heartbeat lost), was taken over — say by a
      // vacuum that then deleted toV's files — and resumed here must
      // REFUSE to commit a head referencing them, rather than commit
      // and rely on the post-publish re-verify to surface the damage
      lease.checkFence()
      // header REPLACED by the restored state's, never carried from
      // the abandoned head; a lost publish rolls the epoch claim back
      // (the commitMetaEpoch discipline). The restore is a FULL
      // snapshot manifest (it replaces the whole live set), so it is
      // itself a resolution base for later deltas.
      try publishManifestBody(dir, k,
        renderHeader(schemaOut, anchors, VersionLog.nextTs(headMeta.ts)),
        entries)
      catch { case e: Throwable =>
        if (buried.nonEmpty) {
          java.nio.file.Files.deleteIfExists(
            fileOf(dir, s"colmap-v$k.json").toPath)
          epochStamp.incrementAndGet()
          epochCache.keySet.removeIf(key =>
            key._1 == dir && key._2 == "colmap" && key._3 >= k)
        }
        throw e
      }
      // POST-PUBLISH RE-VERIFY: a vacuum whose drop set was planned
      // before this commit may have deleted toV's files between the
      // pre-publish existence check and now (vacuum's own head-advance
      // recheck narrows that window but cannot close it without a
      // table-wide lease). The commit cannot be unpublished — surface
      // the loss LOUDLY with the recovery path instead of letting the
      // head fail mid-scan later.
      entries.find(e => !fileOf(dir, e.path).exists()).foreach { e =>
        restoreReVerifyTrips.incrementAndGet()
        throw new IllegalStateException(
          s"restore of $dir to v$toV committed as v$k but a concurrent " +
            s"vacuum deleted ${e.path} — the head references missing " +
            "files; restore again to a surviving version to recover")
      }
      k
    }
    }

  /** Resolve the latest version COMMITTED at or before `tsMillis` —
    * timestamp time travel (`TIMESTAMP AS OF`), an O(log versions)
    * search over the recorded commit instants with zero directory
    * LISTs ([[VersionLog.asOf]]). Loud when the timestamp predates
    * the oldest surviving manifest: answering with a LATER state than
    * asked for would be silently wrong, and the earlier state is
    * vacuumed. */
  def versionAsOf(dir: String, tsMillis: Long): Int =
    manifestLog.asOf(dir, tsMillis) { (oldest, oldestTs) =>
      throw new IllegalArgumentException(
        s"no version of $dir existed at $tsMillis (oldest surviving " +
          s"manifest v$oldest committed at $oldestTs)")
    }.getOrElse(throw new IllegalArgumentException(
      s"no manifest under $dir — not a table"))

  /** Snapshot read as of a wall-clock instant. */
  def readAsOf(s: SparkSession, dir: String, tsMillis: Long): DataFrame =
    read(s, dir, versionAsOf(dir, tsMillis))

  /** Minimum age a version must have been SUPERSEDED for before
    * [[vacuum]] will drop it (7 days — the lakehouse default): a
    * snapshot reader pins its file list at plan time, so deleting
    * files of a freshly superseded version can fail a scan that is
    * still running. Supersession time = the successor's recorded
    * commit instant (the moment the version stopped being latest — no
    * reader can PIN a version after that). */
  val DefaultVacuumRetainMillis: Long = 7L * 24 * 3600 * 1000

  /** Physically delete files referenced by NO manifest ≥
    * `keepSince` and drop the older manifests — the retention sweep
    * that bounds storage after many copy-on-write commits (including
    * the orphaned commit dirs of OCC-losing mutation attempts).
    *
    * CONCURRENT-READER GUARD: refuses (loudly, as a conflict) to drop
    * any version superseded less than `retainMillis` ago — a reader
    * that planned against it may still be mid-scan, and deleting its
    * files would fail the scan at an arbitrary point. `force = true`
    * overrides for operators who know no reader is pinned (tests,
    * single-writer pipelines). */
  /** Test hook: runs after vacuum has computed its drop set but
    * before any file is deleted — the window in which a concurrent
    * restore's commit (re-referencing old files) must abort the
    * sweep. */
  private[graft] var onBeforeVacuumDelete: () => Unit = () => ()

  /** Test hook: runs before EACH fence-atomic delete batch (with the
    * 0-based batch index), OUTSIDE the reaper section — the seam at
    * which a mid-sweep takeover (reap + fresh claim landing between
    * two batches) is planted; the next batch's section-held fence
    * must refuse with zero further deletes. */
  private[graft] var onVacuumBatch: Int => Unit = _ => ()

  def vacuum(dir: String, keepSince: Int,
      retainMillis: Long = DefaultVacuumRetainMillis,
      force: Boolean = false): Unit =
    // MAINTENANCE LEASE: a restore cannot commit (re-referencing files
    // this sweep judged dead) anywhere inside the listing→delete
    // window — it refuses with a 409-grade conflict naming this
    // vacuum. Ordinary commits still race (they never re-reference
    // old files); the head-advance abort below handles them. The
    // handle's FENCE is re-verified immediately before the delete loop
    // and per delete batch: a holder that stalled past its TTL without
    // its heartbeat landing, was taken over, and resumed mid-sweep has
    // its remaining deletes REFUSED (not merely survived by the
    // downstream guards) — the fencing close of the TTL-stall residue.
    Lease.withLeaseHandle(dir, "vacuum") { lease =>
    val ms = manifestLog.list(dir)
    val (drop, keep) = ms.partition(_ < keepSince)
    require(keep.nonEmpty, s"vacuum would drop every manifest in $dir")
    val headV = ms.last
    if (!force && drop.nonEmpty) {
      val young = manifestLog.young(dir, drop, ms.toSet, retainMillis)
      if (young.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"vacuum refused under $dir: version(s) " +
            young.mkString(", ") +
            s" were superseded less than ${retainMillis} ms ago and a " +
            "reader pinned on them may still be scanning — wait out the " +
            "retention window, raise keepSince selectivity, or pass " +
            "force=true")
    }
    // the oldest KEPT version must survive as a resolution base once
    // its ancestors drop: a delta keepSince with no checkpoint would
    // strand every kept version's resolution. Written while the
    // ancestry still exists.
    if (drop.nonEmpty) {
      val oldestKept = keep.head
      if (manifestMeta(dir, oldestKept).delta &&
          !fileOf(dir, s"checkpoint-v$oldestKept.json").exists()) {
        checkpoint(dir, oldestKept); ()
      }
    }
    val referenced = keep.flatMap(v => liveFiles(dir, v)).toSet
    onBeforeVacuumDelete()
    // a RESTORE that committed after the listing re-references files
    // this snapshot judged unreferenced — deleting them would gut the
    // freshly restored head. Any head advance past the snapshot
    // invalidates `referenced`; abort as a conflict and re-run. This
    // NARROWS the race to the instants between this check and the
    // delete loop — full closure needs a table-wide maintenance lease
    // (or an object store's conditional delete); restore covers the
    // residue from its side with a post-publish file re-verify that
    // surfaces the loss loudly with a recovery path.
    if (version(dir) != headV)
      throw new java.util.ConcurrentModificationException(
        s"vacuum aborted under $dir: the table advanced past " +
          s"v$headV while the sweep was planned (a concurrent commit " +
          "— possibly a restore re-referencing old files); re-run " +
          "vacuum against the new head")
    // FENCE at the boundary into the destructive phase, then run each
    // batch of deletes FENCE-ATOMICALLY inside the reaper section
    // ([[Lease.Handle.fencedSection]]): the section-held fence means a
    // superseded holder's deletes are refused with zero overlap — no
    // takeover can interleave between the fence GET and the batch
    lease.checkFence()
    val root = new java.io.File(dir, "files")
    val doomed = (for {
      commit <- Option(root.listFiles()).getOrElse(Array.empty).iterator
      f <- Option(commit.listFiles()).getOrElse(Array.empty).iterator
      if f.getName.endsWith(".parquet")
      if !referenced.contains(s"files/${commit.getName}/${f.getName}")
    } yield f).toSeq
    doomed.grouped(64).toSeq.zipWithIndex.foreach { case (batch, i) =>
      onVacuumBatch(i)
      lease.fencedSection { batch.foreach(f => { f.delete(); () }) }
    }
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(c => Option(c.listFiles()).forall(_.forall(!_.getName.endsWith(".parquet"))))
      .foreach(c => TempDirs.rmTree(c))
    // manifests are the table's recovery surface — their drop is one
    // fence-atomic batch too
    if (drop.nonEmpty) lease.fencedSection {
      drop.foreach { v =>
        // the manifest goes with any stale fallback-publish lock, as
        // does any checkpoint sidecar below the horizon
        manifestLog.drop(dir, v)
        fileOf(dir, s"checkpoint-v$v.json").delete()
        ()
      }
    }
    // a dropped version must fail LOUDLY ("no manifest vN"), exactly
    // as if never cached — a cache hit on swept metadata would let
    // the read plan against deleted files and die mid-scan instead
    entriesCache.keySet.removeIf(k => k._1 == dir && k._2 < keepSince)
    metaCache.keySet.removeIf(k => k._1 == dir && k._2 < keepSince)
    ()
    }

  /** ONE-SHOT UPGRADE into the current on-disk format — the only code
    * reading the older shapes, and the call every refusal names. Each
    * older file is rewritten in place (atomic replace) into what the
    * older read path resolved, so time travel, [[history]],
    * [[changes]] and [[versionAsOf]] answer as before: a manifest
    * missing a header or holding older entry lines (a bare path, no
    * `rows`, `bytes` -1) gets its live files' mergeSchema union (its
    * predecessor's schema when it has none), the epoch-file directory
    * scan's anchors, its mtime clamped into log order
    * ([[VersionLog.fillTs]]), true sizes and `rows` -1; a root
    * `constraints.json` becomes epoch 0 (below every version, so none
    * reads as its declaration), anchored wherever no constraints epoch
    * was; epoch headers gain their count, checkpoints current lines.
    * IDEMPOTENT: a current file is never rewritten. Runs under the
    * maintenance lease; no mutation commits on a head predating the
    * format, and a pass repeats while the head moves. Returns the
    * number of files rewritten or removed. */
  def upgrade(s: SparkSession, dir: String): Int =
    Lease.withLeaseHandle(dir, "upgrade") { _ =>
      var touched = 0
      def text(name: String): Seq[String] = new String(java.nio.file.Files
        .readAllBytes(fileOf(dir, name).toPath), "UTF-8").split('\n').toSeq
        .map(_.trim.stripSuffix(",")).filter(_.nonEmpty)
      def rewrite(name: String, body: String): Unit = {
        AtomicFiles.replace(dir, name, body); touched += 1
      }
      def array(lines: Seq[String]) = lines.mkString("[\n", ",\n", "\n]")
      val oldEntry =
        """\{"path":"([^"]+)","bytes":(-?\d+)(?:,"rows":(-?\d+))?,"stats":\{(.*)\}\}""".r
      val barePath = """"([^"]+)"""".r
      def entryOf(line: String, where: String): FileEntry = {
        val (path, bytes, rows, stats) = line match {
          case oldEntry(p, b, r, st) => (p, b.toLong, r, st)
          case barePath(p) => (p, -1L, null, "")
          case _ => sys.error(s"unparseable line in $dir/$where: '$line'")
        }
        val f = fileOf(dir, path)
        if (bytes < 0 && !f.exists()) sys.error(
          s"cannot upgrade $dir: live file $path is missing")
        FileEntry(path, if (bytes < 0) f.length() else bytes,
          statsOf(stats), Option(rows).fold(-1L)(_.toLong))
      }
      def pass(): Unit = {
        val names = new java.io.File(dir).list().toSeq
        val vs = manifestLog.list(dir)
        val flat = names.contains("constraints.json")
        def epoch(n: String, k: Int, ls: Seq[String]) = rewrite(n,
          (s"""{"epoch":$k,"n":${ls.size}}""" +: ls).mkString("", "\n", "\n"))
        val epochName = """(constraints|colmap)-v(\d+)\.json""".r
        val epochs = names.collect { case n @ epochName(b, k) => (n, b, k.toInt) }
        epochs.foreach { case (n, _, k) =>
          val lines = text(n)
          if (lines.headOption.contains(s"""{"epoch":$k}""")) epoch(n, k, lines.tail)
        }
        if (flat && !names.contains("constraints-v0.json"))
          epoch("constraints-v0.json", 0, text("constraints.json"))
        val cpName = """checkpoint-v\d+\.json""".r
        names.filter(cpName.matches).foreach { n =>
          val lines = text(n).filterNot(l => l == "[" || l == "]")
          if (!lines.tail.forall(entryPat.matches))
            rewrite(n, array(lines.head +:
              lines.tail.map(l => entryLine(entryOf(l, n)))))
        }
        val texts = vs.map(manifestLines(dir, _, current = false))
        val ts = VersionLog.fillTs(texts.map(tsOf).toIndexedSeq,
          i => manifestLog.file(dir, vs(i)).lastModified())
        var live = Seq.empty[FileEntry]
        var schema = org.apache.spark.sql.types.StructType(Nil)
        vs.indices.foreach { i =>
          val (v, lines) = (vs(i), texts(i))
          val removes = lines.collect { case removePat(p) => p }.toSet
          val entries = lines.filterNot(l => l.isEmpty || l == "[" ||
            l == "]" || l == deltaMarker || removePat.matches(l) ||
            headerPrefixes.exists(l.startsWith))
          val adds = entries.map(entryOf(_, manifestLog.name(v)))
          live =
            if (!lines.contains(deltaMarker)) adds
            else if (i > 0) live.filterNot(e => removes(e.path)) ++ adds
            else readCheckpoint(dir, v).getOrElse(sys.error(s"cannot " +
              s"upgrade $dir: its oldest manifest v$v is a delta with no " +
              "checkpoint"))
          schema = schemaOf(lines).getOrElse(
            if (live.isEmpty) schema
            else s.read.option("mergeSchema", "true")
              .parquet(live.map(e => s"$dir/${e.path}"): _*).schema)
          val had = epochsOf(lines).getOrElse(
            Seq("constraints", "colmap").flatMap(b => epochs.collect {
              case (_, `b`, k) if k <= v && (k < vs.head || vs.contains(k)) => k
            }.maxOption.map(b -> _)).toMap)
          val anchors =
            if (flat && !had.contains("constraints")) had + ("constraints" -> 0)
            else had
          if (headerPrefixes.exists(p => header(lines, p).isEmpty) ||
              anchors != had || entries != adds.map(entryLine))
            rewrite(manifestLog.name(v), array(
              renderHeader(schema, anchors, ts(i)) ++
                lines.filter(l => l == deltaMarker || removePat.matches(l)) ++
                adds.map(entryLine)))
        }
        dropCaches(dir)
      }
      var head = 0
      while (head != version(dir)) { head = version(dir); pass() }
      Seq("constraints.json", "_epochs-legacy.json").foreach { n =>
        if (fileOf(dir, n).delete()) touched += 1
      }
      touched
    }
}
