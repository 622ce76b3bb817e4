package graft.core

import java.util.concurrent.atomic.AtomicLong

/** A numbered transaction log — the protocol behind both metadata
  * logs: the table's manifest chain (`manifest-v<N>.json`, hint key
  * `head`) and the ANN index's generation pointers (`gen-<N>.json`,
  * hint key `gen`). Each log keeps only its body format; every
  * mechanism below has exactly one implementation here:
  *
  *  - PUBLISH: an entry is claimed at `planned + 1` by an exclusive
  *    create ([[AtomicFiles.publishExclusive]]) — it appears complete
  *    or not at all, and a second publisher of the same number fails
  *    loudly (optimistic concurrency: the loser re-plans);
  *  - CONSECUTIVE numbering: every publish claims `planned + 1` and
  *    vacuum removes only a prefix, so the committed entries are
  *    exactly `[oldest, head]` — no entry can hide past a gap;
  *  - HEAD (Delta's `_last_checkpoint` idea, applied to head
  *    resolution): the advisory `_head.json` hint plus a forward
  *    existence probe — O(tail since the hint) GET-class calls and
  *    ZERO directory LISTs. The hint is ADVISORY ONLY: the exclusive
  *    publish stays the sole source of truth, and a missing, corrupt,
  *    or stale hint degrades to one LIST (which re-primes it), never
  *    to a wrong answer. A hint BEHIND the head (a crash between
  *    publish and hint write, or a slower writer's hint landing
  *    last) is absorbed by the forward probe; a hint below the vacuum
  *    horizon or past the head (external damage) fails its own
  *    existence check and takes the LIST fallback;
  *  - OLDEST survivor: binary search on existence over `[1, head]`
  *    (absent below the vacuum horizon, present above);
  *  - COMMIT INSTANT: the `ts` recorded in the entry body, never the
  *    file mtime (mtime is not durable metadata — an rsync, a backup
  *    restore or an object-store migration rewrites it). Every publish
  *    records `max(now, predecessor's ts)` ([[nextTs]]), so the
  *    instants are non-decreasing in log order by construction;
  *  - AS OF: binary search over those instants;
  *  - RETENTION: vacuum refuses to drop an entry whose successor is
  *    younger than the retention window — a reader can pin an entry
  *    only until its successor commits.
  *
  * The two logs differ in what counts as COMMITTED, so each passes
  * its existence rule in: a table counts any existing manifest (a
  * damaged one then fails loudly when parsed), the index does not
  * count a zero-length pointer (an unpublished crash husk).
  * `commitTs` reads an entry's recorded commit instant. */
final class VersionLog(prefix: String, hintKey: String,
    committed: (String, Int) => Boolean,
    val commitTs: (String, Int) => Long) {

  // ---- I/O-shape seams (SCALE_SLOPE r14/r15 count these): on an
  // object store a directory LIST is paged (10+ round trips at 10⁴
  // keys) while an existence probe is one — the hot paths pay probes,
  // never LISTs
  private[graft] val lists = new AtomicLong()
  private[graft] val probes = new AtomicLong()

  def name(n: Int): String = s"$prefix$n.json"

  def file(dir: String, n: Int): java.io.File = new java.io.File(dir, name(n))

  /** Whether entry `n` is committed, per this log's existence rule. */
  def exists(dir: String, n: Int): Boolean = {
    probes.incrementAndGet()
    committed(dir, n)
  }

  private val namePat =
    (java.util.regex.Pattern.quote(prefix) + """(\d+)\.json""").r

  /** The LIST fallback (and vacuum's ground truth): every numbered
    * entry name under `dir`, ascending — committed or not (callers
    * that need bodies judge each entry themselves). */
  def list(dir: String): Seq[Int] = {
    lists.incrementAndGet()
    Option(new java.io.File(dir).list()).getOrElse(Array.empty[String])
      .toSeq.collect { case namePat(n) => n.toInt }.sorted
  }

  /** LIST-free head resolution: hint + forward probe, LIST fallback
    * (which re-primes the hint, so a hint-less log pays the listing
    * once). None = nothing committed. */
  def head(dir: String): Option[Int] = {
    val hinted = readHint(dir).filter(h => h >= 1 && exists(dir, h))
    val base = hinted.orElse {
      val listed = list(dir).reverseIterator.find(exists(dir, _))
      listed.foreach(writeHint(dir, _))
      listed
    }
    base.map { b =>
      var n = b
      while (exists(dir, n + 1)) n += 1
      // a hint left far behind (hint writes are best-effort) would tax
      // every read with the same forward walk — refresh it once the
      // walk is long enough to matter
      if (n - b >= VersionLog.HintRefreshWalk) writeHint(dir, n)
      n
    }
  }

  /** Every committed entry, ascending — `[oldest, head]`, WITHOUT a
    * directory LIST: the oldest survivor is found by an O(log head)
    * binary search over existence probes. Empty when nothing is
    * committed. */
  def range(dir: String): IndexedSeq[Int] = head(dir) match {
    case None => IndexedSeq.empty
    case Some(h) =>
      val lo =
        if (exists(dir, 1)) 1
        else {
          // invariant: exists(hi), !exists(lo)
          var lo0 = 1; var hi = h
          while (hi - lo0 > 1) {
            val mid = (lo0 + hi) >>> 1
            if (exists(dir, mid)) hi = mid else lo0 = mid
          }
          hi
        }
      lo to h
  }

  /** The newest entry committed at or before `tsMillis` — None when
    * nothing is committed; `tooEarly(oldest, oldestTs)` when the
    * instant predates the oldest survivor (the earlier state is
    * vacuumed: answering with a LATER entry would be silently wrong).
    * BINARY SEARCH over the recorded instants, non-decreasing in log
    * order ([[nextTs]]) — O(log entries) body reads instead of one
    * per entry. */
  def asOf(dir: String, tsMillis: Long)(
      tooEarly: (Int, Long) => Nothing): Option[Int] = {
    val ns = range(dir)
    if (ns.isEmpty) return None
    val ts0 = commitTs(dir, ns.head)
    if (ts0 > tsMillis) tooEarly(ns.head, ts0)
    // invariant: ts(lo) <= tsMillis < ts(hi) (hi = ns.length is +inf)
    var lo = 0
    var hi = ns.length
    while (hi - lo > 1) {
      val mid = (lo + hi) >>> 1
      if (commitTs(dir, ns(mid)) <= tsMillis) lo = mid else hi = mid
    }
    Some(ns(lo))
  }

  /** Vacuum's retention guard: the entries of `drop` whose successor
    * (present per the caller's listing) committed less than
    * `retainMillis` ago — a reader pinned on them may still be
    * scanning, so the caller refuses the sweep as a conflict. */
  def young(dir: String, drop: Seq[Int], present: Int => Boolean,
      retainMillis: Long): Seq[Int] = {
    val now = System.currentTimeMillis()
    drop.filter(n =>
      present(n + 1) && now - commitTs(dir, n + 1) < retainMillis)
  }

  /** Exclusively publish entry `n` (`lost` must throw when the number
    * is already claimed), then record it as the new head. The hint is
    * written AFTER the publish and best-effort: a crash in between
    * leaves it one behind, which the forward probe heals. */
  def publish(dir: String, n: Int, body: Array[Byte])(
      lost: => Nothing): Unit = {
    AtomicFiles.publishExclusive(dir, name(n), body)(lost)
    writeHint(dir, n)
  }

  /** Vacuum's prefix drop of entry `n`, together with a stale
    * fallback-publish lock a crash between claim and move left. */
  def drop(dir: String, n: Int): Unit = {
    file(dir, n).delete()
    new java.io.File(dir, AtomicFiles.lockName(name(n))).delete()
    ()
  }

  /** BEST-EFFORT (never throws — a failed hint write costs the next
    * reads a forward walk or one LIST, never correctness) and
    * last-writer-wins (atomic replace; racing publishers may land
    * hints out of order, the reader's forward probe absorbs a stale
    * winner). */
  private[graft] def writeHint(dir: String, n: Int): Unit =
    try AtomicFiles.replace(dir, VersionLog.HintFile, s"""{"$hintKey":$n}""")
    catch { case scala.util.control.NonFatal(_) => () }

  /** None for a missing or corrupt hint (the reader lists instead). */
  private def readHint(dir: String): Option[Int] = {
    val f = new java.io.File(dir, VersionLog.HintFile)
    if (!f.exists()) return None
    try ("\"" + hintKey + "\":(\\d+)").r.findFirstMatchIn(new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      .map(_.group(1).toInt)
    catch { case scala.util.control.NonFatal(_) => None }
  }
}

object VersionLog {

  /** The advisory head-hint file each log root carries. */
  val HintFile = "_head.json"

  /** A forward walk at least this long rewrites the hint. */
  val HintRefreshWalk = 8

  /** The instant an entry records after one committed at `priorTs`:
    * the wall clock, never below it — a lagging writer clock keeps the
    * log non-decreasing, which [[VersionLog.asOf]] rests on. */
  def nextTs(priorTs: Long): Long =
    math.max(System.currentTimeMillis(), priorTs)

  /** The loud refusal of a file written before the current on-disk
    * format — no read or write path interprets one — naming the
    * `upgrade` call that rewrites it. */
  def predatesFormat(f: java.io.File, what: String,
      upgrade: String): Nothing =
    throw new IllegalStateException(s"${f.getPath} predates the current " +
      s"on-disk format ($what) — run $upgrade once to rewrite it")

  /** Commit instants for entries whose `ts` is unrecorded (a format
    * upgrade's fill), in log order: each takes its `mtime`, clamped
    * between its predecessor's instant and the next recorded one, so
    * the filled log is non-decreasing wherever the recorded one is. */
  def fillTs(recorded: IndexedSeq[Option[Long]],
      mtime: Int => Long): IndexedSeq[Long] =
    recorded.indices.scanLeft(Long.MinValue) { (prior, i) =>
      recorded(i).getOrElse(math.max(prior, math.min(mtime(i),
        recorded.drop(i + 1).flatten.headOption.getOrElse(Long.MaxValue))))
    }.tail
}
