package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.core.TxnTable

/** MODEL-BASED STORAGE-LAYER OPERATION FUZZING — the TxnTable
  * analogue of RequestFuzzSpec's request→SQL differential: a seeded
  * generator draws random OPERATION SEQUENCES (upsert / deleteKeys /
  * merge / mergeFrame+seqCol / optimize / compactSmall / restore /
  * checkpoint / vacuum / renameColumn / constraint declare+drop /
  * advisory-hint corruption / invalid-op probes) and replays each
  * against a trivial in-memory model (a Map per committed version).
  * The point over the hand-written TxnTableSpec scenarios: the
  * INTERLEAVINGS are adversarial — a restore under a renamed column
  * after a vacuum, CDC across a constraint epoch, optimize between
  * two merges — shapes nobody enumerates by hand.
  *
  * Invariants, checked after EVERY op:
  *  - the head version advances exactly when the model says content
  *    (or metadata) committed, never more;
  *  - `rowCount` (manifest metadata, no data read) equals the model;
  *  - periodically + finally: a full head read equals the model map;
  * and at the end of each sequence, the expensive sweeps:
  *  - TIME TRAVEL: every still-readable version reads back exactly
  *    its model snapshot, under the column SPELLING in force then;
  *  - CDC: `changes(v-1, v)` for every adjacent readable pair equals
  *    the model diff (empty for optimize/compact/epoch commits);
  *  - HISTORY: one row per readable version, recorded instants
  *    non-decreasing.
  *
  * Seeded: failures reproduce; the op log is printed for shrinking
  * into a named TxnTableSpec regression. */
class StorageFuzzSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** One model row: (payload, n, x) — `x` is the SCHEMA-EVOLVED
    * column (None = null/never written; rows replaced by a narrow
    * mutation read their x back as null). */
  private type R = (String, Long, Option[Long])

  /** Model of one committed version: key → row, plus the payload
    * column's logical SPELLING, the constraint set in force, and
    * whether the evolved column `x` is VISIBLE at that version (all
    * three re-activate on restore, like the real anchors). */
  private case class Snap(rows: Map[Long, R],
      spelling: String, constraintOn: Boolean, hasX: Boolean)

  private def mkDf(rows: Seq[(Long, String, Long)],
      spelling: String): DataFrame = {
    import spark.implicits._
    rows.toDF("k", spelling, "n")
  }

  private def mkWide(rows: Seq[(Long, String, Long, Long)],
      spelling: String): DataFrame = {
    import spark.implicits._
    rows.toDF("k", spelling, "n", "x")
  }

  private def runSequence(seed: Long, nOps: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val dir = graft.core.TempDirs.scratchShared("fuzztab")
    val opLog = new scala.collection.mutable.ArrayBuffer[String]()

    def freshRows(lo: Int, hi: Int): Seq[(Long, String, Long)] = {
      val ks = Seq.fill(lo + rnd.nextInt(hi - lo + 1))(
        rnd.nextInt(60).toLong).distinct
      ks.map(k => (k, "p" + rnd.nextInt(1000), rnd.nextInt(100000).toLong))
    }

    var model: Map[Long, R] =
      freshRows(12, 24).map(t => t._1 -> ((t._2, t._3, None: Option[Long]))).toMap
    var spelling = "s"
    var constraintOn = false
    var hasX = false   // the evolved column is visible at the head
    var everX = false  // it existed at SOME version (drop/bury = tombstone)
    var minReadable = 1
    TxnTable.init(spark, dir,
      mkDf(model.toSeq.map(t => (t._1, t._2._1, t._2._2)), spelling)
        .repartition(2), numFiles = 2, statsCols = Seq("k"))
    val snaps = scala.collection.mutable.Map[Int, Snap](
      1 -> Snap(model, spelling, constraintOn, hasX))

    /** Read version `v` (head when -1) under `snap`'s visible columns
      * into the model shape. */
    def readAs(snap: Snap, v: Int): Map[Long, R] = {
      val base = TxnTable.read(spark, dir, v)
      val cols = Seq(col("k"), col(snap.spelling), col("n")) ++
        (if (snap.hasX) Seq(col("x")) else Nil)
      base.select(cols: _*).collect().map { r =>
        (r.getLong(0), (r.getString(1), r.getLong(2),
          if (snap.hasX && !r.isNullAt(3)) Some(r.getLong(3))
          else None))
      }.toMap
    }

    def headCheck(full: Boolean): Unit = {
      val v = TxnTable.version(dir)
      assert(TxnTable.rowCount(dir).contains(model.size.toLong),
        s"rowCount != model after: ${opLog.mkString("; ")}")
      if (full) {
        val got = readAs(Snap(model, spelling, constraintOn, hasX), -1)
        // x values are invisible while the column is hidden
        val want = if (hasX) model
          else model.map { case (k, (s0, n0, _)) => k -> ((s0, n0, None: Option[Long])) }
        assert(got == want,
          s"head v$v read != model after: ${opLog.mkString("; ")}")
      }
    }

    /** Run a committing op: apply `next` to the model iff a version
      * actually landed; assert content-changing ops always land.
      * ~1 op in 8 first CRASHES at the publish seam (plan + rewrite
      * done, manifest never lands): the crash must commit NOTHING —
      * orphaned data files and epoch claims included — and the clean
      * re-run must succeed. */
    def committing(name: String, mustCommit: Boolean,
        next: => Map[Long, R])(op: => Unit): Unit = {
      val v1 = TxnTable.version(dir)
      var ran = false
      if (rnd.nextInt(8) == 0) {
        var fired = false
        TxnTable.onBeforeCommit = () => {
          if (!fired) { fired = true
            throw new RuntimeException("injected crash before publish") }
        }
        try { op; ran = true }
        catch { case e: RuntimeException
            if e.getMessage == "injected crash before publish" => () }
        finally TxnTable.onBeforeCommit = () => ()
        if (!ran) {
          opLog += s"$name:crashed"
          assert(TxnTable.version(dir) == v1,
            s"a crashed $name must commit nothing: ${opLog.mkString("; ")}")
          assert(TxnTable.rowCount(dir).contains(model.size.toLong),
            s"a crashed $name changed the visible state")
        }
        // ran == true: the op was a content no-op that never reached
        // the publish seam — it already completed, don't re-run
      }
      if (!ran) op
      val v2 = TxnTable.version(dir)
      opLog += s"$name(v$v1->v$v2)"
      assert(v2 == v1 || v2 == v1 + 1,
        s"$name advanced the head by more than one: $v1 -> $v2")
      if (v2 > v1) {
        model = next
        snaps(v2) = Snap(model, spelling, constraintOn, hasX)
      } else {
        assert(!mustCommit, s"$name should have committed a version " +
          s"but did not: ${opLog.mkString("; ")}")
        assert(next == model,
          s"$name committed nothing but the model would have changed")
      }
    }

    for (step <- 1 to nOps) {
      val v = TxnTable.version(dir)
      rnd.nextInt(100) match {
        // ---- upsert (narrow: replaced rows read x back as null) -----
        case x if x < 18 =>
          val batch = freshRows(1, 6)
          committing("upsert", mustCommit = true,
            model ++ batch.map(t =>
              t._1 -> ((t._2, t._3, None: Option[Long])))) {
            TxnTable.upsert(spark, dir, "k", mkDf(batch, spelling),
              numFiles = 1)
          }
        // ---- WIDE upsert: schema evolution (introduces column x) ----
        case x if x < 26 =>
          val batch = freshRows(1, 4).map(t =>
            (t._1, t._2, t._3, rnd.nextInt(1000).toLong))
          if (everX && !hasX) {
            // the column is DROPPED/BURIED: its physical slot is
            // tombstoned and a mutation carrying that spelling must
            // be refused loudly (silent acceptance would resurrect
            // tombstoned data under mergeSchema)
            val v1 = TxnTable.version(dir)
            intercept[IllegalArgumentException] {
              TxnTable.upsert(spark, dir, "k", mkWide(batch, spelling),
                numFiles = 1)
            }
            assert(TxnTable.version(dir) == v1)
            opLog += "refused:wideWhileBuried"
          } else {
            committing("upsertWide", mustCommit = true,
              model ++ batch.map(t =>
                t._1 -> ((t._2, t._3, Some(t._4): Option[Long])))) {
              TxnTable.upsert(spark, dir, "k", mkWide(batch, spelling),
                numFiles = 1)
            }
            hasX = true; everX = true
            snaps(TxnTable.version(dir)) =
              Snap(model, spelling, constraintOn, hasX)
          }
        // ---- dropColumn x (metadata only; history keeps the data) ---
        case x if x < 30 && hasX =>
          committing("dropX", mustCommit = true, model) {
            TxnTable.dropColumn(spark, dir, "x")
          }
          hasX = false
          snaps(TxnTable.version(dir)) =
            Snap(model, spelling, constraintOn, hasX)
        // ---- deleteKeys ---------------------------------------------
        case x if x < 36 =>
          val keys = Seq.fill(1 + rnd.nextInt(5))(
            rnd.nextInt(70).toLong).distinct
          committing("delete", mustCommit = keys.exists(model.contains),
            model -- keys) {
            TxnTable.deleteKeys(spark, dir, "k", keys, numFiles = 1); ()
          }
        // ---- merge (updates + driver-side delete list) --------------
        case x if x < 46 =>
          val ups = freshRows(1, 4)
          val dels = Seq.fill(1 + rnd.nextInt(3))(
            rnd.nextInt(70).toLong).distinct
            .filterNot(ups.map(_._1).contains)
          committing("merge", mustCommit = true,
            (model -- dels) ++ ups.map(t =>
              t._1 -> ((t._2, t._3, None: Option[Long])))) {
            TxnTable.merge(spark, dir, "k", mkDf(ups, spelling), dels,
              numFiles = 1)
          }
        // ---- mergeFrame with seqCol (CDC batch, max-seq wins) --------
        case x if x < 56 =>
          val ks = Seq.fill(1 + rnd.nextInt(4))(
            rnd.nextInt(70).toLong).distinct
          // 1-3 events per key with DISTINCT sequence numbers
          val events = ks.flatMap { k =>
            val n = 1 + rnd.nextInt(3)
            rnd.shuffle((1 to 9).toList).take(n).map { sq =>
              val del = rnd.nextInt(3) == 0
              (k, "m" + rnd.nextInt(1000), rnd.nextInt(100000).toLong,
                if (del) "delete" else "upsert", sq.toLong)
            }
          }
          val winners = events.groupBy(_._1).map(_._2.maxBy(_._5))
          val next = winners.foldLeft(model) { (m, e) =>
            if (e._4 == "delete") m - e._1
            else m + (e._1 -> ((e._2, e._3, None: Option[Long])))
          }
          committing("mergeFrame", mustCommit = true, next) {
            import spark.implicits._
            TxnTable.mergeFrame(spark, dir, "k",
              events.toDF("k", spelling, "n", "_op", "seq"),
              seqCol = Some("seq"), numFiles = 1)
          }
        // ---- optimize / compactSmall (content-invisible) -------------
        case x if x < 61 =>
          committing("optimize", mustCommit = true, model) {
            TxnTable.optimize(spark, dir, Seq("k"), numFiles = 2)
          }
        case x if x < 66 =>
          committing("compact", mustCommit = false, model) {
            TxnTable.compactSmall(spark, dir, minBytes = 1L << 20,
              numFiles = 1); ()
          }
        // ---- restore -------------------------------------------------
        case x if x < 73 && v - minReadable >= 2 =>
          val toV = minReadable + rnd.nextInt(v - minReadable)
          val target = snaps(toV)
          committing(s"restore($toV)", mustCommit = true, target.rows) {
            TxnTable.restore(spark, dir, toV); ()
          }
          spelling = target.spelling
          constraintOn = target.constraintOn
          // the restored version's logical surface re-activates: a
          // buried x resurfaces when toV had it; restoring to before
          // its introduction buries it (everX keeps the tombstone)
          hasX = target.hasX
          snaps(TxnTable.version(dir)) = target
        // ---- checkpoint ----------------------------------------------
        case x if x < 77 =>
          TxnTable.checkpoint(dir)
          opLog += "checkpoint"
        // ---- vacuum (forced past the retention guard) -----------------
        case x if x < 81 && v - minReadable > 8 =>
          val keep = minReadable + 1 + rnd.nextInt(v - minReadable - 4)
          TxnTable.vacuum(dir, keepSince = keep, force = true)
          minReadable = keep
          opLog += s"vacuum($keep)"
          assert(TxnTable.version(dir) == v,
            "vacuum must never move the head")
        // ---- renameColumn (payload column only; k drives stats) ------
        case x if x < 85 =>
          val to = Seq("s", "payload", "s_txt", "body")
            .filter(_ != spelling)(rnd.nextInt(3))
          committing(s"rename($spelling->$to)", mustCommit = true, model) {
            TxnTable.renameColumn(spark, dir, spelling, to)
          }
          spelling = to
          snaps(TxnTable.version(dir)) =
            Snap(model, spelling, constraintOn, hasX)
        // ---- constraint declare / drop --------------------------------
        case x if x < 89 =>
          if (!constraintOn) {
            committing("addConstraint", mustCommit = true, model) {
              TxnTable.addConstraint(spark, dir, "n_cap", "n < 100000")
            }
            constraintOn = true
          } else {
            committing("dropConstraint", mustCommit = true, model) {
              TxnTable.dropConstraint(dir, "n_cap")
            }
            constraintOn = false
          }
          snaps(TxnTable.version(dir)) =
            Snap(model, spelling, constraintOn, hasX)
        // ---- advisory-hint chaos: corrupt or delete, reads self-heal --
        case x if x < 93 =>
          val f = new java.io.File(dir, graft.core.VersionLog.HintFile)
          if (rnd.nextBoolean())
            java.nio.file.Files.write(f.toPath,
              "{{{torn".getBytes("UTF-8"))
          else java.nio.file.Files.deleteIfExists(f.toPath)
          TxnTable.dropCaches(dir)
          opLog += "hintChaos"
          assert(TxnTable.version(dir) == v,
            s"hint chaos changed the resolved head: ${opLog.mkString("; ")}")
        // ---- invalid ops: refused loudly, nothing committed -----------
        case _ =>
          val v1 = TxnTable.version(dir)
          rnd.nextInt(3) match {
            case 0 if constraintOn =>
              intercept[IllegalArgumentException] {
                TxnTable.upsert(spark, dir, "k",
                  mkDf(Seq((999L, "viol", 500000L)), spelling))
              }
              opLog += "refused:constraint"
            case 1 if minReadable > 1 =>
              intercept[IllegalArgumentException] {
                TxnTable.restore(spark, dir, minReadable - 1)
              }
              opLog += "refused:restoreBelowHorizon"
            case _ =>
              intercept[IllegalArgumentException] {
                TxnTable.renameColumn(spark, dir, spelling, "k")
              }
              opLog += "refused:renameCollision"
          }
          assert(TxnTable.version(dir) == v1,
            s"a refused op committed a version: ${opLog.mkString("; ")}")
      }
      headCheck(full = step % 4 == 0 || step == nOps)
    }

    // ---- final sweeps over every still-readable version -------------
    val head = TxnTable.version(dir)
    // x values are part of a snapshot only while the column is
    // VISIBLE there — hidden periods read (and diff) without it
    def visible(snap: Snap): Map[Long, R] =
      if (snap.hasX) snap.rows
      else snap.rows.map { case (k, (s0, n0, _)) =>
        k -> ((s0, n0, None: Option[Long])) }
    for (v <- minReadable to head) {
      val snap = snaps(v)
      val got = readAs(snap, v)
      assert(got == visible(snap),
        s"time travel v$v != model snapshot (seed $seed): " +
          opLog.mkString("; "))
    }
    for (v <- (minReadable + 1) to head) {
      val snap = snaps(v)
      val cols = Seq(col("k"), col(snap.spelling), col("n")) ++
        (if (snap.hasX) Seq(col("x")) else Nil) :+ col("_change_type")
      val got = TxnTable.changes(spark, dir, v - 1, v)
        .select(cols: _*).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          if (snap.hasX && !r.isNullAt(3)) Some(r.getLong(3))
          else None,
          r.getString(if (snap.hasX) 4 else 3))).sorted.toSeq
      // both sides of the diff project to the TARGET version's
      // visible columns (the changes() contract)
      def proj(s0: Snap): Set[(Long, R)] =
        (if (snap.hasX) s0.rows
         else s0.rows.map { case (k, (p, n0, _)) =>
           k -> ((p, n0, None: Option[Long])) }).toSet
      val prev = proj(snaps(v - 1))
      val cur = proj(snap)
      val want = (
        (cur -- prev).toSeq.map(t =>
          (t._1, t._2._1, t._2._2, t._2._3, "insert")) ++
        (prev -- cur).toSeq.map(t =>
          (t._1, t._2._1, t._2._2, t._2._3, "delete"))).sorted
      assert(got == want,
        s"CDC v${v - 1}->v$v != model diff (seed $seed): " +
          opLog.mkString("; "))
    }
    // INCREMENTAL VIEW MAINTENANCE across the random history: fold
    // every readable CDC delta into a rollup seeded at the horizon —
    // the folded rollup must equal a head recompute exactly (the
    // CCNet/cube-follower contract under arbitrary interleavings of
    // upserts/deletes/merges/optimize/restore/epochs)
    if (head > minReadable) {
      var rolled = TxnTable.rollupOf(
        TxnTable.read(spark, dir, minReadable), Seq("k"), Seq("n"))
      for (v <- (minReadable + 1) to head)
        rolled = TxnTable.applyCdcDelta(rolled,
          TxnTable.changes(spark, dir, v - 1, v), Seq("k"), Seq("n"))
      val recomputed = TxnTable.rollupOf(
        TxnTable.read(spark, dir, head), Seq("k"), Seq("n"))
      val gotR = rolled.collect().map(_.toSeq.map(String.valueOf).mkString("|"))
        .sorted.toSeq
      val wantR = recomputed.collect().map(_.toSeq.map(String.valueOf).mkString("|"))
        .sorted.toSeq
      assert(gotR == wantR,
        s"folded rollup != head recompute (seed $seed): ${opLog.mkString("; ")}")
    }
    val hist = TxnTable.historyWithTs(dir)
    assert(hist.map(_._1) == (minReadable to head),
      s"history rows != readable versions (seed $seed)")
    val ts = hist.map(_._5)
    assert(ts == ts.sorted,
      s"recorded commit instants regressed (seed $seed)")
  }

  test("seeded random operation sequences match the in-memory model " +
      "at the head, at every readable version, and in every CDC " +
      "delta (seed 20260816, 36 ops)") {
    runSequence(20260816L, 36)
  }

  test("concurrent writer storm: every acknowledged mutation lands " +
      "EXACTLY ONCE in a linear version history — per-version CDC " +
      "attributes each commit to one op, no op lost, none doubled") {
    val dir = graft.core.TempDirs.scratchShared("fuzzstorm")
    TxnTable.init(spark, dir,
      mkDf((0L until 100L).map(k => (k, "base", k)), "s")
        .repartition(2), numFiles = 2, statsCols = Seq("k"))
    val nThreads = 3
    val opsPer = 7
    // per-thread PRIVATE key ranges (disjoint from the base rows):
    // per-key last-write order is then the thread's own program
    // order, so the expected final state is deterministic even
    // though the global interleaving is not
    val journals = Array.fill(nThreads)(
      scala.collection.mutable.ArrayBuffer[(String, Set[Long])]())
    val threads = (0 until nThreads).map { t =>
      new Thread(() => {
        val rnd = new scala.util.Random(7000 + t)
        val base = 1000L * (t + 1)
        var liveMine = Set.empty[Long]
        for (i <- 0 until opsPer) {
          val tag = s"t${t}o$i"
          def attempt(): Unit = {
            if (liveMine.nonEmpty && rnd.nextInt(3) == 0) {
              val ks = liveMine.take(1 + rnd.nextInt(2)).toSeq
              TxnTable.deleteKeys(spark, dir, "k", ks, numFiles = 1)
              liveMine --= ks
              journals(t) += (("delete:" + tag, ks.toSet))
            } else {
              val ks = Seq.fill(1 + rnd.nextInt(3))(
                base + rnd.nextInt(40)).distinct
              TxnTable.upsert(spark, dir, "k",
                mkDf(ks.map(k => (k, tag, k)), "s"), numFiles = 1)
              liveMine ++= ks
              journals(t) += (("upsert:" + tag, ks.toSet))
            }
          }
          // the storm may exhaust withOcc's bounded retries — the op
          // is then NOT acknowledged and the caller retries it whole
          var done = false
          while (!done) {
            try { attempt(); done = true }
            catch {
              case _: java.util.ConcurrentModificationException =>
                Thread.sleep(20)
            }
          }
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())

    // 1) every acknowledged op committed exactly one version
    val head = TxnTable.version(dir)
    assert(head == 1 + nThreads * opsPer,
      s"expected ${1 + nThreads * opsPer} versions, head is $head " +
        "(an op committed zero or two versions)")
    // 2) final state: per thread, replay its journal (its keys are
    // private, so cross-thread order is irrelevant)
    val want = (0 until nThreads).flatMap { t =>
      val m = scala.collection.mutable.Map[Long, String]()
      journals(t).foreach {
        case (op, ks) if op.startsWith("upsert:") =>
          ks.foreach(k => m(k) = op.stripPrefix("upsert:"))
        case (_, ks) => ks.foreach(m.remove)
      }
      m.toSeq
    }.toMap
    val got = TxnTable.read(spark, dir)
      .filter(col("k") >= 1000L)
      .select(col("k"), col("s")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == want,
      s"final state != journal replay: extra=${(got.toSet -- want.toSet).take(5)} " +
        s"missing=${(want.toSet -- got.toSet).take(5)}")
    assert(TxnTable.read(spark, dir).filter(col("k") < 1000L)
      .count() == 100, "the base rows must survive the storm intact")
    // 3) exactly-once attribution: each version's net CDC inserts
    // carry exactly one op's tag, and every upsert op appears in
    // exactly one version
    val tagsSeen = scala.collection.mutable.Map[String, Int]()
    for (v <- 2 to head) {
      val ins = TxnTable.changes(spark, dir, v - 1, v)
        .filter(col("_change_type") === "insert")
        .select("s").collect().map(_.getString(0)).toSeq
      val tags = ins.distinct.filter(_ != "base")
      assert(tags.size <= 1,
        s"version $v mixes ops: $tags — commits must be atomic")
      tags.foreach(tg => tagsSeen(tg) = tagsSeen.getOrElse(tg, 0) + 1)
    }
    val upsertTags = (0 until nThreads).flatMap(t => journals(t).collect {
      case (op, _) if op.startsWith("upsert:") => op.stripPrefix("upsert:")
    })
    upsertTags.foreach { tg =>
      assert(tagsSeen.getOrElse(tg, 0) == 1,
        s"op $tg landed ${tagsSeen.getOrElse(tg, 0)} times — " +
          "acknowledged work must appear exactly once")
    }
  }

  test("a second seed: different interleavings, same invariants " +
      "(seed 4161, 36 ops)") {
    runSequence(4161L, 36)
  }

  test("evolved-column lifecycle pinned: introduce -> drop (mutations " +
      "carrying it refused) -> restore resurfaces it with its values " +
      "-> restore to pre-introduction buries it again") {
    val dir = graft.core.TempDirs.scratchShared("fuzzxlife")
    TxnTable.init(spark, dir,
      mkDf(Seq((1L, "a", 10L), (2L, "b", 20L)), "s"), numFiles = 1,
      statsCols = Seq("k"))                                         // v1
    TxnTable.upsert(spark, dir, "k",
      mkWide(Seq((3L, "c", 30L, 333L)), "s"), numFiles = 1)         // v2: x born
    assert(TxnTable.read(spark, dir).columns.contains("x"))
    TxnTable.dropColumn(spark, dir, "x")                            // v3: buried
    assert(!TxnTable.read(spark, dir).columns.contains("x"))
    intercept[IllegalArgumentException] {
      TxnTable.upsert(spark, dir, "k",
        mkWide(Seq((4L, "d", 40L, 444L)), "s"), numFiles = 1)
    }
    // time travel BEFORE the drop still reads x
    assert(TxnTable.read(spark, dir, v = 2)
      .filter(col("k") === 3L).select("x").collect().head.getLong(0) == 333L)
    TxnTable.restore(spark, dir, 2)                                 // v4: resurfaced
    val back = TxnTable.read(spark, dir)
    assert(back.columns.contains("x"), "restore must re-activate x")
    assert(back.filter(col("k") === 3L).select("x")
      .collect().head.getLong(0) == 333L,
      "the resurfaced column must carry its original values")
    TxnTable.upsert(spark, dir, "k",
      mkWide(Seq((5L, "e", 50L, 555L)), "s"), numFiles = 1)         // v5: writable again
    TxnTable.restore(spark, dir, 1)                                 // v6: pre-x — buried
    assert(!TxnTable.read(spark, dir).columns.contains("x"),
      "restoring to before the introduction must bury x")
    intercept[IllegalArgumentException] {
      TxnTable.upsert(spark, dir, "k",
        mkWide(Seq((6L, "f", 60L, 666L)), "s"), numFiles = 1)
    }
    assert(TxnTable.read(spark, dir).count() == 2)
  }

  test("CDC batching invariance: one ordered event stream applied via " +
      "mergeFrame converges to the same table under ANY contiguous " +
      "batch split (1 batch vs random splits vs event-at-a-time)") {
    val rnd = new scala.util.Random(20260816L)
    // one ordered CDC stream: ~40 events over 12 keys, strictly
    // increasing seq (the Debezium LSN contract a feed delivers)
    val events = (1 to 40).map { sq =>
      val k = rnd.nextInt(12).toLong
      val del = rnd.nextInt(4) == 0
      (k, "e" + sq, sq.toLong * 10, if (del) "delete" else "upsert",
        sq.toLong)
    }
    def applySplit(splits: Seq[Seq[(Long, String, Long, String, Long)]])
        : (String, Map[Long, (String, Long)]) = {
      val dir = graft.core.TempDirs.scratchShared("fuzzbatch")
      import spark.implicits._
      TxnTable.init(spark, dir,
        Seq((99L, "seed", 0L)).toDF("k", "s", "n"), numFiles = 1,
        statsCols = Seq("k"))
      splits.filter(_.nonEmpty).foreach { b =>
        TxnTable.mergeFrame(spark, dir, "k",
          b.toDF("k", "s", "n", "_op", "seq"), seqCol = Some("seq"),
          numFiles = 1)
      }
      val got = TxnTable.read(spark, dir)
        .select("k", "s", "n").collect()
        .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
      (dir, got)
    }
    val (_, oneShot) = applySplit(Seq(events))
    // the model: per key, the highest-seq event wins
    val want = events.groupBy(_._1).flatMap { case (k, es) =>
      val w = es.maxBy(_._5)
      if (w._4 == "delete") None else Some(k -> (w._2, w._3))
    } ++ Map(99L -> ("seed", 0L))
    assert(oneShot == want, "single-batch apply != per-key max-seq model")
    for (trial <- 1 to 3) {
      // random contiguous split points (order preserved across batches)
      val cuts = (Seq(0, events.size) ++
        Seq.fill(1 + rnd.nextInt(4))(1 + rnd.nextInt(events.size - 1)))
        .distinct.sorted
      val batches = cuts.zip(cuts.tail).map { case (a, b) =>
        events.slice(a, b) }
      val (_, split) = applySplit(batches)
      assert(split == oneShot,
        s"trial $trial: split at $cuts diverged from the one-shot apply")
    }
    val (_, singles) = applySplit(events.map(Seq(_)))
    assert(singles == oneShot, "event-at-a-time apply diverged")
  }
}
