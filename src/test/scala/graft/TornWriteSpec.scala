package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.core.TxnTable
import graft.operators.{Similarity, TextOps}

/** TORN-WRITE INJECTION at the atomic-move seams — the crash class
  * soak 5 does not cover (it injects between operations; this spec
  * injects INSIDE a file): for every metadata file class, a torn /
  * half-written body must either SELF-HEAL (advisory channels) or
  * FAIL LOUDLY naming the file — never parse as a silently wrong
  * answer. The local publish seams themselves cannot tear (tmp files
  * are fully written before the link/move), so every case here models
  * external damage: a torn rsync, a partial object-store PUT from a
  * non-atomic client, a truncating disk.
  *
  * The one shape a per-line parser cannot catch is a truncation AT a
  * line boundary — a valid-looking but SHORTER file. Array-rendered
  * files (manifests, checkpoints) close with `]`, so their readers
  * reject an unterminated body; single-JSON files (gen pointers,
  * meta.json, lock bodies, hints) lose required fields under any
  * truncation and fall to their per-field judgments. */
class TornWriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def readBytes(f: java.io.File): Array[Byte] =
    java.nio.file.Files.readAllBytes(f.toPath)

  private def write(f: java.io.File, b: Array[Byte]): Unit = {
    java.nio.file.Files.write(f.toPath, b); ()
  }

  /** Truncate at the line boundary nearest the middle — the
    * valid-looking torn shape. */
  private def tearAtLine(f: java.io.File): Array[Byte] = {
    val orig = readBytes(f)
    val txt = new String(orig, "UTF-8")
    val cut = txt.indexOf('\n', txt.length / 2)
    assert(cut > 0, s"fixture too small to tear: ${f.getPath}")
    write(f, txt.substring(0, cut + 1).getBytes("UTF-8"))
    orig
  }

  /** Truncate mid-line/mid-token — the jagged torn shape. */
  private def tearMidLine(f: java.io.File): Array[Byte] = {
    val orig = readBytes(f)
    write(f, orig.take(orig.length / 2 + 3))
    orig
  }

  test("torn manifest: line-boundary truncation fails loudly as torn " +
      "(never a silently shorter live set); mid-line truncation fails " +
      "as unparseable; restoring the bytes recovers") {
    import spark.implicits._
    val dir = graft.core.TempDirs.scratchShared("tornmanifest")
    TxnTable.init(spark, dir,
      (0L until 100L).map(k => (k, k)).toDF("k", "v"),
      numFiles = 4, statsCols = Seq("k"))                          // v1
    TxnTable.upsert(spark, dir, "k", Seq((1L, -1L)).toDF("k", "v")) // v2
    val m1 = new java.io.File(dir, "manifest-v1.json")
    val rows = TxnTable.read(spark, dir).count()
    // line-boundary tear on the SNAPSHOT base: without the tail guard
    // this parses as a valid shorter file list — the wrong-answer shape
    val orig = tearAtLine(m1)
    TxnTable.dropCaches(dir)
    val torn = intercept[RuntimeException] { TxnTable.read(spark, dir) }
    assert(torn.getMessage.contains("torn manifest"), torn.getMessage)
    // mid-line tear: the per-line parse dies loudly
    write(m1, orig); tearMidLine(m1)
    TxnTable.dropCaches(dir)
    val jag = intercept[RuntimeException] { TxnTable.read(spark, dir) }
    assert(jag.getMessage.contains("torn manifest") ||
      jag.getMessage.contains("unparseable manifest line"),
      jag.getMessage)
    // restored bytes: full recovery, same answer
    write(m1, orig)
    TxnTable.dropCaches(dir)
    assert(TxnTable.read(spark, dir).count() == rows)
  }

  test("torn checkpoint: fails loudly naming the derivable recovery; " +
      "deleting it resolves through the manifest chain unchanged") {
    import spark.implicits._
    val dir = graft.core.TempDirs.scratchShared("tornckpt")
    TxnTable.init(spark, dir,
      (0L until 50L).map(k => (k, k)).toDF("k", "v"),
      numFiles = 2, statsCols = Seq("k"))
    TxnTable.upsert(spark, dir, "k", Seq((1L, -1L)).toDF("k", "v"))
    val cv = TxnTable.checkpoint(dir)
    val ck = new java.io.File(dir, s"checkpoint-v$cv.json")
    tearAtLine(ck)
    TxnTable.dropCaches(dir)
    val torn = intercept[RuntimeException] {
      TxnTable.liveEntries(dir, cv)
    }
    assert(torn.getMessage.contains("torn checkpoint") &&
      torn.getMessage.contains("derivable"), torn.getMessage)
    // checkpoints are derivable: DELETE is the recovery, and the
    // resolution walks the manifests to the identical answer
    assert(ck.delete())
    TxnTable.dropCaches(dir)
    assert(TxnTable.read(spark, dir).count() == 50)
    assert(TxnTable.checkpoint(dir) == cv, "re-checkpoint repairs")
  }

  test("torn DELTA manifest (the common commit artifact): " +
      "line-boundary truncation fails loudly — a delta that silently " +
      "loses its trailing adds would un-commit rows") {
    import spark.implicits._
    val dir = graft.core.TempDirs.scratchShared("torndelta")
    TxnTable.init(spark, dir,
      (0L until 100L).map(k => (k, k)).toDF("k", "v"),
      numFiles = 4, statsCols = Seq("k"))                          // v1
    TxnTable.upsert(spark, dir, "k",
      (0L until 10L).map(k => (k, -k)).toDF("k", "v"),
      numFiles = 2)                                                 // v2 delta
    tearAtLine(new java.io.File(dir, "manifest-v2.json"))
    TxnTable.dropCaches(dir)
    val torn = intercept[RuntimeException] { TxnTable.read(spark, dir) }
    assert(torn.getMessage.contains("torn manifest"), torn.getMessage)
    // a ZERO-BYTE tear under a later delta: read as an empty snapshot
    // it would resolve v3 to v3's own adds alone (and rowCount to
    // those rows, and vacuum would delete every v1 file)
    val dir0 = graft.core.TempDirs.scratchShared("torndelta0")
    TxnTable.init(spark, dir0,
      (0L until 100L).map(k => (k, k)).toDF("k", "v"),
      numFiles = 4, statsCols = Seq("k"))                          // v1
    TxnTable.upsert(spark, dir0, "k",
      (0L until 10L).map(k => (k, -k)).toDF("k", "v"),
      numFiles = 2)                                                 // v2 delta
    TxnTable.upsert(spark, dir0, "k",
      (90L until 95L).map(k => (k, -k)).toDF("k", "v"),
      numFiles = 1)                                                 // v3 delta
    write(new java.io.File(dir0, "manifest-v2.json"), Array.emptyByteArray)
    TxnTable.dropCaches(dir0)
    Seq[() => Any](() => TxnTable.read(spark, dir0),
        () => TxnTable.rowCount(dir0)).foreach { f =>
      val empty = intercept[RuntimeException] { f() }
      assert(empty.getMessage.contains("torn manifest"), empty.getMessage)
    }
  }

  test("torn epoch file: a line-boundary truncation that drops the " +
      "LAST declared constraint fails loudly on the recorded count — " +
      "never a silently smaller set; restoring the bytes recovers") {
    import spark.implicits._
    val dir = graft.core.TempDirs.scratchShared("tornepoch")
    TxnTable.init(spark, dir,
      (0L until 20L).map(k => (k, k)).toDF("k", "v"),
      numFiles = 1, statsCols = Seq("k"))                          // v1
    TxnTable.addConstraint(spark, dir, "v_lo", "v >= -1000")       // v2
    TxnTable.addConstraint(spark, dir, "v_hi", "v < 1000")         // v3
    val ep = new java.io.File(dir, "constraints-v3.json")
    assert(ep.exists(), "the declare must claim constraints-v3")
    // drop the LAST line only: headers and the first constraint
    // survive, so a count-less file would parse as {v_lo} — a
    // constraint silently no longer enforced
    val orig = readBytes(ep)
    val kept = new String(orig, "UTF-8").split('\n').dropRight(1)
    write(ep, kept.mkString("", "\n", "\n").getBytes("UTF-8"))
    TxnTable.dropCaches(dir)
    val torn = intercept[RuntimeException] {
      TxnTable.constraints(dir)
    }
    assert(torn.getMessage.contains("torn constraints epoch"),
      torn.getMessage)
    // and the enforcement path (an upsert) hits the same loud guard
    // instead of accepting a batch the lost constraint forbids
    val viaWrite = intercept[RuntimeException] {
      TxnTable.upsert(spark, dir, "k", Seq((3L, 5000L)).toDF("k", "v"))
    }
    assert(viaWrite.getMessage.contains("torn constraints epoch"),
      viaWrite.getMessage)
    write(ep, orig)
    TxnTable.dropCaches(dir)
    assert(TxnTable.constraints(dir).map(_._1) == Seq("v_lo", "v_hi"))
  }

  test("torn takedown id file: losing trailing tombstone lines fails " +
      "loudly on the recorded count (a GDPR-deleted vector must never " +
      "silently serve again); legacy count-less files are refused until " +
      "ivfUpgrade") {
    val layout = graft.core.TempDirs.scratchShared("torntomb")
    new java.io.File(layout).mkdirs()
    Similarity.ivfTombstone(layout, Seq(11L, 22L, 33L, 44L))
    assert(Similarity.ivfTombstones(layout) == Set(11L, 22L, 33L, 44L))
    val f = Option(new java.io.File(layout, "_tombstones").listFiles())
      .get.filter(_.getName.endsWith(".txt")).head
    val orig = readBytes(f)
    // line-boundary tear: header + first two ids survive — without
    // the count this reads as {11,22} and 33/44 serve again
    val kept = new String(orig, "UTF-8").split('\n').take(3)
    write(f, kept.mkString("", "\n", "\n").getBytes("UTF-8"))
    val torn = intercept[RuntimeException] {
      Similarity.ivfTombstones(layout)
    }
    assert(torn.getMessage.contains("torn takedown file"),
      torn.getMessage)
    // a ZERO-BYTE tear must not read as an empty dead set
    write(f, Array.emptyByteArray)
    val empty = intercept[RuntimeException] {
      Similarity.ivfTombstones(layout)
    }
    assert(empty.getMessage.contains("torn takedown file"),
      empty.getMessage)
    // a LEGACY file (no #n= header, pre-guard) is refused, naming the
    // upgrade; the upgrade of the index serving the layout counts it
    val root = graft.core.TempDirs.scratchShared("torntombroot")
    Similarity.ivfPublish(root, layout, 4)
    def refused(): Unit = {
      val old = intercept[IllegalStateException] {
        Similarity.ivfTombstones(layout)
      }
      assert(old.getMessage.contains("ivfUpgrade"), old.getMessage)
    }
    write(f, "11\n22\n".getBytes("UTF-8"))
    refused()
    assert(Similarity.ivfUpgrade(root) == 1)
    assert(Similarity.ivfTombstones(layout) == Set(11L, 22L))
    // mid-number tears on legacy files die loudly on the parse
    write(f, "11\n2".concat(" ").getBytes("UTF-8"))
    refused()
    assert(Similarity.ivfUpgrade(root) == 1)
    intercept[NumberFormatException] {
      Similarity.ivfTombstones(layout)
    }
  }

  test("blocked atomic replace: a target that cannot be replaced (a " +
      "non-empty directory under its name) fails the write loudly and " +
      "leaves no temp file behind — checkpoint and quantizer sidecar") {
    import spark.implicits._
    def block(f: java.io.File): Unit = {
      f.mkdirs()
      java.nio.file.Files.write(new java.io.File(f, "x").toPath,
        Array[Byte](1))
      ()
    }
    def tmps(d: String): Seq[String] =
      Option(new java.io.File(d).listFiles())
        .getOrElse(Array.empty[java.io.File]).map(_.getName)
        .filter(_.endsWith(".tmp")).toSeq
    val dir = graft.core.TempDirs.scratchShared("blockedckpt")
    TxnTable.init(spark, dir,
      (0L until 10L).map(k => (k, k)).toDF("k", "v"),
      numFiles = 1, statsCols = Seq("k"))
    // resolve (and memoize) the live set first, so the replace itself
    // is the only step that meets the blocked name
    TxnTable.liveEntries(dir)
    block(new java.io.File(dir, s"checkpoint-v${TxnTable.version(dir)}.json"))
    intercept[java.io.IOException] { TxnTable.checkpoint(dir) }
    assert(tmps(dir).isEmpty, s"checkpoint orphaned ${tmps(dir)}")
    val layout = graft.core.TempDirs.scratchShared("blockedquant")
    block(new java.io.File(layout, "_quantizer.json"))
    intercept[java.io.IOException] {
      Similarity.writeQuantizer(layout, Seq(Similarity.ctr(1, Seq(1f, 0f))))
    }
    assert(tmps(layout).isEmpty, s"quantizer orphaned ${tmps(layout)}")
  }

  test("torn gen pointer: a zero-length husk reads as not-published " +
      "(self-heal); a half-written body fails loudly naming the file") {
    val root = graft.core.TempDirs.scratchShared("torngen")
    new java.io.File(root).mkdirs()
    def plant(g: Int, body: String): Unit = {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, s"gen-$g.json"),
        body.getBytes("UTF-8"))
      ()
    }
    plant(1, s"""{"gen":1,"path":"lay1","k":4,"ts":1000}""")
    // the crash husk (claim created, fill never ran): readers resolve
    // the previous generation, exactly as if gen 2 was never published
    plant(2, "")
    Similarity.dropGenPtrCacheForTest(root)
    assert(Similarity.ivfCurrent(root).exists(_._1 == 1))
    // half-written fill (torn mid-path, no closing quote): loud, named
    plant(2, """{"gen":2,"path":"lay""")
    Similarity.dropGenPtrCacheForTest(root)
    val torn = intercept[IllegalStateException] { Similarity.ivfCurrent(root) }
    assert(torn.getMessage.contains("corrupt index generation file") &&
      torn.getMessage.contains("gen-2.json"), torn.getMessage)
    // full path but truncated before k: still loud, never a defaulted k
    plant(2, """{"gen":2,"path":"lay2",""")
    Similarity.dropGenPtrCacheForTest(root)
    val noK = intercept[IllegalStateException] { Similarity.ivfCurrent(root) }
    assert(noK.getMessage.contains("missing k"), noK.getMessage)
    // healed by a complete publish body: serves again
    plant(2, s"""{"gen":2,"path":"lay2","k":4,"ts":2000}""")
    Similarity.dropGenPtrCacheForTest(root)
    assert(Similarity.ivfCurrent(root).exists(c => c._1 == 2 && c._2 == "lay2"))
  }

  test("torn BPE meta.json: resume fails loudly as corrupt state " +
      "(never trains from a guessed checkpoint); retiring the damaged " +
      "state dir resumes from scratch byte-identically") {
    val sf = "/root/testdata/sf0.001"
    val ref = TextOps.bpeMergesBatched(spark, sf, 6, 2)
    val stateDir = graft.core.TempDirs.scratchShared("tornbpe")
    TextOps.bpeMergesBatched(spark, sf, 6, 2,
      stateDir = Some(stateDir), checkpointEvery = 2)
    val committed = Option(new java.io.File(stateDir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => new java.io.File(f, "meta.json").exists())
    assert(committed.nonEmpty, "fixture must commit at least one state")
    val meta = new java.io.File(committed.maxBy(
      _.getName.stripPrefix("state-v").toInt), "meta.json")
    // tear the COMMIT MARKER itself (the file written atomically last)
    val orig = readBytes(meta)
    write(meta, orig.take(orig.length / 2))
    val torn = intercept[RuntimeException] {
      TextOps.bpeMergesBatched(spark, sf, 6, 2,
        stateDir = Some(stateDir), checkpointEvery = 2)
    }
    assert(torn.getMessage.contains("corrupt trainer state"),
      torn.getMessage)
    // operator recovery: retire the damaged state dir — training
    // restarts clean and lands the identical merge list
    graft.core.TempDirs.rmTree(meta.getParentFile)
    assert(TextOps.bpeMergesBatched(spark, sf, 6, 2,
      stateDir = Some(stateDir), checkpointEvery = 2) == ref)
  }

  test("torn lock body and torn head hint: both SELF-HEAL — an " +
      "unidentifiable lock reads as expired (reclaimable, never a " +
      "wedge), a garbled hint degrades to the listing and re-primes") {
    import spark.implicits._
    val dir = graft.core.TempDirs.scratchShared("tornlock")
    TxnTable.init(spark, dir,
      (0L until 10L).map(k => (k, k)).toDF("k", "v"),
      numFiles = 1, statsCols = Seq("k"))
    TxnTable.upsert(spark, dir, "k", Seq((1L, -1L)).toDF("k", "v"))
    // a torn lock (truncated mid-token: holder parses, ttl gone) must
    // report expired and be reclaimed by the next maintenance op
    val lock = new java.io.File(dir, "_maintenance.lock")
    java.nio.file.Files.write(lock.toPath,
      """{"holder":"vacuum@pid9","token":"t0","ts":17""".getBytes("UTF-8"))
    assert(graft.core.Lease.status(dir).exists(_._4),
      "a torn lock body must judge as expired")
    TxnTable.vacuum(dir, keepSince = 2, force = true)
    assert(!lock.exists(), "the reclaiming op must release the lease")
    // a torn hint is ADVISORY: the read degrades to the listing and
    // re-primes the hint — same committed answer
    val hint = new java.io.File(dir, "_head.json")
    java.nio.file.Files.write(hint.toPath, """{"head":""".getBytes("UTF-8"))
    TxnTable.dropCaches(dir)
    assert(TxnTable.read(spark, dir).count() == 10)
    assert(new String(readBytes(hint), "UTF-8").contains("\"head\":2"),
      "the degraded read must re-prime the hint")
  }
}
