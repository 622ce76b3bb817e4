package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}
import graft.operators.Similarity

/** MODEL-BASED INDEX-LIFECYCLE FUZZING — the ANN-surface twin of
  * StorageFuzzSpec: seeded random sequences of streamed APPENDS, GDPR
  * DELETES, RETRAINS, ROLLBACKS, generation VACUUMS, and retired-id
  * re-ingest probes, against the one invariant every path is supposed
  * to preserve:
  *
  *   served ids == (every id ever committed) − (every id ever taken down)
  *
  * at EVERY step — a retrain purges physically but serves the same
  * set; a rollback reverts the quantizer, folds later streamed
  * batches forward, and re-imposes the ledger; a vacuum destroys only
  * unserved layouts. The soaks (HttpFrontDoorSpec 3-5) assert
  * exclusion and availability under fire; this spec asserts EXACT
  * set equality under adversarial interleavings (a rollback landing
  * between a delete and its retrain purge, a vacuum ahead of a
  * rollback target) nobody enumerates by hand. A rollback the engine
  * REFUSES (vacuumed target, unsourceable absorbed batch) is a legal
  * outcome — the model then stays put; what is never legal is a
  * served set that drifts from the model.
  *
  * Seeded: failures reproduce, the op log prints for shrinking. */
class IndexFuzzSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def runLifecycle(seed: Long, nOps: Int): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    def vec(): Seq[Float] = Seq.fill(8)(rnd.nextGaussian().toFloat)
    def batch(ids: Seq[Long]): DataFrame =
      ids.map(i => (i, vec())).toDF("vec_id", "embedding")

    val lay0 = graft.core.TempDirs.scratchShared("idxfuzzlay")
    batch((0L until 40L).toSeq)
      .withColumn("nrm", expr(
        "sqrt(aggregate(embedding, 0D, (a,x) -> a + cast(x as double)*x))"))
      .select(lit(1).as("cid"), col("vec_id"), col("embedding"), col("nrm"))
      .write.partitionBy("cid").mode("overwrite").parquet(s"$lay0/seg=base")
    val root = graft.core.TempDirs.scratchShared("idxfuzzroot")
    Similarity.ivfPublish(root, lay0, 4)

    var ingested: Set[Long] = (0L until 40L).toSet
    var dead: Set[Long] = Set.empty
    var nextId = 40L
    var nextBid = 0L
    val opLog = new scala.collection.mutable.ArrayBuffer[String]()

    def served(): Set[Long] = {
      val (_, path, _) = Similarity.ivfCurrent(root).getOrElse(
        fail(s"no published generation after: ${opLog.mkString("; ")}"))
      val ids = Similarity.ivfReadLayout(spark, path)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      ids -- Similarity.ivfTombstones(path)
    }

    for (_ <- 1 to nOps) {
      rnd.nextInt(100) match {
        // ---- streamed append (always fresh ids) ---------------------
        case x if x < 35 =>
          val ids = (nextId until nextId + 2 + rnd.nextInt(6)).toSeq
          nextId = ids.last + 1
          Similarity.ivfStreamAppendCurrent(spark, root, batch(ids), nextBid)
          nextBid += 1
          ingested ++= ids
          opLog += s"append(${ids.head}..${ids.last})"
        // ---- GDPR delete (live ids; sometimes an already-dead one,
        // which must be idempotent) -----------------------------------
        case x if x < 55 =>
          val live = (ingested -- dead).toSeq.sorted
          if (live.nonEmpty) {
            val pick = Seq.fill(1 + rnd.nextInt(3))(
              live(rnd.nextInt(live.size))).distinct ++
              (if (rnd.nextInt(4) == 0 && dead.nonEmpty)
                Seq(dead.head) else Nil)
            Similarity.ivfDelete(root, pick)
            dead ++= pick
            opLog += s"delete(${pick.mkString(",")})"
          }
        // ---- retrain (the physical purge) ----------------------------
        case x if x < 70 =>
          Similarity.ivfRetrainPublish(spark, root, iters = 1)
          opLog += "retrain"
        // ---- rollback to a random surviving generation ---------------
        case x if x < 85 =>
          val hist = Similarity.ivfHistory(root)
          if (hist.size >= 2) {
            val toGen = hist(rnd.nextInt(hist.size - 1))._1
            try {
              Similarity.ivfRollback(spark, root, toGen)
              opLog += s"rollback($toGen)"
            } catch {
              case e: IllegalArgumentException =>
                // vacuumed target / unsourceable absorbed batch: a
                // loud refusal is the contract — nothing may change
                opLog += s"rollback($toGen):refused"
            }
          }
        // ---- generation vacuum ---------------------------------------
        case x if x < 95 =>
          Similarity.ivfVacuum(spark, root, keepGens = 2,
            retainMillis = 0L)
          opLog += "vacuum"
        // ---- advisory-hint chaos: the serve path must self-heal ------
        case x if x < 97 =>
          val f = new java.io.File(root, graft.core.VersionLog.HintFile)
          if (rnd.nextBoolean())
            java.nio.file.Files.write(f.toPath, "{garbled".getBytes("UTF-8"))
          else java.nio.file.Files.deleteIfExists(f.toPath)
          opLog += "hintChaos"
        // ---- invalid: re-ingest of a permanently retired id ----------
        case _ if dead.nonEmpty =>
          val retired = dead.head
          val e = intercept[IllegalArgumentException] {
            Similarity.ivfStreamAppendCurrent(spark, root,
              batch(Seq(retired, nextId)), nextBid)
          }
          assert(e.getMessage.contains("retired"), e.getMessage)
          nextBid += 1 // the refused bid number is burned, never reused
          opLog += s"refused:reingest($retired)"
        case _ => ()
      }
      val got = served()
      val want = ingested -- dead
      assert(got == want,
        s"seed $seed: served set diverged after ${opLog.mkString("; ")}\n" +
          s"extra: ${(got -- want).toSeq.sorted.take(10)} " +
          s"missing: ${(want -- got).toSeq.sorted.take(10)}")
    }
    // the ledger never trims and never serves a recorded id
    assert((served() & Similarity.takedownLedger(root)).isEmpty)
  }

  test("seeded random index lifecycles: serving ids equal ingested " +
      "minus taken-down at every step (seed 20260816, 28 ops)") {
    runLifecycle(20260816L, 28)
  }

  test("a second seed: different interleavings, same invariant " +
      "(seed 616, 28 ops)") {
    runLifecycle(616L, 28)
  }
}
