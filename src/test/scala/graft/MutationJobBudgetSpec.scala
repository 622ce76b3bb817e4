package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.TxnTable

/** Job budget of the keyed mutations: the Spark jobs one
  * `TxnTable.deleteKeys` / `upsert` / `merge` / `mergeFrame` runs on an
  * sf0.001 `orders` table laid out as st11/st12 lay theirs, pinned per
  * mutation. A rise fails; a fall is an improvement to re-pin, with the
  * reason in CHANGES.md. Job counts do not depend on host load the way
  * latency does. */
class MutationJobBudgetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  /** Warm jobs per mutation, measured at sf0.001 with `local[4]`. Each
    * written commit (the survivor rewrite, the inserts) is a write job
    * plus its footer-stats read. The `limit` probe that picks a
    * frame-keyed mutation's key carrier reads the raw key column, which
    * over these driver-local frames runs no job (a `distinct` probe ran
    * a shuffle map stage plus its collect: 6 / 7 / 6 for upsert / merge
    * / mergeFrame), and a small literal delete runs none either. */
  private val budget: Map[String, Int] = Map(
    "deleteKeys" -> 2, "upsert" -> 4, "merge" -> 5, "mergeFrame" -> 4)

  /** st11's table: range-clustered on the key, key stats on. */
  private def table(): String = {
    val dir = graft.core.TempDirs.scratchShared("mutjobs")
    TxnTable.init(spark, dir,
      graft.core.Tables.orders(spark, sf)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartitionByRange(16, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"),
      numFiles = 0, statsCols = Seq("o_orderkey"))
    dir
  }

  private val mutations: Seq[(String, String => Unit)] = {
    val cols = Seq("o_orderkey", "o_orderstatus", "o_totalprice")
    def rows(rs: (Long, String, Double)*) = {
      val s = spark; import s.implicits._
      rs.toDF(cols: _*)
    }
    Seq(
      "deleteKeys" -> { dir =>
        TxnTable.deleteKeys(spark, dir, "o_orderkey", Seq(25L, 27L, 29L)); () },
      "upsert" -> { dir =>
        TxnTable.upsert(spark, dir, "o_orderkey", rows((26L, "W", 11.5),
          (28L, "W", 22.25), (30000000L, "W", 33.75))) },
      "merge" -> { dir =>
        TxnTable.merge(spark, dir, "o_orderkey",
          rows((32L, "W", 1.5), (30000001L, "W", 2.5)), deletes = Seq(33L, 35L)) },
      "mergeFrame" -> { dir =>
        val s = spark; import s.implicits._
        TxnTable.mergeFrame(spark, dir, "o_orderkey",
          Seq((41L, "", 0.0, "delete"), (43L, "", 0.0, "delete"),
            (42L, "S", 11.11, "upsert")).toDF(cols :+ "_op": _*)) })
  }

  test("each keyed mutation stays within its pinned job budget") {
    val got = mutations.map { case (name, run) =>
      run(table()) // first run: one-time work
      val dir = table()
      name -> ServeProbes.jobsDuring(spark)(run(dir))
    }
    info(s"jobs per mutation: $got")
    val over = got.filter { case (n, j) => budget.get(n).forall(j > _) }
    assert(over.isEmpty, s"mutation jobs above budget (or unpinned): " +
      over.map { case (n, j) => s"$n $j > ${budget.getOrElse(n, "none")}" } +
      s"; all: $got")
  }
}
