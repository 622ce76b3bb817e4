package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derive an sf1-scale dataset from the driver's sf0.1 tables — the
  * input for the one-shot full-battery oracle certification above the
  * driver's sf0.01 gate (CORRECTNESS_SF1.json; the r16 verdict's
  * ranked task #3: the caps and heuristics that only engage at scale
  * — df-cap, hot-bucket caps, banding recall, bloomDecision — had
  * never been oracle-checked above sf0.01).
  *
  * Method: 10 deterministic copies of every fact table with key
  * remapping at a fixed stride (10⁶ — divisible by the doc_id%10 and
  * %50 split moduli, so history/delta and benchmark-split semantics
  * scale rather than shift), dims (region/nation) kept as FK targets.
  * Document copies ROTATE their token sequence (copy k by 7k tokens)
  * so the corpus scales without turning every doc into an exact
  * 10-way duplicate: shingle df grows the way the generator's fixed
  * 31-word vocabulary implies, and rotation keeps realistic near-dup
  * mass for the dedup family. Embedding copies keep their vectors
  * (ties break on vec_id identically in both engines). Events are
  * normalized to µs timestamps (both encodings are certified paths).
  *
  * Usage: graft.tools.GenSf1 [outDir] — default data/sf1.
  */
object GenSf1 {

  private val Stride = 1000000L
  private val Copies = 10

  private def copies(df: DataFrame, keyCols: Seq[String],
      perCopy: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
    (0 until Copies).map { k =>
      val shifted = keyCols.foldLeft(df)((d, c) =>
        d.withColumn(c, col(c) + lit(k * Stride)))
      perCopy(shifted, k)
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("data/sf1")
    val src = "/root/testdata/sf0.1"
    val cpus = graft.core.Cpus.fromEnv(16)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(out).mkdirs()
    // one FILE per table, exactly the driver's testdata layout: the
    // streaming sources read via pathGlobFilter=<name>.parquet, which
    // matches LEAF file names — a directory table would stream zero
    // files (found the hard way: st10 compacted an empty staging)
    def write(name: String, df: DataFrame, files: Int): Unit = {
      val _ = files
      val tmp = s"$out/.tmp-$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(out, s"$name.parquet")
      java.nio.file.Files.deleteIfExists(dst)
      java.nio.file.Files.move(part.toPath, dst)
      graft.core.TempDirs.rmTree(new java.io.File(tmp))
      println(s"[gensf1] $name: ${spark.read.parquet(dst.toString).count()} rows")
    }
    import graft.core.Tables
    // dims unchanged (FK targets)
    write("region", Tables.region(spark, src), 1)
    write("nation", Tables.nation(spark, src), 1)
    // names re-derived from the shifted keys: the semantic layer
    // declares "Customer Name" unique per dim row (a candidate key
    // the page-first planner may page on) — copies that duplicate
    // names would break the cube's declared invariant, not test it
    write("customer",
      copies(Tables.customer(spark, src), Seq("c_custkey"),
        (d, _) => d.withColumn("c_name",
          format_string("Customer#%09d", col("c_custkey")))), 4)
    write("supplier",
      copies(Tables.supplier(spark, src), Seq("s_suppkey"),
        (d, _) => d.withColumn("s_name",
          format_string("Supplier#%09d", col("s_suppkey")))), 2)
    write("part", copies(Tables.part(spark, src), Seq("p_partkey")), 4)
    write("orders",
      copies(Tables.orders(spark, src), Seq("o_orderkey", "o_custkey")), 8)
    write("lineitem",
      copies(Tables.lineitem(spark, src),
        Seq("l_orderkey", "l_partkey", "l_suppkey")), 16)
    write("events",
      copies(Tables.events(spark, src), Seq("event_id", "user_id")), 8)
    // documents: rotate copy k's tokens by 7k so copies are near- but
    // not exact duplicates; n_chars recomputed from the rebuilt text
    write("documents",
      copies(Tables.documents(spark, src), Seq("doc_id"), { (d, k) =>
        if (k == 0) d
        else {
          val r = 7 * k
          d.withColumn("t", split(col("text"), " "))
            .withColumn("text", when(size(col("t")) <= 1, col("text"))
              .otherwise(concat_ws(" ",
                concat(
                  slice(col("t"), lit(r) % size(col("t")) + 1,
                    size(col("t"))),
                  slice(col("t"), lit(1), lit(r) % size(col("t")))))))
            .withColumn("n_chars", length(col("text")).cast("long"))
            .drop("t")
        }
      }), 8)
    write("embeddings",
      copies(Tables.embeddings(spark, src), Seq("vec_id")), 4)
    spark.stop()
  }
}
