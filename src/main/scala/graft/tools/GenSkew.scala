package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derive a TRUE-SKEW variant of the scale corpus (the r17 verdict's
  * ranked task #7): GenSf1's key-strided copies inherit sf0.1's
  * near-uniform key distributions, so the skew machinery
  * (operators/Skew.scala, AQE skew-join splits, the dd02/dd10 df-caps
  * and dd08 cluster routing) had never been oracle-checked under real
  * heavy-tail data. This generator plants the heavy tail
  * deterministically (hash-selected rows, no RNG — reruns are
  * byte-identical):
  *
  *  - orders: 15% of rows remapped to o_custkey=1, 5% to 2, 3% to 3
  *    (top-3 custkeys carry 23% of the fact — the "hot advertiser"
  *    shape; q03's orders⋈customer shuffle gets one pathological key);
  *  - lineitem: 15% of rows to l_suppkey=1 (q24's supplier star),
  *    10% to l_orderkey=1 (q05's group-by grain + q03's probe side);
  *  - events: 15% of rows to user_id=1;
  *  - documents: 10% of docs get a shared 10-token boilerplate tail →
  *    six 5-gram shingles each with df ≈ 2·corpus/10 ≫ the
  *    DefaultMaxShingleDf=1000 cap, so dd02/dd10/dd11's df-cap path
  *    ENGAGES instead of idling below threshold;
  *  - embeddings: 5% of vectors replaced by one tight analytic
  *    cluster (cos ≈ 0.999 pairwise) → dd08's cluster routing sees a
  *    genuinely hot centroid.
  *
  * FK targets (customer/supplier/part + dims) are generated exactly
  * like GenSf1 (names re-derived: the cube declares "Customer Name"
  * unique). Relational facts scale 10× (sf1); documents/embeddings
  * scale 4× — enough corpus to push the hot shingle far past the
  * df-cap while keeping the DuckDB pair-join oracles tractable.
  *
  * Usage: graft.tools.GenSkew [outDir] — default data/sf1skew.
  */
object GenSkew {

  private val Stride = 1000000L

  private def copies(df: DataFrame, n: Int, keyCols: Seq[String],
      perCopy: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
    (0 until n).map { k =>
      val shifted = keyCols.foldLeft(df)((d, c) =>
        d.withColumn(c, col(c) + lit(k * Stride)))
      perCopy(shifted, k)
    }.reduce(_ unionByName _)

  /** Deterministic `pct`% row selector keyed on `seedCol` (xxhash64 —
    * stable across runs/partitionings; `salt` decorrelates the
    * selectors so the hot-custkey and hot-orderkey sets overlap only
    * at the expected product rate). */
  private def hashSlice(seedCol: Column, salt: Int, pct: Int): Column =
    pmod(xxhash64(lit(salt.toLong), seedCol), lit(100L)) < pct

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("data/sf1skew")
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
    // single FILE per table (the driver's testdata layout; streaming
    // sources glob LEAF file names)
    def write(name: String, df: DataFrame): Unit = {
      val tmp = s"$out/.tmp-$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(out, s"$name.parquet")
      java.nio.file.Files.deleteIfExists(dst)
      java.nio.file.Files.move(part.toPath, dst)
      graft.core.TempDirs.rmTree(new java.io.File(tmp))
      println(s"[genskew] $name: ${spark.read.parquet(dst.toString).count()} rows")
    }
    import graft.core.Tables
    write("region", Tables.region(spark, src))
    write("nation", Tables.nation(spark, src))
    write("customer",
      copies(Tables.customer(spark, src), 10, Seq("c_custkey"),
        (d, _) => d.withColumn("c_name",
          format_string("Customer#%09d", col("c_custkey")))))
    write("supplier",
      copies(Tables.supplier(spark, src), 10, Seq("s_suppkey"),
        (d, _) => d.withColumn("s_name",
          format_string("Supplier#%09d", col("s_suppkey")))))
    write("part", copies(Tables.part(spark, src), 10, Seq("p_partkey")))
    // heavy-tail custkey: Zipf-ish head on keys 1/2/3
    write("orders",
      copies(Tables.orders(spark, src), 10, Seq("o_orderkey", "o_custkey"))
        .withColumn("o_custkey",
          when(hashSlice(col("o_orderkey"), 1, 15), lit(1L))
            .when(hashSlice(col("o_orderkey"), 2, 5), lit(2L))
            .when(hashSlice(col("o_orderkey"), 3, 3), lit(3L))
            .otherwise(col("o_custkey"))))
    write("lineitem",
      copies(Tables.lineitem(spark, src), 10,
        Seq("l_orderkey", "l_partkey", "l_suppkey"))
        .withColumn("l_suppkey",
          when(hashSlice(col("l_orderkey"), 4, 15), lit(1L))
            .otherwise(col("l_suppkey")))
        .withColumn("l_orderkey",
          when(hashSlice(col("l_partkey"), 5, 10), lit(1L))
            .otherwise(col("l_orderkey"))))
    write("events",
      copies(Tables.events(spark, src), 10, Seq("event_id", "user_id"))
        .withColumn("user_id",
          when(hashSlice(col("event_id"), 6, 15), lit(1L))
            .otherwise(col("user_id"))))
    // documents: GenSf1's token rotation (copies stay near-dups, not
    // exact dups) + the hot boilerplate tail on 10% of docs
    val boiler = "the data query table scan join merge sort hash filter"
    write("documents",
      copies(Tables.documents(spark, src), 4, Seq("doc_id"), { (d, k) =>
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
            .drop("t")
        }
      })
        .withColumn("text",
          when(hashSlice(col("doc_id"), 7, 10),
            concat(col("text"), lit(" " + boiler)))
            .otherwise(col("text")))
        .withColumn("n_chars", length(col("text")).cast("long")))
    // embeddings: one tight hot cluster — member i's coordinate j is
    // base(j) + tiny hash noise, so pairwise cosine ≈ 0.999 and every
    // member routes to the same centroid
    val hotVec = "transform(sequence(0, 63), j -> cast(" +
      "(1.0 + pmod(j, 7)) / 16.0 + " +
      "pmod(xxhash64(vec_id * 131 + j), 100) / 5000.0 as float))"
    write("embeddings",
      copies(Tables.embeddings(spark, src), 4, Seq("vec_id"))
        .withColumn("embedding",
          when(hashSlice(col("vec_id"), 8, 5), expr(hotVec))
            .otherwise(col("embedding"))))
    spark.stop()
  }
}
