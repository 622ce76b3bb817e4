package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Run every selected query, parquet each result under `outDir`, and
    * write `errors.json`. A query that throws must still produce an
    * artifact, or the driver's compare silently drops it and coverage
    * shrinks without a failure (round-8 postmortem: 14 crashed queries
    * simply vanished from CORRECTNESS). On failure a one-row marker
    * parquet is written whose schema (`verify_error`) can never match
    * any oracle → the compare records a loud schema/hash mismatch with
    * the exception text embedded in the artifact. Returns the
    * name→error roster. */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: $msg")
        failed(name) = msg
        try {
          import spark.implicits._
          Seq(msg).toDF("verify_error").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
    }
    // Machine-readable failure roster alongside the marker parquets.
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.keys.mkString(", "))
    failed.toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet // optional subset of query names
    // default matches the verification driver's local[32]: outputs that
    // are parallelism-sensitive (sketch estimates, partial-agg merge
    // order) must fail HERE, in the builder's loop, not at the driver
    val cpus = graft.core.Cpus.fromEnv(32)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dump(spark, sfDir, outDir, SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) })
    graft.operators.Dedup.releaseCaches()
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
