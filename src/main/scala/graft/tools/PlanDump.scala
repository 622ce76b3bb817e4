package graft.tools
import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for declared queries to files —
  * the optimization-round evidence trail (plans/rNN/<query>_<tag>.txt).
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <tag> [query ...]
  * (no query args = all declared queries). Lifecycle/streaming queries
  * EXECUTE while building their frame (the returned plan is the final
  * serve read — noted in the header); pure-batch queries are planned
  * lazily, so the dump is cheap for them.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(
      sys.error("usage: PlanDump <outDir> <tag> [query ...]"))
    val tag = args.lift(1).getOrElse("before")
    val cpus = graft.core.Cpus.fromEnv(32)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = sys.env.getOrElse("QT_DIR", "/root/testdata/sf0.1")
    new java.io.File(outDir).mkdirs()
    val qs = graft.SparkEntry.queries
    val names = if (args.length > 2) args.drop(2).toSeq else qs.keys.toSeq.sorted
    for (name <- names) {
      try {
        val df = qs(name)(spark, d)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val body = s"== $name (sf=${new java.io.File(d).getName}, tag=$tag) ==\n" +
          "NOTE: for lifecycle/streaming queries this is the final serve-read plan;\n" +
          "the stateful/mutating stages execute eagerly inside the query fn.\n\n" + plan
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"), body)
        println(s"PLAN $name ok (${plan.length} chars)")
      } catch {
        case e: Throwable => println(s"PLAN $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
