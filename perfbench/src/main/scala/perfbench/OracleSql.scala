package perfbench

/** Writes the DuckDB oracle SQL of the pipeline-batch queries as a JSON
  * object {short name: sql, or null without an oracle}; make_refs.py
  * turns it into reference digests. Usage: OracleSql <out.json> */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val entries = PipelineBatch.resolve().map { case (q, full, _) =>
      q -> oracle.get(full).map(Json.str).getOrElse("null")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)), Json.obj(entries) + "\n")
  }
}
