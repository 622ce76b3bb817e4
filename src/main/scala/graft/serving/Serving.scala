package graft.serving

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Result serving: the thin serialization layer over a finished plan —
  * the Spark-native analogue of the reference's RowList family
  * (JsonRowList, reference report/JsonRowList.scala; CSVRowList,
  * RowList.scala:707) and ResultSetTransformer (:55 DateTransformer,
  * :83 NumberTransformer).
  *
  * A served JSON page is always bounded, by construction: the
  * envelope materializes at most `cap + 1` rows and refuses a result
  * larger than `cap` (maha's max-rows guards, SURVEY §2.6), so the
  * driver never holds more than one capped page. The unbounded path is
  * `df.write` (distributed sink), never collect.
  */
object Serving {

  /** maha's synchronous max-rows guard (reference
    * DruidQueryGenerator.scala:159-166): the page cap of a sync request
    * on a cube that declares no `maxRowsSync`. */
  val SyncMaxRows = 5000

  /** maha's asynchronous max-rows guard: the cap on a completed job's
    * result embedded in a `GET /jobs/{id}` answer. */
  val AsyncMaxRows = 100000

  /** JSON API envelope for one result page:
    * {"fields":[{"fieldName":…,"fieldType":…}],"rows":[[…]],"rowCount":n}
    * — the JsonRowList wire shape: rows are POSITIONAL arrays aligned
    * with the fields list, nulls emitted explicitly (df.toJSON would
    * drop null-valued keys and emit objects, breaking positional
    * consumers).
    *
    * Collects `page.limit(cap + 1)`: over a sorted page Catalyst plans
    * that as a per-partition top-k (`TakeOrderedAndProjectExec`), one
    * job with no range-sampling job and no sort exchange; an already
    * paged frame keeps its plan (the redundant outer limit is
    * eliminated). More than `cap` rows throws
    * IllegalArgumentException naming the cap: a page is refused, never
    * truncated silently. */
  def jsonEnvelope(page: DataFrame, cap: Int = SyncMaxRows): String = {
    require(cap >= 0 && cap < Int.MaxValue, s"page cap $cap out of range")
    val got = page.limit(cap + 1).collect()
    if (got.length > cap) throw new IllegalArgumentException(
      s"result exceeds the $cap-row page cap; request a page with " +
        s"rowsPerPage <= $cap")
    val fields = page.schema.fields.map { f =>
      s"""{"fieldName":${q(f.name)},"fieldType":${q(typeName(f.dataType))}}"""
    }.mkString("[", ",", "]")
    val width = page.schema.length
    val rows = new StringBuilder("[")
    for (row <- got) {
      if (rows.length > 1) rows.append(',')
      rows.append('[')
      var i = 0
      while (i < width) {
        if (i > 0) rows.append(',')
        rows.append(jsonVal(row.get(i)))
        i += 1
      }
      rows.append(']')
    }
    rows.append(']')
    s"""{"fields":$fields,"rows":${rows.result()},"rowCount":${got.length}}"""
  }

  private def jsonVal(v: Any): String = v match {
    case null => "null"
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) q(d.toString) else d.toString
    case f: Float =>
      if (f.isNaN || f.isInfinite) q(f.toString) else f.toString
    case n @ (_: Long | _: Int | _: Short | _: Byte) => n.toString
    case bd: java.math.BigDecimal => bd.toPlainString
    case other => q(other.toString) // timestamps, dates, binary, …
  }

  private def typeName(dt: DataType): String = dt match {
    case _: StringType => "STR"
    case _: LongType | _: IntegerType | _: ShortType => "NUMBER"
    case _: DoubleType | _: FloatType | _: DecimalType => "NUMBER"
    case _: DateType | _: TimestampType => "DATE"
    case _: BooleanType => "BOOL"
    case other => other.simpleString.toUpperCase
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** CSV sink (CSVRowList analogue): distributed write with header. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** JSON-lines sink for async/large results. */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** DateTransformer analogue: render date/timestamp columns at the
    * requested grain (reference ResultSetTransformer.scala:55). */
  def dateTransform(c: Column, grain: String): Column = grain match {
    case "day"   => date_format(c, "yyyy-MM-dd")
    case "hour"  => date_format(c, "yyyy-MM-dd HH:00")
    case "month" => date_format(c, "yyyy-MM")
    case other   => throw new IllegalArgumentException(s"unknown grain '$other'")
  }

  /** NumberTransformer analogue: fixed-scale decimal rendering
    * (reference ResultSetTransformer.scala:83). */
  def scaleTransform(c: Column, scale: Int): Column =
    c.cast(DecimalType(38, scale))
}
