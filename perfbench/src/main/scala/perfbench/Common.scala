package perfbench

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from [[Main]]. */
final case class Ctx(spark: SparkSession, dataDir: String, warmDir: String,
    workDir: String, seed: Long, seconds: Int, trace: Boolean, cores: Int,
    tracer: Tracer, listener: Option[JobListener]) {
  def work(name: String): String = {
    val d = new java.io.File(workDir, name)
    d.mkdirs()
    d.getAbsolutePath
  }
}

/** What one workload run reports. `e2e` holds the end-to-end metrics of
  * the timed phase; `layers` the per-layer metrics of a traced run;
  * `named` the workload's own figures, printed by name. `passes` (output
  * directory, ms) and `wall` (s) let run.py recompute `e2e` when an
  * output check made after the process fails a pass (pipeline-batch). */
final case class Outcome(attempted: Long, failed: Long, correct: Boolean,
    e2e: Map[String, Double],
    layers: Map[String, Double], named: Seq[(String, Double, String)],
    errors: Seq[String], passes: Seq[(String, Double)] = Nil, wall: Double = 0.0)

/** Runs `f` over `items` on one thread each and waits for all; the first
  * failure is rethrown. Warm-ups use it: they are mostly driver-side
  * class loading and code generation, which overlap well. */
object Par {
  def foreach[A](items: Seq[A])(f: A => Unit): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = items.map { a =>
      val t = new Thread(() => try f(a) catch { case e: Throwable => errors.add(e) })
      t.start(); t
    }
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Digest {
  /** Order-insensitive digest of a JSON row envelope: field list plus
    * the sorted multiset of rendered rows. */
  def envelope(body: String): Either[String, (String, Long)] =
    try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val root = JsonMethods.parse(body)
      val fields = JsonMethods.compact(JsonMethods.render(root \ "fields"))
      val rows = (root \ "rows") match {
        case JArray(rs) => rs.map(r => JsonMethods.compact(JsonMethods.render(r)))
        case other => return Left(s"envelope without rows: ${other.getClass.getSimpleName}")
      }
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(fields.getBytes("UTF-8"))
      rows.sorted.foreach { r => md.update(0.toByte); md.update(r.getBytes("UTF-8")) }
      Right((md.digest().map("%02x".format(_)).mkString, rows.size.toLong))
    } catch { case e: Exception => Left(s"unparseable envelope: ${e.getMessage}") }
}
