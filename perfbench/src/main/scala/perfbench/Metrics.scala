package perfbench

/** End-to-end metrics of a timed phase. Every workload reports the same
  * names over its own operation: a request (serve-report), a pass
  * (pipeline-batch) or a commit (ingest-cdc). */
object Metrics {
  /** Latency charged to a failed operation: it misses every limit. */
  val FailedMs = 1e9

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "ops_per_s" -> "1/s",
    "op_p50_ms" -> "ms", "op_p95_ms" -> "ms")

  /** Latencies with failed operations counted as missing every limit. */
  def latencies(ops: Seq[Op]): Seq[Double] =
    ops.map(o => if (o.failure.isEmpty) o.ms else FailedMs)

  def e2e(ops: Seq[Op], wall: Double): Map[String, Double] = {
    val lat = latencies(ops)
    Map("ops_per_s" -> ops.count(_.failure.isEmpty) / wall,
      "op_p50_ms" -> Stats.pct(lat, 50), "op_p95_ms" -> Stats.pct(lat, 95))
  }

  /** Traced minus untraced, for each metric of the timed phase. */
  def overhead(traced: Map[String, Double], untraced: Map[String, Double]): Map[String, Double] =
    Seq("ops_per_s", "op_p50_ms", "op_p95_ms").map(k =>
      s"trace.overhead.$k" -> (traced(k) - untraced(k))).toMap

  def outcome(ops: Seq[Op], wall: Double,
      named: Seq[(String, Double, String)], otherAttempted: Long = 0,
      otherFailed: Long = 0, otherErrors: Seq[String] = Nil): Outcome = {
    val failed = ops.count(_.failure.isDefined) + otherFailed
    Outcome(ops.size + otherAttempted, failed, failed == 0, e2e(ops, wall),
      Map.empty, named, ops.flatMap(_.failure).take(10) ++ otherErrors.take(10))
  }
}

/** Marks the end of a workload's set-up: everything from process start
  * to the return of `done` is set-up time. */
final class Setup {
  /** Epoch millis when set-up finished. */
  @volatile var readyAt = 0L

  def done[A](block: => A): A = {
    val a = block
    readyAt = System.currentTimeMillis()
    a
  }
}
