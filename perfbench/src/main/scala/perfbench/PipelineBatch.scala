package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** pipeline-batch: one client runs multi-job operators in a
  * seed-permuted order, pass after pass, with caches dropped before each
  * query. Each query's result is written as parquet under the work
  * directory; run.py digests those files against the committed
  * references after the process exits.
  *
  * The set is the inverted-index tier (dd02), the iterative loops
  * (dd05 connected components, dd08 semantic dedup, tx19 BPE),
  * sampling (sp12) and a streaming CDC follower over TxnTable (st11). */
object PipelineBatch {
  val Queries: Seq[String] = Seq("dd02", "dd05", "dd08", "tx19", "sp12", "st11")

  def resolve(): Seq[(String, String, (SparkSession, String) => DataFrame)] = {
    val all = graft.SparkEntry.queries
    Queries.map { q =>
      val hits = all.keys.filter(_.takeWhile(_ != '_') == q).toSeq
      require(hits.size == 1, s"query $q resolves to ${hits.mkString(",")}")
      (q, hits.head, all(hits.head))
    }
  }

  /** The order of pass `k`: a permutation drawn from the seed. */
  def order(seed: Long, k: Int, n: Int): Seq[Int] = {
    val r = new java.util.SplittableRandom(seed * 1000003L + k)
    (0 until n).map(i => (r.nextDouble(), i)).sortBy(_._1).map(_._2)
  }

  private def dropCaches(s: SparkSession): Unit = {
    graft.operators.Dedup.releaseCaches()
    s.sharedState.cacheManager.clearCache()
  }

  /** Sums the Catalyst phase times (analysis, optimization, planning,
    * in ms) of the query executions that end while `active` is set.
    * Executions are reported on the listener bus, after the fact, so
    * callers [[quiesce]] before switching `active`. */
  final class Phases extends QueryExecutionListener {
    @volatile var active = false
    @volatile var analysis, optimization, planning = 0.0
    private val seen = new java.util.concurrent.atomic.AtomicLong()
    private def add(qe: QueryExecution): Unit = synchronized {
      seen.incrementAndGet()
      if (active) {
        val ph = qe.tracker.phases
        def d(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
        analysis += d("analysis"); optimization += d("optimization"); planning += d("planning")
      }
    }
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)

    /** Wait until no execution has been reported for 200 ms (at most 5 s). */
    def quiesce(): Unit = {
      val deadline = System.currentTimeMillis() + 5000
      var last = -1L
      var since = System.currentTimeMillis()
      while (System.currentTimeMillis() < deadline && System.currentTimeMillis() - since < 200) {
        if (seen.get() != last) { last = seen.get(); since = System.currentTimeMillis() }
        Thread.sleep(20)
      }
    }
  }

  def run(ctx: Ctx, setup: Setup): Outcome = {
    val s = ctx.spark
    val qs = resolve()
    val outRoot = new java.io.File(ctx.work("pipeline-out"))

    /** One query run from dropped caches, its result written under `tag`. */
    def runQuery(item: (String, String, (SparkSession, String) => DataFrame), tr: Tracer,
        tag: String): (String, Double, Option[String]) = {
      dropCaches(s)
      timed(item, tr, new java.io.File(outRoot, tag), ctx.dataDir)
    }

    def timed(item: (String, String, (SparkSession, String) => DataFrame), tr: Tracer,
        out: java.io.File, data: String): (String, Double, Option[String]) = {
      val (q, _, fn) = item
      val dest = new java.io.File(out, q).getAbsolutePath
      if (tr.enabled) s.sparkContext.setJobGroup(q, "perfbench", false)
      val t0 = System.nanoTime()
      val err =
        try {
          tr.span(s"operators.$q", q) {
            val df = tr.span("operators.build", q)(fn(s, data))
            tr.span("operators.write", q)(df.write.mode("overwrite").parquet(dest))
          }
          None
        } catch { case e: Exception => Some(s"$q failed: ${e.getMessage}") }
      val ms = (System.nanoTime() - t0) / 1e6
      if (tr.enabled) s.sparkContext.clearJobGroup()
      (q, ms, err)
    }

    /** One pass; returns per-query (name, ms, error). */
    def pass(k: Int): Seq[(String, Double, Option[String])] =
      order(ctx.seed, k, qs.size).map(i => runQuery(qs(i), ctx.tracer, s"p$k"))

    setup.done {
      // as graft.Bench: every query once on the small data set, so the
      // timed pass does not pay class loading and code generation
      val warm = new java.io.File(ctx.work("pipeline-warm"))
      Par.foreach(qs) { item =>
        val (q, _, err) = timed(item, new Tracer(false), warm, ctx.warmDir)
        err.foreach(e => sys.error(s"warm-up of $q failed: $e"))
      }
      dropCaches(s)
    }

    /** Passes until `--seconds` is used up: a pass starts only if the
      * last one would still fit. At least one pass runs. */
    def loop(): (Seq[Seq[(String, Double, Option[String])]], Double) = {
      val t0 = System.nanoTime()
      val deadline = t0 + ctx.seconds * 1000000000L
      val passes = scala.collection.mutable.ArrayBuffer[Seq[(String, Double, Option[String])]]()
      var last = 0L
      while (passes.isEmpty || System.nanoTime() + last <= deadline) {
        val a = System.nanoTime()
        passes += pass(passes.size)
        last = System.nanoTime() - a
      }
      (passes.toSeq, (System.nanoTime() - t0) / 1e9)
    }

    /** The operation is a pass: its latency is the pass wall time; a
      * pass with a failed query is a failed pass. Attempted and failed
      * count queries. */
    def outcome(passes: Seq[Seq[(String, Double, Option[String])]], wall: Double): Outcome = {
      val ops = passes.zipWithIndex.map { case (p, i) =>
        val o = new Op(i, Req("pass", "pass", "", 200), p.map(_._2).sum, 200, "", s"pass$i")
        o.failure = p.flatMap(_._3).headOption
        o
      }
      val queries = passes.flatten
      val failed = queries.count(_._3.isDefined)
      val perQuery = Queries.map(q => (s"query_${q}_s",
        Stats.median(queries.filter(_._1 == q).map(_._2)) / 1000, "s"))
      Metrics.outcome(ops, wall, Seq(("batch_pass_s", Stats.median(ops.map(_.ms)) / 1000, "s"),
        ("passes", passes.size.toDouble, "count")) ++ perQuery)
        .copy(attempted = queries.size, failed = failed, correct = failed == 0,
          errors = queries.flatMap(_._3).take(10), passes = ops.map(o => (s"p${o.seq}", o.ms)),
          wall = wall)
    }

    if (!ctx.trace) {
      val (passes, wall) = loop()
      dropCaches(s)
      outcome(passes, wall)
    } else {
      // each query untraced and traced back to back, alternating which
      // goes first, so neither side carries more of the cold start
      val plain = new Tracer(false)
      val listener = ctx.listener.get
      val phases = new Phases
      s.sparkContext.addSparkListener(listener)
      s.listenerManager.register(phases)
      def traced(i: Int) = {
        phases.active = true
        val t = runQuery(qs(i), ctx.tracer, "t0")
        listener.drain(); phases.quiesce()
        phases.active = false
        t
      }
      def untraced(i: Int) = {
        val u = runQuery(qs(i), plain, "u0")
        listener.drain(); phases.quiesce()
        u
      }
      val pairs = order(ctx.seed, 0, qs.size).zipWithIndex.map { case (i, k) =>
        if (k % 2 == 0) { val u = untraced(i); (u, traced(i)) }
        else { val t = traced(i); (untraced(i), t) }
      }
      listener.drain()
      s.listenerManager.unregister(phases)
      s.sparkContext.removeSparkListener(listener)
      dropCaches(s)
      val (uPass, tPass) = pairs.unzip
      val tWall = tPass.map(_._2).sum / 1000
      val base = outcome(Seq(tPass), tWall)
      val un = outcome(Seq(uPass), uPass.map(_._2).sum / 1000).e2e
      base.copy(layers = Layers.pipeline(ctx, ctx.tracer.all, listener.jobs, tWall, phases) ++
        Metrics.overhead(base.e2e, un), passes = Nil)
    }
  }
}
