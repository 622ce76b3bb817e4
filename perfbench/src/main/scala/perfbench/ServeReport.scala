package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.analyzer.{RequestModel, SqlFrontDoor, request}
import graft.curators.RequestCoordinator
import graft.operators.SemanticQueries
import graft.planner.Planner
import graft.semantic.model.Registry
import graft.serving.{HttpFrontDoor, JobQueue, Serving, ServiceMonitor}

/** One finished operation: what was sent, what came back, how long it
  * took. `failure` is set when the call or a later output check fails. */
final class Op(val seq: Long, val req: Req, val ms: Double, val status: Int,
    val response: String, val reqId: String) {
  @volatile var failure: Option[String] = None
}

/** Ways to execute a [[Req]]: over HTTP, or in-process through the same
  * module calls the front door makes, with a span around each call. */
final class Caller(ctx: Ctx, reg: Registry, port: Int) {
  private val s: SparkSession = ctx.spark
  private val dir = ctx.dataDir
  private val tr = ctx.tracer
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  def overHttp(r: Req, reqId: String): (Int, String) = {
    val hr = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${r.path}"))
      .header("X-Request-Id", reqId)
      .POST(HttpRequest.BodyPublishers.ofString(r.body)).build()
    val resp = http.send(hr, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** Model and served variant of each traced in-process request that
    * reached the planner, keyed by body. */
  private val served = new ConcurrentLinkedQueue[(String, RequestModel.Model, String)]()
  /** Catalyst phase times (analysis, optimization, planning) in ms. */
  val phases = new ConcurrentLinkedQueue[(Double, Double, Double)]()

  /** The front door's /report and /sql path as separate module calls:
    * parse, model, plan, envelope. Validation errors answer 400. */
  def inProcess(r: Req, reqId: String): (Int, String) = {
    val parsed = tr.span("analyzer.parse", reqId) {
      if (r.path == "/sql") SqlFrontDoor.toRequest(s, r.body) else request.parse(r.body)
    }
    val planned = parsed.flatMap { rq =>
      tr.span("analyzer.model", reqId)(RequestModel.from(rq, reg)).flatMap { m =>
        tr.span("planner.plan", reqId)(Planner.plan(m, s, dir)).map(p => (m, p))
      }
    }
    planned match {
      case Left(err) => (400, s"""{"error":${Json.str(err)}}""")
      case Right((m, p)) =>
        val env = tr.span("serving.envelope", reqId)(Serving.jsonEnvelope(p.df))
        if (tr.enabled) {
          val ph = p.df.queryExecution.tracker.phases
          def d(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
          phases.add((d("analysis"), d("optimization"), d("planning")))
          served.add((r.body, m, p.factName))
        }
        (200, env)
    }
  }

  /** For each traced request that reached the planner: whether the
    * served variant is not the cube's base variant, and whether two or
    * more variants covered it. `Planner.explain` rebuilds the plan, so
    * it runs here, after the timed phase, once per distinct body. */
  def variants(): Seq[(Boolean, Boolean)] = {
    val reqs = served.asScala.toSeq
    val covering = reqs.groupBy(_._1).map { case (body, rs) =>
      val m = rs.head._2
      body -> Planner.explain(m, s, dir).fold(_ => 0, _._1.size)
    }
    reqs.map { case (body, m, fact) => (fact != m.cube.base.name, covering(body) >= 2) }
  }

  /** A dashboard: default request plus the timeshift and totalmetrics
    * curators, fanned out by the request coordinator. Answers the
    * default result's envelope. */
  def dashboard(r: Req, reqId: String): (Int, String) = {
    val monitor = new ServiceMonitor {
      private val begun = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
      def begin(id: String, kind: String): Unit = {
        // curator futures set their own job group; re-tag their jobs
        // with the request so the listener attributes them
        if (tr.enabled) s.sparkContext.setJobGroup(id, s"curator $kind", false)
        begun.put(kind, tr.now())
      }
      def complete(id: String, kind: String, success: Boolean, wallMillis: Long): Unit =
        Option(begun.get(kind)).foreach(t0 => if (tr.enabled) tr.record(s"curators.$kind", id, t0, tr.now()))
    }
    tr.span("curators.dashboard", reqId) {
      val res = RequestCoordinator.run(r.body, reg,
        Seq(RequestCoordinator.TimeShift, RequestCoordinator.TotalMetrics), s, dir,
        monitor = monitor, requestId = reqId)
      try {
        val bad = res.collect { case (k, Left(e)) => s"$k: $e" }
        if (bad.nonEmpty) (500, s"""{"error":${Json.str(bad.mkString("; "))}}""")
        else (200, Serving.jsonEnvelope(res("default").toOption.get))
      } finally RequestCoordinator.release(res)
    }
  }
}

object ServeReport {
  val Clients = 4

  /** Closed loop: `clients` threads take the next request index from a
    * shared counter until the deadline. */
  def loop(ctx: Ctx, gen: ServeGen, next: AtomicLong, clients: Int, seconds: Double,
      exec: (Req, String) => (Int, String)): (Seq[Op], Double) = {
    val ops = new ConcurrentLinkedQueue[Op]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        while (System.nanoTime() < deadline) {
          val i = next.getAndIncrement()
          val r = gen.request(i)
          val reqId = s"r$i"
          if (ctx.tracer.enabled) ctx.spark.sparkContext.setJobGroup(reqId, "perfbench", false)
          val a = System.nanoTime()
          val (st, body) =
            try ctx.tracer.span("op", reqId)(exec(r, reqId))
            catch { case e: Exception => (-1, String.valueOf(e.getMessage)) }
          val ms = (System.nanoTime() - a) / 1e6
          if (ctx.tracer.enabled) ctx.spark.sparkContext.clearJobGroup()
          val op = new Op(i, r, ms, st, body, reqId)
          if (st != r.expect) op.failure = Some(s"${r.kind} ${r.path} answered $st, expected ${r.expect}: ${body.take(200)}")
          ops.add(op)
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    (ops.asScala.toSeq.sortBy(_.seq), (System.nanoTime() - t0) / 1e9)
  }

  /** The reference answer for a valid request: runLogged (or the SQL
    * front door) plus jsonEnvelope, in-process. */
  def reference(ctx: Ctx, reg: Registry, r: Req): String = {
    val df =
      if (r.path == "/sql") SqlFrontDoor.run(r.body, reg)(ctx.spark, ctx.dataDir)
      else SemanticQueries.runLogged(r.body, "reference", reg)(ctx.spark, ctx.dataDir)
    Serving.jsonEnvelope(df)
  }

  /** Compare every 200 answer with the in-process reference for its
    * body (order-insensitive row digest); references are computed once
    * per distinct body, `clients` at a time. */
  def check(ctx: Ctx, reg: Registry, ops: Seq[Op], clients: Int): Unit = {
    val valid = ops.filter(o => o.failure.isEmpty && o.req.expect == 200)
    val byBody = valid.groupBy(o => (o.req.path == "/sql", o.req.body)).toSeq
    val queue = new java.util.concurrent.ConcurrentLinkedQueue(byBody.asJava)
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() => {
        var item = queue.poll()
        while (item != null) {
          val (_, group) = item
          val want =
            try Digest.envelope(reference(ctx, reg, group.head.req))
            catch { case e: Exception => Left(s"reference failed: ${e.getMessage}") }
          group.foreach { o =>
            (want, Digest.envelope(o.response)) match {
              case (Right(w), Right(g)) if w == g => ()
              case (Right(w), Right(g)) => o.failure = Some(
                s"${o.req.kind} rows differ from the in-process answer (${g._2} vs ${w._2} rows): ${o.req.body.take(200)}")
              case (Left(e), _) => o.failure = Some(e)
              case (_, Left(e)) => o.failure = Some(e)
            }
          }
          item = queue.poll()
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
  }

  def run(ctx: Ctx, setup: Setup): Outcome = {
    val s = ctx.spark
    val reg = SemanticQueries.registry
    val gen = new ServeGen(ctx.seed)
    val jobs = new JobQueue(s, ctx.dataDir, java.nio.file.Paths.get(ctx.work("jobs")), workers = 1)
    val door = new HttpFrontDoor(s, ctx.dataDir, reg, jobs)
    try {
      val caller = setup.done {
        val c = new Caller(ctx, reg, door.start())
        Par.foreach(gen.warm.zipWithIndex) { case (r, i) =>
          val (st, body) =
            if (r.path == "dashboard") c.dashboard(r, s"warm$i") else c.overHttp(r, s"warm$i")
          require(st == 200, s"warm-up request failed with $st: $body")
        }
        c
      }
      if (!ctx.trace) {
        val (ops, wall) = loop(ctx, gen, new AtomicLong(), Clients, ctx.seconds, (r, id) =>
          if (r.path == "dashboard") caller.dashboard(r, id) else caller.overHttp(r, id))
        check(ctx, reg, ops, Clients)
        Metrics.outcome(ops, wall, namedServe(ops, wall))
      } else traced(ctx, reg, gen, caller)
    } finally { door.stop(); jobs.shutdown() }
  }

  def namedServe(ops: Seq[Op], wall: Double): Seq[(String, Double, String)] = {
    val lat = Metrics.latencies(ops)
    val rep = ops.filter(_.req.kind == "orders")
    Seq(("report_rps", ops.count(_.failure.isEmpty) / wall, "req/s"),
      ("report_p50_ms", Stats.pct(lat, 50), "ms"),
      ("report_p95_ms", Stats.pct(lat, 95), "ms"),
      ("order_stats_p50_ms", Stats.pct(Metrics.latencies(rep), 50), "ms"),
      ("sql_p50_ms", Stats.pct(Metrics.latencies(ops.filter(_.req.kind == "sql")), 50), "ms"),
      ("dashboard_p50_ms", Stats.pct(Metrics.latencies(ops.filter(_.req.kind == "dashboard")), 50), "ms"),
      ("repeat_share", 1.0 - ops.map(_.req.body).distinct.size.toDouble / ops.size.max(1), "ratio"))
  }

  /** Traced run: the same request stream in-process, untraced for half
    * the time, traced for the full time, untraced for the other half, so
    * neither side runs on a warmer JVM; then the front-door probe. */
  private def traced(ctx: Ctx, reg: Registry, gen: ServeGen, caller: Caller): Outcome = {
    val exec: (Req, String) => (Int, String) = (r, id) =>
      if (r.path == "dashboard") caller.dashboard(r, id) else caller.inProcess(r, id)
    val plain = ctx.copy(tracer = new Tracer(false), listener = None)
    val plainCaller = new Caller(plain, reg, 0)
    val uNext = new AtomicLong()
    def untraced() = loop(plain, gen, uNext, Clients, ctx.seconds / 2.0, (r, id) =>
      if (r.path == "dashboard") plainCaller.dashboard(r, id) else plainCaller.inProcess(r, id))
    val (u1, uWall1) = untraced()
    val listener = ctx.listener.get
    ctx.spark.sparkContext.addSparkListener(listener)
    val (tOps, tWall) = loop(ctx, gen, new AtomicLong(), Clients, ctx.seconds, exec)
    listener.drain()
    ctx.spark.sparkContext.removeSparkListener(listener)
    val (u2, uWall2) = untraced()
    val (uOps, uWall) = (u1 ++ u2, uWall1 + uWall2)
    val spans = ctx.tracer.all
    val jobs = listener.jobs
    // front-door cost at concurrency 1: HTTP wall minus in-process wall
    // for the same request, each the faster of two alternating tries
    val probe = (0 until 400).iterator.map(i => gen.request(1000000L + i))
      .filter(r => r.kind == "orders").take(6).toSeq
    val diffs = probe.zipWithIndex.map { case (r, k) =>
      def wall(f: => Any): Double = { val a = System.nanoTime(); f; (System.nanoTime() - a) / 1e6 }
      val tries = (0 until 2).map { j =>
        (wall(plainCaller.inProcess(r, s"p$k$j")), wall(caller.overHttp(r, s"h$k$j")))
      }
      tries.map(_._2).min - tries.map(_._1).min
    }
    check(ctx, reg, tOps, Clients)
    val base = Metrics.outcome(tOps, tWall, namedServe(tOps, tWall))
    val un = Metrics.e2e(uOps, uWall)
    val layers = Layers.serve(ctx, spans, jobs, tOps, tWall, caller) ++
      Map("serving.frontdoor_ms" -> Stats.median(diffs)) ++
      Metrics.overhead(base.e2e, un)
    base.copy(layers = layers)
  }
}
