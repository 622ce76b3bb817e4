package perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Tables, TxnTable}
import graft.semantic.model._
import graft.serving.{HttpFrontDoor, JobQueue}

/** One writer batch: `rows` are upserted, `deletes` removed. */
final case class Batch(kind: String, rows: Seq[Row], deletes: Seq[Long]) {
  def size: Int = rows.size + deletes.size
}

/** Seeded batches over the orders table, with a model of the live key
  * set. Kinds and large-batch slots follow a fixed cycle so every seed
  * gets the same mix; the seed picks sizes, keys and values. Keys lean
  * toward the most recent (highest) keys. */
final class IngestGen(seed: Long, initialKeys: Long) {
  private val live = new java.util.BitSet()
  live.set(0, initialKeys.toInt)
  private var nextKey = initialKeys
  val Cycle: Seq[String] = Seq("upsert", "merge", "delete", "upsert", "upsert-large",
    "merge", "upsert", "delete", "merge", "merge-large")
  private val Statuses = Seq("O", "F", "P")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Ts0 = java.sql.Timestamp.valueOf("1995-01-01 00:00:00").getTime

  def liveKeys: java.util.BitSet = live.clone().asInstanceOf[java.util.BitSet]

  private def recentKey(r: SplittableRandom): Long = {
    val u = r.nextDouble()
    val k = (nextKey - 1 - math.floor(nextKey * u * u * u)).toInt.max(0)
    val p = live.previousSetBit(k)
    if (p >= 0) p.toLong else live.nextSetBit(k).toLong
  }

  private def row(r: SplittableRandom, key: Long): Row = Row(key,
    r.nextInt(15000).toLong, Statuses(r.nextInt(3)),
    (10000 + r.nextInt(50000000)) / 100.0,
    new java.sql.Timestamp(Ts0 + r.nextInt(2400).toLong * 86400000L),
    Priorities(r.nextInt(5)))

  /** Batch `i`; advances the key model as if it committed. */
  def batch(i: Int): Batch = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i)
    val kind = Cycle(i % Cycle.size)
    val n = if (kind.endsWith("-large")) 10001 + r.nextInt(2000) else 1 + r.nextInt(400)
    def upserts(m: Int): Seq[Row] = {
      val keys = (0 until m).map { _ =>
        if (r.nextDouble() < 0.5) { nextKey += 1; nextKey - 1 } else recentKey(r)
      }.distinct
      keys.map(k => row(r, k))
    }
    val b = kind.stripSuffix("-large") match {
      case "upsert" => Batch(kind, upserts(n), Nil)
      case "delete" => Batch(kind, Nil, (0 until n).map(_ => recentKey(r)).distinct)
      case _ =>
        val dels = (0 until n / 3).map(_ => recentKey(r)).distinct
        val ups = upserts(n - dels.size).filterNot(x => dels.contains(x.getLong(0)))
        Batch(kind, ups, dels)
    }
    b.deletes.foreach(k => live.clear(k.toInt))
    b.rows.foreach(x => live.set(x.getLong(0).toInt))
    b
  }

  /** A reader request over the live cube; even indices are unfiltered,
    * so their total count can be checked against the table. */
  def read(i: Long): Req = {
    val r = new SplittableRandom(seed * 31L + i * 0xBF58476D1CE4E5B9L)
    val dims = Seq(Seq("Order Priority"), Seq("Order Status"),
      Seq("Order Priority", "Order Status"))(r.nextInt(3))
    val mets = if (i % 2 == 0) Seq("Order Count", "Total Spend") else Seq("Total Spend")
    val filter =
      if (i % 2 == 0) ""
      else {
        val d0 = java.time.LocalDate.of(1995, 1, 1).plusDays(r.nextInt(2000).toLong)
        s""","filterExpressions":[{"field":"Order Date","operator":"between",""" +
          s""""from":"$d0","to":"${d0.plusDays(30L + r.nextInt(300))}"}]"""
      }
    val sel = (dims ++ mets).map(f => s"""{"field":${Json.str(f)}}""").mkString("[", ",", "]")
    Req(if (i % 2 == 0) "read-total" else "read", "/report",
      s"""{"cube":"orders_live","selectFields":$sel$filter}""", 200)
  }
}

object IngestCdc {
  val Keys = Seq("o_orderpriority", "o_orderstatus")
  val SumCols = Seq("o_totalprice")
  val CompactEvery = 6
  val CompactMinBytes: Long = 64L * 1024

  /** A cube over the live table: every read plans on the latest
    * committed version. */
  def liveRegistry(table: String): Registry = Registry(CubeDef(
    name = "orders_live",
    variants = Seq(FactDef(
      name = "orders_live_base",
      table = "orders",
      dimCols = Seq(
        PubCol("Order Date", "o_orderdate", allowedOps = Set(BetweenOp), grain = Some(DayGrain)),
        PubCol("Order Status", "o_orderstatus"),
        PubCol("Order Priority", "o_orderpriority")),
      metrics = Seq(
        PubMetric("Order Count", CountRollup, _ => lit(1)),
        PubMetric("Total Spend", SumRollup,
          df => Tables.dec2(df.col("o_totalprice")), _.cast("double"))),
      cost = 100,
      view = Some((s, _) => TxnTable.read(s, table)))),
    dims = Nil))

  /** Generated rows as a frame of the table's schema; order dates are
    * generated as timestamps and converted when the table reads them
    * without a time zone. */
  private def local(s: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    val ntz = schema.fields.map(_.dataType == TimestampNTZType)
    s.createDataFrame(rows.map { r =>
      Row.fromSeq(r.toSeq.zip(ntz).map {
        case (t: java.sql.Timestamp, true) => t.toLocalDateTime
        case (v, _) => v
      })
    }.asJava, schema)
  }

  /** The follower's state: the maintained rollup, kept as rows on the
    * driver, and the last version it applied. */
  final class Follower(s: SparkSession, dir: String, tr: Tracer, start: DataFrame) {
    private val schema = start.schema
    @volatile var rollup: Seq[Row] = start.collect().toSeq
    @volatile var applied: Int = TxnTable.version(dir)
    val cdcRows = new java.util.concurrent.ConcurrentLinkedQueue[Long]()

    /** Apply every version past `applied` in one CDC step. */
    def step(): Option[Int] = {
      val v = TxnTable.version(dir)
      if (v <= applied) None
      else {
        val ch = tr.span("core.changes", s"follow$v") {
          val c = TxnTable.changes(s, dir, applied, v).persist()
          cdcRows.add(c.count())
          c
        }
        try {
          rollup = tr.span("core.apply_delta", s"follow$v") {
            TxnTable.applyCdcDelta(local(s, rollup, schema), ch, Keys, SumCols).collect().toSeq
          }
        } finally ch.unpersist()
        applied = v
        Some(v)
      }
    }
  }

  def run(ctx: Ctx, setup: Setup): Outcome = {
    val s = ctx.spark
    val orders = Tables.orders(s, ctx.dataDir)
    val initialKeys = orders.count()
    require(orders.agg(min("o_orderkey"), max("o_orderkey")).head() ==
      Row(0L, initialKeys - 1), "orders keys are expected to be 0 until the row count")
    val dir = ctx.work("ingest/table")
    val jobs = new JobQueue(s, dir, java.nio.file.Paths.get(ctx.work("jobs")), workers = 1)
    val door = new HttpFrontDoor(s, dir, liveRegistry(dir), jobs)
    try {
      val port = setup.done {
        TxnTable.init(s, dir, orders, numFiles = 8, statsCols = Seq("o_orderkey"))
        // warm the write and CDC paths on a throw-away copy
        val scratch = ctx.work("ingest/warm")
        TxnTable.init(s, scratch, orders.limit(2000), numFiles = 2, statsCols = Seq("o_orderkey"))
        TxnTable.upsert(s, scratch, "o_orderkey", orders.limit(50))
        TxnTable.merge(s, scratch, "o_orderkey", orders.limit(20), Seq(1L, 2L))
        TxnTable.deleteKeys(s, scratch, "o_orderkey", Seq(3L, 4L))
        TxnTable.applyCdcDelta(TxnTable.rollupOf(TxnTable.read(s, scratch), Keys, SumCols),
          TxnTable.changes(s, scratch, 1), Keys, SumCols).collect()
        val p = door.start()
        val gen0 = new IngestGen(ctx.seed, initialKeys)
        val caller = new Caller(ctx, liveRegistry(dir), p)
        (0 until 2).foreach { i =>
          val (st, body) = caller.overHttp(gen0.read(i), s"warm$i")
          require(st == 200, s"warm-up read failed with $st: $body")
        }
        p
      }
      if (!ctx.trace) {
        val r = phase(ctx, dir, port, initialKeys)
        Metrics.outcome(r.commits, r.wall, r.named, r.otherOps, r.otherFailed, r.errors)
      } else {
        // untraced then traced, each on its own fresh copy of the table,
        // reads in-process so the traced reader can be split by module
        val plainDir = ctx.work("ingest/plain")
        TxnTable.init(s, plainDir, orders, numFiles = 8, statsCols = Seq("o_orderkey"))
        val u = phase(ctx.copy(tracer = new Tracer(false)), plainDir, 0, initialKeys)
        val listener = ctx.listener.get
        s.sparkContext.addSparkListener(listener)
        val t = phase(ctx, dir, 0, initialKeys)
        listener.drain()
        s.sparkContext.removeSparkListener(listener)
        val base = Metrics.outcome(t.commits, t.wall, t.named,
          t.otherOps + u.otherOps + u.commits.size,
          t.otherFailed + u.otherFailed + u.commits.count(_.failure.isDefined),
          t.errors ++ u.errors)
        base.copy(layers = Layers.ingest(ctx, ctx.tracer.all, listener.jobs, t, dir) ++
          Metrics.overhead(base.e2e, Metrics.e2e(u.commits, u.wall)))
      }
    } finally { door.stop(); jobs.shutdown() }
  }

  /** What one ingest phase produced. */
  final class PhaseResult(val commits: Seq[Op], val reads: Seq[Op], val wall: Double,
      val follow: Seq[Double], val compactMs: Seq[Double], val cdcRows: Seq[Long],
      val commitInfo: Seq[(Int, Int)], val versions: Int,
      val caller: Caller, val otherFailed: Long, val errors: Seq[String]) {
    def otherOps: Long = reads.size.toLong
    def named: Seq[(String, Double, String)] = {
      val lat = Metrics.latencies(commits)
      Seq(("commit_p50_ms", Stats.pct(lat, 50), "ms"),
        ("commit_p90_ms", Stats.pct(lat, 90), "ms"),
        ("follow_p50_ms", Stats.pct(follow, 50), "ms"),
        ("fresh_read_p50_ms", Stats.pct(Metrics.latencies(reads), 50), "ms"),
        ("commits", commits.size.toDouble, "count"),
        ("reads", reads.size.toDouble, "count"),
        ("compactions", compactMs.size.toDouble, "count"))
    }
  }

  /** Writer, follower and reader on three threads for `ctx.seconds`.
    * `port` 0 runs reads in-process instead of over HTTP. */
  def phase(ctx: Ctx, dir: String, port: Int, initialKeys: Long): PhaseResult = {
    val s = ctx.spark
    val tr = ctx.tracer
    val schema = TxnTable.read(s, dir).schema
    val gen = new IngestGen(ctx.seed, initialKeys)
    val stop = new AtomicBoolean(false)
    val commitAt = new ConcurrentHashMap[Int, java.lang.Long]()
    val commits = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    // (version, rows mutated) of every successful commit
    val commitInfo = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
    val compactMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    val appliedAt = new ConcurrentHashMap[Int, java.lang.Long]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val follower = new Follower(s, dir, tr,
      TxnTable.rollupOf(TxnTable.read(s, dir), Keys, SumCols))
    val v0 = follower.applied
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.seconds * 1000000000L
    def group(g: String): Unit = if (tr.enabled) s.sparkContext.setJobGroup(g, "perfbench", false)

    val writer = new Thread(() => {
      var i = 0
      while (System.nanoTime() < deadline) {
        val b = gen.batch(i)
        val id = s"commit$i"
        group(id)
        val a = System.nanoTime()
        val err =
          try {
            val kind = b.kind.stripSuffix("-large")
            tr.span(s"core.$kind", id) {
              kind match {
                case "upsert" => TxnTable.upsert(s, dir, "o_orderkey", local(s, b.rows, schema))
                case "delete" => TxnTable.deleteKeys(s, dir, "o_orderkey", b.deletes)
                case _ => TxnTable.merge(s, dir, "o_orderkey", local(s, b.rows, schema), b.deletes)
              }
            }
            None
          } catch { case e: Exception => Some(s"${b.kind} batch $i failed: ${e.getMessage}") }
        val ms = (System.nanoTime() - a) / 1e6
        val v = TxnTable.version(dir)
        commitAt.put(v, System.nanoTime())
        val op = new Op(i, Req(b.kind, "commit", "", 200), ms, 200, "", id)
        op.failure = err
        commits.add(op)
        if (err.isEmpty) commitInfo.add((v, b.size))
        i += 1
        if (i % CompactEvery == 0) {
          group(s"compact$i")
          val c0 = System.nanoTime()
          try tr.span("core.compact", s"compact$i")(TxnTable.compactSmall(s, dir, CompactMinBytes))
          catch { case e: Exception => errors.add(s"compactSmall failed: ${e.getMessage}") }
          compactMs.add((System.nanoTime() - c0) / 1e6)
          if (TxnTable.version(dir) != v) commitAt.put(TxnTable.version(dir), System.nanoTime())
        }
      }
      stop.set(true)
    }, "perfbench-writer")

    val followThread = new Thread(() => {
      try {
        var done = false
        while (!done) {
          val last = stop.get()
          group("follow")
          val from = follower.applied
          follower.step() match {
            case Some(v) =>
              val now = java.lang.Long.valueOf(System.nanoTime())
              (from + 1 to v).foreach(u => appliedAt.put(u, now))
            case None => if (last) done = true else Thread.sleep(5)
          }
        }
      } catch { case e: Exception => errors.add(s"follower failed: ${e.getMessage}") }
    }, "perfbench-follower")

    val reg = liveRegistry(dir)
    val caller = new Caller(ctx, reg, port)
    val readThread = new Thread(() => {
      var i = 0L
      while (!stop.get()) {
        val r = gen.read(i)
        val id = s"read$i"
        group(id)
        val v0 = TxnTable.version(dir)
        val a = System.nanoTime()
        val (st, body) =
          try if (port > 0) caller.overHttp(r, id) else caller.inProcess(r, id)
          catch { case e: Exception => (-1, String.valueOf(e.getMessage)) }
        val ms = (System.nanoTime() - a) / 1e6
        val v1 = TxnTable.version(dir)
        val op = new Op(i, r, ms, st, body, id)
        if (st != 200) op.failure = Some(s"read answered $st: ${body.take(200)}")
        else if (r.kind == "read-total") checkTotal(dir, body, v0, v1).foreach(e => op.failure = Some(e))
        reads.add(op)
        i += 1
      }
    }, "perfbench-reader")

    Seq(writer, followThread, readThread).foreach(_.start())
    Seq(writer, followThread, readThread).foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    s.sparkContext.clearJobGroup()

    // final checks: maintained rollup == recompute, keys == model
    val want = TxnTable.rollupOf(TxnTable.read(s, dir), Keys, SumCols).collect().map(_.toString).sorted.toSeq
    val got = follower.rollup.map(_.toString).sorted
    if (follower.applied != TxnTable.version(dir))
      errors.add(s"follower stopped at version ${follower.applied}, table at ${TxnTable.version(dir)}")
    if (want != got) errors.add(s"maintained rollup differs from recompute: ${got.take(3)} vs ${want.take(3)}")
    val keys = new java.util.BitSet()
    TxnTable.read(s, dir).select("o_orderkey").collect().foreach(r => keys.set(r.getLong(0).toInt))
    val model = gen.liveKeys
    if (keys != model) {
      val x = keys.clone().asInstanceOf[java.util.BitSet]; x.xor(model)
      errors.add(s"table key set differs from the model in ${x.cardinality()} keys")
    }
    val rs = reads.asScala.toSeq
    // a version the follower applied before its commit call returned
    // counts as followed at once
    val follow = commitAt.asScala.toSeq.flatMap { case (v, c) =>
      Option(appliedAt.get(v)).map(a => math.max(0L, a - c) / 1e6)
    }
    new PhaseResult(commits.asScala.toSeq.sortBy(_.seq), rs, wall, follow,
      compactMs.asScala.toSeq, follower.cdcRows.asScala.toSeq,
      commitInfo.asScala.toSeq.sortBy(_._1), follower.applied - v0, caller,
      rs.count(_.failure.isDefined).toLong + errors.size,
      errors.asScala.toSeq ++ rs.flatMap(_.failure).take(5))
  }

  /** An unfiltered count must equal the row count of a version that was
    * current while the request ran. */
  private def checkTotal(dir: String, body: String, v0: Int, v1: Int): Option[String] =
    try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val root = JsonMethods.parse(body)
      val names = (root \ "fields") match {
        case JArray(fs) => fs.map(f => (f \ "fieldName").values.toString)
        case _ => Nil
      }
      val ci = names.indexOf("Order Count")
      val total = (root \ "rows") match {
        case JArray(rs) => rs.map {
          case JArray(cells) => cells(ci) match {
            case JInt(n) => n.toLong
            case JDouble(d) => d.toLong
            case JLong(n) => n
            case other => sys.error(s"count cell $other")
          }
          case other => sys.error(s"row $other")
        }.sum
        case _ => -1L
      }
      val ok = (v0 to v1).exists(v => TxnTable.rowCount(dir, v).contains(total))
      if (ok) None else Some(s"read total $total matches no version in $v0..$v1")
    } catch { case e: Exception => Some(s"unreadable read answer: ${e.getMessage}") }
}
