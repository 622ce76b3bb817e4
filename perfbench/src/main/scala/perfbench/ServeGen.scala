package perfbench

import java.util.SplittableRandom

/** One generated request. `path` is the front-door route ("/report",
  * "/sql") or "dashboard" for an in-process curator fan-out; `expect` is
  * the status a correct server answers with. */
final case class Req(kind: String, path: String, body: String, expect: Int)

/** Seeded request stream for serve-report. Request `i` depends only on
  * (seed, i). Each request draws from two generators: its shape (kind,
  * selected fields, which filters, sort and paging) comes from `i` alone,
  * so every seed runs the same sequence of shapes and the same mix of
  * work; its values (date windows, filter values, keys, zones, page
  * offsets) come from the seed. A share of each kind comes from a small
  * hot set with Zipf popularity, so those bodies recur verbatim; the
  * rest are built fresh and are almost always unique.
  *
  * The mix and the repeat share are assumptions: no record of real
  * traffic exists to measure them from. They follow the qualitative
  * shape the workload asks for (mostly /report, some /sql, a small share
  * of invalid requests and of dashboards), and each number has a reason
  * but no source:
  *  - the 20-slot `Cycle`: 14 /report (70 %), 3 /sql (15 %), 1 invalid
  *    (5 %), 2 dashboards (10 %). order_stats gets 7 of the 14 /report
  *    slots because it is the cube with the most fields and variants;
  *    user_events 3, order_stats_guarded and line_stats 2 each, so every
  *    cube appears several times in a ~60-request run.
  *  - `HotShare` 0.35: about a third of requests come from the hot set,
  *    so both a later cache's gain (hits) and its cost (misses) are
  *    visible in one run; neither dominates. The first sending of a hot
  *    body is not a repeat, so in a ~60-request run about a fifth of the
  *    requests repeat an earlier body.
  *  - Zipf exponent 1.1 over `HotSize` 6 per kind: an exponent near 1
  *    is the usual default for popularity skew, and a hot set of 6 lets
  *    the popular bodies recur several times within one run.
  * The measured repeat share of a run is reported as `repeat_share`.
  * Keep this one setting until a traffic record can replace it. */
final class ServeGen(seed: Long) {
  private final class G(val shape: SplittableRandom, val value: SplittableRandom)
  private def mix(a: Long, b: Long): Long = a * 0x9E3779B97F4A7C15L + b * 0xBF58476D1CE4E5B9L + 0x632BE59BD9B4E019L
  private def gen(i: Long): G =
    new G(new SplittableRandom(mix(0x5EED, i)), new SplittableRandom(mix(seed, i)))

  /** One cycle of request kinds (20 slots). */
  val Cycle: Seq[String] = Seq("orders", "events", "sql", "orders", "lines", "guarded",
    "orders", "dashboard", "events", "sql", "orders", "invalid", "lines", "orders",
    "events", "guarded", "sql", "orders", "dashboard", "orders")
  private val HotShare = 0.35
  private val HotSize = 6

  private def build(kind: String, g: G): Req = kind match {
    case "orders" => orders(g)
    case "guarded" => guarded(g)
    case "events" => events(g)
    case "lines" => lines(g)
    case "sql" => sql(g)
    case "dashboard" => dashboard(g)
    case _ => invalid(g)
  }

  private lazy val hot: Map[String, IndexedSeq[Req]] = Cycle.distinct.zipWithIndex.map {
    case (kind, k) => kind -> (0 until HotSize).map(j => build(kind, gen(-1L - 100L * k - j)))
  }.toMap
  private lazy val zipfCdf: IndexedSeq[Double] = {
    val w = (0 until HotSize).map(r => 1.0 / math.pow(r + 1, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }

  def request(i: Long): Req = {
    val kind = Cycle((i % Cycle.size).toInt)
    val g = gen(i)
    if (g.shape.nextDouble() < HotShare) {
      val u = g.shape.nextDouble()
      hot(kind)(zipfCdf.indexWhere(_ >= u).max(0))
    } else build(kind, g)
  }

  /** Warm-up requests: one valid request of each kind. */
  def warm: Seq[Req] =
    Seq("orders", "guarded", "events", "lines", "sql", "dashboard").zipWithIndex.map {
      case (kind, k) => build(kind, gen(-100000L - k))
    }

  // ---- building blocks -------------------------------------------------

  private def pick[A](r: SplittableRandom, xs: Seq[A]): A = xs(r.nextInt(xs.size))
  private def some[A](r: SplittableRandom, xs: Seq[A], lo: Int, hi: Int): Seq[A] = {
    val n = lo + r.nextInt(hi - lo + 1)
    val shuffled = xs.map(x => (r.nextDouble(), x)).sortBy(_._1).map(_._2)
    val chosen = shuffled.take(n).toSet
    xs.filter(chosen) // keep a stable field order for a given choice
  }
  private def q(s: String): String = Json.str(s)
  private def fields(fs: Seq[String]): String =
    fs.map(f => s"""{"field":${q(f)}}""").mkString("[", ",", "]")

  private val Day0 = java.time.LocalDate.of(1995, 1, 1)
  private val DayN = java.time.LocalDate.of(2001, 8, 1)
  private def orderWindow(r: SplittableRandom): (String, String) = {
    val span = java.time.temporal.ChronoUnit.DAYS.between(Day0, DayN).toInt
    val len = 7 + r.nextInt(720)
    val from = Day0.plusDays(r.nextInt(span - 7).toLong)
    val to = from.plusDays(len.toLong)
    (from.toString, (if (to.isAfter(DayN)) DayN else to).toString)
  }
  private def between(f: String, w: (String, String)): String =
    s"""{"field":${q(f)},"operator":"between","from":${q(w._1)},"to":${q(w._2)}}"""
  private def inF(f: String, vs: Seq[String]): String =
    s"""{"field":${q(f)},"operator":"in","values":${vs.map(q).mkString("[", ",", "]")}}"""
  private def eqF(f: String, v: String): String =
    s"""{"field":${q(f)},"operator":"=","value":${q(v)}}"""
  private def body(cube: String, sel: Seq[String], filters: Seq[String],
      sort: Option[(String, Boolean)], page: Option[(Int, Int)],
      extra: String = ""): String = {
    val fs = if (filters.isEmpty) "" else s""","filterExpressions":${filters.mkString("[", ",", "]")}"""
    val ss = sort.fold("") { case (f, d) =>
      s""","sortBy":[{"field":${q(f)},"order":"${if (d) "Desc" else "Asc"}"}]""" }
    val ps = page.fold("") { case (start, rows) =>
      s""","paginationStartIndex":$start,"rowsPerPage":$rows""" }
    s"""{"cube":${q(cube)},"selectFields":${fields(sel)}$fs$ss$ps$extra}"""
  }

  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Statuses = Seq("Open", "Fulfilled", "Pending")
  private val OrderDims = Seq("Order Priority", "Order Status", "Market Segment",
    "Region Name", "Nation Name")
  private val OrderMetrics = Seq("Order Count", "Total Spend", "Max Price", "Avg Price",
    "Urgent Spend", "Avg Order Value", "Distinct Customers")

  private def orderFilters(g: G): Seq[String] = {
    val win = if (g.shape.nextDouble() < 0.8) Seq(between("Order Date", orderWindow(g.value))) else Nil
    val extra =
      if (g.shape.nextDouble() >= 0.4) Nil
      else g.shape.nextInt(4) match {
        case 0 => Seq(inF("Order Status", some(g.value, Statuses, 1, 2)))
        case 1 => Seq(eqF("Order Priority", pick(g.value, Priorities)))
        case 2 => Seq(eqF("Region Name", pick(g.value, Regions)))
        case _ => Seq(inF("Market Segment", some(g.value, Segments, 1, 3)))
      }
    win ++ extra
  }

  private def orders(g: G): Req = {
    val filters = orderFilters(g)
    if (g.shape.nextDouble() < 0.1) {
      // customer listing: one row per customer, paged
      val mets = some(g.shape, Seq("Order Count", "Total Spend"), 1, 2)
      Req("orders", "/report", body("order_stats", "Customer Name" +: mets, filters,
        Some((mets.head, g.value.nextBoolean())),
        Some((g.value.nextInt(200), 10 + g.value.nextInt(41)))), 200)
    } else {
      val dims = some(g.shape, OrderDims, 1, 2)
      val mets = some(g.shape, OrderMetrics, 1, 3)
      val sort =
        if (g.shape.nextDouble() < 0.6) Some((pick(g.shape, mets), g.value.nextBoolean())) else None
      val page =
        if (g.shape.nextDouble() < 0.3) Some((g.value.nextInt(5), 5 + g.value.nextInt(30))) else None
      Req("orders", "/report", body("order_stats", dims ++ mets, filters, sort, page), 200)
    }
  }

  private def guarded(g: G): Req = {
    val keys = (0 until 3 + g.shape.nextInt(10)).map(_ => g.value.nextInt(15000).toString).distinct
    val dims = some(g.shape, Seq("Order Priority", "Order Status"), 1, 2)
    val mets = some(g.shape, Seq("Order Count", "Total Spend", "Max Price"), 1, 2)
    val win = if (g.shape.nextBoolean()) Seq(between("Order Date", orderWindow(g.value))) else Nil
    Req("guarded", "/report", body("order_stats_guarded", dims ++ mets,
      inF("Customer Key", keys) +: win, Some((dims.head, false)), None), 200)
  }

  private val Zones = Seq("UTC", "America/Los_Angeles", "Asia/Kolkata", "Europe/Berlin")
  private val EventTypes = Seq("signup", "click", "error", "view", "purchase")

  private def events(g: G): Req = {
    val hourly = g.shape.nextDouble() < 0.3
    val d0 = java.time.LocalDate.of(2024, 1, 2).plusDays(g.value.nextInt(24).toLong)
    val (grain, win) =
      if (hourly) {
        val t0 = d0.atTime(g.value.nextInt(24), 0)
        val t1 = t0.plusHours(6L + g.value.nextInt(66))
        val f = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH")
        ("Hour", (t0.format(f), t1.format(f)))
      } else ("Day", (d0.toString, d0.plusDays(g.value.nextInt(14).toLong).toString))
    val dims = grain +: (if (g.shape.nextBoolean()) Seq("Event Type") else Nil)
    val mets = some(g.shape, Seq("Event Count", "Total Value"), 1, 2)
    val typeF =
      if (g.shape.nextDouble() < 0.3) Seq(inF("Event Type", some(g.value, EventTypes, 1, 3))) else Nil
    Req("events", "/report", body("user_events", dims ++ mets,
      between(grain, win) +: typeF, None, None,
      s""","timezone":${q(pick(g.value, Zones))}"""), 200)
  }

  private def lines(g: G): Req = {
    val dims = some(g.shape, Seq("Line Role", "Return Flag"), 1, 2)
    val mets = some(g.shape, Seq("Line Count", "Total Qty"), 1, 2)
    val filters = g.shape.nextInt(3) match {
      case 0 => Nil
      case 1 => Seq(eqF("Return Flag", pick(g.value, Seq("A", "N", "R"))))
      case _ => Seq(inF("Line Role", some(g.value, Seq("Primary", "Secondary", "Additional"), 1, 2)))
    }
    val sort = if (g.shape.nextBoolean()) Some((pick(g.shape, mets), true)) else None
    Req("lines", "/report", body("line_stats", dims ++ mets, filters, sort, None), 200)
  }

  private def sql(g: G): Req = {
    val (from, to) = orderWindow(g.value)
    val dim = pick(g.shape, Seq("Order Priority", "Order Status"))
    val mets = some(g.shape, Seq("Order Count", "Total Spend", "Max Price"), 1, 2)
    val status =
      if (g.shape.nextBoolean()) ""
      else some(g.value, Statuses, 1, 2)
        .map(v => s"'$v'").mkString(" AND `Order Status` IN (", ", ", ")")
    val order = s"ORDER BY `${mets.head}` ${if (g.value.nextBoolean()) "DESC" else "ASC"}"
    val limit = if (g.shape.nextBoolean()) s" LIMIT ${1 + g.value.nextInt(5)}" else ""
    val text = s"SELECT `$dim`, ${mets.map(m => s"`$m`").mkString(", ")} FROM order_stats " +
      s"WHERE `Order Date` BETWEEN '$from' AND '$to'$status $order$limit"
    Req("sql", "/sql", text, 200)
  }

  private def invalid(g: G): Req = g.shape.nextInt(5) match {
    case 0 => Req("invalid", "/report", body("order_stats",
      Seq("Order Priority", s"No Such Metric ${g.value.nextInt(1000)}"), Nil, None, None), 400)
    case 1 => Req("invalid", "/report", body(s"no_such_cube_${g.value.nextInt(1000)}",
      Seq("Order Count"), Nil, None, None), 400)
    case 2 => Req("invalid", "/report", body("order_stats_guarded",
      Seq("Order Priority", "Order Count"), Seq(between("Order Date", orderWindow(g.value))),
      None, None), 400)
    case 3 => Req("invalid", "/report",
      s"""{"cube":"order_stats","selectFields":[{"field":"Order Count"}],""" +
        s""""filterExpressions":[{"field":"Order Priority","operator":"~~","value":"x${g.value.nextInt(1000)}"}]}""", 400)
    case _ => Req("invalid", "/sql",
      s"SELECT `Order Priority`, `No Such Column ${g.value.nextInt(1000)}` FROM order_stats", 400)
  }

  private def dashboard(g: G): Req = {
    val dims = some(g.shape, Seq("Order Priority", "Order Status"), 1, 1)
    val mets = some(g.shape, Seq("Order Count", "Total Spend"), 1, 2)
    Req("dashboard", "dashboard", body("order_stats", dims ++ mets,
      Seq(between("Order Date", orderWindow(g.value))), None, None), 200)
  }
}
