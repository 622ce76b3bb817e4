package graft.analyzer

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.expressions.{Alias => CAlias, And, Descending,
  EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull,
  LessThan, LessThanOrEqual, Like, Literal, Not, Or, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical._
import graft.analyzer.request._
import graft.semantic.model.Registry
import graft.planner.Planner

/** SQL front door over the CUBE REGISTRY — the Spark-native analogue
  * of maha's Calcite layer (reference
  * service/.../calcite/MahaCalciteSqlParser.scala:21-330: SQL SELECT on
  * a cube → ReportingRequest → the same analyze/plan path as JSON).
  *
  * Catalyst's own parser produces the unresolved logical plan; this
  * walks the restricted grammar
  *
  * {{{
  * SELECT <alias>[, ...] FROM <cube>
  *   [WHERE <pred> [AND <pred>]...]         -- =, <>, >, <, BETWEEN,
  *                                          -- IN, NOT IN, LIKE,
  *                                          -- IS [NOT] NULL, OR-trees
  *   [ORDER BY <alias> [ASC|DESC], ...]
  *   [LIMIT n]
  * }}}
  *
  * and emits a ReportingRequest. Aggregation is implicit (the semantic
  * layer decides grouping from the selected aliases), exactly as in
  * the reference's SQL surface. Explicit GROUP BY / joins / subqueries
  * are rejected: cubes are the join/aggregation abstraction.
  */
object SqlFrontDoor {

  def toRequest(spark: SparkSession, sql: String): Either[String, ReportingRequest] =
    try walk(GraftBridge.parseSql(spark, sql))
    catch { case e: Exception => Left(s"unparseable SQL: ${e.getMessage}") }

  def run(sql: String, reg: Registry)(spark: SparkSession, dir: String): DataFrame =
    runOnCube(sql, reg)(spark, dir)._2

  /** [[run]], also naming the cube the statement reads or describes
    * (the front door sizes the served page by that cube's cap). */
  def runOnCube(sql: String, reg: Registry)(spark: SparkSession,
      dir: String): (String, DataFrame) = {
    val plan =
      try GraftBridge.parseSql(spark, sql)
      catch { case e: Exception =>
        throw new IllegalArgumentException(s"unparseable SQL: ${e.getMessage}") }
    plan match {
      // DESCRIBE <cube> (reference MahaCalciteSqlParser.scala:48-134
      // DESCRIBE handling): the cube's public field listing as rows —
      // driver-side config metadata, no scan.
      case d: DescribeRelation =>
        d.relation match {
          case u: UnresolvedTableOrView =>
            val cube = u.multipartIdentifier.mkString(".")
            (cube, describe(cube, reg)(spark))
          case other => throw new IllegalArgumentException(
            s"DESCRIBE must name a registered cube, got: $other")
        }
      case p =>
        (for {
          req <- walk(p)
          m <- RequestModel.from(req, reg)
          pl <- Planner.plan(m, spark, dir)
        } yield (req.cube, pl.df))
          .fold(e => throw new IllegalArgumentException(e), identity)
    }
  }

  /** `DESCRIBE <cube>` result: one row per public field, sorted by
    * field name (the flat listing behind Domain.cubeJson). */
  def describe(cubeName: String, reg: Registry)(spark: SparkSession): DataFrame = {
    val cube = reg.cube(cubeName)
      .fold(e => throw new IllegalArgumentException(e), identity)
    import spark.implicits._
    graft.semantic.Domain.fields(cube).toDF()
      .select("field", "kind", "dataType", "dimension", "filterOps",
        "rollup", "restrictedTo")
      .orderBy("field")
  }

  private def walk(plan: LogicalPlan): Either[String, ReportingRequest] = {
    var limit = -1
    var sorts = Seq.empty[SortBy]
    var node = plan
    node match {
      case GlobalLimit(IntegerLiteral(n), LocalLimit(_, child)) =>
        limit = n; node = child
      case _ =>
    }
    node match {
      case Sort(order, true, child, _) =>
        val sbE = order.map {
          case SortOrder(a: UnresolvedAttribute, dir, _, _) =>
            Right(SortBy(a.name, dir == Descending))
          case other => Left(s"unsupported ORDER BY expression: ${other.sql}")
        }
        sbE.collectFirst { case Left(e) => return Left(e) }
        sorts = sbE.collect { case Right(s) => s }
        node = child
      case _ =>
    }
    node match {
      case Project(projs, child) =>
        val fieldsE = projs.map {
          case a: UnresolvedAttribute => Right(a.name)
          case CAlias(a: UnresolvedAttribute, name) if name == a.name => Right(a.name)
          case other => Left(s"only plain cube aliases can be selected " +
            s"(aggregation is implicit), got: ${other.sql}")
        }
        fieldsE.collectFirst { case Left(e) => return Left(e) }
        val fields = fieldsE.collect { case Right(f) => f }
        val (filtersE, rel) = child match {
          case Filter(cond, r) => (translateTop(cond), r)
          case r => (Right(Nil), r)
        }
        filtersE.flatMap { filters =>
          rel match {
            case r: UnresolvedRelation =>
              Right(ReportingRequest(r.multipartIdentifier.mkString("."),
                fields, filters, sorts, 0, limit, dimensionDriven = false))
            case other => Left(s"FROM must name a registered cube, got: $other")
          }
        }
      case other => Left(s"unsupported query shape at: ${other.nodeName} " +
        "(expected SELECT aliases FROM cube [WHERE] [ORDER BY] [LIMIT])")
    }
  }

  /** Top-level AND splits into separate request filters; >=/<= pairs on
    * the same field merge into Between (the parser lowers BETWEEN to
    * exactly that pair). */
  private def translateTop(cond: Expression): Either[String, Seq[QFilter]] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val parts = conjuncts(cond)
    val (geq, rest0) = parts.partition {
      case GreaterThanOrEqual(_: UnresolvedAttribute, Literal(_, _)) => true
      case _ => false
    }
    val (leq, rest) = rest0.partition {
      case LessThanOrEqual(_: UnresolvedAttribute, Literal(_, _)) => true
      case _ => false
    }
    val geqPairsE = geq.map { case GreaterThanOrEqual(a: UnresolvedAttribute, l: Literal) =>
      litStr(l).map(a.name -> _) }
    val leqPairsE = leq.map { case LessThanOrEqual(a: UnresolvedAttribute, l: Literal) =>
      litStr(l).map(a.name -> _) }
    (geqPairsE ++ leqPairsE).collectFirst { case Left(e) => return Left(e) }
    val geqPairs = geqPairsE.collect { case Right(p) => p }
    val leqPairs = leqPairsE.collect { case Right(p) => p }
    // multiple bounds on one field would silently widen via toMap
    val dup = (geqPairs ++ leqPairs).groupBy(_._1).collect {
      case (f, ps) if ps.size > 2 || geqPairs.count(_._1 == f) > 1
          || leqPairs.count(_._1 == f) > 1 => f
    }
    if (dup.nonEmpty)
      return Left(s"multiple range bounds on ${dup.mkString(", ")} — " +
        "use a single BETWEEN per field")
    val geqBy = geqPairs.toMap
    val leqBy = leqPairs.toMap
    val unmatched = (geqBy.keySet diff leqBy.keySet) ++ (leqBy.keySet diff geqBy.keySet)
    if (unmatched.nonEmpty)
      return Left(s"range on ${unmatched.mkString(", ")} must be a full BETWEEN")
    val betweens = geqBy.keys.toSeq.sorted.map(f =>
      BetweenFilter(f, geqBy(f), leqBy(f)): QFilter)
    val restE = rest.map(translate)
    restE.collectFirst { case Left(e) => Left(e) }
      .getOrElse(Right(betweens ++ restE.collect { case Right(f) => f }))
  }

  private def translate(e: Expression): Either[String, QFilter] = e match {
    // Spark's parser keeps BETWEEN as an unresolved function call
    case f: UnresolvedFunction
        if f.nameParts.map(_.toLowerCase) == Seq("between") =>
      f.arguments match {
        case Seq(a: UnresolvedAttribute, lo: Literal, hi: Literal) =>
          for { loS <- litStr(lo); hiS <- litStr(hi) }
            yield BetweenFilter(a.name, loS, hiS)
        case _ => Left(s"unsupported BETWEEN shape: ${e.sql}")
      }
    case EqualTo(a: UnresolvedAttribute, l: Literal) => litStr(l).map(EqFilter(a.name, _))
    case Not(EqualTo(a: UnresolvedAttribute, l: Literal)) => litStr(l).map(NeqFilter(a.name, _))
    case GreaterThan(a: UnresolvedAttribute, l: Literal) => litStr(l).map(GtFilter(a.name, _))
    case LessThan(a: UnresolvedAttribute, l: Literal) => litStr(l).map(LtFilter(a.name, _))
    case In(a: UnresolvedAttribute, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      seqE(vs.map(v => litStr(v.asInstanceOf[Literal]))).map(InFilter(a.name, _))
    case Not(In(a: UnresolvedAttribute, vs)) if vs.forall(_.isInstanceOf[Literal]) =>
      seqE(vs.map(v => litStr(v.asInstanceOf[Literal]))).map(NotInFilter(a.name, _))
    case Like(a: UnresolvedAttribute, l: Literal, _) => litStr(l).map(LikeFilter(a.name, _))
    case Not(Like(a: UnresolvedAttribute, l: Literal, _)) => litStr(l).map(NotLikeFilter(a.name, _))
    case IsNull(a: UnresolvedAttribute) => Right(IsNullFilter(a.name))
    case IsNotNull(a: UnresolvedAttribute) => Right(IsNotNullFilter(a.name))
    case Or(l, r) =>
      for { lf <- translate(l); rf <- translate(r) } yield OrFilter(Seq(lf, rf))
    case And(l, r) =>
      for { lf <- translate(l); rf <- translate(r) } yield AndFilter(Seq(lf, rf))
    case other => Left(s"unsupported WHERE predicate: ${other.sql}")
  }

  private def seqE[A](es: Seq[Either[String, A]]): Either[String, Seq[A]] =
    es.collectFirst { case Left(e) => Left(e) }
      .getOrElse(Right(es.collect { case Right(a) => a }))

  /** Only plain string/numeric/boolean literals translate faithfully
    * into the request's string-valued filters; typed DATE/TIMESTAMP
    * literals carry internal representations (days/µs since epoch) and
    * must be rejected, not stringified. */
  private def litStr(l: Literal): Either[String, String] = l.dataType match {
    case _: org.apache.spark.sql.types.StringType =>
      Right(l.value.toString)
    case dt if l.value == null =>
      Left(s"NULL literal not supported (use IS NULL); type ${dt.sql}")
    case _: org.apache.spark.sql.types.IntegerType |
         _: org.apache.spark.sql.types.LongType |
         _: org.apache.spark.sql.types.ShortType |
         _: org.apache.spark.sql.types.DoubleType |
         _: org.apache.spark.sql.types.FloatType |
         _: org.apache.spark.sql.types.BooleanType =>
      Right(l.value.toString)
    case d: org.apache.spark.sql.types.DecimalType =>
      Right(l.value.toString)
    case other => Left(s"unsupported literal type ${other.sql}: ${l.sql} — " +
      "write dates as plain strings (e.g. '1995-01-01')")
  }

  private object IntegerLiteral {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(v: Int, _) => Some(v)
      case _ => None
    }
  }
}
