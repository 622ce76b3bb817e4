package graft.planner

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.semantic.model._
import graft.analyzer.request._
import graft.analyzer.RequestModel._
import graft.core.Tables

/** Plan builder: RequestModel → one declarative Spark plan.
  *
  * Replaces maha's per-engine query generators + QueryPipeline
  * (reference query/QueryPipeline.scala:904-1285). The planner makes
  * the decisions Catalyst cannot make from config knowledge:
  *
  *  - variant (rollup/subset) selection: cheapest physical fact
  *    covering the requested aliases (reference Fact.scala:1938
  *    getCandidatesFor + CostEstimator.scala) — Catalyst has no
  *    materialized-view rewrite, so this is resolution-time;
  *  - join elimination: dimensions are joined only when a non-FK
  *    attribute or dim filter needs them (reference
  *    RequestModel.scala:25-64);
  *  - agg-before-join: when every requested metric re-aggregates
  *    (sum/min/max/count), the fact is aggregated to (dims ∪ FKs)
  *    grain BEFORE dimension joins — the outer-group-by rewrite of
  *    OracleOuterGroupByQueryGenerator.scala:36, which at 100 TB
  *    shrinks the join input from |fact| to |groups|;
  *  - join type from the driven-ness matrix;
  *  - broadcast hints for dims marked small.
  *
  * Everything downstream (predicate pushdown into the parquet scan,
  * column pruning, partial aggregation, join strategy) is left to
  * Catalyst.
  */
object Planner {

  /** Per-(zone, grain-unit) memo of the whole-offset judgment (r19
    * verdict #6): the judgment walks every post-1970 transition of the
    * zone's rules, is immutable for fixed tzdb rules, and was being
    * recomputed on every plan — microseconds each, but a high-QPS
    * front door plans thousands of requests against the same handful
    * of zones. */
  private val wholeOffsetsMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), java.lang.Boolean]()

  private[planner] def wholeOffsetsCached(zoneId: String,
      unitSeconds: Long): Boolean =
    wholeOffsetsMemo.computeIfAbsent((zoneId, unitSeconds), { case (z, unit) =>
      val rules = java.time.ZoneId.of(z).getRules
      import scala.jdk.CollectionConverters._
      val epoch = java.time.Instant.EPOCH
      val offs =
        rules.getTransitions.asScala.toSeq
          .filter(!_.getInstant.isBefore(epoch))
          .flatMap(t => Seq(t.getOffsetBefore, t.getOffsetAfter)) ++
          rules.getTransitionRules.asScala.toSeq
            .flatMap(r => Seq(r.getOffsetBefore, r.getOffsetAfter)) ++
          // no now() sample (r20 ADVICE: a time-dependent input would
          // pin the memo to its first-call clock): any instant ≥ epoch
          // carries either the epoch offset, a transition's
          // offsetAfter, or a recurring-rule offset — all enumerated
          Seq(rules.getOffset(epoch))
      offs.forall(_.getTotalSeconds % unit == 0)
    })

  final case class Planned(df: DataFrame, factName: String, twoStage: Boolean,
      dimPaged: Boolean = false)

  /** One candidate row of the planner's variant ranking — the debug
    * surface behind the request `debug` parameter analogue (reference
    * Request.scala:156 Parameter.Debug; QueryPipeline's query-chain
    * debug output). */
  final case class VariantChoice(name: String, estCost: Long,
      staticCost: Long, chosen: Boolean)

  def plan(m: Model, spark: SparkSession, dir: String): Either[String, Planned] =
    chooseVariants(m).map(vs => planOn(m, vs.head, spark, dir))

  /** The planner's decision record for a request: every covering
    * variant with its request-aware and static costs (ranked order,
    * winner flagged), plus the chosen plan for its shape flags. Plans
    * are CONSTRUCTED, not executed — this is metadata, like EXPLAIN. */
  def explain(m: Model, spark: SparkSession,
      dir: String): Either[String, (Seq[VariantChoice], Planned)] =
    chooseVariants(m).map { vs =>
      val choices = vs.zipWithIndex.map { case (v, i) =>
        VariantChoice(v.name, estimatedCost(v, m)._1, v.cost, i == 0)
      }
      (choices, planOn(m, vs.head, spark, dir))
    }

  /** Fallback execution (QueryPipelineWithFallback analogue, reference
    * QueryPipeline.scala:111-152,325-339): run the cheapest covering
    * variant; if it throws or returns an EMPTY result while a costlier
    * covering variant remains (e.g. a stale rollup missing the
    * requested window), re-plan on the next candidate.
    *
    * The emptiness probe executes the plan (the reference's
    * empty-result rerun semantics), so: with a SINGLE covering variant
    * there is nothing to fall back to and NO probe runs (the plan
    * executes exactly once, when the caller consumes it); with several,
    * each candidate is persisted before the probe so the winner's rows
    * are served from cache, not recomputed. A variant that throws is
    * skipped; if every variant throws the last error propagates; if
    * every variant is empty the last empty (valid) plan is returned. */
  def planWithFallback(m: Model, spark: SparkSession, dir: String): Either[String, Planned] =
    chooseVariants(m).map { vs =>
      if (vs.sizeIs == 1) planOn(m, vs.head, spark, dir)
      else {
        var lastEmpty: Option[Planned] = None
        var lastErr: Option[Exception] = None
        vs.foreach { v =>
          try {
            val p = planOn(m, v, spark, dir)
            val cached = p.copy(df = p.df.persist())
            // the probe executes the plan: if IT throws, release the
            // just-registered cache entry before skipping the variant —
            // else every failing fallback pins a broken InMemoryRelation
            // that later identical plan fragments get rewritten onto
            val empty =
              try cached.df.isEmpty
              catch { case e: Exception => cached.df.unpersist(); throw e }
            if (!empty) {
              lastEmpty.foreach(_.df.unpersist()) // probe lost to this winner
              // hand the persisted winner to the session cache registry:
              // Caches.release/releaseAll (or a re-plan of the same
              // model) unpersists it — a long-lived server doesn't leak
              // one cache entry per fallback-planned query
              graft.core.Caches.track(spark,
                s"fallback:${v.name}:${m.hashCode}", cached.df)
              return Right(cached)
            }
            lastEmpty.foreach(_.df.unpersist()) // superseded empty probe
            lastEmpty = Some(cached)
          } catch { case e: Exception => lastErr = Some(e) }
        }
        lastEmpty.map { p =>
          graft.core.Caches.track(spark,
            s"fallback:${p.factName}:${m.hashCode}", p.df)
          p
        }.getOrElse(lastErr.fold(planOn(m, vs.head, spark, dir))(throw _))
      }
    }

  private def planOn(m: Model, fact: FactDef, spark: SparkSession, dir: String): Planned = {
    val factDf = fact.view.map(_(spark, dir))
      .getOrElse(Tables.tbl(spark, dir, fact.table))
    build(m, fact, factDf, spark, dir)
  }

  /** Covering variants, cheapest first. */
  private def chooseVariants(m: Model): Either[String, Seq[FactDef]] = {
    // coverage is judged on every LEAF of every filter tree — the head
    // field alone would let a variant missing a nested leaf be chosen
    val neededFactAliases =
      m.selects.collect { case Resolved(a, FactDimCol) => a } ++
        m.dimFilters.flatMap(leaves).collect {
          case l if m.cube.variants.exists(_.dimCols.exists(_.alias == l.field)) =>
            l.field
        } ++
        m.selects.collect { case Resolved(a, MetricCol) => a } ++
        m.metricFilters.flatMap(leaves).map(_.field)
    // storage-grain gate (r19): a variant materialized at a coarser
    // time grain than the raw fact can only serve a request whose
    // buckets AND half-open window bounds land on storage-grain
    // boundaries. Both conditions are structural, not data-dependent:
    //  - every used tz-point column must be at the storage grain or a
    //    whole multiple of it (Day over an hourly rollup: 86400 % 3600
    //    = 0; Minute is simply not declared by such a variant);
    //  - every UTC offset the request timezone has used since 1970 (or
    //    is scheduled to use) must be a whole multiple of the grain —
    //    then any local grain boundary converts to a whole storage
    //    bucket edge. Asia/Kolkata's +05:30 puts local midnight INSIDE
    //    an hourly partial, which no filter can split → raw variant.
    //    Refusing is always CORRECT (just costlier), so unknown/odd
    //    zones fall back conservatively.
    def wholeOffsets(unitSeconds: Long): Boolean =
      Planner.wholeOffsetsCached(m.req.timezone.getOrElse("UTC"), unitSeconds)
    def grainCompatible(v: FactDef): Boolean = v.storageGrain.forall { sg =>
      val unit = sg.step.getSeconds
      val usedGrains = neededFactAliases.distinct
        .flatMap(a => v.dimCols.find(_.alias == a))
        .collect { case c if c.tzPoint && c.grain.isDefined => c.grain.get }
      usedGrains.forall { g =>
        val gs = g.step.getSeconds
        gs >= unit && gs % unit == 0
      } && (usedGrains.isEmpty || wholeOffsets(unit))
    }
    val candidates = m.cube.variants.filter { v =>
      val aliases = (v.dimCols.map(_.alias) ++ v.metrics.map(_.alias) ++
        v.derived.map(_.alias)).toSet
      neededFactAliases.forall(aliases.contains) &&
        m.joinDims.forall(d => v.availableDims.forall(_.contains(d))) &&
        grainCompatible(v)
    }
    if (candidates.isEmpty)
      Left(s"no variant of cube '${m.cube.name}' covers fields " +
        neededFactAliases.distinct.mkString("[", ", ", "]"))
    else Right(candidates.sortBy(estimatedCost(_, m)))
  }

  /** Request-aware variant cost (reference CostEstimator.scala:25-60 /
    * Fact.scala:478-479): rows ≈ rowsPerDay × (numDays+1) through the
    * variant's CostModel when declared — so a window-independent
    * lifetime rollup beats the daily base exactly when the requested
    * window is wide enough — else the static `cost`. Ties break on the
    * static cost, then name, for determinism. */
  private def estimatedCost(v: FactDef, m: Model): (Long, Long, String) =
    (v.costModel.map(_.estimate(m.numDays)).getOrElse(v.cost), v.cost, v.name)

  private def build(m: Model, fact: FactDef, factScan: DataFrame,
      spark: SparkSession, dir: String): Planned = {
    val pubDim: Map[String, PubCol] = fact.dimCols.map(c => c.alias -> c).toMap
    val metric: Map[String, PubMetric] = fact.metrics.map(mc => mc.alias -> mc).toMap
    val dimAttrOwner: Map[String, DimDef] =
      m.cube.dims.flatMap(d => d.cols.map(c => c.alias -> d)).toMap

    // 1. filter routing: a tree is pushed into the fact scan when every
    // leaf is a fact-level column, into one dim scan when every leaf
    // belongs to that dim; anything mixed is evaluated post-join (it
    // cannot be pushed into either side by construction).
    val tz = m.req.timezone
    def factPushable(f: QFilter) =
      leaves(f).forall(l => pubDim.contains(l.field))
    def owningDim(f: QFilter): Option[DimDef] =
      m.cube.dims.find(d =>
        leaves(f).forall(l => d.cols.exists(_.alias == l.field)))
    val postJoinFilters = m.dimFilters
      .filterNot(factPushable)
      .filter(owningDim(_).isEmpty)

    val factResolver: String => (Column, PubCol) =
      a => (factScan.col(pubDim(a).physical), pubDim(a))
    val factFilters =
      m.cube.forced.map(_.apply(factScan)) ++
        m.dimFilters.collect {
          case f if factPushable(f) => predicate(f, factResolver, tz)
        }
    val filtered = factFilters.foldLeft(factScan)(_.filter(_))

    // 2. decide aggregation staging; derived (post-result) metrics pull
    // their input metrics into the aggregation even when unselected
    val derivedByAlias = fact.derived.map(dm => dm.alias -> dm).toMap
    val (derivedSel, plainSel) = m.selectedMetrics.partition(derivedByAlias.contains)
    val neededPlain = (plainSel ++ derivedSel.flatMap(a => derivedByAlias(a).inputs)).distinct
    val selectedMetricDefs = neededPlain.map(metric)
    val reAggregable: Rollup => Boolean = {
      case SumRollup | MinRollup | MaxRollup | CountRollup => true
      case _ => false
    }
    // post-join filters need fact physical columns in the joined frame,
    // so the agg-before-join rewrite is disabled when any exist
    val twoStage = m.joinDims.nonEmpty && selectedMetricDefs.nonEmpty &&
      selectedMetricDefs.forall(md => reAggregable(md.rollup)) &&
      postJoinFilters.isEmpty

    // FKs the fact must carry for each requested dim chain's root
    val rootFks = m.joinDims.flatMap { dname =>
      val d = m.cube.dimByName(dname)
      if (d.parent.isEmpty) Some(d.fkInParent) else None
    }.distinct
    val factDimPhysicals = m.selects.collect {
      case Resolved(a, FactDimCol) if pubDim(a).constVal.isEmpty =>
        pubDim(a).physical
    }.distinct

    def preAggCol(md: PubMetric): Column = md.rollup match {
      case SumRollup   => sum(md.pre(factScan))
      case MinRollup   => min(md.pre(factScan))
      case MaxRollup   => max(md.pre(factScan))
      case CountRollup => count(lit(1))
      // exact decimal sum → one double conversion → IEEE divide: the
      // engine-independent average (decimal avg would round at an
      // engine-specific scale)
      case AvgRollup   =>
        sum(md.pre(factScan)).cast("double") / count(md.pre(factScan))
      case CountDistinctRollup => countDistinct(md.pre(factScan))
    }

    val factSide =
      if (twoStage) {
        val keys = (factDimPhysicals ++ rootFks).distinct.map(filtered.col)
        filtered.groupBy(keys: _*)
          .agg(selectedMetricDefs.head.let(md => preAggCol(md).as(s"__m_${md.alias}")),
            selectedMetricDefs.tail.map(md => preAggCol(md).as(s"__m_${md.alias}")): _*)
      } else filtered

    // Dim-driven pagination-first (reference QueryPipeline.scala:918-946
    // dim-query-then-fact shape; SURVEY §7.3): when the request is
    // dim-driven, paginated, metric-filter-free, and sorted only by
    // plain attributes of the driving dim (or unsorted), the PAGE of
    // driving-dim rows is computed BEFORE the join — the fact side then
    // joins against rowsPerPage dim rows instead of the whole dim
    // table. At 100 TB this bounds the join input by the page size.
    val drivingDim = m.joinDims.find(dn => m.joinKinds(dn) == RightOuterJoin)
    val dimPageable = drivingDim.exists { dn =>
      val d = m.cube.dimByName(dn)
      def plainDimCol(a: String) = d.cols.exists(pc =>
        pc.alias == a && pc.staticMapping.isEmpty && pc.grain.isEmpty &&
          pc.constVal.isEmpty)
      m.isDimDriven && m.req.rowsPerPage > 0 && m.metricFilters.isEmpty &&
        m.outerFilters.isEmpty &&
        // every dim filter must act BEFORE the page is taken: either
        // pushed into the fact scan (an ROJ keeps all paged dim rows,
        // so fact filters only null metrics) or applied to the driving
        // dim itself. A filter owned by a NON-driving dim is inner-
        // joined after pagination and would drop rows out of an
        // already-taken page; a mixed post-join tree likewise.
        postJoinFilters.isEmpty &&
        m.dimFilters.forall(f =>
          factPushable(f) || owningDim(f).exists(_.name == dn)) &&
        // the result grain must be exactly driving-dim rows: every
        // selected non-metric is a plain driving-dim attribute and at
        // least one is unique per dim row — otherwise paging dim ROWS
        // truncates the inputs of a coarser-grain aggregate
        m.selectedNonMetrics.nonEmpty &&
        m.selectedNonMetrics.forall(plainDimCol) &&
        m.selectedNonMetrics.exists(d.uniqueCols.contains) &&
        m.req.sortBy.forall(s => plainDimCol(s.field))
    }

    // Dimension-only requests run on the dim chain alone — the fact
    // scan is eliminated entirely (maha's dimension-listing queries,
    // e.g. populating a filter dropdown). The decision is made ONCE in
    // RequestModel (Model.isFactless) so analyzer chain-trimming and
    // planner fact-elimination can never disagree.
    val factNeeded = !m.isFactless

    // 3. dimension joins, parents before children
    var joined: DataFrame = if (factNeeded) factSide else null
    var dimDfs = Map.empty[String, DataFrame]
    m.joinDims.foreach { dname =>
      val d = m.cube.dimByName(dname)
      val dimColByAlias = d.cols.map(c => c.alias -> c).toMap
      // the dim side as a FUNCTION: the paged driving dim needs a
      // second, lineage-independent copy of itself (its key page
      // pre-filters the fact below), and deriving both from one frame
      // trips Spark's ambiguous-self-join detection — a fresh scan
      // has fresh attribute ids, and the page is deterministic (the
      // sort ends in the unique key), so the two copies are equal
      def mkDim(): DataFrame = {
        var dimDf = Tables.tbl(spark, dir, d.table)
        // push dim-attr filters into the dim scan
        m.dimFilters.foreach { f =>
          if (!factPushable(f) && owningDim(f).exists(_.name == dname)) {
            val resolver: String => (Column, PubCol) = { a =>
              val pc = dimColByAlias(a); (dimDf.col(pc.physical), pc)
            }
            dimDf = dimDf.filter(predicate(f, resolver, tz))
          }
        }
        if (dimPageable && drivingDim.contains(dname)) {
          // page order must equal the FINAL sort order (request sorts,
          // then the remaining non-metric aliases asc, then key)
          val orderAliases =
            m.req.sortBy.map(sb => (sb.field, sb.descending)) ++
              m.selectedNonMetrics
                .filterNot(a => m.req.sortBy.exists(_.field == a))
                .map((_, false))
          val sortCols = orderAliases.map { case (a, descend) =>
            val c = dimDf.col(dimColByAlias(a).physical)
            if (descend) c.desc else c.asc
          } :+ dimDf.col(d.key).asc
          dimDf = dimDf.orderBy(sortCols: _*)
            .offset(math.max(m.req.paginationStartIndex, 0))
            .limit(m.req.rowsPerPage)
        }
        dimDf
      }
      val dimDf = mkDim()
      if (joined == null) {
        // chain base of a fact-eliminated plan: no join condition
        joined = dimDf
      } else {
        val dimSide = if (d.small) broadcast(dimDf) else dimDf
        // non-base dims always have their parent in the (trimmed)
        // chain; a missing one is a bug — fail fast, never guess
        val parentDf = d.parent.map(dimDfs).getOrElse(factSide)
        // the FK lives on the fact side for a chain-root dim, in the
        // parent dim table for a child dim
        val fk = d.fkInParent
        val cond = parentDf.col(fk) === dimDf.col(d.key)
        // fact-eliminated chains are pure listings: parents inner-join
        // (LOJ would fabricate NULL parent attrs for dangling FKs)
        val how = if (!factNeeded) "inner" else m.joinKinds(dname) match {
          case InnerJoin      => "inner"
          case LeftOuterJoin  => "left_outer"
          case RightOuterJoin => "right_outer"
        }
        if (dimPageable && drivingDim.contains(dname)) {
          // PAGE-FIRST AT SCALE: the right-outer join preserves the
          // page and DROPS unmatched fact rows anyway, so the fact
          // side pre-filters by the page's keys with a BROADCAST semi
          // (rowsPerPage keys by construction, at any dim size). A
          // right-outer join can only broadcast its LEFT side
          // (BuildLeft), so without this the whole fact shuffles
          // against a page; with it the fact takes a map-side probe
          // and AQE broadcasts the now-tiny left into the outer join
          // at runtime. Computing the page twice (keys + full row) is
          // two TakeOrdered passes over the dim — metadata next to a
          // fact shuffle. mkDim() gives the key page INDEPENDENT
          // lineage (fresh scan), so the later dim join is not an
          // ambiguous self-join.
          val pageKeys = mkDim()
          joined = joined.join(
            broadcast(pageKeys.select(pageKeys.col(d.key).as("__pagekey"))),
            parentDf.col(fk) === col("__pagekey"), "left_semi")
        }
        joined =
          if (!d.small && d.hotFactKeys.nonEmpty && d.parent.isEmpty &&
              factNeeded && (how == "inner" || how == "left_outer"))
            // DECLARED-skew route (DimDef.hotFactKeys): the hot keys'
            // fact rows salt across buckets, their dim rows replicate,
            // everything else joins plain — the measured 3.3-4.6×
            // straggler win over a skewed shuffle join. Salt source =
            // every FACT-side column, resolved through factSide (and
            // the key through parentDf): bare names on the accumulated
            // frame turn ambiguous as soon as an earlier dim shares a
            // column name. Deterministic (no rand — safe under
            // retries/speculation) and varying within a key.
            graft.operators.Skew.saltedHotKeyJoin(
              joined, parentDf.col(fk),
              factSide.columns.distinct.toSeq.map(factSide.col),
              dimDf, d.key, d.hotFactKeys, buckets = 16, joinType = how)
          else joined.join(dimSide, cond, how)
      }
      dimDfs += (dname -> dimDf)
    }

    // 3b. mixed (cross-side) filter trees on the joined frame
    if (postJoinFilters.nonEmpty) {
      val postResolver: String => (Column, PubCol) = { a =>
        pubDim.get(a).map(pc => (factScan.col(pc.physical), pc)).getOrElse {
          val d = dimAttrOwner(a)
          val pc = d.cols.find(_.alias == a).get
          (dimDfs(d.name).col(pc.physical), pc)
        }
      }
      joined = postJoinFilters.foldLeft(joined)((df, f) =>
        df.filter(predicate(f, postResolver, tz)))
    }

    // 4. projection expressions per selected alias
    def displayExpr(alias: String): Column = {
      m.selects.find(_.alias == alias).get.kind match {
        case FactDimCol =>
          val pc = pubDim(alias)
          if (pc.constVal.isDefined) lit(pc.constVal.get)
          else {
            val base =
              if (twoStage) joined.col(pc.physical) else factScan.col(pc.physical)
            render(pc, base, tz)
          }
        case DimAttrCol(dname) =>
          val d = m.cube.dimByName(dname)
          val pc = d.cols.find(_.alias == alias).get
          render(pc, dimDfs(dname).col(pc.physical), tz)
        case MetricCol => col(alias) // resolved post-agg
      }
    }

    // 5. final aggregation at the requested grain
    val nonMetricAliases = m.selectedNonMetrics
    val result0 =
      if (selectedMetricDefs.isEmpty) {
        // dim-only distinct query (maha isRequestingDistict)
        joined.select(nonMetricAliases.map(a => displayExpr(a).as(a)): _*).distinct()
      } else {
        def finalAgg(md: PubMetric): Column = {
          val c0 =
            if (twoStage) md.rollup match {
              case SumRollup   => sum(col(s"__m_${md.alias}"))
              case MinRollup   => min(col(s"__m_${md.alias}"))
              case MaxRollup   => max(col(s"__m_${md.alias}"))
              case CountRollup => sum(col(s"__m_${md.alias}"))
              case _ => throw new IllegalStateException("non-reaggregable in two-stage")
            }
            else md.rollup match {
              // Under an outer join that can null-extend the fact side,
              // count only genuine fact rows (non-null fact FK) and
              // return NULL for all-null groups — so the single-stage
              // shape agrees with the two-stage sum-of-partials, where
              // unmatched dim rows also get NULL.
              case CountRollup
                  if m.joinKinds.values.exists(_ == RightOuterJoin)
                    && rootFks.nonEmpty =>
                val cnt = count(factScan.col(rootFks.head))
                when(cnt > 0, cnt)
              case _ => preAggCol(md)
            }
          // a GLOBAL (no grouping keys) count-semantic metric must be
          // 0 on an empty fact — SQL's ungrouped COUNT semantics,
          // whatever the serving variant's physical rollup is (a
          // pre-aggregated rollup table carries counts as SUM(__cnt),
          // which is NULL over zero rows; variant selection must stay
          // answer-transparent). GROUPED counts keep the bare
          // aggregate: groups only exist for matched rows, and ROJ
          // null-extension rows are deliberately NULL-faithful.
          // (Relational-corpus fuzz findings, r18: empty-orders
          // corpora — grand-total request and TotalMetrics curator.)
          val c =
            if (nonMetricAliases.isEmpty && md.isCountLike)
              coalesce(c0, lit(0L))
            else c0
          md.finish(c).as(md.alias)
        }
        val keyed = joined.groupBy(nonMetricAliases.map(a => displayExpr(a).as(a)): _*)
        keyed.agg(finalAgg(selectedMetricDefs.head),
          selectedMetricDefs.tail.map(finalAgg): _*)
      }

    // 5b. post-result derived metrics (PostResultColumn analogue)
    val withDerived = derivedSel.foldLeft(result0) { (df, a) =>
      df.withColumn(a, derivedByAlias(a).compute(df))
    }

    // 6. HAVING on metric aliases (incl. derived), then OuterFilters on
    // the rendered result columns (reference FilterOperation.scala:141)
    val aliasResolver: String => (Column, PubCol) =
      a => (col(a), PubCol(a, a))
    val havinged = m.metricFilters.foldLeft(withDerived) { (df, f) =>
      df.filter(predicate(f, aliasResolver, tz))
    }
    val outered = m.outerFilters.foldLeft(havinged) { (df, f) =>
      df.filter(predicate(f, aliasResolver, tz))
    }

    // 7. deterministic sort: requested sorts, then remaining non-metric
    // aliases as tie-breaks; then pagination
    val sortCols =
      m.req.sortBy.map(s => if (s.descending) col(s.field).desc else col(s.field).asc) ++
        nonMetricAliases.filterNot(a => m.req.sortBy.exists(_.field == a))
          .map(col(_).asc)
    val sorted =
      if (sortCols.nonEmpty) outered.orderBy(sortCols: _*) else outered
    val paged =
      if (dimPageable) sorted // page already taken on the driving dim
      else {
        val afterOffset =
          if (m.req.paginationStartIndex > 0) sorted.offset(m.req.paginationStartIndex)
          else sorted
        if (m.req.rowsPerPage > 0) afterOffset.limit(m.req.rowsPerPage) else afterOffset
      }

    val projected = paged.select(m.selects.map(r => col(r.alias)): _*)
    Planned(projected, fact.name, twoStage, dimPageable)
  }

  /** Storage→display rendering (static mapping / day grain / local
    * timezone for point-in-time grains). */
  private def render(pc: PubCol, base: Column, tz: Option[String]): Column =
    pc.constVal match {
      case Some(v) => lit(v)
      case None => renderMapped(pc, base, tz)
    }

  private def renderMapped(pc: PubCol, base: Column, tz: Option[String]): Column =
    pc.staticMapping match {
      case Some(sm) =>
        sm.toDisplay.foldLeft(when(lit(false), lit(null))) {
          case (acc, (stor, disp)) =>
            acc.when(base === lit(sm.storageLit(stor)), disp)
        }.otherwise(sm.default)
      case None if pc.grain.isDefined && pc.tzPoint =>
        date_format(from_utc_timestamp(base, tz.getOrElse("UTC")),
          pc.grain.get.format)
      case None if pc.grain.isDefined => date_format(base, pc.grain.get.format)
      case None => base
    }

  /** Filter tree → Column predicate: boolean nodes recurse with the
    * given alias resolver; leaves delegate to [[filterToColumn]]. */
  private def predicate(f: QFilter,
      resolve: String => (Column, PubCol), tz: Option[String]): Column =
    f match {
      case OrFilter(fs)   => fs.map(predicate(_, resolve, tz)).reduce(_ || _)
      case AndFilter(fs)  => fs.map(predicate(_, resolve, tz)).reduce(_ && _)
      case OuterFilter(i) => predicate(i, resolve, tz)
      case leaf =>
        val (base, pc) = resolve(leaf.field)
        filterToColumn(leaf, base, pc, tz)
    }

  /** Request filter → Column predicate, reverse-mapping display values
    * to storage values through the static mapping. A non-unique mapping
    * yields an IN over ALL matching storage values; the default display
    * value matches every storage value outside the map; an unknown
    * display value is an explicit error (never a silent no-match). */
  private def filterToColumn(f: QFilter, base: Column, pc: PubCol,
      tz: Option[String] = None): Column = {
    def inDisplays(vs: Seq[String]): Column = pc.staticMapping match {
      case Some(sm) =>
        val (defaults, named) = vs.distinct.partition(_ == sm.default)
        val stor = named.flatMap { v =>
          val hits = sm.storageValuesFor(v)
          if (hits.isEmpty) throw new IllegalArgumentException(
            s"filter value '$v' on '${pc.alias}' is not a display value " +
              s"of its static mapping")
          hits
        }
        // the default display value matches storage values OUTSIDE the
        // map AND any storage value explicitly mapped TO the default;
        // literals go through storageLit so int-keyed mappings compare
        // numerically (pushdown-safe — no cast on the column side)
        val defaultStor = sm.storageValuesFor(sm.default)
        val branches =
          (if (stor.nonEmpty)
            Seq(base.isin(stor.map(sm.storageLit): _*)) else Nil) ++
            (if (defaults.nonEmpty)
              Seq(!base.isin(sm.sortedStorageKeys.map(sm.storageLit): _*)) else Nil) ++
            (if (defaults.nonEmpty && defaultStor.nonEmpty)
              Seq(base.isin(defaultStor.map(sm.storageLit): _*)) else Nil)
        branches.reduce(_ || _)
      case None => if (vs.size == 1) base === vs.head else base.isin(vs: _*)
    }
    f match {
      case InFilter(_, vs)     => inDisplays(vs)
      case NotInFilter(_, vs)  => !inDisplays(vs)
      case EqFilter(_, v)      => inDisplays(Seq(v))
      case NeqFilter(_, v)     => !inDisplays(Seq(v))
      case BetweenFilter(_, a, b) if pc.grain.isDefined && pc.tzPoint =>
        // local grain window → UTC instant half-open range (the
        // BaseUTCTimeProvider widening+conversion analogue: one engine,
        // so the conversion is exact and needs no day-widening)
        val g = pc.grain.get
        val zone = java.time.ZoneId.of(tz.getOrElse("UTC"))
        val lo = java.sql.Timestamp.from(
          g.parseLocal(a).atZone(zone).toInstant)
        val hi = java.sql.Timestamp.from(
          g.next(g.parseLocal(b)).atZone(zone).toInstant)
        base >= lit(lo) && base < lit(hi)
      case BetweenFilter(_, a, b) => base >= lit(a) && base <= lit(b)
      case GtFilter(_, v)      => base > lit(v)
      case LtFilter(_, v)      => base < lit(v)
      case LikeFilter(_, v)    => base.like(v)
      case NotLikeFilter(_, v) => !base.like(v)
      case IsNullFilter(_)     => base.isNull
      case IsNotNullFilter(_)  => base.isNotNull
      case boolean => // And/Or/Outer handled by predicate() above
        sys.error(s"filterToColumn is leaf-only, got boolean node $boolean")
    }
  }

  private implicit class Let[A](private val a: A) extends AnyVal {
    def let[B](f: A => B): B = f(a)
  }
}
