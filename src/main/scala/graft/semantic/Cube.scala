package graft.semantic

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Semantic layer: the Spark-native analogue of maha's cube registry.
  *
  * A cube is a star/snowflake schema: one logical fact with physical
  * variants (base table, column subsets, pre-aggregated rollups —
  * FactBuilder.createSubset / newRollUp, reference fact/Fact.scala:1285,
  * 1385) plus foreign-keyed dimensions (Dimension.scala:607). Public
  * aliases ("Order Priority") map to physical columns with per-column
  * allowed filter operations (PublicColumn, reference Column.scala:13-44)
  * and optional static storage→display mappings
  * (StaticMapping, reference DataType.scala:43-64).
  *
  * Unlike maha there is exactly one execution engine: every variant is
  * a Spark relation (parquet scan or a defined view standing in for a
  * materialized rollup), and the planner emits one Catalyst plan
  * instead of N engine-native queries.
  */
object model {

  /** Filter operations a public column may allow
    * (reference FilterOperation.scala:37-54). */
  sealed trait FilterOp
  case object InOp extends FilterOp
  case object NotInOp extends FilterOp
  case object EqOp extends FilterOp
  case object NeqOp extends FilterOp
  case object BetweenOp extends FilterOp
  case object GtOp extends FilterOp
  case object LtOp extends FilterOp
  case object LikeOp extends FilterOp
  case object NotLikeOp extends FilterOp
  case object IsNullOp extends FilterOp
  case object IsNotNullOp extends FilterOp
  val AllOps: Set[FilterOp] = Set(InOp, NotInOp, EqOp, NeqOp, BetweenOp,
    GtOp, LtOp, LikeOp, NotLikeOp, IsNullOp, IsNotNullOp)

  /** Rollup declarations (reference RollupExpression.scala:29-34). */
  sealed trait Rollup
  case object SumRollup extends Rollup
  case object MinRollup extends Rollup
  case object MaxRollup extends Rollup
  case object AvgRollup extends Rollup
  case object CountRollup extends Rollup
  case object CountDistinctRollup extends Rollup

  /** Time grains (reference Grain.scala: DailyGrain :61, HourlyGrain
    * :102, MinuteGrain :143). A grain knows how to render a
    * point-in-time column and how to parse request filter bounds at
    * its own precision. The reference's BaseUTCTimeProvider widens a
    * local-time window by a day on each side before pushing it to
    * engines that can only filter at day grain
    * (core/.../BaseUTCTimeProvider.scala; RequestModel.scala:715-723);
    * with a single Spark engine the local bounds convert EXACTLY to a
    * half-open UTC instant range instead, so no widening (and no
    * post-filter trim) is needed. */
  sealed trait Grain {
    /** Render pattern — valid for BOTH Spark date_format and
      * java.time.DateTimeFormatter (the three grains use only
      * y/M/d/H/m letters, which agree across the two). */
    def format: String
    /** One grain step. */
    def step: java.time.Duration
    /** Parse a request filter bound at this grain's precision. */
    def parseLocal(s: String): java.time.LocalDateTime
    /** The next instant at this grain (exclusive upper bound of a
      * Between whose `to` is `t`). */
    def next(t: java.time.LocalDateTime): java.time.LocalDateTime = t.plus(step)
  }
  case object DayGrain extends Grain {
    val format = "yyyy-MM-dd"
    val step: java.time.Duration = java.time.Duration.ofDays(1)
    def parseLocal(s: String): java.time.LocalDateTime =
      java.time.LocalDate.parse(s.trim).atStartOfDay()
  }
  case object HourGrain extends Grain {
    val format = "yyyy-MM-dd HH"
    val step: java.time.Duration = java.time.Duration.ofHours(1)
    private val fmt =
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH")
    def parseLocal(s: String): java.time.LocalDateTime =
      java.time.LocalDateTime.parse(s.trim, fmt)
  }
  case object MinuteGrain extends Grain {
    val format = "yyyy-MM-dd HH:mm"
    val step: java.time.Duration = java.time.Duration.ofMinutes(1)
    private val fmt =
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm")
    def parseLocal(s: String): java.time.LocalDateTime =
      java.time.LocalDateTime.parse(s.trim, fmt)
  }

  /** Storage→display enum mapping; filters on display values are
    * reverse-mapped to the full set of matching storage values — an IN
    * predicate when the mapping is non-unique (reference
    * DataType.scala:45 hasUniqueStaticMapping decides unique-ness; maha
    * validates filter values against the map). Filtering on the default
    * display value matches every storage value NOT in the map. */
  final case class StaticMapping(toDisplay: Map[String, String], default: String,
      /** int-keyed storage (reference IntType(length, staticMapping),
        * DataType.scala:66-86): keys are canonical base-10 longs and
        * predicates/renders compare with NUMERIC literals, so the typed
        * comparison pushes into the parquet scan without casting the
        * column side. Declare via [[StaticMapping.int]]. */
      numericKeys: Boolean = false) {
    lazy val toStorage: Map[String, String] = toDisplay.map(_.swap)
    /** Storage key as the literal value to compare the physical column
      * against: Long for int-keyed mappings, String otherwise. */
    def storageLit(s: String): Any = if (numericKeys) s.toLong else s
    private def sortKeys(ks: Seq[String]): Seq[String] =
      if (numericKeys) ks.sortBy(_.toLong) else ks.sorted
    /** All storage values rendering as display value `v`. */
    def storageValuesFor(v: String): Seq[String] =
      sortKeys(toDisplay.collect { case (stor, disp) if disp == v => stor }.toSeq)
    def sortedStorageKeys: Seq[String] = sortKeys(toDisplay.keys.toSeq)
  }
  object StaticMapping {
    /** Int-keyed mapping (IntType staticMapping analogue). */
    def int(toDisplay: Map[Int, String], default: String): StaticMapping =
      StaticMapping(toDisplay.map { case (k, v) => k.toString -> v }, default,
        numericKeys = true)
  }

  /** A public (aliased) dimension attribute.
    *
    * `grain` marks the column as a time column rendered at that grain
    * (Day → yyyy-MM-dd, Hour → yyyy-MM-dd HH, Minute → yyyy-MM-dd
    * HH:mm) and enables maxDaysWindow checks; `tzPoint` additionally
    * marks the physical column as a UTC point-in-time timestamp: a
    * request `timezone` converts grain-filter bounds local→UTC and the
    * rendered value local-of-UTC (the BaseUTCTimeProvider analogue,
    * reference core/.../BaseUTCTimeProvider.scala,
    * RequestModel.scala:715-723). `restrictedTo` limits the column to
    * the named request schemas (reference
    * PublicColumn.restrictedSchemas, Column.scala:22). */
  final case class PubCol(
      alias: String,
      physical: String,
      allowedOps: Set[FilterOp] = AllOps,
      staticMapping: Option[StaticMapping] = None,
      grain: Option[Grain] = None,
      tzPoint: Boolean = false,
      restrictedTo: Option[Set[String]] = None,
      /** ConstColumn analogue (reference Column.scala:86): rendered as
        * this literal; `physical` is ignored. */
      constVal: Option[String] = None,
      /** PassthroughType analogue (reference DataType.scala:168-186):
        * an OPAQUE column — selected and carried to the output
        * verbatim, but never filterable (the reference type has no
        * static mapping and a "Null" json type, i.e. no filter
        * vocabulary applies). Marking it rejects every filter operator
        * at request-model time regardless of `allowedOps`. */
      passthrough: Boolean = false,
      /** Request-validation guard rails (reference PublicColumn,
        * Column.scala:13-44; enforced by RequestModel.resolve with the
        * reference's error semantics, RequestModel.scala:445-457,
        * :532-535, :592-595):
        *  - `required`: every request against the cube must SELECT
        *    this column;
        *  - `dependsOn`: a request selecting this column must also
        *    select every listed alias;
        *  - `incompatibleWith`: a request selecting this column must
        *    select none of the listed aliases;
        *  - `filteringRequired`: every request against the cube must
        *    carry a filter on this column — the guard rail large
        *    deployments put on high-cardinality columns. */
      required: Boolean = false,
      dependsOn: Set[String] = Set.empty,
      incompatibleWith: Set[String] = Set.empty,
      filteringRequired: Boolean = false,
      /** PublicColumn.hiddenFromJson (reference Column.scala:20): the
        * column stays fully requestable/filterable but is OMITTED from
        * the /domain and DESCRIBE introspection listings — the knob
        * for internal/deprecated fields that existing clients still
        * send. */
      hiddenFromJson: Boolean = false) {
    require(!passthrough || staticMapping.isEmpty,
      s"passthrough column '$alias' cannot carry a static mapping")
    require(!(passthrough && filteringRequired),
      s"passthrough column '$alias' cannot require filtering (it is unfilterable)")
    def isDayGrain: Boolean = grain.contains(DayGrain)
    /** Filter legality the analyzer enforces: ∅ for passthrough. */
    def effectiveOps: Set[FilterOp] = if (passthrough) Set.empty else allowedOps
  }

  /** A public metric: rollup over a physical expression. `pre` is the
    * column fed to the first aggregation (cast to exact decimal for
    * order-insensitive sums); `finish` post-processes the final
    * aggregate (e.g. cast back to double). */
  /** `countSemantics`: the PUBLIC metric is a row count, whatever the
    * serving variant's physical rollup is — a pre-aggregated rollup
    * table carries counts as SUM(__cnt), and variant selection must
    * stay answer-transparent: an ungrouped count over zero rows is 0
    * (SQL COUNT semantics), where a bare SUM would yield NULL
    * (relational-corpus fuzz finding, r18). CountRollup metrics have
    * count semantics implicitly. */
  final case class PubMetric(
      alias: String,
      rollup: Rollup,
      pre: DataFrame => Column,
      finish: Column => Column = identity,
      countSemantics: Boolean = false) {
    def isCountLike: Boolean = countSemantics || rollup == CountRollup
  }

  /** A dimension table in the snowflake: joined to its parent (another
    * dim, or the fact) via `fkInParent` = parent-side physical FK
    * column, `key` = this table's key. `small` marks broadcast-safe
    * dims (maha dimLevel, reference Dimension.scala:607). */
  /** `uniqueCols`: aliases unique per dim row (candidate keys) — lets
    * the planner prove a result grain equals dim-row grain (e.g. for
    * dim-side pagination). */
  /** `hotFactKeys`: DECLARED skew — fact FK values known to dominate
    * (whale advertisers/users; the reference's config-driven style,
    * like forced filters). A fact-level join to a NON-small dim with
    * declared hot keys routes through the hot-key salted join
    * (`Skew.saltedHotKeyJoin`: only the hot keys' fact rows salt
    * across buckets, only their dim rows replicate) instead of a
    * straight shuffle join whose hot reducer would straggle. Ignored
    * for broadcast (small) dims — a broadcast join has no skewed
    * shuffle to fix — and for right-outer joins (salt-unsafe). */
  final case class DimDef(
      name: String,
      table: String,
      key: String,
      fkInParent: String,
      parent: Option[String],
      cols: Seq[PubCol],
      small: Boolean = true,
      uniqueCols: Set[String] = Set.empty,
      hotFactKeys: Seq[Long] = Nil)

  /** A post-result derived metric (PostResultColumn / DerivedColumn
    * analogue, reference Column.scala:99-140): computed AFTER the final
    * aggregation from other metric aliases. `inputs` are aggregated
    * (and hidden from the projection unless themselves requested);
    * `compute` builds the expression over the post-agg frame. */
  final case class PubDerived(
      alias: String,
      inputs: Seq[String],
      compute: DataFrame => Column)

  /** Request-aware cost estimate (reference CostEstimator.scala:25-60
    * getDefaultRows: rows = defaultRowCount × (numDays + 1);
    * Fact.scala:426-429 CostMultiplier = LongRangeLookup over the row
    * estimate). `rowsPerDay` is the defaultRowCount analogue for a
    * time-partitioned variant: its scanned rows grow with the request
    * window. `fixedRows` marks a variant pre-aggregated ACROSS time
    * (a lifetime rollup): its size is window-independent, so it wins
    * wide windows and loses narrow ones. `multiplier` is the
    * CostMultiplier range lookup — first (upperBound, mult) with
    * estimated rows ≤ upperBound applies, else 1.0 — letting a cube
    * penalize variants whose estimate crosses a scan-size threshold. */
  final case class CostModel(
      rowsPerDay: Long,
      fixedRows: Option[Long] = None,
      multiplier: Seq[(Long, Double)] = Nil) {
    /** `numDays` = the request's window width; None = NO window — an
      * unbounded full-history scan, priced at the retention horizon so
      * a window-independent rollup beats the per-day base (pricing it
      * as one day would pick the full-history scan over the rollup
      * built precisely for that case). */
    def estimate(numDays: Option[Int]): Long = {
      val rows = rowEstimate(numDays)
      val mult = multiplier.collectFirst {
        case (ub, m) if rows <= ub => m
      }.getOrElse(1.0)
      math.max(1L, (rows * mult).toLong)
    }

    /** The RAW row estimate — no multiplier. The multiplier is a
      * RANKING penalty (abstract preference units), not a row count:
      * consumers that feed a physical-size decision (KeyShip's bloom
      * sizing, bitset caps) must use this, or a 10× penalized variant
      * would size its bitset for 10× the rows it actually scans. */
    def rowEstimate(numDays: Option[Int]): Long = {
      val nd = numDays.getOrElse(CostModel.UnboundedHorizonDays)
      math.max(1L, fixedRows.getOrElse(rowsPerDay * (nd + 1L)))
    }
  }
  object CostModel {
    /** Assumed history depth (days) when a request carries no time
      * window. */
    val UnboundedHorizonDays = 3650

    /** A fixed-rows model from a TxnTable's manifest-carried row
      * count (one metadata read, no scan) — the registry-build hook
      * that makes variant ranking and key-ship sizing data-driven for
      * a cube served over a mutable table. None when the manifest
      * predates the rows channel; ranking then falls back to the
      * static cost. Snapshot-at-registry-build semantics: re-resolve
      * (or re-register) after heavy mutations, like any cached stat. */
    def fromTxnTable(dir: String): Option[CostModel] =
      graft.core.TxnTable.rowCount(dir)
        .map(r => CostModel(rowsPerDay = 0L, fixedRows = Some(r)))
  }

  /** A physical fact variant. `view` replaces the raw scan for
    * rollup/subset variants (standing in for a materialized table;
    * at production scale these are parquet tables of their own).
    * `cost` mirrors maha's per-table static cost estimate
    * (reference CostEstimator.scala:25-60) — candidates are ranked by
    * it ascending; `costModel`, when set, supersedes it with a
    * request-aware estimate responding to the filter window. */
  final case class FactDef(
      name: String,
      table: String,
      dimCols: Seq[PubCol],
      metrics: Seq[PubMetric],
      cost: Long,
      view: Option[(SparkSession, String) => DataFrame] = None,
      availableDims: Option[Set[String]] = None,
      derived: Seq[PubDerived] = Nil,
      costModel: Option[CostModel] = None,
      /** The TIME grain this variant's rows are materialized at, when
        * coarser than the raw fact (an hourly pre-aggregation sets
        * `Some(HourGrain)`; raw variants leave None). The planner may
        * only serve a request from such a variant when every time
        * bucket and half-open window bound lands ON storage-grain
        * boundaries — used tz-point columns at this grain or coarser,
        * and a request timezone whose UTC offsets are whole multiples
        * of it (reference grain compatibility, Grain.scala; a +05:30
        * zone's local midnight falls INSIDE an hourly partial, which
        * no filter can split — those requests fall back to the raw
        * variant). */
      storageGrain: Option[Grain] = None)

  /** Always-applied predicates (maha forceFilters / schema-required
    * filters, reference Fact.scala:458). */
  final case class ForcedFilter(apply: DataFrame => Column)

  /** `maxRowsSync` caps the page size a synchronous request may ask
    * for (reference max-rows guards, DruidQueryGenerator.scala:159-166:
    * sync 5,000 / topN 400 / async 100,000); when set, sync requests
    * must paginate within the cap. `maxRowsAsync` is the (looser) cap
    * for async/internal requests, which are exempt from the pagination
    * requirement. */
  final case class CubeDef(
      name: String,
      variants: Seq[FactDef],
      dims: Seq[DimDef],
      forced: Seq[ForcedFilter] = Nil,
      maxDaysWindow: Option[Int] = None,
      /** How far back a request window may START, in days from the
        * evaluation date (reference maxDaysLookBack, Fact.scala:463;
        * validateMaxLookBackWindow, RequestModel.scala:1300-1319). */
      maxDaysLookBack: Option[Int] = None,
      maxRowsSync: Option[Int] = None,
      maxRowsAsync: Option[Int] = None,
      /** Cube revision (reference PublicFact.revision; registry holds
        * several revisions of one cube for A/B rollout — see
        * [[graft.semantic.Bucketing]]). */
      revision: Int = 0) {
    // a CostModel estimate is a ROW COUNT while the static cost is an
    // arbitrary rank — mixing them in one cube would compare
    // incommensurable units and silently bury the modeled variants, so
    // a cube must declare cost models on all variants or none
    require(variants.forall(_.costModel.isDefined) ||
      variants.forall(_.costModel.isEmpty),
      s"cube '$name': either every variant declares a costModel or none does")
    def base: FactDef = variants.head
    lazy val dimByName: Map[String, DimDef] = dims.map(d => d.name -> d).toMap
  }

  /** Immutable cube registry (reference registry/Registry.scala:134),
    * revision-aware (registry defaultPublicFactRevisionMap + factMap
    * keyed on (name, revision), Registry.scala:292-299): several
    * revisions of one cube coexist; lookups without a revision resolve
    * through the default map (the FIRST declared revision per name). */
  final class Registry private (
      val byRevision: Map[(String, Int), CubeDef],
      val defaultRevision: Map[String, Int]) {
    /** Default-revision view (name → cube). */
    lazy val cubes: Map[String, CubeDef] =
      defaultRevision.map { case (n, r) => n -> byRevision((n, r)) }
    def cube(name: String): Either[String, CubeDef] =
      cubes.get(name).toRight(s"unknown cube '$name'")
    def cube(name: String, revision: Option[Int]): Either[String, CubeDef] =
      revision match {
        case None => cube(name)
        case Some(r) => byRevision.get((name, r)).toRight(
          s"unknown cube '$name' revision $r (have ${revisionsOf(name).mkString(",")})")
      }
    def revisionsOf(name: String): Seq[Int] =
      byRevision.keys.collect { case (n, r) if n == name => r }.toSeq.sorted
  }
  object Registry {
    def apply(defs: CubeDef*): Registry = {
      val dup = defs.groupBy(c => (c.name, c.revision)).collect {
        case (k, cs) if cs.sizeIs > 1 => k }
      require(dup.isEmpty, s"duplicate cube revisions: ${dup.mkString(",")}")
      new Registry(
        defs.map(c => (c.name, c.revision) -> c).toMap,
        defs.map(c => c.name -> c.revision).reverse.toMap) // first declared wins
    }
  }
}
