package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Key-set shipping: the planner decision behind every "filter this
  * huge fact by that key list" step — the reference's MultiEngineQuery
  * IN-list ship (QueryPipeline.scala:921-932), generalized to key
  * sets of any size.
  *
  * A key list is REQUEST METADATA while it is small: shipping it as
  * an `isin` literal reaches the parquet scan as a pushed `In` filter
  * — the cheapest possible carrier. But the literal carrier has a
  * cliff: a 10⁶-key list is a 10⁶-node expression tree on the driver
  * (the same cliff TxnTable's mutations had, closed in round 10 by
  * the frame carrier). Past the threshold the right plan is the one
  * Spark's own `InjectRuntimeFilter` builds for selective joins:
  *  1. aggregate the key side into an m-bit BLOOM BITSET — O(m/8)
  *     bytes of sketch metadata (the Skew.findHotKeys / centroid
  *     collect discipline — never O(keys));
  *  2. probe every fact row MAP-SIDE with the native
  *     [[graft.functions.BloomMightContain]] expression (one xxhash +
  *     k bit tests per row, inside the scan's whole-stage-codegen
  *     stage, the bitset riding as a referenced object) — pruning
  *     ~(1 − fpp) of non-matching rows before any shuffle;
  *  3. run the exact semi-join on the survivors (false positives die
  *     here, so the result is exactly the semi-join — the bitset only
  *     cuts the rows that pay the join's shuffle).
  * Two carrier designs were tried and REJECTED on measurement, both
  * recorded in SCALE_SLOPE r10: a broadcast 1-row bitset frame
  * (Catalyst's PushDownLeftSemiAntiJoin reorders the exact join below
  * the probe, making it useless) and an ArrayType Literal (~3.5 s of
  * driver-side plan churn per query at 2·10⁵ words).
  * [[semiShip]]/[[antiShip]] make the size-based choice; PlanShapeSpec
  * pins the plan shapes and result equality.
  */
object KeyShip {

  /** Builder-side position columns — Kirsch-Mitzenmacher from one
    * xxhash64, BIT-IDENTICAL to [[graft.functions.BloomProbe.test]]
    * by construction (same hash, same derived lanes): `pmod` ≡
    * floorMod, `shiftrightunsigned` ≡ `>>>`. */
  private def posCols(key: Column, m: Long, hashes: Int): Seq[Column] = {
    val h = xxhash64(key) // LongType child → XXH64.hashLong(v, 42)
    val h1 = pmod(h, lit(m))
    val h2 = pmod(shiftrightunsigned(h, 32), lit(m)).bitwiseOR(lit(1L))
    (0 until hashes).map(i => pmod(h1 + lit(i.toLong) * h2, lit(m)))
  }

  /** The bitset words (60 bits per word — the BIGINT sign bit is
    * never touched) of the key column, built as a GROUPED aggregate
    * over (word, bit) rows: map-side-combined into ≤ `words` groups,
    * one `bit_or` per group. (A one-row aggregate with a column per
    * word — sk07's shape at its fixed 4 words — explodes at real
    * sizes: 10⁴ aggregate expressions stall planning and codegen;
    * caught live when q46's first sf0.1 bench pass hung in exactly
    * that plan.) Duplicate keys just re-set the same bits, so the
    * input needs NO distinct. */
  private[graft] def bloomWords(keys: DataFrame, keyCol: String,
      m: Long, hashes: Int): Array[Long] =
    bloomWordsExpr(keys, col(keyCol).try_cast("long"), m, hashes)

  private[graft] def bloomWordsExpr(keys: DataFrame, key: Column,
      m: Long, hashes: Int): Array[Long] = {
    val words = ((m + 59) / 60).toInt
    val posD = keys.filter(key.isNotNull)
      .select(explode(array(posCols(key, m, hashes): _*)).as("p"))
    val rows = posD
      .groupBy(expr("cast(p div 60 as int)").as("w"))
      .agg(expr("bit_or(shiftleft(1L, cast(p % 60 as int)))").as("bits"))
      .collect()
    val arr = new Array[Long](words)
    rows.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  /** The Bloom sizing/decline decision, PURE (unit-tested in
    * PlanShapeSpec; measured against the real crossover in
    * SCALE_SLOPE r11). Inputs: `n` distinct keys, and — when the
    * caller has one (a manifest row count, a CostModel estimate) — the
    * fact-side row count the probe would run over.
    *
    *  - BITSET SIZE `m`: n·bitsPerKey bits, floored at 240. The CAP
    *    scales with the fact: pruning an F-row scan is worth a bitset
    *    of ~4F bits (still ≤ F/15 bytes of metadata), floored at the
    *    12M-bit estimate-free default and hard-capped at 96M bits
    *    (12 MB — driver/broadcast budget). A FIXED 12M cap was r10's
    *    constant: right for the measured sf0.1 battery, needlessly
    *    tight for a 10⁹-row fact where a 10⁷-key set still prunes
    *    well (the verdict-r10 #5 item).
    *  - DECLINE on n ≤ `bloomMinKeys` (default: DERIVED from the
    *    session's `spark.sql.autoBroadcastJoinThreshold` as bytes/8 —
    *    ≈1.3M keys at the stock 10 MB — floored at the literal
    *    threshold's order; a deployment that raises its broadcast
    *    budget automatically moves the bloom regime out with it, and
    *    one that disables broadcast (−1) gets the bloom from the
    *    literal threshold up, since every exact join then shuffles):
    *    a key side that small BROADCASTS
    *    into the exact hash semi-join, whose per-row probe costs the
    *    same as the Bloom test — the bitset build and its driver
    *    round-trips are then pure overhead at ANY fact size
    *    (measured: q22 at sf0.1, 15k keys, broadcast semi 0.37 s vs
    *    forced bloom 0.98 s). The bloom carrier's regime is keys TOO
    *    BIG to broadcast but sharp enough to prune.
    *  - DECLINE on fpp > 25%: a filter that passes most rows charges
    *    every fact row a probe and saves almost nothing downstream.
    *  - DECLINE on 8·n > F·(1−fpp): building the bitset costs a
    *    distributed pass + grouped aggregate over n keys, which the
    *    SCALE_SLOPE r11 sweep measured at ~8× the per-row cost of
    *    the fact shuffle it saves (local[32]): forced bloom LOSES at
    *    F/n = 5 (F=50M, n=10M: 0.83×) and F/n = 2 (F=5M, n=2.5M:
    *    0.46×) even at fpp 5%, and WINS at F/n = 25 (SCALE_SLOPE r10,
    *    1.14-1.32×) — so the carrier needs the savings to outrun the
    *    build by that margin, not merely exceed it. On a
    *    network-shuffle cluster the saved bytes are real I/O and the
    *    true ratio is smaller; 8 is the conservative local floor.
    *    (No F estimate → this term is skipped.)
    */
  private[graft] final case class BloomPlan(m: Long, hashes: Int,
      fpp: Double)
  /** `bloomMinKeys` for a live session: broadcast-threshold bytes /
    * 8 bytes-per-long-key (what the exact join would broadcast),
    * floored at 1000; 0 when broadcast is disabled. */
  private def sessionMinKeys(df: DataFrame): Long = {
    val thr = org.apache.spark.sql.GraftBridge
      .autoBroadcastBytes(df.sparkSession)
    if (thr <= 0) 0L else math.max(1000L, thr / 8)
  }

  private[graft] def bloomDecision(n: Long, bitsPerKey: Int,
      factRows: Option[Long],
      bloomMinKeys: Long = 1000000L): Option[BloomPlan] = {
    if (n <= bloomMinKeys) return None
    val hashes = 2
    val mCap = factRows.map(f => math.max(60L * 200000, f * 4))
      .getOrElse(60L * 200000).min(60L * 1600000)
    val m = math.max(240L, n * bitsPerKey).min(mCap)
    val fpp = math.pow(1 - math.exp(-hashes.toDouble * n / m), hashes)
    if (fpp > 0.25) None
    else if (factRows.exists(f => 8 * n > (f * (1 - fpp)).toLong)) None
    else Some(BloomPlan(m, hashes, fpp))
  }

  /** Count the key side (or take the caller's `knownN` — a manifest
    * row count / CostModel estimate — and skip the counting job),
    * size the filter via [[bloomDecision]], and build it — or return
    * None in the decline regime (ship NO filter; the plain shuffle
    * join runs). */
  private def buildProbe(keyF: DataFrame, factKey: Column,
      bitsPerKey: Int, factRows: Option[Long],
      bloomMinKeys: Long, knownN: Option[Long] = None): Option[Column] = {
    val n = knownN.getOrElse(
      keyF.agg(approx_count_distinct(col("__sk"))).first().getLong(0))
    bloomDecision(n, bitsPerKey, factRows, bloomMinKeys).map { p =>
      graft.functions.BloomProbe.mightContain(factKey,
        bloomWords(keyF, "__sk", p.m, p.hashes), p.m, p.hashes)
    }
  }

  /** A fact key the Bloom carrier cannot judge: non-NULL raw value
    * whose LONG cast is NULL (non-numeric string, out-of-range
    * decimal). The probe hashes the CAST value, so such rows evaluate
    * the probe to NULL — a bare `filter(probe)` would silently drop
    * rows the exact raw-equality join keeps. They must bypass the
    * probe and take the exact join, where raw equality decides.
    * (Key-SIDE cast-null values are excluded from the bitset but stay
    * in the exact-join frame; equality implies equal casts, so any
    * fact row matching them is itself cast-null and routed here.) */
  private def castNull(factKey: Column): Column =
    factKey.isNotNull && factKey.try_cast("long").isNull

  /** How far above `maxLiterals` a `keyRows` estimate must sit before
    * the limit-probe is skipped. The estimate is usually an UPPER
    * bound (a table count standing in for a filtered/deduped side),
    * so near the threshold the true distinct count may still be
    * literal-eligible — and the probe over a side that small costs
    * almost nothing. Far above it, the probe can only prove what the
    * estimate already says, so it is pure per-request overhead. */
  private val probeWorthFactor = 4L

  /** Semi-join `fact` to the keys of `keys(keyCol)` on
    * `fact(factKey)`, carrier chosen by [[bloomDecision]]:
    * `<= maxLiterals` ships literals (pushed `In` at the scan); a
    * broadcastable key side ships nothing (the exact semi broadcasts
    * under AQE); past the broadcast budget the Bloom probe
    * pre-filters map-side, then the exact semi-join removes the
    * false positives. Result is the exact semi-join in every regime.
    *
    * `keyRows` is the AMORTIZED-DECISION channel: when the caller
    * already knows the key side's cardinality (a TxnTable manifest
    * row count, a CostModel estimate, a dim table's footer count),
    * an estimate above `maxLiterals` decides the carrier with ZERO
    * driver jobs — the limit-probe and the distinct-count sizing job
    * are both skipped and [[bloomDecision]] runs on the estimate.
    * A dashboard's dim-driven page then pays no per-request decision
    * overhead. The estimate may safely be an over-count (a table
    * count standing in for a filtered side): the only possible drift
    * is carrier choice (e.g. broadcast-semi where a literal push was
    * eligible), never semantics — every regime returns the exact
    * semi-join. Absent — or within [[probeWorthFactor]]× of the
    * literal threshold, where a filter/dedup on the key side could
    * still land the set under `maxLiterals` and the probe over so
    * small a side is cheap — the probing path runs as before. */
  def semiShip(fact: DataFrame, factKey: String, keys: DataFrame,
      keyCol: String, maxLiterals: Int = 1000,
      bitsPerKey: Int = 8, factRows: Option[Long] = None,
      bloomMinKeys: Long = -1, keyRows: Option[Long] = None): DataFrame = {
    // NULL keys leave the set up front: an equi-(semi|anti)-join
    // matches NULL against nothing, and a NULL inside an isin literal
    // would poison the NOT-IN complement with three-valued UNKNOWNs
    // (dropping every row — join semantics keep them all)
    val est = keyRows.filter(_ > probeWorthFactor * maxLiterals)
    // carrier decision by a LIMIT probe (partial distinct, early
    // exit) unless the estimate already proves the set oversized:
    // one cheap job either yields the complete literal set or
    // proves the set oversized
    val probe =
      if (est.isDefined) Array.empty[org.apache.spark.sql.Row]
      else keys.select(col(keyCol).as("__sk"))
        .filter(col("__sk").isNotNull).distinct()
        .limit(maxLiterals + 1).collect()
    if (est.isEmpty && probe.length <= maxLiterals) {
      fact.filter(col(factKey).isin(probe.map(_.get(0)).toSeq: _*))
    } else {
      // NO distinct on the big path: bit-OR dedups by construction
      // and a semi-join ignores key multiplicity — the key side is
      // never shuffled except as ≤`words` map-combined bit groups
      val keyF = keys.select(col(keyCol).as("__sk"))
        .filter(col("__sk").isNotNull)
      buildProbe(keyF, col(factKey), bitsPerKey, factRows,
          if (bloomMinKeys >= 0) bloomMinKeys else sessionMinKeys(fact),
          knownN = est)
        // cast-null fact rows bypass the probe (it can't judge them)
        // and fall through to the exact join below
        .fold(fact)(pass => fact.filter(castNull(col(factKey)) || pass))
        // unhinted: AQE broadcasts a small key frame at runtime; a
        // 10^7-key frame correctly falls back to a shuffled semi-join
        // over the (bloom-pruned) survivors
        .join(keyF, col(factKey) === col("__sk"), "left_semi")
    }
  }

  /** ANTI-join complement of [[semiShip]]: keep the fact rows whose
    * key is NOT in the key set. The Bloom pays differently here — a
    * bitset MISS is a PROOF of non-membership (Bloom has no false
    * negatives), so every miss row is emitted directly without ever
    * touching the join; only the ~(selectivity + fpp) fraction that
    * passes the bitset needs the exact anti-join to separate true
    * members (dropped) from false positives (kept). For a selective
    * key set against a huge fact that routes almost the whole scan
    * around the join's shuffle. NULL keys follow SQL anti-join
    * semantics (kept). Result is exactly the plain left_anti either
    * way (PlanShapeSpec pins it). */
  def antiShip(fact: DataFrame, factKey: String, keys: DataFrame,
      keyCol: String, maxLiterals: Int = 1000,
      bitsPerKey: Int = 8, factRows: Option[Long] = None,
      bloomMinKeys: Long = -1, keyRows: Option[Long] = None): DataFrame = {
    val est = keyRows.filter(_ > probeWorthFactor * maxLiterals)
    val probe =
      if (est.isDefined) Array.empty[org.apache.spark.sql.Row]
      else keys.select(col(keyCol).as("__sk"))
        .filter(col("__sk").isNotNull).distinct()
        .limit(maxLiterals + 1).collect()
    if (est.isEmpty && probe.length <= maxLiterals) {
      // literal NOT IN with anti-JOIN null semantics: NULL fact keys
      // kept (key-set NULLs were dropped above, so the isin literal
      // list can never be NULL-poisoned)
      fact.filter(col(factKey).isNull ||
        !col(factKey).isin(probe.map(_.get(0)).toSeq: _*))
    } else {
      val keyF = keys.select(col(keyCol).as("__sk"))
        .filter(col("__sk").isNotNull)
      buildProbe(keyF, col(factKey), bitsPerKey, factRows,
          if (bloomMinKeys >= 0) bloomMinKeys else sessionMinKeys(fact),
          knownN = est)
          match {
        case None => // fpp regime: no useful filter — plain anti-join
          fact.join(keyF, col(factKey) === col("__sk"), "left_anti")
        case Some(pass) =>
          // misses bypass the join outright; passes pay the exact
          // anti. NULL keys make the probe NULL (three-valued), which
          // a bare filter pair would drop from BOTH branches — route
          // them into the miss branch explicitly (anti-join
          // semantics: NULL is kept). CAST-null keys (non-NULL raw,
          // NULL as LONG) also evaluate the probe to NULL, but a
          // Bloom miss is only a proof for hashed values — they must
          // take the exact anti-join, so they route into the passes
          // branch, not the miss shortcut.
          val cn = castNull(col(factKey))
          val misses = fact.filter(col(factKey).isNull || (!cn && !pass))
          val passes = fact.filter(cn || (col(factKey).isNotNull && pass))
            .join(keyF, col(factKey) === col("__sk"), "left_anti")
          misses.unionByName(passes)
      }
    }
  }

  /** Multi-column (and any-type) key ship — the shape the served
    * engine's curators need (a drilldown's parent set is a TUPLE of
    * display values, not one LONG id). The Bloom key is
    * `xxhash64(cols...)` computed identically on both sides: a LONG
    * by construction and NEVER NULL (xxhash64 folds a NULL input into
    * the running seed), so the single-column carrier's cast-NULL
    * routing has no analogue here — every fact row gets a definite
    * probe verdict, and rows with NULL key parts that survive the
    * probe die in the exact join (`===` matches NULL against
    * nothing, the same semantics as the plain semi-join).
    * Carrier decision as in [[semiShip]]: a `limit` probe either
    * proves the tuple set small (≤ `maxLiterals` → broadcast-hinted
    * exact semi — the probe already proved the side tiny, so the
    * hint states a fact AQE would otherwise have to rediscover) or
    * oversized (Bloom pre-filter on the tuple hash, then the exact
    * semi). Result is exactly `fact ⋉ keys` either way. */
  def semiShipCols(fact: DataFrame, factKeys: Seq[String],
      keys: DataFrame, keyCols: Seq[String], maxLiterals: Int = 1000,
      bitsPerKey: Int = 8, factRows: Option[Long] = None,
      bloomMinKeys: Long = -1, keyRows: Option[Long] = None): DataFrame = {
    val t = prepTupleShip(fact, factKeys, keys, keyCols, maxLiterals,
      bitsPerKey, factRows, bloomMinKeys, keyRows)
    if (t.literal) fact.join(broadcast(t.renamed), t.cond, "left_semi")
    else t.probe.fold(fact)(fact.filter)
      .join(t.renamed, t.cond, "left_semi")
  }

  /** Shared tuple-carrier preparation: validated/renamed key side,
    * exact join condition, the literal-vs-oversized probe, and — in
    * the oversized regime — the tuple-hash bloom probe (None = the
    * decision declined; ship no filter). Factored so the semi and
    * anti carriers cannot drift apart on the hash/probe mechanics. */
  private final case class TupleShip(renamed: DataFrame, cond: Column,
      literal: Boolean, probe: Option[Column])
  private def prepTupleShip(fact: DataFrame, factKeys: Seq[String],
      keys: DataFrame, keyCols: Seq[String], maxLiterals: Int,
      bitsPerKey: Int, factRows: Option[Long],
      bloomMinKeys: Long, keyRows: Option[Long] = None): TupleShip = {
    val renamed = shipColsPrep(fact, factKeys, keys, keyCols)
    val cond = factKeys.zipWithIndex.map {
      case (f, i) => fact.col(f) === renamed.col(s"__sk$i") }
      .reduce(_ && _)
    val est = keyRows.filter(_ > probeWorthFactor * maxLiterals)
    val probe =
      if (est.isDefined) Array.empty[org.apache.spark.sql.Row]
      else renamed.distinct().limit(maxLiterals + 1).collect()
    if (est.isEmpty && probe.length <= maxLiterals)
      TupleShip(renamed, cond, literal = true, None)
    else {
      val tupleHash = xxhash64(factKeys.map(fact.col): _*)
      val keyH = renamed.select(xxhash64(
        keyCols.indices.map(i => col(s"__sk$i")): _*).as("__sk"))
      TupleShip(renamed, cond, literal = false,
        buildProbe(keyH, tupleHash, bitsPerKey, factRows,
          if (bloomMinKeys >= 0) bloomMinKeys else sessionMinKeys(fact),
          knownN = est))
    }
  }

  /** Validate a tuple ship and rename the key side positionally: the
    * exact join condition must never resolve bare names against both
    * sides (a drilldown's key columns CARRY the fact side's names).
    * The TYPE check is a correctness requirement, not pedantry:
    * xxhash64 hashes by physical width, so equal VALUES of different
    * types (INT 7 vs BIGINT 7) hash differently — with mismatched
    * sides the bloom would produce FALSE NEGATIVES (rows pruned that
    * the coercing exact join keeps), which no downstream join can
    * repair. The single-column carriers normalize through a LONG cast
    * on both sides and are immune. */
  private def shipColsPrep(fact: DataFrame, factKeys: Seq[String],
      keys: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(factKeys.nonEmpty && factKeys.length == keyCols.length,
      s"key column lists must be non-empty and aligned: $factKeys vs $keyCols")
    val factTypes = factKeys.map(f => fact.schema(f).dataType)
    val keyTypes = keyCols.map(k => keys.schema(k).dataType)
    require(factTypes == keyTypes,
      s"tuple key ship requires identical column types on both sides " +
        s"(xxhash64 is type-sensitive — a mismatch makes the bloom drop " +
        s"true matches): fact=$factTypes vs keys=$keyTypes")
    keys.select(keyCols.zipWithIndex.map {
      case (c, i) => col(c).as(s"__sk$i") }: _*)
  }

  /** ANTI complement of [[semiShipCols]]: keep fact rows whose key
    * TUPLE is absent from the key set (the exclusion-list shape —
    * e.g. drop (source, fingerprint) pairs named by a takedown
    * table). The tuple hash is never NULL, so every row gets a
    * definite probe verdict: misses bypass the join outright (no
    * false negatives), passes pay the exact anti, and rows with NULL
    * tuple parts behave as in the plain anti either way (NULL matches
    * nothing → kept — by the miss bypass or by the exact join). */
  def antiShipCols(fact: DataFrame, factKeys: Seq[String],
      keys: DataFrame, keyCols: Seq[String], maxLiterals: Int = 1000,
      bitsPerKey: Int = 8, factRows: Option[Long] = None,
      bloomMinKeys: Long = -1, keyRows: Option[Long] = None): DataFrame = {
    val t = prepTupleShip(fact, factKeys, keys, keyCols, maxLiterals,
      bitsPerKey, factRows, bloomMinKeys, keyRows)
    if (t.literal) fact.join(broadcast(t.renamed), t.cond, "left_anti")
    else t.probe match {
      case None => fact.join(t.renamed, t.cond, "left_anti")
      case Some(pass) =>
        fact.filter(!pass)
          .union(fact.filter(pass).join(t.renamed, t.cond, "left_anti"))
    }
  }
}
