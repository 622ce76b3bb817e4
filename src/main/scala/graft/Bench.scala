package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: prints one JSON line with per-query wall seconds.
  *
  * Before timing, every query runs once against the tiny sf0.001 data:
  * same schemas → same generated codegen classes, so the warmup pass
  * absorbs JVM/class-loading/janino-compile cost that would otherwise
  * be charged to whichever query happens to run first. Queries are
  * timed in sorted name order for run-to-run comparability.
  */
object Bench {

  /** Fixed CPU-bound calibration (no I/O, no Spark, deterministic
    * iteration count): ~0.5 s of xorshift mixing on this host when
    * unloaded. [[main]] runs it BEFORE and AFTER the battery and
    * records both in BENCH_LOCAL.json — ambient/noisy-neighbor
    * attribution of a slow bench reading becomes a measured ratio
    * against the committed unloaded baseline (BENCH_NOTES) instead of
    * a judgement call: engine regressions move query seconds but not
    * the calibration; host weather moves both. Min of 3 timed passes
    * after a JIT warmup pass. */
  private[graft] def calibrate(): Double = {
    def pass(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 400000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      // keep the mixer observable so the JIT cannot elide the loop
      if (x == 42L) System.err.println("calibration sentinel")
      (System.nanoTime() - t0) / 1e9
    }
    pass()
    Seq(pass(), pass(), pass()).min
  }

  /** I/O-side calibration (r19 verdict task: the CPU probe above is
    * structurally blind to the I/O/scheduling regime that past
    * out-of-band readings were attributed to): a FIXED-size parquet
    * scan — every column of the sf0.001 documents+events tables
    * hashed and folded — through the normal Spark scan path, min of 3
    * after a warm pass. Engine changes to query code do not move it;
    * host-side I/O/scheduling weather does. Recorded as
    * calibScanBefore/After in BENCH_LOCAL.json next to the CPU pair. */
  private[graft] def calibScan(spark: SparkSession, warmDir: String): Double = {
    def pass(): Double = {
      val t0 = System.nanoTime()
      val docs = spark.read.parquet(s"$warmDir/documents.parquet")
      // bit_xor, not sum: an ANSI sum of 64-bit hashes overflows
      docs.selectExpr("bit_xor(xxhash64(doc_id, text)) s").collect()
      val ev = graft.core.Tables.events(spark, warmDir)
      ev.selectExpr("bit_xor(xxhash64(event_id, user_id, event_type, value)) s")
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    pass()
    Seq(pass(), pass(), pass()).min
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = "/root/testdata/sf0.001"
    val cpus = graft.core.Cpus.fromEnv(4)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      // shuffle/spill/broadcast scratch on the fast local medium
      // (tmpfs here; node-local NVMe in production — guide §6/§9:
      // "machines with fast local disks"). Parameterized via
      // SPARK_GRAFT_SCRATCH; never holds results across runs.
      .config("spark.local.dir",
        graft.core.TempDirs.scratchShared("spark-local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // A/B seam: SPARK_GRAFT_BENCH_SKIP=name1,name2 removes queries
    // from the battery (exact names or unique short prefixes) — used
    // to run the current code on a PRIOR round's query set, isolating
    // suite-ambient cost of newly added queries from code cost
    val calibBefore = calibrate()
    val calibScanBefore = calibScan(spark, warmDir)
    val skip = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) =>
        skip.contains(n) || skip.contains(n.takeWhile(_ != '_')) }
    qs.foreach { case (_, fn) =>
      try fn(spark, warmDir).count() catch { case _: Throwable => () }
    }
    // drop warmup-dir memoized intermediates + all cached data so the
    // timed passes start cold
    def timedPass(): Seq[(String, Double)] = {
      graft.operators.Dedup.releaseCaches()
      spark.sharedState.cacheManager.clearCache()
      qs.map { case (name, fn) =>
        val t0 = System.nanoTime()
        // a FAILED pass must not contribute a (fast) sample — under min
        // aggregation a quick crash would mask the successful pass's
        // real cost; +inf keeps the min honest, and a query failing in
        // both passes surfaces as a huge sentinel in the JSON
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case _: Throwable => false }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else 1e9)
      }
    }
    // N cold passes (default 3), per-query MIN: this host shows
    // episodic multi-minute noisy-neighbor slowdowns (individual
    // queries swing 10x between consecutive runs with the machine
    // idle), so a single sample conflates engine cost with host
    // weather; the min of independent cold runs is the honest
    // steady-state cost, and BENCH_NOTES showed min-of-2 still
    // noise-limited (the round-6 dd04 +0.54 s false regression).
    val nPasses = {
      val raw = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3")
      val n = try raw.toInt catch {
        case _: NumberFormatException => sys.error(
          s"SPARK_GRAFT_BENCH_PASSES must be an integer, got '$raw'")
      }
      math.max(1, n) // 0/negative would silently mean a single pass
    }
    val p1 = timedPass()
    val rest = (2 to nPasses).map(_ => timedPass().toMap)
    val results = p1.map { case (name, v) =>
      name -> rest.foldLeft(v)((m, p) => math.min(m, p(name)))
    }
    graft.operators.Dedup.releaseCaches()
    val total = results.map(_._2).sum
    def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // STDOUT line: the driver captures only the LAST 2000 chars of the
    // run's output and parses the JSON line out of that tail (sbt's
    // trailing "[success] Total time…" line eats ~80 of them). With 90+
    // queries the full-name full-precision map is ~4.6k chars and has
    // been truncated mid-object every round — so the printed line uses
    // each query's unique short prefix ("q05_topk_orders" → "q05") and
    // trimmed 2-decimal seconds. At 147 queries even the 3-decimal
    // short form crossed 2000 chars (the r8 "parsed": null failure
    // mode, re-armed by query count) — so the line is measured and, if
    // it still cannot fit the tail budget, per-FAMILY sums are printed
    // instead; the full-name full-precision map always goes to
    // BENCH_LOCAL.json below.
    def rN(n: Int)(v: Double): String = {
      val s = s"%.${n}f".formatLocal(java.util.Locale.ROOT, v)
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse
        .stripSuffix(".") match { case "" => "0"; case t => t }
      else s
    }
    val r2 = rN(2) _
    // stdout line carries ONLY the driver-contract fields (metric/
    // value/unit/queries/sf) — passes+agg live in BENCH_LOCAL.json,
    // and sf is the directory BASENAME; at 153 queries those extra
    // ~38 chars were exactly what pushed the per-query form past the
    // tail budget into the family fallback
    def lineWith(qmap: String) =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qmap,"sf":"${new java.io.File(sfDir).getName}"}"""
    def perQueryLine(prec: Int) = lineWith(results.map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + rN(prec)(v)
    }.mkString("{", ",", "}"))
    val line = {
      // 2000-char tail minus sbt's ~80-char "[success] …" suffix;
      // degrade gracefully: 2-decimal per-query → 1-decimal per-query
      // (±0.05 s, well inside this host's documented noise band) →
      // per-family sums (q/sem/dd/sim/tx/sp/st/ev/mm/sk/cur/sql/pp)
      val candidates = Iterator(perQueryLine(2), perQueryLine(1))
      candidates.find(_.length <= 1900).getOrElse {
        val fams = results.groupBy(_._1.takeWhile(!_.isDigit))
          .toSeq.sortBy(_._1)
          .map { case (f, vs) => "\"" + f + "\":" + r2(vs.map(_._2).sum) }
          .mkString("{", ",", "}")
        lineWith(fams)
      }
    }
    println(line)
    val qFull = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-query MEDIANS for the most expensive queries (r16 verdict
    // task #8): the min hides run-to-run spread, so a regression hunt
    // starting from BENCH_LOCAL needs the central tendency too — the
    // median over the same cold passes, for the top 15 by min-cost
    val allPasses = p1.toMap +: rest
    def median(name: String): Double = {
      val xs = allPasses.map(_(name)).sorted
      if (xs.size % 2 == 1) xs(xs.size / 2)
      else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2
    }
    val med15 = results.sortBy(-_._2).take(15)
      .map { case (k, _) => "\"" + k + "\":" + median(k) }
      .mkString("{", ",", "}")
    val calibAfter = calibrate()
    val calibScanAfter = calibScan(spark, warmDir)
    // scaling/harness legibility (r20 verdict tasks #2/#5): the
    // effective parallelism actually honored (PERF's
    // suspect_cpus_ignored heuristic fired on totals alone — at sf0.1
    // the battery is job-floor bound, so 8 cores legitimately beat
    // 32) and the scratch medium under the timed region (tmpfs vs
    // disk), so a driver comparison can see a harness-config delta
    // instead of inferring one. Stdout contract line unchanged.
    val scratchMedium =
      if (graft.core.TempDirs.fastBase.startsWith("/dev/shm")) "tmpfs"
      else "disk"
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","passes":$nPasses,"agg":"min","queries":$qFull,"medianTop15":$med15,"calibBefore":$calibBefore,"calibAfter":$calibAfter,"calibScanBefore":$calibScanBefore,"calibScanAfter":$calibScanAfter,"cpus":$cpus,"defaultParallelism":${spark.sparkContext.defaultParallelism},"master":"${spark.sparkContext.master}","scratch":"$scratchMedium","sf":"$sfDir"}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), fullLine + "\n")
    catch { case _: Throwable => () }
    spark.stop()
  }
}
