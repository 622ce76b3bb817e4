package graft

import org.apache.spark.sql.SparkSession
import graft.tools.RelCorpusGen

/** DuckDB-dialect re-rendering of the relational-fuzz duals — the
  * CROSS-ENGINE leg of the data-axis differential program (r18
  * verdict, ranked task #1): RelCorpusFuzzSpec proves the engine ≡
  * its independently-rendered ANSI duals, but both sides run in ONE
  * Spark session, so a Spark-wide semantics quirk (date_format
  * behavior, decimal promotion, null ordering) passes both sides
  * identically. This translator re-renders the SAME duals for DuckDB,
  * which evaluates them with a different parser, optimizer, decimal
  * kernel and timezone library — the class of divergence that bit
  * q01 (2^53 decimal→double), sp07 (trim), tx01 (`\s`) can only be
  * caught this way.
  *
  * The battery's dual vocabulary is CLOSED (RelFuzzBattery renders
  * it), so the translation is a fixed rewrite set, not a SQL parser:
  *
  *  - backtick identifiers → double quotes;
  *  - `date_format(x,'yyyy-MM-dd…')` → `strftime(x,'%Y-%m-%d…')`;
  *  - `from_utc_timestamp(ts,z)` → `(ts AT TIME ZONE 'UTC') AT TIME
  *    ZONE z` (ICU), `to_utc_timestamp(l,z)` → the inverse chain;
  *  - `date_add(ts,n)` → `CAST(ts AS DATE) + n`;
  *  - `LEFT SEMI JOIN` → `SEMI JOIN`;
  *  - `CAST(SUM(DECIMAL…) AS DOUBLE)` → via a VARCHAR hop: DuckDB's
  *    decimal→double cast DOUBLE-ROUNDS past 2^53 scaled units
  *    ((double)int128 then /10^scale — measured: DECIMAL(38,6)
  *    '10000000001.000001' → 10000000001.0, correctly rounded is
  *    …1.000002, Spark's BigDecimal.doubleValue), while its
  *    VARCHAR→DOUBLE parse is correctly rounded — same family as the
  *    sf1 q01 finding, caught here BEFORE the sweep by construction.
  *
  * Comparison side: `python3 tools/relcheck.py <corpusDir> <outDir>`
  * (the selfcheck.py discipline applied to generated relational
  * corpora) — Spark session timezone UTC ⇒ DuckDB `SET
  * TimeZone='UTC'`; Spark null ordering ⇒ `SET default_null_order=
  * 'nulls_first_on_asc_last_on_desc'` (LIMIT/OFFSET pages must cut
  * identically when NULL dim values sort at the boundary).
  *
  * Usage: sbt 'Test/runMain graft.RelDuckFuzzMain [outRoot] [seed…]'
  * (default seeds 1-12 — the SAME corpora and request streams as the
  * in-CI RelCorpusFuzzSpec, so every CI comparison also gets the
  * cross-engine check offline; RelDuckFuzzSpec runs a budgeted
  * subset in CI). */
object RelDuckDual {

  private val fmt = Map(
    "yyyy-MM-dd" -> "%Y-%m-%d",
    "yyyy-MM-dd HH" -> "%Y-%m-%d %H",
    "yyyy-MM-dd HH:mm" -> "%Y-%m-%d %H:%M")

  private def qr(s: String): String =
    java.util.regex.Matcher.quoteReplacement(s)

  /** Spark-dialect battery dual → DuckDB dialect. */
  def translate(sparkSql: String): String = {
    var s = sparkSql
    // grain bucketing: format(trunc(utc→local ts)) as one unit
    s = """date_format\(date_trunc\('(\w+)', from_utc_timestamp\((\w+), '([^']+)'\)\), '([^']+)'\)""".r
      .replaceAllIn(s, m => qr(
        s"strftime(date_trunc('${m.group(1)}', (${m.group(2)} AT TIME " +
          s"ZONE 'UTC') AT TIME ZONE '${m.group(3)}'), '${fmt(m.group(4))}')"))
    // local wall-clock literal → UTC instant (window edges)
    s = """to_utc_timestamp\('([^']+)', '([^']+)'\)""".r
      .replaceAllIn(s, m => qr(
        s"((TIMESTAMP '${m.group(1)}' AT TIME ZONE '${m.group(2)}') " +
          "AT TIME ZONE 'UTC')"))
    // DST TimeShift's prev-window day column: shift the LOCAL day
    s = """date_format\(date_add\(date_trunc\('day', from_utc_timestamp\((\w+), '([^']+)'\)\), (\d+)\), 'yyyy-MM-dd'\)""".r
      .replaceAllIn(s, m => qr(
        s"strftime(CAST(date_trunc('day', (${m.group(1)} AT TIME ZONE " +
          s"'UTC') AT TIME ZONE '${m.group(2)}') AS DATE) + ${m.group(3)}, " +
          "'%Y-%m-%d')"))
    // TimeShift's forward-shifted previous-window day column
    s = """date_format\(date_add\((\w+), (\d+)\), 'yyyy-MM-dd'\)""".r
      .replaceAllIn(s, m => qr(
        s"strftime(CAST(${m.group(1)} AS DATE) + ${m.group(2)}, '%Y-%m-%d')"))
    s = """date_format\((\w+), '([^']+)'\)""".r
      .replaceAllIn(s, m => qr(
        s"strftime(${m.group(1)}, '${fmt(m.group(2))}')"))
    // exact decimal aggregate → double via the correctly-rounded
    // VARCHAR parse (see scaladoc: DuckDB's direct cast double-rounds)
    s = """CAST\((SUM|MAX)\(CAST\((\w+) AS DECIMAL\((\d+),(\d+)\)\)\) AS DOUBLE\)""".r
      .replaceAllIn(s, m => qr(
        s"CAST(CAST(${m.group(1)}(CAST(${m.group(2)} AS " +
          s"DECIMAL(${m.group(3)},${m.group(4)}))) AS VARCHAR) AS DOUBLE)"))
    s = s.replace(" LEFT SEMI JOIN ", " SEMI JOIN ")
    s.replace('`', '"')
  }
}

object RelDuckFuzzMain {

  /** The per-corpus case stream — seed and family plan IDENTICAL to
    * RelCorpusFuzzSpec, so the offline cross-engine leg covers the
    * exact comparisons CI makes (plus any extra seeds passed). */
  def corpusCases(seed: Int): Seq[RelFuzzBattery.FuzzCase] = {
    val rnd = new scala.util.Random(20260816L + seed)
    RelFuzzBattery.casesValid(rnd,
      Seq.fill(20)(0) ++ Seq.fill(6)(1) ++ Seq.fill(4)(2) ++
        Seq.fill(4)(3) ++ Seq.fill(8)(4)) ++
      RelFuzzBattery.casesCubeSql(rnd, 15) ++
      RelFuzzBattery.casesPagination(rnd, 8) ++
      RelFuzzBattery.casesUnionView(rnd, 5) ++
      RelFuzzBattery.casesGrainTz(rnd, 10) ++
      RelFuzzBattery.casesTimeShift(rnd, 6) ++
      RelFuzzBattery.casesTotalsRowCount(rnd, 5) ++
      RelFuzzBattery.casesDrilldown(rnd, 5) ++
      RelFuzzBattery.casesDstGrain(rnd, 8) ++
      RelFuzzBattery.casesDstTimeShift(rnd, 4) ++
      RelFuzzBattery.casesVariantRollup(rnd, 6)
  }

  /** Dump one corpus: engine results as parquet + duck_sql.json +
    * cases.txt (clues for shrinking a divergence into a fixture).
    * Returns the spark-side failure count (0 in a green run). */
  def dumpCorpus(spark: SparkSession, seed: Int, dir: String,
      out: String): Int = {
    val profile = RelCorpusGen.writeCorpus(spark, seed, dir)
    println(s"[relduck] $profile")
    new java.io.File(out).mkdirs()
    val cases = corpusCases(seed)
    var failures = 0
    cases.foreach { c =>
      try c.exec(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/${c.name}")
      catch { case e: Throwable =>
        failures += 1
        System.err.println(s"[relduck] SPARK-SIDE FAIL ${c.name}: " +
          s"${e.getMessage}\n${c.clue}")
        import spark.implicits._
        Seq(s"${e.getClass.getName}: ${e.getMessage}")
          .toDF("relduck_error").coalesce(1)
          .write.mode("overwrite").parquet(s"$out/${c.name}")
      }
    }
    def jq(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/duck_sql.json"),
      cases.map(c => s"${jq(c.name)}: ${jq(RelDuckDual.translate(c.dual))}")
        .mkString("{", ",", "}"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/cases.txt"),
      cases.map(c => s"=== ${c.name}\n${c.clue}\n").mkString("\n"))
    failures
  }

  def main(args: Array[String]): Unit = {
    val outRoot = args.headOption.getOrElse("target/relduck")
    val seeds =
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq else (1 to 12)
    val cpus = graft.core.Cpus.fromEnv(8)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var failures = 0
    seeds.foreach { seed =>
      failures += dumpCorpus(spark, seed,
        s"$outRoot/rc$seed", s"$outRoot/rc$seed-out")
      println(s"[relduck] seed=$seed dumped " +
        s"(${corpusCases(seed).size} cases) → now run: " +
        s"python3 tools/relcheck.py $outRoot/rc$seed $outRoot/rc$seed-out")
    }
    println(s"[relduck] done, $failures spark-side failures")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
