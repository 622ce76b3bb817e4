package perfbench

import graft.core.TxnTable

/** Per-layer metrics of a traced run, derived from spans and jobs. Every
  * workload reports every name in [[Names]]; a layer a workload does not
  * load reads 0. */
object Layers {
  /** (name, unit) of every per-layer metric a traced run prints. */
  val Names: Seq[(String, String)] = Seq(
    "analyzer.parse_ms" -> "ms",
    "analyzer.model_ms" -> "ms",
    "planner.plan_ms" -> "ms",
    "planner.rollup_share" -> "ratio",
    "spark.analysis_ms" -> "ms",
    "spark.optimization_ms" -> "ms",
    "spark.planning_ms" -> "ms",
    "spark.jobs_per_request" -> "count",
    "spark.stages_per_request" -> "count",
    "spark.tasks_per_request" -> "count",
    "spark.exec_ms" -> "ms",
    "spark.job_gap_ms" -> "ms",
    "spark.busy_ratio" -> "ratio",
    "serving.envelope_self_ms" -> "ms",
    "serving.response_bytes" -> "bytes",
    "serving.frontdoor_ms" -> "ms",
    "curators.dashboard_ms" -> "ms",
    "curators.fanout_ratio" -> "ratio",
    "operators.build_s" -> "s",
    "spark.jobs_per_pass" -> "count",
    "spark.stages_per_pass" -> "count",
    "spark.tasks_per_pass" -> "count",
    "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "spark.gc_s" -> "s",
    "spark.job_gap_s" -> "s",
    "trace.overhead.ops_per_s" -> "1/s",
    "trace.overhead.op_p50_ms" -> "ms",
    "trace.overhead.op_p95_ms" -> "ms") ++
    PipelineBatch.Queries.flatMap(x => Seq(s"operators.$x.s" -> "s", s"operators.$x.jobs" -> "count"))

  /** Layers only ingest-cdc loads; printed by name in its traced run. */
  val IngestNames: Seq[(String, String)] = Seq(
    "core.upsert_ms" -> "ms",
    "core.merge_ms" -> "ms",
    "core.delete_ms" -> "ms",
    "core.files_rewritten_per_commit" -> "count",
    "core.write_amp" -> "ratio",
    "spark.jobs_per_commit" -> "count",
    "core.compact_ms" -> "ms",
    "core.compact_stall_ms" -> "ms",
    "core.space_amp" -> "ratio",
    "core.changes_ms" -> "ms",
    "core.apply_delta_ms" -> "ms",
    "core.cdc_rows_per_version" -> "count",
    "spark.jobs_per_follow" -> "count")

  private def meanMs(spans: Seq[Span], name: String): Double =
    Stats.mean(spans.filter(_.name == name).map(_.ms))

  /** Metrics of request handling shared by serve-report and the reader
    * of ingest-cdc: module spans, Catalyst phases, jobs per request. */
  def requests(ops: Seq[Op], spans: Seq[Span], jobs: Seq[JobRec], caller: Caller): Map[String, Double] = {
    val byReq = jobs.groupBy(_.group)
    val mine = ops.map(o => byReq.getOrElse(o.reqId, Nil))
    val n = ops.size.max(1).toDouble
    val vs = caller.variants().filter(_._2)
    val ph = caller.phases.toArray(Array.empty[(Double, Double, Double)]).toSeq
    val env = spans.filter(_.name == "serving.envelope")
    Map(
      "analyzer.parse_ms" -> meanMs(spans, "analyzer.parse"),
      "analyzer.model_ms" -> meanMs(spans, "analyzer.model"),
      "planner.plan_ms" -> meanMs(spans, "planner.plan"),
      "planner.rollup_share" -> (if (vs.isEmpty) 0.0 else vs.count(_._1).toDouble / vs.size),
      "spark.analysis_ms" -> Stats.mean(ph.map(_._1)),
      "spark.optimization_ms" -> Stats.mean(ph.map(_._2)),
      "spark.planning_ms" -> Stats.mean(ph.map(_._3)),
      "spark.jobs_per_request" -> mine.map(_.size).sum / n,
      "spark.stages_per_request" -> mine.map(_.map(_.stages).sum).sum / n,
      "spark.tasks_per_request" -> mine.map(_.map(_.tasks).sum).sum / n,
      "spark.exec_ms" -> Stats.mean(mine.map(j => Jobs.execMs(j).toDouble)),
      "spark.job_gap_ms" -> Stats.mean(mine.map(j => Jobs.gapMs(j).toDouble)),
      "serving.envelope_self_ms" -> Stats.mean(env.map(s =>
        (s.end - s.start - Tracer.covered(byReq.getOrElse(s.req, Nil)
          .map(j => (j.start * 1000000L, j.end * 1000000L)), s.start, s.end)) / 1e6)),
      "serving.response_bytes" -> Stats.mean(ops.filter(_.status == 200)
        .map(_.response.getBytes("UTF-8").length.toDouble)))
  }

  private def busy(jobs: Seq[JobRec], wall: Double, cores: Int): Double =
    jobs.map(_.runMs).sum / (wall * 1000 * cores)

  def serve(ctx: Ctx, spans: Seq[Span], jobs: Seq[JobRec], ops: Seq[Op], wall: Double,
      caller: Caller): Map[String, Double] = {
    val dash = spans.filter(_.name == "curators.dashboard")
    val cur = spans.filter(s => s.name.startsWith("curators.") && s.name != "curators.dashboard")
    requests(ops, spans, jobs, caller) ++ Map(
      "spark.busy_ratio" -> busy(jobs, wall, ctx.cores),
      "curators.dashboard_ms" -> Stats.mean(dash.map(_.ms)),
      "curators.fanout_ratio" -> (if (dash.isEmpty) 0.0 else cur.map(_.ms).sum / dash.map(_.ms).sum))
  }

  def pipeline(ctx: Ctx, spans: Seq[Span], jobs: Seq[JobRec], wall: Double,
      phases: PipelineBatch.Phases): Map[String, Double] = {
    val byQ = jobs.groupBy(_.group)
    val qs = PipelineBatch.Queries
    val passJobs = qs.flatMap(q => byQ.getOrElse(q, Nil))
    qs.flatMap { q =>
      Seq(s"operators.$q.s" -> spans.filter(_.name == s"operators.$q").map(_.ms).sum / 1000,
        s"operators.$q.jobs" -> byQ.getOrElse(q, Nil).size.toDouble)
    }.toMap ++ Map(
      "operators.build_s" -> spans.filter(_.name == "operators.build").map(_.ms).sum / 1000,
      "spark.jobs_per_pass" -> passJobs.size.toDouble,
      "spark.stages_per_pass" -> passJobs.map(_.stages).sum.toDouble,
      "spark.tasks_per_pass" -> passJobs.map(_.tasks).sum.toDouble,
      "spark.shuffle_write_mb" -> passJobs.map(_.shuffleWrite).sum / 1e6,
      "spark.shuffle_read_mb" -> passJobs.map(_.shuffleRead).sum / 1e6,
      "spark.spill_mb" -> passJobs.map(_.spill).sum / 1e6,
      "spark.gc_s" -> passJobs.map(_.gcMs).sum / 1000.0,
      "spark.job_gap_s" -> qs.map(q => Jobs.gapMs(byQ.getOrElse(q, Nil))).sum / 1000.0,
      "spark.busy_ratio" -> busy(passJobs, wall, ctx.cores),
      "spark.analysis_ms" -> phases.analysis,
      "spark.optimization_ms" -> phases.optimization,
      "spark.planning_ms" -> phases.planning)
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def ingest(ctx: Ctx, spans: Seq[Span], jobs: Seq[JobRec], t: IngestCdc.PhaseResult,
      dir: String): Map[String, Double] = {
    val commits = t.commitInfo
    val rewritten = commits.map { case (v, _) =>
      (TxnTable.liveFiles(dir, v - 1).toSet -- TxnTable.liveFiles(dir, v)).size.toDouble
    }
    val hist = TxnTable.history(dir).map(h => h._1 -> h).toMap
    val (added, mutated) = commits.map { case (v, size) =>
      val before = TxnTable.liveEntries(dir, v - 1).map(_.path).toSet
      val addedBytes = TxnTable.liveEntries(dir, v).filterNot(e => before(e.path))
        .map(e => math.max(e.bytes, 0L)).sum
      val rowBytes = hist.get(v - 1).flatMap { case (_, _, bytes, rows) =>
        rows.filter(_ > 0).map(bytes.toDouble / _) }.getOrElse(0.0)
      (addedBytes.toDouble, size * rowBytes)
    }.unzip
    val live = TxnTable.liveEntries(dir).map(e => math.max(e.bytes, 0L)).sum
    val byGroup = jobs.groupBy(_.group)
    val commitJobs = jobs.filter(_.group.startsWith("commit"))
    val reads = t.reads
    requests(reads, spans, jobs, t.caller) ++ Map(
      "spark.busy_ratio" -> busy(jobs, t.wall, ctx.cores),
      "core.upsert_ms" -> meanMs(spans, "core.upsert"),
      "core.merge_ms" -> meanMs(spans, "core.merge"),
      "core.delete_ms" -> meanMs(spans, "core.delete"),
      "core.files_rewritten_per_commit" -> Stats.mean(rewritten),
      "core.write_amp" -> (if (mutated.sum > 0) added.sum / mutated.sum else 0.0),
      "spark.jobs_per_commit" -> commitJobs.size / commits.size.max(1).toDouble,
      "core.compact_ms" -> Stats.mean(t.compactMs),
      "core.compact_stall_ms" -> t.compactMs.sum / commits.size.max(1),
      "core.space_amp" -> (if (live > 0) dirBytes(new java.io.File(dir)).toDouble / live else 0.0),
      "core.changes_ms" -> meanMs(spans, "core.changes"),
      "core.apply_delta_ms" -> meanMs(spans, "core.apply_delta"),
      "core.cdc_rows_per_version" -> t.cdcRows.sum.toDouble / t.versions.max(1),
      "spark.jobs_per_follow" -> byGroup.getOrElse("follow", Nil).size / t.cdcRows.size.max(1).toDouble)
  }
}
