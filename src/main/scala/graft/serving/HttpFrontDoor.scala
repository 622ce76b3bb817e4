package graft.serving

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.SparkSession
import graft.operators.SemanticQueries
import graft.semantic.{Domain, Freshness}
import graft.semantic.model.Registry

/** Minimal HTTP front door — the analogue of the reference's reporting
  * API resource (api-jersey/.../MahaResource.scala:30+: POST JSON
  * ReportingRequest → JSON row envelope; registry/domain introspection
  * endpoints; async job endpoints backed by the worker).
  *
  * Built on the JDK's com.sun.net.httpserver (no new dependencies).
  * Routes:
  *   POST /report            JSON request body → Serving.jsonEnvelope
  *   POST /sql               raw SQL body (incl. DESCRIBE) → envelope —
  *                           the thin wire surface of the reference's
  *                           Avatica SQL service (service/.../calcite/
  *                           avatica/MahaAvaticaService.scala): SQL in,
  *                           rows out, same analyze/plan path as JSON.
  *                           Both serve one page capped at the cube's
  *                           `maxRowsSync` (default Serving.SyncMaxRows,
  *                           5,000): a larger result answers 400 naming
  *                           the cap, never a truncated page.
  *                           Both answer a repeated page over unchanged
  *                           input files from this door's PageCache
  *                           with no Spark job (key, exclusions and
  *                           bounds: PageCache)
  *   GET  /domain            Domain.domainJson (+freshness)
  *   POST /jobs              async submit → {"jobId": …}
  *   GET  /jobs/{id}         status; completed jobs embed the envelope,
  *                           up to Serving.AsyncMaxRows (100,000) rows;
  *                           a larger result answers 400 with its
  *                           rowCount and runs no Spark job
  *   DELETE /jobs/{id}       cancel (queued: never starts; running:
  *                           Spark job group killed) → 409 if terminal
  *   POST /refresh           ingestion-completion callback →
  *                           Freshness.refresh(session, dir): landed
  *                           parquet is picked up by the next request
  *                           without restart (druid-lookups refresh
  *                           cadence, exposed as the wire hook an
  *                           ingestion job calls)
  *   POST /index/{name}?op=balance|retrain|history|search|vacuum
  *                         |delete|rollback|asOf|lease
  *                           search serves top-k over the published
  *                           generation with the nprobe recall/latency
  *                           knob (vecId=…[,…]&k=…&nprobe=…); k < 1,
  *                           nprobe < 1, or queries × k above
  *                           Serving.SyncMaxRows answers 400
  *                           ANN-index maintenance over the REGISTERED
  *                           generation roots: `balance` runs the
  *                           drift statistic against the live
  *                           generation (the cheap per-append check an
  *                           operator schedules), `retrain` runs the
  *                           scheduled repair end-to-end (re-train on
  *                           the current corpus, publish the successor
  *                           generation under the exclusive-create
  *                           claim), `history` lists generations
  *   POST /maintenance?op=bpeTrain&k=…&m=…[&state=name]
  *                           table-independent: train a BPE merge
  *                           table over the corpus documents, async
  *                           via the job queue (202 + jobId; the
  *                           completed job's result is the artifact
  *                           merge table); state=<name> resumes a
  *                           crashed/re-submitted run from its last
  *                           trainer checkpoint
  *   POST /maintenance/{table}?op=optimize|compact|vacuum
  *                                 |constraints|addConstraint|dropConstraint
  *                                 |renameColumn|dropColumn|schema|history
  *                                 |restore|asOf|checkpoint|lease
  *                           (CHECK-constraint management and
  *                           column-mapping schema evolution ride the
  *                           same registered-table surface; predicates
  *                           arrive URL-encoded)
  *                           storage-maintenance surface over the
  *                           REGISTERED TxnTables passed at
  *                           construction (never arbitrary paths) —
  *                           the operational role druid-manager plays
  *                           for the reference's Druid cluster, here
  *                           against the engine's own table layer:
  *                           optimize re-clusters (zcols=a,b comma
  *                           list; defaults to the table's statsCols),
  *                           compact bin-packs sub-minBytes files,
  *                           vacuum drops versions below keepSince.
  *                           Mutations commit a new version; readers
  *                           stay snapshot-isolated throughout
  *
  * The request id comes from the X-Request-Id header (generated when
  * absent) and is echoed back; a completion-time request-log envelope
  * is emitted AFTER materialization — the serving-layer counterpart of
  * the plan-time envelope runLogged writes (reference request-log
  * lifecycle: one record per served request, stamped at completion).
  */
final class HttpFrontDoor(s: SparkSession, dir: String, reg: Registry,
    jobs: JobQueue, port: Int = 0,
    monitor: ServiceMonitor = ServiceMonitor.NoOp,
    maintainable: Map[String, String] = Map.empty,
    maintainableIndexes: Map[String, String] = Map.empty) {

  /** Unread-POST-body drain budget (see [[handle]]): generous vs any
    * legitimate request this API serves (the largest accepted report
    * JSON is bounded far below it by the oversized-IN reject), small
    * vs a hostile endless stream. */
  private val DrainCapBytes = 1L << 20

  /** begin/complete bracket around one served request: `begin` before
    * planning, `complete` exactly once with outcome + wall millis; a
    * throwing monitor never fails the request (reference monitor
    * contract, MahaServiceMonitor.scala:15-18). */
  private def monitored(reqId: String, kind: String)(
      f: => (Int, String, String)): (Int, String, String) = {
    ServiceMonitor.safely(monitor.begin(reqId, kind))
    val t0 = System.currentTimeMillis()
    var outcome = false
    try { val r = f; outcome = r._1 < 400; r }
    finally ServiceMonitor.safely(monitor.complete(
      reqId, kind, outcome, System.currentTimeMillis() - t0))
  }

  /** Served /report and /sql pages ([[servePage]]). */
  private val pages = new PageCache(PageCache.MaxEntries, PageCache.MaxBytes)

  /** The page cache's size and its hit, miss and eviction counts. */
  private[graft] def pageStats: PageCache.Stats = pages.stats

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4,
    (r: Runnable) => { val t = new Thread(r, "graft-http"); t.setDaemon(true); t }))

  def start(): Int = {
    // catch-all for unrouted paths: a JSON API answers 404 in JSON
    // (the JDK server's default is an HTML error page)
    server.createContext("/", (ex: HttpExchange) => handle(ex) {
      (404, s"""{"error":${Domain.jStr(
        s"no such route: ${ex.getRequestURI.getPath}")}}""", requestId(ex))
    })
    server.createContext("/report", (ex: HttpExchange) => handle(ex) {
      val reqId = requestId(ex)
      monitored(reqId, "report") {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val start = System.currentTimeMillis()
      val parsed = graft.analyzer.request.parse(body)
      // an async body skips the sync pagination guard, so it would run
      // the whole query before the envelope cap refused it: refuse it
      // before planning, as POST /jobs refuses a sync body
      if (parsed.exists(_.async))
        (400, s"""{"error":${Domain.jStr("/report serves sync requests; " +
          "submit async requests to POST /jobs")}}""", reqId)
      else try {
        // plan against the INJECTED registry — /sql and /domain already
        // do; a custom-registry front door must not silently serve
        // /report from the default demo registry (caught by the soak)
        val df = SemanticQueries.runLogged(body, reqId, reg)(s, dir)
        val cube = parsed.map(_.cube).getOrElse("")
        (200, servePage(reqId, cube, syncCap(cube), start, df), reqId)
      } catch {
        case e: IllegalArgumentException =>
          // runLogged wrote the plan-time envelope of a plan-time 400;
          // servePage wrote the completion record of an over-cap 400
          (400, s"""{"error":${Domain.jStr(e.getMessage)}}""", reqId)
      }
      }
    })
    server.createContext("/sql", (ex: HttpExchange) => handle(ex) {
      val reqId = requestId(ex)
      monitored(reqId, "sql") {
      val sql = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val start = System.currentTimeMillis()
      try {
        val (cube, df) = graft.analyzer.SqlFrontDoor.runOnCube(sql, reg)(s, dir)
        (200, servePage(reqId, "sql", syncCap(cube), start, df), reqId)
      } catch {
        case e: IllegalArgumentException =>
          (400, s"""{"error":${Domain.jStr(e.getMessage)}}""", reqId)
      }
      }
    })
    server.createContext("/domain", (ex: HttpExchange) => handle(ex) {
      (200, Domain.domainJson(reg, Freshness.forRegistry(reg, s, dir)),
        requestId(ex))
    })
    server.createContext("/jobs", (ex: HttpExchange) => handle(ex) {
      val reqId = requestId(ex)
      val path = ex.getRequestURI.getPath.stripPrefix("/jobs").stripPrefix("/")
      if (ex.getRequestMethod == "POST" && path.isEmpty) {
        // brackets the SUBMIT (accept/reject), not the async run — the
        // job's own wall time is visible via GET /jobs/{id} polling
        monitored(reqId, "job") {
          val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
          jobs.submit(body) match {
            case Right(id) => (202, s"""{"jobId":${Domain.jStr(id)}}""", reqId)
            case Left(err) => (400, s"""{"error":${Domain.jStr(err)}}""", reqId)
          }
        }
      } else if (ex.getRequestMethod == "DELETE" && path.nonEmpty) {
        // job-kill surface: queued jobs never start, running jobs have
        // their Spark job group interrupted ([[JobQueue.cancel]])
        if (jobs.cancel(path)) (200, """{"status":"cancelled"}""", reqId)
        else jobs.status(path) match {
          case None => (404, s"""{"error":"unknown job"}""", reqId)
          case Some(st) => (409,
            s"""{"error":"not cancellable","status":${Domain.jStr(st.toString)}}""",
            reqId)
        }
      } else jobs.status(path) match {
        case None => (404, s"""{"error":"unknown job"}""", reqId)
        case Some(JobQueue.Queued) => (200, """{"status":"queued"}""", reqId)
        case Some(JobQueue.Running) => (200, """{"status":"running"}""", reqId)
        case Some(JobQueue.Cancelled) =>
          (200, """{"status":"cancelled"}""", reqId)
        case Some(JobQueue.Failed(e)) =>
          (200, s"""{"status":"failed","error":${Domain.jStr(e)}}""", reqId)
        case Some(JobQueue.Completed(n)) if n > Serving.AsyncMaxRows =>
          // the row count is known from completion: refuse the embed
          // without running a Spark job
          (400, s"""{"status":"completed","rowCount":$n,"error":${Domain.jStr(
            s"result has $n rows, more than the ${Serving.AsyncMaxRows}-row " +
              "cap on an embedded job result")}}""", reqId)
        case Some(JobQueue.Completed(n)) =>
          val env = jobs.fetch(path)
            .map(Serving.jsonEnvelope(_, Serving.AsyncMaxRows)).getOrElse("null")
          (200, s"""{"status":"completed","rowCount":$n,"result":$env}""", reqId)
      }
    })
    server.createContext("/refresh", (ex: HttpExchange) => handle(ex) {
      val reqId = requestId(ex)
      if (ex.getRequestMethod != "POST")
        (405, """{"error":"POST only"}""", reqId)
      else monitored(reqId, "refresh") {
        Freshness.refresh(s, dir)
        (200, s"""{"refreshed":${Domain.jStr(dir)}}""", reqId)
      }
    })
    server.createContext("/index", (ex: HttpExchange) => handle(ex) {
      val reqId = requestId(ex)
      val name = ex.getRequestURI.getPath
        .stripPrefix("/index").stripPrefix("/")
      val q = queryParams(ex)
      if (ex.getRequestMethod != "POST")
        (405, """{"error":"POST only"}""", reqId)
      else maintainableIndexes.get(name) match {
        case None => (404, s"""{"error":"unknown index"}""", reqId)
        case Some(root) => monitored(reqId, "index") {
          import graft.operators.Similarity
          try q.getOrElse("op", "") match {
            case "balance" =>
              Similarity.ivfCurrent(root) match {
                case None =>
                  (400, """{"error":"no published generation"}""", reqId)
                case Some((gen, path, k)) =>
                  // the drift statistic counts SERVED vectors only;
                  // the tombstone count is surfaced so an operator
                  // can see how much purge debt the next retrain pays
                  val b = Similarity.ivfBalance(s, path, k)
                  // cached on the append-only file listing — a
                  // metadata endpoint must not pay one read per
                  // takedown file per request
                  val ts = Similarity.ivfTombstonesCached(s, path).size
                  (200, s"""{"op":"balance","gen":$gen,"k":$k,""" +
                    s""""factor":${b.factor},"maxCid":${b.maxCid},""" +
                    s""""total":${b.total},"tombstones":$ts,""" +
                    s""""drifted":${b.drifted}}""", reqId)
              }
            case "retrain" =>
              val iters = q.get("iters").map(_.toInt).getOrElse(4)
              val (gen, path) = Similarity.ivfRetrainPublish(s, root, iters)
              (200, s"""{"op":"retrain","gen":$gen,""" +
                s""""path":${Domain.jStr(path)}}""", reqId)
            case "rollback" =>
              // revert a bad retrain publish: gen N+1 re-serves a
              // previous generation's layout by pointer — nothing
              // rewritten, takedowns carried forward, vacuumed
              // targets refused (the TxnTable-RESTORE analogue)
              val toGen = q.getOrElse("gen",
                throw new IllegalArgumentException(
                  "rollback requires gen=<N>")).toInt
              val (gen, path) = Similarity.ivfRollback(s, root, toGen)
              (200, s"""{"op":"rollback","gen":$gen,"serves":$toGen,""" +
                s""""path":${Domain.jStr(path)}}""", reqId)
            case "asOf" =>
              // which generation SERVED at an instant — the index
              // twin of the table's TIMESTAMP AS OF, the first
              // question a takedown/rollback audit asks
              val ts = q.getOrElse("ts",
                throw new IllegalArgumentException(
                  "asOf requires ts=<epochMillis>")).toLong
              (200, s"""{"op":"asOf","ts":$ts,"gen":${
                Similarity.ivfGenAsOf(root, ts)}}""", reqId)
            case "lease" =>
              // maintenance-lease visibility: who holds, since when,
              // expired yet — the operator's 409 diagnosis surface
              (200, leaseJson(root), reqId)
            case "history" =>
              // HINT-BOUNDED enumeration (zero root LISTs): the ops
              // answer needs only the committed chain; vacuum/rollback
              // keep the LIST as their ground truth
              val rows = Similarity.ivfHistoryHintBounded(root)
                .map { case (g, p, k) =>
                val rb = Similarity.ivfRollbackOf(root, g)
                  .map(m => s""","rollbackOf":$m""").getOrElse("")
                val ts = Similarity.ivfTombstonesCached(s, p).size
                // `ts` = the recorded publish instant — the table
                // history's audit shape
                s"""{"gen":$g,"path":${Domain.jStr(p)},"k":$k,""" +
                  s""""ts":${Similarity.ivfCommitTs(root, g)},""" +
                  s""""tombstones":$ts$rb}""" }
              (200, rows.mkString("""{"op":"history","generations":[""",
                ",", "]}"), reqId)
            case "delete" =>
              // GDPR takedown: tombstone the ids in the CURRENT
              // generation — logically deleted from serving at once;
              // the next retrain is the physical purge. A takedown
              // BATCH too large for a URL rides the POST body as
              // {"vecIds":[...]} (the shared anchored scanner)
              val ids = q.get("vecId")
                .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
                  .map(_.toLong))
                .getOrElse(JsonBody.longArray(new String(
                  ex.getRequestBody.readAllBytes(), UTF_8), "vecIds"))
              if (ids.isEmpty) throw new IllegalArgumentException(
                "delete requires vecId=<id>[,...] or a JSON body " +
                  """{"vecIds":[...]}""")
              val (gen, n) = Similarity.ivfDelete(root, ids)
              (200, s"""{"op":"delete","gen":$gen,"tombstoned":$n}""",
                reqId)
            case "vacuum" =>
              // retention sweep of superseded generations; the guard
              // is ON over the wire (refusal = 409), force overrides
              val dropped = Similarity.ivfVacuum(s, root,
                keepGens = q.get("keepGens").map(_.toInt).getOrElse(2),
                retainMillis = q.get("retainMs").map(_.toLong)
                  .getOrElse(7L * 24 * 3600 * 1000),
                force = q.get("force").contains("true"))
              (200, s"""{"op":"vacuum","dropped":[${dropped.mkString(",")}]}""",
                reqId)
            case "search" =>
              // the recall/latency dial: nprobe lists scanned per
              // query (1 = fastest, k = exact); the measured trade
              // curve at 8M vectors lives in SCALE_SLOPE
              Similarity.ivfCurrent(root) match {
                case None =>
                  (400, """{"error":"no published generation"}""", reqId)
                case Some((gen, path, _)) =>
                  val ids = q.get("vecId")
                    .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
                      .map(_.toLong))
                    .getOrElse(Seq.empty)
                  // query-by-external-vector: vec=0.1,0.2,... (one
                  // query; the caller's embedding, not a corpus id)
                  val vec = q.get("vec")
                    .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
                      .map(_.toFloat))
                    .getOrElse(Seq.empty)
                  // BATCH serve: a POSTed JSON body {"vecs":[[…],…]}
                  // runs N external queries through ONE routed-scan
                  // job — the ~1.2 s per-request plan/probe setup the
                  // recall probe measured amortizes across the batch
                  // instead of multiplying by it. The anchored scan
                  // lives in [[JsonBody]] (shared, spec-fuzzed): inner
                  // arrays are read ONLY from the balanced "vecs"
                  // value — a sibling key's array after it must not
                  // become a phantom query vector
                  val body = new String(
                    ex.getRequestBody.readAllBytes(), UTF_8).trim
                  val batch: Seq[Seq[Float]] =
                    JsonBody.floatArrays(body, "vecs")
                  if (ids.isEmpty && vec.isEmpty && batch.isEmpty)
                    (400, """{"error":"search requires vecId=<id>[,...], vec=<f>[,...], or a JSON body {\"vecs\":[[...],...]}"}""",
                      reqId)
                  else {
                    val topK = q.get("k").map(_.toInt).getOrElse(5)
                    val np = q.get("nprobe").map(_.toInt).getOrElse(4)
                    // the answer is collected on the driver: queries × k
                    // rows, bounded like a sync page
                    val nq = if (batch.nonEmpty) batch.size
                      else if (vec.nonEmpty) 1 else ids.size
                    if (topK < 1 || np < 1) throw new IllegalArgumentException(
                      s"search requires k >= 1 and nprobe >= 1 (got k=$topK, nprobe=$np)")
                    if (nq.toLong * topK > Serving.SyncMaxRows)
                      throw new IllegalArgumentException(
                        s"search of $nq queries x k=$topK exceeds the " +
                          s"${Serving.SyncMaxRows}-row result cap")
                    val res =
                      if (batch.nonEmpty)
                        Similarity.ivfServeVecs(s, path, batch, np, topK)
                      else if (vec.nonEmpty)
                        Similarity.ivfServeVecs(s, path, Seq(vec), np, topK)
                      else Similarity.ivfServe(s, path, ids, np, topK)
                    val rows = res.collect().map(r =>
                      s"""{"qid":${r.getLong(0)},"nid":${r.getLong(1)},""" +
                        s""""rank":${r.getLong(2)},"cosine":${r.getDouble(3)}}""")
                    (200, rows.mkString(
                      s"""{"op":"search","gen":$gen,"nprobe":$np,"results":[""",
                      ",", "]}"), reqId)
                  }
              }
            case other =>
              (400, s"""{"error":${Domain.jStr(s"unknown op '$other'")}}""",
                reqId)
          } catch {
            // a faster retrain won the generation slot: CONFLICT,
            // re-read and retry — not a server error
            case e: java.util.ConcurrentModificationException =>
              (409, s"""{"error":${Domain.jStr(e.getMessage)}}""", reqId)
            case e: NumberFormatException =>
              (400, s"""{"error":${Domain.jStr(
                s"malformed numeric parameter: ${e.getMessage}")}}""", reqId)
            case e: IllegalStateException =>
              (400, s"""{"error":${Domain.jStr(String.valueOf(e.getMessage))}}""",
                reqId)
            case e: IllegalArgumentException =>
              (400, s"""{"error":${Domain.jStr(String.valueOf(e.getMessage))}}""",
                reqId)
          }
        }
      }
    })
    server.createContext("/maintenance", (ex: HttpExchange) => handle(ex) {
      val reqId = requestId(ex)
      val name = ex.getRequestURI.getPath
        .stripPrefix("/maintenance").stripPrefix("/")
      val q = queryParams(ex)
      if (ex.getRequestMethod != "POST")
        (405, """{"error":"POST only"}""", reqId)
      // TABLE-INDEPENDENT maintenance: `POST /maintenance?op=bpeTrain`
      // trains a BPE merge table over the corpus' documents table,
      // ASYNC via the job queue (a 32k-merge run is ~20 minutes — no
      // HTTP caller holds a connection that long). Returns 202 +
      // jobId; poll GET /jobs/{id}; the completed result is the
      // artifact merge table (ord, l, r, cnt, pieces) a pipeline
      // applies tx18-style. `state=<name>` makes the run RESUMABLE:
      // a re-submit under the same name continues from the last
      // trainer checkpoint instead of restarting.
      else if (name.isEmpty && q.getOrElse("op", "") == "bpeTrain")
        monitored(reqId, "maintenance") {
          try {
            val k = q.get("k").map(_.toInt).getOrElse(
              throw new IllegalArgumentException(
                "bpeTrain requires k=<merges>"))
            val m = q.get("m").map(_.toInt).getOrElse(8)
            if (k < 1 || m < 1) throw new IllegalArgumentException(
              "bpeTrain requires k >= 1 and m >= 1")
            val stateDir = q.get("state").map { n =>
              if (!n.matches("[A-Za-z0-9_-]{1,64}"))
                throw new IllegalArgumentException(
                  "state must match [A-Za-z0-9_-]{1,64}")
              jobs.taskStateDir(s"bpe-$n")
            }
            val jid = jobs.submitTask(s"bpeTrain-k$k-m$m") { s0 =>
              graft.operators.TextOps.bpeTrainFrame(s0, dir, k, m, stateDir)
            }
            (202, s"""{"op":"bpeTrain","jobId":${Domain.jStr(jid)},""" +
              s""""k":$k,"m":$m}""", reqId)
          } catch {
            case e: NumberFormatException =>
              (400, s"""{"error":${Domain.jStr(
                s"malformed numeric parameter: ${e.getMessage}")}}""", reqId)
            case e: IllegalArgumentException =>
              (400, s"""{"error":${Domain.jStr(String.valueOf(e.getMessage))}}""",
                reqId)
          }
        }
      else maintainable.get(name) match {
        case None => (404, s"""{"error":"unknown table"}""", reqId)
        case Some(tdir) => monitored(reqId, "maintenance") {
          import graft.core.TxnTable
          try q.getOrElse("op", "") match {
            case "optimize" =>
              // default = the declared stats columns under their
              // CURRENT logical spellings (table.json stores physical
              // names; feeding those to the logical-named optimize
              // would 400 forever after a rename)
              val zcols = q.get("zcols").map(_.split(',').toSeq)
                .getOrElse(TxnTable.logicalStatsCols(tdir))
              // ranked=true → equi-depth Z buckets for skewed columns
              val ranked = q.get("ranked").exists(_.toBoolean)
              if (zcols.isEmpty)
                (400, """{"error":"no zcols and no declared statsCols"}""",
                  reqId)
              else {
                TxnTable.optimize(s, tdir, zcols, ranked = ranked)
                Freshness.refresh(s, tdir) // served cubes see the new version
                (200, s"""{"op":"optimize","version":${TxnTable.version(tdir)},"ranked":$ranked}""",
                  reqId)
              }
            case "history" =>
              // one resolution pass per version (historyWithTs);
              // `kind` labels metadata epochs vs data commits, `ts`
              // is the recorded commit instant, `checkpoint` flags
              // resolution bases
              val rows = TxnTable.historyWithTs(tdir).map {
                case (v, n, b, rc, ts) =>
                val rs = rc.map(r => s""","rows":$r""").getOrElse("")
                val kind = TxnTable.versionKind(tdir, v)
                val ck = if (TxnTable.hasCheckpoint(tdir, v))
                  ""","checkpoint":true""" else ""
                s"""{"version":$v,"kind":"$kind","ts":$ts,"files":$n,"bytes":$b$rs$ck}""" }
              (200, rows.mkString("""{"op":"history","versions":[""",
                ",", "]}"), reqId)
            case "restore" =>
              // lakehouse RESTORE: roll the table back to a committed
              // version AS A NEW COMMIT — nothing rewritten, history
              // preserved, CDC followers see ordinary net changes
              val toV = q.getOrElse("version",
                throw new IllegalArgumentException(
                  "restore requires version=<N>")).toInt
              val nv = TxnTable.restore(s, tdir, toV)
              Freshness.refresh(s, tdir)
              (200, s"""{"op":"restore","restored":$toV,"version":$nv}""",
                reqId)
            case "asOf" =>
              // TIMESTAMP AS OF: resolve the version committed at or
              // before the instant (epoch millis)
              val ts = q.getOrElse("ts",
                throw new IllegalArgumentException(
                  "asOf requires ts=<epochMillis>")).toLong
              (200, s"""{"op":"asOf","ts":$ts,"version":${
                TxnTable.versionAsOf(tdir, ts)}}""", reqId)
            case "schema" =>
              // DESCRIBE: the logical schema through the live column
              // mapping, the active constraints, and the mapping rows
              val v = TxnTable.version(tdir)
              val cols = TxnTable.read(s, tdir).schema.map(f =>
                s"""{"name":${Domain.jStr(f.name)},"type":${
                  Domain.jStr(f.dataType.simpleString)}}""")
              val cs = TxnTable.constraints(tdir).map { case (n, pr) =>
                s"""{"name":${Domain.jStr(n)},"predicate":${Domain.jStr(pr)}}""" }
              val cm = TxnTable.colMapAt(tdir, v).map {
                case (p, Some(l)) =>
                  s"""{"physical":${Domain.jStr(p)},"logical":${Domain.jStr(l)}}"""
                case (p, None) =>
                  s"""{"physical":${Domain.jStr(p)},"dropped":true}"""
              }
              (200, s"""{"op":"schema","version":$v,""" +
                s""""columns":[${cols.mkString(",")}],""" +
                s""""constraints":[${cs.mkString(",")}],""" +
                s""""columnMapping":[${cm.mkString(",")}]}""", reqId)
            case "optimizeRange" =>
              (q.get("keyCol"), q.get("lo").map(_.toLong),
                q.get("hi").map(_.toLong)) match {
                case (Some(kc), Some(lo), Some(hi)) =>
                  val n = TxnTable.optimizeRange(s, tdir, kc, lo, hi)
                  Freshness.refresh(s, tdir)
                  (200, s"""{"op":"optimizeRange","reclustered":$n,"version":${TxnTable.version(tdir)}}""",
                    reqId)
                case _ =>
                  (400, """{"error":"optimizeRange requires keyCol, lo, hi"}""",
                    reqId)
              }
            case "compact" =>
              val minBytes = q.get("minBytes").map(_.toLong)
                .getOrElse(1L << 20)
              val packed = TxnTable.compactSmall(s, tdir, minBytes)
              Freshness.refresh(s, tdir)
              (200, s"""{"op":"compact","packed":$packed,"version":${TxnTable.version(tdir)}}""",
                reqId)
            case "constraints" =>
              val rows = TxnTable.constraints(tdir).map { case (n, pr) =>
                s"""{"name":${Domain.jStr(n)},"predicate":${Domain.jStr(pr)}}""" }
              (200, rows.mkString("""{"op":"constraints","constraints":[""",
                ",", "]}"), reqId)
            case "addConstraint" =>
              (q.get("name"), q.get("predicate")) match {
                case (Some(n), Some(pr)) =>
                  TxnTable.addConstraint(s, tdir, n, pr)
                  (200, s"""{"op":"addConstraint","name":${Domain.jStr(n)}}""",
                    reqId)
                case _ =>
                  (400, """{"error":"addConstraint requires name, predicate"}""",
                    reqId)
              }
            case "dropConstraint" =>
              q.get("name") match {
                case Some(n) =>
                  TxnTable.dropConstraint(tdir, n)
                  (200, s"""{"op":"dropConstraint","name":${Domain.jStr(n)}}""",
                    reqId)
                case None =>
                  (400, """{"error":"dropConstraint requires name"}""", reqId)
              }
            case "renameColumn" =>
              (q.get("from"), q.get("to")) match {
                case (Some(from), Some(to)) =>
                  TxnTable.renameColumn(s, tdir, from, to)
                  Freshness.refresh(s, tdir)
                  (200, s"""{"op":"renameColumn","from":${Domain.jStr(from)},"to":${Domain.jStr(to)},"version":${TxnTable.version(tdir)}}""",
                    reqId)
                case _ =>
                  (400, """{"error":"renameColumn requires from, to"}""",
                    reqId)
              }
            case "dropColumn" =>
              q.get("name") match {
                case Some(n) =>
                  TxnTable.dropColumn(s, tdir, n)
                  Freshness.refresh(s, tdir)
                  (200, s"""{"op":"dropColumn","name":${Domain.jStr(n)},"version":${TxnTable.version(tdir)}}""",
                    reqId)
                case None =>
                  (400, """{"error":"dropColumn requires name"}""", reqId)
              }
            case "lease" =>
              // maintenance-lease visibility (who holds / expired) —
              // the diagnosis surface for a vacuum/restore 409
              (200, leaseJson(tdir), reqId)
            case "checkpoint" =>
              // materialize the resolved live set as a sidecar so
              // later reads resolve O(checkpoint + short tail) — the
              // scheduled pass a streaming table's maintenance loop
              // runs (auto-checkpointing also fires every
              // CheckpointInterval delta commits and at vacuum; this
              // is the operator's explicit handle)
              val v = q.get("version").map(_.toInt).getOrElse(-1)
              val cv = TxnTable.checkpoint(tdir, v)
              (200, s"""{"op":"checkpoint","version":$cv}""", reqId)
            case "vacuum" =>
              val keep = q.get("keepSince").map(_.toInt)
                .getOrElse(TxnTable.version(tdir))
              // the retention guard is ON over the wire: a refused
              // sweep (recently superseded versions — a pinned reader
              // may still be scanning) surfaces as 409; force=true is
              // the operator's explicit override
              TxnTable.vacuum(tdir, keep,
                retainMillis = q.get("retainMs").map(_.toLong)
                  .getOrElse(TxnTable.DefaultVacuumRetainMillis),
                force = q.get("force").contains("true"))
              (200, s"""{"op":"vacuum","keptSince":$keep}""", reqId)
            case other =>
              (400, s"""{"error":${Domain.jStr(s"unknown op '$other'")}}""",
                reqId)
          } catch {
            // optimistic-concurrency loser (another maintenance or
            // ingest commit won the version): a CONFLICT the caller
            // retries, not a server error
            case e: java.util.ConcurrentModificationException =>
              (409, s"""{"error":${Domain.jStr(e.getMessage)}}""", reqId)
            // malformed numeric params (minBytes=junk, keepSince=junk)
            // and out-of-range requests (vacuum past the latest
            // manifest) are CLIENT errors, not 500s
            case e: NumberFormatException =>
              (400, s"""{"error":${Domain.jStr(
                s"malformed numeric parameter: ${e.getMessage}")}}""", reqId)
            // a constraint predicate that fails SQL analysis (unknown
            // column, parse error) is the CALLER's mistake
            case e: org.apache.spark.sql.AnalysisException =>
              (400, s"""{"error":${Domain.jStr(String.valueOf(e.getMessage))}}""",
                reqId)
            case e: IllegalArgumentException =>
              (400, s"""{"error":${Domain.jStr(String.valueOf(e.getMessage))}}""",
                reqId)
          }
        }
      }
    })
    server.start()
    server.getAddress.getPort
  }

  /** The sync page cap of `cube`: its `maxRowsSync`, else maha's
    * default. */
  private def syncCap(cube: String): Int =
    reg.cube(cube).toOption.flatMap(_.maxRowsSync).getOrElse(Serving.SyncMaxRows)

  /** Serializes a sync page under `cap`, or takes it from [[pages]]
    * when the same plan over the same files was served before, and
    * writes the request's one completion record, `$reqId-served`: a
    * success record, or, for a page over the cap, a failure record
    * carrying the cap message (the IllegalArgumentException is rethrown
    * for the 400; a refused page is never cached). */
  private def servePage(reqId: String, cube: String, cap: Int, start: Long,
      df: org.apache.spark.sql.DataFrame): String = {
    val key = PageCache.keyOf(df, cap)
    val env = key.flatMap(pages.get).getOrElse {
      val fresh =
        try Serving.jsonEnvelope(df, cap)
        catch { case e: IllegalArgumentException =>
          SemanticQueries.requestLogWriter.write(RequestLog.failure(
            s"$reqId-served", cube, e.getMessage, start, System.currentTimeMillis()))
          throw e
        }
      key.foreach(pages.put(_, fresh))
      fresh
    }
    SemanticQueries.requestLogWriter.write(RequestLog.served(
      s"$reqId-served", cube, start, System.currentTimeMillis()))
    env
  }

  private def leaseJson(dir: String): String =
    graft.core.Lease.status(dir) match {
      case None => """{"op":"lease","held":false}"""
      case Some((holder, ts, ttl, expired)) =>
        s"""{"op":"lease","held":true,"holder":${Domain.jStr(holder)},""" +
          s""""ts":$ts,"ttlMs":$ttl,"expired":$expired}"""
    }

  /** Query params decoded EXACTLY ONCE: parse the RAW query so that
    * a value containing an encoded '&' or '=' survives the split, and
    * decode each component here — `URI.getQuery` already percent-
    * decodes, so decoding again would corrupt '+' into space and
    * throw on a literal '%' (e.g. a SQL LIKE pattern in a constraint
    * predicate). */
  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("")
      .split('&').filter(_.contains('='))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        (java.net.URLDecoder.decode(k, UTF_8),
          java.net.URLDecoder.decode(v, UTF_8))
      }.toMap

  private def requestId(ex: HttpExchange): String =
    Option(ex.getRequestHeaders.getFirst("X-Request-Id"))
      .getOrElse(java.util.UUID.randomUUID().toString)

  private def handle(ex: HttpExchange)(f: => (Int, String, String)): Unit = {
    val (code, bodyStr, reqId) =
      try f
      catch { case e: Exception =>
        (500, s"""{"error":${Domain.jStr(String.valueOf(e.getMessage))}}""",
          requestId(ex))
      }
    val bytes = bodyStr.getBytes(UTF_8)
    // drain any unread request body before replying: on keep-alive
    // connections the JDK server may reset the socket when a large
    // unread POST body remains (e.g. a big payload to an unrouted
    // path answered by the 404 catch-all) — a no-op for routes that
    // already consumed the stream. CAPPED at 1 MiB: the JDK server
    // has no read timeout, so an unbounded drain lets one client
    // streaming an endless body pin this handler thread and its
    // socket bandwidth per request — past the cap the rest stays
    // unread and the response carries `Connection: close`, so the
    // socket is torn down instead of reused (keep-alive is the only
    // reason to drain at all)
    var overCap = false
    try {
      val in = ex.getRequestBody
      val buf = new Array[Byte](8192)
      var drained = 0L
      var n = in.read(buf)
      while (n != -1 && !overCap) {
        drained += n
        if (drained > DrainCapBytes) overCap = true
        else n = in.read(buf)
      }
    } catch { case _: java.io.IOException => }
    ex.getResponseHeaders.set("Content-Type", "application/json")
    if (overCap) ex.getResponseHeaders.set("Connection", "close")
    ex.getResponseHeaders.set("X-Request-Id", reqId)
    ex.sendResponseHeaders(code, bytes.length)
    val out = ex.getResponseBody
    try out.write(bytes) finally out.close()
  }

  def stop(): Unit = server.stop(0)
}
