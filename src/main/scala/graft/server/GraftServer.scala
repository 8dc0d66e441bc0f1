package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, max, max_by, substring}

import graft.api.{Engine, TargetVector}
import graft.coder.CoderConfig

/** Thin JSON-over-HTTP serving surface for the engine.
  *
  * The reference deploys as a client/server pair over Arrow Flight
  * (`/root/reference/src/fenix/flight.py:17-134` server, 137-292 client,
  * `launch.py:12-21` CLI): `do_put` ingests, `do_get` scans/searches,
  * `do_action` administers. This wrapper re-creates that workflow —
  * create table / read / make coder / make index / search / drop from a
  * second process — over plain HTTP+JSON using only the JDK's built-in
  * `HttpServer` and Spark's bundled Jackson, so the library API remains
  * the contract: each handler parses a request, calls the engine and
  * renders its rows, with no search or storage logic of its own.
  *
  * Deliberately NOT the bulk-data path: row payloads ride JSON, which is
  * fine for control-plane ops, small ingests and top-k results. At 100 TB
  * the data plane is distributed parquet via [[Engine.makeTable]] /
  * `spark.read` — a server round-trip for bulk data would serialize the
  * cluster through one socket, which is exactly the single-node shape
  * this engine exists to avoid.
  *
  * Verbs (reference analogue in parens):
  *   - `GET    /api/tables`                    (list-tables action)
  *   - `PUT    /api/tables/{name}`             (do_put) — body `{"schema": ddl, "rows": [{...}]}`
  *   - `GET    /api/tables/{name}?select=&filter=&limit=` (do_get scan)
  *   - `DELETE /api/tables/{name}`             (drop-table action)
  *   - `GET    /api/codings`                   (list-codings action)
  *   - `POST   /api/indexes`                   (make-coder + sync-index actions)
  *   - `DELETE /api/indexes/{name}`            (drop-index action)
  *   - `POST   /api/search`                    (do_exchange search; a
  *     `targets` array instead of `target` selects the batch kNN-join form)
  *   - `POST   /api/search/maxsim`             (late-interaction retrieval)
  *   - `GET    /api/bpe` · `POST /api/bpe` · `GET /api/bpe/{model}/tokens`
  *   - `GET    /api/pca` · `POST /api/pca` · `GET /api/pca/{model}/project`
  *     (tokenizer lifecycle: list / train+persist / per-row token counts)
  *   - `POST   /api/text/fingerprints` · `POST /api/text/overlaps`
  *     (winnowing fingerprints / MOSS overlap pairs)
  *   - `GET    /api/ngram` · `POST /api/ngram` ·
  *     `GET /api/ngram/{model}/perplexity` (LM quality-filter lifecycle)
  *   - `POST   /api/dedup/spans` · `POST /api/dedup/strip`
  *     (exact substring dedup: detect / rewrite)
  *   - `POST   /api/dedup/gate` (arrivals-vs-corpus near-dup gate)
  *   - `POST   /api/dedup/semantic-gate` (embedding dup gate over the IVF index)
  *   - `POST   /api/text/decontaminate` (corpus-vs-benchmark containment)
  *   - `POST   /api/text/curate` (full curation pipeline; optional dest table)
  *   - `POST   /api/sample/mixture` (domain-mixture resampling)
  *   - `POST   /api/sample/dsir` (DSIR importance weights / resampling)
  *   - `POST   /api/indexes/stats` · `POST /api/indexes/compact` ·
  *     `POST /api/indexes/repair`
  *     (per-cell layout stats / compaction / cell-scoped repair, any tier)
  *   - `POST   /api/streams/text-sync` · `GET /api/streams` ·
  *     `DELETE /api/streams/{id}`
  *     (start / list / stop the fuzzy|lexical self-maintenance stream)
  *   - `POST   /api/advise/probes` (measure + persist the IVF probe
  *     advice) · `GET /api/advise/probes/{coding}` (serve the cached
  *     advice; 409 when the corpus outgrew it) ·
  *     `POST /api/advise/candidates` (rerank-tier candidate budgets)
  */
class GraftServer(engine: Engine, host: String = "127.0.0.1", port: Int = 0) {
  private val mapper = new ObjectMapper()
  // `send` writes headers, then body: without TCP_NODELAY Nagle holds
  // the body until the client's delayed ACK, about 40 ms per request.
  // The JDK reads this once, when the JVM's first HttpServer is made;
  // a value the JVM already has wins.
  System.getProperties.putIfAbsent("sun.net.httpserver.nodelay", "true")
  private val http = HttpServer.create(new InetSocketAddress(host, port), 0)
  private val pool = Executors.newFixedThreadPool(4)
  /** Cap on rows returned by a single scan/search response. */
  val maxResponseRows = 10000

  def boundPort: Int = http.getAddress.getPort

  def start(): GraftServer = {
    http.setExecutor(pool)
    http.createContext("/api", (ex: HttpExchange) => handle(ex))
    http.start()
    this
  }

  /** Self-maintenance streams started over the wire, keyed by query id
    * — listed by `GET /api/streams`, stopped by `DELETE /api/streams/x`
    * and at server [[stop]] (a stream outliving its server would keep
    * syncing with nobody able to address it). */
  private val opsStreams = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.streaming.StreamingQuery]()

  def stop(): Unit = {
    opsStreams.asScala.values.foreach { q =>
      try q.stop() catch { case NonFatal(_) => () }
    }
    opsStreams.clear()
    http.stop(0)
    pool.shutdown()
  }

  // ——— routing ———

  private def handle(ex: HttpExchange): Unit = {
    val method = ex.getRequestMethod
    val path = ex.getRequestURI.getPath.stripPrefix("/api").stripSuffix("/")
    val segs = path.stripPrefix("/").split("/").toList.filter(_.nonEmpty)
    try {
      (method, segs) match {
        case ("GET", "tables" :: Nil) =>
          ok(ex, mapper.writeValueAsString(Map("tables" -> engine.listTables().asJava).asJava))
        case ("PUT", "tables" :: name :: Nil)    => putTable(ex, name)
        case ("GET", "tables" :: name :: "arrow" :: Nil) => getTableArrow(ex, name)
        case ("GET", "tables" :: name :: Nil)    => getTable(ex, name)
        case ("GET", "tables" :: name :: "describe" :: Nil) =>
          okRows(ex, engine.describeTable(name))
        case ("DELETE", "tables" :: name :: Nil) =>
          engine.dropTable(name); ok(ex, """{"dropped":true}""")
        case ("GET", "codings" :: Nil) =>
          ok(ex, mapper.writeValueAsString(Map("codings" -> engine.listCodings().asJava).asJava))
        case ("POST", "indexes" :: Nil)          => postIndex(ex)
        case ("DELETE", "indexes" :: name :: Nil) =>
          engine.dropIndex(name); ok(ex, """{"dropped":true}""")
        case ("POST", "search" :: Nil)           => postSearch(ex)
        case ("POST", "search" :: "maxsim" :: Nil) => postMaxsim(ex)
        case ("POST", "advise" :: "probes" :: Nil) => postAdviseProbes(ex)
        case ("GET", "advise" :: "probes" :: coding :: Nil) =>
          getAdviseProbes(ex, coding)
        case ("POST", "advise" :: "candidates" :: Nil) =>
          postAdviseCandidates(ex)
        case ("GET", "advise" :: "candidates" :: coding :: Nil) =>
          getAdviseCandidates(ex, coding)
        case ("GET", "pca" :: Nil) =>
          ok(ex, mapper.writeValueAsString(
            Map("models" -> engine.store.listPcaModels().asJava).asJava))
        case ("POST", "pca" :: Nil)              => postPca(ex)
        case ("GET", "pca" :: model :: "project" :: Nil) => getPcaProject(ex, model)
        case ("GET", "bpe" :: Nil) =>
          ok(ex, mapper.writeValueAsString(
            Map("models" -> engine.listBpeModels().asJava).asJava))
        case ("POST", "bpe" :: Nil)              => postBpe(ex)
        case ("GET", "bpe" :: model :: "tokens" :: Nil) => getBpeTokens(ex, model)
        case ("POST", "text" :: "fingerprints" :: Nil) => postFingerprints(ex)
        case ("POST", "text" :: "overlaps" :: Nil)     => postOverlaps(ex)
        case ("GET", "ngram" :: Nil) =>
          ok(ex, mapper.writeValueAsString(
            Map("models" -> engine.listNgramModels().asJava).asJava))
        case ("POST", "ngram" :: Nil)            => postNgram(ex)
        case ("GET", "ngram" :: model :: "perplexity" :: Nil) =>
          getPerplexity(ex, model)
        case ("POST", "dedup" :: "spans" :: Nil) => postDedupSpans(ex)
        case ("POST", "dedup" :: "strip" :: Nil) => postDedupStrip(ex)
        case ("POST", "tables" :: "upsert" :: Nil) => postUpsert(ex)
        case ("POST", "tables" :: "validate" :: Nil) => postValidate(ex)
        case ("POST", "tables" :: "diff" :: Nil)     => postDiff(ex)
        case ("POST", "tables" :: "drift" :: Nil)    => postDrift(ex)
        case ("POST", "dedup" :: "segments" :: Nil) => postDedupSegments(ex)
        case ("POST", "dedup" :: "strip-segments" :: Nil) => postDedupStripSegments(ex)
        case ("POST", "dedup" :: "editdist" :: Nil) => postEditDistance(ex)
        case ("POST", "dedup" :: "jaro" :: Nil)     => postJaro(ex)
        case ("POST", "dedup" :: "gate" :: Nil)  => postDedupGate(ex)
        case ("POST", "dedup" :: "semantic-gate" :: Nil) => postSemanticGate(ex)
        case ("POST", "text" :: "decontaminate" :: Nil) => postDecontaminate(ex)
        case ("POST", "text" :: "decontaminate-spans" :: Nil) =>
          postDecontaminateSpans(ex)
        case ("POST", "text" :: "curate" :: Nil)        => postCurate(ex)
        case ("POST", "text" :: "curate-drops" :: Nil)  => postCurateDrops(ex)
        case ("POST", "sample" :: "mixture" :: Nil) => postMixture(ex)
        case ("POST", "sample" :: "budget" :: Nil)  => postBudget(ex)
        case ("POST", "sample" :: "splits" :: Nil)  => postSplits(ex)
        case ("POST", "sample" :: "dsir" :: Nil)    => postDsir(ex)
        case ("POST", "text" :: "profile" :: Nil)       => postProfile(ex)
        case ("POST", "text" :: "quality-model" :: Nil) => postQualityModel(ex)
        case ("POST", "text" :: "quality-score" :: Nil) => postQualityScore(ex)
        case ("GET", "quality" :: Nil) =>
          ok(ex, s"""{"models":[${engine.listQualityModels()
            .map(jstr).mkString(",")}]}""")
        case ("POST", "graph" :: "pagerank" :: Nil)    => postPageRank(ex)
        case ("POST", "graph" :: "components" :: Nil)  => postComponents(ex)
        case ("POST", "graph" :: "triangles" :: Nil)   => postTriangles(ex)
        case ("POST", "indexes" :: "lexical" :: Nil)   => postLexicalBuild(ex)
        case ("POST", "indexes" :: "lexical" :: "sync" :: Nil) =>
          postLexicalSync(ex)
        case ("POST", "indexes" :: "lexical" :: "compact" :: Nil) =>
          postLexicalCompact(ex)
        case ("POST", "search" :: "bm25" :: Nil)       => postBm25(ex)
        case ("POST", "search" :: "fuzzy" :: Nil)      => postFuzzy(ex)
        case ("POST", "search" :: "fuzzy" :: "join" :: Nil) =>
          postFuzzyJoin(ex)
        case ("POST", "indexes" :: "fuzzy" :: Nil)     => postFuzzyBuild(ex)
        case ("POST", "indexes" :: "fuzzy" :: "sync" :: Nil) =>
          postFuzzySync(ex)
        case ("POST", "indexes" :: "fuzzy" :: "compact" :: Nil) =>
          postFuzzyCompact(ex)
        case ("POST", "search" :: "phrase" :: Nil)     => postPhrase(ex)
        case ("POST", "sketch" :: "set-ops" :: Nil)    => postKmvSetOps(ex)
        case ("POST", "events" :: "anomalies" :: Nil)  => postAnomalies(ex)
        case ("POST", "events" :: "resample" :: Nil)   => postResample(ex)
        case ("POST", "events" :: "asof" :: Nil)       => postAsof(ex)
        case ("POST", "sketch" :: "distinct" :: Nil)   => postKmvDistinct(ex)
        case ("POST", "sketch" :: "heavy-hitters" :: Nil) => postHeavyHitters(ex)
        case ("POST", "sketch" :: "quantiles" :: Nil)  => postQuantiles(ex)
        case ("POST", "streams" :: "text-sync" :: Nil) =>
          postTextSyncStream(ex)
        case ("GET", "streams" :: Nil)                 => getStreams(ex)
        case ("DELETE", "streams" :: id :: Nil)        => deleteStream(ex, id)
        case ("POST", "indexes" :: "stats" :: Nil)     => postIndexStats(ex)
        case ("POST", "indexes" :: "compact" :: Nil)   => postIndexCompact(ex)
        case ("POST", "indexes" :: "repair" :: Nil)    => postIndexRepair(ex)
        case _ => send(ex, 404,
          s"""{"error":${jstr(s"no route: $method $path")}}""")
      }
    } catch {
      case NonFatal(e) =>
        send(ex, 400, mapper.writeValueAsString(
          Map("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}").asJava))
    }
  }

  // ——— handlers ———

  /** do_put analogue: JSON rows + explicit schema DDL, ingested through
    * the normal table-creation path (shape enforcement included). */
  private def putTable(ex: HttpExchange, name: String): Unit = {
    val body = mapper.readTree(readBody(ex))
    val ddl = require(body, "schema").asText()
    val rows = require(body, "rows")
    val spark = engine.spark
    import spark.implicits._
    val ds = spark.createDataset(rows.elements().asScala.map(_.toString).toSeq)
    // FAILFAST: a malformed row 400s the request instead of being
    // swallowed as nulls (the reference's typed do_put rejects at the wire)
    val df = spark.read.schema(ddl).option("mode", "FAILFAST").json(ds)
    engine.makeTable(name, df)
    ok(ex, s"""{"table":${jstr(name)},"rows":${engine.readTable(Seq(name)).count()}}""")
  }

  /** do_get scan analogue: select / filter / limit as query params. */
  private def getTable(ex: HttpExchange, name: String): Unit = {
    val params = queryParams(ex)
    val select = params.get("select").map(_.split(",").toSeq)
    val filter = params.get("filter").map(expr)
    val limit = params.get("limit").map(_.toInt).getOrElse(maxResponseRows)
    val df = engine.readTable(Seq(name), select, filter)
    okRows(ex, df.limit(math.min(limit, maxResponseRows)))
  }

  /** Table as an Arrow IPC stream over the wire — the reference's native
    * wire format (`flight.py:46-60` streams record batches); a migrating
    * client gets its data back byte-compatible with what it put in.
    * Chunked response, batch-bounded memory; select/filter/limit as in
    * the JSON scan route, but no row cap by default (export is the
    * whole-table migration verb). */
  private def getTableArrow(ex: HttpExchange, name: String): Unit = {
    val params = queryParams(ex)
    val select = params.get("select").map(_.split(",").toSeq)
    val filter = params.get("filter").map(expr)
    val base = engine.readTable(Seq(name), select, filter)
    val df = params.get("limit").map(n => base.limit(n.toInt)).getOrElse(base)
    // force analysis + planning BEFORE committing to a 200: bad table /
    // column / filter errors surface as a clean 400 from handle()
    df.queryExecution.executedPlan
    ex.getResponseHeaders.set("Content-Type", "application/vnd.apache.arrow.stream")
    ex.sendResponseHeaders(200, 0) // 0 = chunked: length unknown up front
    val out = ex.getResponseBody
    // a RUNTIME failure mid-stream can't be turned into an error status
    // any more (headers are sent) — close the truncated stream so the
    // client's Arrow reader fails fast, and swallow here so handle()
    // doesn't attempt a second sendResponseHeaders on this exchange
    try org.apache.spark.sql.GraftShims.writeArrowStream(df, out, 4096)
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft-server] arrow export of '$name' failed mid-stream: $e")
    }
    finally out.close()
  }

  /** make-coder + sync-index in one verb (the reference's make-index
    * flow, `flight.py:205-233`). Config fields mirror [[CoderConfig]]. */
  private def postIndex(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val name = require(body, "name").asText()
    val source = require(body, "source").asText()
    val column = require(body, "column").asText()
    val base = CoderConfig(metric = require(body, "metric").asText())
    val cfg = base.copy(
      codebookSize = intOr(body, "codebookSize", base.codebookSize),
      numCodebooks = intOr(body, "numCodebooks", base.numCodebooks),
      batchSize = intOr(body, "batchSize", base.batchSize),
      numEpochs = intOr(body, "numEpochs", base.numEpochs))
    engine.makeIndex(name, source, column, cfg)
    // optional PQ sidecar index: {"pq": {"numSubspaces": 8, "codebookSize": 16,
    // "residual": true}} — residual=false explicitly opts into the flat variant
    opt(body, "pq").foreach { pq =>
      val pqBase = graft.coder.PQ.PQConfig(metric = cfg.metric)
      engine.makePqIndex(name, source, column, pqBase.copy(
        numSubspaces = intOr(pq, "numSubspaces", pqBase.numSubspaces),
        codebookSize = intOr(pq, "codebookSize", pqBase.codebookSize),
        sampleSize = intOr(pq, "sampleSize", pqBase.sampleSize)),
        residual = opt(pq, "residual").forall(_.asBoolean(true)))
    }
    // optional SQ8 sidecar index: {"sq": true}
    if (opt(body, "sq").exists(_.asBoolean(false)))
      engine.makeSqIndex(name, source, column)
    // optional BQ (1-bit) sidecar index: {"bq": true}
    if (opt(body, "bq").exists(_.asBoolean(false)))
      engine.makeBqIndex(name, source, column)
    ok(ex, s"""{"index":${jstr(name)}}""")
  }

  /** Probe-count advisor ([[graft.api.Engine.adviseProbes]]): body =
    * {coding, source, column, idCol, k?, targetRecall?, sampleQueries?};
    * response = the advice plus the measured (probes, recall) curve. A
    * calibration verb, not a serving verb: the POST measures AND
    * persists (the advisor's own scaladoc demands "run once and
    * persist"), the GET below serves the cached answer many times. */
  private def postAdviseProbes(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val p = engine.adviseProbes(
      require(body, "coding").asText(),
      require(body, "source").asText(),
      require(body, "column").asText(),
      require(body, "idCol").asText(),
      k = intOr(body, "k", 10),
      targetRecall = opt(body, "targetRecall").map(_.asDouble()).getOrElse(0.95),
      sampleQueries = intOr(body, "sampleQueries", 32))
    ok(ex, adviceJson(p, cached = false))
  }

  /** Serves the PERSISTED advice for a coding — no measurement pass.
    * 404 when never advised; 409 (loudly, naming the re-measure route)
    * when the source corpus changed since the advice was measured. */
  private def getAdviseProbes(ex: HttpExchange, coding: String): Unit =
    try ok(ex, adviceJson(engine.freshProbeAdvice(coding), cached = true))
    catch {
      case e: NoSuchElementException =>
        send(ex, 404, s"""{"error":${jstr(e.getMessage)}}""")
      case e: IllegalStateException =>
        send(ex, 409, s"""{"error":${jstr(e.getMessage)}}""")
    }

  /** Candidate-budget advisor for the reranked tiers — measures AND
    * persists per (coding, tier, probes)
    * ([[graft.api.Engine.adviseCandidates]]; it shares the probe
    * advisor's expensive brute ground-truth pass, so the POST is the
    * run-once and the GET below the serve-many, exactly the probe-advice
    * wire contract). */
  private def postAdviseCandidates(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val p = engine.adviseCandidates(
      require(body, "coding").asText(),
      require(body, "source").asText(),
      require(body, "column").asText(),
      require(body, "idCol").asText(),
      tier = require(body, "tier").asText(),
      probes = require(body, "probes").asInt(),
      k = intOr(body, "k", 10),
      targetRecall = opt(body, "targetRecall").map(_.asDouble()).getOrElse(0.95),
      sampleQueries = intOr(body, "sampleQueries", 32),
      maxCandidates = intOr(body, "maxCandidates", 4096))
    ok(ex, candidateAdviceJson(p, cached = false))
  }

  /** Serves the PERSISTED candidate advice for (coding, ?tier=, ?probes=)
    * — no measurement pass. 404 when never advised at this key; 409 when
    * the source corpus changed since the measurement (naming the
    * re-measure route) — mirrors [[getAdviseProbes]]. */
  private def getAdviseCandidates(ex: HttpExchange, coding: String): Unit = {
    val params = queryParams(ex)
    val tier = params.getOrElse("tier", throw new IllegalArgumentException(
      "tier query param required (sq | bq | pq | rerank)"))
    val probes = params.getOrElse("probes",
      throw new IllegalArgumentException("probes query param required")).toInt
    try ok(ex, candidateAdviceJson(
      engine.freshCandidateAdvice(coding, tier, probes), cached = true))
    catch {
      case e: NoSuchElementException =>
        send(ex, 404, s"""{"error":${jstr(e.getMessage)}}""")
      case e: IllegalStateException =>
        send(ex, 409, s"""{"error":${jstr(e.getMessage)}}""")
    }
  }

  private def candidateAdviceJson(p: graft.api.Engine.PersistedCandidateAdvice,
      cached: Boolean): String = {
    val a = p.advice
    val curve = a.curve
      .map { case (c, r) => s"""{"candidates":$c,"recall":$r}""" }
      .mkString(",")
    s"""{"tier":${jstr(a.tier)},"probes":${a.probes},""" +
      s""""candidates":${a.candidates},"recall":${a.recall},""" +
      s""""reachedTarget":${a.reachedTarget},"curve":[$curve],""" +
      s""""source":${jstr(p.source)},"column":${jstr(p.column)},""" +
      s""""idCol":${jstr(p.idCol)},"k":${p.k},""" +
      s""""targetRecall":${p.targetRecall},""" +
      s""""sampleQueries":${p.sampleQueries},""" +
      s""""maxCandidates":${p.maxCandidates},""" +
      s""""sourceStamp":${jstr(p.sourceStamp)},"cached":$cached}"""
  }

  private def adviceJson(p: graft.api.Engine.PersistedProbeAdvice,
      cached: Boolean): String = {
    val a = p.advice
    val curve = a.curve
      .map { case (pr, r) => s"""{"probes":$pr,"recall":$r}""" }
      .mkString(",")
    s"""{"probes":${a.probes},"recall":${a.recall},""" +
      s""""numCells":${a.numCells},"curve":[$curve],""" +
      s""""source":${jstr(p.source)},"column":${jstr(p.column)},""" +
      s""""idCol":${jstr(p.idCol)},"k":${p.k},""" +
      s""""targetRecall":${p.targetRecall},""" +
      s""""sampleQueries":${p.sampleQueries},""" +
      s""""sourceStamp":${jstr(p.sourceStamp)},"cached":$cached}"""
  }

  /** The fields both search forms share, parsed once: sources, column,
    * metric, coding, k (capped at [[maxResponseRows]]), tieBreak, the
    * `sq`/`bq` tier flags, and the probe and candidate budgets. On
    * either budget the string `"advised"` (not an integer: -1 is an
    * invalid count, refused by [[Engine.validCount]]) opts into the
    * PERSISTED advisor budget — resolved here, not inside the engine
    * call, so the response can carry the serving-visibility marker
    * ([[marker]]): a caller must always be able to tell exact from
    * advised. */
  private final class SearchRequest(val body: JsonNode) {
    val sources: Seq[String] =
      require(body, "sources").elements().asScala.map(_.asText()).toSeq
    val column: String = require(body, "column").asText()
    val metric: Option[String] = opt(body, "metric").map(_.asText())
    val coding: Option[String] = opt(body, "coding").map(_.asText())
    val k: Int = math.min(intOr(body, "k", 10), maxResponseRows)
    val tieBreak: Seq[String] = opt(body, "tieBreak")
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
    // "sq": true routes to the IVF+SQ8 index (d-byte quantized coarse
    // pass), "bq": true to the IVF+BQ index (1-bit coarse pass)
    val quantizedTier: Option[String] =
      if (flag("sq")) Some("sq") else if (flag("bq")) Some("bq") else None
    private var advisedProbes, advisedCandidates: Option[Int] = None

    def flag(name: String): Boolean = opt(body, name).exists(_.asBoolean(false))
    def idCol: String = require(body, "idCol").asText()

    private def advisedSource(knob: String): String = {
      if (sources.size != 1) throw new IllegalArgumentException(
        s""""$knob":"advised" is single-source (advice is measured """ +
          "against one corpus)")
      sources.head
    }

    /** An integer, or "advised" (→ [[Engine.Advised]]); any other
      * non-integer refuses loudly — Jackson's asInt() would otherwise
      * silently read a typo'd string as 0. */
    private def count(knob: String, n: JsonNode): Int =
      if (n.isTextual && n.asText() == "advised") Engine.Advised
      else if (n.isIntegralNumber) n.asInt()
      else throw new IllegalArgumentException(
        s"""$knob must be an integer or "advised", got ${n.toString}""")

    val probes: Option[Int] = opt(body, "probes").map(count("probes", _)).map {
      case Engine.Advised =>
        val c = coding.getOrElse(throw new IllegalArgumentException(
          """"probes":"advised" needs a coding"""))
        val p = engine.resolveAdvisedProbes(c, advisedSource("probes"),
          column, k, metric)
        advisedProbes = Some(p)
        p
      case p => p
    }

    /** `candidates` for (`coding`, `tier`): the advised form serves the
      * persisted (coding, tier, probes) budget. */
    def candidates(n: JsonNode, coding: String, tier: String, probes: => Int): Int =
      count("candidates", n) match {
        case Engine.Advised =>
          val r = engine.resolveAdvisedCandidates(coding, tier, probes,
            advisedSource("candidates"), column, k, metric)
          advisedCandidates = Some(r)
          r
        case c => c
      }

    /** The `sq`/`bq` route's (tier, coding, probes, candidates) — each
      * required: an explicit contract, no silent fall-through to
      * another path. */
    def quantized: Option[(String, String, Int, Int)] = quantizedTier.map { tier =>
      def missing(f: String) =
        new IllegalArgumentException(s"$tier search requires \"$f\"")
      val c = coding.getOrElse(throw missing("coding"))
      val p = probes.getOrElse(throw missing("probes"))
      val n = opt(body, "candidates").getOrElse(throw missing("candidates"))
      (tier, c, p, candidates(n, c, tier, p))
    }

    /** The serving-visibility marker: which knobs the persisted advice
      * supplied, and the values served — empty when nothing was advised. */
    def marker: String = {
      val fields = advisedProbes.map(p => s""""probes":$p""").toSeq ++
        advisedCandidates.map(c => s""""candidates":$c""").toSeq
      if (fields.isEmpty) ""
      else fields.mkString(""""advised":true,""", ",", ",")
    }
  }

  /** Search: brute (explicit metric) or probed (coding + probes), same
    * decision table as [[Engine.search]] / `flight.py:242-288`. A
    * `targets` array of vectors instead of `target` selects the BATCH
    * form ([[postSearchBatch]]). */
  private def postSearch(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    if (opt(body, "targets").isDefined) {
      postSearchBatch(ex, body)
      return
    }
    val r = new SearchRequest(body)
    val target: TargetVector =
      require(body, "target").elements().asScala.map(_.asDouble()).toArray[Double]
    val filter = opt(body, "filter").map(n => expr(n.asText()))
    val select = opt(body, "select").map(_.elements().asScala.map(_.asText()).toSeq)
    // "prefixDim": N routes to the index-free Matryoshka prefix search
    // (optional "prefixCol" selects a materialized prefix column)
    opt(body, "prefixDim").foreach { pd =>
      val cand = opt(body, "candidates").getOrElse(throw new IllegalArgumentException(
        "matryoshka search requires \"candidates\"")).asInt()
      okRows(ex, graft.api.Search.matryoshkaSearch(
        engine.readTable(r.sources), r.column, target, pd.asInt(), cand,
        r.idCol, r.k, r.metric.getOrElse("l2"),
        opt(body, "prefixCol").map(_.asText()), filter, select, r.tieBreak))
      return
    }
    // candidates + idCol selects the IVF+PQ path (one index per source;
    // multi-source unions the per-source exact-reranked top-k);
    // "rerank": true instead routes to the two-stage retrieve-rerank over
    // the plain IVF index (id-only coarse pass, no PQ codes needed)
    val df = (r.quantized, opt(body, "candidates"), r.coding, r.probes) match {
      case (Some(("sq", c, p, cand)), _, _, _) =>
        engine.searchSqMulti(r.sources, r.column, target, c, p, cand, r.idCol,
          r.k, r.metric, filter, select, r.tieBreak)
      case (Some((_, c, p, cand)), _, _, _) =>
        engine.searchBqMulti(r.sources, r.column, target, c, p, cand, r.idCol,
          r.k, r.metric, filter, select, r.tieBreak)
      case (_, Some(n), Some(c), _) if r.flag("rerank") =>
        engine.searchRerankMulti(r.sources, r.column, target, c,
          r.candidates(n, c, "rerank", r.probes.getOrElse(
            throw new IllegalArgumentException(
              """"candidates":"advised" rerank search needs explicit """ +
                "\"probes\" (advice is keyed per (coding, tier, probes))"))),
          r.idCol, r.k, r.probes, r.metric, filter, select, r.tieBreak)
      case (_, Some(n), Some(c), Some(p)) =>
        engine.searchPqMulti(r.sources, r.column, target, c, p,
          r.candidates(n, c, "pq", p), r.idCol, r.k, r.metric, filter, select,
          r.tieBreak)
      case _ =>
        engine.searchMulti(r.sources, r.column, target, r.metric, r.coding,
          r.probes, r.k, filter, select, r.tieBreak)
    }
    okRows(ex, df, r.marker)
  }

  /** Batch-targets search: `targets: [[...], ...]` maps onto the capped
    * batch kNN joins (broadcast guard + auto-chunking already live
    * there), so real serving batches amortize one pruned corpus pass
    * instead of N independent requests. Result rows carry `query_id`
    * (the 0-based position in `targets`) and equal the corresponding
    * single-target calls row-for-row. Tier routing mirrors the
    * single-target decision table: `sq`/`bq` → SQ8/BQ join, coding +
    * probes → IVF join, otherwise the brute join (explicit metric
    * required). Indexed tiers take exactly one source (per-source joins
    * don't union here — issue per-source requests for multi-source). */
  private def postSearchBatch(ex: HttpExchange, body: JsonNode): Unit = {
    val targets: Seq[Seq[Double]] = require(body, "targets").elements().asScala
      .map(_.elements().asScala.map(_.asDouble()).toSeq).toSeq
    if (targets.isEmpty)
      throw new IllegalArgumentException("targets must be a non-empty array of vectors")
    val r = new SearchRequest(body)
    import engine.spark.implicits._
    val queries = targets.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("query_id", "__QV__")
    def oneSource(tier: String): String = {
      if (r.sources.size != 1) throw new IllegalArgumentException(
        s"$tier batch search takes exactly one source, got ${r.sources.size}")
      r.sources.head
    }
    val df = (r.quantized, r.coding, r.probes) match {
      case (Some(("sq", c, p, cand)), _, _) =>
        engine.knnJoinSq(c, oneSource("sq"), r.column, queries, "query_id",
          "__QV__", r.k, p, cand, r.idCol, r.metric, r.tieBreak)
      case (Some((tier, c, p, cand)), _, _) =>
        engine.knnJoinBq(c, oneSource(tier), r.column, queries, "query_id",
          "__QV__", r.k, p, cand, r.idCol, r.metric, r.tieBreak)
      case (_, Some(c), Some(p)) =>
        engine.knnJoinIvf(c, oneSource("ivf"), r.column, queries,
          "query_id", "__QV__", r.k, p, r.idCol, r.metric, r.tieBreak)
      case _ =>
        val m = r.metric.getOrElse(throw new IllegalArgumentException(
          "brute batch search requires \"metric\""))
        graft.api.Search.knnJoin(engine.readTable(r.sources), r.column,
          queries, "query_id", "__QV__", m, r.k, r.tieBreak,
          idCol = opt(body, "idCol").map(_.asText()))
    }
    okRows(ex, df.drop("__QV__"), r.marker)
  }

  /** Late-interaction MaxSim retrieval ([[Engine.maxsimSearch]]): body
    * carries the multi-vector query as an array of arrays; optional
    * `poolCol` + `coding` + `probes` + `idCol` select the indexed serving
    * path, `candidates` alone the pooled two-stage, neither the brute. */
  private def postMaxsim(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val source = require(body, "source").asText()
    val tokensCol = require(body, "tokensCol").asText()
    val query: Seq[Seq[Double]] = require(body, "query").elements().asScala
      .map(_.elements().asScala.map(_.asDouble()).toSeq).toSeq
    val metric = require(body, "metric").asText()
    val k = intOr(body, "k", 10)
    val tieBreak = opt(body, "tieBreak")
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
    val df = engine.maxsimSearch(source, tokensCol, query, metric,
      math.min(k, maxResponseRows),
      candidates = intOr(body, "candidates", 0),
      poolCol = opt(body, "poolCol").map(_.asText()),
      coding = opt(body, "coding").map(_.asText()),
      probes = opt(body, "probes").map(_.asInt()),
      idCol = opt(body, "idCol").map(_.asText()),
      tieBreak = tieBreak)
    // "select" trims the response (token matrices are heavy; distance is
    // always appended, same contract as the single-vector search)
    val out = opt(body, "select")
      .map(_.elements().asScala.map(_.asText()).toSeq)
      .fold(df)(cols => df.select(
        (cols :+ graft.api.Search.DistCol).distinct.map(org.apache.spark.sql.functions.col): _*))
    okRows(ex, out)
  }

  /** Train + persist a PCA/whitening model ([[Engine.trainPca]]). */
  private def postPca(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val name = require(body, "name").asText()
    val model = engine.trainPca(name,
      require(body, "source").asText(),
      require(body, "column").asText(),
      k = require(body, "k").asInt(),
      whiten = opt(body, "whiten").exists(_.asBoolean(false)))
    ok(ex, s"""{"model":${jstr(name)},"k":${model.k},"dim":${model.dim},""" +
      s""""whitened":${model.whitened}}""")
  }

  /** Project a stored table under a persisted PCA model
    * ([[Engine.projectPca]]); `select` trims the response. */
  private def getPcaProject(ex: HttpExchange, model: String): Unit = {
    val params = queryParams(ex)
    def p(k: String): String = params.getOrElse(k,
      throw new IllegalArgumentException(s"missing required param '$k'"))
    val df = engine.projectPca(p("source"), p("column"), model)
    val out = params.get("select")
      .map(s => df.select((s.split(",").toSeq :+ "projection").distinct.map(col): _*))
      .getOrElse(df)
    val limit = params.get("limit").map(_.toInt).getOrElse(maxResponseRows)
    okRows(ex, out.limit(math.min(limit, maxResponseRows)))
  }

  /** Train + persist a BPE model from a stored table's text column
    * ([[Engine.trainBpe]]) — the tokenizer lifecycle over the wire. */
  private def postBpe(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val name = require(body, "name").asText()
    val model = engine.trainBpe(name,
      require(body, "source").asText(),
      require(body, "column").asText(),
      numMerges = require(body, "numMerges").asInt(),
      maxWords = intOr(body, "maxWords", 65536))
    ok(ex, s"""{"model":${jstr(name)},"merges":${model.merges.length}}""")
  }

  /** Per-row token counts under a persisted model ([[Engine.bpeTokenCounts]]). */
  private def getBpeTokens(ex: HttpExchange, model: String): Unit = {
    val params = queryParams(ex)
    def p(k: String): String = params.getOrElse(k,
      throw new IllegalArgumentException(s"missing required param '$k'"))
    okRows(ex, engine.bpeTokenCounts(p("source"), p("idCol"), p("column"), model))
  }

  /** Per-cell index layout stats ([[Engine.indexStats]]) — the ops view
    * for fragmentation and cell skew — plus the tier's source-freshness
    * verdict ([[graft.index.Index.tierFresh]]). */
  private def postIndexStats(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val coding = require(body, "coding").asText()
    val source = require(body, "source").asText()
    val column = require(body, "column").asText()
    val tier = opt(body, "tier").map(_.asText()).getOrElse("ivf")
    val stats = engine.indexStats(coding, source, column,
      withRows = opt(body, "withRows").exists(_.asBoolean(false)),
      tier = tier)
    val fresh = graft.index.Index.tierFresh(engine.store, coding, source,
      column, tier)
    val rows = stats.map { case (cell, files, bytes, rows) =>
      s"""{"cell":$cell,"files":$files,"bytes":$bytes,"rows":$rows}"""
    }.mkString(",")
    // skew headline (max/median byte ratio + max byte share) so ops can
    // alert on hot cells without re-deriving it from the cell list
    val skew = graft.index.Index.cellSkew(engine.store, coding, source,
      column, tier)
    ok(ex, f"""{"fresh":$fresh,"skew_ratio":${skew.ratio}%.3f,""" +
      f""""max_share":${skew.maxShare}%.4f,"max_cell":${skew.maxCell},""" +
      s""""cells":[$rows]}""")
  }

  /** Cell-scoped repair after in-place source changes
    * ([[Engine.repairIndex]], any tier). */
  private def postIndexRepair(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val s = engine.repairIndex(require(body, "coding").asText(),
      require(body, "source").asText(), require(body, "column").asText(),
      tier = opt(body, "tier").map(_.asText()).getOrElse("ivf"))
    ok(ex, s"""{"filesChanged":${s.filesChanged},""" +
      s""""cellsRewritten":${s.cellsRewritten},"fullRebuild":${s.fullRebuild}}""")
  }

  /** Coalesce fragmented index cells ([[Engine.compactIndex]]). */
  private def postIndexCompact(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val s = engine.compactIndex(require(body, "coding").asText(),
      require(body, "source").asText(), require(body, "column").asText(),
      maxFilesPerCell = intOr(body, "maxFilesPerCell", 8),
      tier = opt(body, "tier").map(_.asText()).getOrElse("ivf"))
    ok(ex, s"""{"cellsCompacted":${s.cellsCompacted},""" +
      s""""filesBefore":${s.filesBefore},"filesAfter":${s.filesAfter}}""")
  }

  /** Train + persist a bigram stupid-backoff LM ([[Engine.trainNgramLm]])
    * — the perplexity-filter model lifecycle over the wire. */
  private def postNgram(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val name = require(body, "name").asText()
    val model = engine.trainNgramLm(name,
      require(body, "source").asText(),
      require(body, "column").asText(),
      vocabSize = intOr(body, "vocabSize", 4096),
      minCount = intOr(body, "minCount", 1).toLong,
      alpha = opt(body, "alpha").map(_.asDouble()).getOrElse(0.4),
      order = intOr(body, "order", 2))
    ok(ex, s"""{"model":${jstr(name)},"vocab":${model.vocab.length},""" +
      s""""bigrams":${model.bigrams.size}}""")
  }

  /** Per-document perplexity under a persisted LM ([[Engine.perplexity]]). */
  private def getPerplexity(ex: HttpExchange, model: String): Unit = {
    val params = queryParams(ex)
    def p(k: String): String = params.getOrElse(k,
      throw new IllegalArgumentException(s"missing required param '$k'"))
    okRows(ex, engine.perplexity(p("source"), p("idCol"), p("column"), model))
  }

  /** Duplicated k-token span occurrences
    * ([[graft.ext.Dedup.duplicatedSpans]]). */
  private def postDedupSpans(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val df = engine.readTable(Seq(require(body, "source").asText()))
    okRows(ex, graft.ext.Dedup.duplicatedSpans(df,
      require(body, "idCol").asText(), require(body, "column").asText(),
      k = intOr(body, "k", 50),
      minOccurrences = intOr(body, "minOccurrences", 2)))
  }

  /** Exact substring dedup rewrite
    * ([[graft.ext.Dedup.stripDuplicatedSpans]]). */
  private def postDedupStrip(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val df = engine.readTable(Seq(require(body, "source").asText()))
    okRows(ex, graft.ext.Dedup.stripDuplicatedSpans(df,
      require(body, "idCol").asText(), require(body, "column").asText(),
      k = intOr(body, "k", 50)))
  }

  /** Edit-distance near-dup pairs — PassJoin pigeonhole blocking by
    * default ([[graft.ext.Dedup.editDistancePairsBlocked]]); `blocked:
    * false` opts into the exact all-pairs baseline (row-guarded).
    * With `corpus` (+ refIdCol/refColumn) the call becomes the
    * cross-table fuzzy JOIN / ingest gate
    * ([[graft.ext.Dedup.editDistanceJoin]]: source rows vs corpus
    * rows, id_a = source id, id_b = corpus id). `prefixLen` optionally
    * truncates the compared text first (long documents rarely want
    * full-text character distance). */
  private def postEditDistance(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val src = engine.readTable(Seq(require(body, "source").asText()))
    val idCol = require(body, "idCol").asText()
    val column = require(body, "column").asText()
    val k = intOr(body, "maxDist", 2)
    def trunc(df: DataFrame, id: String, c: String): DataFrame =
      opt(body, "prefixLen").map(_.asInt()) match {
        case Some(n) => df.select(col(id), substring(col(c), 1, n).as(c))
        case None => df
      }
    val df = trunc(src, idCol, column)
    okRows(ex, opt(body, "corpus") match {
      case Some(corpusName) =>
        val refIdCol = require(body, "refIdCol").asText()
        val refColumn = require(body, "refColumn").asText()
        val corpus = trunc(
          engine.readTable(Seq(corpusName.asText())), refIdCol, refColumn)
        graft.ext.Dedup.editDistanceJoin(
          df, idCol, column, corpus, refIdCol, refColumn, k)
      case None =>
        if (opt(body, "blocked").forall(_.asBoolean(true)))
          graft.ext.Dedup.editDistancePairsBlocked(df, idCol, column, k)
        else graft.ext.Dedup.editDistancePairsExact(df, idCol, column, k)
    })
  }

  /** Jaro-Winkler near-dup pairs / cross-table join — the fuzzy-NAME
    * mirror of [[postEditDistance]]: `corpus` present → blocked
    * [[graft.ext.Dedup.jaroWinklerJoin]]; absent → blocked pairs
    * (`blocked: false` opts into the guarded exact all-pairs). */
  private def postJaro(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val src = engine.readTable(Seq(require(body, "source").asText()))
    val idCol = require(body, "idCol").asText()
    val column = require(body, "column").asText()
    val minSim = opt(body, "minSim").map(_.asDouble()).getOrElse(0.9)
    def trunc(df: DataFrame, id: String, c: String): DataFrame =
      opt(body, "prefixLen").map(_.asInt()) match {
        case Some(n) => df.select(col(id), substring(col(c), 1, n).as(c))
        case None => df
      }
    val df = trunc(src, idCol, column)
    okRows(ex, opt(body, "corpus") match {
      case Some(corpusName) =>
        val refIdCol = require(body, "refIdCol").asText()
        val refColumn = require(body, "refColumn").asText()
        val corpus = trunc(
          engine.readTable(Seq(corpusName.asText())), refIdCol, refColumn)
        graft.ext.Dedup.jaroWinklerJoin(
          df, idCol, column, corpus, refIdCol, refColumn, minSim)
      case None =>
        if (opt(body, "blocked").forall(_.asBoolean(true)))
          graft.ext.Dedup.jaroWinklerPairsBlocked(df, idCol, column, minSim)
        else graft.ext.Dedup.jaroWinklerPairsExact(df, idCol, column, minSim)
    })
  }

  /** `durable: true` without a configured checkpoint dir defaults it to
    * `<store root>/checkpoints` — on a cluster the store root is shared
    * storage, which is exactly where durable checkpoints belong. */
  private def durableFlag(body: JsonNode): Boolean = {
    val durable = opt(body, "durable").exists(_.asBoolean(false))
    val sc = engine.spark.sparkContext
    if (durable && sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(s"${engine.store.root}/checkpoints")
    durable
  }

  /** Fixed-point PageRank over an edge table ([[graft.ext.Graph]]).
    * Body: source, srcCol, dstCol, optional iterations (default 5),
    * topK (default 100), seeds/seedCol for the personalized variant,
    * weightCol for the weighted variant (mutually exclusive with
    * seeds), and durable (default false) to checkpoint each iteration
    * to the cluster checkpoint dir instead of executor-local storage
    * (executor-loss-safe on a real cluster). */
  private def postPageRank(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val edges = engine.readTable(Seq(require(body, "source").asText()))
    val srcCol = require(body, "srcCol").asText()
    val dstCol = require(body, "dstCol").asText()
    val iters = intOr(body, "iterations", 5)
    val durable = durableFlag(body)
    val ranks = (opt(body, "seeds"), opt(body, "weightCol")) match {
      case (Some(_), Some(_)) =>
        throw new IllegalArgumentException(
          "seeds and weightCol are mutually exclusive")
      case (Some(seedTable), None) =>
        graft.ext.Graph.pageRankSeeded(edges, srcCol, dstCol,
          engine.readTable(Seq(seedTable.asText())),
          require(body, "seedCol").asText(), iters,
          durableCheckpoint = durable)
      case (None, Some(w)) =>
        graft.ext.Graph.pageRankWeighted(edges, srcCol, dstCol,
          w.asText(), iters, durableCheckpoint = durable)
      case (None, None) =>
        graft.ext.Graph.pageRank(edges, srcCol, dstCol, iters,
          durableCheckpoint = durable)
    }
    // okRows collects before returning, so the result's final checkpoint
    // can be freed — without this a long-lived server pins one
    // checkpointed rank frame per request until GC
    try okRows(ex, graft.ext.Graph.topRanked(ranks, intOr(body, "topK", 100)))
    finally graft.ext.Graph.release(ranks)
  }

  /** Connected components over an edge table
    * ([[graft.ext.Graph.connectedComponents]]: large-star/small-star,
    * O(log n) rounds, loud on non-convergence). Body: source, srcCol,
    * dstCol, optional maxIter (default 50) and durable (see
    * [[postPageRank]]). */
  private def postComponents(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val cc = graft.ext.Graph.connectedComponents(
      engine.readTable(Seq(require(body, "source").asText())),
      require(body, "srcCol").asText(), require(body, "dstCol").asText(),
      intOr(body, "maxIter", 50),
      durableCheckpoint = durableFlag(body))
    // collected by okRows ⇒ the final star-edge checkpoint can be freed
    try okRows(ex, cc) finally graft.ext.Graph.release(cc)
  }

  /** Build the lexical (BM25) inverted index of a stored table
    * ([[graft.api.Engine.buildLexicalIndex]]). Body: source, idCol,
    * textCol, optional buckets (default 64). */
  private def postLexicalBuild(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    engine.buildLexicalIndex(require(body, "source").asText(),
      require(body, "idCol").asText(), require(body, "textCol").asText(),
      intOr(body, "buckets", 64), boolOr(body, "positional", false))
    ok(ex, """{"status":"built"}""")
  }

  /** Coalesce fragmented posting buckets after incremental syncs
    * ([[graft.api.Engine.compactLexicalIndex]]). Body: source, textCol,
    * optional maxFilesPerBucket (default 8). */
  private def postLexicalCompact(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val (b, l) = engine.compactLexicalIndex(require(body, "source").asText(),
      require(body, "textCol").asText(), intOr(body, "maxFilesPerBucket", 8))
    ok(ex, s"""{"bucketsCompacted":$b,"doclensFilesCompacted":$l}""")
  }

  /** Incremental lexical-index sync — appends postings for documents
    * not yet indexed ([[graft.api.Engine.syncLexicalIndex]]). Body:
    * source, idCol, textCol. Responds with the indexed-doc count. */
  private def postLexicalSync(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val n = engine.syncLexicalIndex(require(body, "source").asText(),
      require(body, "idCol").asText(), require(body, "textCol").asText())
    ok(ex, s"""{"indexed":$n}""")
  }

  /** Top-k BM25 keyword search through the materialized inverted index
    * ([[graft.api.Engine.searchBm25]] — touches only the query terms'
    * posting buckets). Body: source, textCol, terms, optional k. */
  private def postBm25(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    okRows(ex, engine.searchBm25(require(body, "source").asText(),
      require(body, "textCol").asText(),
      require(body, "terms").elements().asScala.map(_.asText()).toSeq,
      intOr(body, "k", 10), boolOr(body, "requireAll", false)))
  }

  /** Top-k exact-phrase search through the positional index
    * ([[graft.api.Engine.searchPhrase]]). Body: source, textCol,
    * phrase (term array), optional k. */
  private def postPhrase(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    okRows(ex, engine.searchPhrase(require(body, "source").asText(),
      require(body, "textCol").asText(),
      require(body, "phrase").elements().asScala.map(_.asText()).toSeq,
      intOr(body, "k", 10)))
  }

  /** Exact triangle count over an edge table
    * ([[graft.ext.Graph.triangleCount]]: degree-ordered orientation,
    * O(m^1.5) wedges under any skew). Body: source, srcCol, dstCol,
    * optional durable. */
  private def postTriangles(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    okRows(ex, graft.ext.Graph.triangleCount(
      engine.readTable(Seq(require(body, "source").asText())),
      require(body, "srcCol").asText(), require(body, "dstCol").asText(),
      durableCheckpoint = durableFlag(body)))
  }

  /** KMV set algebra — union/Jaccard/intersection key-cardinality
    * estimates across two tables ([[graft.ext.Sketches.kmvSetOps]]:
    * the join-size planner). Body: sourceA, columnA, sourceB, columnB,
    * optional k (default 256). */
  private def postKmvSetOps(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    okRows(ex, graft.ext.Sketches.kmvSetOps(
      engine.readTable(Seq(require(body, "sourceA").asText())),
      require(body, "columnA").asText(),
      engine.readTable(Seq(require(body, "sourceB").asText())),
      require(body, "columnB").asText(), intOr(body, "k", 256)))
  }

  /** Rolling three-sigma anomaly flags
    * ([[graft.ext.Temporal.rollingAnomalies]]: exact cross-multiplied
    * z-score over the trailing per-key window). Body: source, keyCol,
    * tsCol, idCol, valueCol, optional window/minN/t/scale. */
  private def postAnomalies(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    okRows(ex, graft.ext.Temporal.rollingAnomalies(
      engine.readTable(Seq(require(body, "source").asText())),
      require(body, "keyCol").asText(), require(body, "tsCol").asText(),
      require(body, "idCol").asText(), require(body, "valueCol").asText(),
      window = intOr(body, "window", 20),
      minN = opt(body, "minN").map(_.asLong()).getOrElse(10L),
      t = intOr(body, "t", 3),
      scale = opt(body, "scale").map(_.asDouble()).getOrElse(1000.0)))
  }

  /** Fixed-grid resampling ([[graft.ext.Temporal.resampleLocf]] /
    * `resampleLinear`). Body: source, keyCol, tsCol (epoch seconds),
    * valueCol, stepSecs, optional mode = locf (default) | linear,
    * optional tieBreakCol. The resamplers require at most one
    * observation per (key, ts) — an arbitrary STORED table carries no
    * such guarantee, so the route pre-collapses ties deterministically
    * before resampling: `max_by(value, tieBreakCol)` when a tiebreak
    * column is supplied, else `max(value)` (order-independent either
    * way — without the collapse, duplicate timestamps would make the
    * bracketing pair, and hence the interpolated value, partition-
    * order-dependent). */
  private def postResample(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val df = engine.readTable(Seq(require(body, "source").asText()))
    val mode = opt(body, "mode").map(_.asText()).getOrElse("locf")
    // NB: `require(node, field)` above shadows Predef.require
    Predef.require(Set("locf", "linear").contains(mode),
      s"mode must be locf | linear, got '$mode'")
    val keyCol = require(body, "keyCol").asText()
    val tsCol = require(body, "tsCol").asText()
    val valueCol = require(body, "valueCol").asText()
    val step = require(body, "stepSecs").asLong()
    val collapsed = df.groupBy(col(keyCol), col(tsCol))
      .agg(opt(body, "tieBreakCol").map(_.asText()) match {
        case Some(tie) => max_by(col(valueCol), col(tie)).as(valueCol)
        case None      => max(col(valueCol)).as(valueCol)
      })
    okRows(ex,
      if (mode == "linear")
        graft.ext.Temporal.resampleLinear(collapsed, keyCol, tsCol, valueCol, step)
      else graft.ext.Temporal.resampleLocf(collapsed, keyCol, tsCol, valueCol, step))
  }

  /** KMV distinct-count estimate ([[graft.ext.Sketches.kmvDistinct]]).
    * Body: source, column, optional k (default 256). */
  private def postKmvDistinct(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    okRows(ex, graft.ext.Sketches.kmvDistinct(
      engine.readTable(Seq(require(body, "source").asText())),
      require(body, "column").asText(), intOr(body, "k", 256)))
  }

  /** Exact heavy hitters via the CMS candidate pass
    * ([[graft.ext.Sketches.heavyHitters]]). Body: source, column,
    * minCount. */
  private def postHeavyHitters(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    okRows(ex, graft.ext.Sketches.heavyHitters(
      engine.readTable(Seq(require(body, "source").asText())),
      require(body, "column").asText(),
      require(body, "minCount").asLong()))
  }

  /** Grid-histogram quantiles
    * ([[graft.ext.Sketches.histogramQuantiles]]). Body: source, column,
    * qs (array of (0, 1] fractions), and either binWidth (explicit
    * grid) or targetBins (auto-ranged: width derived from one min/max
    * pass, [[graft.ext.Sketches.histogramQuantilesAuto]]; defaults to
    * 500 when neither is given). */
  private def postQuantiles(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val qsNode = require(body, "qs")
    val qs = (0 until qsNode.size()).map(qsNode.get(_).asDouble())
    val df = engine.readTable(Seq(require(body, "source").asText()))
    val column = require(body, "column").asText()
    okRows(ex, opt(body, "binWidth") match {
      case Some(w) => graft.ext.Sketches.histogramQuantiles(
        df, column, w.asDouble(), qs)
      case None => graft.ext.Sketches.histogramQuantilesAuto(
        df, column, qs, intOr(body, "targetBins", 500))
    })
  }

  /** As-of join of two stored tables
    * ([[graft.ext.Temporal.asofJoin]] / `asofJoinBucketed`). Body:
    * left, right, key, leftTs, rightTs, rightCols (array), optional
    * bucketSecs (> 0 selects the hot-key-parallel bucketed variant —
    * identical results, per-(key, bucket) windows). */
  private def postAsof(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val left = engine.readTable(Seq(require(body, "left").asText()))
    val right = engine.readTable(Seq(require(body, "right").asText()))
    val key = require(body, "key").asText()
    val leftTs = require(body, "leftTs").asText()
    val rightTs = require(body, "rightTs").asText()
    val colsNode = require(body, "rightCols")
    val rightCols = (0 until colsNode.size()).map(colsNode.get(_).asText())
    okRows(ex, opt(body, "bucketSecs") match {
      case Some(b) => graft.ext.Temporal.asofJoinBucketed(
        left, right, key, leftTs, rightTs, rightCols, b.asLong())
      case None => graft.ext.Temporal.asofJoin(
        left, right, key, leftTs, rightTs, rightCols)
    })
  }

  /** Latest-wins merge of an updates table into a destination table
    * ([[graft.api.Engine.upsertTable]]). Body: dest, updates, keys
    * (array), versionCol, tieBreakCol. */
  private def postUpsert(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val keysNode = require(body, "keys")
    val keys = (0 until keysNode.size()).map(i => keysNode.get(i).asText())
    val n = engine.upsertTable(require(body, "dest").asText(),
      engine.readTable(Seq(require(body, "updates").asText())),
      keys, require(body, "versionCol").asText(),
      require(body, "tieBreakCol").asText())
    ok(ex, s"""{"table":${jstr(require(body, "dest").asText())},"rows":$n}""")
  }

  /** Cross-document common segments ([[graft.ext.Dedup.commonSegments]]):
    * boilerplate lines appearing in ≥ minDocs distinct docs. */
  private def postDedupSegments(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val df = engine.readTable(Seq(require(body, "source").asText()))
    okRows(ex, graft.ext.Dedup.commonSegments(df,
      require(body, "idCol").asText(), require(body, "column").asText(),
      sep = opt(body, "sep").map(_.asText()).getOrElse("\n"),
      minDocs = intOr(body, "minDocs", 2)))
  }

  /** Remove every occurrence of cross-document common segments
    * ([[graft.ext.Dedup.stripCommonSegments]]). */
  private def postDedupStripSegments(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val df = engine.readTable(Seq(require(body, "source").asText()))
    okRows(ex, graft.ext.Dedup.stripCommonSegments(df,
      require(body, "idCol").asText(), require(body, "column").asText(),
      sep = opt(body, "sep").map(_.asText()).getOrElse("\n"),
      minDocs = intOr(body, "minDocs", 2)))
  }

  /** Build the persisted fuzzy (edit-distance) lookup index
    * ([[graft.api.Engine.buildFuzzyIndex]]). */
  private def postFuzzyBuild(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    engine.buildFuzzyIndex(require(body, "source").asText(),
      require(body, "idCol").asText(), require(body, "column").asText(),
      maxDist = intOr(body, "maxDist", 2),
      buckets = intOr(body, "buckets", 64))
    ok(ex, """{"built":true}""")
  }

  /** Single-string fuzzy lookup through the persisted index
    * ([[graft.api.Engine.fuzzyLookup]] — bucket-pruned scans). */
  private def postFuzzy(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    okRows(ex, engine.fuzzyLookup(require(body, "source").asText(),
      require(body, "column").asText(), require(body, "query").asText(),
      allowStale = opt(body, "allowStale").exists(_.asBoolean())))
  }

  /** BATCH edit-distance join of a stored query table against the
    * persisted fuzzy index ([[graft.api.Engine.fuzzyJoin]] — the corpus
    * frames and guard counts come from the artifact). */
  private def postFuzzyJoin(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val left = engine.readTable(Seq(require(body, "left").asText()))
    okRows(ex, engine.fuzzyJoin(require(body, "source").asText(),
      require(body, "column").asText(), left,
      require(body, "leftIdCol").asText(),
      require(body, "leftColumn").asText(),
      maxCandidates = opt(body, "maxCandidates").map(_.asLong())
        .getOrElse(50000000L),
      allowStale = opt(body, "allowStale").exists(_.asBoolean())))
  }

  /** Incremental fuzzy-index sync ([[graft.api.Engine.syncFuzzyIndex]]);
    * returns rows appended and the post-sync freshness. */
  private def postFuzzySync(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val source = require(body, "source").asText()
    val column = require(body, "column").asText()
    val n = engine.syncFuzzyIndex(source, column)
    ok(ex, s"""{"appended":$n,"fresh":${engine.fuzzyIndexIsFresh(source, column)}}""")
  }

  /** Start the TEXT-tier self-maintenance stream
    * ([[graft.streaming.Streams.textIndexSyncStream]]): tails the
    * source table, runs the idempotent incremental sync (+ optional
    * compaction cadence) per micro-batch — the ops verb that turns a
    * built fuzzy/lexical index into a self-maintaining one without a
    * client cron. Body: source, idCol, column, tier (fuzzy |
    * lexical, default fuzzy), compactEveryBatches (default 0 = off),
    * maxFilesPerBucket (default 8), checkpoint (default under the
    * engine root). Returns the stream id for GET /api/streams and
    * DELETE /api/streams/{id}. */
  private def postTextSyncStream(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val source = require(body, "source").asText()
    val textCol = require(body, "column").asText()
    val tier = opt(body, "tier").map(_.asText()).getOrElse("fuzzy")
    val checkpoint = opt(body, "checkpoint").map(_.asText()).getOrElse(
      s"${engine.root}/streams/${source}_${textCol}_$tier")
    val q = graft.streaming.Streams.textIndexSyncStream(engine, source,
      require(body, "idCol").asText(), textCol, checkpoint, tier,
      compactEveryBatches = intOr(body, "compactEveryBatches", 0),
      maxFilesPerBucket = intOr(body, "maxFilesPerBucket", 8))
    opsStreams.put(q.id.toString, q)
    ok(ex, s"""{"id":${jstr(q.id.toString)},"tier":${jstr(tier)},"active":true}""")
  }

  /** Active ops streams (id + liveness). A stream that died on its own
    * (source dropped, artifact error) shows active: false until a
    * DELETE reaps it. */
  private def getStreams(ex: HttpExchange): Unit = {
    val items = opsStreams.asScala.toSeq.sortBy(_._1).map { case (id, q) =>
      s"""{"id":${jstr(id)},"active":${q.isActive}}"""
    }
    ok(ex, s"""{"streams":[${items.mkString(",")}]}""")
  }

  /** Stop + deregister an ops stream. */
  private def deleteStream(ex: HttpExchange, id: String): Unit = {
    val q = opsStreams.remove(id)
    if (q == null)
      send(ex, 404, s"""{"error":${jstr(s"no stream: $id")}}""")
    else {
      q.stop()
      ok(ex, s"""{"stopped":${jstr(id)}}""")
    }
  }

  /** Fuzzy-index bucket compaction ([[graft.api.Engine.compactFuzzyIndex]]). */
  private def postFuzzyCompact(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val (buckets, flats) = engine.compactFuzzyIndex(
      require(body, "source").asText(), require(body, "column").asText(),
      maxFilesPerBucket = intOr(body, "maxFilesPerBucket", 8))
    ok(ex, s"""{"bucketsCompacted":$buckets,"flatsCompacted":$flats}""")
  }

  /** Incoming-vs-corpus near-dup gate
    * ([[graft.streaming.Streams.nearDupAgainstCorpus]] on its batch
    * path): which docs of `source` near-duplicate a doc of `corpus`. */
  private def postDedupGate(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val arrivals = engine.readTable(Seq(require(body, "source").asText()))
    val corpus = engine.readTable(Seq(require(body, "corpus").asText()))
    okRows(ex, graft.streaming.Streams.nearDupAgainstCorpus(
      arrivals, require(body, "idCol").asText(), require(body, "column").asText(),
      corpus, require(body, "refIdCol").asText(), require(body, "refColumn").asText(),
      shingleSize = intOr(body, "shingleSize", 3),
      numHashes = intOr(body, "numHashes", 32),
      bands = intOr(body, "bands", 8),
      threshold = opt(body, "threshold").map(_.asDouble()).getOrElse(0.5),
      maxRefBucket = opt(body, "maxRefBucket").map(_.asLong()).getOrElse(8192L)))
  }

  /** Semantic (embedding) dup gate — the SemDeDup ingest step's batch
    * body ([[graft.streaming.Streams.semanticDupGateForEachBatch]]):
    * arriving vectors from `source` joined to their nearest indexed
    * corpus vector through the trained IVF index, flagged within
    * `maxDist`. Same decision a streaming deployment makes per
    * micro-batch. */
  private def postSemanticGate(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val arrivals = engine.readTable(Seq(require(body, "source").asText()))
    var out: org.apache.spark.sql.DataFrame = null
    graft.streaming.Streams.semanticDupGateForEachBatch(
      engine.store,
      require(body, "coding").asText(),
      require(body, "corpus").asText(),
      require(body, "column").asText(),
      require(body, "idCol").asText(),
      require(body, "vecCol").asText(),
      maxDist = require(body, "maxDist").asDouble(),
      probes = require(body, "probes").asInt(),
      corpusIdCol = require(body, "corpusIdCol").asText(),
      metric = opt(body, "metric").map(_.asText()),
      sink = df => out = df)(arrivals, 0L)
    // empty arrivals: the gate body skips the sink (nothing to flag)
    if (out == null) ok(ex, """{"rows":[]}""") else okRows(ex, out)
  }

  /** Benchmark decontamination of a stored corpus against a stored
    * benchmark table ([[graft.streaming.Streams.decontaminateGate]] on
    * its batch path). */
  private def postDecontaminate(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val corpus = engine.readTable(Seq(require(body, "source").asText()))
    val bench = engine.readTable(Seq(require(body, "bench").asText()))
    okRows(ex, graft.streaming.Streams.decontaminateGate(
      corpus, require(body, "idCol").asText(), require(body, "column").asText(),
      bench, require(body, "benchIdCol").asText(), require(body, "benchColumn").asText(),
      n = intOr(body, "n", 2),
      threshold = opt(body, "threshold").map(_.asDouble()).getOrElse(0.2)))
  }

  /** Span-LEVEL decontamination ([[graft.ext.Dedup.stripContaminatedSpans]]
    * or, with `"report": true`, [[graft.ext.Dedup.contaminatedSpans]]):
    * strip exactly the leaked benchmark k-gram windows instead of
    * dropping whole documents. */
  private def postDecontaminateSpans(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val corpus = engine.readTable(Seq(require(body, "source").asText()))
    val bench = engine.readTable(Seq(require(body, "bench").asText()))
    val idCol = require(body, "idCol").asText()
    val column = require(body, "column").asText()
    val benchIdCol = require(body, "benchIdCol").asText()
    val benchColumn = require(body, "benchColumn").asText()
    val k = intOr(body, "k", 8)
    okRows(ex,
      if (opt(body, "report").exists(_.asBoolean()))
        graft.ext.Dedup.contaminatedSpans(corpus, idCol, column,
          bench, benchIdCol, benchColumn, k)
      else
        graft.ext.Dedup.stripContaminatedSpans(corpus, idCol, column,
          bench, benchIdCol, benchColumn, k))
  }

  /** The curation Config fields shared by the curate and curate-drops
    * routes — one parser so the two can never accept different knobs. */
  private def curateCfg(body: JsonNode): graft.ext.Curate.Config = {
    if (opt(body, "dsirKeepFraction").isDefined &&
        opt(body, "dsirTarget").isEmpty)
      throw new IllegalArgumentException(
        "dsirKeepFraction sizes the DSIR stage — it needs dsirTarget " +
          "(the table to train the importance model against)")
    graft.ext.Curate.Config(
      jaccardThreshold =
        opt(body, "jaccard").map(_.asDouble()).getOrElse(0.5),
      contamThreshold =
        opt(body, "contamThreshold").map(_.asDouble()).getOrElse(0.2),
      minWords = intOr(body, "minWords", 50),
      maxWords = intOr(body, "maxWords", 100000),
      minStopwords = intOr(body, "minStopwords", 2),
      dropUnknownLang =
        opt(body, "dropUnknownLang").forall(_.asBoolean()),
      // optional model tier: a persisted quality-model name + threshold
      qualityModel = opt(body, "qualityModel")
        .map(n => engine.store.loadQualityModel(n.asText())),
      minQualityProb =
        opt(body, "minQualityProb").map(_.asDouble()).getOrElse(0.5),
      // optional bloom decontamination tier for oversized benchmarks
      deconBloomFpp = opt(body, "deconBloomFpp").map(_.asDouble()),
      // optional line-level boilerplate strip pre-stage
      stripSegmentsMinDocs =
        opt(body, "stripSegmentsMinDocs").map(_.asInt()),
      stripSep = opt(body, "stripSep").map(_.asText()).getOrElse("\n"),
      // surgical decontamination: strip leaked spans instead of
      // dropping the document
      contamStripSpans =
        opt(body, "contamStripSpans").exists(_.asBoolean()),
      // NFC + control/whitespace normalization before any hashing
      normalizeUnicode =
        opt(body, "normalizeUnicode").exists(_.asBoolean()),
      // PII output-scrub (emails/IPs/phones/Luhn cards) on survivors
      redactOutputPii =
        opt(body, "redactOutputPii").exists(_.asBoolean()),
      // optional DSIR resampling stage: train against a stored target
      // table ("what the data should look like"); pivot explicit
      // ("dsirPivot") or SIZED by kept mass ("dsirKeepFraction" — the
      // library derives the pivot from this corpus' weight histogram;
      // batch-only: the streaming gate refuses the fraction knob and
      // names the offline resolution, Curate.scala streaming gate)
      dsir = opt(body, "dsirTarget").map { t =>
        val textCol = require(body, "column").asText()
        val df = engine.readTable(Seq(require(body, "source").asText()))
        val targetRaw = engine.readTable(Seq(t.asText()))
        val target = opt(body, "dsirTargetTextCol").map(_.asText()) match {
          case Some(c) => targetRaw.select(
            org.apache.spark.sql.functions.col(c).as(textCol))
          case None => targetRaw.select(
            org.apache.spark.sql.functions.col(textCol))
        }
        val model = graft.ext.Corpus.dsirTrain(target, df, textCol,
          intOr(body, "dsirBuckets", 4096),
          opt(body, "dsirSmoothing").map(_.asDouble()).getOrElse(1.0))
        (model, opt(body, "dsirPivot").map(_.asDouble()).getOrElse(0.0))
      },
      dsirKeepFraction =
        opt(body, "dsirKeepFraction").map(_.asDouble()))
  }

  /** Drop attribution ([[graft.ext.Curate.curateDrops]]): every dropped
    * doc + the first stage that dropped it — the "why was my document
    * removed" audit over the wire. Same knobs as /text/curate. */
  private def postCurateDrops(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    okRows(ex, graft.ext.Curate.curateDrops(
      engine.readTable(Seq(require(body, "source").asText())),
      require(body, "idCol").asText(), require(body, "column").asText(),
      engine.readTable(Seq(require(body, "bench").asText())),
      require(body, "benchIdCol").asText(),
      require(body, "benchColumn").asText(),
      curateCfg(body)))
  }

  /** Full corpus-curation pipeline over stored tables
    * ([[graft.ext.Curate.curate]]). With `dest`, survivors are persisted
    * as a named table ([[graft.api.Engine.curateTable]]) and the row
    * count returned; without it the (response-capped) survivors come
    * back inline. */
  private def postCurate(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val source = require(body, "source").asText()
    val bench = require(body, "bench").asText()
    val idCol = require(body, "idCol").asText()
    val column = require(body, "column").asText()
    val benchIdCol = require(body, "benchIdCol").asText()
    val benchColumn = require(body, "benchColumn").asText()
    val cfg = curateCfg(body)
    opt(body, "dest") match {
      case Some(d) =>
        val n = engine.curateTable(source, d.asText(), bench,
          idCol, column, benchIdCol, benchColumn, cfg)
        ok(ex, s"""{"table":${jstr(d.asText())},"rows":$n}""")
      case None =>
        okRows(ex, graft.ext.Curate.curate(
          engine.readTable(Seq(source)), idCol, column,
          engine.readTable(Seq(bench)), benchIdCol, benchColumn, cfg))
    }
  }

  /** Deterministic domain-mixture resampling. Two forms: explicit
    * target `weights` = {"domain": share}
    * ([[graft.ext.Corpus.mixtureSample]]), or `temperature` +
    * `domains` + `textCol` for token-mass share^τ resampling
    * ([[graft.ext.Corpus.temperatureMixture]]). */
  private def postMixture(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val df = engine.readTable(Seq(require(body, "source").asText()))
    val keyCol = require(body, "keyCol").asText()
    val domainCol = require(body, "domainCol").asText()
    val salt = opt(body, "salt").map(_.asText()).getOrElse("")
    opt(body, "temperature") match {
      case Some(tau) => // token-mass temperature form
        val domains = require(body, "domains").elements().asScala
          .map(_.asText()).toSeq
        okRows(ex, graft.ext.Corpus.temperatureMixture(df, keyCol,
          domainCol, require(body, "textCol").asText(), domains,
          tau.asDouble(), salt))
      case None => // explicit target-weights form
        val wNode = require(body, "weights")
        val weights = {
          val it = wNode.fields()
          val b = Map.newBuilder[String, Double]
          while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
          b.result()
        }
        okRows(ex, graft.ext.Corpus.mixtureSample(df, keyCol, domainCol,
          weights, salt))
    }
  }

  /** DSIR importance resampling ([[graft.ext.Corpus.dsirTrain]]):
    * fit hashed-n-gram target-vs-raw log-likelihood ratios (`target` =
    * a stored table holding what the data SHOULD look like; its text
    * column defaults to the source's), then return per-doc weights —
    * or, when `pivot` is present, the deterministically resampled rows
    * (keep prob min(1, e^(w − pivot)), stable hash keyed on `idCol` +
    * `salt`). Training is two bounded aggregates; the weights frame is
    * checkpointed before the sample filter so the scoring fold runs
    * once (the predicate-pushdown alias trap, DESIGN §14). */
  private def postDsir(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val df = engine.readTable(Seq(require(body, "source").asText()))
    val idCol = require(body, "idCol").asText()
    val textCol = require(body, "textCol").asText()
    val targetRaw = engine.readTable(Seq(require(body, "target").asText()))
    // project (not rename): withColumnRenamed would leave a duplicate
    // when the target table already has a column named textCol, and
    // dsirTrain's reference to it would then be ambiguous
    val target = opt(body, "targetTextCol").map(_.asText()) match {
      case Some(c) => targetRaw.select(
        org.apache.spark.sql.functions.col(c).as(textCol))
      case None => targetRaw.select(
        org.apache.spark.sql.functions.col(textCol))
    }
    val model = graft.ext.Corpus.dsirTrain(target, df, textCol,
      opt(body, "buckets").map(_.asInt()).getOrElse(4096),
      opt(body, "smoothing").map(_.asDouble()).getOrElse(1.0))
    val w = graft.ext.Corpus.dsirWeights(df, idCol, textCol, model)
    opt(body, "pivot") match {
      case Some(p) =>
        okRows(ex, graft.ext.Corpus.dsirSample(w.localCheckpoint(),
          idCol, org.apache.spark.sql.functions.col("dsir_weight"),
          p.asDouble(), opt(body, "salt").map(_.asText()).getOrElse("")))
      case None => okRows(ex, w)
    }
  }

  /** Per-domain token-budget cut
    * ([[graft.ext.Corpus.tokenBudgetSample]]); budgets =
    * {"domain": tokenCount}. */
  private def postBudget(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val df = engine.readTable(Seq(require(body, "source").asText()))
    val bNode = require(body, "budgets")
    val budgets = {
      val it = bNode.fields()
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asLong() }
      b.result()
    }
    okRows(ex, graft.ext.Corpus.tokenBudgetSample(df,
      require(body, "keyCol").asText(), require(body, "domainCol").asText(),
      require(body, "textCol").asText(), budgets,
      salt = opt(body, "salt").map(_.asText()).getOrElse("")))
  }

  /** Keyed snapshot diff ([[graft.ext.Validate.diffByKey]]): body =
    * {left, right, keyCol}; rows = (key, status added|removed|changed). */
  private def postDiff(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    okRows(ex, graft.ext.Validate.diffByKey(
      engine.readTable(Seq(require(body, "left").asText())),
      engine.readTable(Seq(require(body, "right").asText())),
      require(body, "keyCol").asText()))
  }

  /** Data-quality constraint gate ([[graft.ext.Validate]]): body
    * `{"source": ..., "checks": [{"type": "not_null"|"unique"|
    * "in_range"|"in_set"|"matches"|"row_count_at_least"|"foreign_key",
    * ...}]}` — one report row per check. The whole batch is one
    * aggregation over one scan of the table. */
  private def postValidate(ex: HttpExchange): Unit = {
    import graft.ext.Validate
    val body = mapper.readTree(readBody(ex))
    val df = engine.readTable(Seq(require(body, "source").asText()))
    val checks = require(body, "checks").elements().asScala.map { n =>
      require(n, "type").asText() match {
        case "not_null" => Validate.NotNull(require(n, "column").asText())
        case "unique" => Validate.Unique(
          require(n, "columns").elements().asScala.map(_.asText()).toSeq)
        case "in_range" => Validate.InRange(require(n, "column").asText(),
          require(n, "lo").asDouble(), require(n, "hi").asDouble())
        case "in_set" => Validate.InSet(require(n, "column").asText(),
          require(n, "values").elements().asScala.map(_.asText()).toSeq)
        case "matches" => Validate.Matches(require(n, "column").asText(),
          require(n, "regex").asText())
        case "row_count_at_least" =>
          Validate.RowCountAtLeast(require(n, "n").asLong())
        case "foreign_key" => Validate.ForeignKey(
          require(n, "column").asText(),
          engine.readTable(Seq(require(n, "ref").asText())),
          require(n, "refColumn").asText())
        case other =>
          throw new IllegalArgumentException(s"unknown check type '$other'")
      }
    }.toSeq
    okRows(ex, Validate.validate(df, checks))
  }

  /** Snapshot drift between two stored tables
    * ([[graft.ext.Sketches.histogramDrift]]): body `{"sourceA": ...,
    * "sourceB": ..., "valueCol": ..., "binWidth": ...}`; with
    * `"summary": true` responds with the one-row total-variation gate
    * instead of the per-bin report. */
  private def postDrift(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val a = engine.readTable(Seq(require(body, "sourceA").asText()))
    val b = engine.readTable(Seq(require(body, "sourceB").asText()))
    val vc = require(body, "valueCol").asText()
    val bw = require(body, "binWidth").asDouble()
    val out =
      if (opt(body, "summary").exists(_.asBoolean()))
        graft.ext.Sketches.driftSummary(a, b, vc, bw)
      else graft.ext.Sketches.histogramDrift(a, b, vc, bw)
    okRows(ex, out)
  }

  /** Per-group corpus audit profile
    * ([[graft.ext.TextAnalysis.corpusProfile]]). */
  private def postProfile(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val groupCols = require(body, "groupCols").elements().asScala
      .map(_.asText()).toSeq
    okRows(ex, engine.profileTable(
      require(body, "source").asText(),
      require(body, "textCol").asText(), groupCols,
      minWords = intOr(body, "minWords", 50),
      maxWords = intOr(body, "maxWords", 100000)))
  }

  /** Deterministic split assignment
    * ([[graft.ext.Corpus.assignSplits]]); splits = ordered
    * [{"name": ..., "weight": ...}] (order defines the hash intervals). */
  private def postSplits(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val df = engine.readTable(Seq(require(body, "source").asText()))
    val splits = require(body, "splits").elements().asScala.map(n =>
      require(n, "name").asText() -> require(n, "weight").asDouble()).toSeq
    okRows(ex, graft.ext.Corpus.assignSplits(df,
      require(body, "keyCol").asText(), splits,
      salt = opt(body, "salt").map(_.asText()).getOrElse("")))
  }

  /** Train the logistic quality classifier on a stored table; labels
    * come from `labelCol`, or — when omitted — weakly from the Gopher
    * rule conjunction (rule distillation). With a `name` the model
    * persists under the store ([[Engine.trainQualityModel]], listable
    * at GET /api/quality); without one the call is stateless. Responds
    * with the weights JSON either way, which feeds
    * `/api/text/quality-score`. */
  private def postQualityModel(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val source = require(body, "source").asText()
    val textCol = require(body, "textCol").asText()
    val labelCol = opt(body, "labelCol").map(_.asText())
    val model = opt(body, "name") match {
      case Some(n) =>
        engine.trainQualityModel(n.asText(), source, textCol, labelCol)
      case None =>
        graft.ext.QualityModel.train(
          graft.ext.QualityModel.labeledFrame(
            engine.readTable(Seq(source)), textCol, labelCol),
          textCol, "__label__")
    }
    ok(ex, model.toJson)
  }

  /** Score a stored table under a persisted `model` name or explicit
    * `weights` (from `/api/text/quality-model` or any external run). */
  private def postQualityScore(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val df = engine.readTable(Seq(require(body, "source").asText()))
    val model = opt(body, "model") match {
      case Some(n) => engine.store.loadQualityModel(n.asText())
      case None => graft.ext.QualityModel.Logistic(
        require(body, "weights").elements().asScala.map(_.asDouble()).toArray)
    }
    okRows(ex, graft.ext.QualityModel.score(df,
      require(body, "idCol").asText(), require(body, "textCol").asText(),
      model))
  }

  /** Winnowing fingerprints of a stored table's text column
    * ([[graft.ext.TextAnalysis.winnowFingerprints]]) — (id, fp) rows. */
  private def postFingerprints(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val df = engine.readTable(Seq(require(body, "source").asText()))
    okRows(ex, graft.ext.TextAnalysis.winnowFingerprints(df,
      require(body, "idCol").asText(), require(body, "column").asText(),
      k = intOr(body, "k", 5), window = intOr(body, "window", 4)))
  }

  /** Document-overlap pairs from shared fingerprints (MOSS step,
    * [[graft.ext.TextAnalysis.overlapPairs]]). */
  private def postOverlaps(ex: HttpExchange): Unit = {
    val body = mapper.readTree(readBody(ex))
    val df = engine.readTable(Seq(require(body, "source").asText()))
    okRows(ex, graft.ext.TextAnalysis.overlapPairs(df,
      require(body, "idCol").asText(), require(body, "column").asText(),
      k = intOr(body, "k", 5), window = intOr(body, "window", 4),
      minShared = intOr(body, "minShared", 10),
      maxDocFreq = intOr(body, "maxDocFreq", 1000).toLong))
  }

  // ——— plumbing ———

  private def require(n: JsonNode, field: String): JsonNode =
    opt(n, field).getOrElse(
      throw new IllegalArgumentException(s"missing required field '$field'"))
  private def opt(n: JsonNode, field: String): Option[JsonNode] =
    Option(n.get(field)).filterNot(_.isNull)
  private def intOr(n: JsonNode, field: String, dflt: Int): Int =
    opt(n, field).map(_.asInt()).getOrElse(dflt)
  private def boolOr(n: JsonNode, field: String, dflt: Boolean): Boolean =
    opt(n, field).map(_.asBoolean()).getOrElse(dflt)

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).fold(Map.empty[String, String]) { q =>
      q.split("&").toSeq.flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) =>
            Some(k -> java.net.URLDecoder.decode(v, StandardCharsets.UTF_8))
          case _ => None
        }
      }.toMap
    }

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  /** Rows as a JSON array via Spark's own row→JSON encoder (handles
    * nested arrays/structs/timestamps); bounded by [[maxResponseRows]]. */
  private def okRows(ex: HttpExchange, df: DataFrame): Unit =
    okRows(ex, df, extraFields = "")

  /** `extraFields` is a pre-rendered `"k":v,` run (trailing comma, or
    * empty) placed before `rows` — the advised-serving marker's hook.
    * Frees any localCheckpoint backing the frame (curate/dedup/graph
    * results carry one) — a long-lived server otherwise pins one per
    * request until GC. In a FINALLY so the error paths (bad plan in
    * collect, client disconnect in the response write) release too:
    * those are exactly the requests a long-lived server accumulates.
    * No route shares checkpointed frames across requests (every
    * handler builds its frame from stored tables), so the blocks are
    * provably unread. */
  private def okRows(ex: HttpExchange, df: DataFrame,
      extraFields: String): Unit =
    try ok(ex, df.limit(maxResponseRows).toJSON.collect()
      .mkString(s"""{$extraFields"rows":[""", ",", "]}"))
    finally org.apache.spark.sql.GraftShims.releaseCheckpoint(df)

  /** JSON string literal (quoted + escaped) — hand-built response bodies
    * must never interpolate raw user input. */
  private def jstr(v: String): String = mapper.writeValueAsString(v)

  private def ok(ex: HttpExchange, json: String): Unit = send(ex, 200, json)

  private def send(ex: HttpExchange, code: Int, json: String): Unit = {
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}
