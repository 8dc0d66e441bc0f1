package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{AnalysisException, DataFrame, GraftShims}
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
  * the contract: each handler reads a [[Req]], calls the engine and
  * returns a [[GraftServer.Reply]], with no search or storage logic of
  * its own.
  *
  * Deliberately NOT the bulk-data path: row payloads ride JSON, which is
  * fine for control-plane ops, small ingests and top-k results. At 100 TB
  * the data plane is distributed parquet via [[Engine.makeTable]] /
  * `spark.read` — a server round-trip for bulk data would serialize the
  * cluster through one socket, which is exactly the single-node shape
  * this engine exists to avoid.
  *
  * Verbs: [[routes]] is the one list — `METHOD /path` under `/api`, each
  * handler's scaladoc naming its body fields and library call.
  *
  * The request envelope ([[handle]]) is the only code that sees the
  * `HttpExchange`: it reads the body once (at most [[maxRequestBytes]]),
  * dispatches through [[routes]], renders the reply and maps every
  * failure to a status in one place ([[GraftServer.knownStatus]]): 400
  * for a bad request, 409 for state that refuses it (stale advice), 413
  * for an oversized body, 404 for no route or a missing resource, 500
  * for anything else — each with a JSON `error` body.
  */
class GraftServer(engine: Engine, host: String = "127.0.0.1", port: Int = 0) {
  import GraftServer._

  private val mapper = new ObjectMapper()
  // `send` writes headers, then body: without TCP_NODELAY Nagle holds
  // the body until the client's delayed ACK, about 40 ms per request.
  // The JDK reads this once, when the JVM's first HttpServer is made;
  // a value the JVM already has wins.
  System.getProperties.putIfAbsent("sun.net.httpserver.nodelay", "true")
  private val http = HttpServer.create(new InetSocketAddress(host, port), 0)
  // one request thread per core: a search over a driver-resident tier
  // is CPU work on that thread
  private val pool =
    Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors)
  /** Cap on rows returned by a single scan/search response. */
  val maxResponseRows = 10000
  /** Cap on a request body's bytes (8 MiB: JSON ingests are the small,
    * control-plane kind); a longer body is refused with 413 unparsed. */
  private[graft] val maxRequestBytes = 8 << 20

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

  // ——— routes ———

  /** The one list of verbs. Paths are under `/api`; a `{name}` segment
    * binds a path param ([[Req.path]]). */
  private val routes: Seq[Route] = Seq(
    // tables (do_put / do_get / list-tables / drop-table)
    on("GET /tables")(_ => listJson("tables", engine.listTables())),
    on("PUT /tables/{name}")(putTable),
    on("GET /tables/{name}")(getTable),
    on("GET /tables/{name}/arrow")(getTableArrow),
    on("GET /tables/{name}/describe")(r =>
      Rows(engine.describeTable(r.path("name")))),
    on("DELETE /tables/{name}") { r =>
      engine.dropTable(r.path("name")); Json("""{"dropped":true}""")
    },
    on("POST /tables/upsert")(postUpsert),
    on("POST /tables/validate")(postValidate),
    on("POST /tables/diff")(postDiff),
    on("POST /tables/drift")(postDrift),
    // vector indexes, search and the budget advisors
    on("GET /codings")(_ => listJson("codings", engine.listCodings())),
    on("POST /indexes")(postIndex),
    on("DELETE /indexes/{name}") { r =>
      engine.dropIndex(r.path("name")); Json("""{"dropped":true}""")
    },
    on("POST /indexes/stats")(postIndexStats),
    on("POST /indexes/compact")(postIndexCompact),
    on("POST /indexes/repair")(postIndexRepair),
    on("POST /search")(postSearch),
    on("POST /search/maxsim")(postMaxsim),
    on("POST /advise/probes")(postAdviseProbes),
    on("GET /advise/probes/{coding}")(getAdviseProbes),
    on("POST /advise/candidates")(postAdviseCandidates),
    on("GET /advise/candidates/{coding}")(getAdviseCandidates),
    // text tiers: lexical (BM25, phrase) and fuzzy (edit distance)
    on("POST /indexes/lexical")(postLexicalBuild),
    on("POST /indexes/lexical/sync")(postLexicalSync),
    on("POST /indexes/lexical/compact")(postLexicalCompact),
    on("POST /search/bm25")(postBm25),
    on("POST /search/phrase")(postPhrase),
    on("POST /indexes/fuzzy")(postFuzzyBuild),
    on("POST /indexes/fuzzy/sync")(postFuzzySync),
    on("POST /indexes/fuzzy/compact")(postFuzzyCompact),
    on("POST /search/fuzzy")(postFuzzy),
    on("POST /search/fuzzy/join")(postFuzzyJoin),
    on("POST /streams/text-sync")(postTextSyncStream),
    on("GET /streams")(getStreams),
    on("DELETE /streams/{id}")(deleteStream),
    // persisted models: PCA, BPE, n-gram LM, quality classifier
    on("GET /pca")(_ => listJson("models", engine.store.listPcaModels())),
    on("POST /pca")(postPca),
    on("GET /pca/{model}/project")(getPcaProject),
    on("GET /bpe")(_ => listJson("models", engine.listBpeModels())),
    on("POST /bpe")(postBpe),
    on("GET /bpe/{model}/tokens")(getBpeTokens),
    on("GET /ngram")(_ => listJson("models", engine.listNgramModels())),
    on("POST /ngram")(postNgram),
    on("GET /ngram/{model}/perplexity")(getPerplexity),
    on("GET /quality")(_ => listJson("models", engine.listQualityModels())),
    on("POST /text/quality-model")(postQualityModel),
    on("POST /text/quality-score")(postQualityScore),
    // corpus curation: fingerprints, dedup, decontamination, sampling
    on("POST /text/fingerprints")(postFingerprints),
    on("POST /text/overlaps")(postOverlaps),
    on("POST /text/profile")(postProfile),
    on("POST /text/decontaminate")(postDecontaminate),
    on("POST /text/decontaminate-spans")(postDecontaminateSpans),
    on("POST /text/curate")(postCurate),
    on("POST /text/curate-drops")(postCurateDrops),
    on("POST /dedup/spans")(postDedupSpans),
    on("POST /dedup/strip")(postDedupStrip),
    on("POST /dedup/segments")(postDedupSegments),
    on("POST /dedup/strip-segments")(postDedupStripSegments),
    on("POST /dedup/editdist")(postEditDistance),
    on("POST /dedup/jaro")(postJaro),
    on("POST /dedup/gate")(postDedupGate),
    on("POST /dedup/semantic-gate")(postSemanticGate),
    on("POST /sample/mixture")(postMixture),
    on("POST /sample/budget")(postBudget),
    on("POST /sample/splits")(postSplits),
    on("POST /sample/dsir")(postDsir),
    // graph, time series and sketches
    on("POST /graph/pagerank")(postPageRank),
    on("POST /graph/components")(postComponents),
    on("POST /graph/triangles")(postTriangles),
    on("POST /events/anomalies")(postAnomalies),
    on("POST /events/resample")(postResample),
    on("POST /events/asof")(postAsof),
    on("POST /sketch/set-ops")(postKmvSetOps),
    on("POST /sketch/distinct")(postKmvDistinct),
    on("POST /sketch/heavy-hitters")(postHeavyHitters),
    on("POST /sketch/quantiles")(postQuantiles))

  /** Every route's `METHOD /path`, in table order. */
  private[graft] def verbs: Seq[String] = routes.map(_.verb)

  private def on(verb: String)(handler: Req => Reply): Route =
    new Route(verb, handler)

  /** One entry of the route table: `verb` is `METHOD /path`. */
  private final class Route(val verb: String, val handler: Req => Reply) {
    private val (method, segs) = verb.split(" ", 2) match {
      case Array(m, p) => (m, p.split("/").toList.filter(_.nonEmpty))
    }

    /** This route's path params for (`m`, `path`), or None when it is
      * not this route's. */
    def bind(m: String, path: List[String]): Option[Map[String, String]] =
      if (m != method || path.length != segs.length) None
      else segs.zip(path).foldLeft(Option(Map.empty[String, String])) {
        case (acc, (s, p)) if s.startsWith("{") =>
          acc.map(_ + (s.substring(1, s.length - 1) -> p))
        case (acc, (s, p)) => acc.filter(_ => s == p)
      }
  }

  // ——— the envelope ———

  /** The one place a request meets the exchange: read the body (capped),
    * find the route, run its handler, render the reply — or map the
    * failure to a status ([[statusOf]]). Handlers never catch, send or
    * see the exchange. */
  private def handle(ex: HttpExchange): Unit = {
    val method = ex.getRequestMethod
    val path = ex.getRequestURI.getPath.stripPrefix("/api").stripSuffix("/")
    val segs = path.split("/").toList.filter(_.nonEmpty)
    // Left: an Arrow frame to stream; Right: (status, JSON body)
    val out: Either[DataFrame, (Int, String)] =
      try {
        val body = readBody(ex)
        routes.iterator.flatMap(r => r.bind(method, segs).map(r -> _))
          .nextOption() match {
          case None => Right(404 -> errorJson(s"no route: $method $path"))
          case Some((route, pathParams)) =>
            val req = new Req(mapper.readTree(body),
              queryParams(ex.getRequestURI.getRawQuery), pathParams)
            route.handler(req) match {
              case Json(json, status) => Right(status -> json)
              case Rows(df, extraFields) => Right(200 -> rowsJson(df, extraFields))
              case Arrow(df) =>
                // analysis + planning BEFORE committing to a 200: bad
                // table / column / filter errors still get a clean status
                df.queryExecution.executedPlan
                Left(df)
            }
        }
      } catch {
        case NonFatal(e) => Right(statusOf(e) ->
          errorJson(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    out.fold(streamArrow(ex, _), { case (status, json) => send(ex, status, json) })
  }

  /** The request body, at most [[maxRequestBytes]]: one byte more is
    * read, so an over-long body is refused (413) with or without a
    * Content-Length, and never held whole. */
  private def readBody(ex: HttpExchange): Array[Byte] = {
    val bytes = ex.getRequestBody.readNBytes(maxRequestBytes + 1)
    if (bytes.length > maxRequestBytes) throw new BodyTooLarge(maxRequestBytes)
    bytes
  }

  /** The status of a failure: the first exception on its cause chain
    * with a known meaning ([[GraftServer.knownStatus]]) decides; any
    * other failure is the server's fault (500). */
  private def statusOf(e: Throwable): Int = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Throwable, java.lang.Boolean])
    Iterator.iterate(e)(_.getCause).takeWhile(t => t != null && seen.add(t))
      .flatMap(knownStatus).nextOption().getOrElse(500)
  }

  /** Rows as a JSON array via Spark's own row→JSON encoder (handles
    * nested arrays/structs/timestamps), run on the driver
    * ([[GraftShims.jsonRows]]: the bytes `toJSON` gives, without its
    * job, so a local frame renders with none); bounded by
    * [[maxResponseRows]] (a finished search within it renders from
    * its rows, with no further plan).
    * `extraFields` is a pre-rendered `"k":v,` run (trailing comma, or
    * empty) placed before `rows` — the advised-serving marker's hook.
    * Frees any localCheckpoint backing the frame (curate/dedup/graph
    * results carry one; the release walks the whole plan, so a frame
    * built on a checkpointed one frees that too) — a long-lived server
    * otherwise pins one per request until GC. In a FINALLY so the error
    * path (bad plan in collect) releases too: those are exactly the
    * requests a long-lived server accumulates. No route shares
    * checkpointed frames across requests (every handler builds its
    * frame from stored tables), so the blocks are provably unread. */
  private def rowsJson(df: DataFrame, extraFields: String): String =
    try GraftShims.jsonRows(df, Some(maxResponseRows))
      .mkString(s"""{$extraFields"rows":[""", ",", "]}")
    finally GraftShims.releaseCheckpoint(df)

  /** The [[Arrow]] reply: chunked, batch-bounded memory. A RUNTIME
    * failure mid-stream can't be turned into an error status any more
    * (headers are sent) — close the truncated stream so the client's
    * Arrow reader fails fast, and log it. */
  private def streamArrow(ex: HttpExchange, df: DataFrame): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/vnd.apache.arrow.stream")
    ex.sendResponseHeaders(200, 0) // 0 = chunked: length unknown up front
    val out = ex.getResponseBody
    try GraftShims.writeArrowStream(df, out, 4096)
    catch {
      case NonFatal(e) => System.err.println(
        s"[graft-server] arrow export of ${ex.getRequestURI.getPath} failed mid-stream: $e")
    }
    finally out.close()
  }

  private def send(ex: HttpExchange, code: Int, json: String): Unit = {
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def queryParams(rawQuery: String): Map[String, String] =
    Option(rawQuery).fold(Map.empty[String, String]) { q =>
      q.split("&").toSeq.flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) =>
            Some(k -> java.net.URLDecoder.decode(v, StandardCharsets.UTF_8))
          case _ => None
        }
      }.toMap
    }

  /** JSON string literal (quoted + escaped) — hand-built response bodies
    * must never interpolate raw user input. */
  private def jstr(v: String): String = mapper.writeValueAsString(v)

  private def errorJson(message: String): String = s"""{"error":${jstr(message)}}"""

  private def notFound(message: String): Reply = Json(errorJson(message), 404)

  private def listJson(key: String, names: Seq[String]): Reply =
    Json(s"""{"$key":[${names.map(jstr).mkString(",")}]}""")

  /** One request's inputs behind typed readers: the JSON body (parsed on
    * the first field read), the query params and the route's path
    * params. A reader refuses a wrong JSON type with a 400 naming the
    * field rather than coercing it (Jackson's `asInt()` reads `"two"` as
    * 0 and `2.9` as 2); a JSON `null` reads as absent. */
  private final class Req(json: => JsonNode, params: Map[String, String],
      pathParams: Map[String, String]) {
    private lazy val node = json

    private def field(f: String): Option[JsonNode] =
      Option(node.get(f)).filterNot(_.isNull)
    private def get[T](f: String, kind: Kind[T]): Option[T] = field(f).map { n =>
      if (kind.accepts(n)) kind.read(n)
      else throw new IllegalArgumentException(s"field '$f' must be ${kind.name}, got $n")
    }
    private def need[T](f: String, kind: Kind[T]): T = get(f, kind).getOrElse(
      throw new IllegalArgumentException(s"missing required field '$f'"))

    def has(f: String): Boolean = field(f).isDefined
    def str(f: String): String = need(f, Text)
    def strOpt(f: String): Option[String] = get(f, Text)
    def str(f: String, default: String): String = strOpt(f).getOrElse(default)
    def int(f: String): Int = need(f, IntKind)
    def intOpt(f: String): Option[Int] = get(f, IntKind)
    def int(f: String, default: Int): Int = intOpt(f).getOrElse(default)
    def long(f: String): Long = need(f, LongKind)
    def longOpt(f: String): Option[Long] = get(f, LongKind)
    def long(f: String, default: Long): Long = longOpt(f).getOrElse(default)
    def double(f: String): Double = need(f, Num)
    def doubleOpt(f: String): Option[Double] = get(f, Num)
    def double(f: String, default: Double): Double = doubleOpt(f).getOrElse(default)
    def bool(f: String, default: Boolean): Boolean = get(f, Bool).getOrElse(default)
    def strs(f: String): Seq[String] = need(f, Strs)
    def strsOpt(f: String): Option[Seq[String]] = get(f, Strs)
    def doubles(f: String): Seq[Double] = need(f, Nums)
    def vectors(f: String): Seq[Seq[Double]] = need(f, Vectors)
    def doubleMap(f: String): Map[String, Double] = need(f, NumMap)
    def longMap(f: String): Map[String, Long] = need(f, LongMap)
    def obj(f: String): Option[Req] = get(f, Obj).map(sub)
    def objs(f: String): Seq[Req] = need(f, Objs).map(sub)
    /** The objects of array `f`, each as its JSON text. */
    def jsonRows(f: String): Seq[String] = need(f, Objs).map(_.toString)
    private def sub(n: JsonNode) = new Req(n, Map.empty, Map.empty)

    /** The stored table named by field `f`. */
    def table(f: String): DataFrame = engine.readTable(Seq(str(f)))

    /** An integer, or "advised" (→ [[Engine.Advised]]); any other value
      * refuses loudly — a typo'd string must not read as 0. */
    def count(f: String): Option[Int] = field(f).map { n =>
      if (n.isTextual && n.asText() == "advised") Engine.Advised
      else if (IntKind.accepts(n)) n.asInt()
      else throw new IllegalArgumentException(
        s"""$f must be an integer or "advised", got ${n.toString}""")
    }

    def path(name: String): String = pathParams(name)
    def paramOpt(k: String): Option[String] = params.get(k)
    def param(k: String): String = params.getOrElse(k,
      throw new IllegalArgumentException(s"missing required param '$k'"))
  }

  // ——— handlers ———

  /** do_put analogue: JSON rows + explicit schema DDL, ingested through
    * the normal table-creation path (shape enforcement included). Body:
    * schema (DDL), rows (array of objects). */
  private def putTable(r: Req): Reply = {
    val name = r.path("name")
    val ddl = r.str("schema")
    val rows = r.jsonRows("rows")
    val spark = engine.spark
    import spark.implicits._
    val ds = spark.createDataset(rows)
    // FAILFAST: a malformed row 400s the request instead of being
    // swallowed as nulls (the reference's typed do_put rejects at the wire)
    val df = spark.read.schema(ddl).option("mode", "FAILFAST").json(ds)
    engine.makeTable(name, df)
    Json(s"""{"table":${jstr(name)},"rows":${engine.readTable(Seq(name)).count()}}""")
  }

  /** A stored table with the scan query params applied: `select`
    * (comma-separated columns) and `filter` (SQL predicate). */
  private def scan(r: Req): DataFrame =
    engine.readTable(Seq(r.path("name")),
      r.paramOpt("select").map(_.split(",").toSeq), r.paramOpt("filter").map(expr))

  /** do_get scan analogue: select / filter / limit as query params. */
  private def getTable(r: Req): Reply = {
    val limit = r.paramOpt("limit").map(_.toInt).getOrElse(maxResponseRows)
    Rows(scan(r).limit(math.min(limit, maxResponseRows)))
  }

  /** Table as an Arrow IPC stream over the wire — the reference's native
    * wire format (`flight.py:46-60` streams record batches); a migrating
    * client gets its data back byte-compatible with what it put in.
    * Chunked response, batch-bounded memory; select/filter/limit as in
    * the JSON scan route, but no row cap by default (export is the
    * whole-table migration verb). */
  private def getTableArrow(r: Req): Reply = {
    val base = scan(r)
    Arrow(r.paramOpt("limit").fold(base)(n => base.limit(n.toInt)))
  }

  /** make-coder + sync-index in one verb (the reference's make-index
    * flow, `flight.py:205-233`). Config fields mirror [[CoderConfig]]. */
  private def postIndex(r: Req): Reply = {
    val name = r.str("name")
    val source = r.str("source")
    val column = r.str("column")
    val base = CoderConfig(metric = r.str("metric"))
    val cfg = base.copy(
      codebookSize = r.int("codebookSize", base.codebookSize),
      numCodebooks = r.int("numCodebooks", base.numCodebooks),
      batchSize = r.int("batchSize", base.batchSize),
      numEpochs = r.int("numEpochs", base.numEpochs))
    engine.makeIndex(name, source, column, cfg)
    // optional PQ sidecar index: {"pq": {"numSubspaces": 8, "codebookSize": 16,
    // "residual": true}} — residual=false explicitly opts into the flat variant
    r.obj("pq").foreach { pq =>
      val pqBase = graft.coder.PQ.PQConfig(metric = cfg.metric)
      engine.makePqIndex(name, source, column, pqBase.copy(
        numSubspaces = pq.int("numSubspaces", pqBase.numSubspaces),
        codebookSize = pq.int("codebookSize", pqBase.codebookSize),
        sampleSize = pq.int("sampleSize", pqBase.sampleSize)),
        residual = pq.bool("residual", true))
    }
    // optional SQ8 sidecar index: {"sq": true}
    if (r.bool("sq", false)) engine.makeSqIndex(name, source, column)
    // optional BQ (1-bit) sidecar index: {"bq": true}
    if (r.bool("bq", false)) engine.makeBqIndex(name, source, column)
    Json(s"""{"index":${jstr(name)}}""")
  }

  /** Probe-count advisor ([[graft.api.Engine.adviseProbes]]): body =
    * {coding, source, column, idCol, k?, targetRecall?, sampleQueries?};
    * response = the advice plus the measured (probes, recall) curve. A
    * calibration verb, not a serving verb: the POST measures AND
    * persists (the advisor's own scaladoc demands "run once and
    * persist"), the GET below serves the cached answer many times. */
  private def postAdviseProbes(r: Req): Reply =
    adviceReply(engine.adviseProbes(r.str("coding"), r.str("source"),
      r.str("column"), r.str("idCol"),
      k = r.int("k", 10),
      targetRecall = r.double("targetRecall", 0.95),
      sampleQueries = r.int("sampleQueries", 32)), cached = false)

  /** Serves the PERSISTED advice for a coding — no measurement pass
    * ([[servedAdvice]]). */
  private def getAdviseProbes(r: Req): Reply =
    servedAdvice(engine.freshProbeAdvice(r.path("coding")))

  /** Candidate-budget advisor for the reranked tiers — measures AND
    * persists per (coding, tier, probes)
    * ([[graft.api.Engine.adviseCandidates]]; it shares the probe
    * advisor's expensive brute ground-truth pass, so the POST is the
    * run-once and the GET below the serve-many, exactly the probe-advice
    * wire contract). */
  private def postAdviseCandidates(r: Req): Reply =
    adviceReply(engine.adviseCandidates(r.str("coding"), r.str("source"),
      r.str("column"), r.str("idCol"),
      tier = r.str("tier"),
      probes = r.int("probes"),
      k = r.int("k", 10),
      targetRecall = r.double("targetRecall", 0.95),
      sampleQueries = r.int("sampleQueries", 32),
      maxCandidates = r.int("maxCandidates", 4096)), cached = false)

  /** Serves the PERSISTED candidate advice for (coding, ?tier=, ?probes=)
    * — no measurement pass ([[servedAdvice]]). */
  private def getAdviseCandidates(r: Req): Reply = {
    val tier = r.paramOpt("tier").getOrElse(throw new IllegalArgumentException(
      "tier query param required (sq | bq | pq | rerank)"))
    val probes = r.paramOpt("probes").getOrElse(
      throw new IllegalArgumentException("probes query param required")).toInt
    servedAdvice(engine.freshCandidateAdvice(r.path("coding"), tier, probes))
  }

  /** One read of persisted advice: 404 when there is none at the key, 409
    * (naming the re-measure route) when the source changed since it was
    * measured. */
  private def servedAdvice(read: => Engine.PersistedAdvice): Reply =
    try adviceReply(read, cached = true)
    catch { case e: NoSuchElementException => notFound(e.getMessage) }

  /** The advice as it is persisted, plus whether it was served from the
    * store rather than measured by this request. */
  private def adviceReply(p: Engine.PersistedAdvice, cached: Boolean): Reply =
    Json(p.toJson.stripSuffix("}") + s""","cached":$cached}""")

  /** The fields both search forms share, parsed once: sources, column,
    * metric, coding, k (capped at [[maxResponseRows]]), tieBreak, the
    * `sq`/`bq` tier flags, and the probe and candidate budgets. On
    * either budget the string `"advised"` (not an integer: -1 is an
    * invalid count, refused by [[Engine.validCount]]) opts into the
    * PERSISTED advisor budget — resolved here, not inside the engine
    * call, so the response can carry the serving-visibility marker
    * ([[marker]]): a caller must always be able to tell exact from
    * advised. */
  private final class SearchRequest(r: Req) {
    val sources: Seq[String] = r.strs("sources")
    val column: String = r.str("column")
    val metric: Option[String] = r.strOpt("metric")
    val coding: Option[String] = r.strOpt("coding")
    val k: Int = math.min(r.int("k", 10), maxResponseRows)
    val tieBreak: Seq[String] = r.strsOpt("tieBreak").getOrElse(Nil)
    // "sq": true routes to the IVF+SQ8 index (d-byte quantized coarse
    // pass), "bq": true to the IVF+BQ index (1-bit coarse pass)
    val quantizedTier: Option[String] =
      if (r.bool("sq", false)) Some("sq") else if (r.bool("bq", false)) Some("bq") else None
    private var advisedProbes, advisedCandidates: Option[Int] = None

    def idCol: String = r.str("idCol")

    private def advisedSource(knob: String): String = {
      if (sources.size != 1) throw new IllegalArgumentException(
        s""""$knob":"advised" is single-source (advice is measured """ +
          "against one corpus)")
      sources.head
    }

    val probes: Option[Int] = r.count("probes").map {
      case Engine.Advised =>
        val c = coding.getOrElse(throw new IllegalArgumentException(
          """"probes":"advised" needs a coding"""))
        val p = engine.resolveAdvisedProbes(c, advisedSource("probes"),
          column, k, metric)
        advisedProbes = Some(p)
        p
      case p => p
    }

    /** `candidates` for (`coding`, `tier`), required: the advised form
      * serves the persisted (coding, tier, probes) budget. */
    def candidates(coding: String, tier: String, probes: => Int): Int =
      r.count("candidates").getOrElse(throw new IllegalArgumentException(
        s"$tier search requires \"candidates\"")) match {
        case Engine.Advised =>
          val n = engine.resolveAdvisedCandidates(coding, tier, probes,
            advisedSource("candidates"), column, k, metric)
          advisedCandidates = Some(n)
          n
        case n => n
      }

    /** The `sq`/`bq` route's (tier, coding, probes, candidates) — each
      * required: an explicit contract, no silent fall-through to
      * another path. */
    def quantized: Option[(String, String, Int, Int)] = quantizedTier.map { tier =>
      def missing(f: String) =
        new IllegalArgumentException(s"$tier search requires \"$f\"")
      val c = coding.getOrElse(throw missing("coding"))
      val p = probes.getOrElse(throw missing("probes"))
      (tier, c, p, candidates(c, tier, p))
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
  private def postSearch(r: Req): Reply = {
    if (r.has("targets")) return postSearchBatch(r)
    val s = new SearchRequest(r)
    val target: TargetVector = r.doubles("target").toArray[Double]
    val filter = r.strOpt("filter").map(expr)
    val select = r.strsOpt("select")
    // "prefixDim": N routes to the index-free Matryoshka prefix search
    // (optional "prefixCol" selects a materialized prefix column)
    if (r.has("prefixDim")) {
      val cand = r.intOpt("candidates").getOrElse(throw new IllegalArgumentException(
        "matryoshka search requires \"candidates\""))
      return Rows(graft.api.Search.matryoshkaSearch(
        engine.readTable(s.sources), s.column, target, r.int("prefixDim"), cand,
        s.idCol, s.k, s.metric.getOrElse("l2"), r.strOpt("prefixCol"), filter,
        select, s.tieBreak))
    }
    // candidates + idCol selects the IVF+PQ path (one index per source;
    // multi-source unions the per-source exact-reranked top-k);
    // "rerank": true instead routes to the two-stage retrieve-rerank over
    // the plain IVF index (id-only coarse pass, no PQ codes needed)
    val df = (s.quantized, r.has("candidates"), s.coding, s.probes) match {
      case (Some(("sq", c, p, cand)), _, _, _) =>
        engine.searchSqMulti(s.sources, s.column, target, c, p, cand, s.idCol,
          s.k, s.metric, filter, select, s.tieBreak)
      case (Some((_, c, p, cand)), _, _, _) =>
        engine.searchBqMulti(s.sources, s.column, target, c, p, cand, s.idCol,
          s.k, s.metric, filter, select, s.tieBreak)
      case (_, true, Some(c), _) if r.bool("rerank", false) =>
        engine.searchRerankMulti(s.sources, s.column, target, c,
          s.candidates(c, "rerank", s.probes.getOrElse(
            throw new IllegalArgumentException(
              """"candidates":"advised" rerank search needs explicit """ +
                "\"probes\" (advice is keyed per (coding, tier, probes))"))),
          s.idCol, s.k, s.probes, s.metric, filter, select, s.tieBreak)
      case (_, true, Some(c), Some(p)) =>
        engine.searchPqMulti(s.sources, s.column, target, c, p,
          s.candidates(c, "pq", p), s.idCol, s.k, s.metric, filter, select,
          s.tieBreak)
      case _ =>
        engine.searchMulti(s.sources, s.column, target, s.metric, s.coding,
          s.probes, s.k, filter, select, s.tieBreak)
    }
    Rows(df, s.marker)
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
  private def postSearchBatch(r: Req): Reply = {
    val targets = r.vectors("targets")
    if (targets.isEmpty)
      throw new IllegalArgumentException("targets must be a non-empty array of vectors")
    val s = new SearchRequest(r)
    import engine.spark.implicits._
    val queries = targets.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("query_id", "__QV__")
    def oneSource(tier: String): String = {
      if (s.sources.size != 1) throw new IllegalArgumentException(
        s"$tier batch search takes exactly one source, got ${s.sources.size}")
      s.sources.head
    }
    val df = (s.quantized, s.coding, s.probes) match {
      case (Some(("sq", c, p, cand)), _, _) =>
        engine.knnJoinSq(c, oneSource("sq"), s.column, queries, "query_id",
          "__QV__", s.k, p, cand, s.idCol, s.metric, s.tieBreak)
      case (Some((tier, c, p, cand)), _, _) =>
        engine.knnJoinBq(c, oneSource(tier), s.column, queries, "query_id",
          "__QV__", s.k, p, cand, s.idCol, s.metric, s.tieBreak)
      case (_, Some(c), Some(p)) =>
        engine.knnJoinIvf(c, oneSource("ivf"), s.column, queries,
          "query_id", "__QV__", s.k, p, s.idCol, s.metric, s.tieBreak)
      case _ =>
        val m = s.metric.getOrElse(throw new IllegalArgumentException(
          "brute batch search requires \"metric\""))
        graft.api.Search.knnJoin(engine.readTable(s.sources), s.column,
          queries, "query_id", "__QV__", m, s.k, s.tieBreak,
          idCol = r.strOpt("idCol"))
    }
    Rows(df.drop("__QV__"), s.marker)
  }

  /** Late-interaction MaxSim retrieval ([[Engine.maxsimSearch]]): body
    * carries the multi-vector query as an array of arrays; optional
    * `poolCol` + `coding` + `probes` + `idCol` select the indexed serving
    * path, `candidates` alone the pooled two-stage, neither the brute. */
  private def postMaxsim(r: Req): Reply = {
    val df = engine.maxsimSearch(r.str("source"), r.str("tokensCol"),
      r.vectors("query"), r.str("metric"),
      math.min(r.int("k", 10), maxResponseRows),
      candidates = r.int("candidates", 0),
      poolCol = r.strOpt("poolCol"),
      coding = r.strOpt("coding"),
      probes = r.intOpt("probes"),
      idCol = r.strOpt("idCol"),
      tieBreak = r.strsOpt("tieBreak").getOrElse(Nil))
    // "select" trims the response (token matrices are heavy; distance is
    // always appended, same contract as the single-vector search)
    Rows(r.strsOpt("select").fold(df)(cols =>
      df.select((cols :+ graft.api.Search.DistCol).distinct.map(col): _*)))
  }

  /** Train + persist a PCA/whitening model ([[Engine.trainPca]]). */
  private def postPca(r: Req): Reply = {
    val name = r.str("name")
    val model = engine.trainPca(name, r.str("source"), r.str("column"),
      k = r.int("k"), whiten = r.bool("whiten", false))
    Json(s"""{"model":${jstr(name)},"k":${model.k},"dim":${model.dim},""" +
      s""""whitened":${model.whitened}}""")
  }

  /** Project a stored table under a persisted PCA model
    * ([[Engine.projectPca]]); `select` trims the response. */
  private def getPcaProject(r: Req): Reply = {
    val df = engine.projectPca(r.param("source"), r.param("column"), r.path("model"))
    val out = r.paramOpt("select")
      .map(s => df.select((s.split(",").toSeq :+ "projection").distinct.map(col): _*))
      .getOrElse(df)
    val limit = r.paramOpt("limit").map(_.toInt).getOrElse(maxResponseRows)
    Rows(out.limit(math.min(limit, maxResponseRows)))
  }

  /** Train + persist a BPE model from a stored table's text column
    * ([[Engine.trainBpe]]) — the tokenizer lifecycle over the wire. */
  private def postBpe(r: Req): Reply = {
    val name = r.str("name")
    val model = engine.trainBpe(name, r.str("source"), r.str("column"),
      numMerges = r.int("numMerges"), maxWords = r.int("maxWords", 65536))
    Json(s"""{"model":${jstr(name)},"merges":${model.merges.length}}""")
  }

  /** Per-row token counts under a persisted model ([[Engine.bpeTokenCounts]]). */
  private def getBpeTokens(r: Req): Reply =
    Rows(engine.bpeTokenCounts(r.param("source"), r.param("idCol"),
      r.param("column"), r.path("model")))

  /** Per-cell index layout stats ([[Engine.indexStats]]) — the ops view
    * for fragmentation and cell skew — plus the tier's source-freshness
    * verdict ([[graft.index.Index.tierFresh]]). */
  private def postIndexStats(r: Req): Reply = {
    val coding = r.str("coding")
    val source = r.str("source")
    val column = r.str("column")
    val tier = r.str("tier", "ivf")
    val stats = engine.indexStats(coding, source, column,
      withRows = r.bool("withRows", false), tier = tier)
    val fresh = graft.index.Index.tierFresh(engine.store, coding, source,
      column, tier)
    val rows = stats.map { case (cell, files, bytes, rows) =>
      s"""{"cell":$cell,"files":$files,"bytes":$bytes,"rows":$rows}"""
    }.mkString(",")
    // skew headline (max/median byte ratio + max byte share) so ops can
    // alert on hot cells without re-deriving it from the cell list
    val skew = graft.index.Index.cellSkew(engine.store, coding, source,
      column, tier)
    Json(f"""{"fresh":$fresh,"skew_ratio":${skew.ratio}%.3f,""" +
      f""""max_share":${skew.maxShare}%.4f,"max_cell":${skew.maxCell},""" +
      s""""cells":[$rows]}""")
  }

  /** Cell-scoped repair after in-place source changes
    * ([[Engine.repairIndex]], any tier). */
  private def postIndexRepair(r: Req): Reply = {
    val s = engine.repairIndex(r.str("coding"), r.str("source"),
      r.str("column"), tier = r.str("tier", "ivf"))
    Json(s"""{"filesChanged":${s.filesChanged},""" +
      s""""cellsRewritten":${s.cellsRewritten},"fullRebuild":${s.fullRebuild}}""")
  }

  /** Coalesce fragmented index cells ([[Engine.compactIndex]]). */
  private def postIndexCompact(r: Req): Reply = {
    val s = engine.compactIndex(r.str("coding"), r.str("source"),
      r.str("column"), maxFilesPerCell = r.int("maxFilesPerCell", 8),
      tier = r.str("tier", "ivf"))
    Json(s"""{"cellsCompacted":${s.cellsCompacted},""" +
      s""""filesBefore":${s.filesBefore},"filesAfter":${s.filesAfter}}""")
  }

  /** Train + persist a bigram stupid-backoff LM ([[Engine.trainNgramLm]])
    * — the perplexity-filter model lifecycle over the wire. */
  private def postNgram(r: Req): Reply = {
    val name = r.str("name")
    val model = engine.trainNgramLm(name, r.str("source"), r.str("column"),
      vocabSize = r.int("vocabSize", 4096),
      minCount = r.int("minCount", 1).toLong,
      alpha = r.double("alpha", 0.4),
      order = r.int("order", 2))
    Json(s"""{"model":${jstr(name)},"vocab":${model.vocab.length},""" +
      s""""bigrams":${model.bigrams.size}}""")
  }

  /** Per-document perplexity under a persisted LM ([[Engine.perplexity]]). */
  private def getPerplexity(r: Req): Reply =
    Rows(engine.perplexity(r.param("source"), r.param("idCol"),
      r.param("column"), r.path("model")))

  /** Duplicated k-token span occurrences
    * ([[graft.ext.Dedup.duplicatedSpans]]). */
  private def postDedupSpans(r: Req): Reply =
    Rows(graft.ext.Dedup.duplicatedSpans(r.table("source"),
      r.str("idCol"), r.str("column"),
      k = r.int("k", 50), minOccurrences = r.int("minOccurrences", 2)))

  /** Exact substring dedup rewrite
    * ([[graft.ext.Dedup.stripDuplicatedSpans]]). */
  private def postDedupStrip(r: Req): Reply =
    Rows(graft.ext.Dedup.stripDuplicatedSpans(r.table("source"),
      r.str("idCol"), r.str("column"), k = r.int("k", 50)))

  /** Edit-distance near-dup pairs — PassJoin pigeonhole blocking by
    * default ([[graft.ext.Dedup.editDistancePairsBlocked]]); `blocked:
    * false` opts into the exact all-pairs baseline (row-guarded).
    * With `corpus` (+ refIdCol/refColumn) the call becomes the
    * cross-table fuzzy JOIN / ingest gate
    * ([[graft.ext.Dedup.editDistanceJoin]]: source rows vs corpus
    * rows, id_a = source id, id_b = corpus id). `prefixLen` optionally
    * truncates the compared text first (long documents rarely want
    * full-text character distance). */
  private def postEditDistance(r: Req): Reply = {
    val k = r.int("maxDist", 2)
    // a keyed call refuses a k past the PassJoin bound before any table read
    if (r.has("corpus")) graft.ext.Dedup.edFamily(k, "editDistanceJoin")
    else if (r.bool("blocked", true)) graft.ext.Dedup.edFamily(k, "editDistancePairsBlocked")
    fuzzyPairs(r,
      graft.ext.Dedup.editDistanceJoin(_, _, _, _, _, _, k),
      graft.ext.Dedup.editDistancePairsBlocked(_, _, _, k),
      graft.ext.Dedup.editDistancePairsExact(_, _, _, k))
  }

  /** Jaro-Winkler near-dup pairs / cross-table join — the fuzzy-NAME
    * mirror of [[postEditDistance]]: `corpus` present → blocked
    * [[graft.ext.Dedup.jaroWinklerJoin]]; absent → blocked pairs
    * (`blocked: false` opts into the guarded exact all-pairs). */
  private def postJaro(r: Req): Reply = {
    val minSim = r.double("minSim", 0.9)
    fuzzyPairs(r,
      graft.ext.Dedup.jaroWinklerJoin(_, _, _, _, _, _, minSim),
      graft.ext.Dedup.jaroWinklerPairsBlocked(_, _, _, minSim),
      graft.ext.Dedup.jaroWinklerPairsExact(_, _, _, minSim))
  }

  /** The body both fuzzy pair routes share: source (idCol, column),
    * optional `prefixLen` truncation of the compared text on both sides,
    * then `corpus` (refIdCol, refColumn) → the cross-table `join`, else
    * the `blocked` pairs (or, with `blocked: false`, the `exact` ones). */
  private def fuzzyPairs(r: Req,
      join: (DataFrame, String, String, DataFrame, String, String) => DataFrame,
      blocked: (DataFrame, String, String) => DataFrame,
      exact: (DataFrame, String, String) => DataFrame): Reply = {
    val src = r.table("source")
    val idCol = r.str("idCol")
    val column = r.str("column")
    val prefixLen = r.intOpt("prefixLen")
    def trunc(df: DataFrame, id: String, c: String): DataFrame =
      prefixLen.fold(df)(n => df.select(col(id), substring(col(c), 1, n).as(c)))
    val df = trunc(src, idCol, column)
    Rows(r.strOpt("corpus") match {
      case Some(corpus) =>
        val refIdCol = r.str("refIdCol")
        val refColumn = r.str("refColumn")
        join(df, idCol, column,
          trunc(engine.readTable(Seq(corpus)), refIdCol, refColumn),
          refIdCol, refColumn)
      case None =>
        (if (r.bool("blocked", true)) blocked else exact)(df, idCol, column)
    })
  }

  /** `durable: true` without a configured checkpoint dir defaults it to
    * `<store root>/checkpoints` — on a cluster the store root is shared
    * storage, which is exactly where durable checkpoints belong. */
  private def durableFlag(r: Req): Boolean = {
    val durable = r.bool("durable", false)
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
  private def postPageRank(r: Req): Reply = {
    val edges = r.table("source")
    val srcCol = r.str("srcCol")
    val dstCol = r.str("dstCol")
    val iters = r.int("iterations", 5)
    val topK = r.int("topK", 100)
    val durable = durableFlag(r)
    val ranks = (r.strOpt("seeds"), r.strOpt("weightCol")) match {
      case (Some(_), Some(_)) =>
        throw new IllegalArgumentException(
          "seeds and weightCol are mutually exclusive")
      case (Some(seedTable), None) =>
        graft.ext.Graph.pageRankSeeded(edges, srcCol, dstCol,
          engine.readTable(Seq(seedTable)), r.str("seedCol"), iters,
          durableCheckpoint = durable)
      case (None, Some(w)) =>
        graft.ext.Graph.pageRankWeighted(edges, srcCol, dstCol,
          w, iters, durableCheckpoint = durable)
      case (None, None) =>
        graft.ext.Graph.pageRank(edges, srcCol, dstCol, iters,
          durableCheckpoint = durable)
    }
    // the Rows render releases the whole plan's checkpoints once it has
    // collected, the rank frame's final one included — without that a
    // long-lived server pins one checkpointed rank frame per request
    Rows(graft.ext.Graph.topRanked(ranks, topK))
  }

  /** Connected components over an edge table
    * ([[graft.ext.Graph.connectedComponents]]: large-star/small-star,
    * O(log n) rounds, loud on non-convergence). Body: source, srcCol,
    * dstCol, optional maxIter (default 50) and durable (see
    * [[postPageRank]]). */
  private def postComponents(r: Req): Reply =
    // released by the Rows render once collected, the final star-edge
    // checkpoint included
    Rows(graft.ext.Graph.connectedComponents(r.table("source"),
      r.str("srcCol"), r.str("dstCol"), r.int("maxIter", 50),
      durableCheckpoint = durableFlag(r)))

  /** Build the lexical (BM25) inverted index of a stored table
    * ([[graft.api.Engine.buildLexicalIndex]]). Body: source, idCol,
    * textCol, optional buckets (default 64). */
  private def postLexicalBuild(r: Req): Reply = {
    engine.buildLexicalIndex(r.str("source"), r.str("idCol"),
      r.str("textCol"), r.int("buckets", 64), r.bool("positional", false))
    Json("""{"status":"built"}""")
  }

  /** Coalesce fragmented posting buckets after incremental syncs
    * ([[graft.api.Engine.compactLexicalIndex]]). Body: source, textCol,
    * optional maxFilesPerBucket (default 8). */
  private def postLexicalCompact(r: Req): Reply = {
    val (b, l) = engine.compactLexicalIndex(r.str("source"),
      r.str("textCol"), r.int("maxFilesPerBucket", 8))
    Json(s"""{"bucketsCompacted":$b,"doclensFilesCompacted":$l}""")
  }

  /** Incremental lexical-index sync — appends postings for documents
    * not yet indexed ([[graft.api.Engine.syncLexicalIndex]]). Body:
    * source, idCol, textCol. Responds with the indexed-doc count. */
  private def postLexicalSync(r: Req): Reply = {
    val n = engine.syncLexicalIndex(r.str("source"), r.str("idCol"),
      r.str("textCol"))
    Json(s"""{"indexed":$n}""")
  }

  /** Top-k BM25 keyword search through the materialized inverted index
    * ([[graft.api.Engine.searchBm25]] — touches only the query terms'
    * posting buckets). Body: source, textCol, terms, optional k. */
  private def postBm25(r: Req): Reply =
    Rows(engine.searchBm25(r.str("source"), r.str("textCol"),
      r.strs("terms"), r.int("k", 10), r.bool("requireAll", false)))

  /** Top-k exact-phrase search through the positional index
    * ([[graft.api.Engine.searchPhrase]]). Body: source, textCol,
    * phrase (term array), optional k. */
  private def postPhrase(r: Req): Reply =
    Rows(engine.searchPhrase(r.str("source"), r.str("textCol"),
      r.strs("phrase"), r.int("k", 10)))

  /** Exact triangle count over an edge table
    * ([[graft.ext.Graph.triangleCount]]: degree-ordered orientation,
    * O(m^1.5) wedges under any skew). Body: source, srcCol, dstCol,
    * optional durable. */
  private def postTriangles(r: Req): Reply =
    Rows(graft.ext.Graph.triangleCount(r.table("source"),
      r.str("srcCol"), r.str("dstCol"), durableCheckpoint = durableFlag(r)))

  /** KMV set algebra — union/Jaccard/intersection key-cardinality
    * estimates across two tables ([[graft.ext.Sketches.kmvSetOps]]:
    * the join-size planner). Body: sourceA, columnA, sourceB, columnB,
    * optional k (default 256). */
  private def postKmvSetOps(r: Req): Reply =
    Rows(graft.ext.Sketches.kmvSetOps(r.table("sourceA"), r.str("columnA"),
      r.table("sourceB"), r.str("columnB"), r.int("k", 256)))

  /** Rolling three-sigma anomaly flags
    * ([[graft.ext.Temporal.rollingAnomalies]]: exact cross-multiplied
    * z-score over the trailing per-key window). Body: source, keyCol,
    * tsCol, idCol, valueCol, optional window/minN/t/scale. */
  private def postAnomalies(r: Req): Reply =
    Rows(graft.ext.Temporal.rollingAnomalies(r.table("source"),
      r.str("keyCol"), r.str("tsCol"), r.str("idCol"), r.str("valueCol"),
      window = r.int("window", 20),
      minN = r.long("minN", 10L),
      t = r.int("t", 3),
      scale = r.double("scale", 1000.0)))

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
  private def postResample(r: Req): Reply = {
    val df = r.table("source")
    val mode = r.str("mode", "locf")
    require(Set("locf", "linear").contains(mode),
      s"mode must be locf | linear, got '$mode'")
    val keyCol = r.str("keyCol")
    val tsCol = r.str("tsCol")
    val valueCol = r.str("valueCol")
    val step = r.long("stepSecs")
    val collapsed = df.groupBy(col(keyCol), col(tsCol))
      .agg(r.strOpt("tieBreakCol") match {
        case Some(tie) => max_by(col(valueCol), col(tie)).as(valueCol)
        case None      => max(col(valueCol)).as(valueCol)
      })
    Rows(
      if (mode == "linear")
        graft.ext.Temporal.resampleLinear(collapsed, keyCol, tsCol, valueCol, step)
      else graft.ext.Temporal.resampleLocf(collapsed, keyCol, tsCol, valueCol, step))
  }

  /** KMV distinct-count estimate ([[graft.ext.Sketches.kmvDistinct]]).
    * Body: source, column, optional k (default 256). */
  private def postKmvDistinct(r: Req): Reply =
    Rows(graft.ext.Sketches.kmvDistinct(r.table("source"), r.str("column"),
      r.int("k", 256)))

  /** Exact heavy hitters via the CMS candidate pass
    * ([[graft.ext.Sketches.heavyHitters]]). Body: source, column,
    * minCount. */
  private def postHeavyHitters(r: Req): Reply =
    Rows(graft.ext.Sketches.heavyHitters(r.table("source"), r.str("column"),
      r.long("minCount")))

  /** Grid-histogram quantiles
    * ([[graft.ext.Sketches.histogramQuantiles]]). Body: source, column,
    * qs (array of (0, 1] fractions), and either binWidth (explicit
    * grid) or targetBins (auto-ranged: width derived from one min/max
    * pass, [[graft.ext.Sketches.histogramQuantilesAuto]]; defaults to
    * 500 when neither is given). */
  private def postQuantiles(r: Req): Reply = {
    val qs = r.doubles("qs")
    val df = r.table("source")
    val column = r.str("column")
    Rows(r.doubleOpt("binWidth") match {
      case Some(w) => graft.ext.Sketches.histogramQuantiles(df, column, w, qs)
      case None => graft.ext.Sketches.histogramQuantilesAuto(
        df, column, qs, r.int("targetBins", 500))
    })
  }

  /** As-of join of two stored tables
    * ([[graft.ext.Temporal.asofJoin]] / `asofJoinBucketed`). Body:
    * left, right, key, leftTs, rightTs, rightCols (array), optional
    * bucketSecs (> 0 selects the hot-key-parallel bucketed variant —
    * identical results, per-(key, bucket) windows). */
  private def postAsof(r: Req): Reply = {
    val left = r.table("left")
    val right = r.table("right")
    val key = r.str("key")
    val leftTs = r.str("leftTs")
    val rightTs = r.str("rightTs")
    val rightCols = r.strs("rightCols")
    Rows(r.longOpt("bucketSecs") match {
      case Some(b) => graft.ext.Temporal.asofJoinBucketed(
        left, right, key, leftTs, rightTs, rightCols, b)
      case None => graft.ext.Temporal.asofJoin(
        left, right, key, leftTs, rightTs, rightCols)
    })
  }

  /** Latest-wins merge of an updates table into a destination table
    * ([[graft.api.Engine.upsertTable]]). Body: dest, updates, keys
    * (array), versionCol, tieBreakCol. */
  private def postUpsert(r: Req): Reply = {
    val keys = r.strs("keys")
    val dest = r.str("dest")
    val n = engine.upsertTable(dest, r.table("updates"), keys,
      r.str("versionCol"), r.str("tieBreakCol"))
    Json(s"""{"table":${jstr(dest)},"rows":$n}""")
  }

  /** Cross-document common segments ([[graft.ext.Dedup.commonSegments]]):
    * boilerplate lines appearing in ≥ minDocs distinct docs. */
  private def postDedupSegments(r: Req): Reply =
    Rows(graft.ext.Dedup.commonSegments(r.table("source"),
      r.str("idCol"), r.str("column"),
      sep = r.str("sep", "\n"), minDocs = r.int("minDocs", 2)))

  /** Remove every occurrence of cross-document common segments
    * ([[graft.ext.Dedup.stripCommonSegments]]). */
  private def postDedupStripSegments(r: Req): Reply =
    Rows(graft.ext.Dedup.stripCommonSegments(r.table("source"),
      r.str("idCol"), r.str("column"),
      sep = r.str("sep", "\n"), minDocs = r.int("minDocs", 2)))

  /** Build the persisted fuzzy (edit-distance) lookup index
    * ([[graft.api.Engine.buildFuzzyIndex]]). */
  private def postFuzzyBuild(r: Req): Reply = {
    engine.buildFuzzyIndex(r.str("source"), r.str("idCol"), r.str("column"),
      maxDist = r.int("maxDist", 2), buckets = r.int("buckets", 64))
    Json("""{"built":true}""")
  }

  /** Single-string fuzzy lookup through the persisted index
    * ([[graft.api.Engine.fuzzyLookup]] — bucket-pruned scans). */
  private def postFuzzy(r: Req): Reply =
    Rows(engine.fuzzyLookup(r.str("source"), r.str("column"), r.str("query"),
      allowStale = r.bool("allowStale", false)))

  /** BATCH edit-distance join of a stored query table against the
    * persisted fuzzy index ([[graft.api.Engine.fuzzyJoin]] — the corpus
    * frames and guard counts come from the artifact). */
  private def postFuzzyJoin(r: Req): Reply = {
    val left = r.table("left")
    Rows(engine.fuzzyJoin(r.str("source"), r.str("column"), left,
      r.str("leftIdCol"), r.str("leftColumn"),
      maxCandidates = r.long("maxCandidates", 50000000L),
      allowStale = r.bool("allowStale", false)))
  }

  /** Incremental fuzzy-index sync ([[graft.api.Engine.syncFuzzyIndex]]);
    * returns rows appended and the post-sync freshness. */
  private def postFuzzySync(r: Req): Reply = {
    val source = r.str("source")
    val column = r.str("column")
    val n = engine.syncFuzzyIndex(source, column)
    Json(s"""{"appended":$n,"fresh":${engine.fuzzyIndexIsFresh(source, column)}}""")
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
  private def postTextSyncStream(r: Req): Reply = {
    val source = r.str("source")
    val textCol = r.str("column")
    val tier = r.str("tier", "fuzzy")
    val checkpoint = r.str("checkpoint",
      s"${engine.root}/streams/${source}_${textCol}_$tier")
    val q = graft.streaming.Streams.textIndexSyncStream(engine, source,
      r.str("idCol"), textCol, checkpoint, tier,
      compactEveryBatches = r.int("compactEveryBatches", 0),
      maxFilesPerBucket = r.int("maxFilesPerBucket", 8))
    opsStreams.put(q.id.toString, q)
    Json(s"""{"id":${jstr(q.id.toString)},"tier":${jstr(tier)},"active":true}""")
  }

  /** Active ops streams (id + liveness). A stream that died on its own
    * (source dropped, artifact error) shows active: false until a
    * DELETE reaps it. */
  private def getStreams(r: Req): Reply = {
    val items = opsStreams.asScala.toSeq.sortBy(_._1).map { case (id, q) =>
      s"""{"id":${jstr(id)},"active":${q.isActive}}"""
    }
    Json(s"""{"streams":[${items.mkString(",")}]}""")
  }

  /** Stop + deregister an ops stream; 404 for an unknown id. */
  private def deleteStream(r: Req): Reply = {
    val id = r.path("id")
    Option(opsStreams.remove(id)) match {
      case None => notFound(s"no stream: $id")
      case Some(q) =>
        q.stop()
        Json(s"""{"stopped":${jstr(id)}}""")
    }
  }

  /** Fuzzy-index bucket compaction ([[graft.api.Engine.compactFuzzyIndex]]). */
  private def postFuzzyCompact(r: Req): Reply = {
    val (buckets, flats) = engine.compactFuzzyIndex(r.str("source"),
      r.str("column"), maxFilesPerBucket = r.int("maxFilesPerBucket", 8))
    Json(s"""{"bucketsCompacted":$buckets,"flatsCompacted":$flats}""")
  }

  /** Incoming-vs-corpus near-dup gate
    * ([[graft.streaming.Streams.nearDupAgainstCorpus]] on its batch
    * path): which docs of `source` near-duplicate a doc of `corpus`. */
  private def postDedupGate(r: Req): Reply = {
    val arrivals = r.table("source")
    val corpus = r.table("corpus")
    Rows(graft.streaming.Streams.nearDupAgainstCorpus(
      arrivals, r.str("idCol"), r.str("column"),
      corpus, r.str("refIdCol"), r.str("refColumn"),
      shingleSize = r.int("shingleSize", 3),
      numHashes = r.int("numHashes", 32),
      bands = r.int("bands", 8),
      threshold = r.double("threshold", 0.5),
      maxRefBucket = r.long("maxRefBucket", 8192L)))
  }

  /** Semantic (embedding) dup gate — the SemDeDup ingest step's batch
    * body ([[graft.streaming.Streams.semanticDupGateForEachBatch]]):
    * arriving vectors from `source` joined to their nearest indexed
    * corpus vector through the trained IVF index, flagged within
    * `maxDist`. Same decision a streaming deployment makes per
    * micro-batch. */
  private def postSemanticGate(r: Req): Reply = {
    val arrivals = r.table("source")
    val flagged = scala.collection.mutable.ListBuffer.empty[DataFrame]
    graft.streaming.Streams.semanticDupGateForEachBatch(
      engine.store, r.str("coding"), r.str("corpus"), r.str("column"),
      r.str("idCol"), r.str("vecCol"),
      maxDist = r.double("maxDist"),
      probes = r.int("probes"),
      corpusIdCol = r.str("corpusIdCol"),
      metric = r.strOpt("metric"),
      sink = flagged += _)(arrivals, 0L)
    // empty arrivals: the gate body skips the sink (nothing to flag)
    flagged.headOption.fold[Reply](Json("""{"rows":[]}"""))(Rows(_))
  }

  /** Benchmark decontamination of a stored corpus against a stored
    * benchmark table ([[graft.streaming.Streams.decontaminateGate]] on
    * its batch path). */
  private def postDecontaminate(r: Req): Reply = {
    val corpus = r.table("source")
    val bench = r.table("bench")
    Rows(graft.streaming.Streams.decontaminateGate(
      corpus, r.str("idCol"), r.str("column"),
      bench, r.str("benchIdCol"), r.str("benchColumn"),
      n = r.int("n", 2), threshold = r.double("threshold", 0.2)))
  }

  /** Span-LEVEL decontamination ([[graft.ext.Dedup.stripContaminatedSpans]]
    * or, with `"report": true`, [[graft.ext.Dedup.contaminatedSpans]]):
    * strip exactly the leaked benchmark k-gram windows instead of
    * dropping whole documents. */
  private def postDecontaminateSpans(r: Req): Reply = {
    val corpus = r.table("source")
    val bench = r.table("bench")
    val spans =
      if (r.bool("report", false)) graft.ext.Dedup.contaminatedSpans _
      else graft.ext.Dedup.stripContaminatedSpans _
    Rows(spans(corpus, r.str("idCol"), r.str("column"),
      bench, r.str("benchIdCol"), r.str("benchColumn"), r.int("k", 8)))
  }

  /** `target` projected onto the source's text column name (`textCol`),
    * read from its own `targetTextCol` when given — the DSIR target
    * frame of both the dsir and curate routes. Projected, not renamed:
    * withColumnRenamed would leave a duplicate when the target table
    * already has a column named textCol, and dsirTrain's reference to
    * it would then be ambiguous. */
  private def dsirTarget(target: String, textCol: String,
      targetTextCol: Option[String]): DataFrame =
    engine.readTable(Seq(target))
      .select(col(targetTextCol.getOrElse(textCol)).as(textCol))

  /** The curation Config fields shared by the curate and curate-drops
    * routes — one parser so the two can never accept different knobs. */
  private def curateCfg(r: Req): graft.ext.Curate.Config = {
    if (r.has("dsirKeepFraction") && !r.has("dsirTarget"))
      throw new IllegalArgumentException(
        "dsirKeepFraction sizes the DSIR stage — it needs dsirTarget " +
          "(the table to train the importance model against)")
    graft.ext.Curate.Config(
      jaccardThreshold = r.double("jaccard", 0.5),
      contamThreshold = r.double("contamThreshold", 0.2),
      minWords = r.int("minWords", 50),
      maxWords = r.int("maxWords", 100000),
      minStopwords = r.int("minStopwords", 2),
      dropUnknownLang = r.bool("dropUnknownLang", true),
      // optional model tier: a persisted quality-model name + threshold
      qualityModel = r.strOpt("qualityModel").map(engine.store.loadQualityModel),
      minQualityProb = r.double("minQualityProb", 0.5),
      // optional bloom decontamination tier for oversized benchmarks
      deconBloomFpp = r.doubleOpt("deconBloomFpp"),
      // optional line-level boilerplate strip pre-stage
      stripSegmentsMinDocs = r.intOpt("stripSegmentsMinDocs"),
      stripSep = r.str("stripSep", "\n"),
      // surgical decontamination: strip leaked spans instead of
      // dropping the document
      contamStripSpans = r.bool("contamStripSpans", false),
      // NFC + control/whitespace normalization before any hashing
      normalizeUnicode = r.bool("normalizeUnicode", false),
      // PII output-scrub (emails/IPs/phones/Luhn cards) on survivors
      redactOutputPii = r.bool("redactOutputPii", false),
      // optional DSIR resampling stage: train against a stored target
      // table ("what the data should look like"); pivot explicit
      // ("dsirPivot") or SIZED by kept mass ("dsirKeepFraction" — the
      // library derives the pivot from this corpus' weight histogram;
      // batch-only: the streaming gate refuses the fraction knob and
      // names the offline resolution, Curate.scala streaming gate)
      dsir = r.strOpt("dsirTarget").map { t =>
        val textCol = r.str("column")
        val model = graft.ext.Corpus.dsirTrain(
          dsirTarget(t, textCol, r.strOpt("dsirTargetTextCol")),
          r.table("source"), textCol,
          r.int("dsirBuckets", 4096), r.double("dsirSmoothing", 1.0))
        (model, r.double("dsirPivot", 0.0))
      },
      dsirKeepFraction = r.doubleOpt("dsirKeepFraction"))
  }

  /** Drop attribution ([[graft.ext.Curate.curateDrops]]): every dropped
    * doc + the first stage that dropped it — the "why was my document
    * removed" audit over the wire. Same knobs as /text/curate. */
  private def postCurateDrops(r: Req): Reply =
    Rows(graft.ext.Curate.curateDrops(r.table("source"),
      r.str("idCol"), r.str("column"), r.table("bench"),
      r.str("benchIdCol"), r.str("benchColumn"), curateCfg(r)))

  /** Full corpus-curation pipeline over stored tables
    * ([[graft.ext.Curate.curate]]). With `dest`, survivors are persisted
    * as a named table ([[graft.api.Engine.curateTable]]) and the row
    * count returned; without it the (response-capped) survivors come
    * back inline. */
  private def postCurate(r: Req): Reply = {
    val source = r.str("source")
    val bench = r.str("bench")
    val idCol = r.str("idCol")
    val column = r.str("column")
    val benchIdCol = r.str("benchIdCol")
    val benchColumn = r.str("benchColumn")
    val cfg = curateCfg(r)
    r.strOpt("dest") match {
      case Some(dest) =>
        val n = engine.curateTable(source, dest, bench,
          idCol, column, benchIdCol, benchColumn, cfg)
        Json(s"""{"table":${jstr(dest)},"rows":$n}""")
      case None =>
        Rows(graft.ext.Curate.curate(
          engine.readTable(Seq(source)), idCol, column,
          engine.readTable(Seq(bench)), benchIdCol, benchColumn, cfg))
    }
  }

  /** Deterministic domain-mixture resampling. Two forms: explicit
    * target `weights` = {"domain": share}
    * ([[graft.ext.Corpus.mixtureSample]]), or `temperature` +
    * `domains` + `textCol` for token-mass share^τ resampling
    * ([[graft.ext.Corpus.temperatureMixture]]). */
  private def postMixture(r: Req): Reply = {
    val df = r.table("source")
    val keyCol = r.str("keyCol")
    val domainCol = r.str("domainCol")
    val salt = r.str("salt", "")
    Rows(r.doubleOpt("temperature") match {
      case Some(tau) => // token-mass temperature form
        graft.ext.Corpus.temperatureMixture(df, keyCol, domainCol,
          r.str("textCol"), r.strs("domains"), tau, salt)
      case None => // explicit target-weights form
        graft.ext.Corpus.mixtureSample(df, keyCol, domainCol,
          r.doubleMap("weights"), salt)
    })
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
  private def postDsir(r: Req): Reply = {
    val df = r.table("source")
    val idCol = r.str("idCol")
    val textCol = r.str("textCol")
    val target = dsirTarget(r.str("target"), textCol, r.strOpt("targetTextCol"))
    val model = graft.ext.Corpus.dsirTrain(target, df, textCol,
      r.int("buckets", 4096), r.double("smoothing", 1.0))
    val w = graft.ext.Corpus.dsirWeights(df, idCol, textCol, model)
    Rows(r.doubleOpt("pivot") match {
      case Some(p) => graft.ext.Corpus.dsirSample(w.localCheckpoint(),
        idCol, col("dsir_weight"), p, r.str("salt", ""))
      case None => w
    })
  }

  /** Per-domain token-budget cut
    * ([[graft.ext.Corpus.tokenBudgetSample]]); budgets =
    * {"domain": tokenCount}. */
  private def postBudget(r: Req): Reply = {
    val df = r.table("source")
    val budgets = r.longMap("budgets")
    Rows(graft.ext.Corpus.tokenBudgetSample(df,
      r.str("keyCol"), r.str("domainCol"), r.str("textCol"), budgets,
      salt = r.str("salt", "")))
  }

  /** Keyed snapshot diff ([[graft.ext.Validate.diffByKey]]): body =
    * {left, right, keyCol}; rows = (key, status added|removed|changed). */
  private def postDiff(r: Req): Reply =
    Rows(graft.ext.Validate.diffByKey(r.table("left"), r.table("right"),
      r.str("keyCol")))

  /** Data-quality constraint gate ([[graft.ext.Validate]]): body
    * `{"source": ..., "checks": [{"type": "not_null"|"unique"|
    * "in_range"|"in_set"|"matches"|"row_count_at_least"|"foreign_key",
    * ...}]}` — one report row per check. The whole batch is one
    * aggregation over one scan of the table. */
  private def postValidate(r: Req): Reply = {
    import graft.ext.Validate
    val df = r.table("source")
    val checks = r.objs("checks").map { c =>
      c.str("type") match {
        case "not_null" => Validate.NotNull(c.str("column"))
        case "unique" => Validate.Unique(c.strs("columns"))
        case "in_range" =>
          Validate.InRange(c.str("column"), c.double("lo"), c.double("hi"))
        case "in_set" => Validate.InSet(c.str("column"), c.strs("values"))
        case "matches" => Validate.Matches(c.str("column"), c.str("regex"))
        case "row_count_at_least" => Validate.RowCountAtLeast(c.long("n"))
        case "foreign_key" =>
          Validate.ForeignKey(c.str("column"), c.table("ref"), c.str("refColumn"))
        case other =>
          throw new IllegalArgumentException(s"unknown check type '$other'")
      }
    }
    Rows(Validate.validate(df, checks))
  }

  /** Snapshot drift between two stored tables
    * ([[graft.ext.Sketches.histogramDrift]]): body `{"sourceA": ...,
    * "sourceB": ..., "valueCol": ..., "binWidth": ...}`; with
    * `"summary": true` responds with the one-row total-variation gate
    * instead of the per-bin report. */
  private def postDrift(r: Req): Reply = {
    val a = r.table("sourceA")
    val b = r.table("sourceB")
    val vc = r.str("valueCol")
    val bw = r.double("binWidth")
    Rows(
      if (r.bool("summary", false)) graft.ext.Sketches.driftSummary(a, b, vc, bw)
      else graft.ext.Sketches.histogramDrift(a, b, vc, bw))
  }

  /** Per-group corpus audit profile
    * ([[graft.ext.TextAnalysis.corpusProfile]]). */
  private def postProfile(r: Req): Reply = {
    val groupCols = r.strs("groupCols")
    Rows(engine.profileTable(r.str("source"), r.str("textCol"), groupCols,
      minWords = r.int("minWords", 50), maxWords = r.int("maxWords", 100000)))
  }

  /** Deterministic split assignment
    * ([[graft.ext.Corpus.assignSplits]]); splits = ordered
    * [{"name": ..., "weight": ...}] (order defines the hash intervals). */
  private def postSplits(r: Req): Reply = {
    val df = r.table("source")
    val splits = r.objs("splits").map(s => s.str("name") -> s.double("weight"))
    Rows(graft.ext.Corpus.assignSplits(df, r.str("keyCol"), splits,
      salt = r.str("salt", "")))
  }

  /** Train the logistic quality classifier on a stored table; labels
    * come from `labelCol`, or — when omitted — weakly from the Gopher
    * rule conjunction (rule distillation). With a `name` the model
    * persists under the store ([[Engine.trainQualityModel]], listable
    * at GET /api/quality); without one the call is stateless. Responds
    * with the weights JSON either way, which feeds
    * `/api/text/quality-score`. */
  private def postQualityModel(r: Req): Reply = {
    val source = r.str("source")
    val textCol = r.str("textCol")
    val labelCol = r.strOpt("labelCol")
    val model = r.strOpt("name") match {
      case Some(n) => engine.trainQualityModel(n, source, textCol, labelCol)
      case None =>
        graft.ext.QualityModel.train(
          graft.ext.QualityModel.labeledFrame(
            engine.readTable(Seq(source)), textCol, labelCol),
          textCol, "__label__")
    }
    Json(model.toJson)
  }

  /** Score a stored table under a persisted `model` name or explicit
    * `weights` (from `/api/text/quality-model` or any external run). */
  private def postQualityScore(r: Req): Reply = {
    val df = r.table("source")
    val model = r.strOpt("model") match {
      case Some(n) => engine.store.loadQualityModel(n)
      case None => graft.ext.QualityModel.Logistic(r.doubles("weights").toArray)
    }
    Rows(graft.ext.QualityModel.score(df, r.str("idCol"), r.str("textCol"), model))
  }

  /** Winnowing fingerprints of a stored table's text column
    * ([[graft.ext.TextAnalysis.winnowFingerprints]]) — (id, fp) rows. */
  private def postFingerprints(r: Req): Reply =
    Rows(graft.ext.TextAnalysis.winnowFingerprints(r.table("source"),
      r.str("idCol"), r.str("column"),
      k = r.int("k", 5), window = r.int("window", 4)))

  /** Document-overlap pairs from shared fingerprints (MOSS step,
    * [[graft.ext.TextAnalysis.overlapPairs]]). */
  private def postOverlaps(r: Req): Reply =
    Rows(graft.ext.TextAnalysis.overlapPairs(r.table("source"),
      r.str("idCol"), r.str("column"),
      k = r.int("k", 5), window = r.int("window", 4),
      minShared = r.int("minShared", 10),
      maxDocFreq = r.int("maxDocFreq", 1000).toLong))
}

object GraftServer {
  /** What a handler returns; the envelope renders it. */
  private sealed trait Reply
  /** Rows of `df` as `{extraFields"rows":[...]}`, capped at
    * `maxResponseRows`, its checkpoints released once rendered. */
  private final case class Rows(df: DataFrame, extraFields: String = "") extends Reply
  /** A pre-rendered JSON body. */
  private final case class Json(body: String, status: Int = 200) extends Reply
  /** `df` as a chunked Arrow IPC stream, planned before the 200. */
  private final case class Arrow(df: DataFrame) extends Reply

  /** A request body over `maxRequestBytes` (413). */
  private final class BodyTooLarge(limit: Int)
      extends RuntimeException(s"request body exceeds $limit bytes")

  /** The one status map, per exception on a failure's cause chain: 400
    * for a bad request (bad or missing field, malformed JSON, Spark
    * analysis or data errors — SQLSTATE class 22 or 42), 409 for state
    * that refuses the request (stale advice, non-convergence), 413 for
    * an oversized body; None when the exception says nothing. */
  private def knownStatus(t: Throwable): Option[Int] = t match {
    case _: BodyTooLarge => Some(413)
    case _: IllegalArgumentException | _: NoSuchElementException |
        _: JsonProcessingException | _: AnalysisException => Some(400)
    case s: SparkThrowable if Option(s.getSqlState)
        .exists(c => c.startsWith("22") || c.startsWith("42")) => Some(400)
    case _: IllegalStateException => Some(409)
    case _ => None
  }

  /** A typed JSON reader: which nodes it accepts (`name` describes them
    * in the refusal) and how it reads one. */
  private final case class Kind[T](name: String, accepts: JsonNode => Boolean,
      read: JsonNode => T)

  private def arrayOf[T](k: Kind[T], name: String): Kind[Seq[T]] =
    Kind(name, n => n.isArray && n.elements().asScala.forall(k.accepts),
      _.elements().asScala.map(k.read).toSeq)
  private def mapOf[T](k: Kind[T], name: String): Kind[Map[String, T]] =
    Kind(name, n => n.isObject && n.properties().asScala.forall(e => k.accepts(e.getValue)),
      _.properties().asScala.map(e => e.getKey -> k.read(e.getValue)).toMap)

  private val Text = Kind[String]("a string", _.isTextual, _.asText())
  private val IntKind = Kind[Int]("an integer",
    n => n.isIntegralNumber && n.canConvertToInt, _.asInt())
  private val LongKind = Kind[Long]("an integer",
    n => n.isIntegralNumber && n.canConvertToLong, _.asLong())
  private val Num = Kind[Double]("a number", _.isNumber, _.asDouble())
  private val Bool = Kind[Boolean]("a boolean", _.isBoolean, _.asBoolean())
  private val Obj = Kind[JsonNode]("an object", _.isObject, identity)
  private val Strs = arrayOf(Text, "an array of strings")
  private val Nums = arrayOf(Num, "an array of numbers")
  private val Vectors = arrayOf(Nums, "an array of number arrays")
  private val Objs = arrayOf(Obj, "an array of objects")
  private val NumMap = mapOf(Num, "an object of numbers")
  private val LongMap = mapOf(LongKind, "an object of integers")
}
