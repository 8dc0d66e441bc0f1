package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.api.Engine
import graft.index.Index
import graft.server.GraftServer

/** End-to-end drive of the serving surface over real TCP — the reference
  * client workflow (`flight.py:137-292`): put → list → scan → make-index →
  * search (brute + probed) → drop, all via HTTP from an independent client.
  */
class ServerSpec extends SparkSuite {
  private val mapper = new ObjectMapper()
  private lazy val root = Files.createTempDirectory("graft-server").toString
  private lazy val engine = new Engine(spark, root)
  private lazy val server = new GraftServer(engine).start()
  private lazy val client = HttpClient.newHttpClient()
  private def base = s"http://127.0.0.1:${server.boundPort}/api"

  private def send(method: String, path: String, body: String = ""): (Int, String) =
    sendTo(server, method, path, body)

  private def sendTo(to: GraftServer, method: String, path: String,
      body: String = ""): (Int, String) =
    sendRaw(to, method, path, HttpRequest.BodyPublishers.ofString(body))

  private def sendRaw(to: GraftServer, method: String, path: String,
      body: HttpRequest.BodyPublisher): (Int, String) = {
    val b = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:${to.boundPort}/api$path"))
    val req = (method match {
      case "GET"    => b.GET()
      case "DELETE" => b.DELETE()
      case m        => b.method(m, body)
    }).header("Content-Type", "application/json").build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  override def afterAll(): Unit = { server.stop(); super.afterAll() }

  test("full client workflow over the wire") {
    // put: 40 labeled 4-d vectors in two clusters
    val rows = (0 until 40).map { i =>
      val c = if (i % 2 == 0) 0.0 else 10.0
      s"""{"id":$i,"vec":[${c + i * 0.001},${c},${c},${c}]}"""
    }
    val (pc, pBody) = send("PUT", "/tables/wire_vecs",
      s"""{"schema":"id LONG, vec ARRAY<DOUBLE>","rows":[${rows.mkString(",")}]}""")
    assert(pc == 200, pBody)
    assert(mapper.readTree(pBody).get("rows").asLong() == 40)

    // list
    val (_, lBody) = send("GET", "/tables")
    assert(mapper.readTree(lBody).get("tables").toString.contains("wire_vecs"))

    // scan with filter + select + limit
    val (sc, sBody) = send("GET", "/tables/wire_vecs?filter=id%20%3C%205&select=id&limit=3")
    assert(sc == 200, sBody)
    assert(mapper.readTree(sBody).get("rows").size() == 3)

    // arrow export over the wire: byte-compatible with the reference's
    // native format — parse the response with the Arrow reader
    val areq = HttpRequest.newBuilder(
      URI.create(s"$base/tables/wire_vecs/arrow?filter=id%20%3C%2010")).GET().build()
    val aresp = client.send(areq, HttpResponse.BodyHandlers.ofByteArray())
    assert(aresp.statusCode() == 200)
    assert(aresp.headers().firstValue("Content-Type").orElse("")
      == "application/vnd.apache.arrow.stream")
    val arrowFile = Files.createTempFile("wire-export", ".arrow")
    Files.write(arrowFile, aresp.body())
    val exported = graft.sources.ArrowIpc.readStream(spark, arrowFile.toString)
    assert(exported.count() == 10)
    assert(exported.schema.fieldNames.toSeq == Seq("id", "vec"))
    assert(exported.select("id").collect().map(_.getLong(0)).sorted.toSeq
      == (0L until 10L))

    // brute search requires an explicit metric
    val (mc, mBody) = send("POST", "/search",
      """{"sources":["wire_vecs"],"column":"vec","target":[0,0,0,0],"k":5}""")
    assert(mc == 400 && mBody.contains("metric"), s"$mc $mBody")

    // brute search: nearest to origin must be the even-id cluster
    val (bc, bBody) = send("POST", "/search",
      """{"sources":["wire_vecs"],"column":"vec","target":[0,0,0,0],
          "metric":"l2","k":5,"tieBreak":["id"],"select":["id"]}""")
    assert(bc == 200, bBody)
    val bruteIds = mapper.readTree(bBody).get("rows").elements()
    val got = new scala.collection.mutable.ArrayBuffer[Long]
    bruteIds.forEachRemaining(n => got += n.get("id").asLong())
    assert(got.toSeq == Seq(0L, 2L, 4L, 6L, 8L), s"got $got")

    // make index (+ PQ and SQ8 sidecars), then probed search finds the
    // same cluster
    val (ic, iBody) = send("POST", "/indexes",
      """{"name":"wire_c1","source":"wire_vecs","column":"vec",
          "metric":"l2","codebookSize":2,"numCodebooks":1,
          "batchSize":64,"numEpochs":2,"sq":true,"bq":true,
          "pq":{"numSubspaces":2,"codebookSize":4}}""")
    assert(ic == 200, iBody)
    val (_, cBody) = send("GET", "/codings")
    assert(cBody.contains("wire_c1"))
    val (qc, qBody) = send("POST", "/search",
      """{"sources":["wire_vecs"],"column":"vec","target":[0,0,0,0],
          "coding":"wire_c1","probes":1,"k":5,"tieBreak":["id"],"select":["id"]}""")
    assert(qc == 200, qBody)
    val probed = new scala.collection.mutable.ArrayBuffer[Long]
    mapper.readTree(qBody).get("rows").elements()
      .forEachRemaining(n => probed += n.get("id").asLong())
    assert(probed.toSeq == Seq(0L, 2L, 4L, 6L, 8L), s"probed $probed")

    // probe advisor over the wire: full-recall target always terminates
    // (final ladder step = all cells, where probed == exact)
    val (ac, aBody) = send("POST", "/advise/probes",
      """{"coding":"wire_c1","source":"wire_vecs","column":"vec",
          "idCol":"id","k":5,"targetRecall":1.0,"sampleQueries":4}""")
    assert(ac == 200, aBody)
    val adv = mapper.readTree(aBody)
    assert(adv.get("numCells").asInt() == 2, aBody)
    assert(adv.get("probes").asInt() >= 1 && adv.get("probes").asInt() <= 2, aBody)
    assert(adv.get("recall").asDouble() == 1.0, aBody)
    assert(adv.get("curve").size() >= 1, aBody)
    assert(!adv.get("cached").asBoolean(), aBody)
    assert(adv.get("sourceStamp").asText().nonEmpty, aBody)

    // the POST persisted the advice; GET serves the CACHE (no
    // measurement pass) and must agree field-for-field
    val (gc, gBody) = send("GET", "/advise/probes/wire_c1")
    assert(gc == 200, gBody)
    val cached = mapper.readTree(gBody)
    assert(cached.get("cached").asBoolean(), gBody)
    for (f <- Seq("probes", "recall", "numCells", "curve", "source",
        "column", "idCol", "k", "targetRecall", "sampleQueries",
        "sourceStamp"))
      assert(cached.get(f) == adv.get(f), s"$f: $gBody vs $aBody")
    // never-advised coding → 404
    assert(send("GET", "/advise/probes/no_such_coding")._1 == 404)

    // candidate-budget advisor for the reranked tiers shares the same
    // sample/truth discipline; full-recall target reachable at full
    // probes so the ladder terminates with reachedTarget
    for (tier <- Seq("sq", "bq")) {
      val (cc2, cBody2) = send("POST", "/advise/candidates",
        s"""{"coding":"wire_c1","source":"wire_vecs","column":"vec",
            "idCol":"id","tier":"$tier","probes":2,"k":5,
            "targetRecall":1.0,"sampleQueries":4,"maxCandidates":40}""")
      assert(cc2 == 200, cBody2)
      val ca = mapper.readTree(cBody2)
      assert(ca.get("tier").asText() == tier, cBody2)
      assert(ca.get("recall").asDouble() == 1.0, cBody2)
      assert(ca.get("reachedTarget").asBoolean(), cBody2)
      assert(ca.get("candidates").asInt() >= 5 &&
        ca.get("candidates").asInt() <= 40, cBody2)
      assert(!ca.get("cached").asBoolean(), cBody2)
      // the POST persisted per (coding, tier, probes); GET serves the
      // CACHE (no measurement pass) and must agree field-for-field
      val (gc2, gBody2) = send("GET",
        s"/advise/candidates/wire_c1?tier=$tier&probes=2")
      assert(gc2 == 200, gBody2)
      val cached2 = mapper.readTree(gBody2)
      assert(cached2.get("cached").asBoolean(), gBody2)
      for (f <- Seq("tier", "probes", "candidates", "recall",
          "reachedTarget", "curve", "source", "column", "idCol", "k",
          "targetRecall", "sampleQueries", "maxCandidates", "sourceStamp"))
        assert(cached2.get(f) == ca.get(f), s"$f: $gBody2 vs $cBody2")
    }
    // a different (tier, probes) is a different advice key → 404
    assert(send("GET", "/advise/candidates/wire_c1?tier=sq&probes=99")._1 == 404)
    assert(send("GET", "/advise/candidates/wire_c1?tier=rerank&probes=2")._1 == 404)

    // "candidates":"advised" serves the persisted (coding, tier, probes)
    // budget and the response carries the visibility marker
    val (avc, avBody) = send("POST", "/search",
      """{"sources":["wire_vecs"],"column":"vec","target":[0,0,0,0],
          "coding":"wire_c1","probes":2,"candidates":"advised",
          "idCol":"id","sq":true,"k":5,"tieBreak":["id"],"select":["id"]}""")
    assert(avc == 200, avBody)
    val avNode = mapper.readTree(avBody)
    assert(avNode.get("advised").asBoolean(), avBody)
    assert(avNode.get("candidates").asInt() >= 5, avBody)
    assert(avNode.get("rows").size() == 5, avBody)
    // an unadvised key over the wire refuses (400 from the resolver)
    assert(send("POST", "/search",
      """{"sources":["wire_vecs"],"column":"vec","target":[0,0,0,0],
          "coding":"wire_c1","probes":1,"candidates":"advised",
          "idCol":"id","sq":true,"k":5}""")._1 == 400)
    // a zero probe count refuses on the candidate tiers too — 400, not
    // an empty 200
    val (zc, zBody) = send("POST", "/search",
      """{"sources":["wire_vecs"],"column":"vec","target":[0,0,0,0],
          "coding":"wire_c1","probes":0,"candidates":40,
          "idCol":"id","sq":true,"k":5}""")
    assert(zc == 400 && zBody.contains("invalid probes"), s"$zc $zBody")

    // stale corpus: on a DEDICATED table (appending to wire_vecs would
    // legitimately un-freshen the index-stats assertions further down)
    // — appending changes the source's file-listing stamp, and the
    // cached advice must refuse LOUDLY (409, naming the re-measure
    // route), not silently serve a curve measured against a corpus
    // that no longer exists
    locally {
      val sp = engine.spark; import sp.implicits._
      engine.makeTable("wire_adv", (0L until 20L).map(i =>
        (i, Seq(i.toDouble % 2, 0.0, 0.0, 0.0))).toDF("id", "vec"))
      val (ic9, iBody9) = send("POST", "/indexes",
        """{"name":"wire_adv_c","source":"wire_adv","column":"vec",
            "metric":"l2","codebookSize":2,"numCodebooks":1,
            "batchSize":64,"numEpochs":2}""")
      assert(ic9 == 200, iBody9)
      val (pc9, pBody9) = send("POST", "/advise/probes",
        """{"coding":"wire_adv_c","source":"wire_adv","column":"vec",
            "idCol":"id","k":5,"targetRecall":1.0,"sampleQueries":4}""")
      assert(pc9 == 200, pBody9)
      assert(send("GET", "/advise/probes/wire_adv_c")._1 == 200)
      // candidate advice persists under the SAME stamp discipline (the
      // rerank tier needs only the base IVF index)
      val (cc9, cBody9c) = send("POST", "/advise/candidates",
        """{"coding":"wire_adv_c","source":"wire_adv","column":"vec",
            "idCol":"id","tier":"rerank","probes":2,"k":5,
            "targetRecall":1.0,"sampleQueries":4,"maxCandidates":40}""")
      assert(cc9 == 200, cBody9c)
      assert(send("GET",
        "/advise/candidates/wire_adv_c?tier=rerank&probes=2")._1 == 200)
      Seq((100L, Seq(9.0, 9.0, 9.0, 9.0))).toDF("id", "vec")
        .write.mode("append").parquet(engine.store.tablePath("wire_adv"))
      val (sc9, sBody9) = send("GET", "/advise/probes/wire_adv_c")
      assert(sc9 == 409, s"$sc9 $sBody9")
      assert(sBody9.contains("STALE") && sBody9.contains("advise"), sBody9)
      // …and the cached candidate advice refuses the changed corpus too
      val (sc9c, sBody9cc) = send("GET",
        "/advise/candidates/wire_adv_c?tier=rerank&probes=2")
      assert(sc9c == 409 && sBody9cc.contains("STALE"), s"$sc9c $sBody9cc")
      // re-advising heals the candidate cache
      assert(send("POST", "/advise/candidates",
        """{"coding":"wire_adv_c","source":"wire_adv","column":"vec",
            "idCol":"id","tier":"rerank","probes":2,"k":5,
            "targetRecall":1.0,"sampleQueries":4,"maxCandidates":40}""")._1 == 200)
      assert(send("GET",
        "/advise/candidates/wire_adv_c?tier=rerank&probes=2")._1 == 200)
      // re-advising over the wire refreshes the stamp and the GET recovers
      val (ac2, aBody2) = send("POST", "/advise/probes",
        """{"coding":"wire_adv_c","source":"wire_adv","column":"vec",
            "idCol":"id","k":5,"targetRecall":1.0,"sampleQueries":4}""")
      assert(ac2 == 200, aBody2)
      assert(send("GET", "/advise/probes/wire_adv_c")._1 == 200)
      // advised serving over the wire is EXPLICIT: coding + NO probes
      // + NO metric stays exact brute force (refused for its missing
      // metric — advice is never a silent default) …
      val (bc9, bBody9) = send("POST", "/search",
        """{"sources":["wire_adv"],"column":"vec","target":[0,0,0,0],
            "coding":"wire_adv_c","k":3}""")
      assert(bc9 == 400 && bBody9.contains("metric"), s"$bc9 $bBody9")
      // … while "probes":"advised" opts in, and the response CARRIES
      // the visibility marker (advised flag + the probe count served)
      // so a caller can always tell exact from advised
      val (dc9, dBody9) = send("POST", "/search",
        """{"sources":["wire_adv"],"column":"vec","target":[0,0,0,0],
            "coding":"wire_adv_c","probes":"advised","k":3,
            "tieBreak":["id"],"select":["id"]}""")
      assert(dc9 == 200, s"$dc9 $dBody9")
      val dNode9 = mapper.readTree(dBody9)
      assert(dNode9.get("rows").size() == 3, dBody9)
      assert(dNode9.get("advised").asBoolean(), dBody9)
      assert(dNode9.get("probes").asInt() >= 1, dBody9)
      // …and an exact probed response carries NO advised marker
      val (xc9, xBody9) = send("POST", "/search",
        """{"sources":["wire_adv"],"column":"vec","target":[0,0,0,0],
            "coding":"wire_adv_c","probes":1,"k":3,"select":["id"]}""")
      assert(xc9 == 200 && !mapper.readTree(xBody9).has("advised"),
        s"$xc9 $xBody9")
      // a typo'd probes string must not silently parse as 0 probes
      assert(send("POST", "/search",
        """{"sources":["wire_adv"],"column":"vec","target":[0,0,0,0],
            "coding":"wire_adv_c","probes":"advsied","k":3}""")._1 == 400)
      // a multi-source union is a different corpus — the advice must
      // NOT apply there (explicitly refused)
      val (mc9, mBody9) = send("POST", "/search",
        """{"sources":["wire_adv","wire_vecs"],"column":"vec",
            "target":[0,0,0,0],"coding":"wire_adv_c",
            "probes":"advised","k":3}""")
      assert(mc9 == 400 && mBody9.contains("single-source"), s"$mc9 $mBody9")
      assert(send("DELETE", "/tables/wire_adv")._1 == 200)
    }

    // ivf+pq search over the wire (candidates + idCol select the PQ path)
    val (pc2, pBody2) = send("POST", "/search",
      """{"sources":["wire_vecs"],"column":"vec","target":[0,0,0,0],
          "coding":"wire_c1","probes":2,"candidates":40,"idCol":"id",
          "k":5,"tieBreak":["id"]}""")
    assert(pc2 == 200, pBody2)
    val pqIds = new scala.collection.mutable.ArrayBuffer[Long]
    mapper.readTree(pBody2).get("rows").elements()
      .forEachRemaining(n => pqIds += n.get("id").asLong())
    assert(pqIds.toSeq == Seq(0L, 2L, 4L, 6L, 8L), s"pq $pqIds")

    // ivf+sq8 over the wire ("sq": true routes to the quantized coarse pass)
    val (sc2, sBody2) = send("POST", "/search",
      """{"sources":["wire_vecs"],"column":"vec","target":[0,0,0,0],
          "coding":"wire_c1","probes":2,"candidates":40,"idCol":"id","sq":true,
          "k":5,"tieBreak":["id"],"select":["id"]}""")
    assert(sc2 == 200, sBody2)
    val sqIds = new scala.collection.mutable.ArrayBuffer[Long]
    mapper.readTree(sBody2).get("rows").elements()
      .forEachRemaining(n => sqIds += n.get("id").asLong())
    assert(sqIds.toSeq == Seq(0L, 2L, 4L, 6L, 8L), s"sq $sqIds")

    // ivf+bq over the wire ("bq": true routes to the 1-bit Hamming coarse
    // pass; full candidate budget here, so the exact rerank pins the result)
    val (bc2, bBody2) = send("POST", "/search",
      """{"sources":["wire_vecs"],"column":"vec","target":[0,0,0,0],
          "coding":"wire_c1","probes":2,"candidates":200,"idCol":"id","bq":true,
          "k":5,"tieBreak":["id"],"select":["id"]}""")
    assert(bc2 == 200, bBody2)
    val bqIds = new scala.collection.mutable.ArrayBuffer[Long]
    mapper.readTree(bBody2).get("rows").elements()
      .forEachRemaining(n => bqIds += n.get("id").asLong())
    assert(bqIds.toSeq == Seq(0L, 2L, 4L, 6L, 8L), s"bq $bqIds")

    // matryoshka prefix search over the wire (full candidate budget ⇒
    // exact, same expected ids)
    val (mk, mkBody) = send("POST", "/search",
      """{"sources":["wire_vecs"],"column":"vec","target":[0,0,0,0],
          "metric":"l2","prefixDim":2,"candidates":1000,"idCol":"id",
          "k":5,"tieBreak":["id"],"select":["id"]}""")
    assert(mk == 200, mkBody)
    val mkIds = new scala.collection.mutable.ArrayBuffer[Long]
    mapper.readTree(mkBody).get("rows").elements()
      .forEachRemaining(n => mkIds += n.get("id").asLong())
    assert(mkIds.toSeq == Seq(0L, 2L, 4L, 6L, 8L), s"matryoshka $mkIds")

    // ops surface: per-cell layout stats + compaction over the wire
    val (stc, stBody) = send("POST", "/indexes/stats",
      """{"coding":"wire_c1","source":"wire_vecs","column":"vec","withRows":true}""")
    assert(stc == 200, stBody)
    assert(mapper.readTree(stBody).get("fresh").asBoolean(), stBody)
    val cellsNode = mapper.readTree(stBody).get("cells")
    assert(cellsNode.size() > 0 && cellsNode.get(0).has("files"), stBody)
    // skew headline rides the stats response
    assert(mapper.readTree(stBody).get("skew_ratio").asDouble() >= 1.0, stBody)
    assert(mapper.readTree(stBody).get("max_share").asDouble() <= 1.0, stBody)
    val (cpc, cpBody) = send("POST", "/indexes/compact",
      """{"coding":"wire_c1","source":"wire_vecs","column":"vec","maxFilesPerCell":64}""")
    assert(cpc == 200 && mapper.readTree(cpBody).get("cellsCompacted").asLong() == 0L,
      cpBody)
    // repair on a consistent index is a no-op that reports zero work
    val (rpc, rpBody) = send("POST", "/indexes/repair",
      """{"coding":"wire_c1","source":"wire_vecs","column":"vec","tier":"sq"}""")
    assert(rpc == 200, rpBody)
    val rp = mapper.readTree(rpBody)
    assert(rp.get("filesChanged").asLong() == 0L && !rp.get("fullRebuild").asBoolean(),
      rpBody)

    // retrieve-rerank over the wire ("rerank": true routes to the plain
    // IVF two-stage path — id-only coarse pass, exact rerank)
    val (rc2, rBody2) = send("POST", "/search",
      """{"sources":["wire_vecs"],"column":"vec","target":[0,0,0,0],
          "coding":"wire_c1","candidates":40,"idCol":"id","rerank":true,
          "k":5,"tieBreak":["id"],"select":["id"]}""")
    assert(rc2 == 200, rBody2)
    val rrIds = new scala.collection.mutable.ArrayBuffer[Long]
    mapper.readTree(rBody2).get("rows").elements()
      .forEachRemaining(n => rrIds += n.get("id").asLong())
    assert(rrIds.toSeq == Seq(0L, 2L, 4L, 6L, 8L), s"rerank $rrIds")

    // the filter applies on the PQ path too (id 0 excluded)
    val (fc2, fBody2) = send("POST", "/search",
      """{"sources":["wire_vecs"],"column":"vec","target":[0,0,0,0],
          "coding":"wire_c1","probes":2,"candidates":40,"idCol":"id",
          "k":4,"filter":"id >= 2","tieBreak":["id"],"select":["id"]}""")
    assert(fc2 == 200, fBody2)
    val fIds = new scala.collection.mutable.ArrayBuffer[Long]
    mapper.readTree(fBody2).get("rows").elements()
      .forEachRemaining(n => fIds += n.get("id").asLong())
    assert(fIds.toSeq == Seq(2L, 4L, 6L, 8L), s"filtered pq $fIds")

    // error shape: unknown route
    val (nc, _) = send("GET", "/nope")
    assert(nc == 404)

    // multi-source PQ search: a second source indexed under the same
    // coding (library API — the wire layer builds one coding per call);
    // the wire search unions per-source exact-reranked top-k
    // b's near-cluster distances land exactly BETWEEN a's (0.001 offset),
    // so the global exact top-6 must interleave the two sources
    val rowsB = (0 until 40).map { i =>
      val c = if (i % 2 == 0) 0.0 else 10.0
      s"""{"id":${100 + i},"vec":[${c + 0.001 + i * 0.001},${c},${c},${c}]}"""
    }
    val (pbc, pbBody) = send("PUT", "/tables/wire_vecs_b",
      s"""{"schema":"id LONG, vec ARRAY<DOUBLE>","rows":[${rowsB.mkString(",")}]}""")
    assert(pbc == 200, pbBody)
    engine.makePqIndex("wire_c1", "wire_vecs_b", "vec",
      graft.coder.PQ.PQConfig(numSubspaces = 2, codebookSize = 4, sampleSize = 64))
    engine.makeSqIndex("wire_c1", "wire_vecs_b", "vec")
    engine.syncIndex("wire_c1", "wire_vecs_b", "vec")
    val (mc2, mBody2) = send("POST", "/search",
      """{"sources":["wire_vecs","wire_vecs_b"],"column":"vec",
          "target":[0,0,0,0],"coding":"wire_c1","probes":2,"candidates":100,
          "idCol":"id","k":6,"tieBreak":["id"],"select":["id"]}""")
    assert(mc2 == 200, mBody2)
    val multiIds = new scala.collection.mutable.ArrayBuffer[Long]
    mapper.readTree(mBody2).get("rows").elements()
      .forEachRemaining(n => multiIds += n.get("id").asLong())
    assert(multiIds.toSeq == Seq(0L, 100L, 2L, 102L, 4L, 104L),
      s"multi-source pq top-6 $multiIds")

    // multi-source SQ8 over the wire: exact rerank distances are
    // comparable across sources, so the same interleaving must appear
    val (msq, msqBody) = send("POST", "/search",
      """{"sources":["wire_vecs","wire_vecs_b"],"column":"vec",
          "target":[0,0,0,0],"coding":"wire_c1","probes":2,"candidates":100,
          "idCol":"id","sq":true,"k":6,"tieBreak":["id"],"select":["id"]}""")
    assert(msq == 200, msqBody)
    val msqIds = new scala.collection.mutable.ArrayBuffer[Long]
    mapper.readTree(msqBody).get("rows").elements()
      .forEachRemaining(n => msqIds += n.get("id").asLong())
    assert(msqIds.toSeq == Seq(0L, 100L, 2L, 102L, 4L, 104L),
      s"multi-source sq top-6 $msqIds")

    // multi-source retrieve-rerank over the wire (same exactness argument)
    val (mrr, mrrBody) = send("POST", "/search",
      """{"sources":["wire_vecs","wire_vecs_b"],"column":"vec",
          "target":[0,0,0,0],"coding":"wire_c1","candidates":100,
          "idCol":"id","rerank":true,"k":6,"tieBreak":["id"],"select":["id"]}""")
    assert(mrr == 200, mrrBody)
    val mrrIds = new scala.collection.mutable.ArrayBuffer[Long]
    mapper.readTree(mrrBody).get("rows").elements()
      .forEachRemaining(n => mrrIds += n.get("id").asLong())
    assert(mrrIds.toSeq == Seq(0L, 100L, 2L, 102L, 4L, 104L),
      s"multi-source rerank top-6 $mrrIds")
    assert(send("DELETE", "/tables/wire_vecs_b")._1 == 200)

    // drop
    assert(send("DELETE", "/indexes/wire_c1")._1 == 200)
    assert(send("DELETE", "/tables/wire_vecs")._1 == 200)
    val (_, lBody2) = send("GET", "/tables")
    assert(!mapper.readTree(lBody2).get("tables").toString.contains("wire_vecs"))
  }

  test("batch-targets search: N targets == N single-target calls, wire == library") {
    val rows = (0 until 40).map { i =>
      val c = if (i % 2 == 0) 0.0 else 10.0
      s"""{"id":$i,"vec":[${c + i * 0.001},${c},${c},${c}]}"""
    }
    val (pc, pBody) = send("PUT", "/tables/batch_vecs",
      s"""{"schema":"id LONG, vec ARRAY<DOUBLE>","rows":[${rows.mkString(",")}]}""")
    assert(pc == 200, pBody)
    val (ic, iBody) = send("POST", "/indexes",
      """{"name":"batch_c1","source":"batch_vecs","column":"vec",
          "metric":"l2","codebookSize":2,"numCodebooks":1,
          "batchSize":64,"numEpochs":2,"sq":true,"bq":true}""")
    assert(ic == 200, iBody)

    // rows → (query_id → ids ordered by distance then id)
    def perQuery(body: String): Map[Long, Seq[Long]] = {
      val triples = new scala.collection.mutable.ArrayBuffer[(Long, Double, Long)]
      mapper.readTree(body).get("rows").elements().forEachRemaining(n =>
        triples += ((n.get("query_id").asLong(),
          n.get("__DISTANCE__").asDouble(), n.get("id").asLong())))
      triples.groupBy(_._1).view
        .mapValues(_.sortBy(t => (t._2, t._3)).map(_._3).toSeq).toMap
    }
    def singleIds(extra: String): Seq[Long] = {
      val (c, b) = send("POST", "/search",
        s"""{"sources":["batch_vecs"],"column":"vec","target":[0,0,0,0],
            $extra,"k":5,"tieBreak":["id"],"select":["id"]}""")
      assert(c == 200, b)
      val ids = new scala.collection.mutable.ArrayBuffer[Long]
      mapper.readTree(b).get("rows").elements()
        .forEachRemaining(n => ids += n.get("id").asLong())
      ids.toSeq
    }
    val targets = """"targets":[[0,0,0,0],[10,10,10,10]]"""
    val evens = Seq(0L, 2L, 4L, 6L, 8L)
    // odd-id vecs are [10 + 0.001·i, 10, 10, 10] ⇒ nearest to
    // [10,10,10,10] are the smallest odd ids
    val odds = Seq(1L, 3L, 5L, 7L, 9L)

    // brute tier: wire batch vs the two single-target calls AND the library
    val (bb, bbBody) = send("POST", "/search",
      s"""{"sources":["batch_vecs"],"column":"vec",$targets,
          "metric":"l2","k":5,"tieBreak":["id"],"idCol":"id"}""")
    assert(bb == 200, bbBody)
    val brute = perQuery(bbBody)
    assert(brute(0L) == evens && brute(1L) == odds, s"brute batch $brute")
    assert(brute(0L) == singleIds(""""metric":"l2""""), "batch != single-target")
    import spark.implicits._
    val queries = Seq((0L, Seq(0.0, 0.0, 0.0, 0.0)), (1L, Seq(10.0, 10.0, 10.0, 10.0)))
      .toDF("query_id", "qv")
    val lib = graft.api.Search.knnJoin(engine.readTable(Seq("batch_vecs")),
        "vec", queries, "query_id", "qv", "l2", 5, Seq("id"), idCol = Some("id"))
      .select("query_id", "id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    assert(brute(0L).sorted == lib(0L) && brute(1L).sorted == lib(1L),
      "wire batch != library knnJoin")

    // ivf / sq / bq tiers at full budgets: same per-query answers
    for (extra <- Seq(
        s""""coding":"batch_c1","probes":2,"idCol":"id"""",
        s""""coding":"batch_c1","probes":2,"candidates":200,"idCol":"id","sq":true""",
        s""""coding":"batch_c1","probes":2,"candidates":200,"idCol":"id","bq":true""")) {
      val (c, b) = send("POST", "/search",
        s"""{"sources":["batch_vecs"],"column":"vec",$targets,$extra,
            "k":5,"tieBreak":["id"]}""")
      assert(c == 200, b)
      val got = perQuery(b)
      assert(got(0L) == evens && got(1L) == odds, s"[$extra] batch $got")
    }

    // "probes":"advised" on the batch form serves the persisted probe
    // advice, equals the explicit call at that budget, and carries the
    // same visibility marker as the single-target form
    val (ac, aBody) = send("POST", "/advise/probes",
      """{"coding":"batch_c1","source":"batch_vecs","column":"vec",
          "idCol":"id","k":5,"targetRecall":1.0,"sampleQueries":4}""")
    assert(ac == 200, aBody)
    val advisedP = mapper.readTree(aBody).get("probes").asInt()
    def batchIvf(probes: String): (Int, String) = send("POST", "/search",
      s"""{"sources":["batch_vecs"],"column":"vec",$targets,
          "coding":"batch_c1","probes":$probes,"idCol":"id",
          "k":5,"tieBreak":["id"]}""")
    val (avc, avBody) = batchIvf("\"advised\"")
    assert(avc == 200, avBody)
    val avNode = mapper.readTree(avBody)
    assert(avNode.get("advised").asBoolean() &&
      avNode.get("probes").asInt() == advisedP, avBody)
    val (xc, xBody) = batchIvf(advisedP.toString)
    assert(xc == 200 && !mapper.readTree(xBody).has("advised"), xBody)
    assert(perQuery(avBody) == perQuery(xBody),
      "advised batch != explicit batch at the advised budget")

    // error contracts: empty targets, brute without metric, indexed
    // tiers take one source
    val (e1, e1b) = send("POST", "/search",
      s"""{"sources":["batch_vecs"],"column":"vec","targets":[],"metric":"l2"}""")
    assert(e1 == 400 && e1b.contains("non-empty"), s"$e1 $e1b")
    val (e2, e2b) = send("POST", "/search",
      s"""{"sources":["batch_vecs"],"column":"vec",$targets}""")
    assert(e2 == 400 && e2b.contains("metric"), s"$e2 $e2b")
    val (e3, e3b) = send("POST", "/search",
      s"""{"sources":["batch_vecs","batch_vecs"],"column":"vec",$targets,
          "coding":"batch_c1","probes":2,"idCol":"id"}""")
    assert(e3 == 400 && e3b.contains("one source"), s"$e3 $e3b")

    assert(send("DELETE", "/indexes/batch_c1")._1 == 200)
    assert(send("DELETE", "/tables/batch_vecs")._1 == 200)
  }

  test("maxsim route over the wire: brute and pooled two-stage") {
    // 8 docs of 2 tokens each; doc 7's tokens align with the query
    val rows = (0 until 8).map { i =>
      val x = i.toDouble
      s"""{"doc":$i,"toks":[[${x},0.0],[0.0,${x}]]}"""
    }
    val (pc, pBody) = send("PUT", "/tables/wire_ms",
      s"""{"schema":"doc LONG, toks ARRAY<ARRAY<DOUBLE>>","rows":[${rows.mkString(",")}]}""")
    assert(pc == 200, pBody)
    val (mc, mBody) = send("POST", "/search/maxsim",
      """{"source":"wire_ms","tokensCol":"toks","query":[[1.0,0.0],[0.0,1.0]],""" +
        """"metric":"dot","k":3,"tieBreak":["doc"],"select":["doc"]}""")
    assert(mc == 200, mBody)
    val got = new scala.collection.mutable.ArrayBuffer[Long]
    mapper.readTree(mBody).get("rows").elements()
      .forEachRemaining(n => got += n.get("doc").asLong())
    assert(got.toSeq == Seq(7L, 6L, 5L), s"maxsim dot must rank by magnitude: $got")
    // pooled two-stage at full budget: identical ranking
    val (c2, b2) = send("POST", "/search/maxsim",
      """{"source":"wire_ms","tokensCol":"toks","query":[[1.0,0.0],[0.0,1.0]],""" +
        """"metric":"dot","k":3,"candidates":8,"tieBreak":["doc"],"select":["doc"]}""")
    assert(c2 == 200, b2)
    val got2 = new scala.collection.mutable.ArrayBuffer[Long]
    mapper.readTree(b2).get("rows").elements()
      .forEachRemaining(n => got2 += n.get("doc").asLong())
    assert(got2.toSeq == got.toSeq, s"pooled@full must equal brute: $got2 vs $got")
    assert(send("DELETE", "/tables/wire_ms")._1 == 200)
  }

  test("pca routes over the wire: train, list, project") {
    val rows = (0 until 60).map { i =>
      // variance concentrated on the first axis
      s"""{"id":$i,"v":[${i * 1.0},${(i % 3) * 0.1},0.5,0.5]}"""
    }
    val (pc, pBody) = send("PUT", "/tables/wire_pca",
      s"""{"schema":"id LONG, v ARRAY<DOUBLE>","rows":[${rows.mkString(",")}]}""")
    assert(pc == 200, pBody)
    val (tc, tBody) = send("POST", "/pca",
      """{"name":"wp","source":"wire_pca","column":"v","k":2,"whiten":true}""")
    assert(tc == 200, tBody)
    val tn = mapper.readTree(tBody)
    assert(tn.get("k").asInt() == 2 && tn.get("dim").asInt() == 4 &&
      tn.get("whitened").asBoolean())
    val (_, lBody) = send("GET", "/pca")
    assert(mapper.readTree(lBody).get("models").toString.contains("wp"))
    val (jc, jBody) = send("GET",
      "/pca/wp/project?source=wire_pca&column=v&select=id&limit=5")
    assert(jc == 200, jBody)
    val rws = mapper.readTree(jBody).get("rows")
    assert(rws.size() == 5, jBody)
    assert(rws.get(0).get("projection").size() == 2, jBody)
    assert(send("DELETE", "/tables/wire_pca")._1 == 200)
  }

  test("bpe + winnow text routes over the wire") {
    // a tiny corpus with an obvious repeated phrase and shared boilerplate
    val docs = Seq(
      0L -> "the quick brown fox jumps over the lazy dog again and again",
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "low lower lowest newest widest low low lower",
      3L -> "completely unrelated content about distributed query engines")
    val rows = docs.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
    val (pc, pBody) = send("PUT", "/tables/wire_docs",
      s"""{"schema":"doc_id LONG, text STRING","rows":[${rows.mkString(",")}]}""")
    assert(pc == 200, pBody)

    // train + persist a BPE model over the wire
    val (tc, tBody) = send("POST", "/bpe",
      """{"name":"wire_bpe","source":"wire_docs","column":"text","numMerges":20}""")
    assert(tc == 200, tBody)
    assert(mapper.readTree(tBody).get("merges").asInt() > 0)
    val (_, mBody) = send("GET", "/bpe")
    assert(mapper.readTree(mBody).get("models").toString.contains("wire_bpe"))

    // encode: per-row token counts under the persisted model, and they
    // must equal the library-path counts exactly
    val (kc, kBody) = send("GET",
      "/bpe/wire_bpe/tokens?source=wire_docs&idCol=doc_id&column=text")
    assert(kc == 200, kBody)
    val wire = new scala.collection.mutable.HashMap[Long, Long]
    mapper.readTree(kBody).get("rows").elements()
      .forEachRemaining(n => wire(n.get("doc_id").asLong()) = n.get("n_tok").asLong())
    val lib = engine.bpeTokenCounts("wire_docs", "doc_id", "text", "wire_bpe")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wire.toMap == lib, s"wire $wire vs library $lib")
    assert(wire(0L) == wire(1L), "identical docs must count identically")

    // winnowing fingerprints: identical docs share every fingerprint
    val (fc, fBody) = send("POST", "/text/fingerprints",
      """{"source":"wire_docs","idCol":"doc_id","column":"text"}""")
    assert(fc == 200, fBody)
    val byDoc = new scala.collection.mutable.HashMap[Long, scala.collection.mutable.Set[Long]]
    mapper.readTree(fBody).get("rows").elements().forEachRemaining { n =>
      byDoc.getOrElseUpdate(n.get("doc_id").asLong(),
        scala.collection.mutable.Set.empty) += n.get("fp").asLong()
    }
    assert(byDoc(0L) == byDoc(1L), "identical docs must fingerprint identically")
    assert(byDoc(0L) != byDoc(3L))

    // overlap pairs: the duplicated pair surfaces, the unrelated doc doesn't
    val (oc, oBody) = send("POST", "/text/overlaps",
      """{"source":"wire_docs","idCol":"doc_id","column":"text","minShared":3}""")
    assert(oc == 200, oBody)
    val pairs = new scala.collection.mutable.ArrayBuffer[(Long, Long)]
    mapper.readTree(oBody).get("rows").elements()
      .forEachRemaining(n => pairs += (n.get("id_a").asLong() -> n.get("id_b").asLong()))
    assert(pairs.contains((0L, 1L)), s"duplicated pair missing: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc must not pair: $pairs")

    assert(send("DELETE", "/tables/wire_docs")._1 == 200)
  }

  test("ngram LM, span-dedup and mixture routes over the wire") {
    val rows = Seq(
      """{"doc_id":0,"text":"a b a","src":"d0"}""",
      """{"doc_id":1,"text":"a b c","src":"d0"}""",
      """{"doc_id":2,"text":"z z","src":"d1"}""",
      """{"doc_id":3,"text":"a b a b","src":"d1"}""")
    val (pc, pBody) = send("PUT", "/tables/wire_lm",
      s"""{"schema":"doc_id LONG, text STRING, src STRING","rows":[${rows.mkString(",")}]}""")
    assert(pc == 200, pBody)

    // LM lifecycle: train+persist, list, score — wire == library exactly
    val (tc, tBody) = send("POST", "/ngram",
      """{"name":"wire_lm1","source":"wire_lm","column":"text","vocabSize":16}""")
    assert(tc == 200, tBody)
    assert(mapper.readTree(tBody).get("vocab").asInt() > 0)
    val (_, mBody) = send("GET", "/ngram")
    assert(mapper.readTree(mBody).get("models").toString.contains("wire_lm1"))
    val (sc2, sBody) = send("GET",
      "/ngram/wire_lm1/perplexity?source=wire_lm&idCol=doc_id&column=text")
    assert(sc2 == 200, sBody)
    val wirePpl = new scala.collection.mutable.HashMap[Long, Double]
    mapper.readTree(sBody).get("rows").elements()
      .forEachRemaining(n => wirePpl(n.get("doc_id").asLong()) = n.get("ppl").asDouble())
    val libPpl = engine.perplexity("wire_lm", "doc_id", "text", "wire_lm1")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(wirePpl.toMap == libPpl, s"wire $wirePpl vs library $libPpl")

    // duplicated spans: "a b" occurs in docs 0, 1, 3 (twice in 3)
    val (dc, dBody) = send("POST", "/dedup/spans",
      """{"source":"wire_lm","idCol":"doc_id","column":"text","k":2}""")
    assert(dc == 200, dBody)
    var maxOcc = 0L
    mapper.readTree(dBody).get("rows").elements()
      .forEachRemaining(n => maxOcc = math.max(maxOcc, n.get("n_occ").asLong()))
    assert(maxOcc >= 4L, s"'a b' must appear >= 4 times, got max $maxOcc")
    val (uc, uBody) = send("POST", "/dedup/strip",
      """{"source":"wire_lm","idCol":"doc_id","column":"text","k":2}""")
    assert(uc == 200, uBody)
    val kept = new scala.collection.mutable.HashMap[Long, String]
    mapper.readTree(uBody).get("rows").elements()
      .forEachRemaining(n => kept(n.get("doc_id").asLong()) = n.get("text_kept").asText())
    assert(kept(0L) == "a b a", "canonical doc keeps its text")
    assert(kept.contains(3L) && kept(3L) != "a b a b", "duplicate span removed")

    // mixture resample — wire == library exactly
    val (xc, xBody) = send("POST", "/sample/mixture",
      """{"source":"wire_lm","keyCol":"doc_id","domainCol":"src","weights":{"d0":0.7,"d1":0.3}}""")
    assert(xc == 200, xBody)
    val wireIds = scala.collection.mutable.Set.empty[Long]
    mapper.readTree(xBody).get("rows").elements()
      .forEachRemaining(n => wireIds += n.get("doc_id").asLong())
    val libIds = graft.ext.Corpus.mixtureSample(
      engine.readTable(Seq("wire_lm")), "doc_id", "src",
      Map("d0" -> 0.7, "d1" -> 0.3)).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(wireIds.toSet == libIds, s"wire $wireIds vs library $libIds")

    assert(send("DELETE", "/tables/wire_lm")._1 == 200)
  }

  test("near-dup gate route: arrivals flagged against a stored corpus") {
    val (c1, b1) = send("PUT", "/tables/gate_corpus",
      """{"schema":"doc_id LONG, text STRING","rows":[
        {"doc_id":1,"text":"the quick brown fox jumps over the lazy dog today"},
        {"doc_id":2,"text":"completely different reference text about spark engines"}]}""")
    assert(c1 == 200, b1)
    val (c2, b2) = send("PUT", "/tables/gate_in",
      """{"schema":"doc_id LONG, text STRING","rows":[
        {"doc_id":10,"text":"the quick brown fox jumps over the lazy dog yesterday"},
        {"doc_id":11,"text":"unrelated arrival with entirely novel words inside"}]}""")
    assert(c2 == 200, b2)
    val (gc, gBody) = send("POST", "/dedup/gate",
      """{"source":"gate_in","idCol":"doc_id","column":"text",
        "corpus":"gate_corpus","refIdCol":"doc_id","refColumn":"text"}""")
    assert(gc == 200, gBody)
    val pairs = scala.collection.mutable.Set.empty[(Long, Long)]
    mapper.readTree(gBody).get("rows").elements()
      .forEachRemaining(n => pairs += ((n.get("doc_id").asLong(), n.get("ref_id").asLong())))
    assert(pairs.toSet == Set((10L, 1L)), s"got $pairs")
    assert(send("DELETE", "/tables/gate_corpus")._1 == 200)
    assert(send("DELETE", "/tables/gate_in")._1 == 200)
  }

  test("jaro route: blocked pairs and cross-table join over the wire") {
    val (c1, b1) = send("PUT", "/tables/wire_jw",
      """{"schema":"doc_id LONG, text STRING","rows":[
        {"doc_id":1,"text":"jonathan archer"},
        {"doc_id":2,"text":"jonathon archer"},
        {"doc_id":3,"text":"kathryn janeway"}]}""")
    assert(c1 == 200, b1)
    val (pc, pBody) = send("POST", "/dedup/jaro",
      """{"source":"wire_jw","idCol":"doc_id","column":"text","minSim":0.9}""")
    assert(pc == 200, pBody)
    val pairs = scala.collection.mutable.Set.empty[(Long, Long)]
    mapper.readTree(pBody).get("rows").elements()
      .forEachRemaining(n => pairs += ((n.get("id_a").asLong(),
        n.get("id_b").asLong())))
    assert(pairs.toSet == Set((1L, 2L)), s"got $pairs")
    // exact variant agrees over the wire
    val (xc, xBody) = send("POST", "/dedup/jaro",
      """{"source":"wire_jw","idCol":"doc_id","column":"text",
        "minSim":0.9,"blocked":false}""")
    assert(xc == 200, xBody)
    val xPairs = scala.collection.mutable.Set.empty[(Long, Long)]
    mapper.readTree(xBody).get("rows").elements()
      .forEachRemaining(n => xPairs += ((n.get("id_a").asLong(),
        n.get("id_b").asLong())))
    assert(xPairs.toSet == pairs.toSet, s"$xPairs vs $pairs")
    // cross-table join: one arrival against the corpus
    val (qc, qBody) = send("PUT", "/tables/wire_jwq",
      """{"schema":"qid LONG, qt STRING","rows":[
        {"qid":10,"qt":"jonathan archar"}]}""")
    assert(qc == 200, qBody)
    val (jc, jBody) = send("POST", "/dedup/jaro",
      """{"source":"wire_jwq","idCol":"qid","column":"qt",
        "corpus":"wire_jw","refIdCol":"doc_id","refColumn":"text",
        "minSim":0.9}""")
    assert(jc == 200, jBody)
    val jp = scala.collection.mutable.Set.empty[(Long, Long)]
    mapper.readTree(jBody).get("rows").elements()
      .forEachRemaining(n => jp += ((n.get("id_a").asLong(),
        n.get("id_b").asLong())))
    assert(jp.contains((10L, 1L)), s"got $jp")
    assert(send("DELETE", "/tables/wire_jwq")._1 == 200)
    assert(send("DELETE", "/tables/wire_jw")._1 == 200)
  }

  test("edit-distance route: blocked pairs with prefix truncation, " +
      "wire == library") {
    val (c1, b1) = send("PUT", "/tables/wire_ed",
      """{"schema":"doc_id LONG, text STRING","rows":[
        {"doc_id":1,"text":"the quick brown fox jumps"},
        {"doc_id":2,"text":"the quick brown fox jumpd"},
        {"doc_id":3,"text":"a completely different sentence"}]}""")
    assert(c1 == 200, b1)
    val (ec, eBody) = send("POST", "/dedup/editdist",
      """{"source":"wire_ed","idCol":"doc_id","column":"text",
        "maxDist":2,"prefixLen":80}""")
    assert(ec == 200, eBody)
    val pairs = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    mapper.readTree(eBody).get("rows").elements()
      .forEachRemaining(n => pairs += ((n.get("id_a").asLong(),
        n.get("id_b").asLong(), n.get("dist").asLong())))
    assert(pairs.toSet == Set((1L, 2L, 1L)), s"got $pairs")
    // exact baseline over the wire agrees
    val (xc, xBody) = send("POST", "/dedup/editdist",
      """{"source":"wire_ed","idCol":"doc_id","column":"text",
        "maxDist":2,"blocked":false}""")
    assert(xc == 200, xBody)
    val xp = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    mapper.readTree(xBody).get("rows").elements()
      .forEachRemaining(n => xp += ((n.get("id_a").asLong(),
        n.get("id_b").asLong(), n.get("dist").asLong())))
    assert(xp.toSet == pairs.toSet, s"exact $xp vs blocked $pairs")
    // cross-table join form: arrivals vs a stored corpus
    val (c2, b2) = send("PUT", "/tables/wire_ed_corpus",
      """{"schema":"ref_id LONG, text STRING","rows":[
        {"ref_id":100,"text":"the quick brown fox jumps!"},
        {"ref_id":101,"text":"nothing like the others"}]}""")
    assert(c2 == 200, b2)
    val (jc, jBody) = send("POST", "/dedup/editdist",
      """{"source":"wire_ed","idCol":"doc_id","column":"text",
        "corpus":"wire_ed_corpus","refIdCol":"ref_id","refColumn":"text",
        "maxDist":2}""")
    assert(jc == 200, jBody)
    val jp = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    mapper.readTree(jBody).get("rows").elements()
      .forEachRemaining(n => jp += ((n.get("id_a").asLong(),
        n.get("id_b").asLong(), n.get("dist").asLong())))
    assert(jp.toSet == Set((1L, 100L, 1L), (2L, 100L, 2L)), s"got $jp")
    assert(send("DELETE", "/tables/wire_ed_corpus")._1 == 200)
    assert(send("DELETE", "/tables/wire_ed")._1 == 200)
  }

  test("fuzzy index routes: build then bucket-pruned lookup over the wire") {
    val (c1, b1) = send("PUT", "/tables/wire_fz",
      """{"schema":"doc_id LONG, text STRING","rows":[
        {"doc_id":1,"text":"the quick brown fox jumps"},
        {"doc_id":2,"text":"the quick brown fox jumpd"},
        {"doc_id":3,"text":"nothing like the others at all"}]}""")
    assert(c1 == 200, b1)
    val (bc, bBody) = send("POST", "/indexes/fuzzy",
      """{"source":"wire_fz","idCol":"doc_id","column":"text","maxDist":2,"buckets":8}""")
    assert(bc == 200, bBody)
    val (fc, fBody) = send("POST", "/search/fuzzy",
      """{"source":"wire_fz","column":"text","query":"the quick brown fox jumps"}""")
    assert(fc == 200, fBody)
    val hits = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    mapper.readTree(fBody).get("rows").elements()
      .forEachRemaining(n => hits += ((n.get("id").asLong(), n.get("dist").asLong())))
    assert(hits.toSeq == Seq((1L, 0L), (2L, 1L)), hits.toString)
    // lifecycle routes: a no-op sync reports 0 appended + fresh, and
    // compaction on an unfragmented index reports 0 work
    val (sc, sBody) = send("POST", "/indexes/fuzzy/sync",
      """{"source":"wire_fz","column":"text"}""")
    assert(sc == 200, sBody)
    assert(mapper.readTree(sBody).get("appended").asLong() == 0L, sBody)
    assert(mapper.readTree(sBody).get("fresh").asBoolean(), sBody)
    val (cc, cBody) = send("POST", "/indexes/fuzzy/compact",
      """{"source":"wire_fz","column":"text"}""")
    assert(cc == 200, cBody)
    // batch join served from the artifact
    val (qc, qBody) = send("PUT", "/tables/wire_fzq",
      """{"schema":"qid LONG, qt STRING","rows":[
        {"qid":10,"qt":"the quick brown fox jumpz"}]}""")
    assert(qc == 200, qBody)
    val (jc, jBody) = send("POST", "/search/fuzzy/join",
      """{"source":"wire_fz","column":"text","left":"wire_fzq",
        "leftIdCol":"qid","leftColumn":"qt"}""")
    assert(jc == 200, jBody)
    val pairs = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    mapper.readTree(jBody).get("rows").elements()
      .forEachRemaining(n => pairs += ((n.get("id_a").asLong(),
        n.get("id_b").asLong(), n.get("dist").asLong())))
    assert(pairs.toSet == Set((10L, 1L, 1L), (10L, 2L, 1L)), pairs.toString)
    assert(send("DELETE", "/tables/wire_fzq")._1 == 200)
    assert(send("DELETE", "/tables/wire_fz")._1 == 200)
  }

  test("text-sync stream routes: start, same-wave serving after an " +
      "append, list, stop") {
    val (c1, b1) = send("PUT", "/tables/wire_tss",
      """{"schema":"doc_id LONG, text STRING","rows":[
        {"doc_id":1,"text":"the quick brown fox jumps"},
        {"doc_id":2,"text":"nothing like the others at all"}]}""")
    assert(c1 == 200, b1)
    val (bc, bBody) = send("POST", "/indexes/fuzzy",
      """{"source":"wire_tss","idCol":"doc_id","column":"text","maxDist":2,"buckets":8}""")
    assert(bc == 200, bBody)
    // start the self-maintenance stream over the wire
    val (sc, sBody) = send("POST", "/streams/text-sync",
      """{"source":"wire_tss","idCol":"doc_id","column":"text","tier":"fuzzy"}""")
    assert(sc == 200, sBody)
    val streamId = mapper.readTree(sBody).get("id").asText()
    assert(mapper.readTree(sBody).get("active").asBoolean(), sBody)
    val (lc, lBody) = send("GET", "/streams")
    assert(lc == 200 && lBody.contains(streamId), lBody)
    // append a near-dup of a NEW string directly to the table (the
    // bulk-data path); the stream must sync it with no manual verb
    import spark.implicits._
    Seq((7L, "completely fresh wording here")).toDF("doc_id", "text")
      .write.mode("append").parquet(engine.store.tablePath("wire_tss"))
    val deadline = System.nanoTime() + 60L * 1000000000L
    var served = false
    while (!served && System.nanoTime() < deadline) {
      val (fc, fBody) = send("POST", "/search/fuzzy",
        """{"source":"wire_tss","column":"text","query":"completely fresh wording hera"}""")
      // until the stream's sync lands, freshness fails loudly (400) —
      // retry; once it lands, the lookup serves the appended row
      served = fc == 200 && fBody.contains("\"id\":7")
      if (!served) Thread.sleep(500L)
    }
    assert(served, "stream did not sync the appended rows within 60s")
    // stop + reap; a second delete of the same id is a 404
    val (dc, dBody) = send("DELETE", s"/streams/$streamId")
    assert(dc == 200, dBody)
    assert(send("GET", "/streams")._2 == """{"streams":[]}""")
    assert(send("DELETE", s"/streams/$streamId")._1 == 404)
    assert(send("DELETE", "/tables/wire_tss")._1 == 200)
  }

  test("span decontamination route: report and strip forms") {
    val (c1, b1) = send("PUT", "/tables/spd_corpus",
      """{"schema":"doc_id LONG, text STRING","rows":[
        {"doc_id":1,"text":"x y a b c d z"},
        {"doc_id":2,"text":"clean text entirely here"}]}""")
    assert(c1 == 200, b1)
    val (c2, b2) = send("PUT", "/tables/spd_bench",
      """{"schema":"bench_doc LONG, text STRING","rows":[
        {"bench_doc":50,"text":"a b c d"}]}""")
    assert(c2 == 200, b2)
    val (rc, rBody) = send("POST", "/text/decontaminate-spans",
      """{"source":"spd_corpus","idCol":"doc_id","column":"text",
        "bench":"spd_bench","benchIdCol":"bench_doc","benchColumn":"text",
        "k":3,"report":true}""")
    assert(rc == 200, rBody)
    var nSpans = 0
    mapper.readTree(rBody).get("rows").elements()
      .forEachRemaining(n => { nSpans += 1; assert(n.get("bench_id").asLong() == 50L) })
    assert(nSpans == 2, s"got $nSpans")
    val (sc4, sBody4) = send("POST", "/text/decontaminate-spans",
      """{"source":"spd_corpus","idCol":"doc_id","column":"text",
        "bench":"spd_bench","benchIdCol":"bench_doc","benchColumn":"text","k":3}""")
    assert(sc4 == 200, sBody4)
    val kept = new scala.collection.mutable.HashMap[Long, String]
    mapper.readTree(sBody4).get("rows").elements()
      .forEachRemaining(n => kept(n.get("doc_id").asLong()) = n.get("text_kept").asText())
    assert(kept(1L) == "x y z" && kept(2L) == "clean text entirely here",
      s"got $kept")
    assert(send("DELETE", "/tables/spd_corpus")._1 == 200)
    assert(send("DELETE", "/tables/spd_bench")._1 == 200)
  }

  test("segment routes: common lines detected and stripped, wire == library") {
    val (c1, b1) = send("PUT", "/tables/seg_docs",
      """{"schema":"doc_id LONG, text STRING","rows":[
        {"doc_id":1,"text":"nav menu\nbody one"},
        {"doc_id":2,"text":"nav menu\nbody two"},
        {"doc_id":3,"text":"nav menu\nbody three"},
        {"doc_id":4,"text":"only unique content"}]}""")
    assert(c1 == 200, b1)
    val (dc, dBody) = send("POST", "/dedup/segments",
      """{"source":"seg_docs","idCol":"doc_id","column":"text","minDocs":3}""")
    assert(dc == 200, dBody)
    val hit = scala.collection.mutable.Set.empty[(Long, Long)]
    mapper.readTree(dBody).get("rows").elements()
      .forEachRemaining(n => hit += ((n.get("doc_id").asLong(), n.get("n_docs").asLong())))
    assert(hit.toSet == Set((1L, 3L), (2L, 3L), (3L, 3L)), s"got $hit")
    val (sc3, sBody3) = send("POST", "/dedup/strip-segments",
      """{"source":"seg_docs","idCol":"doc_id","column":"text","minDocs":3}""")
    assert(sc3 == 200, sBody3)
    val wireKept = new scala.collection.mutable.HashMap[Long, String]
    mapper.readTree(sBody3).get("rows").elements()
      .forEachRemaining(n => wireKept(n.get("doc_id").asLong()) = n.get("text_kept").asText())
    val libKept = graft.ext.Dedup.stripCommonSegments(
        engine.readTable(Seq("seg_docs")), "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(wireKept.toMap == libKept, s"wire $wireKept vs library $libKept")
    assert(wireKept(1L) == "body one", s"got ${wireKept(1L)}")
    assert(send("DELETE", "/tables/seg_docs")._1 == 200)
  }

  test("semantic gate route: arriving vectors flagged through the IVF index") {
    // corpus: two tight clusters; arrivals: one near a corpus vector,
    // one far from everything
    val rows = (0 until 40).map { i =>
      val c = if (i % 2 == 0) 0.0 else 10.0
      s"""{"id":$i,"vec":[${c + i * 0.001},${c},${c},${c}]}"""
    }
    val (c1, b1) = send("PUT", "/tables/sgate_corpus",
      s"""{"schema":"id LONG, vec ARRAY<DOUBLE>","rows":[${rows.mkString(",")}]}""")
    assert(c1 == 200, b1)
    val (ic, ib) = send("POST", "/indexes",
      """{"name":"sgate_c","source":"sgate_corpus","column":"vec",
          "metric":"l2","codebookSize":2,"numCodebooks":1,
          "batchSize":64,"numEpochs":2}""")
    assert(ic == 200, ib)
    val (c2, b2) = send("PUT", "/tables/sgate_in",
      """{"schema":"qid LONG, qvec ARRAY<DOUBLE>","rows":[
        {"qid":100,"qvec":[0.001,0.0,0.0,0.0]},
        {"qid":101,"qvec":[500.0,500.0,500.0,500.0]}]}""")
    assert(c2 == 200, b2)
    val (gc, gBody) = send("POST", "/dedup/semantic-gate",
      """{"source":"sgate_in","coding":"sgate_c","corpus":"sgate_corpus",
        "column":"vec","idCol":"qid","vecCol":"qvec","maxDist":1.0,
        "probes":2,"corpusIdCol":"id","metric":"l2"}""")
    assert(gc == 200, gBody)
    val flagged = scala.collection.mutable.Set.empty[(Long, Long)]
    mapper.readTree(gBody).get("rows").elements()
      .forEachRemaining(n => flagged += ((n.get("qid").asLong(), n.get("id").asLong())))
    assert(flagged.toSet == Set((100L, 0L)),
      s"near arrival flags against its neighbor, far arrival passes: $flagged")
    assert(send("DELETE", "/indexes/sgate_c")._1 == 200)
    assert(send("DELETE", "/tables/sgate_corpus")._1 == 200)
    assert(send("DELETE", "/tables/sgate_in")._1 == 200)
  }

  test("decontamination route: corpus scored against a stored benchmark") {
    val (c1, b1) = send("PUT", "/tables/decon_corpus",
      """{"schema":"doc_id LONG, text STRING","rows":[
        {"doc_id":100,"text":"alpha beta gamma delta epsilon"},
        {"doc_id":101,"text":"totally disjoint words here now"}]}""")
    assert(c1 == 200, b1)
    val (c2, b2) = send("PUT", "/tables/decon_bench",
      """{"schema":"bench_id LONG, text STRING","rows":[
        {"bench_id":1,"text":"alpha beta gamma"}]}""")
    assert(c2 == 200, b2)
    val (dc, dBody) = send("POST", "/text/decontaminate",
      """{"source":"decon_corpus","idCol":"doc_id","column":"text",
        "bench":"decon_bench","benchIdCol":"bench_id","benchColumn":"text",
        "n":2,"threshold":0.5}""")
    assert(dc == 200, dBody)
    val rows = scala.collection.mutable.Set.empty[(Long, Long, Double)]
    mapper.readTree(dBody).get("rows").elements().forEachRemaining(r =>
      rows += ((r.get("doc_id").asLong(), r.get("bench_id").asLong(),
        r.get("containment").asDouble())))
    assert(rows.toSet == Set((100L, 1L, 1.0)), s"got $rows")
    assert(send("DELETE", "/tables/decon_corpus")._1 == 200)
    assert(send("DELETE", "/tables/decon_bench")._1 == 200)
  }

  test("curate route: inline survivors and persisted dest table match the library") {
    val doc1 = "the cat sat on the mat and it was nice to see the dog " +
      "again mail bob@x.example"
    def j(id: Long, t: String) = s"""{"doc_id":$id,"text":"$t"}"""
    val (c1, b1) = send("PUT", "/tables/cur_docs",
      s"""{"schema":"doc_id LONG, text STRING","rows":[
        ${j(1, doc1)},
        ${j(2, doc1)},
        ${j(3, doc1.replace("cat", "bat"))},
        ${j(4, "alpha beta gamma delta epsilon zeta the cat and it sat to play")},
        ${j(5, "of mice and men in the big house it was all fine to see")}]}""")
    assert(c1 == 200, b1)
    val (c2, b2) = send("PUT", "/tables/cur_bench",
      """{"schema":"bench_id LONG, text STRING","rows":[
        {"bench_id":1,"text":"alpha beta gamma delta epsilon zeta"}]}""")
    assert(c2 == 200, b2)
    val req = """"source":"cur_docs","idCol":"doc_id","column":"text",
        "bench":"cur_bench","benchIdCol":"bench_id","benchColumn":"text",
        "jaccard":0.35,"minWords":5,"maxWords":100,"minStopwords":0"""
    val (rc, rBody) = send("POST", "/text/curate", s"{$req}")
    assert(rc == 200, rBody)
    val ids = scala.collection.mutable.Set.empty[Long]
    mapper.readTree(rBody).get("rows").elements()
      .forEachRemaining(n => ids += n.get("doc_id").asLong())
    // 2 exact dup, 3 near-dup, 4 contaminated → survivors 1 and 5
    assert(ids.toSet == Set(1L, 5L), s"got $ids")
    // dest form: persists and reports the same survivor count
    val (dc, dBody) = send("POST", "/text/curate", s"""{$req,"dest":"cur_out"}""")
    assert(dc == 200, dBody)
    assert(mapper.readTree(dBody).get("rows").asLong() == 2L, dBody)
    val (sc2, sBody) = send("GET", "/tables/cur_out?select=doc_id&limit=10")
    assert(sc2 == 200, sBody)
    val stored = scala.collection.mutable.Set.empty[Long]
    mapper.readTree(sBody).get("rows").elements()
      .forEachRemaining(n => stored += n.get("doc_id").asLong())
    assert(stored.toSet == Set(1L, 5L), s"stored $stored")
    // PII output-scrub knob over the wire: same survivors, masked text
    val (pc2, pBody2) = send("POST", "/text/curate",
      s"""{$req,"redactOutputPii":true}""")
    assert(pc2 == 200, pBody2)
    val redIds = scala.collection.mutable.Set.empty[Long]
    val redTexts = scala.collection.mutable.Map.empty[Long, String]
    mapper.readTree(pBody2).get("rows").elements()
      .forEachRemaining { n =>
        redIds += n.get("doc_id").asLong()
        redTexts(n.get("doc_id").asLong()) = n.get("text").asText()
      }
    assert(redIds.toSet == Set(1L, 5L), s"redacted survivors $redIds")
    assert(redTexts(1L).endsWith("mail <EMAIL>"), redTexts(1L))
    // sized DSIR over the wire: keepFraction=1.0 derives the minimal
    // pivot (every scored doc keeps) — survivors unchanged, proving
    // the knob reaches Curate.Config; the route-level guard refuses
    // the fraction without a target to train against
    val (fc, fBody) = send("POST", "/text/curate",
      s"""{$req,"dsirTarget":"cur_bench","dsirTargetTextCol":"text",
          "dsirKeepFraction":1.0}""")
    assert(fc == 200, fBody)
    val dsirIds = scala.collection.mutable.Set.empty[Long]
    mapper.readTree(fBody).get("rows").elements()
      .forEachRemaining(n => dsirIds += n.get("doc_id").asLong())
    assert(dsirIds.toSet == Set(1L, 5L), s"dsir-sized survivors $dsirIds")
    // drop attribution accepts the identical knobs (one shared parser)
    // and still partitions the corpus with the survivors
    val (fc2, fBody2) = send("POST", "/text/curate-drops",
      s"""{$req,"dsirTarget":"cur_bench","dsirTargetTextCol":"text",
          "dsirKeepFraction":1.0}""")
    assert(fc2 == 200, fBody2)
    val dropped = scala.collection.mutable.Set.empty[Long]
    mapper.readTree(fBody2).get("rows").elements()
      .forEachRemaining(n => dropped += n.get("doc_id").asLong())
    assert(dropped.toSet == Set(2L, 3L, 4L), s"dropped $dropped")
    val (bc9, bBody9) = send("POST", "/text/curate",
      s"""{$req,"dsirKeepFraction":0.5}""")
    assert(bc9 == 400 && bBody9.contains("dsirTarget"), s"$bc9 $bBody9")
    Seq("cur_docs", "cur_bench", "cur_out").foreach(t =>
      assert(send("DELETE", s"/tables/$t")._1 == 200))
  }

  test("concurrent clients: parallel scans and searches over one engine") {
    val rows = (0 until 24).map(i =>
      s"""{"vec_id":$i,"embedding":[${i % 4}.0, ${(i + 1) % 4}.0]}""")
    val (pc, pBody) = send("PUT", "/tables/conc_t",
      s"""{"schema":"vec_id LONG, embedding ARRAY<FLOAT>","rows":[${rows.mkString(",")}]}""")
    assert(pc == 200, pBody)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // 12 simultaneous requests across three route kinds against the one
    // shared SparkSession/Engine — all must come back 200 and correct
    val futs = (0 until 12).map { i =>
      Future {
        i % 3 match {
          case 0 => send("GET", "/tables/conc_t?limit=24")
          case 1 => send("GET", "/tables")
          case _ => send("POST", "/search",
            """{"sources":["conc_t"],"column":"embedding","target":[0.0,1.0],"metric":"l2","k":3}""")
        }
      }
    }
    val results = Await.result(Future.sequence(futs), 120.seconds)
    results.zipWithIndex.foreach { case ((code, body), i) =>
      assert(code == 200, s"request $i: $code $body")
      val n = mapper.readTree(body)
      i % 3 match {
        case 0 => assert(n.get("rows").size() == 24, s"request $i: $body")
        case 1 => assert(n.get("tables").toString.contains("conc_t"))
        case _ => assert(n.get("rows").size() == 3, s"request $i: $body")
      }
    }
    assert(send("DELETE", "/tables/conc_t")._1 == 200)
  }

  test("no loopback stall: sequential requests to a cheap route take under 20 ms") {
    // a response goes out as two writes (headers, body); with Nagle on,
    // the body waits for the client's delayed ACK, about 40 ms each time
    assert(send("GET", "/tables")._1 == 200)
    val ms = (0 until 30).map { _ =>
      val t0 = System.nanoTime()
      val (code, body) = send("GET", "/tables")
      assert(code == 200, body)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    assert(ms(15) < 20.0,
      s"median ${ms(15)} ms over 30 sequential requests: ${ms.mkString(", ")}")
  }

  test("hostile names: traversal rejected, quotes never break response JSON") {
    // `..` as a table name must be rejected before any filesystem use
    val (tc, tBody) = send("PUT", "/tables/..",
      """{"schema":"x LONG","rows":[{"x":1}]}""")
    assert(tc == 400, s"$tc $tBody")
    assert(mapper.readTree(tBody).get("error") != null)
    // model name with a path separator in the JSON body → clean 400
    val (hc, hBody) = send("PUT", "/tables/hostile_src",
      """{"schema":"doc_id LONG, text STRING","rows":[{"doc_id":1,"text":"a b"}]}""")
    assert(hc == 200, hBody)
    val (nc, nBody) = send("POST", "/ngram",
      """{"name":"../evil","source":"hostile_src","column":"text"}""")
    assert(nc == 400, s"$nc $nBody")
    assert(mapper.readTree(nBody).get("error").asText().contains("invalid name"))
    // nothing escaped the store root
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root).resolveSibling("evil.json")))
    // a quote-bearing unknown route must still yield PARSEABLE error JSON
    val q = java.net.URLEncoder.encode("""x"y\z""", "UTF-8")
    val (uc, uBody) = send("GET", s"/nosuch/$q")
    assert(uc == 404, s"$uc $uBody")
    assert(mapper.readTree(uBody).get("error").asText().contains("no route"))
    assert(send("DELETE", "/tables/hostile_src")._1 == 200)
  }

  test("sampling + quality-model routes: wire equals library") {
    val rows = (0 until 40).map { i =>
      val d = if (i % 4 == 0) "books" else "web"
      val t = if (i % 2 == 0)
        s"the quick brown fox $i jumps over the lazy dog and runs to the hill in a calm stride"
      else s"### !!! junk $i ???"
      s"""{"doc_id":$i,"src":"$d","text":"$t"}"""
    }.mkString(",")
    val (c0, b0) = send("PUT", "/tables/wire_samp",
      s"""{"schema":"doc_id LONG, src STRING, text STRING","rows":[$rows]}""")
    assert(c0 == 200, b0)
    val df = engine.readTable(Seq("wire_samp"))

    // temperature form of the mixture route
    val (tc, tBody) = send("POST", "/sample/mixture",
      """{"source":"wire_samp","keyCol":"doc_id","domainCol":"src",
         "textCol":"text","domains":["web","books"],"temperature":0.5}""")
    assert(tc == 200, tBody)
    val wireT = scala.collection.mutable.Set.empty[Long]
    mapper.readTree(tBody).get("rows").elements()
      .forEachRemaining(n => wireT += n.get("doc_id").asLong())
    val libT = graft.ext.Corpus.temperatureMixture(df, "doc_id", "src",
      "text", Seq("web", "books"), 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(wireT.toSet == libT, s"wire $wireT vs library $libT")

    // token-budget route
    val (bc, bBody) = send("POST", "/sample/budget",
      """{"source":"wire_samp","keyCol":"doc_id","domainCol":"src",
         "textCol":"text","budgets":{"web":60,"books":30}}""")
    assert(bc == 200, bBody)
    val wireB = scala.collection.mutable.Set.empty[Long]
    mapper.readTree(bBody).get("rows").elements()
      .forEachRemaining(n => wireB += n.get("doc_id").asLong())
    val libB = graft.ext.Corpus.tokenBudgetSample(df, "doc_id", "src",
      "text", Map("web" -> 60L, "books" -> 30L))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(wireB.toSet == libB, s"wire $wireB vs library $libB")
    assert(wireB.nonEmpty)

    // quality model: train (weak Gopher labels) then score with the
    // returned weights — wire scores == library scores
    val (qc, qBody) = send("POST", "/text/quality-model",
      """{"source":"wire_samp","textCol":"text"}""")
    assert(qc == 200, qBody)
    val wNode = mapper.readTree(qBody).get("weights")
    assert(wNode != null && wNode.size() == 4, qBody)
    val ws = (0 until 4).map(wNode.get(_).asDouble()).toArray
    val (sc, sBody) = send("POST", "/text/quality-score",
      s"""{"source":"wire_samp","idCol":"doc_id","textCol":"text",
          "weights":[${ws.mkString(",")}]}""")
    assert(sc == 200, sBody)
    val wireQ = new scala.collection.mutable.HashMap[Long, Double]
    mapper.readTree(sBody).get("rows").elements()
      .forEachRemaining(n => wireQ(n.get("doc_id").asLong()) =
        n.get("quality_prob").asDouble())
    val libQ = graft.ext.QualityModel.score(df, "doc_id", "text",
        graft.ext.QualityModel.Logistic(ws))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(wireQ.toMap == libQ, s"wire $wireQ vs library $libQ")

    // split assignment route — wire == library
    val (vc, vBody) = send("POST", "/sample/splits",
      """{"source":"wire_samp","keyCol":"doc_id","splits":
         [{"name":"train","weight":0.8},{"name":"test","weight":0.2}]}""")
    assert(vc == 200, vBody)
    val wireS = new scala.collection.mutable.HashMap[Long, String]
    mapper.readTree(vBody).get("rows").elements()
      .forEachRemaining(n => wireS(n.get("doc_id").asLong()) =
        n.get("split").asText())
    val libS = graft.ext.Corpus.assignSplits(df, "doc_id",
        Seq("train" -> 0.8, "test" -> 0.2))
      .select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(wireS.toMap == libS, s"wire $wireS vs library $libS")

    // DSIR route: weights form, then resampling form — wire == library
    // (target = the books slice of the same corpus, via a second table)
    val (gc0, gb0) = send("PUT", "/tables/wire_samp_tgt",
      s"""{"schema":"doc_id LONG, text STRING","rows":[
        {"doc_id":900,"text":"the quick brown fox jumps over the lazy dog and runs in a calm stride"},
        {"doc_id":901,"text":"a calm fox runs to the hill in a quick stride over the dog"}]}""")
    assert(gc0 == 200, gb0)
    val (dc, dBody) = send("POST", "/sample/dsir",
      """{"source":"wire_samp","idCol":"doc_id","textCol":"text",
         "target":"wire_samp_tgt","buckets":256}""")
    assert(dc == 200, dBody)
    val wireD = new scala.collection.mutable.HashMap[Long, Double]
    mapper.readTree(dBody).get("rows").elements()
      .forEachRemaining(n => wireD(n.get("doc_id").asLong()) =
        n.get("dsir_weight").asDouble())
    val libModel = graft.ext.Corpus.dsirTrain(
      engine.readTable(Seq("wire_samp_tgt")), df, "text", buckets = 256)
    val libD = graft.ext.Corpus.dsirWeights(df, "doc_id", "text", libModel)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(wireD.toMap == libD, s"wire $wireD vs library $libD")
    val (dc2, dBody2) = send("POST", "/sample/dsir",
      """{"source":"wire_samp","idCol":"doc_id","textCol":"text",
         "target":"wire_samp_tgt","buckets":256,"pivot":0.0,"salt":"s"}""")
    assert(dc2 == 200, dBody2)
    val wireD2 = scala.collection.mutable.Set.empty[Long]
    mapper.readTree(dBody2).get("rows").elements()
      .forEachRemaining(n => wireD2 += n.get("doc_id").asLong())
    val libD2 = graft.ext.Corpus.dsirSample(
        graft.ext.Corpus.dsirWeights(df, "doc_id", "text", libModel),
        "doc_id", org.apache.spark.sql.functions.col("dsir_weight"),
        pivot = 0.0, salt = "s")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(wireD2.toSet == libD2, s"wire $wireD2 vs library $libD2")
    assert(send("DELETE", "/tables/wire_samp_tgt")._1 == 200)

    // corpus profile route — exact integer metrics per group
    val (fc, fBody) = send("POST", "/text/profile",
      """{"source":"wire_samp","textCol":"text","groupCols":["src"],
          "minWords":3,"maxWords":100}""")
    assert(fc == 200, fBody)
    val wireP = new scala.collection.mutable.HashMap[String, (Long, Long)]
    mapper.readTree(fBody).get("rows").elements()
      .forEachRemaining(n => wireP(n.get("src").asText()) =
        (n.get("n_docs").asLong(), n.get("n_tokens").asLong()))
    val libP = graft.ext.TextAnalysis.corpusProfile(df, "text", Seq("src"),
        minWords = 3, maxWords = 100)
      .select("src", "n_docs", "n_tokens")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(wireP.toMap == libP, s"wire $wireP vs library $libP")

    // persisted form: train under a name, list it, score by model name
    val (pc, pBody) = send("POST", "/text/quality-model",
      """{"name":"wire_qm1","source":"wire_samp","textCol":"text"}""")
    assert(pc == 200, pBody)
    val (lc2, lBody) = send("GET", "/quality")
    assert(lc2 == 200 && mapper.readTree(lBody).get("models").toString
      .contains("wire_qm1"), lBody)
    val (mc, mBody) = send("POST", "/text/quality-score",
      """{"source":"wire_samp","idCol":"doc_id","textCol":"text",
          "model":"wire_qm1"}""")
    assert(mc == 200, mBody)
    val wireM = new scala.collection.mutable.HashMap[Long, Double]
    mapper.readTree(mBody).get("rows").elements()
      .forEachRemaining(n => wireM(n.get("doc_id").asLong()) =
        n.get("quality_prob").asDouble())
    // wire scoring under the model NAME == library scoring under the
    // loaded persisted model (exact same weights by construction)
    val libM = graft.ext.QualityModel.score(df, "doc_id", "text",
        engine.store.loadQualityModel("wire_qm1"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(wireM.toMap == libM, s"wire $wireM vs library $libM")

    assert(send("DELETE", "/tables/wire_samp")._1 == 200)
  }

  test("graph + sketch routes: wire == library") {
    val (ec, eBody) = send("PUT", "/tables/wire_edges",
      """{"schema":"src STRING, dst STRING",
          "rows":[{"src":"a","dst":"b"},{"src":"b","dst":"a"},
                  {"src":"a","dst":"c"},{"src":"c","dst":"a"}]}""")
    assert(ec == 200, eBody)
    val (pc, pBody) = send("POST", "/graph/pagerank",
      """{"source":"wire_edges","srcCol":"src","dstCol":"dst",
          "iterations":3,"topK":3}""")
    assert(pc == 200, pBody)
    val wireRanks = new scala.collection.mutable.HashMap[String, Long]
    mapper.readTree(pBody).get("rows").elements()
      .forEachRemaining(n => wireRanks(n.get("v").asText()) = n.get("rank").asLong())
    val libRanks = graft.ext.Graph.pageRank(
        engine.readTable(Seq("wire_edges")), "src", "dst", 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wireRanks.toMap == libRanks, s"wire $wireRanks vs lib $libRanks")

    // weighted variant over the same edges (pre-aggregated weights)
    val (wtc, wtBody) = send("PUT", "/tables/wire_wedges",
      """{"schema":"src STRING, dst STRING, w LONG",
          "rows":[{"src":"a","dst":"b","w":3},{"src":"b","dst":"a","w":1},
                  {"src":"a","dst":"c","w":1},{"src":"c","dst":"a","w":2}]}""")
    assert(wtc == 200, wtBody)
    val (wc, wBody) = send("POST", "/graph/pagerank",
      """{"source":"wire_wedges","srcCol":"src","dstCol":"dst",
          "weightCol":"w","iterations":3,"topK":3}""")
    assert(wc == 200, wBody)
    val wireW = new scala.collection.mutable.HashMap[String, Long]
    mapper.readTree(wBody).get("rows").elements()
      .forEachRemaining(n => wireW(n.get("v").asText()) = n.get("rank").asLong())
    val libW = graft.ext.Graph.pageRankWeighted(
        engine.readTable(Seq("wire_wedges")), "src", "dst", "w", 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wireW.toMap == libW, s"wire $wireW vs lib $libW")
    assert(send("DELETE", "/tables/wire_wedges")._1 == 200)

    // components route (durable: exercises the auto checkpoint-dir path)
    val (cc, cBody) = send("POST", "/graph/components",
      """{"source":"wire_edges","srcCol":"src","dstCol":"dst",
          "durable":true}""")
    assert(cc == 200, cBody)
    val comps = new scala.collection.mutable.HashMap[String, String]
    mapper.readTree(cBody).get("rows").elements()
      .forEachRemaining(n => comps(n.get("v").asText()) =
        n.get("component").asText())
    assert(comps.toMap == Map("a" -> "a", "b" -> "a", "c" -> "a"), cBody)

    val (kc, kBody) = send("POST", "/sketch/distinct",
      """{"source":"wire_edges","column":"src","k":16}""")
    assert(kc == 200, kBody)
    val kRow = mapper.readTree(kBody).get("rows").get(0)
    assert(kRow.get("n_kept").asLong() == 3 &&
      kRow.get("est_distinct").asDouble() == 3.0, kBody)

    val (hc, hBody) = send("POST", "/sketch/heavy-hitters",
      """{"source":"wire_edges","column":"src","minCount":2}""")
    assert(hc == 200, hBody)
    val hh = new scala.collection.mutable.HashMap[String, Long]
    mapper.readTree(hBody).get("rows").elements()
      .forEachRemaining(n => hh(n.get("src").asText()) = n.get("cnt").asLong())
    assert(hh.toMap == Map("a" -> 2L), hBody)

    val (qtc, qtBody) = send("PUT", "/tables/wire_vals",
      """{"schema":"x DOUBLE",
          "rows":[{"x":1},{"x":2},{"x":3},{"x":4},{"x":5},
                  {"x":6},{"x":7},{"x":8},{"x":9},{"x":10}]}""")
    assert(qtc == 200, qtBody)
    val (qc, qBody) = send("POST", "/sketch/quantiles",
      """{"source":"wire_vals","column":"x","binWidth":2.0,"qs":[0.5,1.0]}""")
    assert(qc == 200, qBody)
    val qr = new scala.collection.mutable.HashMap[Double, Double]
    mapper.readTree(qBody).get("rows").elements()
      .forEachRemaining(n => qr(n.get("q").asDouble()) =
        n.get("value").asDouble())
    // rank(0.5)=5 → value 5 → bin 2 → edge 4.0; rank(1)=10 → bin 5 → 10.0
    assert(qr.toMap == Map(0.5 -> 4.0, 1.0 -> 10.0), qBody)

    // auto-ranged: omit binWidth → width = (10−1)/targetBins, wire ==
    // library
    val (qac, qaBody) = send("POST", "/sketch/quantiles",
      """{"source":"wire_vals","column":"x","targetBins":9,"qs":[0.5]}""")
    assert(qac == 200, qaBody)
    val lib = graft.ext.Sketches.histogramQuantilesAuto(
      engine.readTable(Seq("wire_vals")), "x", Seq(0.5), targetBins = 9)
      .select("value").collect()(0).getDouble(0)
    val qaRow = mapper.readTree(qaBody).get("rows").get(0)
    assert(qaRow.get("value").asDouble() == lib, qaBody)
    assert(send("DELETE", "/tables/wire_vals")._1 == 200)

    assert(send("DELETE", "/tables/wire_edges")._1 == 200)
  }

  test("resample route: locf and linear, wire == library") {
    val (tc, tBody) = send("PUT", "/tables/wire_ts",
      """{"schema":"k LONG, ts_sec LONG, v DOUBLE",
          "rows":[{"k":1,"ts_sec":95,"v":1.0},{"k":1,"ts_sec":210,"v":2.0},
                  {"k":1,"ts_sec":455,"v":3.0}]}""")
    assert(tc == 200, tBody)
    for (mode <- Seq("locf", "linear")) {
      val (rc, rBody) = send("POST", "/events/resample",
        s"""{"source":"wire_ts","keyCol":"k","tsCol":"ts_sec",
            "valueCol":"v","stepSecs":100,"mode":"$mode"}""")
      assert(rc == 200, rBody)
      val wire = new scala.collection.mutable.HashMap[Long, Double]
      mapper.readTree(rBody).get("rows").elements()
        .forEachRemaining(n => wire(n.get("grid_ts").asLong()) =
          n.get("v").asDouble())
      val df = engine.readTable(Seq("wire_ts"))
      val lib = (if (mode == "linear")
          graft.ext.Temporal.resampleLinear(df, "k", "ts_sec", "v", 100L)
        else graft.ext.Temporal.resampleLocf(df, "k", "ts_sec", "v", 100L))
        .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
      assert(wire.toMap == lib, s"$mode: wire $wire vs lib $lib")
    }
    assert(send("DELETE", "/tables/wire_ts")._1 == 200)
  }

  test("asof route: plain and bucketed variants agree with the library") {
    val (lc, lBody) = send("PUT", "/tables/wire_asof_l",
      """{"schema":"eid LONG, k LONG, ts LONG",
          "rows":[{"eid":1,"k":7,"ts":100},{"eid":2,"k":7,"ts":250},
                  {"eid":3,"k":8,"ts":50}]}""")
    assert(lc == 200, lBody)
    val (rc, rBody) = send("PUT", "/tables/wire_asof_r",
      """{"schema":"k LONG, rts LONG, v DOUBLE",
          "rows":[{"k":7,"rts":90,"v":1.5},{"k":7,"rts":240,"v":2.5},
                  {"k":8,"rts":60,"v":9.0}]}""")
    assert(rc == 200, rBody)
    for (extra <- Seq("", ""","bucketSecs":100""")) {
      val (ac, aBody) = send("POST", "/events/asof",
        s"""{"left":"wire_asof_l","right":"wire_asof_r","key":"k",
            "leftTs":"ts","rightTs":"rts","rightCols":["v"]$extra}""")
      assert(ac == 200, aBody)
      val got = new scala.collection.mutable.HashMap[Long, Option[Double]]
      mapper.readTree(aBody).get("rows").elements()
        .forEachRemaining(n => got(n.get("eid").asLong()) =
          if (n.has("v")) Some(n.get("v").asDouble()) else None)
      // eid 1: last k=7 at ts≤100 is 90→1.5; eid 2: 240→2.5;
      // eid 3: k=8 has no row at ts≤50 → null (absent in toJSON rows)
      assert(got.toMap == Map(1L -> Some(1.5), 2L -> Some(2.5), 3L -> None),
        s"variant '$extra': $got")
    }
    assert(send("DELETE", "/tables/wire_asof_l")._1 == 200)
    assert(send("DELETE", "/tables/wire_asof_r")._1 == 200)
  }

  test("upsert route: latest-wins merge, wire == library semantics") {
    val (c1, b1) = send("PUT", "/tables/wire_ups",
      """{"schema":"id LONG, ver LONG, txt STRING",
          "rows":[{"id":1,"ver":10,"txt":"old1"},{"id":2,"ver":10,"txt":"old2"}]}""")
    assert(c1 == 200, b1)
    val (c2, b2) = send("PUT", "/tables/wire_ups_new",
      """{"schema":"id LONG, ver LONG, txt STRING",
          "rows":[{"id":1,"ver":20,"txt":"new1"},{"id":2,"ver":5,"txt":"stale"},
                  {"id":3,"ver":1,"txt":"add3"}]}""")
    assert(c2 == 200, b2)
    val (uc, uBody) = send("POST", "/tables/upsert",
      """{"dest":"wire_ups","updates":"wire_ups_new","keys":["id"],
          "versionCol":"ver","tieBreakCol":"ver"}""")
    assert(uc == 200, uBody)
    assert(mapper.readTree(uBody).get("rows").asLong() == 3)
    val got = engine.readTable(Seq("wire_ups")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    assert(got == Seq((1L, 20L, "new1"), (2L, 10L, "old2"), (3L, 1L, "add3")))
    assert(send("DELETE", "/tables/wire_ups")._1 == 200)
    assert(send("DELETE", "/tables/wire_ups_new")._1 == 200)
  }

  test("validate route: constraint batch over the wire") {
    val (c1, b1) = send("PUT", "/tables/wire_val",
      """{"schema":"id LONG, cat STRING, score DOUBLE",
          "rows":[{"id":1,"cat":"a","score":0.5},
                  {"id":2,"cat":"b","score":1.5},
                  {"id":3,"score":0.2},
                  {"id":3,"cat":"zz","score":0.9}]}""")
    assert(c1 == 200, b1)
    val (c2, b2) = send("PUT", "/tables/wire_val_dim",
      """{"schema":"cat STRING","rows":[{"cat":"a"},{"cat":"b"}]}""")
    assert(c2 == 200, b2)
    val (vc, vBody) = send("POST", "/tables/validate",
      """{"source":"wire_val","checks":[
           {"type":"not_null","column":"cat"},
           {"type":"unique","columns":["id"]},
           {"type":"in_range","column":"score","lo":0.0,"hi":1.0},
           {"type":"row_count_at_least","n":10},
           {"type":"foreign_key","column":"cat","ref":"wire_val_dim",
            "refColumn":"cat"}]}""")
    assert(vc == 200, vBody)
    val got = new scala.collection.mutable.HashMap[String, (Long, Boolean)]
    mapper.readTree(vBody).get("rows").elements().forEachRemaining(n =>
      got(n.get("check").asText()) =
        (n.get("violations").asLong(), n.get("passed").asBoolean()))
    assert(got.size == 5, got)
    assert(got.values.count(_._2) == 0, got) // every check violated
    assert(got.exists { case (k, v) => k.contains("not_null") && v._1 == 1L },
      got) // the one null cat
    assert(got.exists { case (k, v) => k.contains("unique") && v._1 == 1L },
      got) // one duplicated id beyond its first
    assert(got.exists { case (k, v) =>
      k.contains("row_count") && v._1 == 6L }, got) // 10 − 4 rows
    assert(got.exists { case (k, v) =>
      k.contains("foreign_key") && v._1 == 1L }, got) // "zz" not in dim
    // keyed snapshot diff over the wire: v2 drops id 2, edits id 4's
    // cat, adds id 9 (wire_val has a duplicate id 3 — diff refuses, so
    // diff the deduplicated halves)
    val (c3, b3) = send("PUT", "/tables/wire_diff_a",
      """{"schema":"id LONG, cat STRING",
          "rows":[{"id":1,"cat":"a"},{"id":2,"cat":"b"},{"id":4,"cat":"c"}]}""")
    assert(c3 == 200, b3)
    val (c4, b4) = send("PUT", "/tables/wire_diff_b",
      """{"schema":"id LONG, cat STRING",
          "rows":[{"id":1,"cat":"a"},{"id":4,"cat":"cc"},{"id":9,"cat":"z"}]}""")
    assert(c4 == 200, b4)
    val (dc, dBody) = send("POST", "/tables/diff",
      """{"left":"wire_diff_a","right":"wire_diff_b","keyCol":"id"}""")
    assert(dc == 200, dBody)
    val dGot = new scala.collection.mutable.HashMap[Long, String]
    mapper.readTree(dBody).get("rows").elements().forEachRemaining(n =>
      dGot(n.get("id").asLong()) = n.get("status").asText())
    assert(dGot.toMap == Map(2L -> "removed", 4L -> "changed",
      9L -> "added"), dGot)
    assert(send("DELETE", "/tables/wire_val")._1 == 200)
    assert(send("DELETE", "/tables/wire_val_dim")._1 == 200)
    assert(send("DELETE", "/tables/wire_diff_a")._1 == 200)
    assert(send("DELETE", "/tables/wire_diff_b")._1 == 200)
  }

  test("lexical index routes: build, bm25 search, incremental sync") {
    val (c1, b1) = send("PUT", "/tables/wire_lex",
      """{"schema":"doc_id LONG, text STRING",
          "rows":[{"doc_id":1,"text":"spark shuffles the hash join build side"},
                  {"doc_id":2,"text":"a scan reads parquet then a hash aggregate runs"},
                  {"doc_id":3,"text":"nothing relevant here"}]}""")
    assert(c1 == 200, b1)
    val (bc, bBody) = send("POST", "/indexes/lexical",
      """{"source":"wire_lex","idCol":"doc_id","textCol":"text","buckets":16}""")
    assert(bc == 200, bBody)
    val (sc, sBody) = send("POST", "/search/bm25",
      """{"source":"wire_lex","textCol":"text","terms":["hash","join"],"k":5}""")
    assert(sc == 200, sBody)
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    mapper.readTree(sBody).get("rows").elements()
      .forEachRemaining(n => ids += n.get("id").asLong())
    assert(ids.toSet == Set(1L, 2L), sBody) // doc 3 has no query term
    // ingest one more matching doc (library-side append — the wire PUT
    // is an overwrite), sync, and find it
    locally {
      val sp = engine.spark; import sp.implicits._
      Seq((4L, "another hash heavy line")).toDF("doc_id", "text")
        .write.mode("append").parquet(engine.store.tablePath("wire_lex"))
    }
    val (yc, yBody) = send("POST", "/indexes/lexical/sync",
      """{"source":"wire_lex","idCol":"doc_id","textCol":"text"}""")
    assert(yc == 200, yBody)
    assert(mapper.readTree(yBody).get("indexed").asLong() == 1L, yBody)
    val (s2c, s2Body) = send("POST", "/search/bm25",
      """{"source":"wire_lex","textCol":"text","terms":["hash"],"k":5}""")
    assert(s2c == 200, s2Body)
    val ids2 = scala.collection.mutable.ArrayBuffer.empty[Long]
    mapper.readTree(s2Body).get("rows").elements()
      .forEachRemaining(n => ids2 += n.get("id").asLong())
    assert(ids2.contains(4L), s2Body)
    // compact the freshly synced buckets; search results unchanged
    val (cc, cBody) = send("POST", "/indexes/lexical/compact",
      """{"source":"wire_lex","textCol":"text","maxFilesPerBucket":1}""")
    assert(cc == 200, cBody)
    val (s3c, s3Body) = send("POST", "/search/bm25",
      """{"source":"wire_lex","textCol":"text","terms":["hash"],"k":5}""")
    assert(s3c == 200 && s3Body == s2Body, s3Body)
    assert(send("DELETE", "/tables/wire_lex")._1 == 200)
  }

  test("positional lexical index: phrase route, AND-mode bm25") {
    val (c1, b1) = send("PUT", "/tables/wire_phr",
      """{"schema":"doc_id LONG, text STRING",
          "rows":[{"doc_id":1,"text":"the hash join runs then a hash join again"},
                  {"doc_id":2,"text":"join hash is reversed here"},
                  {"doc_id":3,"text":"hash only no pair"}]}""")
    assert(c1 == 200, b1)
    assert(send("POST", "/indexes/lexical",
      """{"source":"wire_phr","idCol":"doc_id","textCol":"text",
          "buckets":8,"positional":true}""")._1 == 200)
    val (pc, pBody) = send("POST", "/search/phrase",
      """{"source":"wire_phr","textCol":"text","phrase":["hash","join"],"k":5}""")
    assert(pc == 200, pBody)
    val hits = scala.collection.mutable.Map.empty[Long, Long]
    mapper.readTree(pBody).get("rows").elements()
      .forEachRemaining(n => hits(n.get("id").asLong()) = n.get("hits").asLong())
    assert(hits == Map(1L -> 2L), pBody)
    // AND-mode: docs must contain both terms (1 and 2, not 3)
    val (ac, aBody) = send("POST", "/search/bm25",
      """{"source":"wire_phr","textCol":"text","terms":["hash","join"],
          "k":5,"requireAll":true}""")
    assert(ac == 200, aBody)
    val andIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    mapper.readTree(aBody).get("rows").elements()
      .forEachRemaining(n => andIds += n.get("id").asLong())
    assert(andIds.toSet == Set(1L, 2L), aBody)
    assert(send("DELETE", "/tables/wire_phr")._1 == 200)
  }

  test("triangles, set-ops and anomalies routes over the wire") {
    // K4 + disjoint triangle = 5 triangles
    val (c1, b1) = send("PUT", "/tables/wire_tri",
      """{"schema":"src LONG, dst LONG",
          "rows":[{"src":1,"dst":2},{"src":1,"dst":3},{"src":1,"dst":4},
                  {"src":2,"dst":3},{"src":2,"dst":4},{"src":3,"dst":4},
                  {"src":6,"dst":7},{"src":7,"dst":8},{"src":6,"dst":8}]}""")
    assert(c1 == 200, b1)
    val (tc, tBody) = send("POST", "/graph/triangles",
      """{"source":"wire_tri","srcCol":"src","dstCol":"dst"}""")
    assert(tc == 200, tBody)
    assert(mapper.readTree(tBody).get("rows").elements().next()
      .get("triangles").asLong() == 5L, tBody)

    // set ops: {0..59} vs {40..99} exact below k
    def keyRows(lo: Int, hi: Int) =
      (lo until hi).map(i => s"""{"k":"v$i"}""").mkString(",")
    assert(send("PUT", "/tables/wire_ka",
      s"""{"schema":"k STRING","rows":[${keyRows(0, 60)}]}""")._1 == 200)
    assert(send("PUT", "/tables/wire_kb",
      s"""{"schema":"k STRING","rows":[${keyRows(40, 100)}]}""")._1 == 200)
    val (sc2, sBody2) = send("POST", "/sketch/set-ops",
      """{"sourceA":"wire_ka","columnA":"k",
          "sourceB":"wire_kb","columnB":"k","k":256}""")
    assert(sc2 == 200, sBody2)
    val sRow = mapper.readTree(sBody2).get("rows").elements().next()
    assert(sRow.get("est_union").asDouble() == 100.0, sBody2)
    assert(sRow.get("jaccard_est").asDouble() == 0.2, sBody2)
    assert(sRow.get("est_intersect").asDouble() == 20.0, sBody2)

    // anomalies: 12 steady values then a spike
    val evRows = ((1 to 12).map(i => s"""{"id":$i,"ts":$i,"k":"A","v":100.0}""") :+
      s"""{"id":13,"ts":13,"k":"A","v":200.0}""").mkString(",")
    assert(send("PUT", "/tables/wire_anom",
      s"""{"schema":"id LONG, ts LONG, k STRING, v DOUBLE",
           "rows":[$evRows]}""")._1 == 200)
    val (ac, aBody) = send("POST", "/events/anomalies",
      """{"source":"wire_anom","keyCol":"k","tsCol":"ts","idCol":"id",
          "valueCol":"v"}""")
    assert(ac == 200, aBody)
    val flagged = mapper.readTree(aBody).get("rows")
    assert(flagged.size() == 1 &&
      flagged.elements().next().get("id").asLong() == 13L, aBody)
    for (t <- Seq("wire_tri", "wire_ka", "wire_kb", "wire_anom"))
      assert(send("DELETE", s"/tables/$t")._1 == 200)
  }

  test("drift route: per-bin report and total-variation summary") {
    val (c1, b1) = send("PUT", "/tables/wire_drift_a",
      """{"schema":"v DOUBLE",
          "rows":[{"v":0.1},{"v":0.2},{"v":1.1},{"v":1.2}]}""")
    assert(c1 == 200, b1)
    val (c2, b2) = send("PUT", "/tables/wire_drift_b",
      """{"schema":"v DOUBLE",
          "rows":[{"v":0.1},{"v":2.5},{"v":2.6},{"v":2.7}]}""")
    assert(c2 == 200, b2)
    val (dc, dBody) = send("POST", "/tables/drift",
      """{"sourceA":"wire_drift_a","sourceB":"wire_drift_b",
          "valueCol":"v","binWidth":1.0}""")
    assert(dc == 200, dBody)
    val bins = new scala.collection.mutable.HashMap[Long, (Long, Long)]
    mapper.readTree(dBody).get("rows").elements().forEachRemaining(n =>
      bins(n.get("bin").asLong()) =
        (n.get("cnt_a").asLong(), n.get("cnt_b").asLong()))
    assert(bins.toMap == Map(0L -> (2L, 1L), 1L -> (2L, 0L), 2L -> (0L, 3L)),
      bins)
    val (sc, sBody) = send("POST", "/tables/drift",
      """{"sourceA":"wire_drift_a","sourceB":"wire_drift_b",
          "valueCol":"v","binWidth":1.0,"summary":true}""")
    assert(sc == 200, sBody)
    val s = mapper.readTree(sBody).get("rows").elements().next()
    // TV = 0.5*(|2/4-1/4| + |2/4-0| + |0-3/4|) = 0.75 → 750 per-mille
    assert(s.get("n_a").asLong() == 4L && s.get("n_b").asLong() == 4L, sBody)
    assert(s.get("bins").asLong() == 3L, sBody)
    assert(s.get("tv_permille").asLong() == 750L, sBody)
    assert(send("DELETE", "/tables/wire_drift_a")._1 == 200)
    assert(send("DELETE", "/tables/wire_drift_b")._1 == 200)
  }

  test("status map: an engine fault is a 500 with a JSON error, not a 400") {
    val faulty = new Engine(spark, root) {
      override def listTables(): Seq[String] =
        throw new NullPointerException("listing failed")
    }
    val other = new GraftServer(faulty).start()
    try {
      val (c, body) = sendTo(other, "GET", "/tables")
      assert(c == 500, s"$c $body")
      assert(mapper.readTree(body).get("error").asText()
        .contains("NullPointerException"), body)
      // the same server still answers a bad request with a 400
      val (bc, bBody) = sendTo(other, "POST", "/search", "{")
      assert(bc == 400, s"$bc $bBody")
    } finally other.stop()
  }

  test("status map: a PUT row that does not fit the schema is a 400 (FAILFAST)") {
    val (c, body) = send("PUT", "/tables/wire_misfit",
      """{"schema":"id LONG, v DOUBLE","rows":[{"id":1,"v":1.5},{"id":"x","v":2.0}]}""")
    assert(c == 400, s"$c $body")
    assert(mapper.readTree(body).get("error") != null, body)
  }

  test("typed reads: a wrong JSON type is a 400 naming the field, never coerced") {
    val (pc, pBody) = send("PUT", "/tables/wire_typed",
      """{"schema":"id LONG, text STRING, vec ARRAY<DOUBLE>","rows":[
        {"id":1,"text":"same words here","vec":[0.0,0.0]},
        {"id":2,"text":"same words hera","vec":[1.0,0.0]},
        {"id":3,"text":"same words here","vec":[2.0,0.0]}]}""")
    assert(pc == 200, pBody)
    // Jackson's asInt() would read "two" as 0: exact duplicates only, 200
    val (ec, eBody) = send("POST", "/dedup/editdist",
      """{"source":"wire_typed","idCol":"id","column":"text","maxDist":"two"}""")
    assert(ec == 400 && eBody.contains("maxDist") && eBody.contains("integer"),
      s"$ec $eBody")
    // …and 2.9 as 2
    val (kc, kBody) = send("POST", "/search",
      """{"sources":["wire_typed"],"column":"vec","target":[0,0],
          "metric":"l2","k":2.9}""")
    assert(kc == 400 && kBody.contains("'k'"), s"$kc $kBody")
    // a flag must be a JSON boolean, a string list an array of strings
    val (fc, fBody) = send("POST", "/dedup/editdist",
      """{"source":"wire_typed","idCol":"id","column":"text","blocked":"no"}""")
    assert(fc == 400 && fBody.contains("blocked"), s"$fc $fBody")
    val (sc, sBody) = send("POST", "/search",
      """{"sources":"wire_typed","column":"vec","target":[0,0],"metric":"l2"}""")
    assert(sc == 400 && sBody.contains("sources"), s"$sc $sBody")
    // the well-typed requests still serve
    val (okc, okBody) = send("POST", "/dedup/editdist",
      """{"source":"wire_typed","idCol":"id","column":"text","maxDist":1}""")
    assert(okc == 200 && mapper.readTree(okBody).get("rows").size() == 3, okBody)
    assert(send("POST", "/search",
      """{"sources":["wire_typed"],"column":"vec","target":[0,0],
          "metric":"l2","k":2}""")._1 == 200)
    assert(send("DELETE", "/tables/wire_typed")._1 == 200)
  }

  test("request body cap: an oversized body is a 413, and the server serves on") {
    val big = s"""{"pad":"${"x" * (server.maxRequestBytes + 1024)}"}"""
    val (c, body) = send("POST", "/search", big)
    assert(c == 413, s"$c ${body.take(200)}")
    assert(mapper.readTree(body).get("error").asText().contains("exceeds"), body)
    // without a Content-Length (chunked) the cap holds the same way
    val chunked = HttpRequest.BodyPublishers.ofInputStream(() =>
      new java.io.ByteArrayInputStream(big.getBytes("UTF-8")))
    val (cc, cBody) = sendRaw(server, "POST", "/search", chunked)
    assert(cc == 413, s"$cc ${cBody.take(200)}")
    val (nc, nBody) = send("GET", "/tables")
    assert(nc == 200, nBody)
  }

  test("route table: every POST route answers {} with a 400 naming a missing field") {
    // routes that legitimately accept an empty body, with the reason
    val acceptsEmpty = Map.empty[String, String]
    val posts = server.verbs.filter(_.startsWith("POST "))
    assert(posts.size >= 50, posts)
    for (verb <- posts if !acceptsEmpty.contains(verb)) {
      val (c, body) = send("POST", verb.stripPrefix("POST "), "{}")
      assert(c == 400 && body.contains("missing required field"),
        s"$verb: $c $body")
    }
    // an empty body reads as {}
    val (ec, eBody) = send("POST", "/search", "")
    assert(ec == 400 && eBody.contains("missing required field"), s"$ec $eBody")
  }

  test("a rejected PUT leaves no table behind") {
    val (c, body) = send("PUT", "/tables/wire_misfit",
      """{"schema":"id LONG, v DOUBLE","rows":[{"id":1,"v":1.5},{"id":"x","v":2.0}]}""")
    assert(c == 400, s"$c $body")
    assert(!Files.exists(java.nio.file.Paths.get(engine.store.tablePath("wire_misfit"))))
    val (_, lBody) = send("GET", "/tables")
    assert(!lBody.contains("wire_misfit"), lBody)
  }

  test("a rejected PUT over an existing table leaves its rows unchanged") {
    val good = """{"schema":"id LONG, v DOUBLE","rows":[{"id":1,"v":1.5},{"id":2,"v":2.5}]}"""
    assert(send("PUT", "/tables/wire_keep", good)._1 == 200)
    val (_, before) = send("GET", "/tables/wire_keep")
    val (c, body) = send("PUT", "/tables/wire_keep",
      """{"schema":"id LONG, v DOUBLE","rows":[{"id":7,"v":7.5},{"id":"x","v":2.0}]}""")
    assert(c == 400, s"$c $body")
    val (gc, after) = send("GET", "/tables/wire_keep")
    assert(gc == 200, after)
    def ids(json: String) =
      mapper.readTree(json).get("rows").elements().asScala.map(_.get("id").asLong()).toSet
    assert(ids(after) == Set(1L, 2L), after)
    assert(ids(after) == ids(before))
  }

  test("the driver-side render gives toJSON's bytes") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("f", ArrayType(FloatType)),
      StructField("d", ArrayType(DoubleType)),
      StructField("s", StructType(Seq(StructField("a", IntegerType),
        StructField("b", StructType(Seq(StructField("c", StringType),
          StructField("e", ArrayType(DoubleType)))))))),
      StructField("ts", TimestampType),
      StructField("n", StringType),
      StructField("txt", StringType)))
    val rows = Seq(
      Row(1L, Seq(1.5f, Float.NaN, Float.PositiveInfinity, -0.0f, 1e-40f),
        Seq(Double.NegativeInfinity, 0.1, 1e300, Double.NaN, Double.MinPositiveValue),
        Row(1, Row("in \"quotes\"", Seq(0.5, -2.0))),
        java.sql.Timestamp.valueOf("2024-01-02 03:04:05.678901"), null,
        "tab\t \"q\" back\\slash\nnew é ☃ \u0001 \u2028 </script>"),
      Row(2L, null, Seq(null, 3.0), Row(null, null), null, null, ""),
      Row(3L, Seq.empty[Float], Seq(Double.PositiveInfinity), null,
        java.sql.Timestamp.valueOf("1969-12-31 23:59:59.999"), "x", "\\u0041"))
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val stored = Files.createTempDirectory("graft-render").resolve("t").toString
    local.write.parquet(stored)
    for (df <- Seq(local, spark.read.parquet(stored).orderBy("id"))) {
      val want = df.toJSON.collect().mkString("\n").getBytes("UTF-8")
      val got = org.apache.spark.sql.GraftShims.jsonRows(df).mkString("\n").getBytes("UTF-8")
      assert(java.util.Arrays.equals(got, want),
        s"${new String(got, "UTF-8")}\n!=\n${new String(want, "UTF-8")}")
    }
  }

  /** Spark jobs started while `f` runs, on any thread (a request runs
    * on the server's). */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    def drain(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    drain()
    sc.addSparkListener(listener)
    try f finally { drain(); sc.removeSparkListener(listener) }
    n.get
  }

  test("a warm resident probed IVF search runs no Spark job; a tier over the cap runs one") {
    val root = Files.createTempDirectory("graft-server-resident").toString
    val e = new Engine(spark, root)
    val server = new GraftServer(e).start()
    try {
      val cfg = graft.coder.CoderConfig(codebookSize = 2, numCodebooks = 1,
        numEpochs = 1, maxStepsPerEpoch = 2)
      // a small tier and one past Store.ResidentBytes: 12k rows of 256 floats
      e.makeTable("small", spark.range(400).selectExpr("id",
        "transform(sequence(1, 8), x -> CAST(hash(id, x) AS FLOAT) / 2147483648) AS vec"))
      e.makeTable("big", spark.range(12000).selectExpr("id",
        "transform(sequence(1, 256), x -> CAST(hash(id, x) AS FLOAT) / 2147483648) AS vec"))
      e.makeIndex("cs", "small", "vec", cfg)
      e.makeIndex("cb", "big", "vec", cfg)
      assert(Index.load(e.store, "cb", "big", "vec").queryExecution.analyzed
        .stats.sizeInBytes > graft.store.Store.ResidentBytes)
      def search(source: String, coding: String, dim: Int): Unit = {
        val (c, body) = sendTo(server, "POST", "/search",
          s"""{"sources":["$source"],"column":"vec","target":[${Seq.fill(dim)(0.1).mkString(",")}],
              "coding":"$coding","probes":1,"k":5,"select":["id"],"tieBreak":["id"]}""")
        assert(c == 200, body)
        assert(mapper.readTree(body).get("rows").size() == 5, body)
      }
      search("small", "cs", 8)
      search("big", "cb", 256)
      assert(jobsDuring(search("small", "cs", 8)) == 0, "a warm resident search")
      assert(e.store.residentBytes > 0 &&
        e.store.residentBytes <= graft.store.Store.ResidentBytes)
      assert(jobsDuring(search("big", "cb", 256)) == 1, "a search over the cap")
    } finally { server.stop(); e.remove() }
  }

  test("an IVF+SQ8 reply is the same bytes from resident tiers and from parquet; warm, it runs no job") {
    val root = Files.createTempDirectory("graft-server-sq").toString
    val e = new Engine(spark, root)
    val server = new GraftServer(e).start()
    try {
      val cfg = graft.coder.CoderConfig(codebookSize = 4, numCodebooks = 2,
        numEpochs = 1, maxStepsPerEpoch = 2)
      for ((source, from) <- Seq("a" -> 0, "b" -> 1000))
        e.makeTable(source, spark.range(from, from + 600).selectExpr("id",
          "transform(sequence(1, 8), x -> CAST(hash(id % 300, x) AS FLOAT) / 2147483648) AS vec",
          "concat('row-', id) AS label"))
      e.makeIndex("c", "a", "vec", cfg)
      e.syncIndex("c", "b", "vec")
      e.makeSqIndex("c", "a", "vec")
      e.makeSqIndex("c", "b", "vec")
      // one source and two (the merge of their top-ks); ids 0-299 and
      // 300-599 of a source share their vectors, so distances tie
      val requests = Seq("""["a"]""", """["a","b"]""").map(sources =>
        s"""{"sources":$sources,"column":"vec","target":[0.1,-0.2,0.3,0,0.1,0.2,-0.1,0],
            "coding":"c","probes":2,"candidates":30,"idCol":"id","sq":true,
            "k":12,"tieBreak":["id"]}""")
      def replies(): Seq[String] = requests.map { body =>
        val (c, reply) = sendTo(server, "POST", "/search", body)
        assert(c == 200, reply)
        reply
      }
      val parquet = overCap(e.store)(replies())
      assert(e.store.residentBytes == 0)
      assert(mapper.readTree(parquet(1)).get("rows").size() == 12, parquet(1))
      replies() // reads the tiers
      assert(e.store.residentBytes > 0)
      var resident: Seq[String] = Nil
      assert(jobsDuring { resident = replies() } == 0, "warm resident IVF+SQ8 replies")
      for ((got, want) <- resident.zip(parquet)) assert(got == want)
    } finally { server.stop(); e.remove() }
  }
}
