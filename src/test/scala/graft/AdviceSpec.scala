package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import graft.api.Engine
import graft.coder.CoderConfig
import graft.server.GraftServer

/** Persisted advice is an artifact of its coding: a retrain or a drop of
  * the coding takes it along, advice keys of different codings never
  * share a file, every engine over the root serves what was last
  * written, on its next call, and candidate advice refuses once its
  * tier's codec was rebuilt. */
class AdviceSpec extends SparkSuite {
  import spark.implicits._

  private val cells16 = CoderConfig(metric = "l2", codebookSize = 4,
    numCodebooks = 2, batchSize = 128, numEpochs = 2)
  private val cells64 = cells16.copy(codebookSize = 8)
  private val target = Array.fill(8)(0.5)

  /** A fresh root holding table `v`: 200 clustered 8-d vectors (a
    * candidate budget of 200 is exact at every probe count). */
  private def engineWithTable(): Engine = {
    val e = new Engine(spark, Files.createTempDirectory("graft-advice").toString)
    val rnd = new scala.util.Random(3)
    val centers = Seq.fill(8)(Array.fill(8)(rnd.nextDouble() * 20 - 10))
    e.makeTable("v", (0 until 200).map { i =>
      (i.toLong, centers(i % 8).map(_ + rnd.nextGaussian()).toSeq)
    }.toDF("id", "vec"))
    e
  }

  private def adviseProbes(e: Engine, coding: String, k: Int = 5) =
    e.adviseProbes(coding, "v", "vec", "id", k = k, targetRecall = 1.0,
      sampleQueries = 8)

  private def adviseRerank(e: Engine, coding: String, k: Int = 5) =
    e.adviseCandidates(coding, "v", "vec", "id", "rerank", probes = 16,
      k = k, targetRecall = 1.0, sampleQueries = 8, maxCandidates = 200)

  private lazy val client = HttpClient.newHttpClient()

  private def send(server: GraftServer, method: String, path: String,
      body: String = ""): Int = {
    val b = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:${server.boundPort}/api$path"))
    val req = (if (method == "GET") b.GET()
      else b.method(method, HttpRequest.BodyPublishers.ofString(body)))
      .header("Content-Type", "application/json").build()
    client.send(req, HttpResponse.BodyHandlers.ofString()).statusCode()
  }

  private def withServer(e: Engine)(f: GraftServer => Unit): Unit = {
    val server = new GraftServer(e).start()
    try f(server) finally server.stop()
  }

  test("a retrained coding serves none of its old advice: the engine " +
      "refuses, naming adviseProbes, and the wire answers 404") {
    val e = engineWithTable()
    e.makeIndex("c1", "v", "vec", cells16)
    val a = adviseProbes(e, "c1")
    assert(a.advice.numCells == 16)
    assert(e.resolveAdvisedProbes("c1", "v", "vec", 5, None) == a.advice.probes)
    adviseRerank(e, "c1")
    // retrain at 64 cells over the unchanged source
    e.makeIndex("c1", "v", "vec", cells64)
    val x = intercept[NoSuchElementException] {
      e.search("v", "vec", target, coding = Some("c1"),
        probes = Some(Engine.Advised), k = 5)
    }
    assert(x.getMessage.contains("adviseProbes"), x.getMessage)
    intercept[NoSuchElementException](e.freshCandidateAdvice("c1", "rerank", 16))
    withServer(e) { server =>
      assert(send(server, "GET", "/advise/probes/c1") == 404)
      assert(send(server, "GET", "/advise/candidates/c1?tier=rerank&probes=16") == 404)
      // re-advised, then retrained over the wire
      assert(adviseProbes(e, "c1").advice.numCells == 64)
      assert(send(server, "GET", "/advise/probes/c1") == 200)
      assert(send(server, "POST", "/indexes",
        """{"name":"c1","source":"v","column":"vec","metric":"l2",
            "codebookSize":4,"numCodebooks":2,"batchSize":128,"numEpochs":2}""") == 200)
      assert(send(server, "GET", "/advise/probes/c1") == 404)
    }
    intercept[NoSuchElementException](e.resolveAdvisedProbes("c1", "v", "vec", 5, None))
  }

  test("advice of different codings never shares a file: a coding named " +
      "like another's candidate advice reads and drops as its own") {
    val e = engineWithTable()
    e.makeIndex("c1", "v", "vec", cells16)
    e.makeIndex("c1_cand_rerank_p16", "v", "vec", cells16)
    val cand = adviseRerank(e, "c1")
    val probe = adviseProbes(e, "c1_cand_rerank_p16")
    assert(e.freshCandidateAdvice("c1", "rerank", 16) == cand)
    assert(e.freshProbeAdvice("c1_cand_rerank_p16") == probe)
    withServer(e) { server =>
      assert(send(server, "GET", "/advise/probes/c1_cand_rerank_p16") == 200)
      assert(send(server, "GET", "/advise/candidates/c1?tier=rerank&probes=16") == 200)
    }
    e.dropIndex("c1")
    assert(e.loadCandidateAdvice("c1", "rerank", 16).isEmpty)
    assert(e.freshProbeAdvice("c1_cand_rerank_p16") == probe)
  }

  test("another engine over the root serves what one re-advised, and " +
      "refuses what it dropped, on its next call") {
    val a = engineWithTable()
    val b = new Engine(spark, a.root)
    a.makeIndex("c1", "v", "vec", cells16)
    val p5 = adviseProbes(a, "c1", k = 5)
    adviseRerank(a, "c1", k = 5)
    assert(b.resolveAdvisedProbes("c1", "v", "vec", 5, None) == p5.advice.probes)
    assert(b.resolveAdvisedCandidates("c1", "rerank", 16, "v", "vec", 5, None) >= 5)
    intercept[IllegalArgumentException](b.resolveAdvisedProbes("c1", "v", "vec", 10, None))
    intercept[IllegalArgumentException](
      b.resolveAdvisedCandidates("c1", "rerank", 16, "v", "vec", 10, None))
    // re-advised at k = 10 by A: B serves k = 10 at once
    val p10 = adviseProbes(a, "c1", k = 10)
    val c10 = adviseRerank(a, "c1", k = 10)
    assert(b.resolveAdvisedProbes("c1", "v", "vec", 10, None) == p10.advice.probes)
    assert(b.resolveAdvisedCandidates("c1", "rerank", 16, "v", "vec", 10, None) ==
      c10.advice.candidates)
    // dropped by A: B refuses at once
    a.store.dropAdvice("c1", "probes")
    a.store.dropAdvice("c1", "rerank_p16")
    intercept[NoSuchElementException](b.resolveAdvisedProbes("c1", "v", "vec", 10, None))
    intercept[NoSuchElementException](
      b.resolveAdvisedCandidates("c1", "rerank", 16, "v", "vec", 10, None))
  }

  test("advice measured on a coding retrained mid-measurement is refused, " +
      "not installed over the new coding") {
    val e = engineWithTable()
    e.makeIndex("c1", "v", "vec", cells16)
    val before = e.store.codingStamp("c1")
    e.makeCoder("c1", "v", "vec", cells64)
    val x = intercept[IllegalStateException] {
      e.store.saveAdvice("c1", "probes", "{}".getBytes("UTF-8"), before)
    }
    assert(x.getMessage.contains("retrained"), x.getMessage)
    assert(e.loadProbeAdvice("c1").isEmpty)
    intercept[IllegalStateException] {
      e.store.saveAdvice("c9", "probes", "{}".getBytes("UTF-8"), e.store.codingStamp("c9"))
    }
  }

  test("sq candidate advice is refused once its tier is rebuilt with other " +
      "params, and survives compaction and an in-place repair") {
    val e = engineWithTable()
    e.makeIndex("c1", "v", "vec", cells16)
    e.makeSqIndex("c1", "v", "vec")
    val a = e.adviseCandidates("c1", "v", "vec", "id", "sq", probes = 16,
      k = 5, targetRecall = 1.0, sampleQueries = 8, maxCandidates = 200)
    def advisedSearch() = e.searchSq("v", "vec", target, "c1", probes = 16,
      candidates = Engine.Advised, idCol = "id", k = 5)
    // neither maintenance step writes the codec: the advice still serves
    e.compactIndex("c1", "v", "vec", maxFilesPerCell = 1, tier = "sq")
    assert(!e.repairIndex("c1", "v", "vec", tier = "sq").fullRebuild)
    assert(e.resolveAdvisedCandidates("c1", "sq", 16, "v", "vec", 5, None) ==
      a.advice.candidates)
    assert(advisedSearch().count() == 5)
    // rebuilt per cell over the unchanged source: other params, other codes
    e.makeSqIndex("c1", "v", "vec", perCell = true)
    val x = intercept[IllegalStateException](advisedSearch())
    assert(x.getMessage.contains("STALE") && x.getMessage.contains("adviseCandidates"),
      x.getMessage)
    withServer(e) { server =>
      assert(send(server, "GET", "/advise/candidates/c1?tier=sq&probes=16") == 409)
    }
    assert(a.toJson.contains("\"codecStamp\""), s"no codec stamp recorded: ${a.toJson}")
  }
}
