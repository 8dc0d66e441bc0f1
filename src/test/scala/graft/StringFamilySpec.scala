package graft

import org.apache.spark.sql.DataFrame

import graft.ext.Dedup

/** The contract the string-similarity joins share (edit distance and
  * Jaro-Winkler): the full text of every candidate-volume and all-pairs
  * refusal, and the exact, self-join and cross-table shapes agreeing on
  * edge rows. Fixtures keep the worst keys' volumes distinct, so each
  * refusal lists them in one order. */
class StringFamilySpec extends SparkSuite {
  import spark.implicits._

  private def refusal(f: => DataFrame): String =
    intercept[IllegalArgumentException](f.collect()).getMessage

  /** All of a test's refusals at once, so a mismatch shows every text. */
  private def pin(got: (String, String)*): Unit = {
    val bad = got.filter { case (g, w) => g != w }
    assert(bad.isEmpty, bad.map(_._1).mkString("\n"))
  }

  private def rows(groups: (String, Int)*): DataFrame =
    groups.flatMap { case (t, n) => Seq.fill(n)(t) }.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "t")

  test("edit-distance refusals, full text: self-join, cross join in each " +
      "direction, and the observed volume under broadcastLeft") {
    val self = refusal(Dedup.editDistancePairsBlocked(
      rows("xy" -> 10, "xz" -> 5), "id", "t", maxDist = 1, maxCandidates = 100L))
    // k = 1 keys carry the length they index: a shorter left string
    // meets the right side only through left segments x right probes,
    // a longer one only through left probes x right segments
    val rb = Dedup.editDistanceBase(
      rows("xyz" -> 4, "ayz" -> 1).selectExpr("id + 10 AS id", "t"), "id", "t")
    val rSegs = Dedup.editDistanceSegments(rb, 1).withColumnRenamed("id", "id_b")
    val rProbes = Dedup.editDistanceProbes(rb, 1).withColumnRenamed("id", "id_b")
    def cross(left: DataFrame, broadcast: Boolean = false,
        bound: Option[Double] = None) =
      refusal(Dedup.editDistanceJoinAgainstFrames(left, "id", "t", rb,
        rSegs, rProbes, maxDist = 1, maxCandidates = 10L,
        broadcastLeft = broadcast, provenVolumeBound = bound))
    val segsByProbes = cross(rows("xy" -> 3))
    val probesBySegs = cross(rows("xyzq" -> 2))
    // a bound within the slack skips the counts pre-guard: the pair
    // stream's observed volume refuses
    val observed = cross(rows("xy" -> 3), broadcast = true, bound = Some(20.0))
    // with no bound the broadcast path refuses from the counts first
    val preGuard = cross(rows("xy" -> 3), broadcast = true)
    val segsByProbesText =
      "editDistanceJoin: segment-key candidate volume ≈ 27.0 pairs " +
      "exceeds maxCandidates=10 — segment contents collide pathologically " +
      "(worst keys: (l=2, i=1, 'y') -> 15; (l=2, i=0, 'x') -> 12). Shrink " +
      "the corpus slice, dedup boilerplate first, or raise maxCandidates " +
      "deliberately."
    pin(
      self -> ("editDistancePairsBlocked: segment-key candidate volume ≈ 350 pairs " +
        "exceeds maxCandidates=100 — segment contents collide " +
        "pathologically (worst keys: (l=2, i=0, 'x') -> 225; (l=2, i=1, " +
        "'y') -> 100; (l=2, i=1, 'z') -> 25). Shrink the corpus slice, " +
        "dedup boilerplate first, or raise maxCandidates deliberately."),
      segsByProbes -> segsByProbesText,
      probesBySegs -> ("editDistanceJoin: segment-key candidate volume ≈ 18.0 pairs " +
        "exceeds maxCandidates=10 — segment contents collide pathologically " +
        "(worst keys: (l=3, i=1, 'yz') -> 10; (l=3, i=0, 'x') -> 8). Shrink " +
        "the corpus slice, dedup boilerplate first, or raise maxCandidates " +
        "deliberately."),
      observed -> ("editDistanceJoin: segment-key candidate volume = 27 pairs exceeds " +
        "maxCandidates=10 — segment contents collide pathologically. Shrink " +
        "the query batch, dedup boilerplate first, or raise maxCandidates " +
        "deliberately."),
      preGuard -> segsByProbesText)
  }

  test("Jaro-Winkler refusals, full text: self-join and cross join") {
    val self = refusal(Dedup.jaroWinklerPairsBlocked(
      rows("b" -> 100, "c" -> 60, "d" -> 30), "id", "t", 0.9,
      maxCandidates = 100L))
    val cross = refusal(Dedup.jaroWinklerJoin(
      rows("b" -> 10, "c" -> 5, "d" -> 2).toDF("qid", "qt"), "qid", "qt",
      rows("b" -> 20, "c" -> 10, "d" -> 3), "id", "t", 0.9,
      maxCandidates = 100L))
    pin(
      self -> ("jaroWinklerPairsBlocked: blocking-element candidate volume ≈ " +
        "7.16e+03 pairs exceeds maxCandidates=100 — prefix characters " +
        "collide pathologically (worst elements: 'b'#0 -> 4950; 'c'#0 -> " +
        "1770; 'd'#0 -> 435). Raise minSim, dedup boilerplate first, or " +
        "raise maxCandidates deliberately."),
      cross -> ("jaroWinklerJoin: blocking-element candidate volume ≈ 256 pairs " +
        "exceeds maxCandidates=100 — prefix characters collide " +
        "pathologically (worst elements: 'b'#0 -> 200; 'c'#0 -> 50; 'd'#0 " +
        "-> 6). Raise minSim, dedup boilerplate first, or raise " +
        "maxCandidates deliberately."))
  }

  test("all-pairs refusals, full text: the row count is of non-null texts, " +
      "empty ones included") {
    val df = Seq((1L, "ab"), (2L, ""), (3L, null.asInstanceOf[String]), (4L, "ba"))
      .toDF("id", "t")
    val ed = refusal(Dedup.editDistancePairsExact(df, "id", "t", 1, maxRows = 2L))
    val jw = refusal(Dedup.jaroWinklerPairsExact(df, "id", "t", 0.9, maxRows = 2L))
    pin(
      ed -> ("requirement failed: editDistancePairsExact is an exact O(n²) " +
        "all-pairs baseline and the input has 3 rows (> maxRows=2). Use the " +
        "LSH scale path (editDistancePairsBlocked) for large tables, or " +
        "pass a larger maxRows to opt in explicitly."),
      jw -> ("requirement failed: jaroWinklerPairsExact is an exact O(n²) " +
        "all-pairs baseline and the input has 3 rows (> maxRows=2). Use the " +
        "LSH scale path (jaroWinklerPairsBlocked) for large tables, or pass " +
        "a larger maxRows to opt in explicitly."))
  }

  /** Null text, the empty string (twice), strings shorter than k+1,
    * identical texts under distinct ids, and a few near pairs. */
  private val edge = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, ""),
    (4L, "a"), (5L, "ab"), (6L, "ba"), (7L, "same text"), (8L, "same text"),
    (9L, "same test"), (10L, "jonathan archer"), (11L, "jonathon archer"),
    (12L, "kathryn janeway"), (13L, "x"))

  /** Pairs as (smaller id, larger id, score); a cross join's self pairs
    * dropped. */
  private def canon(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.get(2) match {
      case d: Double => d
      case l: Long => l.toDouble
    })).filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2), p._3)).toSet

  test("edge rows: exact == self-join == cross(side, side), per family; " +
      "edit distance keeps empty strings, Jaro-Winkler drops them") {
    val side = edge.toDF("id", "t")
    val ed = canon(Dedup.editDistancePairsExact(side, "id", "t", 2))
    assert(canon(Dedup.editDistancePairsBlocked(side, "id", "t", 2)) == ed)
    assert(canon(Dedup.editDistanceJoin(side, "id", "t", side, "id", "t", 2)) == ed)
    assert(Set((2L, 3L, 0.0), (7L, 8L, 0.0), (7L, 9L, 1.0), (8L, 9L, 1.0),
      (4L, 5L, 1.0), (5L, 6L, 2.0), (2L, 4L, 1.0), (2L, 5L, 2.0),
      (4L, 13L, 1.0), (10L, 11L, 1.0)).subsetOf(ed), ed)
    assert(!ed.exists(p => p._1 == 1L || p._2 == 1L), ed)

    val jw = canon(Dedup.jaroWinklerPairsExact(side, "id", "t", 0.9))
    assert(canon(Dedup.jaroWinklerPairsBlocked(side, "id", "t", 0.9)) == jw)
    assert(canon(Dedup.jaroWinklerJoin(side, "id", "t", side, "id", "t", 0.9)) == jw)
    assert(jw.exists(p => p._1 == 7L && p._2 == 8L && p._3 == 1.0), jw)
    assert(jw.exists(p => p._1 == 10L && p._2 == 11L), jw)
    assert(!jw.exists(p => Set(1L, 2L, 3L)(p._1) || Set(1L, 2L, 3L)(p._2)), jw)
  }
}

/** PassJoin expands every string into (k+1)²(2k+1) probe variants, on
  * the driver for a query string and as plan literals for a frame: a
  * `maxDist` past [[Dedup.EdMaxKeyedDist]] refuses as a bad request
  * before any frame, job or write, naming the exact baseline. */
class PassJoinBoundSpec extends SparkSuite {
  import spark.implicits._

  /** Spark jobs started on any thread while `f` runs. */
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

  test("a maxDist past the bound refuses with no job: the library, " +
      "buildFuzzyIndex (writing nothing) and both routes; the exact " +
      "baseline still runs it") {
    val k = 1000
    val df = Seq((1L, "abc"), (2L, "abd"), (3L, "xyz")).toDF("id", "t")
    def refusesNamingExact(f: => Any): Unit = {
      val x = intercept[IllegalArgumentException](f)
      assert(x.getMessage.contains(s"maxDist=$k") &&
        x.getMessage.contains("editDistancePairsExact"), x.getMessage)
    }
    assert(jobsDuring {
      refusesNamingExact(Dedup.editDistancePairsBlocked(df, "id", "t", k))
      refusesNamingExact(Dedup.editDistanceJoin(df, "id", "t", df, "id", "t", k))
      refusesNamingExact(Dedup.queryProbeKeys("abc", k))
      refusesNamingExact(Dedup.editDistanceProbes(Dedup.editDistanceBase(df, "id", "t"), k))
    } == 0)
    assert(Dedup.queryProbeKeys("abc", Dedup.EdMaxKeyedDist).nonEmpty)
    assert(Dedup.editDistancePairsExact(df, "id", "t", k).count() == 3L)

    val root = java.nio.file.Files.createTempDirectory("graft-passjoin-bound").toString
    val e = new graft.api.Engine(spark, root)
    e.makeTable("docs", df)
    val artifact = new org.apache.hadoop.fs.Path(e.store.fuzzyIndexPath("docs", "t"))
    assert(jobsDuring(refusesNamingExact(e.buildFuzzyIndex("docs", "id", "t", maxDist = k))) == 0)
    assert(!e.store.fs.exists(artifact), "a refused build must write nothing")

    val server = new graft.server.GraftServer(e).start()
    val client = java.net.http.HttpClient.newHttpClient()
    def post(path: String, body: String): (Int, String) = {
      val resp = client.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:${server.boundPort}/api$path"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/json").build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    try {
      for ((path, body) <- Seq(
          "/dedup/editdist" -> s"""{"source":"docs","idCol":"id","column":"t","maxDist":$k}""",
          "/dedup/editdist" -> (s"""{"source":"docs","idCol":"id","column":"t","maxDist":$k,""" +
            """"corpus":"docs","refIdCol":"id","refColumn":"t"}"""),
          "/indexes/fuzzy" -> s"""{"source":"docs","idCol":"id","column":"t","maxDist":$k}""")) {
        var reply = (0, "")
        assert(jobsDuring { reply = post(path, body) } == 0, s"$path $body")
        assert(reply._1 == 400 && reply._2.contains("editDistancePairsExact"), s"$path: $reply")
      }
      assert(!e.store.fs.exists(artifact), "a refused build route must write nothing")
    } finally server.stop()
    e.remove()
  }

  test("the fuzzy stream gate refuses a maxDist past the bound before its corpus pass") {
    val k = Dedup.EdMaxKeyedDist + 1
    val corpus = Seq((1L, "abc"), (2L, "abd"), (3L, "xyz")).toDF("id", "t")
    var refusal: IllegalArgumentException = null
    assert(jobsDuring {
      refusal = intercept[IllegalArgumentException](
        graft.streaming.Streams.editDistGateForEachBatch(corpus, "id", "t", "doc",
          "text", maxDist = k, sink = _ => ()))
    } == 0, "the corpus was read before the refusal")
    assert(refusal.getMessage == s"requirement failed: editDistanceSegments: maxDist=$k " +
      s"is above ${Dedup.EdMaxKeyedDist}, the largest PassJoin builds keys for " +
      "((k+1)²(2k+1) probe variants a string). Use editDistancePairsExact, the " +
      "guarded all-pairs baseline.", refusal.getMessage)
  }
}
