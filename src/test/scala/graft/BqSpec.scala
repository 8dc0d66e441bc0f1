package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.api.Engine
import graft.coder.CoderConfig
import graft.index.Index

/** IVF+BQ (1-bit binary quantization) tier: pack/hamming kernel parity
  * (codegen vs interpreted vs naive Scala), full-budget exactness vs
  * brute force, codes-only coarse scan, bounded-budget recall, and
  * incremental sync. */
class BqSpec extends SparkSuite {
  import spark.implicits._

  private def naivePack(v: Seq[Double], thr: Seq[Double]): Array[Byte] = {
    val out = new Array[Byte]((v.length + 7) / 8)
    v.indices.foreach { i =>
      if (v(i) > thr(i)) out(i >> 3) = (out(i >> 3) | (0x80 >> (i & 7))).toByte
    }
    out
  }

  private def naiveHamming(a: Array[Byte], b: Array[Byte]): Int =
    a.zip(b).map { case (x, y) => Integer.bitCount((x ^ y) & 0xff) }.sum

  test("PackSignBits and HammingDistance match naive Scala, codegen and interpreted") {
    val rnd = new scala.util.Random(41)
    val d = 19 // deliberately not a multiple of 8: partial last byte
    val thr = IndexedSeq.fill(d)(rnd.nextDouble() * 2 - 1)
    val rows = Seq.tabulate(50)(i =>
      (i.toLong, Seq.fill(d)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("id", "vec")
    val q = naivePack(rows(7)._2, thr)

    def run(): Seq[(Long, Array[Byte], Int)] = df
      .withColumn("code", org.apache.spark.sql.GraftShims.column(
        graft.functions.PackSignBits(
          org.apache.spark.sql.GraftShims.expression(col("vec")), thr)))
      .withColumn("ham", org.apache.spark.sql.GraftShims.column(
        graft.functions.HammingDistance(
          org.apache.spark.sql.GraftShims.expression(col("code")),
          q.toIndexedSeq)))
      .orderBy("id").select("id", "code", "ham")
      .collect().toSeq.map(r => (r.getLong(0), r.getAs[Array[Byte]](1), r.getInt(2)))

    val codegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interpreted = try run() finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    codegen.zip(interpreted).zip(rows).foreach { case (((id, code, ham), (_, icode, iham)), (_, v)) =>
      val want = naivePack(v, thr)
      assert(java.util.Arrays.equals(code, want), s"pack mismatch id $id")
      assert(java.util.Arrays.equals(icode, want), s"interpreted pack mismatch id $id")
      assert(ham == naiveHamming(want, q), s"hamming mismatch id $id")
      assert(iham == ham, s"interpreted hamming mismatch id $id")
    }
    // float-input path packs identically
    val f = df.select(col("id"), col("vec").cast("array<float>").as("vec"))
      .withColumn("code", org.apache.spark.sql.GraftShims.column(
        graft.functions.PackSignBits(
          org.apache.spark.sql.GraftShims.expression(col("vec")), thr)))
      .orderBy("id").select("code").collect()
    f.zip(rows).foreach { case (r, (_, v)) =>
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]](0),
        naivePack(v.map(_.toFloat.toDouble), thr)))
    }
  }

  test("ivf+bq: exact at full budgets, codes-only coarse scan, sane bounded recall") {
    val rnd = new scala.util.Random(31)
    val centers = Seq.fill(8)(Array.fill(16)(rnd.nextDouble() * 20 - 10))
    val rows = for {
      (c, ci) <- centers.zipWithIndex
      i <- 0 until 40
    } yield ((ci * 40 + i).toLong, c.map(x => (x + rnd.nextGaussian() * 0.1).toFloat).toSeq)
    val df = rows.toDF("id", "vec")
    val root = Files.createTempDirectory("graft-bq").toString
    val engine = new Engine(spark, root)
    engine.makeTable("bqv", df)
    engine.makeCoder("bc", "bqv", "vec",
      CoderConfig(metric = "l2", codebookSize = 4, numCodebooks = 2,
        batchSize = 128, numEpochs = 3))
    val thr = engine.makeBqIndex("bc", "bqv", "vec")
    assert(thr.length == 16 && thr.forall(t => !t.isNaN))
    assert(Index.bqIndexExists(engine.store, "bc", "bqv", "vec"))

    val target = df.filter(col("id") === 0)
      .select(col("vec").cast("array<double>")).collect()(0)
      .getSeq[Double](0).toArray
    val brute = df
      .withColumn("d", graft.functions.functions.vector_distance(
        col("vec"), typedLit(target.toSeq), "l2"))
      .orderBy(col("d").asc, col("id").asc).limit(10)
      .select("id").as[Long].collect().toSeq

    // full probes + candidates == brute (the oracle contract)
    val full = engine.searchBq("bqv", "vec", target, coding = "bc",
      probes = 16, candidates = 1 << 20, idCol = "id", k = 10,
      metric = Some("l2"), tieBreak = Seq("id"))
    assert(full.select("id").as[Long].collect().toSeq == brute)

    // the coarse scan reads 1-bit codes, not the vector column, in the
    // parquet plan (a second engine whose resident budget is taken, as
    // for a tier past the cap; a resident tier scans no file)
    val cold = new Engine(spark, engine.store.root)
    val planStr = overCap(cold.store)(cold.searchBq("bqv", "vec", target, coding = "bc",
      probes = 16, candidates = 1 << 20, idCol = "id", k = 10,
      metric = Some("l2"), tieBreak = Seq("id")))
      .queryExecution.executedPlan.toString
    val scans = planStr.split("\n").filter(_.contains("ReadSchema"))
    assert(scans.exists(l => l.contains(Index.BqCol) && !l.contains("vec:")),
      s"no codes-only scan found:\n$planStr")

    // tight clusters around well-separated centers: sign codes separate
    // the clusters, so a modest candidate budget recovers the true top-k
    val tight = engine.searchBq("bqv", "vec", target, coding = "bc",
      probes = 16, candidates = 40, idCol = "id", k = 10,
      metric = Some("l2"), tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSeq
    val recall = brute.count(tight.contains) / 10.0
    assert(recall >= 0.8, s"bounded-budget recall $recall < 0.8 ($tight vs $brute)")

    // cosine rerank path under the same codes
    val fullCos = engine.searchBq("bqv", "vec", target, coding = "bc",
      probes = 16, candidates = 1 << 20, idCol = "id", k = 10,
      metric = Some("cosine"), tieBreak = Seq("id"))
    val bruteCos = df
      .withColumn("d", graft.functions.functions.vector_distance(
        col("vec"), typedLit(target.toSeq), "cosine"))
      .orderBy(col("d").asc, col("id").asc).limit(10)
      .select("id").as[Long].collect().toSeq
    assert(fullCos.select("id").as[Long].collect().toSeq == bruteCos)
    engine.remove()
  }

  test("bqKnnJoin: full budgets == brute join; shuffles carry scalars only") {
    val rnd = new scala.util.Random(37)
    val centers = Seq.fill(4)(Array.fill(8)(rnd.nextDouble() * 20 - 10))
    val rows = for {
      (c, ci) <- centers.zipWithIndex
      i <- 0 until 50
    } yield ((ci * 50 + i).toLong, c.map(x => (x + rnd.nextGaussian() * 0.2).toFloat).toSeq)
    val df = rows.toDF("id", "vec")
    val root = java.nio.file.Files.createTempDirectory("graft-bq-join").toString
    val engine = new graft.api.Engine(spark, root)
    engine.makeTable("bj", df)
    engine.makeCoder("bc", "bj", "vec",
      graft.coder.CoderConfig(metric = "l2", codebookSize = 2,
        numCodebooks = 2, batchSize = 64, numEpochs = 2))
    engine.makeBqIndex("bc", "bj", "vec")
    val queries = df.filter(col("id") < 5)
      .select(col("id").as("q_id"), col("vec").cast("array<double>").as("q_vec"))
    val brute = graft.api.Search.knnJoin(df.select("id", "vec"), "vec",
        queries, "q_id", "q_vec", "l2", k = 5, tieBreak = Seq("id"),
        idCol = Some("id"))
      .select("q_id", "id").as[(Long, Long)].collect().toSet
    val joined = engine.knnJoinBq("bc", "bj", "vec", queries, "q_id",
      "q_vec", k = 5, probes = 4, candidates = 1 << 20, idCol = "id",
      metric = Some("l2"), tieBreak = Seq("id"))
    assert(joined.select("q_id", "id").as[(Long, Long)].collect().toSet == brute,
      "full-budget bq join must equal the brute join")
    // scalars-only shuffles: no vector and no code column in any Exchange
    val fmt = joined.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val shuffles = fmt.split("\n\n")
      .filter(_.linesIterator.hasNext)
      .filter(_.linesIterator.next().matches("""\(\d+\) Exchange.*"""))
    assert(shuffles.nonEmpty, s"expected the per-query window exchange in:\n$fmt")
    shuffles.foreach { b =>
      assert(!b.contains("vec#") && !b.contains("q_vec#") &&
          !b.contains(graft.index.Index.BqCol),
        s"vector or code column rides a shuffle:\n$b")
    }
    // rerank reads the corpus via broadcast survivor ids — the corpus
    // never shuffles by id (only the per-query windows exchange)
    assertNoCorpusIdShuffle(
      joined.queryExecution.executedPlan.toString)
    engine.remove()
  }

  test("DequantizeSignBits reconstructs conditional means; codegen == interpreted") {
    val rnd = new scala.util.Random(47)
    val d = 11
    val thr = IndexedSeq.fill(d)(0.0)
    val lo = IndexedSeq.fill(d)((rnd.nextDouble() * -2).toFloat)
    val hi = IndexedSeq.fill(d)((rnd.nextDouble() * 2).toFloat)
    val rows = Seq.tabulate(40)(i => (i.toLong, Seq.fill(d)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("id", "vec")
    def run(): Seq[(Long, Seq[Float])] = df
      .withColumn("code", org.apache.spark.sql.GraftShims.column(
        graft.functions.PackSignBits(
          org.apache.spark.sql.GraftShims.expression(col("vec")), thr)))
      .withColumn("rec", org.apache.spark.sql.GraftShims.column(
        graft.functions.DequantizeSignBits(
          org.apache.spark.sql.GraftShims.expression(col("code")), lo, hi)))
      .orderBy("id").select("id", "rec")
      .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Float](1)))
    val codegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interpreted = try run() finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(codegen == interpreted, "codegen/interpreted divergence")
    codegen.zip(rows).foreach { case ((id, rec), (_, v)) =>
      val want = v.indices.map(i => if (v(i) > 0.0) hi(i) else lo(i))
      assert(rec == want, s"reconstruction mismatch id $id: $rec vs $want")
    }
  }

  test("asymmetric coarse ranking beats legacy symmetric Hamming at a tight budget") {
    val rnd = new scala.util.Random(59)
    // one diffuse cloud: with d=32 the symmetric code has only 32 bits of
    // resolution (heavy ties at a 30-candidate budget); the asymmetric
    // score keeps magnitudes, so it ranks within the tie classes
    val rows = Seq.tabulate(3000)(i =>
      (i.toLong, Seq.fill(32)((rnd.nextGaussian() * 2).toFloat)))
    val df = rows.toDF("id", "vec")
    val root = java.nio.file.Files.createTempDirectory("graft-bq-asym").toString
    val engine = new graft.api.Engine(spark, root)
    engine.makeTable("av", df)
    engine.makeCoder("ac", "av", "vec",
      graft.coder.CoderConfig(metric = "l2", codebookSize = 2,
        numCodebooks = 1, batchSize = 256, numEpochs = 2))
    engine.makeBqIndex("ac", "av", "vec")
    val targets = (0 until 8).map(q =>
      rows(q * 37)._2.map(_.toDouble).toArray)
    def recallOf(): Double = {
      val per = targets.map { t =>
        val brute = graft.api.Search.knn(df, "vec",
            Seq(Tuple1(t.toSeq)).toDF("t"), "l2", k = 10, tieBreak = Seq("id"))
          .select("id").as[Long].collect().toSet
        val got = engine.searchBq("av", "vec", t, coding = "ac",
            probes = 2, candidates = 100, idCol = "id", k = 10,
            metric = Some("l2"), tieBreak = Seq("id"))
          .select("id").as[Long].collect().toSet
        brute.count(got.contains) / 10.0
      }
      per.sum / per.length
    }
    val asym = recallOf()
    // strip the reconstruction levels from the sidecar → legacy symmetric
    val path = engine.store.bqIndexPath("av", "vec", "ac")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(engine.store.readSidecar(s"$path/_bq_thresholds.json"))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("lo"); node.remove("hi")
    engine.store.writeSidecar(s"$path/_bq_thresholds.json",
      mapper.writeValueAsBytes(node))
    val sym = recallOf()
    assert(asym > sym,
      s"asymmetric recall $asym must beat symmetric $sym at a tight budget")
    // a structure-free 32-d gaussian cloud at a 3% budget is the hardest
    // setting for any 1-bit code; the point here is the ORDERING — the
    // 1M × 256-d absolute numbers live in bench_summary.json quality
    assert(asym >= 0.55, s"asymmetric recall $asym unexpectedly low")
    engine.remove()
  }

  test("per-cell (residual) bits rescue recall on a clustered corpus") {
    val rnd = new scala.util.Random(73)
    // well-separated clusters (offsets ±10) with σ=1 within: global sign
    // bits are just the cluster id — EVERY member of the query's cluster
    // shares its code pattern, so a within-cluster budget is a coin flip;
    // per-cell centering makes the bits encode the residual
    val centers = Seq.fill(4)(Array.fill(64)(rnd.nextGaussian() * 10))
    val rows = for {
      (c, ci) <- centers.zipWithIndex
      i <- 0 until 500
    } yield ((ci * 500 + i).toLong, c.map(x => (x + rnd.nextGaussian()).toFloat).toSeq)
    val df = rows.toDF("id", "vec")
    val root = java.nio.file.Files.createTempDirectory("graft-bq-cell").toString
    val engine = new graft.api.Engine(spark, root)
    engine.makeTable("cv", df)
    // plant the coding at the true cluster centers: k-means training is
    // sample()-seeded (nondeterministic), and this test is about the BQ
    // threshold mode, not coder quality — cells must match clusters
    engine.store.saveCoding("cc", graft.coder.Coding(
      Array(centers.toArray),
      graft.coder.CoderConfig(metric = "l2", codebookSize = 4,
        numCodebooks = 1, batchSize = 256, numEpochs = 3)))
    val targets = (0 until 6).map(q => rows(q * 311)._2.map(_.toDouble).toArray)
    def recallOf(): Double = {
      val per = targets.map { t =>
        val brute = graft.api.Search.knn(df, "vec",
            Seq(Tuple1(t.toSeq)).toDF("t"), "l2", k = 10, tieBreak = Seq("id"))
          .select("id").as[Long].collect().toSet
        val got = engine.searchBq("cv", "vec", t, coding = "cc",
            probes = 4, candidates = 100, idCol = "id", k = 10,
            metric = Some("l2"), tieBreak = Seq("id"))
          .select("id").as[Long].collect().toSet
        brute.count(got.contains) / 10.0
      }
      per.sum / per.length
    }
    engine.makeBqIndex("cc", "cv", "vec", perCell = false)
    val globalRecall = recallOf()
    engine.makeBqIndex("cc", "cv", "vec", perCell = true)
    val cellRecall = recallOf()
    assert(cellRecall > globalRecall,
      s"per-cell recall $cellRecall must beat global $globalRecall on clusters")
    assert(cellRecall >= 0.8, s"per-cell recall $cellRecall < 0.8")
    // per-cell stays exact at full budgets
    val t = targets.head
    val full = engine.searchBq("cv", "vec", t, coding = "cc",
        probes = 4, candidates = 1 << 20, idCol = "id", k = 10,
        metric = Some("l2"), tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSeq
    val brute = graft.api.Search.knn(df, "vec",
        Seq(Tuple1(t.toSeq)).toDF("t"), "l2", k = 10, tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSeq
    assert(full == brute, "per-cell full-budget mismatch")
    engine.remove()
  }

  test("ivf+bq incremental sync appends under stored thresholds; stays exact") {
    val rnd = new scala.util.Random(53)
    def wave(from: Int, n: Int) = (from until from + n)
      .map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat() * 10 - 5))).toDF("id", "vec")
    val root = Files.createTempDirectory("graft-bq-sync").toString
    val engine = new Engine(spark, root)
    engine.makeTable("bs", wave(0, 100))
    engine.makeCoder("bc", "bs", "vec",
      CoderConfig(metric = "l2", codebookSize = 2, numCodebooks = 1,
        batchSize = 64, numEpochs = 2))
    val thr = engine.makeBqIndex("bc", "bs", "vec")
    // append new rows to the source, sync the delta only
    wave(1000, 50).write.mode("append").parquet(engine.store.tablePath("bs"))
    val appended = engine.syncBqIndex("bc", "bs", "vec", "id")
    assert(appended == 50, s"expected 50 appended, got $appended")
    assert(engine.syncBqIndex("bc", "bs", "vec", "id") == 0, "sync must be idempotent")
    // thresholds unchanged by sync (encode-only append)
    val thr2 = engine.makeBqIndex("bc", "bs", "vec") // rebuild would refit…
    // …so compare against a fresh search instead: full budget == brute on the union
    val all = engine.readTable(Seq("bs"))
    val target = Array.fill(8)(rnd.nextDouble() * 10 - 5)
    val brute = all
      .withColumn("d", graft.functions.functions.vector_distance(
        col("vec"), typedLit(target.toSeq), "l2"))
      .orderBy(col("d").asc, col("id").asc).limit(5)
      .select("id").as[Long].collect().toSeq
    val got = engine.searchBq("bs", "vec", target, coding = "bc",
      probes = 2, candidates = 1 << 20, idCol = "id", k = 5,
      metric = Some("l2"), tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSeq
    assert(got == brute, s"post-sync full-budget mismatch: $got vs $brute")
    assert(thr.length == thr2.length)
    engine.remove()
  }
}
