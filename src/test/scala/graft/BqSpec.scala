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

  private def kernel(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.GraftShims.column(e)
  private def ex(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.GraftShims.expression(c)

  /** `run` under whole-stage codegen, then interpreted. */
  private def codegenAndInterpreted[A](run: => A): (A, A) = {
    val codegen = run
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interpreted = try run finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    (codegen, interpreted)
  }

  /** The sign-pack kernel with no cells: one threshold block for every
    * row. */
  private def packGlobal(vec: org.apache.spark.sql.Column, thr: IndexedSeq[Double]) =
    kernel(graft.functions.PackSignBitsPerCell(ex(vec), ex(lit(0L)), IndexedSeq.empty, thr))

  test("sign-pack kernel with no cells and hamming_distance match naive Scala, " +
      "codegen and interpreted") {
    val rnd = new scala.util.Random(41)
    val d = 19 // deliberately not a multiple of 8: partial last byte
    val thr = IndexedSeq.fill(d)(rnd.nextDouble() * 2 - 1)
    val rows = Seq.tabulate(50)(i =>
      (i.toLong, Seq.fill(d)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("id", "vec")
    val q = naivePack(rows(7)._2, thr)

    def run(): Seq[(Long, Array[Byte], Int)] = df
      .withColumn("code", packGlobal(col("vec"), thr))
      .withColumn("ham", kernel(graft.functions.HammingDistancePair(
        ex(col("code")), ex(lit(q)))))
      .orderBy("id").select("id", "code", "ham")
      .collect().toSeq.map(r => (r.getLong(0), r.getAs[Array[Byte]](1), r.getInt(2)))

    val (codegen, interpreted) = codegenAndInterpreted(run())
    codegen.zip(interpreted).zip(rows).foreach { case (((id, code, ham), (_, icode, iham)), (_, v)) =>
      val want = naivePack(v, thr)
      assert(java.util.Arrays.equals(code, want), s"pack mismatch id $id")
      assert(java.util.Arrays.equals(icode, want), s"interpreted pack mismatch id $id")
      assert(ham == naiveHamming(want, q), s"hamming mismatch id $id")
      assert(iham == ham, s"interpreted hamming mismatch id $id")
    }
    // float-input path packs identically
    val f = df.select(col("id"), col("vec").cast("array<float>").as("vec"))
      .withColumn("code", packGlobal(col("vec"), thr))
      .orderBy("id").select("code").collect()
    f.zip(rows).foreach { case (r, (_, v)) =>
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]](0),
        naivePack(v.map(_.toFloat.toDouble), thr)))
    }
  }

  test("quantizer kernels with no cells equal the naive per-dimension formulas, " +
      "codegen and interpreted; a cell missing from `cells` reads the global block") {
    import graft.functions.{DequantizePerCellDim, DequantizeSignBitsPerCell,
      PackSignBitsPerCell, QuantizePerCellDim}
    val rnd = new scala.util.Random(61)
    val d = 13 // not a multiple of 8: a partial last sign byte
    // rows in cells 0, 3, 6 and 9; the per-cell params know 3 and 9 only
    val rows = Seq.tabulate(60)(i =>
      (i.toLong, (i % 4) * 3L, Seq.fill(d)(rnd.nextDouble() * 8 - 4)))
    val fitted = IndexedSeq(3L, 9L)
    val blocks = fitted.length + 1 // the global block last
    def draw(lo: Double, hi: Double): IndexedSeq[Double] =
      IndexedSeq.fill(blocks * d)(lo + rnd.nextDouble() * (hi - lo))
    val scales = draw(0.02, 0.06).map(_.toFloat)
    val zps = draw(100, 150).map(_.toFloat)
    val thr = draw(-0.5, 0.5)
    val lo = draw(-3, -1).map(_.toFloat)
    val hi = draw(1, 3).map(_.toFloat)
    def block[T](a: IndexedSeq[T], b: Int): IndexedSeq[T] = a.slice(b * d, (b + 1) * d)
    val global = blocks - 1
    for (cells <- Seq(IndexedSeq.empty[Long], fitted);
         vecType <- Seq("array<double>", "array<float>")) {
      // the zero-cell kernels get the global block alone
      def flat[T](a: IndexedSeq[T]): IndexedSeq[T] = if (cells.isEmpty) block(a, global) else a
      def blockOf(cell: Long): Int = cells.indexOf(cell) match {
        case -1 => global
        case b => b
      }
      val df = rows.toDF("id", "cell", "vec").withColumn("vec", col("vec").cast(vecType))
      val c = ex(col("cell"))
      def run() = df
        .select(col("id"), col("cell"), col("vec").cast("array<double>").as("x"),
          kernel(QuantizePerCellDim(ex(col("vec")), c, cells, flat(scales), flat(zps))).as("q"),
          kernel(PackSignBitsPerCell(ex(col("vec")), c, cells, flat(thr))).as("p"))
        .select(col("*"),
          kernel(DequantizePerCellDim(ex(col("q")), c, cells, flat(scales), flat(zps))).as("dq"),
          kernel(DequantizeSignBitsPerCell(ex(col("p")), c, cells, flat(lo), flat(hi))).as("r"))
        .orderBy("id").collect().toSeq
        .map(r => (r.getLong(1), r.getSeq[Double](2), r.getAs[Array[Byte]](3).toSeq,
          r.getAs[Array[Byte]](4).toSeq, r.getSeq[Float](5), r.getSeq[Float](6)))
      val (codegen, interpreted) = codegenAndInterpreted(run())
      val what = s"$vecType, ${cells.length} cells"
      assert(codegen == interpreted, s"$what: codegen/interpreted divergence")
      codegen.foreach { case (cell, x, q, p, dq, r) =>
        val b = blockOf(cell)
        val (s, z, t, l, h) =
          (block(scales, b), block(zps, b), block(thr, b), block(lo, b), block(hi, b))
        assert(q == x.indices.map(i =>
          math.max(0L, math.min(255L, math.round(x(i) / s(i) + z(i)))).toByte),
          s"$what: quantize, cell $cell")
        assert(dq == q.indices.map(i => s(i) * ((q(i) & 0xFF) - z(i))),
          s"$what: dequantize, cell $cell")
        assert(p == naivePack(x, t).toSeq, s"$what: sign pack, cell $cell")
        assert(r == x.indices.map(i => if (x(i) > t(i)) h(i) else l(i)),
          s"$what: sign decode, cell $cell")
      }
    }
  }

  test("SQL pack_sign_bits keeps its column name and its error wording") {
    Graft.register(spark)
    Seq((1L, Seq(0.5, -1.0, 2.0))).toDF("id", "v").createOrReplaceTempView("psb")
    val df = spark.sql("SELECT pack_sign_bits(v, 3) FROM psb")
    assert(df.columns.toSeq == Seq("graft_pack_sign_bits(v)"))
    assert(df.head().getAs[Array[Byte]](0).toSeq == Seq(0xa0.toByte))
    val x = intercept[Exception](spark.sql("SELECT pack_sign_bits(v, 4) FROM psb").collect())
    val messages = Iterator.iterate[Throwable](x)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq
    assert(messages.exists(_.contains(
      "graft_pack_sign_bits: vector has 3 dims but thresholds have 4")), messages.mkString("\n"))
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
    // a per-cell tier joins exactly too: each corpus row decodes under
    // its own cell's block
    engine.makeBqIndex("bc", "bj", "vec", perCell = true)
    val perCell = engine.knnJoinBq("bc", "bj", "vec", queries, "q_id",
      "q_vec", k = 5, probes = 4, candidates = 1 << 20, idCol = "id",
      metric = Some("l2"), tieBreak = Seq("id"))
    assert(perCell.select("q_id", "id").as[(Long, Long)].collect().toSet == brute,
      "full-budget per-cell bq join must equal the brute join")
    engine.remove()
  }

  test("sign decode with no cells reconstructs conditional means; codegen == interpreted") {
    val rnd = new scala.util.Random(47)
    val d = 11
    val thr = IndexedSeq.fill(d)(0.0)
    val lo = IndexedSeq.fill(d)((rnd.nextDouble() * -2).toFloat)
    val hi = IndexedSeq.fill(d)((rnd.nextDouble() * 2).toFloat)
    val rows = Seq.tabulate(40)(i => (i.toLong, Seq.fill(d)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("id", "vec")
    def run(): Seq[(Long, Seq[Float])] = df
      .withColumn("code", packGlobal(col("vec"), thr))
      .withColumn("rec", kernel(graft.functions.DequantizeSignBitsPerCell(
        ex(col("code")), ex(lit(0L)), IndexedSeq.empty, lo, hi)))
      .orderBy("id").select("id", "rec")
      .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (codegen, interpreted) = codegenAndInterpreted(run())
    assert(codegen == interpreted, "codegen/interpreted divergence")
    codegen.zip(rows).foreach { case ((id, rec), (_, v)) =>
      val want = v.indices.map(i => if (v(i) > 0.0) hi(i) else lo(i))
      assert(rec == want, s"reconstruction mismatch id $id: $rec vs $want")
    }
  }

  test("asymmetric coarse ranking holds its recall floor at a tight budget") {
    val rnd = new scala.util.Random(59)
    // one diffuse cloud: with d=32 a symmetric (Hamming) code has only
    // 32 bits of resolution (heavy ties at a 100-candidate budget); the
    // asymmetric score keeps magnitudes, so it ranks within the tie
    // classes
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
    // a structure-free 32-d gaussian cloud at a 3% budget is the hardest
    // setting for any 1-bit code; the 1M × 256-d absolute numbers live in
    // bench_summary.json quality. (A sidecar without the levels is
    // refused: see the legacy-sidecar test.)
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

  /** A root with table `t` (clustered 8-d vectors, ids 0..159) and a
    * 4-cell coding `c`. */
  private def quantizedRoot(name: String): Engine = {
    val rnd = new scala.util.Random(83)
    val centers = Seq.fill(4)(Array.fill(8)(rnd.nextDouble() * 20 - 10))
    val engine = new Engine(spark, Files.createTempDirectory(name).toString)
    engine.makeTable("t", (0 until 160).map { i =>
      (i.toLong, centers(i % 4).map(x => (x + rnd.nextGaussian()).toFloat).toSeq)
    }.toDF("id", "vec"))
    engine.makeCoder("c", "t", "vec", CoderConfig(metric = "l2",
      codebookSize = 2, numCodebooks = 2, batchSize = 64, numEpochs = 2))
    engine
  }

  /** Rewrites a sidecar as JSON with `edit` applied to its top level and
    * to every cell block. */
  private def editSidecar(engine: Engine, path: String)(
      edit: com.fasterxml.jackson.databind.node.ObjectNode => Unit): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(engine.store.readSidecar(path))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    edit(root)
    Option(root.get("cells")).foreach(_.elements().forEachRemaining(c =>
      edit(c.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])))
    engine.store.writeSidecar(path, mapper.writeValueAsBytes(root))
  }

  private def hasCells(engine: Engine, path: String): Boolean =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(engine.store.readSidecar(path)).has("cells")

  test("a BQ sidecar without reconstruction levels reads as absent, is " +
      "refused by search and join, and repair rebuilds it per-cell or global as it was") {
    val engine = quantizedRoot("graft-bq-legacy")
    val target = Array.fill(8)(0.5)
    val sidecar = s"${engine.store.bqIndexPath("t", "vec", "c")}/_bq_thresholds.json"
    val queries = engine.readTable(Seq("t")).filter(col("id") < 3)
      .select(col("id").as("q_id"), col("vec").cast("array<double>").as("q_vec"))
    val brute = graft.api.Search.knn(engine.readTable(Seq("t")), "vec",
        Seq(Tuple1(target.toSeq)).toDF("t"), "l2", k = 5, tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSeq
    def search() = engine.searchBq("t", "vec", target, coding = "c", probes = 4,
      candidates = 1 << 20, idCol = "id", k = 5, metric = Some("l2"),
      tieBreak = Seq("id")).select("id").as[Long].collect().toSeq
    for (perCell <- Seq(false, true)) {
      engine.makeBqIndex("c", "t", "vec", perCell = perCell)
      editSidecar(engine, sidecar) { n => n.remove("lo"); n.remove("hi") }
      assert(!Index.bqIndexExists(engine.store, "c", "t", "vec"), s"perCell=$perCell")
      val x = intercept[IllegalStateException](search())
      assert(x.getMessage.contains("'lo'") && x.getMessage.contains("rebuild with buildBq"),
        x.getMessage)
      intercept[IllegalStateException] {
        engine.knnJoinBq("c", "t", "vec", queries, "q_id", "q_vec", k = 5,
          probes = 4, candidates = 1 << 20, idCol = "id").collect()
      }
      // a sync has nothing to encode under: it refuses too
      intercept[IllegalStateException](engine.syncBqIndex("c", "t", "vec", "id"))
      val stats = engine.repairIndex("c", "t", "vec", tier = "bq")
      assert(stats.fullRebuild, s"perCell=$perCell: $stats")
      assert(Index.bqIndexExists(engine.store, "c", "t", "vec"))
      assert(hasCells(engine, sidecar) == perCell, s"perCell=$perCell: mode lost")
      assert(search() == brute, s"perCell=$perCell: rebuilt tier is not exact")
    }
    engine.remove()
  }

  test("a corrupt SQ8 or BQ codec sidecar refuses as state (409), naming the " +
      "tier, field and builder, and its tier reads as absent; repair of a " +
      "truncated one refuses") {
    val engine = quantizedRoot("graft-quant-corrupt")
    val server = new graft.server.GraftServer(engine).start()
    val client = java.net.http.HttpClient.newHttpClient()
    def post(body: String): Int = client.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"http://127.0.0.1:${server.boundPort}/api/search"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/json").build(),
      java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
    def search(tier: String): Unit = {
      val t = Array.fill(8)(0.5)
      (if (tier == "sq") engine.searchSq("t", "vec", t, coding = "c", probes = 2,
        candidates = 40, idCol = "id", k = 5)
      else engine.searchBq("t", "vec", t, coding = "c", probes = 2,
        candidates = 40, idCol = "id", k = 5)).collect()
      ()
    }
    def exists(tier: String): Boolean =
      if (tier == "sq") Index.sqIndexExists(engine.store, "c", "t", "vec")
      else Index.bqIndexExists(engine.store, "c", "t", "vec")
    try {
      engine.makeSqIndex("c", "t", "vec")
      engine.makeBqIndex("c", "t", "vec", perCell = true)
      val sq = s"${engine.store.sqIndexPath("t", "vec", "c")}/_sq_params.json"
      val bq = s"${engine.store.bqIndexPath("t", "vec", "c")}/_bq_thresholds.json"
      def refused(tier: String, names: String*): Unit = {
        assert(!exists(tier), s"$tier: a corrupt sidecar must read as absent")
        val x = intercept[IllegalStateException](search(tier))
        names.foreach(n => assert(x.getMessage.contains(n), s"$tier: ${x.getMessage}"))
        assert(post(s"""{"sources":["t"],"column":"vec","target":[0,0,0,0,0,0,0,0],
            "coding":"c","probes":2,"candidates":40,"idCol":"id","$tier":true,
            "k":5}""") == 409, s"$tier: a corrupt sidecar is no bad request")
      }
      // truncated mid-write
      for ((tier, path, name, builder) <- Seq(("sq", sq, "SQ8", "buildSq"),
          ("bq", bq, "BQ", "buildBq"))) {
        val whole = engine.store.readSidecar(path)
        engine.store.writeSidecar(path, whole.take(whole.length / 2))
        refused(tier, name, builder)
        // the per-cell mode is unreadable too: repair refuses, not guesses
        val x = intercept[IllegalStateException](engine.repairIndex("c", "t", "vec", tier = tier))
        assert(x.getMessage.contains(s"$builder(perCell = true)"), s"$tier: ${x.getMessage}")
        engine.store.writeSidecar(path, whole)
        assert(exists(tier), s"$tier: the restored sidecar must read again")
      }
      // a per-cell BQ sidecar whose blocks have no levels
      editSidecar(engine, bq) { n => n.remove("lo"); n.remove("hi") }
      refused("bq", "BQ", "'lo'", "buildBq")
    } finally server.stop()
    engine.remove()
  }

  test("a corrupt PQ codec sidecar refuses as state (409), naming the field " +
      "and buildPq; its tier reads as absent, and sync and repair refuse") {
    val engine = quantizedRoot("graft-pq-corrupt")
    val server = new graft.server.GraftServer(engine).start()
    val client = java.net.http.HttpClient.newHttpClient()
    def post(body: String): Int = client.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"http://127.0.0.1:${server.boundPort}/api/search"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/json").build(),
      java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
    try {
      engine.makePqIndex("c", "t", "vec",
        graft.coder.PQ.PQConfig(numSubspaces = 2, codebookSize = 4, metric = "l2"))
      val sidecar = s"${engine.store.pqIndexPath("t", "vec", "c")}/_pq_codebooks.json"
      val whole = engine.store.readSidecar(sidecar)
      def search(): Unit = engine.searchPq("t", "vec", Array.fill(8)(0.5), coding = "c",
        probes = 2, candidates = 40, idCol = "id", k = 5).collect()
      val corruptions = Seq(
        // truncated mid-write
        (() => engine.store.writeSidecar(sidecar, whole.take(whole.length / 2)),
          "unreadable JSON"),
        // a field missing
        (() => editSidecar(engine, sidecar)(_.remove("numSubspaces")), "'numSubspaces'"))
      // over the wire each is a state conflict: no bad request, no server fault
      val statuses = corruptions.map { case (corrupt, _) =>
        corrupt()
        try post("""{"sources":["t"],"column":"vec","target":[0,0,0,0,0,0,0,0],
            "coding":"c","probes":2,"candidates":40,"idCol":"id","k":5}""")
        finally engine.store.writeSidecar(sidecar, whole)
      }
      assert(statuses == Seq(409, 409), s"statuses $statuses")
      for ((corrupt, field) <- corruptions) {
        corrupt()
        assert(!Index.pqIndexExists(engine.store, "c", "t", "vec"),
          s"$field: a corrupt sidecar must read as absent")
        val x = intercept[IllegalStateException](search())
        for (n <- Seq("malformed PQ sidecar", field, "rebuild with buildPq"))
          assert(x.getMessage.contains(n), x.getMessage)
        // no config to encode or rebuild under: both refuse, naming the builder
        intercept[IllegalStateException](engine.syncPqIndex("c", "t", "vec", "id"))
        val r = intercept[IllegalStateException](engine.repairIndex("c", "t", "vec", tier = "pq"))
        assert(r.getMessage.contains("rebuild with buildPq"), r.getMessage)
        engine.store.writeSidecar(sidecar, whole)
        assert(Index.pqIndexExists(engine.store, "c", "t", "vec"),
          s"$field: the restored sidecar must read again")
        search()
      }
    } finally server.stop()
    engine.remove()
  }
}
