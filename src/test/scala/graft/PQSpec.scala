package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.coder.PQ
import graft.coder.PQ.{PQCodebooks, PQConfig}
import graft.core.Metrics

/** Product-quantization coder + ADC search (PQ.scala, PQExpressions.scala). */
class PQSpec extends SparkSuite {
  private val rnd = new scala.util.Random(17)

  /** 4 well-separated clusters in 16-d, 50 points each, float elements. */
  private def clustered() = {
    import spark.implicits._
    val centers = Seq.fill(4)(Array.fill(16)(rnd.nextDouble() * 20 - 10))
    val rows = for {
      (c, ci) <- centers.zipWithIndex
      i <- 0 until 50
    } yield ((ci * 50 + i).toLong, c.map(x => (x + rnd.nextGaussian() * 0.1).toFloat).toSeq)
    rows.toDF("id", "vec")
  }

  test("expression encode matches driver encode bit-for-bit (all metrics)") {
    import spark.implicits._
    val df = clustered().cache()
    val raw = df.select("id", "vec").as[(Long, Seq[Float])].collect().toMap
    for (metric <- Seq("l2", "cosine", "dot")) {
      val cb = PQ.train(df, "vec", PQConfig(numSubspaces = 4, codebookSize = 8,
        metric = metric, sampleSize = 200, iters = 8))
      val got = df.withColumn("code", PQ.encodeExpr(col("vec"), cb))
        .select("id", "code").as[(Long, Array[Byte])].collect().toMap
      raw.foreach { case (id, v) =>
        val want = cb.encode(v.map(_.toDouble).toArray)
        assert(java.util.Arrays.equals(got(id), want), s"metric $metric id $id")
      }
      assert(got.values.head.length == 4, "one byte per subspace")
    }
  }

  test("full candidate budget equals brute force under every metric") {
    import spark.implicits._
    val df = clustered().cache()
    val target = df.filter(col("id") === 0)
      .select(col("vec").cast("array<double>")).collect()(0)
      .getSeq[Double](0).toArray
    for (metric <- Seq("l2", "cosine", "dot")) {
      val cb = PQ.train(df, "vec", PQConfig(numSubspaces = 4, codebookSize = 8,
        metric = metric, sampleSize = 200, iters = 8))
      val coded = df.withColumn("code", PQ.encodeExpr(col("vec"), cb))
      val pq = PQ.search(coded, "vec", "code", cb, target, k = 10,
        candidates = 1 << 20, tieBreak = Seq("id"))
        .select("id").as[Long].collect().toSeq
      val brute = df
        .withColumn("d", graft.functions.functions.vector_distance(
          col("vec"), typedLit(target.toSeq), metric))
        .orderBy(col("d").asc, col("id").asc).limit(10)
        .select("id").as[Long].collect().toSeq
      assert(pq == brute, s"metric $metric: PQ@full != brute")
    }
  }

  test("bounded candidates: high recall, coarse scan reads only codes") {
    import spark.implicits._
    val df = clustered().cache()
    val target = df.filter(col("id") === 0)
      .select(col("vec").cast("array<double>")).collect()(0)
      .getSeq[Double](0).toArray
    val cb = PQ.train(df, "vec", PQConfig(numSubspaces = 4, codebookSize = 16,
      metric = "l2", sampleSize = 200, iters = 10))
    val coded = df.withColumn("code", PQ.encodeExpr(col("vec"), cb)).cache()
    val pq = PQ.search(coded, "vec", "code", cb, target, k = 10,
      candidates = 30, tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSet
    val brute = df
      .withColumn("d", graft.functions.functions.vector_distance(
        col("vec"), typedLit(target.toSeq), "l2"))
      .orderBy(col("d").asc, col("id").asc).limit(10)
      .select("id").as[Long].collect().toSeq
    val recall = brute.count(pq.contains) / 10.0
    info(s"PQ recall@10 with 30/200 candidates: $recall")
    assert(recall >= 0.9, s"low PQ recall $recall")
  }

  test("ADC approximation error is bounded on clustered data") {
    import spark.implicits._
    val df = clustered().cache()
    val target = df.filter(col("id") === 1)
      .select(col("vec").cast("array<double>")).collect()(0)
      .getSeq[Double](0).toArray
    val cb = PQ.train(df, "vec", PQConfig(numSubspaces = 4, codebookSize = 16,
      metric = "l2", sampleSize = 200, iters = 10))
    val rows = df.withColumn("code", PQ.encodeExpr(col("vec"), cb))
      .withColumn("adc", PQ.adcScoreExpr(col("code"), cb, target))
      .withColumn("exact", graft.functions.functions.vector_distance(
        col("vec"), typedLit(target.toSeq), "l2"))
      .select("adc", "exact").as[(Double, Double)].collect()
    // tight clusters + per-cluster codewords => ADC ~ exact
    val maxErr = rows.map { case (a, e) => math.abs(a - e) }.max
    info(s"max |ADC - exact| = $maxErr")
    assert(maxErr < 1.0, s"ADC error too large: $maxErr")
  }

  test("save/load round-trip preserves codebooks and config") {
    val df = clustered()
    val cb = PQ.train(df, "vec", PQConfig(numSubspaces = 2, codebookSize = 4,
      metric = "cosine", sampleSize = 100, iters = 5))
    val path = Files.createTempDirectory("graft-pq").resolve("cb.json").toString
    PQ.save(path, cb)
    val back = PQ.load(path)
    assert(back.config == cb.config && back.dim == cb.dim)
    assert(back.centroids.flatten.flatten.toSeq == cb.centroids.flatten.flatten.toSeq)
    // and a loaded codebook encodes identically
    val v = Array.fill(16)(rnd.nextDouble())
    assert(java.util.Arrays.equals(back.encode(v), cb.encode(v)))
  }

  test("interpreted-mode parity (nullSafeEval vs codegen), every metric") {
    import spark.implicits._
    val df = clustered().cache()
    val target = df.filter(col("id") === 0)
      .select(col("vec").cast("array<double>")).collect()(0)
      .getSeq[Double](0).toArray
    for (metric <- Seq("l2", "cosine", "dot")) {
      val cb = PQ.train(df, "vec", PQConfig(numSubspaces = 4, codebookSize = 8,
        metric = metric, sampleSize = 200, iters = 8))
      def run(): Seq[(Long, Double)] =
        df.withColumn("code", PQ.encodeExpr(col("vec"), cb))
          .withColumn("adc", PQ.adcScoreExpr(col("code"), cb, target))
          .orderBy(col("id").asc).select("id", "adc")
          .as[(Long, Double)].collect().toSeq
      val codegen = run()
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interpreted = try run() finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
      assert(codegen == interpreted, s"codegen/interpreted divergence under $metric")
    }
  }

  // ——— OPQ (learned rotation, Ge et al. 2013) ———

  /** Anisotropic 16-d corpus: latent N(0, diag(decaying)) mixed by a fixed
    * random rotation, so high-variance directions straddle every subspace
    * boundary — the setting where classic PQ wastes its codebook bits and
    * OPQ's learned rotation is designed to win. */
  private def anisotropic(n: Int = 400) = {
    import spark.implicits._
    val dim = 16
    val arnd = new scala.util.Random(99)
    // fixed mixing rotation via QR-ish Gram-Schmidt of a random matrix
    val a = Array.fill(dim)(Array.fill(dim)(arnd.nextGaussian()))
    for (i <- 0 until dim) {
      for (j <- 0 until i) {
        val d = (0 until dim).map(t => a(i)(t) * a(j)(t)).sum
        for (t <- 0 until dim) a(i)(t) -= d * a(j)(t)
      }
      val nrm = math.sqrt(a(i).map(x => x * x).sum)
      for (t <- 0 until dim) a(i)(t) /= nrm
    }
    val sds = Array.tabulate(dim)(i => math.pow(0.7, i) * 8.0)
    val rows = (0 until n).map { id =>
      val z = Array.tabulate(dim)(i => arnd.nextGaussian() * sds(i))
      val x = Array.tabulate(dim)(t => (0 until dim).map(i => z(i) * a(i)(t)).sum.toFloat)
      (id.toLong, x.toSeq)
    }
    rows.toDF("id", "vec")
  }

  /** Mean squared quantization error of `cb` over the data, measured in
    * the space the codebooks live in (rotated when OPQ — orthogonal, so
    * directly comparable to the unrotated PQ error). */
  private def quantMse(cb: PQCodebooks, data: Array[Array[Double]]): Double = {
    val errs = data.map { v0 =>
      val v = cb.rotation.fold(v0) { rot =>
        val out = new Array[Double](cb.dim)
        for (d <- 0 until cb.dim; t <- 0 until cb.dim)
          out(d) += rot(t * cb.dim + d) * v0(t)
        out
      }
      val code = cb.encode(v0)
      var acc = 0.0
      for (j <- 0 until cb.m; t <- 0 until cb.subDim) {
        val d = v(j * cb.subDim + t) - cb.centroids(j)(code(j) & 0xFF)(t)
        acc += d * d
      }
      acc
    }
    errs.sum / errs.length
  }

  test("opq: rotation is orthogonal; save/load and codegen parity hold") {
    import spark.implicits._
    val df = anisotropic().cache()
    val cb = PQ.train(df, "vec", PQConfig(numSubspaces = 4, codebookSize = 16,
      metric = "l2", sampleSize = 400, iters = 8, opqIters = 3))
    val rot = cb.rotation.getOrElse(fail("opqIters > 0 must learn a rotation"))
    val dim = cb.dim
    for (i <- 0 until dim; j <- i until dim) {
      val d = (0 until dim).map(t => rot(i * dim + t) * rot(j * dim + t)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(d - want) < 1e-9, s"RRᵀ($i,$j) = $d")
    }
    // expression encode matches driver encode bit-for-bit under rotation
    val raw = df.select("id", "vec").as[(Long, Seq[Float])].collect().toMap
    val got = df.withColumn("code", PQ.encodeExpr(col("vec"), cb))
      .select("id", "code").as[(Long, Array[Byte])].collect().toMap
    raw.foreach { case (id, v) =>
      assert(java.util.Arrays.equals(got(id), cb.encode(v.map(_.toDouble).toArray)),
        s"opq codegen/driver divergence at id $id")
    }
    // persistence round-trips the rotation
    val path = Files.createTempDirectory("graft-opq").resolve("cb.json").toString
    PQ.save(path, cb)
    val back = PQ.load(path)
    assert(back.config.opqIters == 3)
    assert(back.rotation.map(_.toSeq) == cb.rotation.map(_.toSeq))
    val v = Array.fill(16)(rnd.nextDouble())
    assert(java.util.Arrays.equals(back.encode(v), cb.encode(v)))
  }

  test("opq: lower quantization error than plain PQ on anisotropic data") {
    val df = anisotropic().cache()
    val data = df.select(col("vec").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    val base = PQConfig(numSubspaces = 4, codebookSize = 16,
      metric = "l2", sampleSize = 400, iters = 10)
    val pq = PQ.train(df, "vec", base)
    val opq = PQ.train(df, "vec", base.copy(opqIters = 5))
    val mseP = quantMse(pq, data)
    val mseO = quantMse(opq, data)
    info(f"quantization MSE: pq=$mseP%.3f opq=$mseO%.3f (ratio ${mseO / mseP}%.2f)")
    assert(mseO < mseP * 0.9,
      s"OPQ must beat plain PQ by >10% on anisotropic data: $mseO vs $mseP")
  }

  test("opq: full candidate budget still equals brute force") {
    import spark.implicits._
    val df = anisotropic().cache()
    val target = df.filter(col("id") === 0)
      .select(col("vec").cast("array<double>")).collect()(0)
      .getSeq[Double](0).toArray
    for (metric <- Seq("l2", "cosine")) {
      val cb = PQ.train(df, "vec", PQConfig(numSubspaces = 4, codebookSize = 8,
        metric = metric, sampleSize = 400, iters = 8, opqIters = 3))
      val coded = df.withColumn("code", PQ.encodeExpr(col("vec"), cb))
      val pq = PQ.search(coded, "vec", "code", cb, target, k = 10,
        candidates = 1 << 20, tieBreak = Seq("id"))
        .select("id").as[Long].collect().toSeq
      val brute = df
        .withColumn("d", graft.functions.functions.vector_distance(
          col("vec"), typedLit(target.toSeq), metric))
        .orderBy(col("d").asc, col("id").asc).limit(10)
        .select("id").as[Long].collect().toSeq
      assert(pq == brute, s"metric $metric: OPQ@full != brute")
    }
  }
}

/** IVF+PQ materialized index lifecycle (Index.buildPq/searchIvfPq). */
class IvfPqSpec extends SparkSuite {
  import graft.api.Engine
  import graft.coder.CoderConfig
  import graft.index.Index

  private lazy val root = Files.createTempDirectory("graft-ivfpq").toString
  private lazy val engine = new Engine(spark, root)
  private val rnd = new scala.util.Random(23)

  private def data() = {
    import spark.implicits._
    val centers = Seq.fill(8)(Array.fill(16)(rnd.nextDouble() * 20 - 10))
    val rows = for {
      (c, ci) <- centers.zipWithIndex
      i <- 0 until 40
    } yield ((ci * 40 + i).toLong, c.map(x => (x + rnd.nextGaussian() * 0.1).toFloat).toSeq)
    rows.toDF("id", "vec")
  }

  test("ivf+pq: exact at full budgets, high recall bounded, codes-only coarse scan") {
    import spark.implicits._
    val df = data()
    engine.makeTable("pqv", df)
    engine.makeCoder("pc", "pqv", "vec",
      CoderConfig(metric = "l2", codebookSize = 4, numCodebooks = 2,
        batchSize = 128, numEpochs = 3))
    Index.build(engine.store, "pc", "pqv", "vec")
    engine.makePqIndex("pc", "pqv", "vec",
      PQConfig(numSubspaces = 4, codebookSize = 16, metric = "l2", sampleSize = 400))

    val target = df.filter(col("id") === 0)
      .select(col("vec").cast("array<double>")).collect()(0)
      .getSeq[Double](0).toArray
    val brute = df
      .withColumn("d", graft.functions.functions.vector_distance(
        col("vec"), typedLit(target.toSeq), "l2"))
      .orderBy(col("d").asc, col("id").asc).limit(10)
      .select("id").as[Long].collect().toSeq

    // full probes + full candidates == brute (via the Engine facade)
    val full = engine.searchPq("pqv", "vec", target, coding = "pc",
      probes = 16, candidates = 1 << 20, idCol = "id", k = 10,
      metric = Some("l2"), tieBreak = Seq("id"))
    assert(full.select("id").as[Long].collect().toSeq == brute)

    // the coarse scan must not read the vector column, in the
    // parquet plan (a second engine whose resident budget is taken, as
    // for a tier past the cap; a resident tier scans no file)
    val cold = new Engine(spark, engine.store.root)
    val planStr = overCap(cold.store)(cold.searchPq("pqv", "vec", target, coding = "pc",
      probes = 16, candidates = 1 << 20, idCol = "id", k = 10,
      metric = Some("l2"), tieBreak = Seq("id")))
      .queryExecution.executedPlan.toString
    val scans = planStr.split("\n").filter(_.contains("ReadSchema"))
    assert(scans.exists(l => l.contains(Index.PqCol) && !l.contains("vec:")),
      s"no codes-only scan found:\n$planStr")

    // bounded budgets: 4/16 probes, 40 candidates
    val probed = Index.searchIvfPq(engine.store, "pc", "pqv", "vec", target,
      k = 10, probes = 4, candidates = 40, idCol = "id",
      metric = Some("l2"), tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSet
    val recall = brute.count(probed.contains) / 10.0
    info(s"ivf+pq recall@10 at 4/16 probes, 40 candidates: $recall")
    assert(recall >= 0.9, s"low recall $recall")

    // metric mismatch is rejected (codebooks trained under l2)
    intercept[IllegalArgumentException] {
      Index.searchIvfPq(engine.store, "pc", "pqv", "vec", target,
        k = 5, probes = 4, candidates = 40, idCol = "id", metric = Some("cosine"))
    }
  }

  test("flat (non-residual) branch: cosine codebooks, exact at full budgets") {
    import spark.implicits._
    // the flat ADC path is now an explicit opt-in (residual covers all metrics)
    engine.makePqIndex("pc", "pqv", "vec",
      PQConfig(numSubspaces = 4, codebookSize = 16, metric = "cosine", sampleSize = 400),
      residual = false)
    assert(!Index.loadPqCodebooks(engine.store, "pc", "pqv", "vec").residual)
    val df = engine.readTable(Seq("pqv"))
    val target = df.filter(col("id") === 5)
      .select(col("vec").cast("array<double>")).collect()(0)
      .getSeq[Double](0).toArray
    val brute = df
      .withColumn("d", graft.functions.functions.vector_distance(
        col("vec"), typedLit(target.toSeq), "cosine"))
      .orderBy(col("d").asc, col("id").asc).limit(10)
      .select("id").as[Long].collect().toSeq
    val got = engine.searchPq("pqv", "vec", target, coding = "pc",
      probes = 16, candidates = 1 << 20, idCol = "id", k = 10,
      metric = Some("cosine"), tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSeq
    assert(got == brute, "flat cosine IVF+PQ at full budgets must equal brute")
  }

  test("residual branch covers cosine and dot: exact at full budgets") {
    import spark.implicits._
    val df = engine.readTable(Seq("pqv"))
    val target = df.filter(col("id") === 5)
      .select(col("vec").cast("array<double>")).collect()(0)
      .getSeq[Double](0).toArray
    for (metric <- Seq("cosine", "dot")) {
      engine.makePqIndex("pc", "pqv", "vec",
        PQConfig(numSubspaces = 4, codebookSize = 16, metric = metric,
          sampleSize = 400))
      val cb = Index.loadPqCodebooks(engine.store, "pc", "pqv", "vec")
      assert(cb.residual, s"$metric build must take the residual branch")
      assert(cb.canonicalMetric == graft.core.Metrics.canonical(metric))
      val brute = df
        .withColumn("d", graft.functions.functions.vector_distance(
          col("vec"), typedLit(target.toSeq), metric))
        .orderBy(col("d").asc, col("id").asc).limit(10)
        .select("id").as[Long].collect().toSeq
      val got = engine.searchPq("pqv", "vec", target, coding = "pc",
        probes = 16, candidates = 1 << 20, idCol = "id", k = 10,
        metric = Some(metric), tieBreak = Seq("id"))
        .select("id").as[Long].collect().toSeq
      assert(got == brute, s"residual $metric IVF+PQ at full budgets must equal brute")
    }
  }

  test("residual + OPQ rotation: exact at full budgets (l2, cosine)") {
    import spark.implicits._
    val df = engine.readTable(Seq("pqv"))
    val target = df.filter(col("id") === 7)
      .select(col("vec").cast("array<double>")).collect()(0)
      .getSeq[Double](0).toArray
    for (metric <- Seq("l2", "cosine")) {
      engine.makePqIndex("pc", "pqv", "vec",
        PQConfig(numSubspaces = 4, codebookSize = 16, metric = metric,
          sampleSize = 400, opqIters = 3))
      val cb = Index.loadPqCodebooks(engine.store, "pc", "pqv", "vec")
      assert(cb.residual && cb.rotation.nonEmpty,
        s"$metric build must be residual with a learned rotation")
      val brute = df
        .withColumn("d", graft.functions.functions.vector_distance(
          col("vec"), typedLit(target.toSeq), metric))
        .orderBy(col("d").asc, col("id").asc).limit(10)
        .select("id").as[Long].collect().toSeq
      val got = engine.searchPq("pqv", "vec", target, coding = "pc",
        probes = 16, candidates = 1 << 20, idCol = "id", k = 10,
        metric = Some(metric), tieBreak = Seq("id"))
        .select("id").as[Long].collect().toSeq
      assert(got == brute, s"residual OPQ $metric at full budgets must equal brute")
    }
  }

  test("residual >= flat at a bounded budget (cosine, cluster-dominated corpus)") {
    import spark.implicits._
    // Cluster-dominated: big per-cluster offsets, small within-cluster
    // noise — flat codewords separate clusters but rank within a cell at
    // chance; residual codewords spend all resolution on the noise.
    val rnd2 = new scala.util.Random(41)
    val centers = Seq.fill(8)(Array.fill(32)(rnd2.nextDouble() * 40 - 20))
    val rows = for {
      (c, ci) <- centers.zipWithIndex
      i <- 0 until 100
    } yield ((ci * 100 + i).toLong,
      c.map(x => (x + rnd2.nextGaussian() * 1.0).toFloat).toSeq)
    val df = rows.toDF("id", "vec")
    engine.makeTable("pqres", df)
    engine.makeCoder("pcr", "pqres", "vec",
      CoderConfig(metric = "cosine", codebookSize = 4, numCodebooks = 2,
        batchSize = 256, numEpochs = 3))
    val target = df.filter(col("id") === 7)
      .select(col("vec").cast("array<double>")).collect()(0)
      .getSeq[Double](0).toArray
    val brute = df
      .withColumn("d", graft.functions.functions.vector_distance(
        col("vec"), typedLit(target.toSeq), "cosine"))
      .orderBy(col("d").asc, col("id").asc).limit(10)
      .select("id").as[Long].collect().toSeq
    def recallWith(residual: Boolean): Double = {
      engine.makePqIndex("pcr", "pqres", "vec",
        PQConfig(numSubspaces = 8, codebookSize = 32, metric = "cosine",
          sampleSize = 800, iters = 20), residual = residual)
      val got = engine.searchPq("pqres", "vec", target, coding = "pcr",
        probes = 16, candidates = 40, idCol = "id", k = 10,
        metric = Some("cosine"), tieBreak = Seq("id"))
        .select("id").as[Long].collect().toSet
      brute.count(got.contains) / 10.0
    }
    val flat = recallWith(residual = false)
    val res = recallWith(residual = true)
    // Budget (40) is deliberately << rows-per-cluster (100): at budget ≈
    // rows/cell both variants trivially reach 1.0 and the comparison says
    // nothing. In this regime ADC ranking is noise-limited (see NOTES —
    // budget must scale with rows/cell), so the contract is the PAIR:
    // residual must clearly beat flat, not hit an absolute number.
    info(s"recall@10 at 40-candidate budget: flat=$flat residual=$res")
    assert(res >= flat + 0.2, s"residual recall $res does not clearly beat flat $flat")
    assert(res >= 0.5, s"residual recall $res too low on clustered data")
  }

  test("per-cell ADC (residual search) matches between codegen and interpreted") {
    import spark.implicits._
    // cosine exercises the shared-table + per-cell-constant layout;
    // bounded budget so the ADC ordering actually decides the result
    val target: Array[Double] = engine.readTable(Seq("pqres"))
      .filter(col("id") === 42)
      .select(col("vec").cast("array<double>")).collect()(0)
      .getSeq[Double](0).toArray
    def run(): Seq[Long] =
      engine.searchPq("pqres", "vec", target,
        coding = "pcr", probes = 16, candidates = 40, idCol = "id", k = 10,
        metric = Some("cosine"), tieBreak = Seq("id"))
        .select("id").as[Long].collect().toSeq
    val codegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interpreted = try run() finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(codegen == interpreted,
      s"codegen $codegen != interpreted $interpreted")
  }

  test("above the cell cap, residual build refuses unless flat is explicit") {
    val many = CoderConfig(metric = "l2", codebookSize = 70, numCodebooks = 2,
      batchSize = 256, numEpochs = 1)
    assert(many.numCells > 4096)
    engine.makeCoder("pbig", "pqres", "vec", many)
    val err = intercept[IllegalArgumentException] {
      engine.makePqIndex("pbig", "pqres", "vec",
        PQConfig(numSubspaces = 4, codebookSize = 8, sampleSize = 400))
    }
    assert(err.getMessage.contains("residual = false"))
    engine.makePqIndex("pbig", "pqres", "vec",
      PQConfig(numSubspaces = 4, codebookSize = 8, sampleSize = 400),
      residual = false)
    assert(!Index.loadPqCodebooks(engine.store, "pbig", "pqres", "vec").residual)
  }

  test("incremental pq sync: encode-only append stays exact at full budgets") {
    import spark.implicits._
    val full = data()
    // build on a 5-cluster subset; the coder knows only that subset too,
    // so later clusters land in cells with NO empirical anchor — the
    // deterministic fallback-anchor path gets exercised for real
    engine.makeTable("pqsync", full.filter(col("id") < 200))
    engine.makeCoder("psync", "pqsync", "vec",
      CoderConfig(metric = "cosine", codebookSize = 4, numCodebooks = 2,
        batchSize = 128, numEpochs = 3))
    engine.makePqIndex("psync", "pqsync", "vec",
      PQConfig(numSubspaces = 4, codebookSize = 16, metric = "cosine",
        sampleSize = 400))
    assert(Index.loadPqCodebooks(engine.store, "psync", "pqsync", "vec").residual)

    // the source grows; sync appends ONLY the new rows, no retraining
    engine.makeTable("pqsync", full)
    val appended = engine.syncPqIndex("psync", "pqsync", "vec", "id")
    assert(appended == 120, s"expected 120 appended, got $appended")
    assert(engine.syncPqIndex("psync", "pqsync", "vec", "id") == 0L)

    val target = full.filter(col("id") === 310) // a post-build cluster
      .select(col("vec").cast("array<double>")).collect()(0)
      .getSeq[Double](0).toArray
    val brute = full
      .withColumn("d", graft.functions.functions.vector_distance(
        col("vec"), typedLit(target.toSeq), "cosine"))
      .orderBy(col("d").asc, col("id").asc).limit(10)
      .select("id").as[Long].collect().toSeq
    val got = engine.searchPq("pqsync", "vec", target, coding = "psync",
      probes = 16, candidates = 1 << 20, idCol = "id", k = 10,
      metric = Some("cosine"), tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSeq
    assert(got == brute, "post-sync full-budget search must equal brute")

    // config mismatch refuses instead of silently mixing layouts
    val err = intercept[IllegalArgumentException] {
      engine.syncPqIndex("psync", "pqsync", "vec", "id",
        expect = Some(PQConfig(numSubspaces = 8, codebookSize = 16,
          metric = "cosine")))
    }
    assert(err.getMessage.contains("mismatch"))
    // missing index refuses too
    intercept[IllegalArgumentException] {
      engine.syncPqIndex("nope", "pqsync", "vec", "id")
    }
  }

  test("multi-source pq search unions per-source exact top-k") {
    import spark.implicits._
    // nearest-to-target rows interleave across the two sources
    val a = (0 until 10).map(i => (i.toLong, Seq.tabulate(8)(d => if (d == 0) (2 * i).toFloat else 0f)))
    val b = (0 until 10).map(i => ((100 + i).toLong, Seq.tabulate(8)(d => if (d == 0) (2 * i + 1).toFloat else 0f)))
    engine.makeTable("msrc_a", a.toDF("id", "vec"))
    engine.makeTable("msrc_b", b.toDF("id", "vec"))
    engine.makeCoder("pm", "msrc_a", "vec",
      CoderConfig(metric = "l2", codebookSize = 2, numCodebooks = 1,
        batchSize = 64, numEpochs = 2))
    val cfg = PQConfig(numSubspaces = 2, codebookSize = 4, metric = "l2",
      sampleSize = 64)
    engine.makePqIndex("pm", "msrc_a", "vec", cfg)
    engine.makePqIndex("pm", "msrc_b", "vec", cfg)
    val got = engine.searchPqMulti(Seq("msrc_a", "msrc_b"), "vec",
      Array.fill(8)(0.0), coding = "pm", probes = 2, candidates = 100,
      idCol = "id", k = 6, metric = Some("l2"), tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSeq
    assert(got == Seq(0L, 100L, 1L, 101L, 2L, 102L), s"got $got")

    // mixed-metric indexes refuse up front: cosine ∈ [0,1] unioned with
    // unbounded l2 distances would silently return garbage ordering
    engine.makePqIndex("pm", "msrc_b", "vec", cfg.copy(metric = "cosine"))
    val err = intercept[IllegalArgumentException] {
      engine.searchPqMulti(Seq("msrc_a", "msrc_b"), "vec", Array.fill(8)(0.0),
        coding = "pm", probes = 2, candidates = 100, idCol = "id", k = 6)
    }
    assert(err.getMessage.contains("ONE metric"), err.getMessage)
  }

  test("drop coding removes the pq index too") {
    assert(Index.pqIndexExists(engine.store, "pc", "pqv", "vec"))
    engine.dropIndex("pc")
    assert(!Index.pqIndexExists(engine.store, "pc", "pqv", "vec"))
    engine.remove()
  }
}

class SqSpec extends SparkSuite {
  import graft.api.Engine
  import graft.coder.CoderConfig
  import graft.index.Index
  import org.apache.spark.sql.functions._

  test("quantize expression is bit-identical to the quantize udf") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val df = (0 until 200).map { i =>
      // include values far outside the affine range to exercise clamping
      (i.toLong, Seq.fill(16)((rnd.nextGaussian() * (if (i % 7 == 0) 1e4 else 2)).toFloat))
    }.toDF("id", "vec")
    val (scale, zp) = (0.173f, 117.3f)
    val both = df.select(
      graft.types.Tensors.quantizeUdf(scale, zp)(col("vec")).as("u"),
      org.apache.spark.sql.GraftShims.column(graft.functions.Quantize(
        org.apache.spark.sql.GraftShims.expression(col("vec")), scale, zp)).as("e"))
    val rows = both.collect()
    assert(rows.forall(r => java.util.Arrays.equals(
      r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1))))
    // double input path too
    val d = df.select(col("id"), col("vec").cast("array<double>").as("vec"))
      .select(org.apache.spark.sql.GraftShims.column(graft.functions.Quantize(
        org.apache.spark.sql.GraftShims.expression(col("vec")), scale, zp)).as("e"))
    assert(d.collect().length == 200)
  }

  test("ivf+sq8: exact at full budgets, codes-only coarse scan, near-exact bounded") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val centers = Seq.fill(8)(Array.fill(16)(rnd.nextDouble() * 20 - 10))
    val rows = for {
      (c, ci) <- centers.zipWithIndex
      i <- 0 until 40
    } yield ((ci * 40 + i).toLong, c.map(x => (x + rnd.nextGaussian() * 0.1).toFloat).toSeq)
    val df = rows.toDF("id", "vec")
    val root = Files.createTempDirectory("graft-sq").toString
    val engine = new Engine(spark, root)
    engine.makeTable("sqv", df)
    engine.makeCoder("sc", "sqv", "vec",
      CoderConfig(metric = "l2", codebookSize = 4, numCodebooks = 2,
        batchSize = 128, numEpochs = 3))
    Index.build(engine.store, "sc", "sqv", "vec")
    val sqParams = engine.makeSqIndex("sc", "sqv", "vec")
    assert(sqParams.dim == 16 && sqParams.scales.forall(s => s > 0 && !s.isNaN))

    val target = df.filter(col("id") === 0)
      .select(col("vec").cast("array<double>")).collect()(0)
      .getSeq[Double](0).toArray
    val brute = df
      .withColumn("d", graft.functions.functions.vector_distance(
        col("vec"), typedLit(target.toSeq), "l2"))
      .orderBy(col("d").asc, col("id").asc).limit(10)
      .select("id").as[Long].collect().toSeq

    // full probes + candidates == brute
    val full = engine.searchSq("sqv", "vec", target, coding = "sc",
      probes = 16, candidates = 1 << 20, idCol = "id", k = 10,
      metric = Some("l2"), tieBreak = Seq("id"))
    assert(full.select("id").as[Long].collect().toSeq == brute)

    // the coarse scan reads codes, not the vector column, in the
    // parquet plan (a second engine whose resident budget is taken, as
    // for a tier past the cap; a resident tier scans no file)
    val cold = new Engine(spark, engine.store.root)
    val planStr = overCap(cold.store)(cold.searchSq("sqv", "vec", target, coding = "sc",
      probes = 16, candidates = 1 << 20, idCol = "id", k = 10,
      metric = Some("l2"), tieBreak = Seq("id")))
      .queryExecution.executedPlan.toString
    val scans = planStr.split("\n").filter(_.contains("ReadSchema"))
    assert(scans.exists(l => l.contains(Index.SqCol) && !l.contains("vec:")),
      s"no codes-only scan found:\n$planStr")

    // 8-bit ranking is near-exact: a candidate budget of just k already
    // recovers the true top-k here (PQ needs a far larger rerank budget)
    val tight = engine.searchSq("sqv", "vec", target, coding = "sc",
      probes = 16, candidates = 10, idCol = "id", k = 10,
      metric = Some("l2"), tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSet
    val recall = brute.count(tight.contains) / 10.0
    info(s"sq8 recall@10 at candidates=10: $recall")
    assert(recall >= 0.9, s"low sq8 recall $recall")

    // the SQ copy is metric-agnostic (it stores quantized VECTORS, not
    // metric-specific codes): the same index serves cosine exactly —
    // the scale answer for the metric where PQ's residual ADC is
    // budget-hungry on structure-free corpora
    val bruteCos = df
      .withColumn("d", graft.functions.functions.vector_distance(
        col("vec"), typedLit(target.toSeq), "cosine"))
      .orderBy(col("d").asc, col("id").asc).limit(10)
      .select("id").as[Long].collect().toSeq
    val fullCos = engine.searchSq("sqv", "vec", target, coding = "sc",
      probes = 16, candidates = 1 << 20, idCol = "id", k = 10,
      metric = Some("cosine"), tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSeq
    assert(fullCos == bruteCos, "cosine SQ at full budgets must equal brute")

    // incremental sync: grow the source, append quantize-only under the
    // stored affine params, full-budget search reflects the new rows
    val extra = (400 until 420).map { i =>
      (i.toLong, centers(0).map(x => (x + rnd.nextGaussian() * 0.1).toFloat).toSeq)
    }
    val grown = df.unionByName(extra.toDF("id", "vec"))
    engine.makeTable("sqv", grown)
    assert(engine.syncSqIndex("sc", "sqv", "vec", "id") == 20L)
    assert(engine.syncSqIndex("sc", "sqv", "vec", "id") == 0L) // idempotent
    val target2 = extra.head._2.map(_.toDouble).toArray
    val brute2 = grown
      .withColumn("d", graft.functions.functions.vector_distance(
        col("vec"), typedLit(target2.toSeq), "l2"))
      .orderBy(col("d").asc, col("id").asc).limit(10)
      .select("id").as[Long].collect().toSeq
    val full2 = engine.searchSq("sqv", "vec", target2, coding = "sc",
      probes = 16, candidates = 1 << 20, idCol = "id", k = 10,
      metric = Some("l2"), tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSeq
    assert(full2 == brute2, s"post-sync full-budget != brute: $full2 vs $brute2")

    // sync refuses when no SQ index exists
    intercept[IllegalArgumentException] {
      Index.syncIncremental(engine.store, "nope", "sqv", "vec", "id", tier = "sq")
    }

    // drop-index also removes the SQ copy (the A4 leak-fix contract)
    engine.dropIndex("sc")
    assert(!Index.sqIndexExists(engine.store, "sc", "sqv", "vec"))
    engine.remove()
  }

  test("per-dim quantize: round-trip bounded per dimension; constant dims exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    // wildly different per-dimension ranges + a constant dimension
    val rows = (0 until 100).map { i =>
      (i.toLong, Seq(rnd.nextGaussian().toFloat, (rnd.nextDouble() * 1e4).toFloat,
        3.5f, (rnd.nextDouble() * 0.01 - 0.005).toFloat))
    }
    val df = rows.toDF("id", "vec")
    val lo = Array.tabulate(4)(d => rows.map(_._2(d).toDouble).min)
    val hi = Array.tabulate(4)(d => rows.map(_._2(d).toDouble).max)
    val p = Index.fitSqParams(lo, hi)
    assert(p.scales(2) == 1f && p.zeroPoints(2) == -3.5f) // constant dim
    // the SQ8 kernels with no cells: the one (global) params block
    import org.apache.spark.sql.GraftShims.{column => kernel, expression => ex}
    def quantize(v: org.apache.spark.sql.Column) = kernel(graft.functions.QuantizePerCellDim(
      ex(v), ex(lit(0L)), IndexedSeq.empty, p.scales.toIndexedSeq, p.zeroPoints.toIndexedSeq))
    val back = df.select(col("vec"),
      kernel(graft.functions.DequantizePerCellDim(ex(quantize(col("vec"))), ex(lit(0L)),
        IndexedSeq.empty, p.scales.toIndexedSeq, p.zeroPoints.toIndexedSeq)).as("rt"))
      .as[(Seq[Float], Seq[Float])].collect()
    back.foreach { case (v, rt) =>
      for (d <- 0 until 4) {
        val err = math.abs(v(d) - rt(d))
        assert(err <= p.scales(d) / 2.0 + 1e-4,
          s"dim $d err $err exceeds ${p.scales(d) / 2}")
      }
      assert(rt(2) == 3.5f, "constant dimension must round-trip exactly")
    }
    // dimension mismatch is refused, not silently mis-encoded
    val bad = Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "vec")
    val e = intercept[Throwable] {
      bad.select(quantize(col("vec"))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("dims")), s"unexpected: $e")
  }

  test("per-dim affine survives an outlier dimension that collapses global affine") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val dim = 8
    // normal corpus in ~[-2,2]^8, one row carries a 1e4 outlier in dim 3:
    // a single global (scale,zeroPoint) then maps every normal value to
    // the same bucket and the coarse ranking collapses to ties
    val rows = (0 until 400).map { i =>
      val v = Array.fill(dim)((rnd.nextGaussian() * 0.7).toFloat)
      if (i == 399) v(3) = 1e4f
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("id", "vec")
    val root = Files.createTempDirectory("graft-sq-outlier").toString
    val engine = new Engine(spark, root)
    engine.makeTable("ov", df)
    engine.makeCoder("oc", "ov", "vec",
      CoderConfig(metric = "l2", codebookSize = 2, numCodebooks = 2,
        batchSize = 128, numEpochs = 2))
    Index.build(engine.store, "oc", "ov", "vec")
    engine.makeSqIndex("oc", "ov", "vec")

    val target = rows(7)._2.map(_.toDouble).toArray
    val brute = df
      .withColumn("d", graft.functions.functions.vector_distance(
        col("vec"), typedLit(target.toSeq), "l2"))
      .orderBy(col("d").asc, col("id").asc).limit(10)
      .select("id").as[Long].collect().toSet

    // per-dim SQ8 at a tight candidate budget keeps its recall
    val perDim = engine.searchSq("ov", "vec", target, coding = "oc",
      probes = 4, candidates = 100, idCol = "id", k = 10,
      metric = Some("l2"), tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSet
    val perDimRecall = brute.count(perDim.contains) / 10.0

    // the global-affine coarse ranking under the same budget: fit ONE
    // (scale, zeroPoint) over all elements, rank by dequantized distance
    val allVals = rows.flatMap(_._2.map(_.toDouble))
    val gScale = ((allVals.max - allVals.min) / 255.0).toFloat
    val gZp = (-allVals.min / gScale).toFloat
    val gSurvivors = df
      .withColumn("q", org.apache.spark.sql.GraftShims.column(
        graft.functions.Quantize(
          org.apache.spark.sql.GraftShims.expression(col("vec")), gScale, gZp)))
      .withColumn("dq", graft.types.Tensors.dequantize(col("q"), gScale, gZp))
      .withColumn("d", graft.functions.functions.vector_distance(
        col("dq"), typedLit(target.toSeq), "l2"))
      .orderBy(col("d").asc, col("id").asc).limit(100)
      .select("id").as[Long].collect().toSet
    val globalRecall = brute.count(gSurvivors.contains) / 10.0

    info(s"recall@10 with candidates=100: per-dim $perDimRecall, global $globalRecall")
    assert(perDimRecall >= 0.9,
      s"per-dim SQ8 recall collapsed under an outlier dimension: $perDimRecall")
    assert(globalRecall < 0.8,
      s"test fixture no longer collapses the global affine ($globalRecall) — " +
        "strengthen the outlier")
    engine.remove()
  }

  test("per-cell affine: disjoint-range clusters where per-cell beats per-dim") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    val dim = 8
    // two TIGHT clusters with disjoint per-dimension ranges: a shared
    // per-dim affine spends its 8 bits on the ~1000-wide between-cluster
    // gap (step ≈ 4), so every within-cluster value collapses into one
    // bucket and the coarse ranking is pure ties; per-(cell,dim) params
    // give each cluster its own tight range
    val rows = (0 until 800).map { i =>
      val base = if (i < 400) 0.0 else 1000.0
      (i.toLong,
        Array.tabulate(dim)(_ => (base + rnd.nextGaussian() * 0.05).toFloat).toSeq)
    }
    val df = rows.toDF("id", "vec")
    val root = Files.createTempDirectory("graft-sq-cell").toString
    val engine = new Engine(spark, root)
    engine.makeTable("cv", df)
    engine.makeCoder("cc", "cv", "vec",
      CoderConfig(metric = "l2", codebookSize = 2, numCodebooks = 1,
        batchSize = 128, numEpochs = 3))
    Index.build(engine.store, "cc", "cv", "vec")

    val target = rows(7)._2.map(_.toDouble).toArray
    def brute(): Seq[Long] = engine.readTable(Seq("cv"))
      .withColumn("d", graft.functions.functions.vector_distance(
        col("vec"), typedLit(target.toSeq), "l2"))
      .orderBy(col("d").asc, col("id").asc).limit(10)
      .select("id").as[Long].collect().toSeq
    def recallAt(candidates: Int): Double = {
      val got = engine.searchSq("cv", "vec", target, coding = "cc",
          probes = 2, candidates = candidates, idCol = "id", k = 10,
          metric = Some("l2"), tieBreak = Seq("id"))
        .select("id").as[Long].collect().toSet
      brute().count(got.contains) / 10.0
    }

    engine.makeSqIndex("cc", "cv", "vec") // shared per-dim baseline
    val sharedRecall = recallAt(50)
    engine.makeSqIndex("cc", "cv", "vec", perCell = true)
    val cellRecall = recallAt(50)
    info(s"recall@10 at candidates=50: shared $sharedRecall, per-cell $cellRecall")
    assert(cellRecall == 1.0,
      s"per-cell SQ8 must rank near-exactly within tight clusters: $cellRecall")
    assert(sharedRecall < cellRecall,
      s"fixture no longer separates per-cell from shared ($sharedRecall)")

    // exact at full budgets (the oracle contract), per-cell build active
    val full = engine.searchSq("cv", "vec", target, coding = "cc",
        probes = 2, candidates = 1 << 20, idCol = "id", k = 10,
        metric = Some("l2"), tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSeq
    assert(full == brute(), "per-cell SQ8 at full budgets must equal brute")

    // incremental sync encodes appends under the per-cell params (unseen
    // values clamp; full-budget search stays exact because rerank is)
    val extra = (0 until 10).map(i =>
      (900L + i, Array.tabulate(dim)(_ => (500.0 + rnd.nextGaussian()).toFloat).toSeq))
      .toDF("id", "vec")
    extra.coalesce(1).write.mode("append")
      .parquet(engine.store.tablePath("cv"))
    assert(Index.syncIncremental(engine.store, "cc", "cv", "vec", "id", tier = "sq") == 10L)
    val full2 = engine.searchSq("cv", "vec", target, coding = "cc",
        probes = 2, candidates = 1 << 20, idCol = "id", k = 10,
        metric = Some("l2"), tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSeq
    assert(full2 == brute(), "per-cell SQ8 stays exact after incremental sync")
    engine.remove()
  }
}

class SqKnnJoinSpec extends SparkSuite {
  import graft.api.Engine
  import graft.coder.CoderConfig
  import graft.index.Index
  import org.apache.spark.sql.functions._

  test("sq knn join: exact at full budgets; coarse join carries codes, not vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val centers = Seq.fill(4)(Array.fill(8)(rnd.nextDouble() * 20 - 10))
    val rows = for {
      (c, ci) <- centers.zipWithIndex
      i <- 0 until 30
    } yield ((ci * 30 + i).toLong, c.map(x => (x + rnd.nextGaussian() * 0.1).toFloat).toSeq)
    val df = rows.toDF("id", "vec")
    val root = Files.createTempDirectory("graft-sqknn").toString
    val engine = new Engine(spark, root)
    engine.makeTable("kv", df)
    engine.makeCoder("kc", "kv", "vec",
      CoderConfig(metric = "l2", codebookSize = 2, numCodebooks = 2,
        batchSize = 64, numEpochs = 2))
    Index.build(engine.store, "kc", "kv", "vec")
    engine.makeSqIndex("kc", "kv", "vec")

    val queries = df.filter(col("id") < 3)
      .select(col("id").as("q_id"), col("vec").cast("array<double>").as("q_vec"))
    // brute per-query top-3 via the unindexed knn join
    val brute = graft.api.Search.knnJoin(df, "vec", queries,
        "q_id", "q_vec", metric = "l2", k = 3, tieBreak = Seq("id"))
      .select("q_id", "id").as[(Long, Long)].collect().toSet
    val full = Index.sqKnnJoin(engine.store, "kc", "kv", "vec", queries,
        "q_id", "q_vec", k = 3, probes = 4, candidates = 1 << 20,
        idCol = "id", metric = Some("l2"), tieBreak = Seq("id"))
      .select("q_id", "id").as[(Long, Long)].collect().toSet
    assert(full == brute, s"full-budget sq knn join != brute:\n$full\nvs $brute")

    // bounded budgets stay near-exact (8-bit coarse ranking)
    val tight = Index.sqKnnJoin(engine.store, "kc", "kv", "vec", queries,
        "q_id", "q_vec", k = 3, probes = 2, candidates = 5,
        idCol = "id", metric = Some("l2"), tieBreak = Seq("id"))
      .select("q_id", "id").as[(Long, Long)].collect().toSet
    val recall = brute.count(tight.contains).toDouble / brute.size
    info(s"sq knn join recall at probes=2, candidates=5: $recall")
    assert(recall >= 0.8, s"low recall $recall")

    // the coarse (pre-rerank) stage must not carry the vector column:
    // its scan reads only (id, cell, codes)
    val planStr = Index.sqKnnJoin(engine.store, "kc", "kv", "vec", queries,
        "q_id", "q_vec", k = 3, probes = 4, candidates = 10,
        idCol = "id", metric = Some("l2"), tieBreak = Seq("id"))
      .queryExecution.executedPlan.toString
    val scans = planStr.split("\n").filter(_.contains("ReadSchema"))
    assert(scans.exists(l => l.contains(Index.SqCol) && !l.contains("vec:")),
      s"no codes-only scan in:\n$planStr")
    // the rerank reads the corpus through a BROADCAST of the survivor
    // ids — the corpus itself must never shuffle by id (only the
    // per-query windows exchange, on q_id)
    assertNoCorpusIdShuffle(planStr)

    // a per-cell tier joins exactly too: each corpus row dequantizes
    // under its own cell's block
    engine.makeSqIndex("kc", "kv", "vec", perCell = true)
    val perCell = Index.sqKnnJoin(engine.store, "kc", "kv", "vec", queries,
        "q_id", "q_vec", k = 3, probes = 4, candidates = 1 << 20,
        idCol = "id", metric = Some("l2"), tieBreak = Seq("id"))
      .select("q_id", "id").as[(Long, Long)].collect().toSet
    assert(perCell == brute, s"full-budget per-cell sq knn join != brute:\n$perCell\nvs $brute")
    engine.remove()
  }
}

/** Batch PQ (ADC) + retrieve-rerank k-NN joins: exact at full budgets,
  * near-exact bounded, and the coarse stages never read raw vectors. */
class PqRerankKnnJoinSpec extends SparkSuite {
  import graft.api.Engine
  import graft.coder.CoderConfig
  import graft.index.Index
  import org.apache.spark.sql.functions._

  private def clustered(seed: Int): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    val centers = Seq.fill(4)(Array.fill(8)(rnd.nextDouble() * 20 - 10))
    for {
      (c, ci) <- centers.zipWithIndex
      i <- 0 until 30
    } yield ((ci * 30 + i).toLong,
      c.map(x => (x + rnd.nextGaussian() * 0.1).toFloat).toSeq)
  }

  test("pq knn join: exact at full budgets (residual l2 AND flat cosine); " +
      "coarse join carries codes + tables, never vectors") {
    import spark.implicits._
    val df = clustered(37).toDF("id", "vec")
    val root = Files.createTempDirectory("graft-pqknn").toString
    val engine = new Engine(spark, root)
    engine.makeTable("kv", df)
    val queries = df.filter(col("id") < 3)
      .select(col("id").as("q_id"), col("vec").cast("array<double>").as("q_vec"))
    for ((metric, residual) <- Seq(("l2", true), ("cosine", false))) {
      val cName = s"kc_$metric"
      engine.makeCoder(cName, "kv", "vec",
        CoderConfig(metric = metric, codebookSize = 2, numCodebooks = 2,
          batchSize = 64, numEpochs = 2))
      Index.build(engine.store, cName, "kv", "vec")
      engine.makePqIndex(cName, "kv", "vec",
        graft.coder.PQ.PQConfig(numSubspaces = 4, codebookSize = 16,
          metric = metric), residual = residual)
      val brute = graft.api.Search.knnJoin(df, "vec", queries,
          "q_id", "q_vec", metric = metric, k = 3, tieBreak = Seq("id"))
        .select("q_id", "id").as[(Long, Long)].collect().toSet
      val full = Index.pqKnnJoin(engine.store, cName, "kv", "vec", queries,
          "q_id", "q_vec", k = 3, probes = 4, candidates = 1 << 20,
          idCol = "id", tieBreak = Seq("id"))
        .select("q_id", "id").as[(Long, Long)].collect().toSet
      assert(full == brute,
        s"full-budget pq knn join ($metric, residual=$residual) != " +
          s"brute:\n$full\nvs $brute")
    }
    // bounded budgets stay near-exact (ADC coarse ranking)
    val brute = graft.api.Search.knnJoin(df, "vec", queries,
        "q_id", "q_vec", metric = "l2", k = 3, tieBreak = Seq("id"))
      .select("q_id", "id").as[(Long, Long)].collect().toSet
    val tight = Index.pqKnnJoin(engine.store, "kc_l2", "kv", "vec", queries,
        "q_id", "q_vec", k = 3, probes = 2, candidates = 10,
        idCol = "id", tieBreak = Seq("id"))
      .select("q_id", "id").as[(Long, Long)].collect().toSet
    val recall = brute.count(tight.contains).toDouble / brute.size
    info(s"pq knn join recall at probes=2, candidates=10: $recall")
    // within a σ=0.1 cluster the residuals are tiny relative to the
    // 2-dim-block codebook resolution, so ADC ranking inside the true
    // cluster is noisy — the candidate budget (not 1-recall) is what
    // this pins; exactness is pinned above at the full budget
    assert(recall >= 0.6, s"low recall $recall")
    // mismatched metric refused (codebook tables are metric-specific)
    intercept[IllegalArgumentException] {
      Index.pqKnnJoin(engine.store, "kc_l2", "kv", "vec", queries,
        "q_id", "q_vec", k = 3, probes = 4, candidates = 10,
        idCol = "id", metric = Some("cosine"))
    }
    // coarse scan reads codes, not the raw vector column
    val planStr = Index.pqKnnJoin(engine.store, "kc_l2", "kv", "vec",
        queries, "q_id", "q_vec", k = 3, probes = 4, candidates = 10,
        idCol = "id", tieBreak = Seq("id"))
      .queryExecution.executedPlan.toString
    val scans = planStr.split("\n").filter(_.contains("ReadSchema"))
    assert(scans.exists(l => l.contains(Index.PqCol) && !l.contains("vec:")),
      s"no codes-only scan in:\n$planStr")
    // rerank reads the corpus via broadcast survivor ids — no id shuffle
    assertNoCorpusIdShuffle(planStr)
    engine.remove()
  }

  test("rerank knn join: exact at full budgets; coarse stage reads NO vectors") {
    import spark.implicits._
    val df = clustered(41).toDF("id", "vec")
    val root = Files.createTempDirectory("graft-rrknn").toString
    val engine = new Engine(spark, root)
    engine.makeTable("kv", df)
    engine.makeCoder("kc", "kv", "vec",
      CoderConfig(metric = "l2", codebookSize = 2, numCodebooks = 2,
        batchSize = 64, numEpochs = 2))
    Index.build(engine.store, "kc", "kv", "vec")
    val queries = df.filter(col("id") < 3)
      .select(col("id").as("q_id"), col("vec").cast("array<double>").as("q_vec"))
    val brute = graft.api.Search.knnJoin(df, "vec", queries,
        "q_id", "q_vec", metric = "l2", k = 3, tieBreak = Seq("id"))
      .select("q_id", "id").as[(Long, Long)].collect().toSet
    val full = Index.rerankKnnJoin(engine.store, "kc", "kv", "vec", queries,
        "q_id", "q_vec", k = 3, probes = 4, candidates = 1 << 20,
        idCol = "id", metric = Some("l2"), tieBreak = Seq("id"))
      .select("q_id", "id").as[(Long, Long)].collect().toSet
    assert(full == brute, s"full-budget rerank join != brute:\n$full\nvs $brute")
    // the cluster structure makes the cell-rank coarse stage a good
    // filter: the nearest cluster's cell ranks first for its queries
    val tight = Index.rerankKnnJoin(engine.store, "kc", "kv", "vec",
        queries, "q_id", "q_vec", k = 3, probes = 2, candidates = 30,
        idCol = "id", metric = Some("l2"), tieBreak = Seq("id"))
      .select("q_id", "id").as[(Long, Long)].collect().toSet
    val recall = brute.count(tight.contains).toDouble / brute.size
    info(s"rerank knn join recall at probes=2, candidates=30: $recall")
    assert(recall >= 0.8, s"low recall $recall")
    // the coarse stage's scan reads only (id, cell) — no vector column
    // anywhere before the rerank join
    val planStr = Index.rerankKnnJoin(engine.store, "kc", "kv", "vec",
        queries, "q_id", "q_vec", k = 3, probes = 4, candidates = 10,
        idCol = "id", metric = Some("l2"), tieBreak = Seq("id"))
      .queryExecution.executedPlan.toString
    val scans = planStr.split("\n").filter(_.contains("ReadSchema"))
    assert(scans.exists(l => l.contains("__CODED_ID__") && !l.contains("vec:")),
      s"no vector-free coarse scan in:\n$planStr")
    // rerank reads the corpus via broadcast survivor ids — no id shuffle
    assertNoCorpusIdShuffle(planStr)
    engine.remove()
  }

  test("pqKnnJoin broadcast estimate charges the ADC LUT per replica: " +
      "chunking kicks in on LUT mass alone, results identical") {
    import spark.implicits._
    val df = clustered(53).toDF("id", "vec")
    val root = Files.createTempDirectory("graft-pqcap").toString
    val engine = new Engine(spark, root)
    engine.makeTable("kv", df)
    engine.makeCoder("kc", "kv", "vec",
      CoderConfig(metric = "l2", codebookSize = 2, numCodebooks = 2,
        batchSize = 64, numEpochs = 2))
    Index.build(engine.store, "kc", "kv", "vec")
    engine.makePqIndex("kc", "kv", "vec",
      graft.coder.PQ.PQConfig(numSubspaces = 4, codebookSize = 16,
        metric = "l2"), residual = true)
    val queries = df.filter(col("id") < 6)
      .select(col("id").as("q_id"), col("vec").cast("array<double>").as("q_vec"))
    // dim=8, m=4, k=16: the vector estimate is 8·8+64 = 128 B/replica;
    // the ADC LUT adds 4·16·8 = 512 B/replica. At probes=4 over 6
    // queries the vectors-only estimate (~3 KB) fits a 4 KB cap but the
    // LUT-charged estimate (~15 KB) must chunk — the r19 gap where a
    // batch sized just under the cap on vectors shipped a broadcast
    // ~5× the estimate.
    val cap = 4096L
    val noLut = graft.api.Search.chunkByBroadcastSize(
      queries, "q_id", "q_vec", 4, cap)
    val withLut = graft.api.Search.chunkByBroadcastSize(
      queries, "q_id", "q_vec", 4, cap, perReplicaExtraBytes = 512L)
    assert(noLut.size == 1,
      s"vectors alone must fit the cap; got ${noLut.size} chunks")
    assert(withLut.size > 1, "LUT mass alone must force chunking")
    def run(capBytes: Long) = Index.pqKnnJoin(engine.store, "kc", "kv",
        "vec", queries, "q_id", "q_vec", k = 3, probes = 4,
        candidates = 1 << 20, idCol = "id", tieBreak = Seq("id"),
        broadcastCapBytes = capBytes)
      .select(col("q_id"), col("id"), col(graft.api.Search.DistCol))
      .as[(Long, Long, Double)].collect().toSet
    assert(run(cap) == run(graft.api.Search.QueryBroadcastCap),
      "chunked pq join must be bit-identical to the unchunked one")
    engine.remove()
  }
}
