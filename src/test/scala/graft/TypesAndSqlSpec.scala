package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Search
import graft.coder.CoderConfig
import graft.core.Metrics
import graft.index.Index
import graft.types.Tensors

class SqlSurfaceSpec extends SparkSuite {
  import spark.implicits._

  test("vector_distance is callable from SQL after registration") {
    Graft.register(spark)
    Seq((1L, Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))).toDF("id", "u", "v")
      .createOrReplaceTempView("vecs")
    val got = spark.sql(
      "SELECT vector_distance(u, v, 'l2') AS l2, vector_distance(u, v, 'cosine') AS cos, " +
        "vector_distance(u, v, 'inner_product') AS ip FROM vecs").collect()(0)
    assert(math.abs(got.getDouble(0) - math.sqrt(2)) < 1e-12)
    assert(math.abs(got.getDouble(1) - 0.5) < 1e-12) // orthogonal -> 0.5-0.5*0
    assert(got.getDouble(2) == -0.0 || got.getDouble(2) == 0.0)
    val err = intercept[Exception](spark.sql("SELECT vector_distance(u, v, 'bogus') FROM vecs"))
    assert(err.getMessage.toLowerCase.contains("metric") ||
      err.getMessage.toLowerCase.contains("bogus"))
  }

  test("maxsim from SQL") {
    Graft.register(spark)
    Seq((1L, Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))),
        (2L, Seq(Seq(-1.0f, 0.0f))))
      .toDF("id", "toks").createOrReplaceTempView("msim")
    val got = spark.sql(
      "SELECT id, maxsim(toks, array(array(1.0d, 0.0d)), 'dot') AS s " +
        "FROM msim ORDER BY id").collect()
    assert(got(0).getDouble(1) == -1.0) // best of dot(q,[1,0])=1, dot(q,[0,1])=0
    assert(got(1).getDouble(1) == 1.0)  // single token: -(-1)
    val err = intercept[Exception](
      spark.sql("SELECT maxsim(toks, array(array(1.0d)), 'l2') FROM msim").collect())
    assert(err.getMessage.contains("dot | cosine") ||
      err.getCause != null && err.getCause.getMessage.contains("dot | cosine"))
  }

  test("jaro_winkler: oracle-probed reference values, boost-threshold " +
      "rule, empties, nulls, SQL surface") {
    Graft.register(spark)
    // values cross-checked against DuckDB jaro_winkler_similarity (the
    // verification oracle) to 1e-9
    val cases = Seq(
      ("MARTHA", "MARHTA", 0.9611111111),
      ("DIXON", "DICKSONX", 0.8133333333),
      ("JELLYFISH", "SMELLYFISH", 0.8962962963),
      ("DWAYNE", "DUANE", 0.8400000000),
      ("CRATE", "TRACE", 0.7333333333),
      ("abc", "abc", 1.0),
      ("", "abc", 0.0),
      ("", "", 0.0),
      ("a", "b", 0.0),
      // jaro = 2/3 < 0.7 with a common prefix: boost must NOT apply
      ("az", "aq", 0.6666666667),
      // jaro > 0.7 with a 2-char prefix: boost applies
      ("ax", "axqqqqqqqqqqqq", 0.7714285714))
    import org.apache.spark.unsafe.types.UTF8String
    for ((a, b, want) <- cases) {
      val got = graft.functions.JaroWinklerAlgo.similarity(
        UTF8String.fromString(a), UTF8String.fromString(b))
      assert(math.abs(got - want) < 1e-9, s"($a, $b): got $got want $want")
    }
    // SQL surface + codegen path agree with the algorithm object
    cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .createOrReplaceTempView("jw")
    val viaSql = spark.sql("SELECT jaro_winkler(a, b) AS s FROM jw")
      .collect().map(_.getDouble(0))
    assert(viaSql.zip(cases.map(_._3))
      .forall { case (g, w) => math.abs(g - w) < 1e-9 }, viaSql.toSeq)
    // null-safe
    val n = Seq((Some("x"), None: Option[String])).toDF("a", "b")
      .select(graft.functions.functions.jaro_winkler(col("a"), col("b")))
      .collect()(0)
    assert(n.isNullAt(0))
  }

  test("jaro_winkler: hand UTF-8 decode matches the String reference " +
      "on random multilingual input; bounded variant is filter-exact") {
    import org.apache.spark.unsafe.types.UTF8String
    // the allocation-free kernel decodes UTF-8 bytes itself — pin it
    // char-for-char against new String(bytes, UTF_8) via a reference
    // reimplementation of the same loops over String.charAt
    def ref(a: String, b: String): Double = {
      val la = a.length; val lb = b.length
      if (a == b) return if (la == 0) 0.0 else 1.0
      if (la == 0 || lb == 0) return 0.0
      val window = math.max(0, math.max(la, lb) / 2 - 1)
      val am = new Array[Boolean](la); val bm = new Array[Boolean](lb)
      var m = 0
      for (i <- 0 until la) {
        var j = math.max(0, i - window)
        val hi = math.min(lb - 1, i + window)
        var found = false
        while (j <= hi && !found) {
          if (!bm(j) && a.charAt(i) == b.charAt(j)) {
            am(i) = true; bm(j) = true; m += 1; found = true
          }
          j += 1
        }
      }
      if (m == 0) return 0.0
      var t = 0; var k = 0
      for (i <- 0 until la) if (am(i)) {
        while (!bm(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) t += 1
        k += 1
      }
      val md = m.toDouble
      val jaro = (md / la + md / lb + (md - t / 2.0) / md) / 3.0
      if (jaro <= 0.7) jaro
      else {
        val cap = math.min(4, math.min(la, lb))
        var p = 0
        while (p < cap && a.charAt(p) == b.charAt(p)) p += 1
        jaro + p * 0.1 * (1.0 - jaro)
      }
    }
    // alphabet spanning 1-byte (ASCII), 2-byte (Cyrillic), 3-byte (CJK)
    // and 4-byte (astral — surrogate pairs) UTF-8 sequences
    val alphabet = ("ab1-" + "жщд" + "日本語漢字" + "éüñ" +
      new String(Character.toChars(0x1F600)) +
      new String(Character.toChars(0x10348))).toCharArray
    // build from CODE POINTS so astral chars stay whole
    val cps = new String(alphabet).codePoints().toArray
    val rnd = new scala.util.Random(42)
    def randStr(): String = {
      val n = rnd.nextInt(12)
      (0 until n).map(_ => new String(
        Character.toChars(cps(rnd.nextInt(cps.length))))).mkString
    }
    for (_ <- 1 to 2000) {
      val a = randStr(); val b = randStr()
      val got = graft.functions.JaroWinklerAlgo.similarity(
        UTF8String.fromString(a), UTF8String.fromString(b))
      val want = ref(a, b)
      assert(got == want, s"('$a', '$b'): got $got want $want")
      // bounded variant: exact whenever >= minSim, else anything < minSim
      for (minSim <- Seq(0.3, 0.85, 0.95)) {
        val gotB = graft.functions.JaroWinklerAlgo.similarityBounded(
          UTF8String.fromString(a), UTF8String.fromString(b), minSim)
        if (want >= minSim) assert(gotB == want,
          s"bounded('$a', '$b', $minSim): got $gotB want $want")
        else assert(gotB < minSim,
          s"bounded('$a', '$b', $minSim): got $gotB, true $want < $minSim")
      }
    }
    // the expression surface: jaro_winkler_min(a, b, s) >= s keeps the
    // identical rows AND values as jaro_winkler(a, b) >= s
    val pairs = (1 to 500).map(_ => (randStr(), randStr())).toDF("a", "b")
    val viaMin = pairs.select(col("a"), col("b"),
        graft.functions.functions.jaro_winkler_min(
          col("a"), col("b"), 0.85).as("jw"))
      .filter(col("jw") >= 0.85).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val viaFull = pairs.select(col("a"), col("b"),
        graft.functions.functions.jaro_winkler(col("a"), col("b")).as("jw"))
      .filter(col("jw") >= 0.85).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(viaMin == viaFull)
  }

  test("graft_dequantize from SQL") {
    Graft.register(spark)
    Seq(Tuple1(Array[Byte](0, 127.toByte, 255.toByte))).toDF("b")
      .createOrReplaceTempView("quant")
    val got = spark.sql("SELECT graft_dequantize(b, 0.5, 128) AS v FROM quant")
      .collect()(0).getSeq[Float](0)
    assert(got == Seq(-64.0f, -0.5f, 63.5f))
  }

  test("graft_quantize from SQL round-trips through graft_dequantize") {
    Graft.register(spark)
    Seq(Tuple1(Seq(-64.0f, -0.5f, 63.5f, 1e9f, -1e9f))).toDF("v")
      .createOrReplaceTempView("unquant")
    val bytes = spark.sql("SELECT graft_quantize(v, 0.5, 128) AS b FROM unquant")
      .collect()(0).getAs[Array[Byte]](0)
    // exact values map back; out-of-range clamps to the byte ends
    assert(bytes.toSeq == Seq(0.toByte, 127.toByte, 255.toByte, 255.toByte, 0.toByte))
    val rt = spark.sql(
      "SELECT graft_dequantize(graft_quantize(v, 0.5, 128), 0.5, 128) AS v FROM unquant")
      .collect()(0).getSeq[Float](0)
    assert(rt.take(3) == Seq(-64.0f, -0.5f, 63.5f))
  }

  test("non-finite quantize params fail at analysis time, not in codegen") {
    Graft.register(spark)
    Seq(Tuple1(Seq(1.0f))).toDF("v").createOrReplaceTempView("nfq")
    // via SQL a NaN can only arrive through an expression, which the
    // literal-only builder already rejects — either guard is analysis-time
    val e = intercept[Exception](
      spark.sql("SELECT graft_quantize(v, cast('nan' as double), 0) FROM nfq"))
    assert(e.getMessage.contains("finite") || e.getMessage.contains("literal"),
      e.getMessage)
    // a zero scale IS a valid literal, so it reaches the constructor guard
    val e2 = intercept[Exception](
      spark.sql("SELECT graft_quantize(v, 0, 0) FROM nfq"))
    assert(e2.getMessage.contains("finite"), e2.getMessage)
    // NaN/Inf params on direct construction fail immediately
    intercept[IllegalArgumentException](graft.functions.Quantize(
      org.apache.spark.sql.GraftShims.expression(col("v")), Float.NaN, 0f))
    intercept[IllegalArgumentException](graft.functions.Dequantize(
      org.apache.spark.sql.GraftShims.expression(col("v")),
      Float.PositiveInfinity, 0f))
  }

  test("winnow_fingerprints from SQL matches the column API") {
    Graft.register(spark)
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "tiny")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("winnow_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, explode(winnow_fingerprints(lower(text), 5, 4)) AS fp
        |FROM winnow_docs""".stripMargin)
      .as[(Long, Long)].collect().toSet
    val viaApi = graft.ext.TextAnalysis
      .winnowFingerprints(docs, "doc_id", "text", k = 5, window = 4)
      .as[(Long, Long)].collect().toSet
    assert(viaSql == viaApi && viaSql.nonEmpty)
  }
}

class TensorsSpec extends SparkSuite {
  import spark.implicits._

  test("quantize/dequantize round-trip within quantization error") {
    val vals = Seq(Tuple1(Seq(-1.0f, 0.0f, 0.5f, 1.0f))).toDF("v")
    val scale = 0.01f; val zp = 128f
    val q = vals.withColumn("b", Tensors.quantizeUdf(scale, zp)($"v"))
      .withColumn("back", Tensors.dequantize($"b", scale, zp))
    val (orig, back) = q.select($"v", $"back").as[(Seq[Float], Seq[Float])].collect()(0)
    orig.zip(back).foreach { case (o, b) => assert(math.abs(o - b) <= scale / 2 + 1e-6) }
  }

  test("tensor metadata survives parquet round-trip and shape is enforced") {
    val dir = java.nio.file.Files.createTempDirectory("tensors").toString
    val df = Tensors.asTensor(
      Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 4.0f))).toDF("id", "t"), "t", Seq(2))
    df.write.mode("overwrite").parquet(s"$dir/t")
    val back = spark.read.parquet(s"$dir/t")
    assert(Tensors.shapeOf(back.schema("t")).contains(Seq(2)))
    assert(Tensors.enforceShape(back, "t", 2).count() == 2)
    val bad = Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("id", "t")
    intercept[Exception](Tensors.enforceShape(bad, "t", 2).collect())
  }

  test("ragged vector fails fast at ingest when the shape is declared") {
    val root = java.nio.file.Files.createTempDirectory("ragged").toString
    val store = new graft.store.Store(spark, root)
    val good = Tensors.asTensor(
      Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 4.0f))).toDF("id", "v"), "v", Seq(2))
    store.createTable("ok", good)
    assert(store.loadTable("ok").count() == 2)
    val ragged = Tensors.asTensor(
      Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f))).toDF("id", "v"), "v", Seq(2))
    val err = intercept[Exception](store.createTable("bad", ragged))
    assert(err.getMessage.contains("expected 2 elements"),
      s"ingest must fail with a clear shape error: ${err.getMessage}")
    // null rows pass: the fixed-size-list type is nullable (the distance
    // path is null-safe), only WRONG-length rows are rejected
    val withNull = Tensors.asTensor(
      Seq((1L, Some(Seq(1.0f, 2.0f))), (2L, None))
        .toDF("id", "v"), "v", Seq(2))
    store.createTable("nullable", withNull)
    assert(store.loadTable("nullable").count() == 2)
    store.remove()
  }

  test("brute-force search requires an explicit metric") {
    val root = java.nio.file.Files.createTempDirectory("metricreq").toString
    val engine = new graft.api.Engine(spark, root)
    engine.makeTable("e", sf("sf0.001", "embeddings").limit(5))
    val t = Array.fill(64)(0.0)
    val err = intercept[IllegalArgumentException](
      engine.search("e", "embedding", t, k = 3))
    for (m <- Metrics.All)
      assert(err.getMessage.contains(m), s"error must list '$m': ${err.getMessage}")
    val err2 = intercept[IllegalArgumentException](
      engine.searchMulti(Seq("e"), "embedding", t, k = 3))
    assert(err2.getMessage.contains("metric"))
    engine.remove()
  }

  test("nested tensor = struct of arrays with path access") {
    val df = Seq((1L, (Seq(1.0f, 2.0f), Seq(0.1f)))).toDF("id", "nested")
      .select($"id", $"nested._1".as("image"), $"nested._2".as("audio"))
      .select($"id", struct($"image", $"audio").as("tensors"))
    val got = df.select($"tensors.image").as[Seq[Float]].collect()(0)
    assert(got == Seq(1.0f, 2.0f))
  }

  test("nested tensor metadata survives parquet; path accessor reads it back") {
    val dir = java.nio.file.Files.createTempDirectory("nested-tensors").toString
    val base = Seq(
        (1L, (Seq(1.0f, 2.0f, 3.0f, 4.0f), Seq(0.1f, 0.2f))),
        (2L, (Seq(5.0f, 6.0f, 7.0f, 8.0f), Seq(0.3f, 0.4f))))
      .toDF("id", "nested")
      .select($"id", struct(
        $"nested._1".as("image"), $"nested._2".as("audio")).as("sensors"))
    // tag the LEAVES inside the struct (shape 2×2 image, quint8-ish audio)
    val tagged = Tensors.withNestedTensorMeta(
      Tensors.withNestedTensorMeta(base, "sensors.image", Tensors.tensorMeta(Seq(2, 2))),
      "sensors.audio", Tensors.quint8Meta(Seq(2), 0.25f, 128f))
    assert(Tensors.shapeAt(tagged, "sensors.image").contains(Seq(2, 2)))
    tagged.write.mode("overwrite").parquet(s"$dir/t")

    val back = spark.read.parquet(s"$dir/t")
    assert(Tensors.shapeAt(back, "sensors.image").contains(Seq(2, 2)),
      s"image shape lost: ${back.schema.json}")
    assert(Tensors.shapeAt(back, "sensors.audio").contains(Seq(2)))
    val audioMeta = Tensors.fieldAt(back.schema, "sensors.audio").metadata
    assert(audioMeta.getDouble(Tensors.ScaleKey) == 0.25)
    assert(audioMeta.getDouble(Tensors.ZeroPointKey) == 128.0)
    // values and jmespath-style access are untouched by the tagging
    val img = back.orderBy("id").select($"sensors.image").as[Seq[Float]].collect()
    assert(img(0) == Seq(1.0f, 2.0f, 3.0f, 4.0f))
    assert(back.select($"sensors.image"(2)).orderBy("id").as[Float].collect()(0) == 3.0f)
    // bad paths fail loudly
    intercept[IllegalArgumentException](Tensors.shapeAt(back, "sensors.nope.x"))
    intercept[IllegalArgumentException](
      Tensors.withNestedTensorMeta(back, "nope.x", Tensors.tensorMeta(Seq(1))))
  }
}

class IvfJoinSpec extends SparkSuite {
  import spark.implicits._

  test("ivfKnnJoin at full probes equals brute-force knnJoin") {
    val root = java.nio.file.Files.createTempDirectory("ivfjoin").toString
    val engine = new graft.api.Engine(spark, root)
    val emb = sf("sf0.001", "embeddings")
    engine.makeTable("emb", emb)
    engine.makeIndex("c", "emb", "embedding",
      CoderConfig(metric = "l2", codebookSize = 4, numCodebooks = 2,
        batchSize = 128, numEpochs = 2))
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".cast("array<double>").as("q_emb"))

    val brute = Search.knnJoin(emb.select("vec_id", "embedding"), "embedding",
        queries, "q_id", "q_emb", "l2", k = 5, tieBreak = Seq("vec_id"))
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivfFull = Index.ivfKnnJoin(engine.store, "c", "emb", "embedding",
        queries, "q_id", "q_emb", k = 5, probes = 16, idCol = "vec_id",
        tieBreak = Seq("vec_id"))
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(ivfFull == brute, "full probes must equal brute force")

    val ivf4 = Index.ivfKnnJoin(engine.store, "c", "emb", "embedding",
        queries, "q_id", "q_emb", k = 5, probes = 4, idCol = "vec_id",
        tieBreak = Seq("vec_id"))
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = brute.count(ivf4.contains).toDouble / brute.size
    info(s"ivfKnnJoin recall at 4/16 probes: $recall")
    assert(recall >= 0.3)

    // a probe union beyond the IN-SET cap is refused loudly (plan hygiene:
    // a 1e6-element partition filter is itself a hazard)
    val bigConfig = CoderConfig(metric = "l2", codebookSize = 200,
      numCodebooks = 2, batchSize = 64, numEpochs = 1)
    val rnd = new scala.util.Random(7)
    val bigCentroids = Array.fill(2, 200)(Array.fill(4)(rnd.nextDouble()))
    engine.store.saveCoding("cbig", graft.coder.Coding(bigCentroids, bigConfig))
    val oneQ = Seq((0L, Seq(0.1, 0.2, 0.3, 0.4)))
      .toDF("q_id", "q_emb")
    val err = intercept[IllegalArgumentException] {
      Index.ivfKnnJoin(engine.store, "cbig", "emb", "embedding",
        oneQ, "q_id", "q_emb", k = 1, probes = 33000, idCol = "vec_id")
    }
    assert(err.getMessage.contains("union of probed cells"),
      s"unexpected message: ${err.getMessage}")

    // the verdict's codes-light contract: the corpus' float vectors must
    // never cross a shuffle — every ShuffleExchange in the physical plan
    // (the per-query window's hash exchange in particular) carries only
    // ids/distances/cells. The broadcast of the tiny query set may carry
    // the QUERY vectors; that is the point of broadcasting it.
    val planned = Index.ivfKnnJoin(engine.store, "c", "emb", "embedding",
      queries, "q_id", "q_emb", k = 5, probes = 16, idCol = "vec_id",
      tieBreak = Seq("vec_id"))
    // formatted explain lists each node's Input columns; shuffle nodes are
    // plain "Exchange" (broadcast ones are "BroadcastExchange")
    val fmt = planned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val shuffleBlocks = fmt.split("\n\n")
      .filter(_.linesIterator.hasNext)
      .filter(_.linesIterator.next().matches("""\(\d+\) Exchange.*"""))
    assert(shuffleBlocks.nonEmpty,
      s"expected the per-query window exchange in:\n$fmt")
    shuffleBlocks.foreach { b =>
      assert(!b.contains("embedding#") && !b.contains("q_emb#"),
        s"vector column rides a shuffle:\n$b")
    }
    engine.remove()
  }

  test("brute knnJoin with idCol is codes-light and equals the legacy shape") {
    val emb = sf("sf0.001", "embeddings")
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".cast("array<double>").as("q_emb"))
    val legacy = Search.knnJoin(emb.select("vec_id", "embedding"), "embedding",
        queries, "q_id", "q_emb", "l2", k = 5, tieBreak = Seq("vec_id"))
      .select("q_id", "vec_id", Search.DistCol)
      .as[(Long, Long, Double)].collect().toSet
    val light = Search.knnJoin(emb.select("vec_id", "embedding"), "embedding",
        queries, "q_id", "q_emb", "l2", k = 5, tieBreak = Seq("vec_id"),
        idCol = Some("vec_id"))
      .select("q_id", "vec_id", Search.DistCol)
      .as[(Long, Long, Double)].collect().toSet
    assert(light == legacy, "codes-light brute join must equal the legacy shape")

    // no ShuffleExchange may carry the corpus/query vector columns
    val planned = Search.knnJoin(emb.select("vec_id", "embedding"), "embedding",
      queries, "q_id", "q_emb", "l2", k = 5, tieBreak = Seq("vec_id"),
      idCol = Some("vec_id"))
    val fmt = planned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val shuffles = fmt.split("\n\n")
      .filter(_.linesIterator.hasNext)
      .filter(_.linesIterator.next().matches("""\(\d+\) Exchange.*"""))
    assert(shuffles.nonEmpty, s"expected the per-query window exchange in:\n$fmt")
    shuffles.foreach { b =>
      assert(!b.contains("embedding#") && !b.contains("q_emb#"),
        s"vector column rides a shuffle:\n$b")
    }
  }

  test("query batches over the broadcast cap are chunked with identical results") {
    val root = java.nio.file.Files.createTempDirectory("joinchunk").toString
    val engine = new graft.api.Engine(spark, root)
    val emb = sf("sf0.001", "embeddings")
    engine.makeTable("emb", emb)
    engine.makeIndex("c", "emb", "embedding",
      CoderConfig(metric = "l2", codebookSize = 4, numCodebooks = 2,
        batchSize = 128, numEpochs = 2))
    graft.index.Index.buildSq(engine.store, "c", "emb", "embedding")
    val queries = emb.filter($"vec_id" < 12)
      .select($"vec_id".as("q_id"), $"embedding".cast("array<double>").as("q_emb"))
    // 12 queries × (64-d × 8 B + overhead) estimated ≫ a 2 KB cap → the
    // chunked path must engage, and the result must be EXACTLY the
    // single-broadcast one (each query's top-k only depends on itself)
    val tinyCap = 2048L

    val bruteOne = Search.knnJoin(emb.select("vec_id", "embedding"), "embedding",
        queries, "q_id", "q_emb", "l2", k = 3, tieBreak = Seq("vec_id"),
        idCol = Some("vec_id"))
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val bruteChunked = Search.knnJoin(emb.select("vec_id", "embedding"), "embedding",
        queries, "q_id", "q_emb", "l2", k = 3, tieBreak = Seq("vec_id"),
        idCol = Some("vec_id"), broadcastCapBytes = tinyCap)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(bruteChunked == bruteOne, "chunked brute join diverged")

    val ivfOne = Index.ivfKnnJoin(engine.store, "c", "emb", "embedding",
        queries, "q_id", "q_emb", k = 3, probes = 16, idCol = "vec_id",
        tieBreak = Seq("vec_id"))
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivfChunked = Index.ivfKnnJoin(engine.store, "c", "emb", "embedding",
        queries, "q_id", "q_emb", k = 3, probes = 16, idCol = "vec_id",
        tieBreak = Seq("vec_id"), broadcastCapBytes = tinyCap)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(ivfChunked == ivfOne, "chunked ivf join diverged")

    val sqOne = Index.sqKnnJoin(engine.store, "c", "emb", "embedding",
        queries, "q_id", "q_emb", k = 3, probes = 16, candidates = 1 << 20,
        idCol = "vec_id", metric = Some("l2"), tieBreak = Seq("vec_id"))
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val sqChunked = Index.sqKnnJoin(engine.store, "c", "emb", "embedding",
        queries, "q_id", "q_emb", k = 3, probes = 16, candidates = 1 << 20,
        idCol = "vec_id", metric = Some("l2"), tieBreak = Seq("vec_id"),
        broadcastCapBytes = tinyCap)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(sqChunked == sqOne, "chunked sq join diverged")
    assert(sqChunked == bruteOne, "sq join at full budgets must equal brute")
    engine.remove()
  }
}

class StreamingDedupSpec extends SparkSuite {
  import spark.implicits._

  test("streaming dedup drops repeats within watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "doc_id", "text")
    val q = graft.streaming.Streams.streamingDedup(df, Seq("text"), "ts", "1 hour")
      .writeStream.format("memory").queryName("dedup_test").outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      mem.addData((t0, 1L, "hello"), (t0, 2L, "hello"), (t0, 3L, "world"))
      q.processAllAvailable()
      val got = spark.table("dedup_test").select("text").as[String].collect().sorted
      assert(got.sameElements(Array("hello", "world")))
    } finally q.stop()
  }

  test("batch path is plain dropDuplicates") {
    val df = Seq((java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "a"),
      (java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 2L, "a")).toDF("ts", "doc_id", "text")
    assert(graft.streaming.Streams.streamingDedup(df, Seq("text")).count() == 1)
  }
}

class CellAssignSpec extends SparkSuite {
  import spark.implicits._

  test("codegen cell assignment is bit-identical to driver-side Coding.assign") {
    for (metric <- Seq("l2", "cosine", "dot")) {
      val cfg = CoderConfig(metric = metric, codebookSize = 4, numCodebooks = 3,
        batchSize = 64, numEpochs = 1)
      val coding = graft.coder.Coder.train(sf("sf0.001", "embeddings"), "embedding", cfg)
      val emb = sf("sf0.001", "embeddings")
      val viaExpr = emb.select($"vec_id",
          Index.assignExpr($"embedding", coding).as("cell"))
        .as[(Long, Long)].collect().toMap
      val viaDriver = emb.select($"vec_id", $"embedding".cast("array<double>"))
        .as[(Long, Seq[Double])].collect()
        .map { case (id, v) => id -> coding.assign(v.toArray) }.toMap
      assert(viaExpr == viaDriver, s"metric $metric: expression != driver assign")
      assert(viaExpr.values.forall(c => c >= 0 && c < coding.numCells))
    }
  }

  test("cell assignment throws on wrong dimension") {
    val cfg = CoderConfig(metric = "l2", codebookSize = 2, numCodebooks = 1,
      batchSize = 64, numEpochs = 1)
    val coding = graft.coder.Coder.train(sf("sf0.001", "embeddings"), "embedding", cfg)
    val bad = Seq(Tuple1(Seq(1.0f, 2.0f))).toDF("embedding")
    intercept[Exception](bad.select(Index.assignExpr($"embedding", coding)).collect())
  }
}

class MultiSourceSearchSpec extends SparkSuite {
  import spark.implicits._

  test("one-element multi-source call == single-source call: rows and plan, every tier") {
    val root = java.nio.file.Files.createTempDirectory("multisingle").toString
    val engine = new graft.api.Engine(spark, root)
    val emb = sf("sf0.001", "embeddings")
    engine.makeTable("all", emb)
    engine.makeCoder("c", "all", "embedding", CoderConfig(metric = "l2",
      codebookSize = 4, numCodebooks = 2, batchSize = 128, numEpochs = 2))
    engine.syncIndex("c", "all", "embedding")
    engine.makeSqIndex("c", "all", "embedding")
    engine.makeBqIndex("c", "all", "embedding")
    engine.makePqIndex("c", "all", "embedding", graft.coder.PQ.PQConfig(
      numSubspaces = 8, codebookSize = 16, metric = "l2"))
    val t = emb.filter($"vec_id" === 7).select($"embedding".cast("array<double>"))
      .collect()(0).getSeq[Double](0).toArray
    // the executed plan's node names in tree order (expression ids and
    // file paths differ between any two frames; the shape must not)
    def nodes(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.toString.linesIterator
        .map(_.replaceAll("^[\\s:+\\-*|()0-9]*", "")
          .takeWhile(c => c != ' ' && c != '[' && c != '('))
        .filter(_.nonEmpty).toSeq
    val tb = Seq("vec_id")
    val pairs: Seq[(String, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)] = Seq(
      ("ivf",
        engine.search("all", "embedding", t, coding = Some("c"),
          probes = Some(4), k = 10, tieBreak = tb),
        engine.searchMulti(Seq("all"), "embedding", t, coding = Some("c"),
          probes = Some(4), k = 10, tieBreak = tb)),
      ("sq",
        engine.searchSq("all", "embedding", t, "c", probes = 4,
          candidates = 40, idCol = "vec_id", k = 10, tieBreak = tb),
        engine.searchSqMulti(Seq("all"), "embedding", t, "c", probes = 4,
          candidates = 40, idCol = "vec_id", k = 10, tieBreak = tb)),
      ("bq",
        engine.searchBq("all", "embedding", t, "c", probes = 4,
          candidates = 40, idCol = "vec_id", k = 10, tieBreak = tb),
        engine.searchBqMulti(Seq("all"), "embedding", t, "c", probes = 4,
          candidates = 40, idCol = "vec_id", k = 10, tieBreak = tb)),
      ("pq",
        engine.searchPq("all", "embedding", t, "c", probes = 4,
          candidates = 40, idCol = "vec_id", k = 10, tieBreak = tb),
        engine.searchPqMulti(Seq("all"), "embedding", t, "c", probes = 4,
          candidates = 40, idCol = "vec_id", k = 10, tieBreak = tb)),
      ("rerank",
        engine.searchRerank("all", "embedding", t, "c", candidates = 40,
          idCol = "vec_id", k = 10, probes = Some(4), tieBreak = tb),
        engine.searchRerankMulti(Seq("all"), "embedding", t, "c",
          candidates = 40, idCol = "vec_id", k = 10, probes = Some(4),
          tieBreak = tb)))
    for ((tier, single, multi) <- pairs) {
      assert(nodes(single).nonEmpty, tier)
      assert(nodes(single) == nodes(multi),
        s"$tier plans differ:\n${single.queryExecution.executedPlan}\n" +
          s"vs\n${multi.queryExecution.executedPlan}")
      val rows = single.collect().toSeq
      assert(rows.size == 10, s"$tier: ${rows.size} rows")
      assert(rows == multi.collect().toSeq, s"$tier rows differ")
    }
    engine.remove()
  }

  test("multi-source probed search equals single-source over the union") {
    val root = java.nio.file.Files.createTempDirectory("multisearch").toString
    val engine = new graft.api.Engine(spark, root)
    val emb = sf("sf0.001", "embeddings")
    engine.makeTable("lo", emb.filter($"vec_id" < 250))
    engine.makeTable("hi", emb.filter($"vec_id" >= 250))
    engine.makeTable("all", emb)
    val cfg = CoderConfig(metric = "l2", codebookSize = 4, numCodebooks = 2,
      batchSize = 128, numEpochs = 2)
    engine.makeCoder("c", "all", "embedding", cfg)
    engine.syncIndex("c", "lo", "embedding")
    engine.syncIndex("c", "hi", "embedding")
    engine.syncIndex("c", "all", "embedding")
    val t = emb.filter($"vec_id" === 7).select($"embedding".cast("array<double>"))
      .collect()(0).getSeq[Double](0).toArray
    val union = engine.searchMulti(Seq("lo", "hi"), "embedding", t,
        coding = Some("c"), probes = Some(16), k = 10, tieBreak = Seq("vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    val single = engine.search("all", "embedding", t,
        coding = Some("c"), probes = Some(16), k = 10, tieBreak = Seq("vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(union == single)
    // brute-force multi-source too
    val bruteUnion = engine.searchMulti(Seq("lo", "hi"), "embedding", t,
        metric = Some("cosine"), k = 10, tieBreak = Seq("vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    val bruteSingle = engine.search("all", "embedding", t,
        metric = Some("cosine"), k = 10, tieBreak = Seq("vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(bruteUnion == bruteSingle)
    engine.remove()
  }
}

class BucketedJoinSpec extends SparkSuite {
  import spark.implicits._

  test("co-bucketed join plans without a shuffle exchange") {
    val root = java.nio.file.Files.createTempDirectory("bucketed").toString
    val store = new graft.store.Store(spark, root)
    val orders = sf("sf0.001", "orders")
    val customer = sf("sf0.001", "customer")
      .withColumnRenamed("c_custkey", "o_custkey")
    store.createBucketedTable("b_orders", orders, "o_custkey", 4)
    store.createBucketedTable("b_customer", customer, "o_custkey", 4)
    val joined = store.loadBucketedTable("b_orders")
      .join(store.loadBucketedTable("b_customer").hint("merge"), "o_custkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    // result parity with the plain join
    assert(joined.count() ==
      orders.join(customer, "o_custkey").count())
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
  }
}

class StreamingKnnSpec extends SparkSuite {
  import spark.implicits._

  test("streaming kNN scores each micro-batch against the corpus") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = sf("sf0.001", "embeddings").select("vec_id", "embedding")
    val target = sf("sf0.001", "embeddings").filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).collect()(0).getSeq[Double](0)
    val mem = MemoryStream[(Long, Seq[Double])]
    val queries = mem.toDF().toDF("q_id", "q_emb")
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val fn = graft.streaming.Streams.knnForEachBatch(
      corpus, "embedding", "q_id", "q_emb", "l2", k = 3,
      out => results.synchronized {
        results ++= out.select("q_id", "vec_id").as[(Long, Long)].collect()
      })
    val q = queries.writeStream.foreachBatch(fn).start()
    try {
      mem.addData((100L, target), (101L, target.map(_ + 0.1)))
      q.processAllAvailable()
      assert(results.size == 6, s"expected 2 queries x top-3: $results")
      assert(results.count(_._1 == 100L) == 3)
      // vec_id 0 must be its own nearest neighbor
      assert(results.filter(_._1 == 100L).map(_._2).contains(0L))
    } finally q.stop()
  }

  test("semantic dup gate flags arriving embeddings near the indexed corpus") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("semgate").toString
    val engine = new graft.api.Engine(spark, root)
    engine.makeTable("emb", sf("sf0.001", "embeddings").select("vec_id", "embedding"))
    engine.makeIndex("c", "emb", "embedding",
      CoderConfig(metric = "l2", codebookSize = 4, numCodebooks = 2,
        batchSize = 128, numEpochs = 2))
    val v0 = sf("sf0.001", "embeddings").filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).collect()(0).getSeq[Double](0)
    val mem = MemoryStream[(Long, Seq[Double])]
    val flagged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val fn = graft.streaming.Streams.semanticDupGateForEachBatch(
      engine.store, "c", "emb", "embedding", "q_id", "q_emb",
      maxDist = 1e-6, probes = 16, corpusIdCol = "vec_id",
      metric = Some("l2"),
      sink = out => flagged.synchronized {
        flagged ++= out.select("q_id", "vec_id", "__DISTANCE__")
          .as[(Long, Long, Double)].collect()
      })
    val q = mem.toDF().toDF("q_id", "q_emb")
      .writeStream.foreachBatch(fn).start()
    try {
      // 100 duplicates vec_id 0 exactly; 101 is far from everything
      mem.addData((100L, v0), (101L, v0.map(_ + 100.0)))
      q.processAllAvailable()
      assert(flagged.map(t => (t._1, t._2)).toSet == Set((100L, 0L)),
        s"only the exact dup flags: $flagged")
      assert(flagged.head._3 == 0.0)
    } finally q.stop()
  }
}

class IncrementalSyncSpec extends SparkSuite {
  import spark.implicits._

  test("incremental sync appends only new rows; compaction preserves data") {
    val root = java.nio.file.Files.createTempDirectory("incsync").toString
    val engine = new graft.api.Engine(spark, root)
    val emb = sf("sf0.001", "embeddings")
    engine.makeTable("emb", emb.filter($"vec_id" < 400))
    engine.makeIndex("c", "emb", "embedding",
      CoderConfig(metric = "l2", codebookSize = 4, numCodebooks = 2,
        batchSize = 128, numEpochs = 2))
    assert(Index.load(engine.store, "c", "emb", "embedding").count() == 400)

    // grow the table, sync incrementally
    engine.makeTable("emb", emb)
    val appended = Index.syncIncremental(engine.store, "c", "emb", "embedding", "vec_id")
    assert(appended == 100, s"expected 100 new rows, got $appended")
    val indexed = Index.load(engine.store, "c", "emb", "embedding")
    assert(indexed.count() == 500)
    assert(indexed.select("vec_id").distinct().count() == 500)
    // idempotent
    assert(Index.syncIncremental(engine.store, "c", "emb", "embedding", "vec_id") == 0)

    // codes of appended rows match fresh assignment
    val coding = engine.store.loadCoding("c")
    val viaIndex = indexed.filter($"vec_id" >= 400)
      .select($"vec_id", col(graft.api.Search.CodeCol)).as[(Long, Long)].collect().toMap
    val fresh = emb.filter($"vec_id" >= 400)
      .select($"vec_id", Index.assignExpr($"embedding", coding).as("c"))
      .as[(Long, Long)].collect().toMap
    assert(viaIndex == fresh)

    // compaction
    engine.store.compact("emb", 1)
    assert(engine.readTable(Seq("emb")).count() == 500)
    engine.remove()
  }
}

class VectorNormSpec extends SparkSuite {
  import spark.implicits._

  test("vector_norm and vector_normalize from SQL") {
    Graft.register(spark)
    Seq(Tuple1(Seq(3.0f, 4.0f))).toDF("v").createOrReplaceTempView("nv")
    val r = spark.sql(
      "SELECT vector_norm(v) AS n, vector_norm(vector_normalize(v)) AS u FROM nv").collect()(0)
    assert(math.abs(r.getDouble(0) - 5.0) < 1e-12)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    // zero vector passes through
    Seq(Tuple1(Seq(0.0f, 0.0f))).toDF("v").createOrReplaceTempView("zv")
    val z = spark.sql("SELECT vector_normalize(v) AS u FROM zv").collect()(0).getSeq[Double](0)
    assert(z == Seq(0.0, 0.0))
  }
}

class EdgeCaseSpec extends SparkSuite {
  import spark.implicits._

  test("search edge cases: k > rows, empty filter, null vectors") {
    val root = java.nio.file.Files.createTempDirectory("edges").toString
    val engine = new graft.api.Engine(spark, root)
    engine.makeTable("e", sf("sf0.001", "embeddings").limit(5))
    val t = Array.fill(64)(0.0)
    assert(engine.search("e", "embedding", t, metric = Some("l2"), k = 100).count() == 5)
    assert(engine.search("e", "embedding", t, metric = Some("l2"), k = 10,
      filter = Some(col("vec_id") < 0)).count() == 0)
    // a null vector row has a null distance, which sorts after every
    // real one (asc NULLS LAST, as the DuckDB oracles order)
    val withNull = sf("sf0.001", "embeddings").limit(3)
      .select($"vec_id", when($"vec_id" === 0, lit(null)).otherwise($"embedding").as("embedding"))
    engine.makeTable("n", withNull)
    val got = engine.search("n", "embedding", t, metric = Some("l2"), k = 3)
    assert(got.count() == 3 && got.filter(col(graft.api.Search.DistCol).isNull).count() == 1)
    val top2 = engine.search("n", "embedding", t, metric = Some("l2"), k = 2,
      tieBreak = Seq("vec_id")).collect()
    assert(top2.length == 2 && top2.forall(r => !r.isNullAt(r.fieldIndex(graft.api.Search.DistCol))),
      s"a null distance took a top-k place: ${top2.toSeq}")
    engine.remove()
  }
}

class PlanShapeSpec extends SparkSuite {
  import spark.implicits._

  test("probed search plan prunes partitions and plans TakeOrderedAndProject") {
    val root = java.nio.file.Files.createTempDirectory("planshape").toString
    val engine = new graft.api.Engine(spark, root)
    engine.makeTable("emb", sf("sf0.001", "embeddings"))
    engine.makeIndex("c", "emb", "embedding",
      CoderConfig(metric = "l2", codebookSize = 4, numCodebooks = 2,
        batchSize = 128, numEpochs = 1))
    val t = Array.fill(64)(0.1)
    // the parquet leaf (a tier over Store.ResidentBytes) through the one
    // probed query body
    val coding = engine.store.loadCoding("c")
    val df = graft.index.Index.probedQuery(graft.index.Index.pruneToCells(
      graft.index.Index.load(engine.store, "c", "emb", "embedding"),
      coding.rankCells(t, 4), coding.numCells), "embedding", t, 5, "l2",
      None, None, Nil)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k operator:\n$plan")
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("__CODED_ID__"), s"no partition filter on scan:\n$scan")
    // this small tier is resident: the served search is a local scan of
    // its top-k rows, no top-k operator and no file scan
    val served = engine.search("emb", "embedding", t, coding = Some("c"),
      probes = Some(4), k = 5).queryExecution.executedPlan
    assert(served.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec],
      s"resident search did not plan a local scan:\n$served")
    assert(served.executeCollect().length == 5)
    engine.remove()
  }

  test("a two-pass search over a tier past the cap plans the broadcast two-pass, with no job") {
    val root = java.nio.file.Files.createTempDirectory("planshape-sq").toString
    val engine = new graft.api.Engine(spark, root)
    engine.makeTable("emb", sf("sf0.001", "embeddings"))
    engine.makeIndex("c", "emb", "embedding",
      CoderConfig(metric = "l2", codebookSize = 4, numCodebooks = 2,
        batchSize = 128, numEpochs = 1))
    engine.makeSqIndex("c", "emb", "embedding")
    val t = Array.fill(64)(0.1)
    def sq = engine.searchSq("emb", "embedding", t, "c", probes = 4,
      candidates = 40, idCol = "vec_id", k = 5, tieBreak = Seq("vec_id"))
    overCap(engine.store)(sq) // the coding, sidecar and relation resolved
    var plan: org.apache.spark.sql.execution.SparkPlan = null
    val over = overCap(engine.store)(sq)
    assert(jobsOf { plan = over.queryExecution.executedPlan } == 0,
      "planning a search over the cap")
    val s = plan.toString
    assert(s.contains("BroadcastHashJoin") && s.contains("TakeOrderedAndProject"),
      s"not the broadcast two-pass:\n$s")
    val schemas = s.split("\n").filter(_.contains("ReadSchema"))
      .map(l => l.substring(l.indexOf("ReadSchema")))
    assert(schemas.exists(l => l.contains(graft.index.Index.SqCol) && !l.contains("embedding")),
      s"no codes-only coarse scan:\n$s")
    // within the cap both passes finish on the driver: a local scan of
    // the top-k rows, the same rows
    val served = sq
    assert(served.queryExecution.executedPlan
      .isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec],
      s"resident search did not plan a local scan:\n${served.queryExecution.executedPlan}")
    assert(served.collect().toSeq == over.collect().toSeq)
    engine.remove()
  }

  test("knn filter is pushed to the parquet scan") {
    val df = graft.api.Search.knn(
      sf("sf0.001", "embeddings"), "embedding",
      sf("sf0.001", "embeddings").limit(1)
        .select(col("embedding").cast("array<double>").as("t")),
      "l2", 5, filter = Some(col("label") === 3))
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("PushedFilters") && scan.contains("label"),
      s"label filter not pushed:\n$scan")
  }

  test("Par.spread spreads a single-file input broadcast-joined upstream") {
    // AQE wraps any plan with an exchange, broadcasts included, but a
    // broadcast join keeps the streamed scan's partitioning: one file
    // split stays one task unless spread repartitions it
    val dir = java.nio.file.Files.createTempDirectory("spread").toString
    spark.range(1000).select(col("id"), (col("id") % 3).as("k"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val joined = spark.read.parquet(dir)
      .join(broadcast(Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("k", "tag")),
        "k")
    assert(org.apache.spark.sql.GraftShims.scanPartitions(joined) == Some(1))
    val spread = graft.core.Par.spread(joined)
    assert(spread ne joined, "single-split input was not spread")
    assert(spread.count() == 1000L)
    // a shuffled plan is session-scaled already: reported as unbounded
    assert(org.apache.spark.sql.GraftShims.scanPartitions(
      joined.groupBy("k").count()) == Some(Int.MaxValue))
  }
}

class DeterminismSpec extends SparkSuite {
  test("coder training is deterministic for a fixed seed and input") {
    val cfg = CoderConfig(metric = "l2", codebookSize = 4, numCodebooks = 2,
      batchSize = 128, numEpochs = 2, seed = 7L)
    val emb = sf("sf0.001", "embeddings")
    val a = graft.coder.Coder.train(emb, "embedding", cfg)
    val b = graft.coder.Coder.train(emb, "embedding", cfg)
    for (j <- 0 until a.n; i <- 0 until a.k)
      assert(a.centroids(j)(i).sameElements(b.centroids(j)(i)),
        s"centroid ($j,$i) differs between identical runs")
  }
}

class LateDataSpec extends SparkSuite {
  import spark.implicits._

  test("watermarked streaming agg drops events later than the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = graft.streaming.Streams
      .windowedEventStatsStreaming(df, "1 hour", "1 hour")
      .writeStream.format("memory").queryName("late_test")
      .outputMode("append").start()
    try {
      mem.addData((java.sql.Timestamp.valueOf("2024-01-01 10:30:00"), 1L, "click", 1.0))
      q.processAllAvailable()
      // advance watermark far past the 10:00 window
      mem.addData((java.sql.Timestamp.valueOf("2024-01-01 14:00:00"), 2L, "click", 1.0))
      q.processAllAvailable()
      // this event is 3+ hours late: must be dropped, not re-open the window
      mem.addData((java.sql.Timestamp.valueOf("2024-01-01 10:40:00"), 3L, "click", 5.0))
      q.processAllAvailable()
      mem.addData((java.sql.Timestamp.valueOf("2024-01-01 18:00:00"), 4L, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("late_test").collect()
      val w10 = rows.filter(_.getAs[java.sql.Timestamp]("window_start").toString.contains("10:00"))
      assert(w10.forall(_.getAs[Long]("cnt") == 1L),
        s"late event leaked into closed window: ${rows.mkString("; ")}")
    } finally q.stop()
  }
}

class RerankSpec extends SparkSuite {
  import spark.implicits._

  test("retrieve-rerank with full candidate budget equals brute force") {
    val root = java.nio.file.Files.createTempDirectory("rerank").toString
    val engine = new graft.api.Engine(spark, root)
    val emb = sf("sf0.001", "embeddings")
    engine.makeTable("emb", emb)
    engine.makeIndex("c", "emb", "embedding",
      CoderConfig(metric = "l2", codebookSize = 4, numCodebooks = 2,
        batchSize = 128, numEpochs = 2))
    val t = emb.filter($"vec_id" === 3).select($"embedding".cast("array<double>"))
      .collect()(0).getSeq[Double](0).toArray
    val brute = engine.search("emb", "embedding", t, metric = Some("l2"),
        k = 10, tieBreak = Seq("vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    val rerankFull = Index.searchRerank(engine.store, "c", "emb", "embedding",
        t, k = 10, candidates = 500, idCol = "vec_id", tieBreak = Seq("vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(rerankFull == brute, "full candidate budget must equal brute force")

    val rerank50 = Index.searchRerank(engine.store, "c", "emb", "embedding",
        t, k = 10, candidates = 50, idCol = "vec_id", tieBreak = Seq("vec_id"))
      .select("vec_id").as[Long].collect().toSet
    val recall = brute.count(rerank50.contains) / 10.0
    info(s"rerank recall@10 with 50/500 candidates: $recall")
    assert(recall >= 0.3)

    // probe pruning composes: probed + bounded candidates still finds the
    // neighborhood (target cell is among the 2 nearest probed cells)
    val probed = Index.searchRerank(engine.store, "c", "emb", "embedding",
        t, k = 10, candidates = 50, idCol = "vec_id", probes = Some(2),
        tieBreak = Seq("vec_id"))
      .select("vec_id").as[Long].collect().toSet
    assert(probed.nonEmpty && brute.count(probed.contains) >= 1)

    // predicate + projection compose (filter spends the budget on
    // qualifying rows; select keeps id + distance only)
    val filtered = Index.searchRerank(engine.store, "c", "emb", "embedding",
        t, k = 10, candidates = 500, idCol = "vec_id",
        filter = Some($"vec_id" =!= 3L), select = Some(Seq("vec_id")),
        tieBreak = Seq("vec_id"))
      .collect()
    assert(filtered.forall(_.getLong(0) != 3L))
    assert(filtered.head.schema.fieldNames.toSeq == Seq("vec_id", "__DISTANCE__"))

    // the parquet plan (a second engine whose resident budget is taken,
    // as for a tier past the cap; a resident tier scans no file)
    val cold = new graft.api.Engine(spark, root)
    val planDf = overCap(cold.store)(Index.searchRerank(cold.store, "c", "emb",
      "embedding", t, k = 10, candidates = 50, idCol = "vec_id",
      tieBreak = Seq("vec_id")))
    val plan = planDf.queryExecution.executedPlan.toString
    // the coarse rank lookup must stay in codegen: no ScalaUDF in the plan
    assert(!plan.contains("UDF"), s"rerank plan must be UDF-free:\n$plan")
    // the coarse pass must scan (id, code) ONLY — the float vectors ride
    // only the broadcast-joined rerank scan (the 100 TB plan contract);
    // compare the ReadSchema struct itself (the file PATH contains the
    // column name "embedding")
    val scans = plan.split("\n").filter(_.contains("ReadSchema"))
      .map(l => l.substring(l.indexOf("ReadSchema")))
    assert(scans.exists(l => !l.contains("embedding")),
      s"no codes-only coarse scan found:\n$plan")
    engine.remove()
  }
}

class InterpretedModeSpec extends SparkSuite {
  import spark.implicits._

  test("expressions produce identical results with codegen disabled") {
    val df = sf("sf0.001", "embeddings").limit(100)
    val target = Seq.fill(64)(0.25)
    def results(): (Map[Long, Double], Map[Long, Double]) = {
      val dist = df.select($"vec_id",
          graft.functions.functions.vector_distance(
            $"embedding", typedLit(target), "cosine").as("d"))
        .as[(Long, Double)].collect().toMap
      val norm = df.select($"vec_id",
          org.apache.spark.sql.GraftShims.column(
            graft.functions.VectorNorm(
              org.apache.spark.sql.GraftShims.expression($"embedding"))).as("n"))
        .as[(Long, Double)].collect().toMap
      (dist, norm)
    }
    val (d1, n1) = results()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val (d2, n2) = results()
      assert(d1 == d2, "interpreted vector_distance differs from codegen")
      assert(n1 == n2, "interpreted vector_norm differs from codegen")
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("cell assignment identical in interpreted mode") {
    val cfg = CoderConfig(metric = "cosine", codebookSize = 4, numCodebooks = 2,
      batchSize = 64, numEpochs = 1)
    val coding = graft.coder.Coder.train(sf("sf0.001", "embeddings"), "embedding", cfg)
    val df = sf("sf0.001", "embeddings").limit(100)
    def assigns() = df.select(col("vec_id"),
        Index.assignExpr(col("embedding"), coding).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = assigns()
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(assigns() == a)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}

class CoderEdgeSpec extends SparkSuite {
  test("training survives tiny batches and empty steps") {
    val cfg = CoderConfig(metric = "l2", codebookSize = 2, numCodebooks = 2,
      batchSize = 1, numEpochs = 5, maxStepsPerEpoch = 25)
    val coding = graft.coder.Coder.train(sf("sf0.001", "embeddings"), "embedding", cfg)
    assert(coding.centroids.flatten.flatten.forall(d => !d.isNaN && !d.isInfinite))
    assert(coding.numCells == 4)
  }
}

class ReadTableComboSpec extends SparkSuite {
  import spark.implicits._

  test("readTable composes coding + filter + select") {
    val root = java.nio.file.Files.createTempDirectory("combo").toString
    val engine = new graft.api.Engine(spark, root)
    engine.makeTable("emb", sf("sf0.001", "embeddings"))
    engine.makeIndex("c", "emb", "embedding",
      CoderConfig(metric = "l2", codebookSize = 4, numCodebooks = 2,
        batchSize = 128, numEpochs = 1))
    val out = engine.readTable(Seq("emb"),
      select = Some(Seq("vec_id", graft.api.Search.CodeCol)),
      filter = Some(col("label") >= 5),
      coding = Some(("c", "embedding")))
    assert(out.columns.toSeq == Seq("vec_id", graft.api.Search.CodeCol))
    val expected = sf("sf0.001", "embeddings").filter($"label" >= 5).count()
    assert(out.count() == expected)
    // null-safe token count
    val tc = Seq((1L, null.asInstanceOf[String]), (2L, "a b")).toDF("id", "text")
      .select($"id", graft.ext.TextAnalysis.tokenCount($"text").as("n"))
      .as[(Long, Int)].collect().toMap
    assert(tc(1L) == 0 && tc(2L) == 2)
    intercept[IllegalArgumentException](
      graft.ext.Multimodal.sampleFrames(
        graft.ext.Multimodal.mediaFromText(sf("sf0.001", "documents").limit(1), "doc_id", "text"),
        frameBytes = 0, stride = 1))
    engine.remove()
  }
}
