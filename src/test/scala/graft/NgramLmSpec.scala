package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.NgramLm

/** Bigram stupid-backoff LM — every expectation hand-computed from the
  * closed-form model counts. */
class NgramLmSpec extends SparkSuite {
  import spark.implicits._

  // counts: a:3 b:2 c:1 → vocab [a,b,c]; seqs [<s> a b a], [<s> a b c];
  // unigrams <s>:2 a:3 b:2 c:1 + <unk>-floor 1 → total 9;
  // bigrams (<s>,a):2 (a,b):2 (b,a):1 (b,c):1
  private lazy val train = Seq((1L, "a b a"), (2L, "a b c")).toDF("doc_id", "text")
  private lazy val model = NgramLm.train(train, "text", vocabSize = 10)

  test("trained counts are the hand-computed ones") {
    assert(model.vocab == IndexedSeq("a", "b", "c"))
    assert(model.unigrams == Map("<s>" -> 2L, "a" -> 3L, "b" -> 2L,
      "c" -> 1L, "<unk>" -> 1L))
    assert(model.bigrams == Map(("<s>", "a") -> 2L, ("a", "b") -> 2L,
      ("b", "a") -> 1L, ("b", "c") -> 1L))
    assert(model.total == 9L)
    assert(model.alpha == 0.4)
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def pplOf(text: String, m: NgramLm.NgramLmModel = model): Double = {
    val df = Seq((9L, text)).toDF("doc_id", "text")
    NgramLm.perplexity(df, "doc_id", "text", m).select("ppl")
      .as[Double].collect()(0)
  }

  test("in-vocab doc: pure bigram path, ppl = cbrt(3)") {
    // S(a|<s>)=2/2, S(b|a)=2/3, S(a|b)=1/2 → ppl = (1 · 3/2 · 2)^(1/3)
    assert(pplOf("a b a") == round6(math.cbrt(3.0)))
  }

  test("unseen bigrams: stupid backoff to scaled unigrams") {
    // all three pairs unseen: S = 0.4·uni/9 → ppl = cbrt(22.5·22.5·11.25)
    assert(pplOf("c c b") == round6(math.cbrt(22.5 * 22.5 * 11.25)))
  }

  test("OOV token maps to <unk> with the add-one floor") {
    // z → <unk>: S(<unk>|<s>) = 0.4·1/9 → ppl = 22.5
    assert(pplOf("z") == 22.5)
  }

  test("vocabSize truncation maps the tail to <unk> at train time") {
    val m2 = NgramLm.train(train, "text", vocabSize = 2)
    assert(m2.vocab == IndexedSeq("a", "b"))
    assert(m2.unigrams == Map("<s>" -> 2L, "a" -> 3L, "b" -> 2L, "<unk>" -> 1L))
    assert(m2.bigrams(("b", "<unk>")) == 1L)
    assert(m2.total == 8L)
  }

  test("minCount prunes rare bigrams into the backoff path") {
    val m3 = NgramLm.train(train, "text", vocabSize = 10, minCount = 2L)
    assert(m3.bigrams == Map(("<s>", "a") -> 2L, ("a", "b") -> 2L))
    // S(a|<s>)=1, S(b|a)=2/3, S(a|b) pruned → 0.4·3/9
    val expected = math.cbrt(1.0 * 1.5 * (9.0 / 1.2))
    assert(pplOf("a b a", m3) == round6(expected))
  }

  test("model JSON round-trips exactly") {
    val back = NgramLm.fromJson(model.toJson)
    assert(back == model)
  }

  test("n_tokens and doc filtering") {
    val df = Seq((1L, "a b"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = NgramLm.perplexity(df, "doc_id", "text", model)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 2L))   // empty + null docs excluded
  }

  // order-3: s3 = [<s>,<s>,a,b,a] / [<s>,<s>,a,b,c];
  // bigrams gain (<s>,<s>):2; trigrams (<s>,<s>,a):2 (<s>,a,b):2
  // (a,b,a):1 (a,b,c):1
  private lazy val model3 = NgramLm.train(train, "text", vocabSize = 10,
    order = 3)

  test("order-3 counts: doubly padded contexts and trigram table") {
    assert(model3.order == 3)
    assert(model3.bigrams(("<s>", "<s>")) == 2L)
    assert(model3.trigrams == Map(
      ("<s>", "<s>", "a") -> 2L, ("<s>", "a", "b") -> 2L,
      ("a", "b", "a") -> 1L, ("a", "b", "c") -> 1L))
    // unigrams/total unchanged from the bigram model (single padding)
    assert(model3.unigrams == model.unigrams && model3.total == model.total)
  }

  test("order-3 scoring: pure trigram path, ppl = cbrt(2)") {
    // S(a|<s>,<s>)=2/2, S(b|<s>,a)=2/2, S(a|a,b)=1/2
    assert(pplOf("a b a", model3) == round6(math.cbrt(2.0)))
  }

  test("order-3 double backoff: tri → bi → unigram chain") {
    // both tokens: trigram and bigram unseen → alpha·(alpha·uni(c)/total)
    val term = 0.4 * ((0.4 * 1.0) / 9.0)
    assert(pplOf("c c", model3) == round6(1.0 / term))
  }

  test("order-3 model JSON round-trips exactly") {
    assert(NgramLm.fromJson(model3.toJson) == model3)
  }

  test("engine lifecycle: train persists the model, score loads it back") {
    val root = java.nio.file.Files.createTempDirectory("graft-ngram").toString
    val engine = new graft.api.Engine(spark, root)
    engine.makeTable("lmdocs", train)
    val m = engine.trainNgramLm("lm1", "lmdocs", "text", vocabSize = 10)
    assert(m == model)
    assert(engine.listNgramModels() == Seq("lm1"))
    val scored = engine.perplexity("lmdocs", "doc_id", "text", "lm1")
      .select("doc_id", "ppl").as[(Long, Double)].collect().toMap
    assert(scored(1L) == round6(math.cbrt(3.0)))
  }

  test("perplexity scoring runs as a streaming quality filter") {
    // the scorer is one narrow map (broadcast model), so it composes with
    // Structured Streaming unchanged — the online ingest-filter shape
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val scored = NgramLm.perplexity(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", model)
      .filter(col("ppl") < 2.0)   // in-vocab fluent docs only
    val q = scored.writeStream.format("memory").queryName("ppl_stream")
      .outputMode("append").start()
    try {
      mem.addData((1L, "a b a"), (2L, "c c b"), (3L, "z"))
      q.processAllAvailable()
      val kept = spark.table("ppl_stream").select("doc_id")
        .as[Long].collect().toSet
      assert(kept == Set(1L), s"only the fluent doc passes: $kept")
    } finally q.stop()
  }

  test("repeated scoring with one model instance creates exactly one broadcast") {
    val df = Seq((1L, "a b a"), (2L, "a b c")).toDF("doc_id", "text")
    val m = NgramLm.train(train, "text", vocabSize = 10)
    val before = graft.ext.NgramLm.broadcastsCreated.get()
    (1 to 50).foreach { _ =>
      NgramLm.perplexity(df, "doc_id", "text", m).count()
    }
    val created = graft.ext.NgramLm.broadcastsCreated.get() - before
    assert(created == 1L,
      s"50 scoring calls must reuse one memoized broadcast, created $created")
  }

  test("store-loaded models are content-cached: same instance, same broadcast") {
    val root = java.nio.file.Files.createTempDirectory("ngram-cache").toString
    val store = new graft.store.Store(spark, root)
    val m = NgramLm.train(train, "text", vocabSize = 10)
    store.saveNgramModel("lm", m)
    val a = store.loadNgramModel("lm")
    val b = store.loadNgramModel("lm")
    assert(a eq b, "unchanged model file must return the cached instance")
    // retrain + save invalidates via the model file's (mtime, length) stamp
    val m2 = NgramLm.train(train, "text", vocabSize = 2)
    store.saveNgramModel("lm", m2)
    val c = store.loadNgramModel("lm")
    assert(!(c eq a) && c.vocab == m2.vocab)
  }

  test("error contracts") {
    intercept[IllegalArgumentException] {
      NgramLm.train(train, "text", vocabSize = 0)
    }
    intercept[IllegalArgumentException] {
      NgramLm.train(train, "text", alpha = 0.0)
    }
    intercept[IllegalArgumentException] {
      NgramLm.train(train, "text", maxBigrams = 1L)
    }
  }
}
