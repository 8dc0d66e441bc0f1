package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.Engine

/** Fuzzy (edit-distance) index LIFECYCLE: incremental sync, freshness
  * stamps (loud-or-fresh serving), compaction + crash recovery, and the
  * batch/gate serving paths against the persisted artifact. */
class FuzzySpec extends SparkSuite {
  import spark.implicits._

  // every string is 1-2 digit edits from its neighbors — dense matches
  private def corpusRows(n: Int): Seq[(Long, String)] =
    (0 until n).map(i => (i.toLong, f"row $i%04d of the fuzzy corpus"))

  private def freshEngine(tag: String): Engine =
    new Engine(spark, Files.createTempDirectory(s"graft-$tag").toString)

  test("incremental sync == full rebuild; stale artifact refuses to serve " +
      "until synced; re-sync is a no-op") {
    val all = corpusRows(60).toDF("doc_id", "t")
    val e = freshEngine("fsync")
    e.makeTable("fd", all.filter(col("doc_id") < 30))
    e.buildFuzzyIndex("fd", "doc_id", "t", maxDist = 2, buckets = 8)
    assert(e.fuzzyIndexIsFresh("fd", "t"))

    // grow the table append-only WITHOUT syncing: freshness drops and
    // serving refuses LOUDLY (never silently stale); allowStale opts in
    all.filter(col("doc_id") >= 30)
      .write.mode("append").parquet(e.store.tablePath("fd"))
    assert(!e.fuzzyIndexIsFresh("fd", "t"))
    val q = f"row ${41}%04d of the fuzzy corpus"
    val ex = intercept[IllegalArgumentException](e.fuzzyLookup("fd", "t", q))
    assert(ex.getMessage.contains("STALE"), ex.getMessage)
    // stale serving on request still works (serves the OLD corpus only)
    val stale = e.fuzzyLookup("fd", "t", q, allowStale = true)
      .as[(Long, Long)].collect()
    assert(stale.forall(_._1 < 30L), stale.mkString(","))

    assert(e.syncFuzzyIndex("fd", "t") == 30L)
    assert(e.fuzzyIndexIsFresh("fd", "t"))
    assert(e.syncFuzzyIndex("fd", "t") == 0L) // idempotent

    // parity with a from-scratch build over the full corpus
    val e2 = freshEngine("fsync2")
    e2.makeTable("fd", all)
    e2.buildFuzzyIndex("fd", "doc_id", "t", maxDist = 2, buckets = 8)
    val got = e.fuzzyLookup("fd", "t", q).as[(Long, Long)].collect().toSeq
    val want = e2.fuzzyLookup("fd", "t", q).as[(Long, Long)].collect().toSeq
    assert(got == want && got.exists(_._1 >= 30L), s"$got vs $want")

    // the per-key frequency UPPER bounds ride the meta and accumulate
    // across syncs (Σ of per-delta maxima): the synced artifact's
    // bounds must be >= the from-scratch build's true maxima (the
    // bound is allowed to be loose, never under), and every doc's
    // segments are unique in this fixture so the true maxNs is >= 1
    def bounds(eng: graft.api.Engine): (Long, Long) = {
      val s = new String(eng.store.readSidecar(
        eng.store.fuzzyIndexPath("fd", "t") + "/meta.json"), "UTF-8")
      def l(k: String) = (k + """\s*:\s*(\d+)""").r
        .findFirstMatchIn(s).map(_.group(1).toLong)
        .getOrElse(fail(s"no $k in meta: $s"))
      (l("\"maxNsBound\""), l("\"maxNpBound\""))
    }
    val (nsSync, npSync) = bounds(e)
    val (nsFull, npFull) = bounds(e2)
    assert(nsSync >= nsFull && npSync >= npFull,
      s"accumulated bounds ($nsSync, $npSync) under true maxima " +
        s"($nsFull, $npFull)")
    assert(nsFull >= 1L && npFull >= 1L)

    // compaction re-tightens the accumulated bounds to the TRUE per-key
    // maxima (recomputed from the counts frames) — exactly what a
    // from-scratch build over the same corpus records, so the serving
    // join's driver-side volume guard survives sync+compact cycles
    e.compactFuzzyIndex("fd", "t")
    assert(bounds(e) == bounds(e2),
      s"post-compact bounds ${bounds(e)} != from-scratch ${bounds(e2)}")
  }

  test("combined edit-distance guard refuses a segment-only or " +
      "probe-only right key") {
    // the right side's precomputed seg/probe counts join FULL OUTER (a
    // key one side lacks still meets the other direction's left
    // frame), and the left counts join them INNER — edPairCounts gives
    // every left key both counts. An inner right-side join would drop
    // every key below and let ~800 candidate pairs past maxCandidates
    val e = freshEngine("fguard")
    e.makeTable("fg", (0 until 20).map(i => (i.toLong, "abcdefghij"))
      .toDF("doc_id", "t"))
    e.buildFuzzyIndex("fg", "doc_id", "t", maxDist = 1, buckets = 8)
    val left = (0 until 20).map(i => (100L + i, "abcdefghij"))
      .toDF("qid", "qt")
    val base = e.store.fuzzyIndexPath("fg", "t")
    def keys(frame: String) = spark.read.parquet(s"$base/$frame")
      .select(col("l"), col("i"), col("g"), col("id").as("id_b"))
    val rb = spark.read.parquet(s"$base/base").select("id", "t", "len")
    def join(rSegs: DataFrame, rProbes: DataFrame,
        rSegCounts: Option[DataFrame], rProbeCounts: Option[DataFrame]) =
      graft.ext.Dedup.editDistanceJoinAgainstFrames(left, "qid", "qt", rb,
        rSegs, rProbes, maxDist = 1, maxCandidates = 100L,
        rSegCounts = rSegCounts, rProbeCounts = rProbeCounts)
    // segment-only: right probes empty, so only left probes x right segs
    val segOnly = intercept[IllegalArgumentException] {
      join(keys("segs"), keys("probes").limit(0),
        Some(graft.ext.Dedup.editDistanceKeyCounts(keys("segs"), "ns")), None)
    }
    assert(segOnly.getMessage.contains("maxCandidates=100"), segOnly.getMessage)
    // probe-only mirror: right segs empty, so only left segs x right probes
    val probeOnly = intercept[IllegalArgumentException] {
      join(keys("segs").limit(0), keys("probes"),
        None, Some(graft.ext.Dedup.editDistanceKeyCounts(keys("probes"), "np")))
    }
    assert(probeOnly.getMessage.contains("maxCandidates=100"),
      probeOnly.getMessage)
    e.remove()
  }

  test("batch fuzzyJoin through the artifact == inline editDistanceJoin") {
    val all = corpusRows(50).toDF("doc_id", "t")
    val e = freshEngine("fjoin")
    e.makeTable("fd", all)
    // 256 buckets: the 5-query batch's hit set stays below half the
    // layout, so the serving scans exercise the LEAF-PATH mode (at 8
    // buckets the batch covers every bucket and the plan legitimately
    // full-scans — nothing to prune)
    e.buildFuzzyIndex("fd", "doc_id", "t", maxDist = 2, buckets = 256)
    val left = corpusRows(50).take(5)
      .map { case (i, t) => (i + 1000L, t.replaceFirst("row", "r0w")) }
      .toDF("qid", "qt") // one edit from its source row
    val got = e.fuzzyJoin("fd", "t", left, "qid", "qt")
      .as[(Long, Long, Long)].collect().toSet
    val want = graft.ext.Dedup.editDistanceJoin(
        left, "qid", "qt", all, "doc_id", "t", maxDist = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty, s"$got vs $want")

    // both guard/plan shapes of the frames join agree with each other
    // and with the artifact path: broadcastLeft=true (serving — raw
    // pair-stream count guard, map-side joins) and false (symmetric —
    // counts-frame guard, shuffle joins) are plan variants of ONE
    // contract
    val base = e.store.fuzzyIndexPath("fd", "t")
    def frames() = (
      spark.read.parquet(s"$base/base").select("id", "t", "len"),
      spark.read.parquet(s"$base/segs")
        .select(col("l"), col("i"), col("g"), col("id").as("id_b")),
      spark.read.parquet(s"$base/probes")
        .select(col("l"), col("i"), col("g"), col("id").as("id_b")))
    for (bcast <- Seq(true, false)) {
      val (rb, rSegs, rProbes) = frames()
      val viaFrames = graft.ext.Dedup.editDistanceJoinAgainstFrames(
          left, "qid", "qt", rb, rSegs, rProbes, maxDist = 2,
          broadcastLeft = bcast)
        .as[(Long, Long, Long)].collect().toSet
      assert(viaFrames == want, s"broadcastLeft=$bcast: $viaFrames")
      // the guard trips at the same volume on both paths (5 queries ×
      // ≥1 key match each ⇒ raw pair volume ≥ 5 > 1)
      val (rb2, rSegs2, rProbes2) = frames()
      intercept[IllegalArgumentException] {
        graft.ext.Dedup.editDistanceJoinAgainstFrames(
          left, "qid", "qt", rb2, rSegs2, rProbes2, maxDist = 2,
          maxCandidates = 1L, broadcastLeft = bcast).count()
      }
    }

    // guard layering (round 20): with NO proven volume bound the
    // broadcast path refuses MAP-SIDE from the key-counts frames —
    // before any pair is shuffled or materialized (the counts-frame
    // message carries '≈'); with a bound within EdObservedGuardSlack
    // of the cap it defers to the exact Observation inside the
    // distinct pass (message carries 'volume =') — bounded
    // materialization bought the single-scan plan
    val (rb4, rSegs4, rProbes4) = frames()
    val pre = intercept[IllegalArgumentException] {
      graft.ext.Dedup.editDistanceJoinAgainstFrames(
        left, "qid", "qt", rb4, rSegs4, rProbes4, maxDist = 2,
        maxCandidates = 1L, broadcastLeft = true).count()
    }
    assert(pre.getMessage.contains("≈"),
      s"expected the counts-frame pre-guard refusal: ${pre.getMessage}")
    val (rb5, rSegs5, rProbes5) = frames()
    val obs = intercept[IllegalArgumentException] {
      graft.ext.Dedup.editDistanceJoinAgainstFrames(
        left, "qid", "qt", rb5, rSegs5, rProbes5, maxDist = 2,
        maxCandidates = 1L, broadcastLeft = true,
        provenVolumeBound = Some(3.0)).count()
    }
    assert(obs.getMessage.contains("volume ="),
      s"expected the Observation (exact) refusal: ${obs.getMessage}")

    // single-read: with a bound proving the volume the broadcast path
    // folds its raw-volume guard into the distinct pass (Observation +
    // localCheckpoint); the no-bound path pays ONE extra counts-frame
    // guard pass up front (refusal-before-work), but the RETURNED plan
    // must still not re-scan the segment/probe frames — they were
    // consumed once, into the checkpointed candidate set (the base
    // frame is still scanned for the verify texts)
    val (rb3, rSegs3, rProbes3) = frames()
    val singleRead = graft.ext.Dedup.editDistanceJoinAgainstFrames(
      left, "qid", "qt", rb3, rSegs3, rProbes3, maxDist = 2,
      broadcastLeft = true)
    val plan3 = singleRead.queryExecution.executedPlan.toString
    assert(!plan3.contains("/segs") && !plan3.contains("/probes"),
      s"segment/probe frames re-scanned by the verify join:\n$plan3")
    assert(singleRead.as[(Long, Long, Long)].collect().toSet == want)

    // the serving plan shape is pinned, not assumed: the artifact
    // scans root at EXPLICIT hit-bucket leaf paths (round 19 — pruning
    // moved from an INSET partition filter over a full discovery to
    // the discovery itself; the full-layout listing was the dominant
    // term of the 10M single-lookup constant) and the candidate joins
    // are broadcast (the corpus-side frames are never shuffled)
    val servingPlan = e.fuzzyJoin("fd", "t", left, "qid", "qt")
      .queryExecution
    val keyScans = servingPlan.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(p =>
          p.toString.contains("/segs/") || p.toString.contains("/probes/") ||
          p.toString.endsWith("/segs") || p.toString.endsWith("/probes"))
        => f
    }
    assert(keyScans.nonEmpty, s"no key-frame scans:\n${servingPlan.sparkPlan}")
    // readBuckets picks the mode by hit fraction: leaf-rooted paths
    // below half the layout, discovery + INSET past it (per-bucket
    // exists() probes stop paying) — this 8-bucket fixture's batch
    // covers most buckets, so EITHER form counts as pruned, and a
    // dedicated leaf-mode pin lives in LexicalSpec's 256-bucket case
    keyScans.foreach { sc =>
      val leafRooted = sc.relation.location.rootPaths
        .forall(_.getName.startsWith("__SEG_BUCKET__="))
      val insetPruned = sc.partitionFilters
        .exists(_.references.exists(_.name == "__SEG_BUCKET__"))
      assert(leafRooted || insetPruned,
        s"key-frame scan neither leaf-rooted nor INSET-pruned: " +
          s"roots=${sc.relation.location.rootPaths.mkString(",")} " +
          s"filters=${sc.partitionFilters}")
    }
    assert(servingPlan.executedPlan.toString.contains("BroadcastHashJoin"),
      s"candidate joins not broadcast:\n${servingPlan.executedPlan}")
  }

  test("artifact-served ingest gate closure == editDistanceJoin, and a " +
      "mid-stream sync extends the gate's corpus") {
    val all = corpusRows(40).toDF("doc_id", "t")
    val e = freshEngine("fgate")
    e.makeTable("fd", all.filter(col("doc_id") < 20))
    e.buildFuzzyIndex("fd", "doc_id", "t", maxDist = 2, buckets = 8)
    var out: Option[DataFrame] = None
    val gate = e.fuzzyGateForEachBatch("fd", "t", "qid", "qt",
      sink = df => out = Some(df))
    val batch = Seq((1L, f"row ${7}%04d of the fuzzy corpus"),
      (2L, f"row ${33}%04d of the fuzzy corpus")).toDF("qid", "qt")
    gate(batch, 0L)
    val flags1 = out.get.select("qid", "ref_id", "dist")
      .as[(Long, Long, Long)].collect().toSet
    val want1 = graft.ext.Dedup.editDistanceJoin(batch, "qid", "qt",
        all.filter(col("doc_id") < 20), "doc_id", "t", maxDist = 2)
      .select(col("id_a"), col("id_b"), col("dist"))
      .as[(Long, Long, Long)].collect().toSet
    assert(flags1 == want1 && flags1.exists(_._1 == 1L), flags1.toString)
    assert(!flags1.exists(_._2 >= 20L))
    // grow + sync while the gate is "running": parquet-backed frames
    // pick up the appended rows on the next batch
    all.filter(col("doc_id") >= 20)
      .write.mode("append").parquet(e.store.tablePath("fd"))
    assert(e.syncFuzzyIndex("fd", "t") == 20L)
    gate(batch, 1L)
    val flags2 = out.get.select("qid", "ref_id", "dist")
      .as[(Long, Long, Long)].collect().toSet
    assert(flags2.exists(f => f._1 == 2L && f._2 == 33L && f._3 == 0L),
      flags2.toString)
  }

  test("NUL-containing text: lookup == brute force (tuple key filter " +
      "cannot alias distinct keys through a separator)") {
    val rows = Seq(
      (1L, "abc\u0000def"), (2L, "abc\u0000dxf"), (3L, "abc0def"),
      (4L, "\u0000\u0000\u0000"), (5L, "completely unrelated string"))
    val e = freshEngine("fnul")
    e.makeTable("fd", rows.toDF("doc_id", "t"))
    e.buildFuzzyIndex("fd", "doc_id", "t", maxDist = 2, buckets = 4)
    for ((_, q) <- rows) {
      val got = e.fuzzyLookup("fd", "t", q).as[(Long, Long)].collect().toSet
      val want = rows.flatMap { case (id, t) =>
        val d = levenshteinRef(t, q)
        if (d <= 2) Some((id, d.toLong)) else None
      }.toSet
      assert(got == want, s"q=${q.replace('\u0000', '?')}: $got vs $want")
    }
  }

  test("sync fragments buckets; compaction coalesces them crash-safely; " +
      "a crashed-swap aside is recovered on the READ path") {
    val all = corpusRows(40).toDF("doc_id", "t")
    for (tier <- TextTierCase.both) {
      val e = freshEngine(s"${tier.name}comp")
      e.makeTable("fd", all.filter(col("doc_id") < 10))
      tier.build(e, "fd", "t", buckets = 4)
      for (lo <- Seq(10, 20, 30)) {
        all.filter(col("doc_id") >= lo && col("doc_id") < lo + 10)
          .write.mode("append").parquet(e.store.tablePath("fd"))
        tier.sync(e, "fd", "t")
      }
      val q = f"row ${25}%04d of the fuzzy corpus"
      val before = tier.serve(e, "fd", "t", q)
      val (buckets, flats) = tier.compact(e, "fd", "t", maxFilesPerBucket = 1)
      assert(buckets > 0, s"${tier.name}: 4 syncs left no fragmented bucket?")
      assert(flats > 0, s"${tier.name}: flat tables never fragmented?")
      val after = tier.serve(e, "fd", "t", q)
      assert(after == before, s"${tier.name}: $after vs $before")

      // simulate a compaction crash between aside-rename and install: the
      // live bucket dir is GONE, only the dot-prefixed aside remains —
      // a read must restore it (parquet listing ignores the aside, so
      // without recovery the bucket's rows silently vanish)
      val dir = new org.apache.hadoop.fs.Path(
        s"${tier.base(e, "fd", "t")}/${tier.bucketed}")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val bucketDirs = fs.listStatus(dir).filter(s =>
        s.isDirectory && s.getPath.getName.startsWith(s"${tier.partCol}="))
      assert(bucketDirs.nonEmpty)
      val victim = bucketDirs.head.getPath
      val aside = new org.apache.hadoop.fs.Path(victim.getParent,
        s".graft-old-${victim.getName}")
      assert(fs.rename(victim, aside))
      val recovered = tier.serve(e, "fd", "t", q)
      assert(recovered == before, s"${tier.name}: $recovered vs $before")
      assert(fs.exists(victim) && !fs.exists(aside),
        s"${tier.name}: aside not restored")
    }
  }

  test("append-only growth of ONLY null-text rows re-stamps freshness " +
      "through a zero-row sync (no rebuild needed)") {
    val e = freshEngine("fnullsync")
    e.makeTable("fd", corpusRows(20).toDF("doc_id", "t"))
    e.buildFuzzyIndex("fd", "doc_id", "t", maxDist = 2, buckets = 4)
    // append rows whose text is NULL — unindexable by design, but the
    // growth is append-only, so the artifact is semantically complete
    Seq((100L, null.asInstanceOf[String]), (101L, null.asInstanceOf[String]))
      .toDF("doc_id", "t")
      .write.mode("append").parquet(e.store.tablePath("fd"))
    assert(!e.fuzzyIndexIsFresh("fd", "t"))
    assert(e.syncFuzzyIndex("fd", "t") == 0L) // nothing indexable
    assert(e.fuzzyIndexIsFresh("fd", "t"),
      "a zero-row sync over verified append-only growth must re-stamp")
    val q = f"row ${7}%04d of the fuzzy corpus"
    assert(e.fuzzyLookup("fd", "t", q).count() > 0)
  }

  test("gate re-checks freshness PER MICRO-BATCH: an in-place source " +
      "rewrite mid-stream fails the next batch loudly") {
    val e = freshEngine("fgatefresh")
    val all = corpusRows(20).toDF("doc_id", "t")
    e.makeTable("fd", all)
    e.buildFuzzyIndex("fd", "doc_id", "t", maxDist = 2, buckets = 4)
    var out: Option[DataFrame] = None
    val gate = e.fuzzyGateForEachBatch("fd", "t", "qid", "qt",
      sink = df => out = Some(df))
    val batch = Seq((1L, f"row ${7}%04d of the fuzzy corpus")).toDF("qid", "qt")
    gate(batch, 0L)
    assert(out.get.count() > 0)
    // IN-PLACE rewrite (not append-only): replaceTable swaps the whole
    // content — the artifact is now semantically wrong, and the next
    // micro-batch must refuse instead of serving the stale frames
    e.store.replaceTable("fd", all.withColumn("t", concat(col("t"), lit("!"))))
    val ex = intercept[IllegalArgumentException](gate(batch, 1L))
    assert(ex.getMessage.contains("STALE"), ex.getMessage)
  }

  test("textIndexSyncStream keeps the fuzzy tier FRESH under a live " +
      "ingest stream with bounded files per bucket — no manual sync") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val e = freshEngine("fstream")
    val ckptIn = Files.createTempDirectory("graft-fs-in").toString
    val ckptIx = Files.createTempDirectory("graft-fs-ix").toString
    val mem = MemoryStream[(Long, String)]
    val ingest = graft.streaming.Streams.ingestStream(e.store, "fd",
      mem.toDF().toDF("doc_id", "t"), ckptIn)
    var sync: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      mem.addData(corpusRows(20): _*)
      ingest.processAllAvailable()
      e.buildFuzzyIndex("fd", "doc_id", "t", maxDist = 2, buckets = 4)
      sync = graft.streaming.Streams.textIndexSyncStream(e, "fd", "doc_id",
        "t", ckptIx, tier = "fuzzy", compactEveryBatches = 2,
        maxFilesPerBucket = 2)
      sync.processAllAvailable()
      for (wave <- 1 to 4) {
        val lo = 10 + wave * 10
        mem.addData(corpusRows(lo + 10).drop(lo): _*)
        ingest.processAllAvailable()
        sync.processAllAvailable()
        assert(e.fuzzyIndexIsFresh("fd", "t"),
          s"fuzzy index stale after wave $wave with a running sync stream")
        // a doc ingested THIS wave serves from the artifact immediately
        val q = f"row ${lo + 5}%04d of the fuzzy corpus"
        val got = e.fuzzyLookup("fd", "t", q).as[(Long, Long)].collect()
        assert(got.contains(((lo + 5).toLong, 0L)), got.mkString(","))
      }
      // 4 appended waves would leave >= 4 file sets per touched bucket;
      // the in-stream compaction cadence must keep the layout bounded
      val fs = new org.apache.hadoop.fs.Path(e.store.fuzzyIndexPath("fd", "t"))
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val segDirs = fs.listStatus(new org.apache.hadoop.fs.Path(
          s"${e.store.fuzzyIndexPath("fd", "t")}/segs"))
        .filter(s => s.isDirectory &&
          s.getPath.getName.startsWith("__SEG_BUCKET__="))
      assert(segDirs.nonEmpty)
      val worst = segDirs.map(d => fs.listStatus(d.getPath)
        .count(f => f.isFile && !f.getPath.getName.startsWith("_"))).max
      assert(worst <= 4, s"buckets not compacted: worst holds $worst files")
    } finally {
      if (sync != null && sync.isActive) sync.stop()
      if (ingest.isActive) ingest.stop()
      e.remove()
    }
  }

  test("artifact lock: reentrant for one thread, mutually exclusive " +
      "across threads (recovery cannot interleave a compaction window)") {
    import graft.store.Swap
    // reentrancy: a locked sync calling locked recovery must not deadlock
    val r = Swap.withArtifactLock("spec-base") {
      Swap.withArtifactLock("spec-base") { 42 }
    }
    assert(r == 42)
    // mutual exclusion: a second thread's critical section cannot run
    // while the first holds the same artifact's lock
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val held = new java.util.concurrent.CountDownLatch(1)
    val t1 = new Thread(() => Swap.withArtifactLock("spec-base2") {
      order.add("a-enter"); held.countDown(); Thread.sleep(150)
      order.add("a-exit")
    })
    t1.start(); held.await()
    val t2 = new Thread(() => Swap.withArtifactLock("spec-base2") {
      order.add("b-enter")
    })
    t2.start(); t1.join(); t2.join()
    assert(order.toArray.toSeq == Seq("a-enter", "a-exit", "b-enter"),
      order.toString)
    // independent artifacts do not contend: a lock held on one base must
    // not block another base's critical section
    val free = new java.util.concurrent.CountDownLatch(1)
    val t3 = new Thread(() => Swap.withArtifactLock("spec-base3") {
      free.await()
    })
    t3.start()
    assert(Swap.withArtifactLock("spec-base4") { 7 } == 7)
    free.countDown(); t3.join()
  }

  /** Reference Levenshtein (classic DP) for the brute-force oracle. */
  private def levenshteinRef(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0 }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }
}
