package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-streaming operators over the `events` shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference has no streaming surface (SURVEY §2.4 — absent); these are
  * the driver-mandated extensions, written so every transform works
  * identically on a batch DataFrame and a `readStream` DataFrame — the
  * batch path is what the DuckDB oracle checks, the streaming path is what
  * a cluster deploys (watermark + windowed state, incremental execution).
  */
object Streams {

  /** Streaming ingest into the store catalog — the `do_put` analogue
    * for a stream (the reference's ingest is batch-only,
    * `flight.py:34-44`): shape-enforced parquet APPEND into the named
    * table's directory with an exactly-once file-sink checkpoint. The
    * table is readable via `Engine.readTable` between micro-batches
    * (the file sink's `_spark_metadata` commit log gives readers
    * exactly-once file visibility), and downstream index sync is the
    * normal incremental path (`Engine.syncIndex`/`syncPqIndex`/
    * `syncSqIndex`). The sink OWNS the directory's `_spark_metadata`
    * commit log: readers then see only sink-committed files, so pointing
    * this at an existing batch-written table would silently hide every
    * previously ingested row — that mix is refused loudly up front. */
  def ingestStream(store: graft.store.Store, name: String, df: DataFrame,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val dir = new org.apache.hadoop.fs.Path(store.tablePath(name))
    val fs = dir.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) {
      val hasSinkLog = fs.exists(new org.apache.hadoop.fs.Path(dir, "_spark_metadata"))
      val hasBatchData = fs.listStatus(dir)
        .exists(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      require(hasSinkLog || !hasBatchData,
        s"ingestStream: table '$name' was written by the BATCH path; " +
          "starting a file sink here would make its rows invisible to " +
          "readers (the sink's _spark_metadata log becomes the source of " +
          "truth). Stream into a fresh table name, or import the batch " +
          "rows through the stream.")
    }
    graft.types.Tensors.enforceDeclaredShapes(df)
      .writeStream
      .format("parquet")
      .option("path", store.tablePath(name))
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .start()
  }

  /** CDC-style streaming ingest with latest-wins MERGE semantics: each
    * micro-batch upserts into table `name` via
    * [[graft.api.Engine.upsertTable]] — per key, the greatest
    * (version, tiebreak) row across existing + arriving survives. The
    * change-stream pattern `ingestStream` (plain append) can't express:
    * re-crawled URLs, corrected records, out-of-order snapshots.
    *
    * The batch is deduped WITHIN itself first (same latestByKey), so a
    * key updated twice in one micro-batch applies once — and replays
    * after a checkpoint recovery are idempotent: merging the same rows
    * again leaves every (version, tie) maximum unchanged. foreachBatch
    * rewrites the table per micro-batch — right for modest state tables
    * (a registry, a dimension), not for the 100 TB corpus itself (there
    * the merge belongs in a periodic batch job over the append log). */
  def upsertStream(engine: graft.api.Engine, name: String, df: DataFrame,
      keyCols: Seq[String], versionCol: String, tieBreakCol: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val once = graft.ext.Dedup.latestByKey(
          batch.toDF(), keyCols, versionCol, tieBreakCol)
        engine.upsertTable(name, once, keyCols, versionCol, tieBreakCol)
        ()
      }
      .start()

  /** Continuous incremental index maintenance for a streamed-into table:
    * a second streaming query tails the table directory (the file source
    * honors the ingest sink's `_spark_metadata` log, so only committed
    * files trigger) and runs the normal incremental sync after each
    * micro-batch of new files. The micro-batch CONTENT is ignored on
    * purpose — sync re-reads the table through its own anti-join delta
    * path, which is idempotent on ids, so checkpoint replays and
    * rescaled batches cannot double-encode a row. `tier` picks the index
    * flavor: "ivf" (raw cell-partitioned copy), "pq", "sq", or "bq".
    *
    * Every micro-batch appends its own file set, so a long-running sync
    * stream fragments cell partitions until scan cost is task-overhead
    * bound. `compactEveryBatches > 0` folds the maintenance step in:
    * after every N micro-batches the sync calls
    * [[graft.index.Index.compactCells]] with `maxFilesPerCell`, so the
    * stream stays self-maintaining. Compaction counts batches SINCE
    * STREAM START (a restart resets the cadence, not correctness —
    * compaction is idempotent and content-preserving).
    *
    * At scale this is the serving pattern for freshness: ingest and index
    * maintenance are decoupled queries with independent checkpoints —
    * a sync failure never blocks ingest, and restarting sync just
    * re-runs an idempotent delta. */
  def indexSyncStream(store: graft.store.Store, codingName: String,
      source: String, column: String, idCol: String, checkpoint: String,
      tier: String = "ivf", compactEveryBatches: Int = 0,
      maxFilesPerCell: Int = 8): org.apache.spark.sql.streaming.StreamingQuery = {
    require(Set("ivf", "pq", "sq", "bq")(tier),
      s"indexSyncStream: tier must be ivf | pq | sq | bq, got '$tier'")
    require(compactEveryBatches >= 0,
      "indexSyncStream: compactEveryBatches must be >= 0 (0 = off)")
    syncStream(store, source, checkpoint, compactEveryBatches)(
      () => graft.index.Index.syncIncremental(
        store, codingName, source, column, idCol, tier),
      () => graft.index.Index.compactCells(store, codingName, source, column,
        maxFilesPerCell, tier = tier))
  }

  /** [[indexSyncStream]] for the TEXT index tiers — fuzzy (edit-
    * distance PassJoin artifact) and lexical (BM25 postings): tails the
    * streamed-into table directory and runs the tier's idempotent
    * incremental sync after each micro-batch of committed files, with
    * the same optional compaction cadence. Same contracts as the vector
    * twin: the micro-batch CONTENT is ignored (sync re-reads the table
    * through its id anti-join delta, so replays cannot double-index a
    * row), a sync failure never blocks the ingest query, and restarts
    * re-run an idempotent delta. For the fuzzy tier this is what keeps
    * [[graft.api.Engine.fuzzyLookup]]/[[graft.api.Engine.fuzzyJoin]]
    * serving FRESH under a live ingest stream with no manual
    * [[graft.api.Engine.syncFuzzyIndex]] anywhere — each sync over the
    * verifiably append-only growth re-stamps freshness. `idCol` is the
    * lexical tier's doc-id column; the fuzzy tier reads its id column
    * from the artifact's own metadata and ignores the argument. */
  def textIndexSyncStream(engine: graft.api.Engine, source: String,
      idCol: String, textCol: String, checkpoint: String,
      tier: String = "fuzzy", compactEveryBatches: Int = 0,
      maxFilesPerBucket: Int = 8): org.apache.spark.sql.streaming.StreamingQuery = {
    require(Set("fuzzy", "lexical")(tier),
      s"textIndexSyncStream: tier must be fuzzy | lexical, got '$tier'")
    require(compactEveryBatches >= 0,
      "textIndexSyncStream: compactEveryBatches must be >= 0 (0 = off)")
    val fuzzy = tier == "fuzzy"
    syncStream(engine.store, source, checkpoint, compactEveryBatches)(
      () =>
        if (fuzzy) engine.syncFuzzyIndex(source, textCol)
        else engine.syncLexicalIndex(source, idCol, textCol),
      () =>
        if (fuzzy) engine.compactFuzzyIndex(source, textCol, maxFilesPerBucket)
        else engine.compactLexicalIndex(source, textCol, maxFilesPerBucket))
  }

  /** The frame both sync streams share: tail the streamed-into table
    * directory and run `sync` after each micro-batch of committed files,
    * then `compact` after every `compactEveryBatches` batches counted
    * since stream start (0 = never). */
  private def syncStream(store: graft.store.Store, source: String,
      checkpoint: String, compactEveryBatches: Int)(sync: () => Any,
      compact: () => Any): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = store.spark
    val path = store.tablePath(source)
    val schema = spark.read.parquet(path).schema
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.readStream.schema(schema).parquet(path)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (_: DataFrame, _: Long) =>
        sync()
        val n = batches.incrementAndGet()
        if (compactEveryBatches > 0 && n % compactEveryBatches == 0)
          compact()
        ()
      }
      .start()
  }

  /** Tumbling-window per-type aggregates. On a stream, add
    * `.withWatermark("ts", "1 hour")` upstream and this plans as an
    * incremental stateful agg; on a batch frame it's a plain groupBy. */
  def windowedEventStats(events: DataFrame, windowLen: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum("value").as("sum_value"),
        approx_count_distinct("user_id").as("approx_users"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"), col("approx_users"))

  /** The same with a watermark, for genuine readStream inputs. */
  def windowedEventStatsStreaming(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    windowedEventStats(events.withWatermark("ts", watermark), windowLen)

  /** Running vocabulary: token frequencies over a text stream. Batch =
    * one map-side-combined groupBy (identical to
    * [[graft.ext.TextAnalysis.tokenFrequencies]]); on a stream in update
    * mode the state is one counter per distinct token — bounded by
    * vocabulary size, not stream length. */
  def streamingTokenCounts(docs: DataFrame, textCol: String): DataFrame =
    graft.ext.TextAnalysis.tokenFrequencies(docs, textCol)

  /** Streaming ANN: score each micro-batch of query vectors against a
    * static corpus (optionally IVF-pruned upstream) with the same batch
    * k-NN join the offline path uses — the Spark answer to "online"
    * vector search: bounded latency per micro-batch, one pruned corpus
    * pass amortized over the batch's queries.
    *
    * Returns a function suitable for `queries.writeStream.foreachBatch`.
    */
  def knnForEachBatch(
      corpus: DataFrame, vecCol: String, queryIdCol: String,
      queryVecCol: String, metric: String, k: Int,
      sink: DataFrame => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty)
        sink(graft.api.Search.knnJoin(corpus, vecCol, batch, queryIdCol,
          queryVecCol, metric, k))

  /** Semantic (embedding) near-dup gate for an arriving-vector stream —
    * the SemDeDup ingest step: per micro-batch, each arriving embedding
    * is joined to its nearest indexed corpus vector through the TRAINED
    * IVF index ([[graft.index.Index.ivfKnnJoin]] — cell-pruned scan, so
    * the corpus is probed, never fully scanned), and rows whose nearest
    * neighbor sits within `maxDist` are emitted to `sink` as
    * (queryIdCol, idCol, __DISTANCE__) duplicate flags. A
    * `foreachBatch` harness like [[knnForEachBatch]]: kNN needs a
    * per-batch global top-k, which no single-pass streaming plan can
    * express — the batch join IS the semantics. */
  def semanticDupGateForEachBatch(
      store: graft.store.Store, codingName: String, source: String,
      column: String, queryIdCol: String, queryVecCol: String,
      maxDist: Double, probes: Int, corpusIdCol: String,
      metric: Option[String] = None,
      sink: DataFrame => Unit): (DataFrame, Long) => Unit = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty)
        sink(graft.index.Index.ivfKnnJoin(store, codingName, source, column,
            batch, queryIdCol, queryVecCol, k = 1, probes = probes,
            idCol = corpusIdCol, metric = metric,
            tieBreak = Seq(corpusIdCol))
          .filter(col("__DISTANCE__") <= maxDist))
  }

  /** Fuzzy (edit-distance) ingest gate: per micro-batch, arriving docs
    * are PassJoin-joined to the stored corpus
    * ([[graft.ext.Dedup.editDistanceJoin]] — segment-key equi-joins
    * with the shorter side of every pair indexed, then ONE thresholded
    * levenshtein per distinct candidate) and rows with a corpus match
    * within `maxDist` are emitted to `sink` as (idCol, ref_id, dist)
    * flags; an arrival absent from the output is novel. A
    * `foreachBatch` harness like [[semanticDupGateForEachBatch]]: the
    * join's candidate `distinct` and volume-guard aggs are batch
    * operations no single-pass streaming plan can express — the batch
    * join IS the semantics. The corpus frame is resolved once and
    * reused across micro-batches. */
  def editDistGateForEachBatch(corpus: DataFrame, refIdCol: String,
      refTextCol: String, idCol: String, textCol: String, maxDist: Int,
      maxCandidates: Long = 50000000L,
      sink: DataFrame => Unit): (DataFrame, Long) => Unit = {
    require(!Set("ref_id", "dist", "id_b").contains(idCol),
      s"editDistGateForEachBatch: stream idCol '$idCol' collides with " +
        "the fixed output columns (ref_id, dist) or the join's internal " +
        "id_b; rename it apart first")
    // a maxDist PassJoin builds no keys for refuses before the corpus pass
    graft.ext.Dedup.edFamily(maxDist, "editDistanceSegments")
    // The corpus pass runs ONCE, at gate construction: base text,
    // segment and probe frames are materialized (localCheckpoint) so a
    // long-running query joins each micro-batch against pinned frames
    // instead of re-deriving the corpus — the persisted-signatures
    // discipline of [[nearDupAgainstSignatures]]. The blocks live for
    // the gate's lifetime (they ARE the gate's state).
    val rb = graft.ext.Dedup.editDistanceBase(corpus, refIdCol, refTextCol)
      .localCheckpoint(true)
    val rSegs = graft.ext.Dedup.editDistanceSegments(rb, maxDist)
      .withColumnRenamed("id", "id_b").localCheckpoint(true)
    val rProbes = graft.ext.Dedup.editDistanceProbes(rb, maxDist)
      .withColumnRenamed("id", "id_b").localCheckpoint(true)
    // the guard's corpus-side key counts are fixed for the gate's
    // lifetime — aggregate them once so the per-batch guard cost
    // scales with the BATCH, not the corpus
    val rSegCounts = graft.ext.Dedup
      .editDistanceKeyCounts(rSegs, "ns").localCheckpoint(true)
    val rProbeCounts = graft.ext.Dedup
      .editDistanceKeyCounts(rProbes, "np").localCheckpoint(true)
    (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty)
        sink(graft.ext.Dedup.editDistanceJoinAgainstFrames(batch, idCol,
            textCol, rb, rSegs, rProbes, maxDist, maxCandidates,
            Some(rSegCounts), Some(rProbeCounts))
          .withColumnRenamed("id_a", idCol)
          .withColumnRenamed("id_b", "ref_id"))
  }

  /** EXACT-duplicate ingest gate: arriving docs vs a persisted corpus
    * fingerprint table ([[graft.ext.Dedup.textFingerprints]], 8
    * bytes/doc). The cheap first tier of the gate ladder — one narrow
    * fingerprint map on the stream and a stream-static equi-join on the
    * 8-byte hash (no banding, no shingles), then an exact
    * NORMALIZED-text equality verify against `refTexts` for the matched
    * candidates only, so a hash collision can never flag. "Exact" means
    * exact modulo the fingerprint's normalization: lowercase,
    * trimmed, runs of whitespace collapsed — the re-crawl dedup
    * contract. Append-mode legal (map + stream-static inner joins, no
    * aggregate). Output: (idCol, ref_id).
    *
    * Skew guard (the boilerplate-cluster discipline shared with
    * [[nearDupAgainstSignatures]]'s `maxRefBucket`): M identical corpus
    * docs share ONE fingerprint, so the ref side is collapsed to its
    * minimum-ref_id REPRESENTATIVE per fingerprint — a matching arrival
    * flags once, never M times. The trade: if two DIFFERENT normalized
    * texts ever collide in the 63-bit hash (≈2⁻⁶³), the non-rep text
    * loses exact-gate coverage (its re-crawls fall through to the
    * near-dup tier, which flags them at jaccard 1.0) — it can never
    * cause a FALSE flag, because the verify still compares real text. */
  def exactDupAgainstFingerprints(stream: DataFrame, idCol: String,
      textCol: String, refFps: DataFrame, refTexts: DataFrame): DataFrame = {
    require(idCol != "ref_id",
      s"exactDupAgainstFingerprints: stream idCol '$idCol' collides with " +
        "the fixed output column ref_id; rename it apart first")
    def norm(c: org.apache.spark.sql.Column) =
      regexp_replace(lower(trim(c)), "\\s+", " ")
    val reps = refFps.groupBy(col("fingerprint").as("__fp__"))
      .agg(min(col("ref_id")).as("ref_id"))
    stream.filter(col(textCol).isNotNull)
      .select(col(idCol), col(textCol).as("__s_text__"),
        graft.ext.TextAnalysis.fingerprint(col(textCol)).as("__fp__"))
      .join(reps, Seq("__fp__"))
      .join(refTexts.select(col("ref_id"), col("ref_text")), Seq("ref_id"))
      .filter(norm(col("__s_text__")) === norm(col("ref_text")))
      .select(col(idCol), col("ref_id"))
  }

  /** Boilerplate-line STRIP gate for an incoming document stream: rewrite
    * each arriving doc with every segment whose trimmed identity is in
    * the persisted common-segment artifact
    * ([[graft.ext.Dedup.commonSegmentHashes]]) removed — the streaming
    * twin of [[graft.ext.Dedup.stripCommonSegments]], re-shaped append-
    * legal: the artifact's (h, h2) pairs are collected driver-side
    * (bounded by `maxSegments`, loud refusal above — the
    * [[decontaminateGate]] discipline; 16 B/segment, so the default cap
    * is ~160 MB) and broadcast once, then each doc is rewritten in ONE
    * narrow map — no join, no aggregate, no cross-batch state, so a
    * long-running query reuses the single broadcast across micro-batches.
    *
    * Batch-identical: on a batch frame with `artifact =
    * commonSegmentHashes(corpus, minDocs)` the output equals
    * `stripCommonSegments(corpus, minDocs)` row-for-row (same trimmed
    * identity — ASCII space only, matching Spark's `trim` — same paired
    * FNV hash, same blank-segment preservation).
    *
    * Output: (idCol, n_segments, n_kept, text_kept). */
  def stripSegmentsGate(stream: DataFrame, idCol: String, textCol: String,
      artifact: DataFrame, sep: String = "\n",
      maxSegments: Long = 10000000L): DataFrame = {
    require(sep.nonEmpty, "stripSegmentsGate: sep must be non-empty")
    val cap = math.min(maxSegments, Int.MaxValue - 1L).toInt
    val rows = artifact.select(col("h"), col("h2")).limit(cap + 1).collect()
    require(rows.length <= cap,
      s"stripSegmentsGate: artifact has more than maxSegments = " +
        s"$maxSegments common segments; raise the cap or raise minDocs " +
        "when building the artifact")
    val set: Set[(Long, Long)] =
      rows.iterator.map(r => (r.getLong(0), r.getLong(1))).toSet
    val bc = stream.sparkSession.sparkContext.broadcast(set)
    // Spark's trim() removes ASCII spaces only — mirror that exactly so
    // the gate stays bit-identical to the batch operator (String.trim
    // would also strip tabs/controls and silently diverge)
    def spaceTrim(s: String): String = {
      var b = 0; var e = s.length
      while (b < e && s.charAt(b) == ' ') b += 1
      while (e > b && s.charAt(e - 1) == ' ') e -= 1
      s.substring(b, e)
    }
    val keepUdf = udf { (segs: Seq[String]) =>
      segs.filter { seg =>
        val t = spaceTrim(seg)
        t.isEmpty || !bc.value.contains(
          (graft.ext.Dedup.hash64(t, 0L),
            graft.ext.Dedup.hash64(t, graft.ext.Dedup.SpanSeed2)))
      }
    }
    val quoted = java.util.regex.Pattern.quote(sep)
    stream.filter(col(textCol).isNotNull)
      .select(col(idCol), split(col(textCol), quoted).as("__l__"))
      .withColumn("__k__", keepUdf(col("__l__")))
      .select(col(idCol),
        size(col("__l__")).cast("long").as("n_segments"),
        size(col("__k__")).cast("long").as("n_kept"),
        array_join(col("__k__"), sep).as("text_kept"))
  }

  /** The FULL ingest-curation gate as a foreachBatch harness — the
    * streaming twin of [[graft.ext.Curate.curate]]: each micro-batch of
    * arriving documents runs [[graft.ext.Curate.curateArrivals]]
    * (in-batch exact dedup → near-dup vs the persisted corpus signature
    * artifact → broadcast benchmark decontamination → Gopher quality →
    * language id) and the survivors go to `sink` (typically
    * [[ingestStream]]'s append target). foreachBatch is the right legal
    * shape here: the survivor set needs anti-joins against gate flags
    * derived from the batch itself, which append-mode streaming plans
    * cannot express but per-micro-batch batch plans can — the same
    * pattern as [[semanticDupGateForEachBatch]]. The corpus-side work
    * (signature banding, bench-gram broadcast) is computed from STATIC
    * frames and reused across batches. Note: when `refSegHashes` is
    * given, its driver-side collect + broadcast happens per batch (the
    * price of artifact freshness — [[selfMaintainingCurateGate]] relies
    * on exactly that); the artifact is 16 B/segment, so this is cheap
    * next to the batch's own work. */
  def curateGateForEachBatch(
      refSigs: DataFrame, refTexts: DataFrame,
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      idCol: String, textCol: String,
      cfg: graft.ext.Curate.Config = graft.ext.Curate.Config(),
      sink: DataFrame => Unit,
      refFps: Option[DataFrame] = None,
      refSegHashes: Option[DataFrame] = None): (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty)
        sink(graft.ext.Curate.curateArrivals(batch, idCol, textCol,
          refSigs, refTexts, bench, benchIdCol, benchTextCol, cfg, refFps,
          refSegHashes))

  /** Append the gate-ladder ARTIFACTS for newly accepted documents —
    * minhash signatures (near-dup tier) and, when a path is given, text
    * fingerprints (exact tier) — so the artifacts stay fresh as the
    * corpus grows and the NEXT batch gates against a state that
    * includes this batch's admissions. Plain append-mode parquet
    * writes; exactly-once is the caller's foreachBatch/checkpoint
    * contract. */
  def appendGateArtifacts(accepted: DataFrame, idCol: String,
      textCol: String, sigsPath: String, fpsPath: Option[String] = None,
      numHashes: Int = 32, shingleSize: Int = 3,
      segCountsPath: Option[String] = None,
      segSep: String = "\n"): Unit = {
    graft.ext.Dedup.minhashSignatures(
        accepted.select(col(idCol).as("ref_id"), col(textCol).as("ref_text")),
        "ref_id", "ref_text", numHashes, shingleSize)
      .write.mode("append").parquet(sigsPath)
    fpsPath.foreach(p =>
      graft.ext.Dedup.textFingerprints(accepted, idCol, textCol)
        .write.mode("append").parquet(p))
    // segment-count LSM log: this batch's partial counts append; the
    // load side sums via Dedup.commonFromCounts. Valid because batches
    // have disjoint doc ids (append-only corpus contract).
    segCountsPath.foreach(p =>
      graft.ext.Dedup.segmentDocCounts(accepted, idCol, textCol, segSep)
        .write.mode("append").parquet(p))
  }

  /** The curation gate CLOSED INTO A LOOP — [[curateGateForEachBatch]]
    * plus state maintenance: each micro-batch (1) re-reads the ref
    * table and artifacts (fresh file listing per batch — a static
    * frame's cached file index would never see appends), (2) curates
    * the arrivals against them, (3) appends the SURVIVORS to the ref
    * table and their signatures/fingerprints to the artifacts, then
    * (4) hands the survivors to `sink`. A near-dup of a document
    * admitted three batches ago is now rejected — without maintenance
    * the gate only knows the corpus state at stream start.
    *
    * `refTable` must be exactly (refIdCol, refTextCol) — the gate's
    * reference state, not the full curated corpus (which `sink`
    * typically builds with whatever extra columns it wants). */
  def selfMaintainingCurateGate(
      store: graft.store.Store, refTable: String,
      refIdCol: String, refTextCol: String,
      sigsPath: String, fpsPath: Option[String],
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      idCol: String, textCol: String,
      cfg: graft.ext.Curate.Config = graft.ext.Curate.Config(),
      sink: DataFrame => Unit,
      segCountsPath: Option[String] = None): (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        val refTexts = store.loadTable(refTable)
          .select(col(refIdCol).as("ref_id"), col(refTextCol).as("ref_text"))
        val refSigs = spark.read.parquet(sigsPath)
        val refFps = fpsPath.map(p => spark.read.parquet(p))
        // strip tier: the count log collapses to the live common set at
        // each batch — a line crossing the minDocs threshold mid-stream
        // starts stripping from the NEXT batch on (docs admitted before
        // keep their copy; eventual-consistency caveat of the log form)
        val refSegHashes = segCountsPath.map(p =>
          graft.ext.Dedup.commonFromCounts(spark.read.parquet(p),
            cfg.stripSegmentsMinDocs.getOrElse(2)))
        // localCheckpoint (eager) is load-bearing here, not a cache: the
        // survivor plan READS the very paths the maintenance step then
        // APPENDS to, and Spark's recache-by-path would re-derive the
        // plan over the grown artifacts — flagging each survivor as a
        // near-dup of ITSELF and emptying the sink. Truncating lineage
        // freezes the batch's decisions before any append.
        val survivors = graft.ext.Curate.curateArrivals(batch, idCol,
            textCol, refSigs, refTexts, bench, benchIdCol, benchTextCol,
            cfg, refFps, refSegHashes)
          .localCheckpoint(true)
        survivors.select(col(idCol).as(refIdCol),
            col(textCol).as(refTextCol))
          .write.mode("append").parquet(store.tablePath(refTable))
        appendGateArtifacts(survivors, idCol, textCol, sigsPath, fpsPath,
          cfg.numHashes, cfg.shingleSize, segCountsPath, cfg.stripSep)
        sink(survivors)
        // the batch is fully consumed (Structured Streaming already
        // forbids using a foreachBatch frame after the batch) — free the
        // checkpoint now instead of letting batches pile up until GC
        org.apache.spark.sql.GraftShims.releaseCheckpoint(survivors)
      }

  /** Data-quality constraint gate as a foreachBatch harness — the
    * streaming twin of [[graft.ext.Validate.validate]]: each
    * micro-batch is row-flagged against the (row-attributable) checks
    * via [[graft.ext.Validate.flagViolations]]; clean rows go to
    * `sink`, violating rows (annotated with the violated-check labels
    * and the batch id) go to `quarantineSink` — so a malformed crawl
    * batch is held for inspection instead of poisoning the corpus OR
    * silently vanishing. ForeignKey refs are STATIC frames reused
    * across batches (their distinct-key side is dimension-sized and
    * broadcast per batch).
    *
    * The flagged frame is checkpointed once per batch (both splits and
    * any FK join read it) and freed after the sinks consume it — the
    * round-13 storage contract. */
  def validateGateForEachBatch(checks: Seq[graft.ext.Validate.Check],
      sink: DataFrame => Unit,
      quarantineSink: Option[DataFrame => Unit] = None): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) {
        val flagged = graft.ext.Validate.flagViolations(batch, checks)
          .localCheckpoint(true)
        quarantineSink.foreach(q =>
          q(flagged.filter(size(col("violations")) > 0)
            .withColumn("batch_id", lit(batchId))))
        sink(flagged.filter(size(col("violations")) === 0)
          .drop("violations"))
        org.apache.spark.sql.GraftShims.releaseCheckpoint(flagged)
      }

  /** Distribution-drift monitor as a foreachBatch harness over a
    * COMPLETE-mode streaming [[graft.ext.Sketches.histogramBins]]
    * aggregation: each trigger delivers the full updated live
    * histogram (state bounded by touched bins, not rows), and the
    * monitor emits one total-variation row against the static
    * reference histogram via
    * [[graft.ext.Sketches.driftSummaryFromBins]] — the live "has the
    * arriving distribution moved off the reference snapshot?" gate,
    * with the reference corpus binned ONCE, never rescanned per
    * trigger. Wire as
    * `histogramBins(stream, col, w).writeStream.outputMode("complete")
    * .foreachBatch(driftMonitorForEachBatch(refBins, onReport))`. */
  def driftMonitorForEachBatch(refBins: DataFrame,
      onReport: DataFrame => Unit): (DataFrame, Long) => Unit =
    (liveBins: DataFrame, _: Long) =>
      if (!liveBins.isEmpty)
        onReport(graft.ext.Sketches.driftSummaryFromBins(liveBins, refBins))

  /** Streaming exact dedup: drop repeats of `keyCols` arriving within the
    * watermark (state is bounded by the watermark horizon — the only way
    * exact streaming dedup is safe at scale). Works on batch frames too
    * (plain dropDuplicates). */
  def streamingDedup(df: DataFrame, keyCols: Seq[String],
      tsCol: String = "ts", watermark: String = "1 hour"): DataFrame =
    if (df.isStreaming)
      df.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(keyCols)
    else df.dropDuplicates(keyCols)

  /** Near-duplicate gate for an INCOMING document stream against a STATIC
    * reference corpus — the crawl-ingest dedup step of a training-data
    * pipeline: decide per arriving document whether the corpus already
    * holds a near-duplicate, WITHOUT rescanning the corpus per batch and
    * without any cross-batch state.
    *
    * Plan shape (works identically on a batch frame — what the DuckDB
    * oracle checks — and on a `readStream` frame in append mode, as a
    * stream-static equi-join):
    *   1. both sides get the same FNV MinHash signature in a narrow map
    *      ([[graft.ext.Dedup.minhashUdf]]);
    *   2. the corpus is banded into a slim (band, bucket, ref id) frame —
    *      signature slices ARE the buckets, so there are no band-hash
    *      false positives; at scale, persist the signatures once and use
    *      [[nearDupAgainstSignatures]] so corpus text is never re-hashed
    *      per micro-batch;
    *   3. the stream joins on (band, bucket) — an equi-join Spark executes
    *      stream-static with no watermark requirement;
    *   4. a pair that matches in several bands would emit once per band;
    *      it is kept ONLY on its first matching band (a stateless filter
    *      over the two signatures — no streaming-illegal `distinct`);
    *   5. candidates verify with exact n-gram Jaccard ≥ `threshold`
    *      against the matched reference text.
    *
    * Output: (idCol, ref_id, jaccard) — one row per (arriving doc,
    * corpus near-duplicate) pair; a doc absent from the output is novel.
    * Only signatures and ids shuffle for candidacy; corpus text is joined
    * back only for surviving candidates. */
  def nearDupAgainstCorpus(stream: DataFrame, idCol: String, textCol: String,
      corpus: DataFrame, refIdCol: String, refTextCol: String,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxRefBucket: Long = 8192L): DataFrame = {
    val refData = corpus
      .select(col(refIdCol).as("ref_id"), col(refTextCol).as("ref_text"))
      .filter(col("ref_text").isNotNull)
    val refSigs = graft.ext.Dedup.minhashSignatures(
      refData, "ref_id", "ref_text", numHashes, shingleSize)
    nearDupAgainstSignatures(stream, idCol, textCol, refSigs, refData,
      shingleSize, numHashes, bands, threshold, maxRefBucket)
  }

  /** [[nearDupAgainstCorpus]] against a PRE-COMPUTED corpus signature
    * table — the 100 TB shape: signatures
    * ([[graft.ext.Dedup.minhashSignatures]], numHashes longs/doc) are the
    * expensive corpus pass, so a pipeline persists them once (and appends
    * incrementally as the corpus grows) instead of re-hashing corpus text
    * per batch/job. `refSigs` must be (ref_id, sig) with the SAME
    * numHashes/shingleSize; `refTexts` is (ref_id, ref_text), consulted
    * only for surviving candidates' exact-Jaccard verify.
    *
    * Skew guard (`maxRefBucket`): a boilerplate cluster of M near-identical
    * corpus docs shares one bucket in every band, so a single matching
    * arrival would otherwise fan out to M pre-verify rows per batch.
    * Corpus buckets larger than the cap keep only their minimum-ref_id
    * REPRESENTATIVE — the cluster's members are near-duplicates of each
    * other by construction, so an arrival near the cluster still flags
    * (against the representative, one row instead of M). The trade: the
    * specific ref_ids reported for such an arrival shrink to the
    * representative, and a pair whose first-matching band (computed from
    * the full signatures, step 4) is a band where that ref was dropped is
    * reported via the representative instead of that ref. The gate
    * decision — "does the corpus already hold a near-duplicate?" — is
    * unaffected. */
  def nearDupAgainstSignatures(stream: DataFrame, idCol: String,
      textCol: String, refSigs: DataFrame, refTexts: DataFrame,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxRefBucket: Long = 8192L): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    require(threshold >= 0 && threshold <= 1,
      s"threshold must be in [0,1], got $threshold")
    require(maxRefBucket >= 1, s"maxRefBucket must be >= 1, got $maxRefBucket")
    // output columns are fixed (idCol, ref_id, jaccard) — a stream idCol
    // named like one of them would silently produce duplicate columns
    require(idCol != "ref_id" && idCol != "jaccard",
      s"nearDupAgainstSignatures: stream idCol '$idCol' collides with a " +
        "fixed output column (ref_id, jaccard); rename it apart first")
    val rows = numHashes / bands
    // signature kernel — bit-exact to the minhashUdf twin (DedupSpec)
    val mh = (c: org.apache.spark.sql.Column) =>
      graft.functions.functions.minhash_sig(c, numHashes, shingleSize)
    val ref = refSigs.select(col("ref_id"), col("sig").as("__ref_sig__"))
    val refBandedAll = ref.select(col("ref_id"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"),
        col("__ref_sig__"))
      .withColumn("bucket",
        slice(col("__ref_sig__"), col("band") * rows + 1, lit(rows)))
      .select("ref_id", "band", "bucket")
    // static-side skew cap: over-cap buckets collapse to their min-ref_id
    // representative (one partial-agg count + one min — both static-side,
    // evaluated with the static plan, never per-row on the stream)
    val refSizes = refBandedAll.groupBy("band", "bucket").count()
    val refBanded = refBandedAll.join(
        refSizes.filter(col("count") <= maxRefBucket).select("band", "bucket"),
        Seq("band", "bucket"))
      .select("ref_id", "band", "bucket")
      .unionByName(refBandedAll.join(
          refSizes.filter(col("count") > maxRefBucket).select("band", "bucket"),
          Seq("band", "bucket"))
        .groupBy("band", "bucket").agg(min("ref_id").as("ref_id"))
        .select("ref_id", "band", "bucket"))
    val sBanded = stream.filter(col(textCol).isNotNull)
      .select(col(idCol).as("__s_id__"), col(textCol).as("__s_text__"))
      .withColumn("__s_sig__", mh(col("__s_text__")))
      .select(col("__s_id__"), col("__s_text__"), col("__s_sig__"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bucket",
        slice(col("__s_sig__"), col("band") * rows + 1, lit(rows)))
    val matched = sBanded.join(refBanded, Seq("band", "bucket"))
      .join(ref, Seq("ref_id"))
    // keep each (doc, ref) pair only on its FIRST matching band
    val firstMatch = element_at(filter(
      sequence(lit(0), lit(bands - 1)),
      p => slice(col("__s_sig__"), p * rows + 1, lit(rows)) ===
        slice(col("__ref_sig__"), p * rows + 1, lit(rows))), 1)
    matched.filter(col("band") === firstMatch)
      .join(refTexts.select(col("ref_id"), col("ref_text")), Seq("ref_id"))
      .withColumn("jaccard", graft.ext.Dedup.jaccardUdf(shingleSize)(
        col("__s_text__"), col("ref_text")))
      .filter(col("jaccard") >= threshold)
      .select(col("__s_id__").as(idCol), col("ref_id"), col("jaccard"))
  }

  /** Benchmark-decontamination gate for an INCOMING document stream —
    * the eval-leakage check ([[graft.ext.TextAnalysis.ngramContainment]])
    * re-shaped so it is legal in streaming append mode: the batch
    * operator's corpus-side groupBy becomes a NARROW map with the
    * benchmark n-grams broadcast, so arriving docs are scored without
    * any streaming aggregate or cross-batch state.
    *
    * The benchmark side is small by definition — its distinct n-grams
    * are collected driver-side (bounded by `maxBenchGrams`, loud refusal
    * above it, the [[graft.ext.NgramLm]] discipline) and broadcast once
    * per call; a long-running streaming query reuses the one broadcast
    * across micro-batches. Bench ids must be long-castable (the engine's
    * id convention).
    *
    * Batch-identical: on a batch frame the output equals
    * `ngramContainment` row-for-row (same tokenization expressions, same
    * containment association `shared.toDouble / b_total`).
    * Output: (idCol, benchIdCol, shared, containment). */
  def decontaminateGate(stream: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      n: Int = 2, threshold: Double = 0.2,
      maxBenchGrams: Long = 5000000L): DataFrame = {
    require(n >= 1, s"decontaminateGate: n must be >= 1, got $n")
    require(threshold >= 0 && threshold <= 1,
      s"decontaminateGate: threshold must be in [0,1], got $threshold")
    require(idCol != benchIdCol,
      s"rename the id columns apart (both are '$idCol')")
    val cap = math.min(maxBenchGrams, Int.MaxValue - 1L).toInt
    val bgRows = graft.ext.TextAnalysis
      .distinctNgrams(bench, benchIdCol, benchTextCol, n, "ngram")
      .select(col(benchIdCol).cast("long"), col("ngram"))
      .limit(cap + 1).collect()
    require(bgRows.length <= cap,
      s"decontaminateGate: benchmark has more than maxBenchGrams = " +
        s"$maxBenchGrams distinct $n-grams; raise the cap or shrink the benchmark")
    require(bgRows.forall(!_.isNullAt(0)),
      s"decontaminateGate: benchmark id column '$benchIdCol' has values " +
        "that are null or not castable to long — the engine's id " +
        "convention requires long-castable ids")
    val gramToBench: Map[String, Array[Long]] = bgRows.groupBy(_.getString(1))
      .map { case (g, rs) => g -> rs.map(_.getLong(0)) }
    val totals: Map[Long, Long] = bgRows.groupBy(_.getLong(0))
      .map { case (b, rs) => b -> rs.length.toLong }
    val sc = stream.sparkSession.sparkContext
    val bcGrams = sc.broadcast(gramToBench)
    val bcTotals = sc.broadcast(totals)
    val matchUdf = udf { (grams: Seq[String]) =>
      val counts = scala.collection.mutable.LongMap.empty[Long]
      grams.foreach { g =>
        bcGrams.value.get(g).foreach(_.foreach(b =>
          counts(b) = counts.getOrElse(b, 0L) + 1L))
      }
      counts.iterator
        .map { case (b, c) => (b, c, c.toDouble / bcTotals.value(b)) }
        .filter(_._3 >= threshold).toSeq
    }
    // same gram expressions as TextAnalysis.distinctNgrams, un-exploded
    val toks = split(trim(col(textCol)), "\\s+")
    stream.filter(col(textCol).isNotNull)
      .select(col(idCol), toks.as("__toks__"))
      .filter(size(col("__toks__")) >= n)
      .select(col(idCol), array_distinct(transform(
        sequence(lit(0), size(col("__toks__")) - n),
        i => concat_ws(" ",
          (0 until n).map(j => element_at(col("__toks__"), i + j + 1)): _*)))
        .as("__grams__"))
      .select(col(idCol), explode(matchUdf(col("__grams__"))).as("__m__"))
      .select(col(idCol), col("__m__._1").as(benchIdCol),
        col("__m__._2").as("shared"), col("__m__._3").as("containment"))
  }

  /** Decontamination gate for benchmarks ABOVE [[decontaminateGate]]'s
    * collect cap — the scale tier that replaces the loud
    * `maxBenchGrams` refusal: the benchmark lives as the persisted
    * [[graft.ext.TextAnalysis.benchGrams]] gram table (never collected,
    * never broadcast), a Bloom filter over it is built ONCE from the
    * static frame and reused across every micro-batch, and each batch of
    * arriving docs runs the exact
    * [[graft.ext.TextAnalysis.containmentWithBloom]] body
    * (bloom-prefiltered grams → exact verify join → containment). A
    * `foreachBatch` harness like [[semanticDupGateForEachBatch]]: the
    * per-(doc, bench) shared-gram count is an aggregate over the batch,
    * which append-mode streaming plans cannot express but per-micro-batch
    * batch plans can. Output rows to `sink`:
    * (idCol, benchId, shared, containment) — identical to
    * `ngramContainment` on the same batch. */
  def decontaminateGateForEachBatch(
      benchGrams: DataFrame, benchIdCol: String,
      idCol: String, textCol: String,
      n: Int = 2, threshold: Double = 0.2, fpp: Double = 1e-3,
      sink: DataFrame => Unit): (DataFrame, Long) => Unit = {
    require(idCol != benchIdCol,
      s"rename the id columns apart (both are '$idCol')")
    // built AND broadcast once — per-batch re-broadcast of a ~170 MB
    // bloom would ship it to every executor every trigger and leak
    // stale broadcast blocks for the stream's lifetime
    val bloomBc = benchGrams.sparkSession.sparkContext.broadcast(
      graft.ext.TextAnalysis.buildGramBloom(benchGrams, fpp))
    (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty)
        sink(graft.ext.TextAnalysis.containmentWithBloomBc(batch, idCol,
          textCol, benchGrams, benchIdCol, n, threshold, bloomBc))
  }

  /** Gap-based session windows per user (SURVEY §7 extension list).
    *
    * Built on Spark's `session_window`: events of one user closer than
    * `gapSecs` merge into one session; a silence strictly longer than
    * `gapSecs` starts a new one (events exactly `gapSecs` apart still
    * merge — Spark merges overlapping-or-touching [t, t+gap) windows).
    * Expects a `ts_sec` epoch-seconds column (timestamp-type-agnostic);
    * session identity is (user_id, session_start).
    *
    * Runs identically on batch frames (what the DuckDB oracle checks via
    * the lag-gap cumulative-sum formulation) and, via [[sessionizeStreaming]],
    * as an incremental stateful streaming agg with watermark-bounded state.
    */
  /** Stream-STREAM inner join with an event-time range: each `click` is
    * attributed to every `view` of the same key at most `maxDelaySecs`
    * before it — the ad-attribution / impression-conversion shape, and
    * the one Structured Streaming join family the suite's gates (all
    * stream-static) don't cover.
    *
    * Both inputs carry their own watermark; the equality key plus the
    * two-sided time bound (`view_ts <= click_ts <= view_ts + delay`)
    * make the join state PROVABLY bounded: Spark can discard a buffered
    * view once the click-side watermark passes `view_ts + delay`, and a
    * buffered click once the view-side watermark passes `click_ts` —
    * without the range condition the state grows forever at 100 TB/day.
    * Append-legal (inner join, no agg).
    *
    * Runs identically on batch frames — what the `events_attribution`
    * DuckDB oracle checks — because the body is one join expression; on
    * batch inputs the watermark call is skipped (no-op semantics,
    * `withWatermark` requires a streaming frame only by convention). */
  def attributionJoin(views: DataFrame, clicks: DataFrame,
      idCol: String, keyCol: String, tsCol: String, maxDelaySecs: Long,
      watermark: String = "1 hour", joinType: String = "inner"): DataFrame = {
    require(maxDelaySecs > 0, s"maxDelaySecs must be > 0, got $maxDelaySecs")
    require(Set("inner", "left_outer").contains(joinType),
      s"joinType must be inner | left_outer, got '$joinType' " +
        "(left_outer emits never-clicked views with null click columns " +
        "once the click watermark passes their window)")
    def side(df: DataFrame, tag: String): DataFrame = {
      val wm = if (df.isStreaming) df.withWatermark(tsCol, watermark) else df
      wm.select(col(keyCol).as(s"${tag}_key"), col(idCol).as(s"${tag}_id"),
        col(tsCol).as(s"${tag}_ts"))
    }
    side(views, "view").join(side(clicks, "click"),
        col("view_key") === col("click_key") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") +
            expr(s"INTERVAL $maxDelaySecs SECONDS"),
        joinType)
      .select(col("view_key").as(keyCol), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
  }

  def sessionize(events: DataFrame, gapSecs: Long = 1800L): DataFrame =
    events
      .withColumn("__sess_ts__", timestamp_seconds(col("ts_sec").cast("long")))
      .groupBy(col("user_id"),
        session_window(col("__sess_ts__"), s"$gapSecs seconds").as("__sw__"))
      .agg(
        min(col("ts_sec").cast("long")).as("session_start"),
        count(lit(1)).as("session_events"),
        sum(col("value").cast("double")).as("session_value"),
        (max(col("ts_sec").cast("long")) - min(col("ts_sec").cast("long")))
          .cast("double").as("session_secs"))
      .select("user_id", "session_start", "session_events", "session_value",
        "session_secs")

  /** Streaming variant: the same gap sessions as an incremental stateful
    * aggregation — state per (user, open session), closed and emitted once
    * the watermark passes the session end. `events` must carry an event-time
    * `ts` timestamp column (the watermark column) plus `ts_sec`. */
  def sessionizeStreaming(events: DataFrame, gapSecs: Long = 1800L,
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapSecs seconds").as("__sw__"))
      .agg(
        count(lit(1)).as("session_events"),
        sum(col("value").cast("double")).as("session_value"))
      .select(col("user_id"), col("__sw__.start").as("session_start"),
        col("session_events"), col("session_value"))

  case class GapSession(start: Long, last: Long, events: Long, value: Double)
  case class SessionRow(user_id: Long, session_start: Long, session_events: Long,
      session_value: Double, session_secs: Double)

  /** Explicit-state streaming sessionization (flatMapGroupsWithState +
    * event-time timeout) — the custom-state surface for session logic that
    * `session_window` can't express (e.g. emitting a session the moment a
    * later in-stream event proves the gap, not only at watermark).
    *
    * State is O(1) per user: exactly the one open session. Each invocation
    * sorts only the micro-batch's rows for that key (bounded by the batch,
    * never by user history). A completed session is emitted as soon as a
    * later event arrives past the gap; an open session is emitted when the
    * event-time timeout fires (watermark passed `last + gapSecs`). */
  def sessionizeStateful(events: DataFrame, gapSecs: Long = 1800L,
      watermark: String = "1 hour"): Dataset[SessionRow] = {
    import events.sparkSession.implicits._
    // the watermarked `ts` column must survive the projection or Spark's
    // streaming checker can't associate the event-time timeout with it
    val typed = events.withWatermark("ts", watermark)
      .select(col("user_id").cast("long"), col("ts_sec").cast("long"),
        col("value").cast("double"), col("ts"))
      .as[(Long, Long, Double, java.sql.Timestamp)]
    typed.groupByKey(_._1).flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (userId: Long, rows: Iterator[(Long, Long, Double, java.sql.Timestamp)],
          state: GroupState[GapSession]) =>
        def emit(s: GapSession): SessionRow =
          SessionRow(userId, s.start, s.events, s.value, (s.last - s.start).toDouble)
        if (state.hasTimedOut) {
          val out = emit(state.get)
          state.remove()
          Iterator.single(out)
        } else {
          val batch = rows.map { case (_, ts, v, _) => (ts, v) }.toArray
          batch.sortInPlaceBy(_._1)
          val closed = Seq.newBuilder[SessionRow]
          var open = state.getOption
          batch.foreach { case (ts, v) =>
            open = open match {
              case Some(s) if ts - s.last > gapSecs =>
                closed += emit(s)
                Some(GapSession(ts, ts, 1L, v))
              case Some(s) =>
                Some(GapSession(s.start, math.max(s.last, ts), s.events + 1, s.value + v))
              case None =>
                Some(GapSession(ts, ts, 1L, v))
            }
          }
          open.foreach { s =>
            state.update(s)
            // close at watermark ≥ last event + gap (epoch millis)
            state.setTimeoutTimestamp((s.last + gapSecs) * 1000L)
          }
          closed.result().iterator
        }
    }
  }
}
