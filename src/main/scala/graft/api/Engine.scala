package graft.api

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, ResidentScan, SparkSession}
import org.apache.spark.sql.functions._

import graft.coder.{CoderConfig, Coding}
import graft.index.Index
import graft.api.Engine.{TextMeta, TextTier}
import graft.store.{Store, Swap}

/** The engine facade — the reference Flight client surface
  * (`/root/reference/src/fenix/flight.py:137-292`) re-expressed as a
  * stateless library API: every scan parameter travels in the call (no
  * server-global session state, fixing the reference race — SURVEY §1.3).
  */
class Engine(val spark: SparkSession, val root: String) {
  val store = new Store(spark, root)

  // ——— tables ———
  def makeTable(name: String, df: DataFrame): Unit = store.createTable(name, df)

  /** CSV/JSON ingest with explicit schema ([[Store.importTable]]). */
  def importTable(name: String, path: String, format: String, schemaDdl: String,
      options: Map[String, String] = Map.empty): Unit =
    store.importTable(name, path, format, schemaDdl, options)

  /** `read_table` (S8/`flight.py:46-60`): multi-source load, optional
    * attached codes, filter, select — all explicit arguments. */
  def readTable(
      names: Seq[String],
      select: Option[Seq[String]] = None,
      filter: Option[Column] = None,
      coding: Option[(String, String)] = None): DataFrame = {
    val base = coding match {
      case Some((codingName, column)) =>
        names.map(n => Index.load(store, codingName, n, column)).reduce(_ unionByName _)
      case None => store.loadTable(names: _*)
    }
    val filtered = filter.fold(base)(base.filter)
    select.fold(filtered)(cols => filtered.select(cols.map(col): _*))
  }

  /** Export a table (or any query over it) back to the reference's
    * native Arrow IPC stream format ([[graft.sources.ArrowIpc.writeStream]])
    * — the reverse of the arrow [[importTable]] path; returns rows
    * written. */
  def exportArrow(name: String, path: String,
      maxRecordsPerBatch: Int = 4096): Long =
    graft.sources.ArrowIpc.writeStream(store.loadTable(name), path,
      maxRecordsPerBatch)

  /** Export a stored table as CSV or JSONL — Spark's `json` sink writes
    * one object per line, the standard training-data delivery format.
    * Distributed write, one file per partition; `shards > 0`
    * repartitions first to bound the output file count (balanced by
    * round-robin, so shard sizes stay even at any scale). Returns rows
    * exported. Round-trips through [[importTable]]. */
  def exportTable(name: String, path: String, format: String,
      options: Map[String, String] = Map.empty, shards: Int = 0): Long = {
    require(Set("csv", "json").contains(format),
      s"unsupported export format '$format' (csv | json)")
    val df0 = store.loadTable(name)
    val df = if (shards > 0) df0.repartition(shards) else df0
    df.write.mode("overwrite").options(options).format(format).save(path)
    df0.count()
  }

  def listTables(): Seq[String] = store.listTables()
  def dropTable(name: String): Unit = store.dropTable(name)

  // ——— coder / index ———
  def makeCoder(name: String, source: String, column: String, config: CoderConfig): Coding =
    store.makeCoder(name, source, column, config)

  def syncIndex(codingName: String, source: String, column: String): Unit =
    Index.build(store, codingName, source, column)

  def makeIndex(name: String, source: String, column: String, config: CoderConfig): Unit = {
    makeCoder(name, source, column, config)
    syncIndex(name, source, column)
  }

  def listCodings(): Seq[String] = store.listCodings()
  def dropIndex(name: String): Unit = store.dropCoding(name)

  // ——— text index tiers: lexical (BM25) and fuzzy (edit-distance) ———
  //
  // Both tiers run one lifecycle — one build, sync, recovery sweep,
  // compaction and meta.json reader/writer — and a tier supplies only
  // its frames ([[Engine.TextTier]]).

  private def readTextMeta(tier: TextTier): TextMeta = {
    val n = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(store.readSidecar(s"${tier.base}/meta.json"))
    def field(k: String) = Option(n.get(k)).filterNot(_.isNull)
    def int(k: String) = field(k).filter(_.canConvertToInt).map(_.asInt)
    val meta = TextMeta(
      int("buckets").getOrElse(throw new IllegalStateException(
        s"${tier.kind} index at ${tier.base} has no bucket count in meta.json")),
      field("positional").map(_.asBoolean), int("maxDist"),
      field("idCol").map(_.asText), int("layout"),
      for (ns <- field("maxNsBound"); np <- field("maxNpBound"))
        yield (ns.asLong, np.asLong))
    tier.check(meta)
    meta
  }

  private def writeTextMeta(base: String, m: TextMeta): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val o = mapper.createObjectNode()
    m.maxDist.foreach(v => o.put("maxDist", v))
    o.put("buckets", m.buckets)
    m.idCol.foreach(v => o.put("idCol", v))
    m.layout.foreach(v => o.put("layout", v))
    m.positional.foreach(v => o.put("positional", v))
    m.bounds.foreach { case (ns, np) =>
      o.put("maxNsBound", ns); o.put("maxNpBound", np)
    }
    store.writeSidecar(s"$base/meta.json", mapper.writeValueAsBytes(o))
  }

  /** The lexical tier: postings partitioned by `__TERM_BUCKET__` (a
    * keyword query prunes to its terms' buckets at the file listing, the
    * lexical analogue of the IVF tiers' cell pruning) plus the narrow
    * doc-length table. Positional postings also carry each occurrence's
    * sorted token positions. */
  private def lexicalTier(source: String, textCol: String): TextTier = {
    val base = store.lexIndexPath(source, textCol)
    TextTier("lexical", base, Seq("postings" -> "__TERM_BUCKET__"),
      Seq("doclens"), known = "doclens",
      write = (m, delta, dir) => {
        val post =
          if (m.positional.contains(true))
            graft.ext.Lexical.positionalPostings(delta, "id", "t", m.buckets)
          else graft.ext.Lexical.postings(delta, "id", "t", m.buckets)
        writeBucketed(post, s"$dir/postings", "__TERM_BUCKET__", m.buckets)
        graft.ext.Lexical.docLengths(delta, "id", "t").write.parquet(s"$dir/doclens")
        m
      })
  }

  /** The fuzzy tier: the PassJoin (id, t, len) base partitioned by an id
    * bucket (layout 2 — the lookup's final verify prunes the base scan to
    * its candidates' buckets), the segment and probe frames partitioned by
    * a CRC32 bucket of the segment content, and their per-key row counts
    * (the candidate-volume guard's statistics). */
  private def fuzzyTier(source: String, textCol: String): TextTier = {
    val base = store.fuzzyIndexPath(source, textCol)
    // the true per-key maximum of one counts frame (partial count rows
    // re-aggregated)
    def trueMax(dir: String, alias: String): Long = {
      val r = spark.read.parquet(s"$base/$dir")
        .groupBy("l", "i", "g").agg(sum(col(alias)).as("__t__"))
        .agg(max(col("__t__"))).head()
      if (r.isNullAt(0)) 0L else r.getDouble(0).toLong
    }
    TextTier("fuzzy", base,
      Seq("segs" -> "__SEG_BUCKET__", "probes" -> "__SEG_BUCKET__",
        "base" -> "__ID_BUCKET__"),
      Seq("segcounts", "probecounts"), known = "base",
      write = (m, delta, dir) => {
        val bf = graft.ext.Dedup.editDistanceBase(delta, "id", "t")
        // base and frame writes overlap (guide §2.6)
        var frames = (0L, 0L)
        runConcurrently(Seq(
          () => writeBucketed(
            bf.withColumn("__ID_BUCKET__", idBucketCol(m.buckets)),
            s"$dir/base", "__ID_BUCKET__", m.buckets),
          () => frames =
            writeFuzzyFrames(dir, bf, fuzzyDist(m), m.buckets)))
        m.copy(bounds = Some(frames))
      },
      // layout 2 (id-bucketed base) is the only layout ever written, and
      // every build writing it also records idCol, so anything else is a
      // pre-lifecycle or hand-rolled artifact — refuse rather than serve
      // an unknown shape. MIGRATION: layout-1 artifacts are intentionally
      // no longer served — every lookup/sync/compact on one throws until a
      // one-time `buildFuzzyIndex` against the (unchanged) source table,
      // which regenerates the artifact in place (idempotent, Swap-guarded).
      check = m => require(m.layout.contains(2),
        s"fuzzy index at $base has an unsupported layout in meta.json — " +
          "only layout 2 (id-bucketed base) is served. One-time migration: " +
          "rebuild with buildFuzzyIndex(source, textCol) against the same " +
          "source table"),
      // accumulate the bounds: a key split across deltas totals at most
      // the sum of the per-delta maxima, installed with the frames (an
      // under-bound would let provenVolumeBound "prove" safe a candidate
      // volume that is not, silently disabling the serving join's volume
      // guard). An artifact predating the bounds stays unbounded until a
      // rebuild or a compaction.
      beforeAppend = (m, delta) => m.bounds.fold(m) { case (ns, np) =>
        val (dNs, dNp) = deltaKeyMaxima(
          graft.ext.Dedup.editDistanceBase(delta, "id", "t"), fuzzyDist(m))
        m.copy(bounds = Some((ns + dNs, np + dNp)))
      },
      // re-tighten to the TRUE per-key maxima (sync's accumulation only
      // ever loosens, and a loose bound degrades the volume guard back to
      // its exact counting pass); the counts frames hold exact per-key
      // totals and are orders of magnitude smaller than the key frames.
      // Also ESTABLISHES bounds on artifacts that predate them.
      afterCompact = m => m.copy(bounds = Some(
        (trueMax("segcounts", "ns"), trueMax("probecounts", "np")))))
  }

  private def fuzzyDist(m: TextMeta): Int = m.maxDist.getOrElse(
    throw new IllegalStateException("fuzzy index has no maxDist in meta.json"))

  /** A source's indexable rows as a text tier's delta: (id, t), null
    * text dropped — unindexable, and never in the known-id frame, so a
    * re-sync stays a no-op. */
  private def textRows(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), col(textCol).as("t"))

  /** The one build of a text tier: frames, `meta.json` and the source
    * file-listing stamp are staged and installed over the artifact as
    * one entry ([[Swap.install]]), so a failed rebuild leaves the old
    * artifact served. The listing is taken BEFORE the source is read: a
    * concurrent source change mid-build then leaves a stale stamp
    * (conservative) rather than a wrongly-fresh one. */
  private def buildText(tier: TextTier, meta: TextMeta, source: String,
      idCol: String, textCol: String): Unit = {
    val listing = store.sourceListing(source)
    val delta = textRows(store.loadTable(source), idCol, textCol)
    Swap.replace(store.fs, new Path(tier.base)) { image =>
      writeTextMeta(image, tier.write(meta, delta, image))
      Index.recordSourceStamp(store, image, listing)
    }
  }

  /** The one incremental sync of a text tier: documents whose id is
    * absent from the known-id frame get their frames staged, and the new
    * files land with `meta.json` and the stamp under one marker
    * ([[Swap.install]]) — the known-id frame and the other frames
    * together or not at all. The append-only-corpus path (both tiers'
    * frames are row-local, so the synced artifact equals a fresh rebuild
    * row-for-row; document UPDATES need a rebuild, as with every tier).
    * Re-stamps freshness only when growth is verifiably append-only
    * (every file recorded at the last build/sync still present
    * unchanged). `idCol` None reads the id column the artifact recorded.
    * Returns rows appended. */
  private def syncText(tier: TextTier, source: String, idCol: Option[String],
      textCol: String): Long =
    Swap.install(store.fs, new Path(tier.base), tier.dirs) { image =>
      val meta = readTextMeta(tier)
      val listing = store.sourceListing(source) // before the read, as build
      val id = idCol.orElse(meta.idCol).getOrElse(throw new IllegalStateException(
        s"${tier.kind} index at ${tier.base} records no idCol in meta.json"))
      val known = spark.read.parquet(s"${tier.base}/${tier.known}")
        .select(col("id").as("__known_id__"))
      val delta = textRows(store.loadTable(source), id, textCol)
        .join(known, col("id") === col("__known_id__"), "left_anti")
        .localCheckpoint(true) // counted, measured and written: compute once
      try {
        val n = delta.count()
        val frames =
          if (n == 0) Nil
          else {
            val grown = tier.beforeAppend(meta, delta)
            tier.write(meta, delta, image.toString)
            val files = Swap.files(store.fs, image)
            if (grown == meta) files
            else { writeTextMeta(image.toString, grown); "meta.json" +: files }
          }
        // re-stamp even when n == 0: append-only growth whose new rows are
        // all null-text appends nothing yet leaves the artifact
        // semantically complete — a stamp gated on n > 0 would hold it
        // "stale" with only a full rebuild as the way out
        val curSet = listing.toSet
        val restamp = Index.recordedListing(store, tier.base)
          .exists(_.forall(curSet.contains))
        if (restamp) Index.recordSourceStamp(store, image.toString, listing)
        (frames ++ (if (restamp) Seq(Index.StampFile) else Nil), n)
      } finally org.apache.spark.sql.GraftShims.releaseCheckpoint(delta)
    }

  /** The one compaction of a text tier: every [[syncText]] adds its own
    * file set to each touched bucket, so a bucket synced N times holds
    * ≥ N small files and scan cost becomes task-overhead-bound. Buckets
    * holding more than `maxFilesPerBucket` files are rewritten and flat
    * tables past the same bound coalesced, then installed under one
    * marker ([[Swap.install]]). Content is identical. Returns (buckets
    * compacted, per flat table its pre-compaction file count or 0). */
  private def compactText(tier: TextTier,
      maxFilesPerBucket: Int): (Long, Seq[Long]) = {
    require(maxFilesPerBucket >= 1, "maxFilesPerBucket must be >= 1")
    Swap.install(store.fs, new Path(tier.base), tier.dirs) { image =>
      val meta = readTextMeta(tier) // fails loudly on a missing index
      val buckets = tier.bucketed.flatMap { case (d, c) =>
        compactBuckets(s"${tier.base}/$d", s"$image/$d", c, maxFilesPerBucket)
          .map(b => s"$d/$b")
      }
      val flats = tier.flats.map(d =>
        d -> compactFlat(s"${tier.base}/$d", s"$image/$d", maxFilesPerBucket))
      val tightened = tier.afterCompact(meta)
      val metaEntry =
        if (tightened == meta) Nil
        else { writeTextMeta(image.toString, tightened); Seq("meta.json") }
      (buckets ++ flats.collect { case (d, n) if n > 0 => d } ++ metaEntry,
        (buckets.length.toLong, flats.map(_._2)))
    }
  }

  /** Rewrites under `out` every `<partCol>=N` bucket of `dir` holding
    * more than `maxFiles` data files; returns their directory names. */
  private def compactBuckets(dir: String, out: String, partCol: String,
      maxFiles: Int): Seq[String] = {
    val frag = store.fs.listStatus(new Path(dir)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol=") &&
        Swap.files(store.fs, s.getPath).length > maxFiles)
      .map(_.getPath.getName)
    if (frag.nonEmpty)
      spark.read.parquet(dir)
        .filter(col(partCol).isin(frag.map(_.stripPrefix(s"$partCol=").toInt): _*))
        .repartition(frag.length, col(partCol))
        .write.partitionBy(partCol).parquet(out)
    frag
  }

  /** Coalesces flat table `dir` to one file under `out` when it holds
    * more than `maxFiles` data files; returns that count, 0 if skipped. */
  private def compactFlat(dir: String, out: String, maxFiles: Int): Long = {
    val files = Swap.files(store.fs, new Path(dir)).length
    if (files <= maxFiles) 0L
    else { spark.read.parquet(dir).coalesce(1).write.parquet(out); files.toLong }
  }

  /** Whether a text tier's artifact exists AND was built/synced from the
    * CURRENT source content (file-listing stamp comparison, the
    * [[Index.tierFresh]] contract). */
  private def textFresh(tier: TextTier, source: String): Boolean =
    store.sidecarExists(s"${tier.base}/meta.json") &&
      Index.recordedStamp(store, tier.base).contains(store.sourceStamp(source))

  /** The meta of a text tier a query is about to read, after the
    * recovery sweep and the freshness check — loud-or-fresh, never
    * silently stale: a query must not score text that no longer exists
    * or miss documents appended since the last sync. */
  private def servedMeta(tier: TextTier, source: String, textCol: String,
      allowStale: Boolean = false): TextMeta = {
    // reads run the sweep first: an aside is INVISIBLE to parquet file
    // listing, so between a crash and the next mutating call a query
    // would silently miss every key hashing to the crashed bucket, or
    // read one install's meta over another's frames
    Swap.recover(store.fs, new Path(tier.base), tier.dirs)
    val meta = readTextMeta(tier)
    require(allowStale || textFresh(tier, source),
      s"${tier.kind} index for $source.$textCol is STALE: the source " +
        "content changed since the last build/sync (or the artifact " +
        s"predates freshness stamps). Run sync${tier.kind.capitalize}Index " +
        "after append-only growth, rebuild after in-place rewrites" +
        (if (tier.kind == "fuzzy") ", or pass allowStale = true to serve " +
          "from the stale artifact deliberately." else "."))
    meta
  }

  /** Write a bucket-partitioned frame with its rows clustered by bucket
    * first — without this every task writes a file into every bucket
    * directory (tasks × buckets tiny files per build/sync), the
    * [[Index.build]] lesson. One shuffle sized to the bucket count; each
    * bucket becomes one task's output. */
  private def writeBucketed(df: DataFrame, dir: String, partCol: String,
      buckets: Int): Unit = {
    val parts = math.max(1, math.min(buckets,
      spark.sparkContext.defaultParallelism * 2))
    df.repartition(parts, col(partCol)).write.partitionBy(partCol).parquet(dir)
  }

  // ——— lexical (BM25) inverted index ———

  /** Materialize the BM25 inverted index of a stored table's text
    * column ([[graft.ext.Lexical]], [[lexicalTier]]). With `positional`
    * the postings also carry each occurrence's sorted token positions,
    * enabling [[searchPhrase]] — BM25 queries read the same artifact and
    * simply prune the positions column. Records the source file-listing
    * stamp: [[searchBm25]]/[[searchPhrase]] refuse a stale artifact. */
  def buildLexicalIndex(source: String, idCol: String, textCol: String,
      buckets: Int = 64, positional: Boolean = false): Unit = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    buildText(lexicalTier(source, textCol),
      TextMeta(buckets, positional = Some(positional)), source, idCol, textCol)
  }

  /** Append newly ingested documents to the lexical index ([[syncText]]):
    * docs whose id is absent from the doc-length table get their postings
    * and lengths appended. Returns docs appended. */
  def syncLexicalIndex(source: String, idCol: String,
      textCol: String): Long =
    syncText(lexicalTier(source, textCol), source, Some(idCol), textCol)

  /** Top-k BM25 keyword search through the materialized index —
    * touches only the query terms' posting buckets
    * ([[graft.ext.Lexical.bm25FromIndex]]). `requireAll` switches to
    * conjunctive (AND) retrieval. Ties break by id. Refuses a stale
    * artifact (sync after append-only growth, rebuild after in-place
    * rewrites). */
  def searchBm25(source: String, textCol: String, terms: Seq[String],
      k: Int = 10, requireAll: Boolean = false): DataFrame = {
    val tier = lexicalTier(source, textCol)
    val buckets = servedMeta(tier, source, textCol).buckets
    // explicit term-bucket leaf paths (the fuzzy tier's round-19
    // lesson, [[readBuckets]]): a keyword query knows its buckets
    // before reading, so partition discovery lists just those dirs
    // instead of the whole layout
    val bks = terms.map(graft.ext.Lexical.termBucket(_, buckets)).distinct
    graft.ext.Lexical.bm25FromIndex(
        readBuckets(s"${tier.base}/postings", "__TERM_BUCKET__", bks, buckets),
        spark.read.parquet(s"${tier.base}/doclens"), terms, buckets,
        requireAll = requireAll)
      .orderBy(col("bm25").desc, col("id").asc).limit(k)
  }

  /** Top-k exact-phrase search through the positional index
    * ([[graft.ext.Lexical.phraseMatch]] — pulls only the phrase terms'
    * posting buckets). Requires the index to have been built with
    * `positional = true`; fails loudly otherwise (a non-positional
    * artifact cannot answer phrase queries), and on a stale artifact as
    * [[searchBm25]]. Ranks by occurrence count, ties break by id. */
  def searchPhrase(source: String, textCol: String, phrase: Seq[String],
      k: Int = 10): DataFrame = {
    val tier = lexicalTier(source, textCol)
    val meta = servedMeta(tier, source, textCol)
    require(meta.positional.contains(true), s"lexical index for " +
      s"$source.$textCol was built without positions — rebuild with " +
      "positional = true for phrase search")
    // leaf-path pruning as [[searchBm25]]
    val bks = phrase.map(graft.ext.Lexical.termBucket(_, meta.buckets)).distinct
    graft.ext.Lexical.phraseMatch(
        readBuckets(s"${tier.base}/postings", "__TERM_BUCKET__", bks,
          meta.buckets),
        phrase, meta.buckets)
      .orderBy(col("hits").desc, col("id").asc).limit(k)
  }

  /** Coalesce fragmented posting buckets and the doc-length table
    * ([[compactText]]) — the maintenance step an incrementally synced
    * lexical index needs. Returns (buckets compacted, doc-length files
    * before compaction, 0 when it was not fragmented). */
  def compactLexicalIndex(source: String, textCol: String,
      maxFilesPerBucket: Int = 8): (Long, Long) = {
    val (buckets, flats) =
      compactText(lexicalTier(source, textCol), maxFilesPerBucket)
    (buckets, flats.sum)
  }

  // ——— Fuzzy (edit-distance) lookup index ———

  /** Persist the PassJoin artifacts of a stored table's text column as
    * a FUZZY LOOKUP INDEX ([[fuzzyTier]]). A [[fuzzyLookup]] computes the
    * query's ≤ (k+1)²(2k+1) segment keys DRIVER-SIDE
    * ([[graft.ext.Dedup.querySegKeys]]/[[queryProbeKeys]]) and prunes
    * both scans to those keys' bucket directories at the file listing,
    * so a single lookup touches a constant number of buckets regardless
    * of corpus size; the per-key counts, precomputed, make a batch
    * [[fuzzyJoin]]'s guard cost scale with the query side only.
    *
    * The lifecycle is the lexical tier's: the build records the source
    * file-listing stamp; [[syncFuzzyIndex]] appends new docs' rows;
    * [[fuzzyIndexIsFresh]] reports staleness after in-place source
    * rewrites (which need a rebuild, as everywhere); and
    * [[compactFuzzyIndex]] coalesces sync-fragmented buckets. */
  def buildFuzzyIndex(source: String, idCol: String, textCol: String,
      maxDist: Int = 2, buckets: Int = 64): Unit = {
    graft.ext.Dedup.edFamily(maxDist, "buildFuzzyIndex") // refuses before any write
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    buildText(fuzzyTier(source, textCol), TextMeta(buckets,
        maxDist = Some(maxDist), idCol = Some(idCol), layout = Some(2)),
      source, idCol, textCol)
  }

  /** Run independent Spark actions concurrently and wait for all
    * (guide §2.6 "overlap independent jobs"): the fuzzy lifecycle's
    * artifact writes are separate small jobs whose tails leave most
    * cores idle — submitted together, each job's tasks back-fill the
    * executors the others free. Threads are created fresh PER CALL so
    * Spark's InheritableThreadLocal job group/description (the bench
    * watchdog's cancellation handle) is inherited from the caller.
    * The first failure rethrows after all tasks settle — no write is
    * left mid-flight when the caller unwinds into its artifact-lock
    * cleanup. */
  private def runConcurrently(tasks: Seq[() => Unit]): Unit =
    if (tasks.sizeIs <= 1) tasks.foreach(_.apply())
    else {
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val threads = tasks.map { t =>
        val th = new Thread(() => {
          try t() catch {
            case e: Throwable => failure.compareAndSet(null, e)
          }
        })
        th.setDaemon(true)
        th.start()
        th
      }
      threads.foreach(_.join())
      Option(failure.get()).foreach(e => throw e)
    }

  private def idBucketCol(buckets: Int): Column =
    (crc32(encode(col("id").cast("string"), "UTF-8")) % buckets).cast("int")

  /** Segment/probe/count frames of one base delta, written under the
    * artifact — shared by build (overwrite) and sync (append). Returns
    * this DELTA's (max per-key segment count, max per-key probe count),
    * observed for FREE on the counts writes ([[Observation]] — no
    * extra pass): the serving join's volume guard multiplies the
    * accumulated bounds against the query batch's key counts and skips
    * its artifact pass entirely when the product is safely small. */
  private def writeFuzzyFrames(base: String, bf: DataFrame, maxDist: Int,
      buckets: Int): (Long, Long) = {
    val bucketCol =
      (crc32(encode(col("g"), "UTF-8")) % buckets).cast("int")
    val segs = graft.ext.Dedup.editDistanceSegments(bf, maxDist)
    val probes = graft.ext.Dedup.editDistanceProbes(bf, maxDist)
    // per-key counts: sync appends PARTIAL count rows (one set per
    // delta); readers re-aggregate — Σ over partials is exact, and the
    // counts frame stays orders of magnitude smaller than the frames
    val segObs = new org.apache.spark.sql.Observation()
    val probeObs = new org.apache.spark.sql.Observation()
    // the four writes land in four separate directories and share no
    // ordering constraint — overlapped (guide §2.6), they back-fill
    // each other's task tails instead of running one small job at a
    // time (the r20 fixture profile: the lifecycle queries were
    // job-count-bound, not data-bound)
    runConcurrently(Seq(
      () => writeBucketed(segs.withColumn("__SEG_BUCKET__", bucketCol),
        s"$base/segs", "__SEG_BUCKET__", buckets),
      () => writeBucketed(probes.withColumn("__SEG_BUCKET__", bucketCol),
        s"$base/probes", "__SEG_BUCKET__", buckets),
      () => graft.ext.Dedup.editDistanceKeyCounts(segs, "ns")
        .observe(segObs, max(col("ns")).as("mx"))
        .write.parquet(s"$base/segcounts"),
      () => graft.ext.Dedup.editDistanceKeyCounts(probes, "np")
        .observe(probeObs, max(col("np")).as("mx"))
        .write.parquet(s"$base/probecounts")))
    def mx(o: org.apache.spark.sql.Observation): Long =
      Option(o.get("mx")).map(_.asInstanceOf[Double].toLong).getOrElse(0L)
    (mx(segObs), mx(probeObs))
  }

  /** Whether the fuzzy artifact exists AND was built/synced from the
    * CURRENT source content ([[textFresh]]) — false after any in-place
    * source rewrite until a rebuild, and false for artifacts predating
    * the stamp sidecar (rebuild to adopt). */
  def fuzzyIndexIsFresh(source: String, textCol: String): Boolean =
    textFresh(fuzzyTier(source, textCol), source)

  /** Append newly ingested documents to the fuzzy index ([[syncText]]):
    * docs whose id (the artifact's recorded id column) is absent from the
    * base frame get their base/segment/probe rows and partial key counts
    * appended. Returns rows appended. */
  def syncFuzzyIndex(source: String, textCol: String): Long =
    syncText(fuzzyTier(source, textCol), source, None, textCol)

  /** One delta's (max per-key segment count, max per-key probe count),
    * measured EAGERLY — [[syncFuzzyIndex]] needs the accumulated bound
    * on disk before any frame append (the crash-safe write order). */
  private def deltaKeyMaxima(bf: DataFrame, maxDist: Int): (Long, Long) = {
    def mx(frame: DataFrame, alias: String): Long = {
      val r = graft.ext.Dedup.editDistanceKeyCounts(frame, alias)
        .agg(max(col(alias))).head()
      if (r.isNullAt(0)) 0L else r.getDouble(0).toLong
    }
    // two independent bounded aggs over the same checkpointed delta —
    // overlapped (guide §2.6)
    @volatile var ns = 0L
    @volatile var np = 0L
    runConcurrently(Seq(
      () => ns = mx(graft.ext.Dedup.editDistanceSegments(bf, maxDist), "ns"),
      () => np = mx(graft.ext.Dedup.editDistanceProbes(bf, maxDist), "np")))
    (ns, np)
  }

  /** Coalesce sync-fragmented segment buckets and flat tables
    * ([[compactText]]), then re-tighten the frequency bounds. Returns
    * (buckets compacted across segs+probes+base, flat tables compacted).
    * Content identical; the partial count rows are merely coalesced, not
    * merged — readers re-aggregate either way. */
  def compactFuzzyIndex(source: String, textCol: String,
      maxFilesPerBucket: Int = 8): (Long, Long) = {
    val (buckets, flats) =
      compactText(fuzzyTier(source, textCol), maxFilesPerBucket)
    (buckets, flats.count(_ > 0).toLong)
  }

  /** All documents within edit distance `maxDist` (the BUILD-time k) of
    * `query`, with the distance, through the persisted fuzzy index:
    * pairs where the document is the shorter side come from the
    * document-SEGMENT scan matched by the query's probe keys; longer
    * documents from the document-PROBE scan matched by the query's
    * segment keys — both scans pruned to the keys' bucket partitions.
    * One bounded union-distinct, then a thresholded levenshtein against
    * the base texts — the base scan is ALSO pruned (layout 2 partitions
    * it by an id bucket; the collected candidate ids select their
    * buckets at the file listing), so the whole lookup touches a
    * constant number of files regardless of corpus size; without it the
    * final verify would scan every stored document's text. Candidates
    * beyond `maxLookupCandidates` refuse loudly (a driver collect must
    * stay bounded). Ties order by (dist, id). Refuses a stale artifact
    * (loud-or-fresh, never silently stale) unless `allowStale`. */
  def fuzzyLookup(source: String, textCol: String, query: String,
      allowStale: Boolean = false,
      maxLookupCandidates: Int = 10000): DataFrame = {
    require(query != null && query.nonEmpty, "fuzzyLookup: empty query")
    require(maxLookupCandidates >= 1, "maxLookupCandidates must be >= 1")
    val tier = fuzzyTier(source, textCol)
    val base = tier.base
    val meta = servedMeta(tier, source, textCol, allowStale)
    val (maxDist, buckets) = (fuzzyDist(meta), meta.buckets)
    val cand = fuzzyLookupCandidates(base, query, maxDist, buckets)
    // candidate ids to the driver (bounded, refused past the cap),
    // their id buckets computed IN the collecting job — never by a
    // driver-side re-hash that could disagree on exotic id types
    val rows = cand.withColumn("__b__", idBucketCol(buckets))
      .limit(maxLookupCandidates + 1).collect()
    require(rows.length <= maxLookupCandidates,
      s"fuzzyLookup: more than $maxLookupCandidates candidate ids for " +
        "this query — segment buckets collide heavily; raise " +
        "maxLookupCandidates deliberately or use fuzzyJoin for bulk " +
        "matching")
    // the verify scan reads ONLY the candidates' id buckets — explicit
    // leaf paths, like the candidate scans ([[readBuckets]]): the base
    // table's full 512-dir discovery was one of the three ~0.9s terms
    // in the 10M single-lookup constant
    val verified =
      if (rows.isEmpty) spark.read.parquet(s"$base/base").filter(lit(false))
      else readBuckets(s"$base/base", "__ID_BUCKET__",
          rows.map(_.getInt(1)).toSeq, buckets)
        .filter(col("id").isin(rows.map(_.get(0)): _*))
    verified
      .select(col("id"),
        levenshtein(col("t"), lit(query), maxDist).cast("long").as("dist"))
      .filter(col("dist") >= 0L && col("dist") <= maxDist.toLong)
      .orderBy(col("dist"), col("id"))
  }

  /** Read ONLY the given bucket partitions of a bucket-partitioned
    * artifact table: explicit `<dir>/<partCol>=<b>` leaf paths (with
    * `basePath` retaining the partition column) make partition
    * DISCOVERY itself proportional to the hit set — `read.parquet(dir)`
    * lists every bucket directory up front no matter what the plan
    * later prunes, and at the 10M/512-bucket tier that discovery was
    * ~0.9s per table × 3 tables ≈ 85% of the measured single-lookup
    * constant (NOTES.md, "The 10M fuzzy single-lookup constant"; the
    * breakdown is in fuzzy_lookup_probe.json). Buckets no key ever hashed
    * into have no directory — one cheap exists() each skips them; all
    * absent degrades to a full read filtered to nothing (rare, and the
    * schema must still come from somewhere). */
  private def readBuckets(dir: String, partCol: String,
      bks: Seq[Int], totalBuckets: Int): DataFrame = {
    val distinct = bks.distinct
    // Past half the layout, per-bucket exists() probes plus a
    // many-root listing cost as much as one full discovery — and on an
    // object store every exists() is its own RPC. Fall back to full
    // discovery + the INSET partition filter (still file-listing
    // pruning, just not discovery pruning).
    if (distinct.size * 2 >= totalBuckets)
      spark.read.parquet(dir)
        .filter(col(partCol).isin(distinct: _*))
    else {
      val fs = store.fs
      val paths = distinct
        .map(b => s"$dir/$partCol=$b")
        .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
      if (paths.isEmpty) spark.read.parquet(dir).filter(lit(false))
      else spark.read.option("basePath", dir).parquet(paths: _*)
    }
  }

  /** The candidate-id frame of one lookup: the query's probe keys
    * against the segment scan ∪ its segment keys against the probe
    * scan, both read through EXPLICIT hit-bucket leaf paths
    * ([[readBuckets]] — pruning at the listing, not a partition filter
    * over a full discovery). Package-visible so the pruning is
    * plan-assertable ([[fuzzyLookup]] consumes it eagerly, so its scans
    * never appear in the returned frame's plan). */
  private[graft] def fuzzyLookupCandidates(base: String, query: String,
      maxDist: Int, buckets: Int): DataFrame = {
    def hits(path: String, keys: Seq[(Int, Int, String)]): DataFrame = {
      val bks = keys.map(t => graft.ext.Lexical.termBucket(t._3, buckets))
        .distinct
      // key match as a disjunction over the (l, i, g) TUPLES — never a
      // separator-joined string, which a text containing the separator
      // could alias (two distinct keys comparing equal)
      val keyPred = keys.map(t =>
        col("l") === t._1 && col("i") === t._2 && col("g") === t._3)
        .reduce(_ || _)
      readBuckets(path, "__SEG_BUCKET__", bks, buckets)
        .filter(keyPred)
        .select("id")
    }
    hits(s"$base/segs", graft.ext.Dedup.queryProbeKeys(query, maxDist))
      .union(hits(s"$base/probes", graft.ext.Dedup.querySegKeys(query, maxDist)))
      .distinct()
  }

  /** The persisted artifact's PassJoin frames, shaped for
    * [[graft.ext.Dedup.editDistanceJoinAgainstFrames]] (id renamed to
    * id_b, partition column dropped, partial counts re-aggregated).
    * `segBuckets`/`probeBuckets` prune the segs/probes scans to those
    * `__SEG_BUCKET__` partitions at the file listing (None = full
    * scan); the count frames are never pruned — the guard needs the
    * corpus-side key statistics whole, and they are orders of
    * magnitude smaller. */
  private def fuzzyFrames(base: String, buckets: Int,
      segBuckets: Option[Seq[Int]] = None,
      probeBuckets: Option[Seq[Int]] = None): (DataFrame, DataFrame,
      DataFrame, DataFrame, DataFrame) = {
    val rb = spark.read.parquet(s"$base/base").select("id", "t", "len")
    // hit-bucket pruning through EXPLICIT leaf paths ([[readBuckets]]):
    // the pruned scan's partition discovery lists only the hit buckets
    // instead of the full layout (None = genuinely every bucket → plain
    // full read, no filter needed)
    def pruned(path: String, bks: Option[Seq[Int]]): DataFrame =
      bks.fold(spark.read.parquet(path))(b =>
        readBuckets(path, "__SEG_BUCKET__", b, buckets))
    val rSegs = pruned(s"$base/segs", segBuckets)
      .select(col("l"), col("i"), col("g"), col("id").as("id_b"))
    val rProbes = pruned(s"$base/probes", probeBuckets)
      .select(col("l"), col("i"), col("g"), col("id").as("id_b"))
    val segCounts = spark.read.parquet(s"$base/segcounts")
      .groupBy("l", "i", "g").agg(sum("ns").as("ns"))
    val probeCounts = spark.read.parquet(s"$base/probecounts")
      .groupBy("l", "i", "g").agg(sum("np").as("np"))
    (rb, rSegs, rProbes, segCounts, probeCounts)
  }

  /** One key frame's serving-side statistics: its hit-bucket set (the
    * batch join's artifact pruning — a right-side row whose `g` hashes
    * outside every left key's bucket can never find a join partner,
    * because key equality implies bucket equality under the writer's
    * CRC32 formula; None when the batch covers every bucket, where an
    * isin filter would prune nothing) and its ROW count (the broadcast
    * decision and the driver-side volume-guard bound). ONE bounded
    * driver job per frame: collect_set over ≤ `buckets` ints + a
    * count. */
  private case class FuzzySideStats(hitBuckets: Option[Seq[Int]],
    rows: Long)

  private def fuzzySideStats(keys: DataFrame,
      buckets: Int): FuzzySideStats = {
    val bCol = (crc32(encode(col("g"), "UTF-8")) % buckets).cast("int")
    val r = keys.agg(collect_set(bCol).as("bks"),
      count(lit(1)).as("n")).head()
    val bks = r.getSeq[Int](0)
    FuzzySideStats(
      if (bks.size >= buckets) None else Some(bks),
      r.getLong(1))
  }

  /** Broadcast the left key frames when their total stays under ~2M
    * rows (the serving-batch shape; a 10M-row dedup side must keep the
    * shuffle plan). */
  private val FuzzyBroadcastKeyCap = 2000000L

  /** BATCH edit-distance join against the persisted fuzzy index: every
    * (left row, stored doc) pair within the build-time `maxDist`, as
    * (id_a = left id, id_b = stored id, dist) — identical output to
    * [[graft.ext.Dedup.editDistanceJoin]] against the live table, but
    * the corpus side's segment/probe frames AND the guard's corpus-side
    * key counts come from the artifact, so per-call derivation cost
    * scales with the LEFT side only. The serving path for entity
    * resolution / fuzzy-key joins over an indexed corpus. */
  def fuzzyJoin(source: String, textCol: String, left: DataFrame,
      leftId: String, leftText: String,
      maxCandidates: Long = 50000000L,
      allowStale: Boolean = false): DataFrame = {
    val tier = fuzzyTier(source, textCol)
    val meta = servedMeta(tier, source, textCol, allowStale)
    val (maxDist, buckets) = (fuzzyDist(meta), meta.buckets)
    // batch-shape serving plan (round 18): the single lookup always
    // pruned to its query's __SEG_BUCKET__ partitions, but the batch
    // join read the FULL artifact frames — per-batch cost scaled with
    // the corpus even for a handful of queries. Two bounded driver
    // jobs over the left side yield the hit buckets (artifact scans
    // pruned at the file listing), the key counts (broadcast
    // decision), and — with the artifact's persisted frequency
    // bounds — a PROVEN volume bound that lets the guard skip its
    // artifact pass entirely (the join then reads the artifact ONCE).
    val lb = graft.ext.Dedup.editDistanceBase(left, leftId, leftText)
    val lSegStats = fuzzySideStats(
      graft.ext.Dedup.editDistanceSegments(lb, maxDist), buckets)
    val lProbeStats = fuzzySideStats(
      graft.ext.Dedup.editDistanceProbes(lb, maxDist), buckets)
    val (rb, rSegs, rProbes, segCounts, probeCounts) =
      fuzzyFrames(tier.base, buckets, lProbeStats.hitBuckets,
        lSegStats.hitBuckets)
    // Σ ns(k)·npLeft(k) + Σ np(k)·nsLeft(k) ≤ maxNs·|left probes| +
    // maxNp·|left segs| — every factor known on the driver
    val bound = meta.bounds.map { case (maxNs, maxNp) =>
      maxNs.toDouble * lProbeStats.rows + maxNp.toDouble * lSegStats.rows
    }
    graft.ext.Dedup.editDistanceJoinAgainstFrames(left, leftId, leftText,
      rb, rSegs, rProbes, maxDist, maxCandidates,
      Some(segCounts), Some(probeCounts),
      broadcastLeft =
        lSegStats.rows + lProbeStats.rows <= FuzzyBroadcastKeyCap,
      provenVolumeBound = bound)
  }

  /** Fuzzy ingest gate served FROM the persisted artifact — the
    * [[graft.streaming.Streams.editDistGateForEachBatch]] contract
    * ((streamIdCol, ref_id, dist) flags per micro-batch; an arrival
    * absent from the output is novel) without re-deriving the corpus
    * frames at gate construction or pinning them in executor storage:
    * the frames are parquet-backed, so a [[syncFuzzyIndex]] while the
    * stream runs extends the gate's corpus on the next micro-batch. */
  def fuzzyGateForEachBatch(source: String, textCol: String,
      streamIdCol: String, streamTextCol: String,
      maxCandidates: Long = 50000000L,
      sink: DataFrame => Unit): (DataFrame, Long) => Unit = {
    require(!Set("ref_id", "dist", "id_b").contains(streamIdCol),
      s"fuzzyGateForEachBatch: stream idCol '$streamIdCol' collides with " +
        "the fixed output columns (ref_id, dist) or the join's internal " +
        "id_b; rename it apart first")
    servedMeta(fuzzyTier(source, textCol), source, textCol)
    // each micro-batch is one [[fuzzyJoin]], which re-runs the recovery
    // sweep and the freshness check (one file listing): the frames are
    // re-read from parquet each batch, so an in-place source rewrite
    // mid-stream fails the next batch loudly instead of serving a stale
    // artifact until restart, while a syncFuzzyIndex re-stamps
    // append-only growth and the batch's scans prune to its buckets
    (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty)
        sink(fuzzyJoin(source, textCol, batch, streamIdCol, streamTextCol,
            maxCandidates)
          .withColumnRenamed("id_a", streamIdCol)
          .withColumnRenamed("id_b", "ref_id"))
  }

  // ——— index maintenance / ops views ———

  /** Per-cell (cell, files, bytes, rows) layout stats of an IVF index
    * ([[Index.cellStats]]) — the skew/fragmentation ops view. */
  def indexStats(codingName: String, source: String, column: String,
      withRows: Boolean = false, tier: String = "ivf"): Seq[(Long, Int, Long, Long)] =
    Index.cellStats(store, codingName, source, column, withRows, tier)

  /** Content profile of an IVF index's cells — the clustered-corpus
    * organization view ([[indexStats]] covers storage skew; this covers
    * CONTENT skew): per cell (cell, n, mean_dist rounded to 6 decimals,
    * max_dist), distances measured from each row to its cell's ANCHOR
    * ([[graft.coder.Coding.anchor]] — the mean of the cell's digit
    * centroids) under the coding's metric. Crowded far-spread cells are
    * candidates for re-training or curriculum splits; tight cells are
    * coherent domains. The anchors ride a broadcast numCells-row frame
    * joined on the cell id — distance lands in the join projection
    * (codegen'd vector_distance), the index scan stays
    * partition-aligned, and the only shuffle is the per-cell scalar
    * aggregate. The same profile over explicit exemplar rows (no coder
    * needed) is [[graft.ext.Corpus.clusterProfile]]. */
  def cellProfile(codingName: String, source: String,
      column: String): DataFrame = {
    val codingObj = store.loadCoding(codingName)
    val cells = codingObj.numCells.toInt
    import spark.implicits._
    val anchors = (0 until cells)
      .map(c => (c.toLong, codingObj.anchor(c.toLong).toSeq))
      .toDF("cell", "__anchor__")
    Index.load(store, codingName, source, column)
      .join(broadcast(anchors), col(Search.CodeCol) === col("cell"))
      .withColumn("__d__", graft.functions.functions.vector_distance(
        col(column), col("__anchor__"), codingObj.config.metric))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("__d__")), 6).as("mean_dist"),
        max(col("__d__")).as("max_dist"))
  }

  /** Cell-scoped index repair after in-place source modifications or
    * deletions ([[Index.repair]], any tier) — re-encodes only rows from
    * changed files and rewrites only affected cells. */
  def repairIndex(codingName: String, source: String, column: String,
      tier: String = "ivf"): Index.RepairStats =
    Index.repair(store, codingName, source, column, tier)

  /** Whether a tier's copy was built/synced from the CURRENT source
    * content ([[Index.tierFresh]]) — false after any in-place rewrite
    * until [[repairIndex]] or a rebuild. */
  def indexIsFresh(codingName: String, source: String, column: String,
      tier: String = "ivf"): Boolean =
    Index.tierFresh(store, codingName, source, column, tier)

  /** Coalesce fragmented index cell partitions ([[Index.compactCells]]) —
    * run periodically under a streaming sync workload. `tier` selects the
    * copy (ivf | pq | sq | bq). */
  def compactIndex(codingName: String, source: String, column: String,
      maxFilesPerCell: Int = 8, tier: String = "ivf"): Index.CompactStats =
    Index.compactCells(store, codingName, source, column, maxFilesPerCell,
      tier = tier)

  /** Train + persist a PCA (optionally whitening) model on a stored
    * table's vector column ([[graft.ext.Embeddings.pcaTrain]]). */
  def trainPca(name: String, source: String, column: String, k: Int,
      whiten: Boolean = false): graft.ext.Embeddings.PcaModel = {
    val model = graft.ext.Embeddings.pcaTrain(store.loadTable(source), column,
      k, whiten)
    store.savePcaModel(name, model)
    model
  }

  /** Project a stored table's vector column under a persisted PCA model —
    * one narrow codegen'd map ([[graft.functions.PcaProject]]). */
  def projectPca(source: String, column: String, modelName: String,
      out: String = "projection"): DataFrame =
    graft.ext.Embeddings.project(store.loadTable(source), column,
      store.loadPcaModel(modelName), out)

  // ——— BPE tokenizer (pipeline extension: trained-merges token accounting) ———

  /** Train and persist a BPE model from a stored table's text column
    * ([[graft.ext.Bpe.train]] — one distributed word-frequency agg,
    * driver-bounded merge learning, deterministic). */
  def trainBpe(name: String, source: String, textCol: String,
      numMerges: Int, maxWords: Int = 65536): graft.ext.Bpe.BpeModel = {
    val model = graft.ext.Bpe.train(store.loadTable(source), textCol,
      numMerges, maxWords)
    store.saveBpeModel(name, model)
    model
  }

  /** Token counts of a stored table under a persisted BPE model — a
    * narrow map (merge ranks broadcast in the closure). */
  def bpeTokenCounts(source: String, idCol: String, textCol: String,
      model: String): DataFrame = {
    val m = store.loadBpeModel(model)
    store.loadTable(source).select(col(idCol),
      graft.ext.Bpe.tokenCountUdf(m)(col(textCol)).cast("long").as("n_tok"))
  }

  def listBpeModels(): Seq[String] = store.listBpeModels()

  /** Train and persist a bigram stupid-backoff LM over a stored table —
    * the CCNet-style perplexity-filter model ([[graft.ext.NgramLm]]). */
  def trainNgramLm(name: String, source: String, textCol: String,
      vocabSize: Int = 4096, minCount: Long = 1L,
      alpha: Double = 0.4, order: Int = 2): graft.ext.NgramLm.NgramLmModel = {
    store.ngramModelPath(name) // validate the name BEFORE the training job
    val model = graft.ext.NgramLm.train(store.loadTable(source), textCol,
      vocabSize, minCount, alpha, order = order)
    store.saveNgramModel(name, model)
    model
  }

  /** Per-document perplexity of a stored table under a persisted LM —
    * one narrow map with the model broadcast. */
  def perplexity(source: String, idCol: String, textCol: String,
      model: String): DataFrame =
    graft.ext.NgramLm.perplexity(store.loadTable(source), idCol, textCol,
      store.loadNgramModel(model))

  def listNgramModels(): Seq[String] = store.listNgramModels()

  /** Train + persist the logistic quality classifier over a stored table
    * ([[graft.ext.QualityModel]]). `labelCol` = explicit 0/1 labels;
    * None = weak labels from the Gopher rule conjunction (rule
    * distillation). */
  def trainQualityModel(name: String, source: String, textCol: String,
      labelCol: Option[String] = None): graft.ext.QualityModel.Logistic = {
    store.qualityModelPath(name) // validate the name BEFORE the training job
    val labeled = graft.ext.QualityModel.labeledFrame(
      store.loadTable(source), textCol, labelCol)
    val model = graft.ext.QualityModel.train(labeled, textCol, "__label__")
    store.saveQualityModel(name, model)
    model
  }

  /** Quality probability per document of a stored table under a
    * persisted model — one narrow codegen map. */
  def qualityScores(source: String, idCol: String, textCol: String,
      model: String): DataFrame =
    graft.ext.QualityModel.score(store.loadTable(source), idCol, textCol,
      store.loadQualityModel(model))

  def listQualityModels(): Seq[String] = store.listQualityModels()

  /** Per-group audit profile of a stored table
    * ([[graft.ext.TextAnalysis.corpusProfile]]) — run it before/after
    * curation steps; every metric is an exact integer. */
  def profileTable(source: String, textCol: String, groupCols: Seq[String],
      minWords: Int = 50, maxWords: Int = 100000): DataFrame =
    graft.ext.TextAnalysis.corpusProfile(store.loadTable(source), textCol,
      groupCols, minWords, maxWords)

  /** Semantic dedup of a stored table at scale ([[graft.ext.Dedup
    * .semanticDedup]] with buckets = the IVF cells of a trained coding —
    * the SemDeDup paper's exact setting: k-means-cluster the embeddings,
    * pairwise-compare only within clusters). One cell-assignment map over
    * the corpus, then a per-cell-bounded pair join; never an all-pairs
    * stage. Survivor rule: a row is dropped when its cell holds a
    * smaller-`idCol` row within cosine `maxDist`. */
  def semanticDedup(source: String, column: String, coding: String,
      maxDist: Double, idCol: String,
      maxBucketRows: Long = 8192L): DataFrame = {
    // prefer the MATERIALIZED cell column of the built index — the
    // assignment is then a stored-column read instead of a
    // distance-to-every-centroid recomputation on each scan of the
    // dedup's join stages. The index is a SNAPSHOT: if the source has
    // grown/changed since the build it would silently dedup stale data,
    // so only take this branch when the content stamp recorded at
    // build/sync time still matches the source ([[Index.indexFresh]] —
    // a file-listing hash, so even a same-row-count rewrite is caught).
    // Fall back to computing the assignment inline otherwise.
    val fresh = Index.indexFresh(store, coding, source, column)
    if (fresh)
      graft.ext.Dedup.semanticDedup(
        Index.load(store, coding, source, column), idCol, column,
        maxDist, bucket = col(Index.CodeCol), maxBucketRows)
        .drop(Index.CodeCol)
    else {
      val c = store.loadCoding(coding)
      graft.ext.Dedup.semanticDedup(store.loadTable(source), idCol, column,
        maxDist, bucket = Index.assignExpr(col(column), c), maxBucketRows)
    }
  }

  /** Full corpus curation of a stored table
    * ([[graft.ext.Curate.curate]]: exact dedup → minhash near-dup
    * removal → benchmark decontamination → Gopher quality → language
    * filter). Survivors (plus `n_words`/`lang_pred`) are persisted as
    * `dest`; returns the survivor count. */
  def curateTable(source: String, dest: String, bench: String,
      idCol: String, textCol: String,
      benchIdCol: String, benchTextCol: String,
      cfg: graft.ext.Curate.Config = graft.ext.Curate.Config()): Long = {
    val out = graft.ext.Curate.curate(store.loadTable(source), idCol,
      textCol, store.loadTable(bench), benchIdCol, benchTextCol, cfg)
    store.createTable(dest, out)
    store.loadTable(dest).count()
  }

  /** Per-column profile of a stored table ([[graft.ext.Describe]]):
    * one aggregation pass, one row per column. */
  def describeTable(name: String): DataFrame =
    graft.ext.Describe.describe(store.loadTable(name))

  /** Merge `updates` into table `name` with latest-wins semantics
    * ([[graft.ext.Dedup.latestByKey]]): per key, the greatest
    * (`versionCol`, `tieBreakCol`) row — existing or incoming — survives.
    * Creates the table when absent (upsert).
    *
    * Crash/concurrency safety comes from [[graft.store.Store.replaceTable]]
    * (staging write + delete/rename swap): the merge plan reads the OLD
    * table files while the new contents land in staging — no
    * read-overwrite hazard, no checkpoint copy of the merged frame, and
    * a crash anywhere before the final rename leaves the old table
    * intact. Returns the post-merge row count. */
  def upsertTable(name: String, updates: DataFrame, keyCols: Seq[String],
      versionCol: String, tieBreakCol: String): Long = {
    val base =
      if (store.tableExists(name)) store.loadTable(name).unionByName(updates)
      else updates
    val merged = graft.ext.Dedup
      .latestByKey(base, keyCols, versionCol, tieBreakCol)
    store.replaceTable(name, merged)
    store.loadTable(name).count()
  }

  /** Build the IVF+PQ index under an existing coding — the memory-
    * compressed search path ([[Index.buildPq]]). `residual = false`
    * explicitly opts into the flat variant (required above the residual
    * cell cap; weaker within-cell ranking on clustered data). */
  def makePqIndex(codingName: String, source: String, column: String,
      pqConfig: graft.coder.PQ.PQConfig, residual: Boolean = true): Unit =
    Index.buildPq(store, codingName, source, column, pqConfig, residual)

  /** Encode-only append of new source rows to an existing PQ index under
    * its stored codebooks ([[Index.syncIncremental]]); returns rows
    * appended. Refuses when `expect` names a different PQ layout than
    * the stored one. */
  def syncPqIndex(codingName: String, source: String, column: String,
      idCol: String, expect: Option[graft.coder.PQ.PQConfig] = None): Long = {
    // a missing index is the sync's to refuse
    if (Index.pqIndexExists(store, codingName, source, column)) expect.foreach { e =>
      val cb = Index.loadPqCodebooks(store, codingName, source, column)
      require(e.numSubspaces == cb.config.numSubspaces &&
          graft.core.Metrics.canonical(e.metric) == cb.canonicalMetric &&
          e.codebookSize >= cb.config.codebookSize,
        s"PQ config mismatch: stored index has m=${cb.config.numSubspaces} " +
          s"k=${cb.config.codebookSize} metric=${cb.canonicalMetric}; " +
          s"requested m=${e.numSubspaces} k=${e.codebookSize} " +
          s"metric=${graft.core.Metrics.canonical(e.metric)} — rebuild with buildPq")
    }
    Index.syncIncremental(store, codingName, source, column, idCol, tier = "pq")
  }

  /** Build the IVF+SQ8 index under an existing coding — 8-bit scalar
    * quantization, the memory tier between raw vectors and PQ
    * ([[Index.buildSq]]); returns the shared per-dimension affine
    * params. `perCell = true` fits one affine block per IVF cell (plus a
    * global fallback). */
  def makeSqIndex(codingName: String, source: String, column: String,
      perCell: Boolean = false): Index.SqParams =
    Index.buildSq(store, codingName, source, column, perCell)

  /** Quantize-only append of new source rows to an existing SQ8 index
    * under its stored affine params ([[Index.syncIncremental]]);
    * returns rows appended. */
  def syncSqIndex(codingName: String, source: String, column: String,
      idCol: String): Long =
    Index.syncIncremental(store, codingName, source, column, idCol, tier = "sq")

  /** Build the IVF+BQ index under an existing coding — 1-bit sign codes
    * (32× smaller than float32; [[Index.buildBq]]); returns the
    * per-dimension mean thresholds. `perCell = true` centers each cell's
    * bits at its own means (residual codes — the config for clustered
    * corpora, where global sign bits degenerate into a cluster id). */
  def makeBqIndex(codingName: String, source: String, column: String,
      perCell: Boolean = false): Array[Double] =
    Index.buildBq(store, codingName, source, column, perCell)

  /** Encode-only append of new source rows to an existing BQ index under
    * its stored thresholds ([[Index.syncIncremental]]). */
  def syncBqIndex(codingName: String, source: String, column: String,
      idCol: String): Long =
    Index.syncIncremental(store, codingName, source, column, idCol, tier = "bq")

  /** Matryoshka prefix-truncation search over a stored table
    * ([[Search.matryoshkaSearch]]): coarse rank on the first `prefixDim`
    * dims (a materialized `prefixCol` makes the coarse scan column-pruned),
    * exact rerank of the survivors. */
  def matryoshkaSearch(source: String, column: String, target: TargetVector,
      prefixDim: Int, candidates: Int, idCol: String, k: Int = 10,
      metric: String = "l2", prefixCol: Option[String] = None,
      filter: Option[Column] = None, select: Option[Seq[String]] = None,
      tieBreak: Seq[String] = Nil): DataFrame =
    Search.matryoshkaSearch(store.loadTable(source), column, target,
      prefixDim, candidates, idCol, k, metric, prefixCol, filter, select,
      tieBreak)

  /** Batch IVF k-NN join ([[Index.ivfKnnJoin]]): per-query top-k over
    * the probed cells — many queries amortized over one pruned corpus
    * pass; only ids/distances cross the per-query shuffle. */
  def knnJoinIvf(coding: String, source: String, column: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, probes: Int, idCol: String, metric: Option[String] = None,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val (Some(p), _) = servedBudgets(Seq(source), column, Some(coding),
      "ivf", Some(probes), None, k, metric)
    Index.ivfKnnJoin(store, coding, source, column, queries, queryIdCol,
      queryVecCol, k, p, idCol, metric, tieBreak)
  }

  /** Batch k-NN join over the SQ8 copy ([[Index.sqKnnJoin]]): the
    * expensive per-cell stage carries d-byte codes instead of float
    * vectors. */
  def knnJoinSq(coding: String, source: String, column: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, probes: Int, candidates: Int, idCol: String,
      metric: Option[String] = None, tieBreak: Seq[String] = Nil): DataFrame = {
    val (Some(p), Some(cand)) = servedBudgets(Seq(source), column,
      Some(coding), "sq", Some(probes), Some(candidates), k, metric)
    Index.sqKnnJoin(store, coding, source, column, queries, queryIdCol,
      queryVecCol, k, p, cand, idCol, metric, tieBreak)
  }

  /** Batch BQ k-NN join ([[Index.bqKnnJoin]]): the 1-bit tier's batch
    * join — sign-code coarse pass per cell, scalars-only window, exact
    * rerank of each query's survivors. */
  def knnJoinBq(coding: String, source: String, column: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, probes: Int, candidates: Int, idCol: String,
      metric: Option[String] = None, tieBreak: Seq[String] = Nil): DataFrame = {
    val (Some(p), Some(cand)) = servedBudgets(Seq(source), column,
      Some(coding), "bq", Some(probes), Some(candidates), k, metric)
    Index.bqKnnJoin(store, coding, source, column, queries, queryIdCol,
      queryVecCol, k, p, cand, idCol, metric, tieBreak)
  }

  /** Batch k-NN join over the IVF+PQ index ([[Index.pqKnnJoin]]): the
    * per-cell join carries m-byte ADC codes, each query's lookup table
    * rides the broadcast side, raw vectors only for coarse survivors. */
  def knnJoinPq(coding: String, source: String, column: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, probes: Int, candidates: Int, idCol: String,
      metric: Option[String] = None, tieBreak: Seq[String] = Nil): DataFrame = {
    val (Some(p), Some(cand)) = servedBudgets(Seq(source), column,
      Some(coding), "pq", Some(probes), Some(candidates), k, metric)
    Index.pqKnnJoin(store, coding, source, column, queries, queryIdCol,
      queryVecCol, k, p, cand, idCol, metric, tieBreak)
  }

  /** Batch retrieve-rerank k-NN join ([[Index.rerankKnnJoin]]): cell-rank
    * coarse stage with no vector math, exact rerank of the survivors. */
  def knnJoinRerank(coding: String, source: String, column: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, probes: Int, candidates: Int, idCol: String,
      metric: Option[String] = None, tieBreak: Seq[String] = Nil): DataFrame = {
    val (Some(p), Some(cand)) = servedBudgets(Seq(source), column,
      Some(coding), "rerank", Some(probes), Some(candidates), k, metric)
    Index.rerankKnnJoin(store, coding, source, column, queries, queryIdCol,
      queryVecCol, k, p, cand, idCol, metric, tieBreak)
  }
  /** The one gate in front of every indexed search and batch join: at
    * least one source; every count >= 1 or [[Engine.Advised]]; the
    * sentinel only over exactly one source — persisted advice is
    * measured against one (coding, source, column) corpus, and a union
    * is a different corpus with a different recall curve. Resolves an
    * advised probe count ([[resolveAdvisedProbes]]), then an advised
    * candidate budget, keyed per (coding, `tier`, served probes)
    * ([[resolveAdvisedCandidates]]); returns the budgets to serve. */
  private def servedBudgets(sources: Seq[String], column: String,
      coding: Option[String], tier: String, probes: Option[Int],
      candidates: Option[Int], k: Int,
      metric: Option[String]): (Option[Int], Option[Int]) = {
    require(sources.nonEmpty, "at least one source")
    for ((name, v) <- Seq("probes" -> probes, "candidates" -> candidates); n <- v) {
      Engine.validCount(name, n)
      require(n != Engine.Advised || sources.size == 1,
        s"$name = Engine.Advised is single-source only: persisted " +
          s"$name advice is measured against one (coding, source, " +
          s"column) corpus, and this call unions ${sources.size} " +
          s"sources — pass an explicit $name count (or advise a " +
          "dedicated union table)")
    }
    lazy val c = coding.getOrElse(throw new IllegalArgumentException(
      "probes = Engine.Advised needs a coding — the advice is persisted " +
        "per coding; pass the coding the advice was measured for"))
    val p = probes.map(n => if (n != Engine.Advised) n
      else resolveAdvisedProbes(c, sources.head, column, k, metric))
    (p, candidates.map(n => if (n != Engine.Advised) n
      else resolveAdvisedCandidates(c, tier, p.getOrElse(
        throw new IllegalArgumentException(
          "candidates = Engine.Advised needs an explicit probes value — " +
            "candidate advice is persisted per (coding, tier, probes)")),
        sources.head, column, k, metric)))
  }

  /** Global top-k over per-source top-k results: exact over the unioned
    * corpus whenever each per-source result carries true (comparable)
    * final distances — the shared merge step of every multi-source
    * search path. One source is its own result. The per-source frames
    * keep the `tieBreak` columns through `select` so the merge can
    * order on them; the projection is applied after the merge. Over
    * resident sources the merge finishes on the driver
    * ([[ResidentScan.finish]]). */
  private def unionTopK(sources: Seq[String], k: Int,
      select: Option[Seq[String]], tieBreak: Seq[String])(
      perSource: (String, Option[Seq[String]]) => DataFrame): DataFrame =
    if (sources.size == 1) perSource(sources.head, select)
    else {
      val wide = select.map(cols => (cols ++ tieBreak).distinct)
      val top = sources.map(perSource(_, wide))
        .reduce(_ unionByName _)
        .orderBy(col(Search.DistCol).asc_nulls_last +: tieBreak.map(col(_).asc): _*)
        .limit(k)
      ResidentScan.finish(
        select.fold(top)(cols => top.select((cols :+ Search.DistCol).map(col): _*)))
    }

  /** Probed IVF+SQ8 search ([[Index.searchSq]]): coarse pass over the
    * d-byte quantized copy, exact rerank of the survivors.
    * `candidates = Engine.Advised` serves the PERSISTED candidate
    * budget for (coding, "sq", probes) — see
    * [[resolveAdvisedCandidates]] (loud-or-fresh, target-reached only). */
  def searchSq(source: String, column: String, target: TargetVector,
      coding: String, probes: Int, candidates: Int, idCol: String,
      k: Int = 10, metric: Option[String] = None,
      filter: Option[Column] = None, select: Option[Seq[String]] = None,
      tieBreak: Seq[String] = Nil): DataFrame =
    searchSqMulti(Seq(source), column, target, coding, probes, candidates,
      idCol, k, metric, filter, select, tieBreak)

  /** Multi-source IVF+SQ8 search. Simpler than [[searchPqMulti]]: each
    * source's affine params differ, but the per-source result distances
    * come from the EXACT rerank (true metric distances), so the global
    * top-k of the per-source top-k unions is exact over the unioned
    * corpus at full budgets with no codebook-comparability caveat —
    * only the metric must agree across calls (enforced by passing one
    * `metric` to every source). */
  def searchSqMulti(
      sources: Seq[String],
      column: String,
      target: TargetVector,
      coding: String,
      probes: Int,
      candidates: Int,
      idCol: String,
      k: Int = 10,
      metric: Option[String] = None,
      filter: Option[Column] = None,
      select: Option[Seq[String]] = None,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val (Some(p), Some(cand)) = servedBudgets(sources, column, Some(coding),
      "sq", Some(probes), Some(candidates), k, metric)
    unionTopK(sources, k, select, tieBreak)((s, sel) =>
      Index.searchSq(store, coding, s, column, target, k, p, cand, idCol,
        metric, filter, sel, tieBreak))
  }

  /** Probed IVF+BQ search ([[Index.searchBq]]): 1-bit coarse pass over
    * the sign codes, exact rerank of the survivors.
    * `candidates = Engine.Advised` serves the persisted (coding, "bq",
    * probes) budget ([[resolveAdvisedCandidates]]). */
  def searchBq(source: String, column: String, target: TargetVector,
      coding: String, probes: Int, candidates: Int, idCol: String,
      k: Int = 10, metric: Option[String] = None,
      filter: Option[Column] = None, select: Option[Seq[String]] = None,
      tieBreak: Seq[String] = Nil): DataFrame =
    searchBqMulti(Seq(source), column, target, coding, probes, candidates,
      idCol, k, metric, filter, select, tieBreak)

  /** Multi-source IVF+BQ search: per-source [[Index.searchBq]] top-k,
    * unioned and re-topped (same shape as [[searchSqMulti]]). */
  def searchBqMulti(
      sources: Seq[String],
      column: String,
      target: TargetVector,
      coding: String,
      probes: Int,
      candidates: Int,
      idCol: String,
      k: Int = 10,
      metric: Option[String] = None,
      filter: Option[Column] = None,
      select: Option[Seq[String]] = None,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val (Some(p), Some(cand)) = servedBudgets(sources, column, Some(coding),
      "bq", Some(probes), Some(candidates), k, metric)
    unionTopK(sources, k, select, tieBreak)((s, sel) =>
      Index.searchBq(store, coding, s, column, target, k, p, cand, idCol,
        metric, filter, sel, tieBreak))
  }

  /** Probed IVF+PQ search: codes-only ADC coarse pass over the probed
    * cells, exact rerank of `candidates` rows ([[Index.searchIvfPq]]). */
  def searchPq(
      source: String,
      column: String,
      target: TargetVector,
      coding: String,
      probes: Int,
      candidates: Int,
      idCol: String,
      k: Int = 10,
      metric: Option[String] = None,
      filter: Option[Column] = None,
      select: Option[Seq[String]] = None,
      tieBreak: Seq[String] = Nil): DataFrame =
    searchPqMulti(Seq(source), column, target, coding, probes, candidates,
      idCol, k, metric, filter, select, tieBreak)

  /** Multi-source IVF+PQ search (reference ticket `"a:b:c"`,
    * `flight.py:47`): each source's PQ index is searched independently —
    * per-source codebooks make ADC scores incomparable across sources,
    * but each source's EXACT-reranked top-k is, so the global top-k of
    * the union equals top-k over the unioned corpus at full budgets.
    * That only holds when every source's final distances are under ONE
    * metric, so a union over indexes trained under different metrics is
    * refused up front (cosine ∈ [0,1] unioned with unbounded l2 would
    * silently return garbage ordering). */
  def searchPqMulti(
      sources: Seq[String],
      column: String,
      target: TargetVector,
      coding: String,
      probes: Int,
      candidates: Int,
      idCol: String,
      k: Int = 10,
      metric: Option[String] = None,
      filter: Option[Column] = None,
      select: Option[Seq[String]] = None,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val (Some(p), Some(cand)) = servedBudgets(sources, column, Some(coding),
      "pq", Some(probes), Some(candidates), k, metric)
    val m = if (sources.size == 1) metric else {
      val metrics = sources.map(s =>
        s -> Index.loadPqCodebooks(store, coding, s, column).canonicalMetric)
      require(metrics.map(_._2).distinct.size == 1,
        "multi-source PQ search needs every source's codebooks trained under " +
          s"ONE metric — distances are not comparable across metrics; got " +
          metrics.map { case (s, m) => s"$s:$m" }.mkString(", "))
      Some(metric.map(graft.core.Metrics.canonical).getOrElse(metrics.head._2))
    }
    unionTopK(sources, k, select, tieBreak)((s, sel) =>
      Index.searchIvfPq(store, coding, s, column, target, k, p, cand, idCol,
        m, filter, sel, tieBreak))
  }

  /** Two-stage retrieve-rerank under an IVF coding
    * ([[Index.searchRerank]]): id-only coarse pass ranked by cell score,
    * exact rerank of the `candidates` survivors; optional `probes`
    * partition pruning. The advice key includes the probe budget it was
    * measured at, so `candidates = Engine.Advised` needs explicit
    * `probes`. */
  def searchRerank(
      source: String,
      column: String,
      target: TargetVector,
      coding: String,
      candidates: Int,
      idCol: String,
      k: Int = 10,
      probes: Option[Int] = None,
      metric: Option[String] = None,
      filter: Option[Column] = None,
      select: Option[Seq[String]] = None,
      tieBreak: Seq[String] = Nil): DataFrame =
    searchRerankMulti(Seq(source), column, target, coding, candidates,
      idCol, k, probes, metric, filter, select, tieBreak)

  /** Multi-source retrieve-rerank: per-source exact-reranked top-k
    * merged by the shared global-top-k step (final distances are exact,
    * hence cross-source comparable — the same argument as
    * [[searchSqMulti]]). */
  def searchRerankMulti(
      sources: Seq[String],
      column: String,
      target: TargetVector,
      coding: String,
      candidates: Int,
      idCol: String,
      k: Int = 10,
      probes: Option[Int] = None,
      metric: Option[String] = None,
      filter: Option[Column] = None,
      select: Option[Seq[String]] = None,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val (p, Some(cand)) = servedBudgets(sources, column, Some(coding),
      "rerank", probes, Some(candidates), k, metric)
    unionTopK(sources, k, select, tieBreak)((s, sel) =>
      Index.searchRerank(store, coding, s, column, target, k, cand, idCol,
        p, metric, filter, sel, tieBreak))
  }

  // ——— search (V8/V9) ———
  /** Multi-source search (reference ticket `"a:b:c"`, `flight.py:47`):
    * [[search]] over the union of the per-source (indexed) tables —
    * probed, the per-source top-k unioned and re-topped; brute, one scan
    * of the unioned tables. */
  def searchMulti(
      sources: Seq[String],
      column: String,
      target: TargetVector,
      metric: Option[String] = None,
      coding: Option[String] = None,
      probes: Option[Int] = None,
      k: Int = 10,
      filter: Option[Column] = None,
      select: Option[Seq[String]] = None,
      tieBreak: Seq[String] = Nil): DataFrame =
    (coding, servedBudgets(sources, column, coding, "ivf", probes, None, k,
        metric)._1) match {
      case (Some(c), Some(p)) =>
        unionTopK(sources, k, select, tieBreak)((s, sel) =>
          Index.searchProbed(store, c, s, column, target, k, p, metric,
            filter, sel, tieBreak))
      case _ =>
        Search.knn(store.loadTable(sources: _*), column,
          spark.range(1).select(target.lit.as("__target__")),
          requireMetric(metric), k, filter, select, tieBreak)
    }

  /** Brute-force or probed top-k depending on `coding`/`probes`, mirroring
    * `Flight.search` (`flight.py:242-288`). A coding with NO probe count
    * is EXACT brute force — approximation is never a silent default.
    * `probes = Some(Engine.Advised)` explicitly opts into the persisted
    * advisor budget for this (coding, source, column)
    * ([[adviseProbes]] — the "advise once, serve many" loop), refused
    * loudly when the advice is absent, stale, or was measured under an
    * incompatible k/metric ([[resolveAdvisedProbes]]); the call site
    * always reads as advised, never as exact. */
  def search(
      source: String,
      column: String,
      target: TargetVector,
      metric: Option[String] = None,
      coding: Option[String] = None,
      probes: Option[Int] = None,
      k: Int = 10,
      filter: Option[Column] = None,
      select: Option[Seq[String]] = None,
      tieBreak: Seq[String] = Nil): DataFrame =
    searchMulti(Seq(source), column, target, metric, coding, probes, k,
      filter, select, tieBreak)

  /** The probe budget `probes = Some(Engine.Advised)` serves, or a LOUD
    * refusal ([[advised]]). */
  def resolveAdvisedProbes(coding: String, source: String, column: String,
      k: Int, metric: Option[String]): Int =
    probeAdvice(coding, Some((source, column, k, metric))).advice.probes

  /** The candidate budget `candidates = Engine.Advised` serves, or a
    * LOUD refusal ([[advised]]), keyed per (coding, tier, probes) — the
    * advice is only valid at the probe count it was measured with. */
  def resolveAdvisedCandidates(coding: String, tier: String, probes: Int,
      source: String, column: String, k: Int,
      metric: Option[String]): Int =
    candidateAdvice(coding, tier, probes,
      Some((source, column, k, metric))).advice.candidates

  /** What an advised search serves: (source, column, k, metric). */
  private type Serving = (String, String, Int, Option[String])

  private def probeAdvice(coding: String, serving: Option[Serving]) =
    advised(Engine.PersistedProbeAdvice, coding, Engine.ProbeKey,
      s"probe advice for coding '$coding'", serving)

  private def candidateAdvice(coding: String, tier: String, probes: Int,
      serving: Option[Serving]) =
    advised(Engine.PersistedCandidateAdvice, coding,
      Engine.candidateKey(tier, probes),
      s"candidate advice for (coding '$coding', tier '$tier', probes $probes)",
      serving)

  /** The one read of persisted advice — [[Store.loadAdvice]], so a write
    * or a drop by any engine over the root shows on the next call — or
    * a LOUD refusal. Refuses when: none was persisted under `key` (the
    * coding was never advised, or was retrained or dropped since; the
    * refusal names the advisor); when `serving`, the advice was measured
    * against another (source, column), at a smaller k (recall@k was
    * never measured past it), is candidate advice that never REACHED its
    * target (a ceiling budget measured to miss is a diagnosis, not a
    * budget to serve), or a `metric` override differs from the coding's
    * metric; and, on every call, when candidate advice's tier was
    * rebuilt since the measurement (its codec sidecar's stamp, also when
    * the advice recorded none: one file status) or the source changed
    * (its file-listing stamp: one listing). Compatibility is checked
    * before the stamps, so a mismatch never pays the listing. */
  private def advised[A <: Engine.PersistedAdvice](kind: Engine.AdviceKind[A],
      coding: String, key: String, name: String, serving: Option[Serving]): A = {
    val p = store.loadAdvice(coding, key)(kind.fromJson).getOrElse(
      throw new NoSuchElementException(s"no persisted $name — run ${kind.remedy} first"))
    for ((source, column, k, metric) <- serving) {
      require(p.source == source && p.column == column,
        s"$name was measured against (${p.source}, ${p.column}), not " +
          s"($source, $column) — advise this corpus before serving it with " +
          "Engine.Advised")
      require(k <= p.k,
        s"$name was measured at k = ${p.k}; serving k = $k with it would " +
          s"apply a recall curve nobody measured — re-run ${kind.advisor} " +
          s"with k >= $k")
      p match {
        case c: Engine.PersistedCandidateAdvice => require(c.advice.reachedTarget,
          s"$name never REACHED its ${c.targetRecall} target (recall " +
            s"${c.advice.recall} at the ${c.advice.candidates} ceiling) — " +
            "the budget is probe- or rate-bound; raise probes/maxCandidates " +
            "and re-advise, or pass an explicit candidate count deliberately")
        case _ => ()
      }
      for (m <- metric.map(graft.core.Metrics.canonical)) {
        val cm = graft.core.Metrics.canonical(store.loadCoding(coding).config.metric)
        require(m == cm,
          s"${kind.kind} advice for coding '$coding' was measured under the " +
            s"coding's metric '$cm', not '$m' — drop the metric override " +
            "or re-index/advise under it")
      }
    }
    p match {
      case c: Engine.PersistedCandidateAdvice =>
        val codec = Index.codecStamp(store, coding, c.source, c.column, c.advice.tier)
        if (codec != c.codecStamp) throw new IllegalStateException(
          s"$name is STALE: the ${c.advice.tier} index was rebuilt since the " +
            s"advice was measured (codec stamp ${c.codecStamp.getOrElse("unrecorded")} " +
            s"-> ${codec.getOrElse("none")}) — re-run ${kind.remedy} to re-measure")
      case _ => ()
    }
    val now = store.sourceStamp(p.source)
    if (now != p.sourceStamp) throw new IllegalStateException(
      s"$name is STALE: source '${p.source}' changed since the advice was " +
        s"measured (stamp ${p.sourceStamp} -> $now) — re-run ${kind.remedy} " +
        "to re-measure")
    p
  }

  /** Late-interaction (ColBERT MaxSim) retrieval over a table carrying a
    * multi-vector `tokensCol` — see [[Search.maxsimSearch]].
    *
    * Without `coding`/`probes`: brute (candidates = 0) or pooled-coarse
    * two-stage over the raw table (`poolCol` reused when given, else
    * pooled inline). With `coding` + `probes`: the INDEXED serving path —
    * the coarse stage is a probed IVF search over the precomputed pooled
    * column (partition-pruned scan, distributed top-candidates), the
    * survivors' ids broadcast back to fetch token matrices, exact MaxSim
    * rerank on `candidates` docs. The token matrices never leave their
    * partitions until the candidate join, so corpus scale is bounded by
    * the single-vector index tier, not the token payload. Exact when
    * probes cover all cells and `candidates` ≥ corpus size. */
  def maxsimSearch(
      source: String,
      tokensCol: String,
      query: Seq[Seq[Double]],
      metric: String,
      k: Int,
      candidates: Int = 0,
      poolCol: Option[String] = None,
      coding: Option[String] = None,
      probes: Option[Int] = None,
      idCol: Option[String] = None,
      tieBreak: Seq[String] = Nil): DataFrame =
    (coding, probes) match {
      case (Some(c), Some(p)) =>
        val pc = poolCol.getOrElse(throw new IllegalArgumentException(
          "indexed maxsimSearch needs poolCol (the indexed pooled-vector column)"))
        val id = idCol.getOrElse(throw new IllegalArgumentException(
          "indexed maxsimSearch needs idCol to join candidates back to tokens"))
        require(candidates > 0, "indexed maxsimSearch needs candidates > 0")
        val dim = query.head.length
        val pooledQuery =
          (0 until dim).map(i => query.map(_(i)).sum / query.length).toArray
        val cands = Index.searchProbed(store, c, source, pc, pooledQuery,
          candidates, p, Some(metric), select = Some(Seq(id)),
          tieBreak = tieBreak)
        val docs = store.loadTable(source)
          .join(broadcast(cands.select(id)), Seq(id))
        import graft.functions.functions.{maxsim, tokens_lit}
        docs.withColumn(Search.DistCol,
            maxsim(col(tokensCol), tokens_lit(query), metric))
          .orderBy(col(Search.DistCol).asc_nulls_last +: tieBreak.map(col(_).asc): _*)
          .limit(k)
      case _ =>
        Search.maxsimSearch(store.loadTable(source), tokensCol, query,
          metric, k, candidates, tieBreak, poolCol)
    }

  /** Brute-force search has no coding to default from, so the metric must
    * be explicit — matching the reference's validated-metric contract
    * (`flight.py:254-256`); a silent l2 default would hand cosine
    * workloads wrong answers. */
  private def requireMetric(metric: Option[String]): String =
    metric.getOrElse(throw new IllegalArgumentException(
      "metric is required for search without a coding; expected one of " +
        graft.core.Metrics.All.mkString(", ")))

  /** IVF probe advisor: the "how many probes do I need for recall r?"
    * calibration every probed deployment runs once before serving.
    * Measures mean recall@k of [[knnJoinIvf]] against the exact
    * brute-force top-k ([[Search.knnJoin]]) on a DETERMINISTIC sample of
    * the table's own vectors (the `sampleQueries` smallest
    * `xxhash64(id)` rows — re-runs advise identically), doubling probes
    * 1, 2, 4, … until `targetRecall` is met; the final ladder step is
    * always the coding's full cell count, where probed == exact and
    * recall is 1.0 by construction, so the advisor always terminates
    * with a valid answer.
    *
    * Cost shape: ONE brute batch-join pass over the corpus for ground
    * truth plus one PRUNED pass per ladder step (≤ log₂(cells) + 1
    * steps), each amortizing all sample queries — never a per-query
    * loop. Driver state is `sampleQueries × k` id pairs per step
    * (bounded by the 256-query cap). Ties at the k-th distance are
    * broken on `idCol` on BOTH sides, so the recall is well-defined.
    * At 100 TB the brute pass is the honest price of ground truth —
    * run the advisor once per (coding, corpus) and persist the answer,
    * not per query. */
  def recommendProbes(coding: String, source: String, column: String,
      idCol: String, k: Int = 10, targetRecall: Double = 0.95,
      sampleQueries: Int = 32): Engine.ProbeAdvice = {
    requireAdvisorParams(k, targetRecall, sampleQueries)
    val ctx = adviceContext(coding, source, column, idCol, k, sampleQueries)
    // try/finally: a ladder-step join that throws must still release
    // the checkpointed query RDD (it would otherwise pin executor
    // blocks for the session lifetime)
    try {
      def recallAt(probes: Int): Double =
        ctx.meanRecall(collectTopK(idCol,
          knnJoinIvf(coding, source, column, ctx.queries,
            "__q_id__", "__q_vec__", k, probes, idCol, Some(ctx.metric),
            tieBreak = Seq(idCol))))
      val ladder = (Iterator.iterate(1)(_ * 2).takeWhile(_ < ctx.cells) ++
        Iterator.single(ctx.cells)).toSeq
      val (curve, advice) = climbLadder(ladder, recallAt, targetRecall)
      val (probes, recall) = advice.getOrElse(curve.last)
      Engine.ProbeAdvice(probes, recall, curve, ctx.cells)
    } finally graft.ext.Graph.release(ctx.queries)
  }

  /** Rerank-tier candidate-budget advisor — the same ladder discipline
    * as [[recommendProbes]] for the OTHER serving knob: how many
    * coarse-stage candidates do the SQ8/BQ rerank tiers need (at a
    * GIVEN probe budget) before the exact rerank of the survivors
    * recovers recall r? Ground truth is the same brute batch-join
    * pass; the ladder doubles candidates k, 2k, 4k, … up to
    * `maxCandidates`.
    *
    * Unlike the probe ladder (whose final step — all cells — is exact
    * by construction), the candidate ladder PLATEAUS at the recall
    * ceiling of the probe budget it was given: candidates only decide
    * which coarse survivors reach the exact rerank, they cannot
    * recover a neighbor whose cell was never probed. An unreachable
    * target therefore terminates at `maxCandidates` with the measured
    * ceiling — the caller learns the budget is probe-bound, which is
    * exactly the diagnosis the curve is for (the 250k bench curves
    * show the sq tier hitting 1.0 at small budgets while bq needs
    * thousands — this varies by tier and regime, so it is measured,
    * not guessed). */
  def recommendCandidates(coding: String, source: String, column: String,
      idCol: String, tier: String, probes: Int, k: Int = 10,
      targetRecall: Double = 0.95, sampleQueries: Int = 32,
      maxCandidates: Int = 4096): Engine.CandidateAdvice = {
    requireAdvisorParams(k, targetRecall, sampleQueries)
    require(probes >= 1, s"probes must be >= 1, got $probes")
    require(maxCandidates >= k,
      s"maxCandidates ($maxCandidates) must be >= k ($k)")
    val joinFn: (DataFrame, Int) => DataFrame = tier match {
      case "sq" => (q, cand) => knnJoinSq(coding, source, column, q,
        "__q_id__", "__q_vec__", k, probes, cand, idCol,
        tieBreak = Seq(idCol))
      case "bq" => (q, cand) => knnJoinBq(coding, source, column, q,
        "__q_id__", "__q_vec__", k, probes, cand, idCol,
        tieBreak = Seq(idCol))
      case "pq" => (q, cand) => knnJoinPq(coding, source, column, q,
        "__q_id__", "__q_vec__", k, probes, cand, idCol,
        tieBreak = Seq(idCol))
      case "rerank" => (q, cand) => knnJoinRerank(coding, source, column,
        q, "__q_id__", "__q_vec__", k, probes, cand, idCol,
        tieBreak = Seq(idCol))
      case other => throw new IllegalArgumentException(
        s"tier must be one of 'sq', 'bq', 'pq', 'rerank' (the reranked " +
          s"batch-join tiers), got '$other'")
    }
    val ctx = adviceContext(coding, source, column, idCol, k, sampleQueries)
    try {
      def recallAt(cand: Int): Double =
        ctx.meanRecall(collectTopK(idCol, joinFn(ctx.queries, cand)))
      val ladder = (Iterator.iterate(k)(_ * 2)
        .takeWhile(_ < maxCandidates) ++ Iterator.single(maxCandidates))
        .toSeq
      val (curve, advice) = climbLadder(ladder, recallAt, targetRecall)
      val (cand, recall) = advice.getOrElse(curve.last)
      Engine.CandidateAdvice(tier, probes, cand, recall, curve,
        reachedTarget = advice.isDefined)
    } finally graft.ext.Graph.release(ctx.queries)
  }

  /** [[recommendProbes]] + PERSIST: the advisor's scaladoc says "run
    * once per (coding, corpus) and persist the answer" — this is the
    * method that actually does ([[persisted]]). */
  def adviseProbes(coding: String, source: String, column: String,
      idCol: String, k: Int = 10, targetRecall: Double = 0.95,
      sampleQueries: Int = 32): Engine.PersistedProbeAdvice =
    persisted(coding, source) { stamp =>
      val p = Engine.PersistedProbeAdvice(recommendProbes(coding, source,
        column, idCol, k, targetRecall, sampleQueries), source, column,
        idCol, k, targetRecall, sampleQueries, stamp)
      (p, Some(p))
    }

  /** Joint (probes, candidates) frontier advisor for the RERANK tier,
    * persisted.
    *
    * [[recommendCandidates]] answers "how many candidates at a GIVEN
    * probe budget" — the right question for the sq/bq/pq tiers, whose
    * coarse scores discriminate between rows inside one cell. The
    * rerank tier's coarse score is the CELL RANK itself: every row of
    * a probed cell ties (broken only by id), so at small probe budgets
    * no candidate budget can separate true neighbors from their
    * cell-mates and the candidate ladder plateaus below target — the
    * measured `reached = 0 at probes = 1` on the 1M curve is a
    * diagnosis of the tier, not of the budget. The advice a rerank
    * deployment needs is therefore the FRONTIER: the smallest
    * (probes, candidates) pair that reaches `targetRecall`, probes
    * doubling from `startProbes` up to the coding's cell count.
    *
    * Cost shape: ground truth is the ONE shared brute pass; each
    * failing probe budget costs a single pruned pass (its recall
    * CEILING at `maxCandidates` — if the ceiling misses, no ladder
    * point can pass, so none is run), and only the first reachable
    * budget pays the candidate ladder (≤ log₂(maxCandidates/k)
    * passes). The winning pair is persisted under its measured
    * (coding, "rerank", probes) key, so
    * `searchRerank(probes = Some(frontier.probes),
    * candidates = Engine.Advised)` serves it; an unreachable frontier
    * persists nothing (there is no budget anyone should serve) and
    * returns `reachedTarget = false` with the measured ceilings. */
  def adviseRerankFrontier(coding: String, source: String, column: String,
      idCol: String, k: Int = 10, targetRecall: Double = 0.95,
      sampleQueries: Int = 32, maxCandidates: Int = 4096,
      startProbes: Int = 1): Engine.RerankFrontier = {
    requireAdvisorParams(k, targetRecall, sampleQueries)
    require(maxCandidates >= k,
      s"maxCandidates ($maxCandidates) must be >= k ($k)")
    require(startProbes >= 1, s"startProbes must be >= 1, got $startProbes")
    persisted(coding, source) { stamp =>
      val ctx = adviceContext(coding, source, column, idCol, k, sampleQueries)
      try {
        val start = math.min(startProbes, ctx.cells)
        val probeLadder = (Iterator.iterate(start)(_ * 2)
          .takeWhile(_ < ctx.cells) ++ Iterator.single(ctx.cells)).toSeq
        val candLadder = (Iterator.iterate(k)(_ * 2)
          .takeWhile(_ < maxCandidates) ++ Iterator.single(maxCandidates))
          .toSeq
        val frontier = scala.collection.mutable.ListBuffer.empty[(Int, Int, Double)]
        var winner: Option[(Int, Int, Double)] = None
        var winnerCurve: List[(Int, Double)] = Nil
        val pit = probeLadder.iterator
        while (winner.isEmpty && pit.hasNext) {
          val p = pit.next()
          def recallAt(cand: Int): Double =
            ctx.meanRecall(collectTopK(idCol, knnJoinRerank(coding, source,
              column, ctx.queries, "__q_id__", "__q_vec__", k, p, cand,
              idCol, tieBreak = Seq(idCol))))
          val ceiling = recallAt(maxCandidates)
          if (ceiling >= targetRecall) {
            val (curve, advice) =
              climbLadder(candLadder.init, recallAt, targetRecall)
            val fullCurve = curve :+ ((maxCandidates, ceiling))
            frontier ++= fullCurve.map { case (c, r) => (p, c, r) }
            winner = Some(advice.getOrElse((maxCandidates, ceiling)))
              .map { case (c, r) => (p, c, r) }
            winnerCurve = fullCurve
          } else frontier += ((p, maxCandidates, ceiling))
        }
        val (p, c, r) = winner.getOrElse(frontier.last)
        (Engine.RerankFrontier(p, c, r, frontier.toList, winner.isDefined),
          winner.map(_ => Engine.PersistedCandidateAdvice(
            Engine.CandidateAdvice("rerank", p, c, r, winnerCurve,
              reachedTarget = true),
            source, column, idCol, k, targetRecall, sampleQueries,
            maxCandidates, stamp)))
      } finally graft.ext.Graph.release(ctx.queries)
    }
  }

  /** [[recommendCandidates]] + PERSIST, keyed per (coding, tier,
    * probes) ([[persisted]]): the candidate advisor shares the probe
    * advisor's expensive brute ground-truth pass, so it is run once and
    * served many times too. */
  def adviseCandidates(coding: String, source: String, column: String,
      idCol: String, tier: String, probes: Int, k: Int = 10,
      targetRecall: Double = 0.95, sampleQueries: Int = 32,
      maxCandidates: Int = 4096): Engine.PersistedCandidateAdvice =
    persisted(coding, source) { stamp =>
      // the tier's codec as the measurement starts: a rebuild of the
      // tier (other params, other codes) moves it
      val codec = Index.codecStamp(store, coding, source, column, tier)
      val p = Engine.PersistedCandidateAdvice(recommendCandidates(coding,
        source, column, idCol, tier, probes, k, targetRecall, sampleQueries,
        maxCandidates), source, column, idCol, k, targetRecall,
        sampleQueries, maxCandidates, stamp, codec)
      (p, Some(p))
    }

  /** The one persist step of every advisor: the source's file-listing
    * stamp and the coding's [[Store.codingStamp]] are taken BEFORE
    * `measure` runs (given the source stamp, it returns its result and
    * the advice to persist, if any), then the advice is installed under
    * its coding ([[Store.saveAdvice]]). A source changed mid-run leaves
    * a stale stamp, which refuses at serve time — conservative; a coding
    * retrained or dropped mid-run refuses the install. */
  private def persisted[R](coding: String, source: String)(
      measure: String => (R, Option[Engine.PersistedAdvice])): R = {
    val measuredOn = store.codingStamp(coding)
    val (result, advice) = measure(store.sourceStamp(source))
    advice.foreach(p =>
      store.saveAdvice(coding, p.key, p.toJson.getBytes("UTF-8"), measuredOn))
    result
  }

  /** Persisted candidate advice for (coding, tier, probes), or None when
    * never advised. No freshness check — see [[freshCandidateAdvice]]. */
  def loadCandidateAdvice(coding: String, tier: String,
      probes: Int): Option[Engine.PersistedCandidateAdvice] =
    store.loadAdvice(coding, Engine.candidateKey(tier, probes))(
      Engine.PersistedCandidateAdvice.fromJson)

  /** Persisted candidate advice, REFUSED loudly when never advised for
    * this (coding, tier, probes) or when the source corpus changed since
    * the measurement ([[advised]]). */
  def freshCandidateAdvice(coding: String, tier: String,
      probes: Int): Engine.PersistedCandidateAdvice =
    candidateAdvice(coding, tier, probes, None)

  /** Persisted advice for `coding`, or None when never advised. No
    * freshness check — see [[freshProbeAdvice]]. */
  def loadProbeAdvice(coding: String): Option[Engine.PersistedProbeAdvice] =
    store.loadAdvice(coding, Engine.ProbeKey)(Engine.PersistedProbeAdvice.fromJson)

  /** Persisted advice, REFUSED loudly when never advised or when the
    * source corpus changed since it was measured ([[advised]]). Callers
    * that can re-measure should catch and call [[adviseProbes]]. */
  def freshProbeAdvice(coding: String): Engine.PersistedProbeAdvice =
    probeAdvice(coding, None)

  /** Shared advisor scaffolding: deterministic bounded query sample
    * (checkpointed — the orderBy scan runs once, not once per ladder
    * step), exact brute-force ground truth, mean recall@k. ONE truth
    * pass serves whichever ladder the caller climbs. */
  private case class AdviceContext(queries: DataFrame,
      truth: Map[String, Set[String]], metric: String, cells: Int) {
    def meanRecall(got: Map[String, Set[String]]): Double = {
      val rs = truth.map { case (q, ids) =>
        if (ids.isEmpty) 1.0
        else ids.count(got.getOrElse(q, Set.empty[String]).contains)
          .toDouble / ids.size
      }
      if (rs.isEmpty) 1.0 else rs.sum / rs.size
    }
  }

  // string keys so non-numeric id columns advise too
  private def collectTopK(idCol: String,
      df: DataFrame): Map[String, Set[String]] =
    df.select(col("__q_id__").cast("string"), col(idCol).cast("string"))
      .collect().groupBy(_.getString(0))
      .map { case (q, rs) => q -> rs.map(_.getString(1)).toSet }

  private def adviceContext(coding: String, source: String, column: String,
      idCol: String, k: Int, sampleQueries: Int): AdviceContext = {
    val codingObj = store.loadCoding(coding)
    val metric = codingObj.config.metric
    val corpus = store.loadTable(source)
    val queries = corpus
      .select(col(idCol).as("__q_id__"), col(column).as("__q_vec__"))
      .orderBy(xxhash64(col("__q_id__")), col("__q_id__"))
      .limit(sampleQueries).localCheckpoint()
    try {
      val truth = collectTopK(idCol, graft.api.Search.knnJoin(corpus,
        column, queries, "__q_id__", "__q_vec__", metric, k,
        tieBreak = Seq(idCol), idCol = Some(idCol)))
      AdviceContext(queries, truth, metric, codingObj.numCells.toInt)
    } catch {
      case t: Throwable =>
        graft.ext.Graph.release(queries); throw t
    }
  }

  /** Climb `ladder` until `recallAt` meets `target`; returns every
    * measured point and the first passing one. */
  private def climbLadder(ladder: Seq[Int], recallAt: Int => Double,
      target: Double): (List[(Int, Double)], Option[(Int, Double)]) = {
    val curve = scala.collection.mutable.ListBuffer.empty[(Int, Double)]
    var advice: Option[(Int, Double)] = None
    val it = ladder.iterator
    while (advice.isEmpty && it.hasNext) {
      val p = it.next()
      val r = recallAt(p)
      curve += ((p, r))
      if (r >= target) advice = Some((p, r))
    }
    (curve.toList, advice)
  }

  private def requireAdvisorParams(k: Int, targetRecall: Double,
      sampleQueries: Int): Unit = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0, 1], got $targetRecall")
    require(k >= 1, s"k must be >= 1, got $k")
    require(sampleQueries >= 1 && sampleQueries <= 256,
      s"sampleQueries must be in [1, 256] (bounded driver state), " +
        s"got $sampleQueries")
  }

  def remove(): Unit = store.remove()
}

object Engine {
  /** A text tier's `meta.json`: the build parameters every later step
    * must reuse — a query pruning with another bucket modulus or edit
    * distance than the build's would silently miss matches. Lexical
    * artifacts carry `buckets` and `positional` (sync keeps appending the
    * same posting shape). Fuzzy ones carry `maxDist`, `buckets`, `idCol`
    * (sync anti-joins the source on it), `layout` and `bounds`, the
    * per-key frequency UPPER bounds `maxNsBound`/`maxNpBound` that let the
    * serving join's volume guard run driver-side (None on an artifact
    * predating them: the guard then keeps its exact counting pass). A
    * field a tier does not use stays None and is not written. */
  private[api] final case class TextMeta(buckets: Int,
      positional: Option[Boolean] = None, maxDist: Option[Int] = None,
      idCol: Option[String] = None, layout: Option[Int] = None,
      bounds: Option[(Long, Long)] = None)

  /** One text index tier — all the shared lifecycle needs to know of it:
    *   - `kind` ("lexical" | "fuzzy") and `base`, its artifact root;
    *   - `bucketed`, its bucket-partitioned dirs with their partition
    *     column, and `flats`, its flat tables — what compaction
    *     coalesces; the recovery sweep looks for bucket asides in the
    *     bucketed dirs;
    *   - `known`, the dir whose `id` column lists the indexed documents
    *     (sync anti-joins the source against it);
    *   - `check`, what a stored meta must hold before it is served;
    *   - `write(meta, delta, dir)`, which writes the tier's frames of
    *     `delta` — (id, t) rows of non-null text — under `dir` and
    *     returns the meta a build records for them;
    *   - `beforeAppend` and `afterCompact`, the meta a sync records with
    *     a delta and the meta a compaction records after it coalesces
    *     (unchanged for the lexical tier). */
  private[api] final case class TextTier(kind: String, base: String,
      bucketed: Seq[(String, String)], flats: Seq[String], known: String,
      write: (TextMeta, DataFrame, String) => TextMeta,
      check: TextMeta => Unit = _ => (),
      beforeAppend: (TextMeta, DataFrame) => TextMeta = (m, _) => m,
      afterCompact: TextMeta => TextMeta = m => m) {
    def dirs: Seq[String] = bucketed.map(_._1)
  }

  /** Sentinel probe count: `probes = Some(Engine.Advised)` opts a
    * [[Engine.search]]/[[Engine.searchMulti]] call into the PERSISTED
    * advisor budget ([[Engine.adviseProbes]]) — explicit at the call
    * site, so exact and advised serving are never confusable. Resolved
    * (and loudly refused on absent/stale/incompatible advice) by
    * [[Engine.resolveAdvisedProbes]]. Deliberately NOT -1: -1 means
    * "disabled/unbounded" in enough other libraries that a caller
    * passing it out of habit must get an invalid-count refusal
    * ([[Engine.validCount]]), never a silent opt-in to advised
    * serving. */
  val Advised: Int = Int.MinValue

  /** Every serving knob that accepts the [[Advised]] sentinel validates
    * through here: a real budget is >= 1, the sentinel is the single
    * documented negative, and everything else — 0, -1, any stray
    * negative — refuses loudly instead of acquiring a meaning by
    * accident. */
  private[graft] def validCount(name: String, v: Int): Unit =
    require(v >= 1 || v == Advised,
      s"invalid $name $v: pass a count >= 1, or Engine.Advised " +
        "(\"advised\" on the wire) to opt into the persisted advisor " +
        "budget")

  /** [[Engine.recommendProbes]] result: the smallest measured probe
    * count meeting the target, its recall, the (probes, recall) points
    * actually measured, and the coding's cell count for context. */
  case class ProbeAdvice(probes: Int, recall: Double,
      curve: Seq[(Int, Double)], numCells: Int)

  /** [[Engine.recommendCandidates]] result: the smallest measured
    * candidate budget meeting the target at the given (tier, probes) —
    * or the `maxCandidates` ceiling with `reachedTarget = false` when
    * the probe budget's recall ceiling sits below the target. */
  case class CandidateAdvice(tier: String, probes: Int, candidates: Int,
      recall: Double, curve: Seq[(Int, Double)], reachedTarget: Boolean)

  /** [[Engine.adviseRerankFrontier]] result: the smallest measured
    * (probes, candidates) pair meeting the target on the rerank tier,
    * every (probes, candidates, recall) point measured on the way, and
    * whether any pair reached the target at all. */
  case class RerankFrontier(probes: Int, candidates: Int, recall: Double,
      frontier: Seq[(Int, Int, Double)], reachedTarget: Boolean)

  /** Persisted advice of either kind, as [[Engine.adviseProbes]] and
    * [[Engine.adviseCandidates]] install it under its coding: the
    * measured advice plus everything needed to (a) reproduce the
    * measurement and (b) detect staleness (the source's file-listing
    * stamp at measure time). `key` names it among its coding's advice. */
  sealed trait PersistedAdvice {
    def source: String; def column: String; def idCol: String; def k: Int
    def targetRecall: Double; def sampleQueries: Int; def sourceStamp: String
    def key: String
    /** The kind's own fields. */
    protected def own(o: ObjectNode): Unit

    /** The one advice codec: the shared fields are written here, the
      * kind's in [[own]]; [[AdviceKind.fromJson]] reads them back. */
    def toJson: String = {
      val m = new ObjectMapper()
      val o = m.createObjectNode()
      o.put("source", source); o.put("column", column)
      o.put("idCol", idCol); o.put("k", k)
      o.put("targetRecall", targetRecall)
      o.put("sampleQueries", sampleQueries)
      o.put("sourceStamp", sourceStamp)
      own(o)
      m.writeValueAsString(o)
    }

    protected def putCurve(o: ObjectNode, knob: String,
        curve: Seq[(Int, Double)]): Unit = {
      val arr = o.putArray("curve")
      curve.foreach { case (x, r) =>
        val e = arr.addObject(); e.put(knob, x); e.put("recall", r)
      }
    }
  }

  /** One advice kind, as the shared read and its refusals name it:
    * `kind` ("probe" | "candidate") and the advisor that measures it. */
  sealed abstract class AdviceKind[A <: PersistedAdvice](val kind: String,
      val advisor: String, route: String) {
    def remedy: String = s"$advisor (or POST /api/advise/$route)"

    /** The fields of one advice file: `apply` refuses a missing one
      * loudly, `opt` reads one that older advice lacks. */
    protected final class Fields(n: JsonNode, s: String) extends (String => JsonNode) {
      def apply(k: String): JsonNode = opt(k).getOrElse(
        throw new IllegalStateException(s"$kind advice has no '$k': $s"))
      def opt(k: String): Option[JsonNode] = Option(n.get(k))
    }

    /** Reads the shared fields of `s`, and `make` the kind's own from
      * its [[Fields]]. */
    protected def read(s: String)(make: Fields => (String,
        String, String, Int, Double, Int, String) => A): A = {
      val field = new Fields(new ObjectMapper().readTree(s), s)
      make(field)(field("source").asText(), field("column").asText(),
        field("idCol").asText(), field("k").asInt(),
        field("targetRecall").asDouble(), field("sampleQueries").asInt(),
        field("sourceStamp").asText())
    }

    protected def curve(field: String => JsonNode, knob: String): List[(Int, Double)] =
      field("curve").elements().asScala
        .map(e => (e.get(knob).asInt(), e.get("recall").asDouble())).toList

    def fromJson(s: String): A
  }

  /** The advice key of probe advice, and of candidate advice per (tier,
    * probes): `<coding>/advice/<key>.json`. */
  private[graft] val ProbeKey = "probes"
  private[graft] def candidateKey(tier: String, probes: Int): String = s"${tier}_p$probes"

  /** [[Engine.adviseProbes]]' advice. */
  case class PersistedProbeAdvice(advice: ProbeAdvice, source: String,
      column: String, idCol: String, k: Int, targetRecall: Double,
      sampleQueries: Int, sourceStamp: String) extends PersistedAdvice {
    def key: String = ProbeKey
    protected def own(o: ObjectNode): Unit = {
      o.put("probes", advice.probes); o.put("recall", advice.recall)
      o.put("numCells", advice.numCells)
      putCurve(o, "probes", advice.curve)
    }
  }

  object PersistedProbeAdvice
      extends AdviceKind[PersistedProbeAdvice]("probe", "adviseProbes", "probes") {
    def fromJson(s: String): PersistedProbeAdvice = read(s) { f =>
      PersistedProbeAdvice(ProbeAdvice(f("probes").asInt(),
        f("recall").asDouble(), curve(f, "probes"), f("numCells").asInt()),
        _, _, _, _, _, _, _)
    }
  }

  /** [[Engine.adviseCandidates]]' advice, keyed by its (tier, probes).
    * `codecStamp` is the stamp of the tier's codec sidecar when the
    * measurement began ([[Index.codecStamp]]; None for the rerank tier,
    * which has no codec). */
  case class PersistedCandidateAdvice(advice: CandidateAdvice,
      source: String, column: String, idCol: String, k: Int,
      targetRecall: Double, sampleQueries: Int, maxCandidates: Int,
      sourceStamp: String, codecStamp: Option[String] = None)
      extends PersistedAdvice {
    def key: String = candidateKey(advice.tier, advice.probes)
    protected def own(o: ObjectNode): Unit = {
      o.put("tier", advice.tier); o.put("probes", advice.probes)
      o.put("candidates", advice.candidates)
      o.put("recall", advice.recall)
      o.put("reachedTarget", advice.reachedTarget)
      o.put("maxCandidates", maxCandidates)
      codecStamp.foreach(o.put("codecStamp", _))
      putCurve(o, "candidates", advice.curve)
    }
  }

  object PersistedCandidateAdvice extends AdviceKind[PersistedCandidateAdvice](
      "candidate", "adviseCandidates", "candidates") {
    def fromJson(s: String): PersistedCandidateAdvice = read(s) { f =>
      PersistedCandidateAdvice(CandidateAdvice(f("tier").asText(),
        f("probes").asInt(), f("candidates").asInt(), f("recall").asDouble(),
        curve(f, "candidates"), f("reachedTarget").asBoolean()),
        _, _, _, _, _, _, f("maxCandidates").asInt(), _,
        f.opt("codecStamp").map(_.asText()))
    }
  }
}
