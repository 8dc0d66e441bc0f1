package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.functions.vector_distance

/** One Jaro-Winkler blocking element: frequency rank, the character, and
  * its occurrence index within the record — (c, occ) turns set
  * intersection into MULTISET overlap. Field ORDER is load-bearing
  * (`jwFamily`'s worst-key renderer reads positions 1 and 2).
  *
  * TOP-LEVEL (not nested in [[Dedup]]) on purpose: as an object-private
  * nested class, Janino could not compile the generated serializer for
  * the `Seq[JwElem]`-returning blocking UDF ("No applicable
  * constructor/method found … JwElem.r()") and Spark silently fell back
  * to INTERPRETED expression evaluation on every executor for the whole
  * JW blocking family — the r20 Verify log wart. A top-level case class
  * codegen-compiles; `private[ext]` keeps it out of the library API while
  * staying Janino-safe (package-private compiles to a public class). */
private[ext] case class JwElem(r: Int, c: String, occ: Int)

/** Deduplication operators for training-data pipelines (driver mandate).
  *
  * Scale design: every near-dup variant is
  * signature → band explode → bucket groupBy/join → verify-within-bucket,
  * so candidate generation is a hash-partitioned shuffle of *signatures*
  * (bytes per doc, not the documents), and the quadratic verify step only
  * runs inside tiny buckets. Exact dedup is a plain hash groupBy.
  */
object Dedup {

  // ——— exact (hash groupBy) ———

  /** Keep the min-id row per exact key — deterministic survivor choice.
    *
    * Shape: min-id aggregation + id-only join, NOT a row_number window.
    * The window would shuffle EVERY row (with its full key — the text
    * itself when deduping on content) and sort each key's rows in one
    * task, so a key duplicated 10⁷ times is a single-task hot sort of
    * 10⁷ full-text rows. The aggregation partial-combines map-side
    * (only distinct keys cross the wire, one min per key), and the
    * survivors come back via a join on the 8-byte id alone — ids are
    * unique, so the min id IDENTIFIES the surviving row without
    * re-shuffling the key columns. */
  def exactDedup(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val keepIds = df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("__keep__")).select("__keep__")
    df.join(keepIds, col(idCol) === col("__keep__"), "left_semi")
  }

  /** Groups with more than one member (duplicate report). */
  def exactDupGroups(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"), min(col(idCol)).as("keep_id"))
      .filter(col("cnt") > 1)

  /** Latest-wins version dedup: keep, per key, the row with the greatest
    * (`versionCol`, `tieBreakCol`) — the merge step of an upsert, and the
    * re-crawl policy "newest snapshot of each URL wins".
    *
    * Shape: one `max_by(struct(payload), struct(version, tie))`
    * aggregation — map-side combined, one surviving row per key crosses
    * the shuffle. NOT a `row_number` window, which would sort every
    * occurrence of a key inside one task (the exactDedup argument: a key
    * re-crawled 10⁷ times is a single-task hot sort). `tieBreakCol`
    * must make (version, tie) unique per key for a deterministic pick —
    * ids are unique in every store table, so the natural id column is
    * the right tie-break. */
  def latestByKey(df: DataFrame, keyCols: Seq[String], versionCol: String,
      tieBreakCol: String): DataFrame = {
    require(keyCols.nonEmpty, "latestByKey needs at least one key column")
    val payload = df.columns.filterNot(keyCols.contains)
    require(payload.contains(versionCol) && payload.contains(tieBreakCol),
      s"versionCol/tieBreakCol must be non-key columns of the frame " +
        s"(keys=$keyCols, cols=${df.columns.mkString(",")})")
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(payload.map(col).toIndexedSeq: _*),
        struct(col(versionCol), col(tieBreakCol))).as("__row__"))
      // getField, not a "__row__.name" path string — payload columns may
      // legally contain dots
      .select((keyCols.map(col) ++
        payload.map(c => col("__row__").getField(c).as(c))).toIndexedSeq: _*)
  }

  // ——— cross-document duplicated token spans (exact substring dedup) ———

  /** Whitespace tokens of raw text (case-sensitive — substring dedup must
    * not conflate "The" with "the"); empties from leading whitespace
    * dropped. */
  private def spanTokens(textCol: String): Column =
    filter(split(col(textCol), "\\s+"), t => t =!= lit(""))

  /** Seed of the second, independent span hash. Two FNV-1a streams under
    * different seeds give an effective 128-bit gram key: at the 100 TB
    * design scale (~10^13 spans) a 64-bit key expects millions of
    * birthday collisions — i.e. unrelated text silently conflated — while
    * 2^128 pushes the expected collision count below 10^-12. Grouping on
    * BOTH hashes replaces re-comparing gram strings (which would drag the
    * text through the shuffle that the (id, start, hash) design exists to
    * avoid). */
  private[graft] val SpanSeed2 = 0x9E3779B97F4A7C15L

  /** FNV-1a (seeds 0 and [[SpanSeed2]]) of the space-joined k-token gram —
    * BOTH hashes from one UDF call (one UTF8String→String conversion per
    * token position), computed in the same narrow map that forms the gram,
    * so gram STRINGS never reach a shuffle; only (id, start, hash, hash2)
    * longs do. */
  private val spanHashPairUdf = udf { (gram: String) =>
    Array(hash64(gram, 0L), hash64(gram, SpanSeed2))
  }

  /** All (id, start, hash, hash2) k-token spans of every non-null
    * document. `start` is the 0-based token offset. */
  private def tokenSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    // spread before the window-hash kernel (split + k-slice + hash UDF
    // per token position — hundreds of windows per doc): a single-row-
    // group scan otherwise runs it all in one task (guide §2.5); no-op
    // on already-parallel inputs
    graft.core.Par.spread(df.filter(col(textCol).isNotNull)
        .select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"), spanTokens(textCol).as("__t__"))
      .filter(size(col("__t__")) >= k)
      .select(col("id"), posexplode(transform(
        sequence(lit(0), size(col("__t__")) - k),
        i => array_join(slice(col("__t__"), i + 1, lit(k)), " "))))
      // materialize the pair FIRST: referencing __hp__ twice in the next
      // projection is safe (CollapseProject never duplicates a non-cheap
      // UDF), so the gram string is converted and hashed exactly once
      .select(col("id"), col("pos").cast("long").as("start"),
        spanHashPairUdf(col("col")).as("__hp__"))
      .select(col("id"), col("start"),
        col("__hp__")(0).as("h"), col("__hp__")(1).as("h2"))

  /** Every occurrence of a k-token span that appears at least
    * `minOccurrences` times anywhere in the corpus (across documents or
    * repeated within one) — the detection half of exact substring
    * deduplication (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL 2022). A duplicated run of L ≥ k tokens
    * shows up as its L − k + 1 overlapping duplicated windows, so the
    * union of reported windows covers the full maximal run — window
    * granularity IS the paper's minimum-match-length threshold.
    *
    * Scale shape: this is the distributed alternative to the paper's
    * corpus-wide suffix array — one narrow map emits (id, start, hash128)
    * per token position (32 bytes/token; hashes are formed before any
    * shuffle so gram strings never leave the scan stage), one hash
    * groupBy finds repeated hashes, and one long-keyed join annotates the
    * occurrences. No all-pairs step anywhere. Gram identity is the PAIR
    * of independent 64-bit hashes (see [[SpanSeed2]]) — a 64-bit key
    * alone expects birthday collisions at ~10^13 spans.
    *
    * Output: (idCol, start, gram_hash, gram_hash2, n_occ) — the
    * collision-safe gram identifier is the (gram_hash, gram_hash2) PAIR;
    * consumers grouping on gram_hash alone reintroduce 64-bit
    * conflation. */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, minOccurrences: Int = 2): DataFrame = {
    require(k >= 1, s"duplicatedSpans: k must be >= 1, got $k")
    require(minOccurrences >= 2,
      s"duplicatedSpans: minOccurrences must be >= 2, got $minOccurrences")
    // the span-hash pass is read twice (occurrence agg + annotate join);
    // NOT checkpointed — the result is occurrence-sized (unbounded at
    // corpus scale, so pinning it in executor storage is a hazard), and
    // with the kernel spread the recompute is cheap parallel work
    duplicatedSpansFrom(tokenSpans(df, idCol, textCol, k), idCol,
      minOccurrences, corpus = Some(df))
  }

  /** Size-aware join hint for a duplicated-span hash set (r21, VERDICT
    * #4): the dup set's post-agg estimate defeats auto-broadcast, so
    * the r20 fix forced `shuffle_hash` unconditionally — but at any
    * scale where the dup set DOES fit, a broadcast wins (the span
    * occurrences are never shuffled at all). The gate is a HEURISTIC,
    * not a proof: it reads the CORPUS input's scan estimate (file bytes
    * — reliable, unlike the post-agg stats) and broadcasts when that is
    * under `graft.dedup.spanDupBroadcastBytes` (default 32 MB, settable
    * per session). The dup set grows with the corpus' distinct
    * duplicated spans (~24 B per row) while the scan estimate counts
    * COMPRESSED parquet bytes, so a 32 MB input can yield a dup set
    * several times larger. A larger input — and any caller with no
    * corpus frame to size — keeps the sort-free shuffle_hash: an
    * unbounded dup set must never be collected to the driver. */
  private def spanDupHint(dup: DataFrame, corpus: Option[DataFrame]): DataFrame = {
    val broadcastable = corpus.exists { c =>
      // driver-memory cost: a broadcast dup set is collected to the
      // driver and built into a hash map there, and can be several
      // times this many bytes (worst case ~100-150 MB at the default) —
      // raise it only with that much driver headroom
      val thresh = c.sparkSession.conf
        .get("graft.dedup.spanDupBroadcastBytes", (32L << 20).toString).toLong
      c.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(thresh)
    }
    if (broadcastable) broadcast(dup) else dup.hint("shuffle_hash")
  }

  /** Detection stage over an already-hashed (id, start, h, h2) span frame
    * — split out so tests can inject a synthetic seed-0 collision (equal
    * `h`, different `h2`) and prove the pair key keeps the grams apart.
    * `corpus` (when the caller has the raw input frame) lets the dup-set
    * join pick broadcast at provably-small scale — see [[spanDupHint]]. */
  private[graft] def duplicatedSpansFrom(spans: DataFrame, idCol: String,
      minOccurrences: Int, corpus: Option[DataFrame] = None): DataFrame = {
    val dup = spans.groupBy("h", "h2")
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= minOccurrences)
    spans.join(spanDupHint(dup, corpus), Seq("h", "h2"))
      .select(col("id").as(idCol), col("start"),
        col("h").as("gram_hash"), col("h2").as("gram_hash2"), col("n_occ"))
  }

  /** Remove all but the first occurrence of every duplicated k-token
    * span — the rewrite half of Lee et al. exact substring dedup. The
    * canonical (kept) occurrence of each span is the globally smallest
    * (id, start); every other occurrence's k token positions are deleted,
    * and overlapping duplicated windows union, so a duplicated run of any
    * length ≥ k is removed wholesale from every document except the
    * canonical one. Documents shorter than k tokens pass through intact.
    *
    * Output: (idCol, n_tokens, n_kept, text_kept) for every non-null
    * document — `text_kept` is the surviving tokens re-joined in order
    * (single spaces; original inter-token whitespace is not preserved,
    * matching the tokenized training-data setting this feeds).
    *
    * Scale shape: everything that shuffles is id/offset longs — span
    * hashes, the duplicate set, and the per-document REMOVED-position
    * sets (bounded by duplicated content only). The corpus itself is
    * never reshuffled for reassembly: removed positions join back to the
    * one-row-per-doc token arrays (join strategy auto-planned — Spark
    * broadcasts the removed-position side when its size estimate is
    * under the broadcast threshold, shuffles only that side otherwise)
    * and a positional `filter` higher-order function drops the dead
    * tokens in a narrow map. */
  def stripDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"stripDuplicatedSpans: k must be >= 1, got $k")
    val base = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), spanTokens(textCol).as("__t__"))
    // dup side hashed (or broadcast at provably-small input scale —
    // [[spanDupHint]]), never sorted, as in duplicatedSpans
    val spans = tokenSpans(df, idCol, textCol, k)
    val dup = spans.groupBy("h", "h2").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2).select("h", "h2")
    val occ = spans.join(spanDupHint(dup, Some(df)), Seq("h", "h2"))
    // non-canonical occurrences: everything but the (id, start)-smallest.
    // The canonical pick is a min(struct) AGGREGATION, not a row_number
    // window: all occurrences of one span hash to one partition either
    // way, but the agg is one partial-combined pass (map-side min per
    // partition, then a merge of one struct per key), while a window
    // would SORT every occurrence of the span in a single task — a span
    // duplicated 10⁸ times (licence headers) becomes a hot-key sort.
    val canon = occ.groupBy("h", "h2")
      .agg(min(struct(col("id"), col("start"))).as("__c__"))
      .select(col("h"), col("h2"),
        col("__c__.id").as("__cid__"), col("__c__.start").as("__cstart__"))
    val nonCanon = occ.join(canon, Seq("h", "h2"))
      .filter(col("id") =!= col("__cid__") || col("start") =!= col("__cstart__"))
    val removedPerDoc = nonCanon
      .select(col("id"),
        explode(sequence(col("start"), col("start") + (k - 1))).as("p"))
      .groupBy("id").agg(collect_set(col("p")).as("__rm__"))
    rebuildWithoutPositions(base, removedPerDoc, idCol)
  }

  /** Shared rewrite tail of the span strippers: positional-filter the
    * one-row-per-doc token arrays against each doc's removed-position
    * set and re-join surviving tokens — a narrow map after one left
    * join; the corpus is never reshuffled. `base` must be
    * (id, __t__: array<string>), `removedPerDoc` (id, __rm__:
    * array<long>). */
  private def rebuildWithoutPositions(base: DataFrame,
      removedPerDoc: DataFrame, idCol: String): DataFrame = {
    val keptToks = when(col("__rm__").isNull, col("__t__"))
      .otherwise(filter(col("__t__"),
        (t, i) => not(array_contains(col("__rm__"), i.cast("long")))))
    base.join(removedPerDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        size(col("__t__")).cast("long").as("n_tokens"),
        size(keptToks).cast("long").as("n_kept"),
        array_join(keptToks, " ").as("text_kept"))
  }

  // ——— span-level benchmark decontamination (surgical strip) ———

  /** Every corpus occurrence of a k-token gram that also appears in the
    * BENCHMARK — span-level contamination detection, the surgical
    * sibling of [[graft.ext.TextAnalysis.ngramContainment]]: instead of
    * scoring documents and dropping whole rows, mark exactly the leaked
    * token windows. `bench_id` is the MINIMUM benchmark doc containing
    * the gram (deterministic attribution; joining every bench occurrence
    * would blow up corpus-occ × bench-occ on common grams).
    *
    * Scale shape: both sides reduce to (id, start, h128) spans in their
    * scan-side narrow maps; the benchmark collapses to one row per
    * distinct gram (a tiny, broadcastable set — benchmarks are small by
    * definition), and the join keys on the 16-byte hash pair alone.
    *
    * Output: (idCol, start, gram_hash, gram_hash2, bench_id). */
  def contaminatedSpans(corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"contaminatedSpans: k must be >= 1, got $k")
    val spans = tokenSpans(corpus, idCol, textCol, k)
    val benchGrams = tokenSpans(bench, benchIdCol, benchTextCol, k)
      .groupBy("h", "h2").agg(min(col("id")).as("bench_id"))
    spans.join(benchGrams, Seq("h", "h2"))
      .select(col("id").as(idCol), col("start"),
        col("h").as("gram_hash"), col("h2").as("gram_hash2"),
        col("bench_id"))
  }

  /** Remove every token position covered by a benchmark k-gram —
    * overlapping contaminated windows union, so a leaked benchmark
    * passage of ANY length ≥ k disappears wholesale while the rest of
    * the document survives. This is the surgical decontamination used
    * when the corpus is precious and leakage is localized; doc-level
    * [[graft.ext.TextAnalysis.ngramContainment]] (and the curation
    * pipeline) DROPS contaminated documents instead. A benchmark doc
    * sitting verbatim in the corpus strips to nothing here — the same
    * "test set must not be trained on" semantics, token by token.
    *
    * Output: (idCol, n_tokens, n_kept, text_kept) for every non-null
    * corpus doc. Scale shape is [[stripDuplicatedSpans]]': only
    * id/offset/hash longs shuffle, and the corpus is never reshuffled
    * for reassembly ([[rebuildWithoutPositions]]). */
  def stripContaminatedSpans(corpus: DataFrame, idCol: String,
      textCol: String, bench: DataFrame, benchIdCol: String,
      benchTextCol: String, k: Int): DataFrame = {
    require(k >= 1, s"stripContaminatedSpans: k must be >= 1, got $k")
    val base = corpus.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), spanTokens(textCol).as("__t__"))
    val spans = tokenSpans(corpus, idCol, textCol, k)
    val benchGrams = tokenSpans(bench, benchIdCol, benchTextCol, k)
      .select("h", "h2").distinct()
    val removedPerDoc = spans.join(benchGrams, Seq("h", "h2"))
      .select(col("id"),
        explode(sequence(col("start"), col("start") + (k - 1))).as("p"))
      .groupBy("id").agg(collect_set(col("p")).as("__rm__"))
    rebuildWithoutPositions(base, removedPerDoc, idCol)
  }

  // ——— cross-document common segments (boilerplate line removal) ———

  /** (id, seg_no, h, h2) for every separator-split segment of every
    * non-null document. Segment IDENTITY is the trimmed segment string
    * (leading/trailing whitespace never distinguishes boilerplate);
    * empty-after-trim segments carry no content and are skipped — they
    * can never be "common" and the strip path always keeps them. The
    * hash pair is the same 128-bit FNV identity as the span operators
    * ([[SpanSeed2]]): only (id, seg_no, hash, hash) longs ever shuffle;
    * segment STRINGS stay in the scan-side narrow map. */
  private def docSegments(df: DataFrame, idCol: String, textCol: String,
      sep: String): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(sep)
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), split(col(textCol), quoted).as("__l__"))
      .select(col("id"), posexplode(col("__l__")).as(Seq("seg_no", "seg")))
      .withColumn("__s__", trim(col("seg")))
      .filter(col("__s__") =!= "")
      .select(col("id"), col("seg_no").cast("long").as("seg_no"),
        spanHashPairUdf(col("__s__")).as("__hp__"))
      .select(col("id"), col("seg_no"),
        col("__hp__")(0).as("h"), col("__hp__")(1).as("h2"))
  }

  /** Segments (split on `sep`, trimmed) appearing in at least `minDocs`
    * DISTINCT documents — the cross-document boilerplate detector (the
    * line-level dedup stage of CCNet / RefinedWeb: nav menus, cookie
    * banners, licence lines repeat across a crawl, not within one page,
    * so within-doc [[graft.ext.TextAnalysis.dedupSegments]] cannot see
    * them and doc-level near-dup won't fire when the surrounding content
    * differs). Distinct-DOC frequency, not occurrence count, is the
    * boilerplate signal — a poem repeating its refrain in one doc is not
    * boilerplate.
    *
    * Scale shape: one narrow map emits (id, seg_no, h128) per segment;
    * the distinct-doc count is two partial-aggregatable passes
    * (distinct (h, h2, id), then count per (h, h2)) — a segment present
    * in 10⁹ docs partial-combines map-side in both, so no single task
    * ever sees the full occurrence list; the annotate join keys on the
    * 16-byte hash pair alone. Segment text never crosses a shuffle.
    *
    * Output: (idCol, seg_no, seg_hash, seg_hash2, n_docs) — one row per
    * occurrence of a common segment. Identity is the (seg_hash,
    * seg_hash2) PAIR, as with the span operators. */
  def commonSegments(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", minDocs: Int = 2): DataFrame = {
    val occ = docSegments(df, idCol, textCol, sep)
    occ.join(commonSet(occ, minDocs), Seq("h", "h2"))
      .select(col("id").as(idCol), col("seg_no"),
        col("h").as("seg_hash"), col("h2").as("seg_hash2"), col("n_docs"))
  }

  /** Persistable common-segment hash artifact — (h, h2, n_docs) of every
    * segment appearing in at least `minDocs` distinct documents. The
    * boilerplate-line analog of [[minhashSignatures]] /
    * [[textFingerprints]]: a 100 TB pipeline computes this ONCE from the
    * corpus (16 bytes per distinct common segment — tiny) and every
    * ingest micro-batch strips arriving docs against it via
    * [[graft.streaming.Streams.stripSegmentsGate]] without re-scanning
    * corpus text. For a GROWING corpus, persist the un-thresholded
    * [[segmentDocCounts]] as an append-log instead and threshold at
    * load time with [[commonFromCounts]]. */
  def commonSegmentHashes(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", minDocs: Int = 2): DataFrame =
    commonSet(docSegments(df, idCol, textCol, sep), minDocs)

  /** UN-thresholded per-segment distinct-doc counts (h, h2, n_docs) —
    * the MAINTAINABLE form of the segment artifact. Because distinct-doc
    * counts over DISJOINT doc-id sets add, an append-only corpus keeps
    * the artifact fresh as an LSM-style append-log: each admitted batch
    * appends its own `segmentDocCounts` rows
    * ([[graft.streaming.Streams.appendGateArtifacts]]) and the gate
    * loads the log through [[commonFromCounts]], which sums the partial
    * counts before thresholding. No corpus re-scan, no read-modify-write
    * of the artifact — compaction of the log is ordinary
    * [[graft.store.Store.compact]] hygiene. */
  def segmentDocCounts(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame =
    docSegments(df, idCol, textCol, sep)
      .select("h", "h2", "id").distinct()
      .groupBy("h", "h2").agg(count(lit(1)).as("n_docs"))

  /** Collapse a [[segmentDocCounts]] append-log (partial counts from
    * successive disjoint batches) into the thresholded common-segment
    * set: one partial-aggregatable sum, then the `minDocs` filter.
    * `commonFromCounts(segmentDocCounts(all), m)` ==
    * `commonSegmentHashes(all, m)` by construction; the log form only
    * differs in arriving pre-aggregated per batch. */
  def commonFromCounts(counts: DataFrame, minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    counts.groupBy("h", "h2").agg(sum(col("n_docs")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** (h, h2, n_docs) of segments in ≥ minDocs distinct docs. */
  private def commonSet(occ: DataFrame, minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    occ.select("h", "h2", "id").distinct()
      .groupBy("h", "h2").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Remove EVERY occurrence of every segment that appears in at least
    * `minDocs` distinct documents — the rewrite half of cross-document
    * boilerplate removal. Unlike [[stripDuplicatedSpans]] (which keeps a
    * canonical copy — duplicated *content* should survive once), common
    * segments are dropped everywhere: a cookie banner is noise in every
    * document it appears in, including the first. Segments that trim to
    * empty (blank lines) are always kept, preserving paragraph
    * structure.
    *
    * Output: (idCol, n_segments, n_kept, text_kept) per non-null doc —
    * `text_kept` re-joins the surviving ORIGINAL segments (untrimmed)
    * with `sep`.
    *
    * Scale shape: same as [[commonSegments]] for detection; the removed
    * positions come back per doc as a `collect_set` bounded by that
    * doc's own segment count, join back to the one-row-per-doc segment
    * arrays (auto-planned — broadcast when small), and a positional
    * `filter` drops dead segments in a narrow map. The corpus is never
    * reshuffled for reassembly. */
  def stripCommonSegments(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", minDocs: Int = 2): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(sep)
    val base = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), split(col(textCol), quoted).as("__l__"))
    val occ = docSegments(df, idCol, textCol, sep)
    val removedPerDoc = occ
      .join(commonSet(occ, minDocs).select("h", "h2"), Seq("h", "h2"))
      .groupBy("id").agg(collect_set(col("seg_no")).as("__rm__"))
    val kept = when(col("__rm__").isNull, col("__l__"))
      .otherwise(filter(col("__l__"),
        (x, i) => not(array_contains(col("__rm__"), i.cast("long")))))
    base.join(removedPerDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        size(col("__l__")).cast("long").as("n_segments"),
        size(kept).cast("long").as("n_kept"),
        array_join(kept, sep).as("text_kept"))
  }

  // ——— shingles + MinHash ———

  private[graft] def hash64(s: String, seed: Long): Long = {
    // FNV-1a 64-bit with seed mix over CODE POINTS — deterministic across
    // JVMs and identical to the DuckDB oracle mirrors, which hash
    // unicode(c) per character, for ALL text (UTF-16 code units would
    // silently diverge on non-BMP chars; same move the Winnow kernel made
    // in round 5 and identical values for BMP text either way).
    var h = 0xcbf29ce484222325L ^ seed
    val n = s.length
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      // BMP fast path (branch-predicted away on real text): anything that
      // is not a high surrogate IS its own code point, including unpaired
      // low surrogates — exactly codePointAt's contract
      if (c < Character.MIN_HIGH_SURROGATE || c > Character.MAX_HIGH_SURROGATE) {
        h ^= c; h *= 0x100000001b3L
        i += 1
      } else {
        val cp = s.codePointAt(i)
        h ^= cp; h *= 0x100000001b3L
        i += Character.charCount(cp)
      }
    }
    h
  }

  /** Word-level shingles (n-grams joined by space) of normalized text. */
  def shingles(s: String, n: Int): Set[String] = {
    val toks = s.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) Set(toks.mkString(" "))
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  def shingleUdf(n: Int) = udf { (s: String) =>
    if (s == null) Array.empty[String] else shingles(s, n).toArray
  }

  /** MinHash signature: numHashes × (min over shingles of seeded hash).
    *
    * DIFFERENTIAL TWIN: the signature hot path now runs
    * [[graft.functions.MinhashAlgo]] (codegen'd, one code-point pass
    * updating all seed lanes, no gram strings, no UDF conversion —
    * 1M-soak pairs pass 23.3 → 20.7s, identical pairs/recall); this UDF
    * stays as the spec-pinned reference the kernel must equal
    * (DedupSpec, incl. astral chars), and for its null → all-MaxValue
    * contract should an unfiltered caller ever need it. */
  def minhashUdf(numHashes: Int, shingleSize: Int) = udf { (s: String) =>
    if (s == null) Array.fill(numHashes)(Long.MaxValue)
    else {
      val sh = shingles(s, shingleSize)
      Array.tabulate(numHashes) { i =>
        var min = Long.MaxValue
        sh.foreach { g => val h = hash64(g, 0x9E3779B97F4A7C15L * (i + 1)); if (h < min) min = h }
        min
      }
    }
  }

  /** MinHash signature table (idCol, sig: array<bigint>) — the
    * persistable artifact of a corpus for repeated near-dup gating
    * ([[graft.streaming.Streams.nearDupAgainstSignatures]]): computing
    * signatures is the expensive pass over corpus text; banding them is a
    * cheap narrow derivation, so signatures are what a 100 TB pipeline
    * stores (numHashes longs per doc) and syncs incrementally. Null-text
    * docs are excluded (they are never near-dup candidates). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, shingleSize: Int = 3): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        graft.functions.functions.minhash_sig(col(textCol), numHashes,
          shingleSize).as("sig"))

  /** Persistable text-fingerprint artifact for the EXACT-duplicate
    * ingest gate ([[graft.streaming.Streams.exactDupAgainstFingerprints]])
    * — the exact-tier analog of [[minhashSignatures]]: 8 bytes/doc
    * (the [[TextAnalysis.fingerprint]] 63-bit rolling hash of
    * whitespace-normalized lowercase text), computed once at corpus
    * build and appended incrementally, so re-crawled exact duplicates
    * are rejected with one equi-join before any banding work runs. */
  def textFingerprints(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("ref_id"),
        TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))

  /** Exact n-gram Jaccard similarity of two texts. */
  def jaccardUdf(shingleSize: Int) = udf { (a: String, b: String) =>
    val sa = shingles(if (a == null) "" else a, shingleSize)
    val sb = shingles(if (b == null) "" else b, shingleSize)
    val union = (sa ++ sb).size
    if (union == 0) 1.0 else sa.count(sb.contains).toDouble / union
  }

  /** Candidate pairs via MinHash LSH banding, verified with exact
    * n-gram Jaccard ≥ threshold. Returns (id_a, id_b, jaccard), id_a < id_b.
    *
    * Plan shape: signature (map) → band explode (×bands) → groupBy-join on
    * (band, bucket) → distinct candidate pairs → verify join. Only
    * signatures shuffle for candidates; texts are joined back just for the
    * surviving candidates.
    *
    * Skew guard: the band self-join runs each bucket in ONE task (the
    * bucket is the shuffle key), so a bucket of M docs generates ~M²/2
    * pairs in that task — and web-scale corpora reliably contain
    * boilerplate clusters (error pages, templates) of 10⁵⁺ near-identical
    * docs that land in the same bucket in EVERY band. Buckets larger than
    * `maxBucket` therefore skip pairwise generation and emit a STAR
    * instead: every member paired with the bucket's minimum id (M−1
    * pairs, linear). An over-cap bucket shares an entire signature band,
    * so its members are near-duplicates of each other by construction —
    * the star keeps the cluster connected for [[duplicateGroups]]
    * (connected components give the same groups as the full clique) at
    * the cost of pairwise completeness INSIDE the cluster, and cross-pair
    * recall between two non-rep members relies on their other bands
    * (same documented trade as [[bandedHammingPairs]]). Verify still runs
    * on every emitted pair. */
  def nearDupPairsMinhash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucket: Long = 8192L): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val rows = numHashes / bands
    // NULL-text docs carry no content and are never near-dup candidates —
    // skipped up front (the DuckDB oracle drops them in tokenization; the
    // UDF's all-MaxValue null signature would instead pair every null doc
    // with every other at jaccard 1.0)
    // NOT spread ([[graft.core.Par.spread]]): measured at sf0.1, the
    // extra exchange + planning cost MORE than the single-task signature
    // pass saves (1.10 → 1.55s best-of-4) — the codegen'd FNV kernel is
    // too cheap per row to amortize a repartition of the corpus text
    val sigs = df.select(col(idCol).as("id"), col(textCol).as("text"))
      .filter(col("text").isNotNull)
      .withColumn("sig", graft.functions.functions.minhash_sig(
        col("text"), numHashes, shingleSize))
    // the band's raw signature slice IS the join key (arrays are valid
    // equi-join keys): pure LSH semantics with no hash-collision false
    // positives, and — with FNV signatures — every stage is deterministic
    // integer arithmetic, so the whole operator is DuckDB-mirrorable
    // localCheckpoint: the signature UDF (shingle + numHashes FNV mins
    // per doc) is the expensive pass over corpus text, and the cap logic
    // below reads `banded` from four places (sizes, under-cap join sides,
    // over-cap star) — materializing the slim (id, band, bucket) rows
    // (~40 B × n × bands, trivial next to the corpus) runs it ONCE
    val banded = sigs.select(col("id"), col("sig"),
        posexplode(sequence(lit(0), lit(bands - 1))).as(Seq("__p__", "band")))
      .withColumn("bucket", slice(col("sig"), col("band") * rows + 1, lit(rows)))
      .select("id", "band", "bucket")
      // placed on the band key BEFORE the checkpoint: the sizes groupBy
      // and both cap-branch joins then run exchange-free on it
      .repartition(col("band"), col("bucket"))
      .localCheckpoint()
    // one partial-agg count pass sizes every bucket
    val sizes = banded.groupBy("band", "bucket").count()
    val small = banded.join(
      sizes.filter(col("count") <= maxBucket).select("band", "bucket"),
      Seq("band", "bucket"))
    val pairsSmall = small.as("a").join(small.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // over-cap buckets: min-id representative star (M−1 pairs per bucket,
    // emitted from one linear join task; min is partial-aggregatable)
    val big = banded.join(
      sizes.filter(col("count") > maxBucket).select("band", "bucket"),
      Seq("band", "bucket"))
    val reps = big.groupBy("band", "bucket").agg(min("id").as("__rep__"))
    val pairsBig = big.join(reps, Seq("band", "bucket"))
      .filter(col("id") =!= col("__rep__"))
      .select(col("__rep__").as("id_a"), col("id").as("id_b"))
    val cands = pairsSmall.union(pairsBig).distinct()
    val texts = df.select(col(idCol).as("id"), col(textCol).as("text"))
    cands
      .join(texts.withColumnRenamed("id", "id_a").withColumnRenamed("text", "text_a"), "id_a")
      .join(texts.withColumnRenamed("id", "id_b").withColumnRenamed("text", "text_b"), "id_b")
      .withColumn("jaccard", jaccardUdf(shingleSize)(col("text_a"), col("text_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact all-pairs n-gram Jaccard above a threshold — the oracle-
    * checkable baseline for the LSH variants. For word unigrams (n = 1)
    * it is pure codegen'd built-ins (split → array_distinct →
    * array_intersect/union); larger n uses the shingle UDF. O(n²): bound
    * the input (e.g. a blocking key or id range) before calling at scale.
    */
  def ngramJaccardPairsExact(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 1, threshold: Double = 0.5,
      maxRows: Long = 100000L): DataFrame = {
    guardAllPairs(df, "ngramJaccardPairsExact", maxRows,
      "nearDupPairsMinhash")
    val withSets =
      if (shingleSize == 1)
        df.select(col(idCol).as("id"),
          array_distinct(split(lower(trim(col(textCol))), "\\s+")).as("s"))
      else
        df.select(col(idCol).as("id"), shingleUdf(shingleSize)(col(textCol)).as("s"))
    // spread the streamed side of the nested-loop join — see
    // [[editDistancePairsExact]]: without it the O(n²) verify runs in
    // as few tasks as the filtered scan produced
    val parts = df.sparkSession.sparkContext.defaultParallelism
    val a = withSets.select(col("id").as("id_a"), col("s").as("s_a"))
      .repartition(parts)
    val b = withSets.select(col("id").as("id_b"), col("s").as("s_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("s_a"), col("s_b"))).cast("double") /
          size(array_union(col("s_a"), col("s_b"))))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Consolidate near-dup pairs into duplicate GROUPS: connected
    * components over the pair graph, each node labeled with its
    * component's minimum id (the canonical "keeper"). This is the step
    * after any pair generator (exact / MinHash / SimHash / cosine-LSH)
    * in a real dedup pipeline — pairs alone can't answer "which rows do
    * I drop".
    *
    * Distributed min-label propagation: each round pushes every node's
    * current label across its edges and keeps the minimum (the
    * alternating-join shape of Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC 2014). Rounds are bounded by the
    * component diameter — near-dup graphs are dense clusters, so a
    * handful; `maxIter` caps pathological chains. Each round is one
    * shuffle join + one partial-agg min; `localCheckpoint` cuts the
    * iterative lineage so plans stay flat.
    *
    * Returns (`idCol`, rep) for every node of `nodes` (singletons are
    * their own rep).
    */
  def duplicateGroups(
      nodes: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20, durableCheckpoint: Boolean = false): DataFrame = {
    // repartition on src BEFORE distinct (the Graph.pageRank shape):
    // HashPartitioning(src) satisfies the dedup's clustered distribution,
    // so edges land placed for the per-round src==id join ONCE — without
    // it the edge set is (src, dst)-partitioned and re-shuffles every
    // round; labels likewise start id-partitioned (each round's groupBy
    // output already is), so the propagation join is exchange-free
    val edges = Graph.cut(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .repartition(col("src")).distinct(), durableCheckpoint)
    var labels = Graph.cut(
      nodes.select(col(idCol).as("id"), col(idCol).as("rep"))
        .repartition(col("id")),
      durableCheckpoint)
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      // shuffle_hash on the label side: both frames are already placed
      // on the join key, but sort-merge would re-SORT the edge set every
      // round (checkpoints preserve partitioning, not ordering) — same
      // rationale as [[Graph.pageRank]]'s iteration join; min(rep) is
      // order-independent, so the strategy is result-safe
      val prop = edges.join(labels.hint("shuffle_hash"),
          col("src") === col("id"))
        .select(col("dst").as("id"), col("rep"))
      // ONE action per round (guide §2.6 — the r20 loop ran a second
      // join+count job per round just to detect convergence): the old
      // label rides the union tagged __old__, the groupBy emits the new
      // min AND the previous rep, and an Observation counts the changed
      // ids inside the same checkpoint materialization. Min-label
      // propagation is monotone (labels only decrease), so
      // rep < prev ⇔ the id changed this round.
      val obs = new org.apache.spark.sql.Observation()
      val round = labels.withColumn("__old__", lit(true))
        .unionByName(prop.withColumn("__old__", lit(false)))
        .groupBy("id").agg(min("rep").as("rep"),
          min(when(col("__old__"), col("rep"))).as("__prev__"))
        .observe(obs, sum(when(col("rep") < col("__prev__"), 1L)
          .otherwise(0L)).as("changed"))
        .select("id", "rep")
      if (it == 0) Graph.dumpPlan(round, "dedup_groups_round")
      val next = Graph.cut(round, durableCheckpoint)
      changed = Option(obs.get("changed"))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      Graph.release(labels) // superseded round — next is materialized
      labels = next
      it += 1
    }
    Graph.release(edges)
    // One-hop propagation converges in O(component diameter) rounds —
    // fine for near-dup clusters (stars/cliques, diameter ≤ 2), but a
    // chain-shaped graph longer than maxIter would exit here with
    // silently WRONG labels. Fail loudly instead.
    if (changed > 0) throw new IllegalStateException(
      s"duplicateGroups: min-label propagation still changing after " +
        s"$maxIter rounds — a component's diameter exceeds maxIter. " +
        "Raise maxIter, or use Graph.connectedComponents " +
        "(large-star/small-star, O(log n) rounds) for high-diameter graphs.")
    labels.withColumnRenamed("id", idCol)
  }

  /** Refuse to launch an O(n²) all-pairs job above `maxRows` — the exact
    * operators exist as oracle baselines, not as 100 TB paths. Raising
    * `maxRows` is the explicit opt-in. The count is one metadata-cheap
    * column-pruned job. */
  private def guardAllPairs(df: DataFrame, op: String, maxRows: Long,
      scalePath: String): Unit = {
    val n = df.count()
    require(n <= maxRows,
      s"$op is an exact O(n²) all-pairs baseline and the input has $n rows " +
        s"(> maxRows=$maxRows). Use the LSH scale path ($scalePath) for " +
        "large tables, or pass a larger maxRows to opt in explicitly.")
  }

  // ——— String-similarity joins: one filter–verify skeleton ———

  /** A family's verify half, all its exact baseline needs: `base` maps
    * an input to (id, t, len) rows, null texts dropped; `value` scores
    * two texts as column `score`, kept where `keep` holds; `exactFilter`
    * (over the two lengths) is a free pre-filter of the exact path. */
  private[graft] final case class Verify(score: String,
      base: (DataFrame, String, String) => DataFrame,
      value: (Column, Column) => Column, keep: Column => Column,
      exactFilter: Option[(Column, Column) => Column] = None)

  /** The family's words in its candidate-volume refusal ([[refusal]]). */
  private[graft] final case class Wording(key: String, collide: String,
      worst: String, remedy: String)

  /** A string-similarity family (DESIGN §13): an invariant every true
    * pair keeps, a pigeonhole key it implies, a guard on the key join's
    * volume. `keys` maps the bases of a join's sides (one for a
    * self-join; query side then corpus side for a cross join) to each
    * side's (index, probe) frames of (id, `keyCols`…, and `len` where
    * the `band` predicate over a candidate's two lengths needs it). The
    * skeleton reads two properties: `symmetric` (index and probe frames
    * are one frame: one key direction, c·(c−1)/2 self-join pairs per
    * key) and `materialized` ([[withKeys]]). `op` names the public
    * operator in refusals. */
  private[graft] final case class Family(op: String, verify: Verify,
      keyCols: Seq[String], keys: Seq[DataFrame] => Seq[(DataFrame, DataFrame)],
      symmetric: Boolean, materialized: Boolean,
      band: Option[(Column, Column) => Column],
      wording: Wording, worstKey: Row => String)

  /** The exact all-pairs baseline: guard, spread, verify every id_a < id_b. */
  private def exactPairs(v: Verify, op: String, scalePath: String,
      df: DataFrame, idCol: String, textCol: String, maxRows: Long): DataFrame = {
    // counted with nulls dropped, whatever else the family's base drops
    guardAllPairs(df.filter(col(textCol).isNotNull), op, maxRows, scalePath)
    // the nested-loop join STREAMS its left side as partitioned — often
    // ONE task for a small scan; a tiny shuffle buys full parallelism
    val parts = df.sparkSession.sparkContext.defaultParallelism
    val base = v.base(df, idCol, textCol)
    val pairs = texts(base, "a").repartition(parts)
      .join(texts(base, "b"), col("id_a") < col("id_b"))
    verified(v, v.exactFilter.fold(pairs)(f =>
      pairs.filter(f(length(col("__ta")), length(col("__tb"))))))
  }

  /** Self-join: keys, guard, candidates, distinct, verify. A symmetric
    * key join sees each pair both ways (kept as id_a < id_b); an
    * asymmetric one once per matching direction (least/greatest). */
  private def selfJoin(f: Family, df: DataFrame, idCol: String,
      textCol: String, maxCandidates: Long): DataFrame = {
    require(maxCandidates >= 1, "maxCandidates must be >= 1")
    val base = f.verify.base(df, idCol, textCol)
    withKeys(f, f.keys(Seq(base))) { case Seq((idx, probe)) =>
      refuseOver(f, maxCandidates, selfPairs(f, idx, probe))
      val joined = keyJoin(f, side(idx, "a"), side(probe, "b"))
      val cand =
        if (f.symmetric) joined.filter(col("id_a") < col("id_b")).select("id_a", "id_b")
        else joined.filter(col("id_a") =!= col("id_b"))
          .select(least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b"))
      verified(f.verify, cand.distinct().join(texts(base, "a"), Seq("id_a"))
        .join(texts(base, "b"), Seq("id_b")))
    }
  }

  /** Cross join of two tables; both sides' keys are built together (a
    * family may derive them from both, as Jaro-Winkler's rank map). */
  private def crossTables(f: Family, left: DataFrame, leftId: String,
      leftText: String, right: DataFrame, rightId: String, rightText: String,
      maxCandidates: Long): DataFrame = {
    val lb = f.verify.base(left, leftId, leftText)
    val rb = f.verify.base(right, rightId, rightText)
    val Seq(lKeys, rKeys) = f.keys(Seq(lb, rb))
    crossJoin(f, lb, rb, lKeys, rKeys, maxCandidates)
  }

  /** How loose a proven volume bound may be for the broadcast-left join
    * to rely on its Observation guard alone: within this multiple of
    * `maxCandidates`, a refusal has paid a bounded materialization;
    * looser (or no bound), the counts-frame guard refuses first. */
  private[graft] val EdObservedGuardSlack = 4.0

  /** Cross join: (id_a = left id, id_b = right id, score). A symmetric
    * family's keys meet in one direction; an asymmetric family indexes
    * the shorter side of a pair, so left index × right probes and left
    * probes × right index both run, their candidates unioned before ONE
    * distinct and verify. Right key frames may carry `id_b` already.
    * Serving options: the right side's precomputed key counts (aliases
    * ns/np), so the guard scales with the left side; `broadcastLeft`
    * for a small left side; a caller-proven `provenVolumeBound`. */
  private def crossJoin(f: Family, lb: DataFrame, rb: DataFrame,
      lKeys: (DataFrame, DataFrame), rKeys: (DataFrame, DataFrame),
      maxCandidates: Long, rIndexCounts: Option[DataFrame] = None,
      rProbeCounts: Option[DataFrame] = None, broadcastLeft: Boolean = false,
      provenVolumeBound: Option[Double] = None): DataFrame = {
    require(maxCandidates >= 1, "maxCandidates must be >= 1")
    // broadcast left key frames make the candidate joins map-side: the
    // corpus-side frames stream once instead of shuffling
    def hint(df: DataFrame): DataFrame =
      if (broadcastLeft) broadcast(df) else df
    withKeys(f, Seq(lKeys, rKeys)) { case Seq((li, lp), (ri, rp)) =>
      val (lIdx, lProbe) = (hint(side(li, "a")), hint(side(lp, "a")))
      val (rIdx, rProbe) = (side(ri, "b"), side(rp, "b"))
      val rawPairs = (if (f.symmetric) Seq((lIdx, rIdx))
        else Seq((lIdx, rProbe), (lProbe, rIdx)))
        .map { case (a, b) => keyJoin(f, a, b).select("id_a", "id_b") }
        .reduce(_ union _)
      def guard(): Unit = crossGuard(f, maxCandidates, lIdx, lProbe,
        rIdx, rProbe, rIndexCounts, rProbeCounts)
      // a proven bound at or below the cap needs no guard pass (a looser
      // one proves nothing and falls through to the guards)
      val cand = if (provenVolumeBound.exists(_ <= maxCandidates.toDouble))
        rawPairs.distinct()
      else if (broadcastLeft) {
        // OBSERVE the raw pair stream inside the distinct pass: the
        // map-side joins feed the distinct's partial aggregate in ONE
        // scan, the Observation counts the exact volume for free, and
        // the checkpoint lets the verify reuse the distinct pairs. It
        // refuses only after the pass, so unless the bound proves the
        // volume within EdObservedGuardSlack× the cap, the counts-frame
        // guard (no pair materialized) runs first.
        if (!provenVolumeBound.exists(
            _ <= maxCandidates.toDouble * EdObservedGuardSlack)) guard()
        val obs = new org.apache.spark.sql.Observation()
        val ckpt = rawPairs.observe(obs, count(lit(1)).as("raw"))
          .distinct().localCheckpoint(true)
        val vol = Option(obs.get("raw")).map(_.asInstanceOf[Long]).getOrElse(0L)
        if (vol > maxCandidates) {
          org.apache.spark.sql.GraftShims.releaseCheckpoint(ckpt)
          throw new IllegalArgumentException(
            refusal(f, maxCandidates, s"= $vol", None))
        }
        ckpt
      } else {
        guard()
        rawPairs.distinct()
      }
      verified(f.verify, cand.join(hint(texts(lb, "a")), Seq("id_a"))
        .join(texts(rb, "b"), Seq("id_b")))
    }
  }

  /** Runs a join body over key frames. A materialized family's frames are
    * checkpointed (their construction is the expensive pass, read by guard
    * and join), then released once the result is materialized, so a
    * long-lived server's requests do not pin executor storage. */
  private def withKeys(f: Family, frames: Seq[(DataFrame, DataFrame)])(
      body: Seq[(DataFrame, DataFrame)] => DataFrame): DataFrame =
    if (!f.materialized) body(frames)
    else {
      val pinned = frames.map { case (idx, probe) =>
        val i = idx.localCheckpoint()
        (i, if (f.symmetric) i else probe.localCheckpoint())
      }
      try body(pinned).localCheckpoint(true)
      finally pinned.flatMap { case (i, p) => Seq(i, p) }.distinct
        .foreach(org.apache.spark.sql.GraftShims.releaseCheckpoint)
    }

  private def side(keys: DataFrame, s: String): DataFrame =
    keys.withColumnRenamed("id", s"id_$s").withColumnRenamed("len", s"__l$s")

  private def texts(base: DataFrame, s: String): DataFrame =
    base.select(col("id").as(s"id_$s"), col("t").as(s"__t$s"))

  private def keyJoin(f: Family, a: DataFrame, b: DataFrame): DataFrame = {
    val joined = a.join(b, f.keyCols)
    f.band.fold(joined)(p => joined.filter(p(col("__la"), col("__lb"))))
  }

  private def verified(v: Verify, pairs: DataFrame): DataFrame =
    pairs.select(col("id_a"), col("id_b"),
        v.value(col("__ta"), col("__tb")).as(v.score))
      .filter(v.keep(col(v.score)))

  private def keyCounts(keys: Seq[String], frame: DataFrame,
      alias: String): DataFrame =
    frame.groupBy(keys.map(col): _*).agg(count(lit(1)).cast("double").as(alias))

  /** Per-key pair volume of two count frames (aliases na, nb). */
  private def keyPairs(f: Family, na: DataFrame, nb: DataFrame): DataFrame =
    na.join(nb, f.keyCols)
      .select(f.keyCols.map(col) :+ (col("na") * col("nb")).as("pairs"): _*)

  /** A self-join's per-key pair volume: c·(c−1)/2 for a symmetric family,
    * index count × probe count otherwise. */
  private def selfPairs(f: Family, idx: DataFrame, probe: DataFrame): DataFrame = {
    val na = keyCounts(f.keyCols, idx, "na")
    if (f.symmetric)
      na.select(f.keyCols.map(col) :+ (col("na") * (col("na") - 1) / 2).as("pairs"): _*)
    else keyPairs(f, na, keyCounts(f.keyCols, probe, "nb"))
  }

  /** One side's per-key index AND probe counts (<p>ns, <p>np) in ONE
    * aggregation over the 0/1-tagged union — one exchange, not two; a
    * key absent from one frame counts 0. A symmetric family counts its
    * one frame once, as <p>ns. */
  private def sideCounts(f: Family, idx: DataFrame, probe: DataFrame,
      p: String): DataFrame =
    if (f.symmetric) keyCounts(f.keyCols, idx, s"${p}ns")
    else {
      val keys = f.keyCols.map(col)
      idx.select(keys :+ lit(1L).as("__s__"): _*)
        .unionAll(probe.select(keys :+ lit(0L).as("__s__"): _*))
        .groupBy(keys: _*)
        .agg(sum(col("__s__")).cast("double").as(s"${p}ns"),
          (count(lit(1)) - sum(col("__s__"))).cast("double").as(s"${p}np"))
    }

  /** Every cross-join direction's volume in ONE action (guide §2.6). The
    * right counts are the precomputed frames (joined full-outer: a key
    * may be index-only or probe-only) or one [[sideCounts]]. Only a
    * refusal pays a second pass, for the direction's worst keys. */
  private def crossGuard(f: Family, maxCandidates: Long, lIdx: DataFrame,
      lProbe: DataFrame, rIdx: DataFrame, rProbe: DataFrame,
      rIndexCounts: Option[DataFrame], rProbeCounts: Option[DataFrame]): Unit = {
    val rNs = rIndexCounts.getOrElse(keyCounts(f.keyCols, rIdx, "ns"))
    val rNp = rProbeCounts.getOrElse(keyCounts(f.keyCols, rProbe, "np"))
    val rCounts =
      if (rIndexCounts.isEmpty && rProbeCounts.isEmpty)
        sideCounts(f, rIdx, rProbe, "r")
      else rNs.withColumnRenamed("ns", "rns")
        .join(rNp.withColumnRenamed("np", "rnp"), f.keyCols, "full_outer")
    val dirs = if (f.symmetric) Seq("ns" -> "ns") else Seq("ns" -> "np", "np" -> "ns")
    val row = sideCounts(f, lIdx, lProbe, "l").join(rCounts, f.keyCols)
      .select(dirs.map { case (a, b) =>
        sum(col(s"l$a") * coalesce(col(s"r$b"), lit(0.0))) }: _*).head()
    dirs.zipWithIndex.foreach { case ((a, b), d) =>
      if (!row.isNullAt(d) && row.getDouble(d) > maxCandidates.toDouble)
        refuseOver(f, maxCandidates, keyPairs(f,
          keyCounts(f.keyCols, if (a == "ns") lIdx else lProbe, "na"),
          (if (b == "ns") rNs else rNp).withColumnRenamed(b, "nb")))
    }
  }

  /** Candidate-volume guard over (keys…, pairs): Σ pairs IS the key
    * join's output size; refusal names the worst keys by pair volume —
    * the TF-IDF-guard discipline, fail-don't-degrade. */
  private def refuseOver(f: Family, maxCandidates: Long, keyed: DataFrame): Unit = {
    val vol = volume(keyed)
    if (vol > maxCandidates.toDouble) {
      val worst = keyed.orderBy(col("pairs").desc).limit(3).collect()
        .map(r => s"${f.worstKey(r)} -> ${r.getDouble(r.length - 1).toLong}")
        .mkString("; ")
      throw new IllegalArgumentException(
        refusal(f, maxCandidates, f"≈ $vol%.3g", Some(worst)))
    }
  }

  private def volume(keyed: DataFrame): Double = {
    val row = keyed.agg(sum(col("pairs"))).head()
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }

  /** An estimated volume names the worst keys; one observed on the pair
    * stream (a broadcast query batch) names none. */
  private def refusal(f: Family, maxCandidates: Long, vol: String,
      worst: Option[String]): String = {
    val w = f.wording
    s"${f.op}: ${w.key} candidate volume $vol pairs exceeds " +
      s"maxCandidates=$maxCandidates — ${w.collide} collide pathologically" +
      worst.fold(". Shrink the query batch")(k => s" (worst ${w.worst}: $k). ${w.remedy}") +
      ", dedup boilerplate first, or raise maxCandidates deliberately."
  }

  // ——— Edit-distance (Levenshtein) near-dup ———

  /** Exact edit-distance all-pairs baseline: every unordered pair with
    * levenshtein(a, b) ≤ `maxDist`, with the distance. O(n²) pairs ×
    * O(len²) per distance — the ORACLE, guarded like the other exact
    * baselines, and the plan for a `maxDist` above [[EdMaxKeyedDist]];
    * [[editDistancePairsBlocked]] produces the identical pair set
    * through pigeonhole segment blocking and is the variant to run at
    * scale. `dist` is long for cross-engine schema parity. */
  def editDistancePairsExact(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, maxRows: Long = 100000L): DataFrame =
    exactPairs(edVerify(maxDist), "editDistancePairsExact",
      "editDistancePairsBlocked", df, idCol, textCol, maxRows)

  /** Edit-distance near-dup pairs at scale — PassJoin-style pigeonhole
    * segment blocking (Li, Deng, Feng: "PASS-JOIN: A Partition-based
    * Method for Similarity Joins", VLDB 2011), identical output to
    * [[editDistancePairsExact]]:
    *
    *  - INDEX side: every string's maxDist+1 contiguous segments under
    *    the fixed even-partition scheme, keyed (l, i, content).
    *  - PROBE side: for each string (length m), each candidate partner
    *    length l ∈ [m−k, m], each segment index i of the l-scheme, and
    *    each shift ∈ [−k, k]: the substring of the probe at the
    *    segment's position + shift, same key shape.
    *  - Pigeonhole completeness: ≤ k edits touch ≤ k of the SHORTER
    *    string's k+1 segments, so one survives verbatim inside the
    *    longer string, displaced by at most the ≤ k indels before it —
    *    that (l, i, content) key is emitted by both sides, so every
    *    true pair is a candidate. Pairs with |len diff| > k are never
    *    generated (ed ≥ length difference).
    *  - Verify: exact levenshtein with early-exit threshold over the
    *    DISTINCT canonical candidate pairs.
    *
    * Scale shape: candidate generation shuffles (k+1)- resp.
    * ≤ (k+1)²(2k+1)-per-row SEGMENT rows (bytes, not documents), the
    * equi-join hits only segment-content collisions, and the quadratic
    * work is one bounded levenshtein per surviving candidate. A corpus
    * whose segment keys collide pathologically (boilerplate prefixes at
    * matching offsets) is REFUSED via the candidate-volume estimate
    * (Σ_key ns·np from two bounded aggs), naming the worst keys — the
    * TF-IDF-guard discipline. Zero-length segments (strings shorter
    * than k+1) degrade to length-bucket blocking and stay correct. */
  def editDistancePairsBlocked(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, maxCandidates: Long = 50000000L): DataFrame =
    selfJoin(edFamily(maxDist, "editDistancePairsBlocked"), df, idCol,
      textCol, maxCandidates)

  /** Cross-TABLE edit-distance join (entity resolution / fuzzy-key
    * join / ingest gate): every (left row, right row) pair with
    * levenshtein ≤ `maxDist`, same PassJoin machinery as
    * [[editDistancePairsBlocked]]. The pigeonhole argument indexes the
    * SHORTER side of a pair, so both directions run — left segments ×
    * right probes catches |l| ≤ |r|, right segments × left probes the
    * rest — and the union of candidates dedupes before ONE verify.
    * Output: (id_a = left id, id_b = right id, dist); a left row
    * absent from the output has no right match (the gate decision). */
  def editDistanceJoin(left: DataFrame, leftId: String, leftText: String,
      right: DataFrame, rightId: String, rightText: String,
      maxDist: Int, maxCandidates: Long = 50000000L): DataFrame =
    crossTables(edFamily(maxDist, "editDistanceJoin"), left, leftId,
      leftText, right, rightId, rightText, maxCandidates)

  /** [[editDistanceJoin]] against PRE-BUILT right-side frames — the
    * streaming-gate / persisted-artifact shape: `rb` is the right
    * side's (id, t, len) base, `rSegs`/`rProbes` its segment and probe
    * frames with the id renamed to `id_b` (exactly what
    * [[Streams.editDistGateForEachBatch]] materializes ONCE so a
    * long-running gate never re-derives the corpus per micro-batch).
    * Per call, only the LEFT side's frames are derived. The serving
    * options (precomputed right counts, `broadcastLeft`,
    * `provenVolumeBound`) are the cross join's ([[crossJoin]]). */
  def editDistanceJoinAgainstFrames(left: DataFrame, leftId: String,
      leftText: String, rb: DataFrame, rSegs: DataFrame, rProbes: DataFrame,
      maxDist: Int, maxCandidates: Long = 50000000L,
      rSegCounts: Option[DataFrame] = None,
      rProbeCounts: Option[DataFrame] = None,
      broadcastLeft: Boolean = false,
      provenVolumeBound: Option[Double] = None): DataFrame = {
    val f = edFamily(maxDist, "editDistanceJoin")
    val lb = edBase(left, leftId, leftText)
    crossJoin(f, lb, rb, f.keys(Seq(lb)).head, (rSegs, rProbes), maxCandidates,
      rSegCounts, rProbeCounts, broadcastLeft, provenVolumeBound)
  }

  /** The PassJoin frames for callers that materialize the corpus side
    * once (the streaming gate, the fuzzy index): the (id, t, len) base,
    * the (id, l, i, g) segments and probes. */
  def editDistanceBase(df: DataFrame, idCol: String, textCol: String): DataFrame =
    edBase(df, idCol, textCol)
  def editDistanceSegments(base: DataFrame, maxDist: Int): DataFrame = {
    edFamily(maxDist, "editDistanceSegments")
    edSegs(base, maxDist)
  }
  def editDistanceProbes(base: DataFrame, maxDist: Int): DataFrame = {
    edFamily(maxDist, "editDistanceProbes")
    edProbes(base, maxDist)
  }

  /** Driver-side mirrors of one QUERY string's PassJoin keys — the
    * persisted-index lookup path needs them BEFORE any job runs (they
    * drive segment-bucket partition pruning). Formula-identical to
    * [[editDistanceSegments]]/[[editDistanceProbes]]: segment i of a
    * length-l string spans [⌊i·l/(k+1)⌋, ⌊(i+1)·l/(k+1)⌋). */
  def querySegKeys(q: String, k: Int): Seq[(Int, Int, String)] = {
    val l = q.length
    (0 to k).map { i =>
      val st = (i.toLong * l / (k + 1)).toInt
      val en = ((i + 1).toLong * l / (k + 1)).toInt
      (l, i, q.substring(st, en))
    }
  }

  /** The query-side probe keys: for each candidate partner length
    * l ∈ [len−k, len], each segment index, each ±k shift — the exact
    * key set [[editDistanceProbes]] would emit for this one string. */
  def queryProbeKeys(q: String, k: Int): Seq[(Int, Int, String)] = {
    edFamily(k, "queryProbeKeys")
    val m = q.length
    (for { dl <- 0 to k; i <- 0 to k; sh <- -k to k } yield {
      val l = m - dl
      if (l < 0) None
      else {
        val st = (i.toLong * l / (k + 1)).toInt
        val len = ((i + 1).toLong * l / (k + 1)).toInt - st
        val p = st + sh
        if (p >= 0 && p + len <= m) Some((l, i, q.substring(p, p + len)))
        else None
      }
    }).flatten.distinct
  }

  /** Per-(l, i, g) row counts of a segment/probe frame — the bounded
    * key-statistics frame the guard consumes. Public so a pipeline (or
    * the streaming gate) can compute a long-lived side's counts ONCE
    * instead of re-aggregating it per call. */
  def editDistanceKeyCounts(frame: DataFrame, alias: String): DataFrame =
    keyCounts(Seq("l", "i", "g"), frame, alias)

  /** The largest `maxDist` PassJoin keys are built for. Every string
    * expands into (k+1)²(2k+1) probe variants, plan literals of a frame
    * and driver work for a query string: 225 at k = 4, 9,537 at k = 16,
    * ~2.0e9 at k = 1000. Analyzing a blocked self-join's key join took
    * 0.12 s at k = 4, 0.46 s at k = 8 and 3.2 s at k = 16 (the probes
    * alone 11.6 s at k = 24) on 4 cores. Past it, the exact baseline. */
  private[graft] val EdMaxKeyedDist = 16

  /** levenshtein ≤ k with an early-exit threshold; on the exact path
    * |len diff| ≤ k (ed ≥ length difference) ahead of it. */
  private def edVerify(k: Int): Verify = {
    require(k >= 0, s"maxDist must be >= 0, got $k")
    Verify("dist", edBase, (a, b) => levenshtein(a, b, k).cast("long"),
      d => d >= 0L && d <= k.toLong,
      exactFilter = Some((la, lb) => abs(la - lb) <= k))
  }

  /** PassJoin segments (index) and shifted substrings (probe), keyed
    * (l, i, g): asymmetric, lazy. Refuses a k past [[EdMaxKeyedDist]]
    * before any frame or job exists. */
  private[graft] def edFamily(k: Int, op: String): Family = {
    val v = edVerify(k)
    require(k <= EdMaxKeyedDist, s"$op: maxDist=$k is above $EdMaxKeyedDist, " +
      "the largest PassJoin builds keys for ((k+1)²(2k+1) probe variants a " +
      "string). Use editDistancePairsExact, the guarded all-pairs baseline.")
    Family(op, v, Seq("l", "i", "g"), _.map(b => (edSegs(b, k), edProbes(b, k))),
      symmetric = false, materialized = false, band = None,
      Wording("segment-key", "segment contents", "keys", "Shrink the corpus slice"),
      r => s"(l=${r.get(0)}, i=${r.get(1)}, '${String.valueOf(r.get(2)).take(30)}')")
  }

  /** Segment i (0-based, of maxDist+1) of a length-`l` string starts at
    * ⌊i·l/(k+1)⌋ — the fixed even-partition scheme BOTH sides of the
    * blocked join derive boundaries from, for every partner length. */
  private def segPos(i: Column, l: Column, k: Int): Column =
    floor(i.cast("double") * l / (k + 1)).cast("int")

  private def edBase(df: DataFrame, idCol: String, textCol: String) =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), col(textCol).as("t"),
        length(col(textCol)).as("len"))

  private def edSegs(base: DataFrame, k: Int): DataFrame =
    base.select(col("id"), col("t"), col("len").as("l"),
        explode(sequence(lit(0), lit(k))).as("i"))
      .select(col("id"), col("l"), col("i"),
        col("t").substr(segPos(col("i"), col("l"), k) + 1,
          segPos(col("i") + 1, col("l"), k) -
            segPos(col("i"), col("l"), k)).as("g"))

  private def edProbes(base: DataFrame, k: Int): DataFrame = {
    val variants = for { dl <- 0 to k; i <- 0 to k; sh <- -k to k }
      yield struct(lit(dl).as("dl"), lit(i).as("i"), lit(sh).as("sh"))
    base.select(col("id"), col("t"), col("len").as("m"),
        explode(array(variants: _*)).as("v"))
      .select(col("id"), col("t"), col("m"),
        (col("m") - col("v.dl")).as("l"), col("v.i").as("i"),
        (segPos(col("v.i"), col("m") - col("v.dl"), k) + col("v.sh"))
          .as("p"),
        (segPos(col("v.i") + 1, col("m") - col("v.dl"), k) -
          segPos(col("v.i"), col("m") - col("v.dl"), k)).as("glen"))
      .filter(col("l") >= 0 && col("p") >= 0 &&
        col("p") + col("glen") <= col("m"))
      .select(col("id"), col("l"), col("i"),
        col("t").substr(col("p") + 1, col("glen")).as("g"))
      .distinct() // shifts often extract the same substring
  }

  // ——— Jaro-Winkler near-dup ———

  /** Exact Jaro-Winkler all-pairs baseline: every unordered pair with
    * jaro_winkler(a, b) ≥ `minSim` (raw, unrounded), with the
    * similarity. O(n²) pairs — the ORACLE, guarded like the other exact
    * baselines — and, on small-alphabet short-string corpora, often
    * the FASTER plan outright (shuffle-free broadcast nested loop;
    * see the regime note on [[jaroWinklerPairsBlocked]], which
    * produces the identical pair set through sound blocking). */
  def jaroWinklerPairsExact(df: DataFrame, idCol: String, textCol: String,
      minSim: Double, maxRows: Long = 100000L): DataFrame =
    exactPairs(jwVerify(minSim), "jaroWinklerPairsExact",
      "jaroWinklerPairsBlocked", df, idCol, textCol, maxRows)

  /** Jaro-Winkler near-dup pairs through sound length-band +
    * positional-character PREFIX-FILTER blocking, identical output to
    * [[jaroWinklerPairsExact]].
    *
    * WHEN TO USE WHICH (measured both ways): blocking's candidate
    * volume is Θ(Σ_e c_e²) over element frequencies, so it wins iff the
    * alphabet offers many more tail symbols than 2p² (p the prefix
    * length). At 1M CJK-style Zipfian names ([[graft.JwSoak]],
    * jw_soak_1m.json) candidates were 0.41% of n²/2 with recall 1.0, and
    * blocked ran 11.7× faster than exact on a 40k slice. On a SMALL
    * uniform alphabet (lowercase prose) Σ c_e² can exceed n²/2: the
    * guard refuses, and [[jaroWinklerPairsExact]] (a shuffle-free
    * broadcast nested loop, sub-microsecond per short pair) is the plan.
    * Character granularity is the SHARPEST SOUND invariant Jaro admits
    * (matches reorder within half-length windows, so q-grams do not
    * survive); beyond both regimes use an edit-distance threshold
    * ([[editDistancePairsBlocked]]) or a deliberately unsound blocker.
    *
    * The soundness chain for jw ≥ t > 0.8:
    *
    *  1. Jaro floor. jw = J + 0.1·p·(1−J) with prefix p ≤ 4, applied
    *     only when J > 0.7 ⇒ jw ≤ 0.6·J + 0.4; with no boost jw = J.
    *     Either way jw ≥ t ⇒ J ≥ j0 = (t − 0.4)/0.6.
    *  2. Length band. With m ≤ min(|a|,|b|) matches and |a| ≤ |b|,
    *     J ≤ (1 + |a|/|b| + 1)/3 ⇒ min ≥ β·max, β = 3·j0 − 2 (> 0 for
    *     t > 0.8 — below that the band is vacuous, hence the floor on
    *     `minSim`).
    *  3. Match floor. J ≤ (m/|a| + m/|b| + 1)/3 ⇒
    *     m ≥ (3j0 − 1)·|a||b|/(|a|+|b|); minimized over partner lengths
    *     in the band (the product term is increasing, so the infimum
    *     sits at |b| = β·|a|): o(s) = ⌈(3j0 − 1)·β/(1+β)·s⌉ ≥ 1.
    *  4. Every Jaro match pairs EQUAL characters one-to-one, so the
    *     multiset character overlap of the two strings is ≥ m ≥ the
    *     pair's o bound. Prefix filtering over the rank-sorted
    *     (char, occurrence#) element multisets (Chaudhuri/Ganti/Kaushik
    *     ICDE 2006; Bayardo/Ma/Srikant WWW 2007): overlap ≥ o implies
    *     the first len − o + 1 sorted elements of BOTH strings share an
    *     element — per-record o(s) bounds only lengthen the prefixes,
    *     preserving the guarantee. Every true pair collides on a
    *     blocking key.
    *
    * The global element order is CORPUS-FREQUENCY ASCENDING
    * ([[jwRankMap]]) — prefixes hold each string's RAREST characters, so
    * blocking keys collide orders of magnitude less than under
    * code-point order, where every prefix fills with the commonest
    * characters.
    *
    * Scale shape: the shuffle carries (id, len, element) rows — single
    * characters, not documents; candidates come only from element
    * collisions inside the length band; one jaro_winkler per DISTINCT
    * candidate. A corpus that defeats it (long uniform-alphabet strings)
    * is REFUSED via the Σ c·(c−1)/2 estimate naming the worst elements.
    * Matching is per UTF-16 code unit, so like the expression itself
    * the guarantee is stated for BMP text. */
  def jaroWinklerPairsBlocked(df: DataFrame, idCol: String, textCol: String,
      minSim: Double, maxCandidates: Long = 50000000L): DataFrame =
    selfJoin(jwFamily(minSim, "jaroWinklerPairsBlocked"), df, idCol,
      textCol, maxCandidates)

  /** Cross-TABLE Jaro-Winkler join (entity resolution / fuzzy-name
    * join / ingest gate): every (left row, right row) pair with
    * jaro_winkler ≥ `minSim`, same blocking machinery and soundness
    * chain as [[jaroWinklerPairsBlocked]] — ONE frequency order is
    * computed over the UNION alphabet so both prefix frames sort
    * identically (the prefix-filter guarantee needs a shared total
    * order). Output: (id_a = left id, id_b = right id, jw); a left row
    * absent from the output has no right match (the gate decision). */
  def jaroWinklerJoin(left: DataFrame, leftId: String, leftText: String,
      right: DataFrame, rightId: String, rightText: String,
      minSim: Double, maxCandidates: Long = 50000000L): DataFrame =
    crossTables(jwFamily(minSim, "jaroWinklerJoin"), left, leftId, leftText,
      right, rightId, rightText, maxCandidates)

  /** The blocking-candidate volume estimate Σ_e c·(c−1)/2 that
    * [[jaroWinklerPairsBlocked]]'s guard consults, exposed so an
    * operator (or a soak) can MEASURE the regime before committing:
    * compare it against n·(n−1)/2 — blocking only beats the guarded
    * exact nested loop when this comes out well below the quadratic.
    * One element-construction pass + one bounded agg. */
  def jaroWinklerCandidateVolume(df: DataFrame, idCol: String,
      textCol: String, minSim: Double): Double = {
    val f = jwFamily(minSim, "jaroWinklerCandidateVolume")
    val Seq((block, _)) = f.keys(Seq(f.verify.base(df, idCol, textCol)))
    volume(selfPairs(f, block, block))
  }

  /** The Jaro-Winkler verify: jaro_winkler_min skips the match loops of
    * a pair whose lengths alone bound it below `minSim`, and returns the
    * exact similarity of every pair it keeps. */
  private def jwVerify(minSim: Double): Verify = {
    require(minSim > 0.0 && minSim <= 1.0,
      s"minSim must be in (0, 1], got $minSim")
    Verify("jw", jwBase,
      (a, b) => graft.functions.functions.jaro_winkler_min(a, b, minSim),
      _ >= minSim)
  }

  /** The Jaro-Winkler family: one (id, len, element) prefix frame per
    * side, its index and probe frames alike (symmetric), ranked by ONE
    * order over every side's alphabet and checkpointed (materialized);
    * candidates inside the length band. */
  private def jwFamily(minSim: Double, op: String): Family = {
    val (beta, coef) = jwBounds(minSim, op)
    Family(op, jwVerify(minSim), Seq("e"), sides => {
        val ranks = jwRankMap(sides)
        // only the corpus side (the last) spreads: a query batch's
        // exchange costs more than its element pass (see jwPrefixFrame)
        sides.zipWithIndex.map { case (b, i) =>
          val block = jwPrefixFrame(b, coef, ranks, spread = i == sides.size - 1)
          (block, block)
        }
      }, symmetric = true, materialized = true,
      // the length band as a REAL inequality — no rounding slack
      band = Some((la, lb) => least(la, lb).cast("double") >= lit(beta) * greatest(la, lb)),
      Wording("blocking-element", "prefix characters", "elements", "Raise minSim"),
      r => s"'${r.getStruct(0).getString(1)}'#${r.getStruct(0).getInt(2)}")
  }

  /** The Jaro floor implied by jw ≥ t: boost adds at most 0.4·(1−J)
    * (prefix ≤ 4, scale 0.1) and applies only above J = 0.7, so
    * J ≥ (t − 0.4)/0.6 in both the boosted and unboosted case. The
    * length band and match floor below derive from it — see
    * [[jaroWinklerPairsBlocked]] for the full chain. */
  private def jwBounds(minSim: Double, op: String): (Double, Double) = {
    require(minSim > 0.8 && minSim <= 1.0,
      s"$op needs minSim in (0.8, 1] (got $minSim): at or below 0.8 the " +
        "derived Jaro floor makes length and character blocking vacuous " +
        "— use the guarded exact variant instead")
    val j0 = (minSim - 0.4) / 0.6
    val beta = 3 * j0 - 2
    val coef = (3 * j0 - 1) * beta / (1 + beta)
    (beta, coef)
  }

  private def jwBase(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol).as("id"), col(textCol).as("t"),
        length(col(textCol)).as("len"))

  /** Rarest-first global character rank over the union alphabet of
    * `frames` — one bounded alphabet-sized aggregate, ties by char.
    * Every side of a blocking join MUST use the SAME order (any fixed
    * total order preserves the prefix-filter guarantee; frequency order
    * minimizes collisions). Corpora over 65536 distinct characters fall
    * back to code-point order (the EMPTY map — every char ranks 0 and
    * the char itself breaks the tie). */
  private def jwRankMap(frames: Seq[DataFrame]): Map[String, Int] = {
    val alphabetCap = 65536
    val freqRows = frames.map(_.select(explode(transform(sequence(lit(1),
        col("len")), i => col("t").substr(i, lit(1)))).as("c")))
      .reduce(_ unionAll _)
      .groupBy("c").agg(count(lit(1)).as("f"))
      .limit(alphabetCap + 1).collect()
    if (freqRows.length > alphabetCap) Map.empty
    else freqRows.map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (c, f) => (f, c) }.zipWithIndex
      .map { case ((c, _), i) => c -> i }.toMap
  }

  /** One side's (id, len, element) blocking frame: the first
    * len − o + 1 elements of the rank-sorted (rank, char, occurrence#)
    * multiset, o(s) = ⌈coef·s⌉. Built by ONE per-row sort in a
    * deterministic function with the bounded rank map in its closure —
    * an expression formulation (array_sort + an indexed transform
    * counting preceding equal chars) re-evaluates the captured sorted
    * array per element, because HOF lambdas do not bind outer subtrees:
    * O(n²·sort) interpreted work per row, measured as the dominant cost
    * of the blocked operators. Character granularity is the UTF-16 code
    * unit, matching [[graft.functions.JaroWinklerAlgo]]'s matching unit
    * (the soundness chain pairs EQUAL MATCH UNITS one-to-one); the
    * guarantee is stated for BMP text, as everywhere in this family. */
  private def jwPrefixFrame(base: DataFrame, coef: Double,
      ranks: Map[String, Int], spread: Boolean = true): DataFrame = {
    val elems = udf { (t: String) =>
      val n = t.length
      val chars = new Array[String](n)
      var i = 0
      while (i < n) { chars(i) = String.valueOf(t.charAt(i)); i += 1 }
      // (rank asc, char asc) — the struct order array_sort would apply;
      // equal chars share one rank, so each char's run is contiguous
      // and the occurrence counter below is exact even at the prefix cut
      val sorted = chars.sortBy(c => (ranks.getOrElse(c, 0), c))
      val keep = math.min(n,
        math.max(1, n - math.ceil(coef * n).toInt + 1))
      val occ = new java.util.HashMap[String, Integer](keep * 2)
      val out = new Array[JwElem](keep)
      i = 0
      while (i < keep) {
        val c = sorted(i)
        val o = occ.getOrDefault(c, 0).intValue()
        out(i) = JwElem(ranks.getOrElse(c, 0), c, o)
        occ.put(c, o + 1)
        i += 1
      }
      out.toSeq
    }
    // spread before the per-row sort kernel on CORPUS-shaped sides
    // only (guide §2.5): measured at sf0.1, the blocked self variant
    // gains ~1.5s from parallelizing the element pass while the gate's
    // ~100-row arrivals side LOSES ~0.8s to the extra exchange +
    // replans (the round-20 bench gate flagged exactly that)
    (if (spread) graft.core.Par.spread(base) else base)
      .select(col("id"), col("len"), explode(elems(col("t"))).as("e"))
  }

  // ——— SimHash ———

  /** 64-bit SimHash over word unigrams (deterministic FNV-based). */
  val simhash64 = udf { (s: String) =>
    if (s == null) 0L
    else {
      val acc = new Array[Int](64)
      s.toLowerCase.split("\\s+").filter(_.nonEmpty).foreach { t =>
        val h = hash64(t, 0L)
        var b = 0
        while (b < 64) { if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1; b += 1 }
      }
      var out = 0L; var b = 0
      while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
      out
    }
  }

  val hammingDist = udf { (a: Long, b: Long) => java.lang.Long.bitCount(a ^ b) }

  /** Near-dup pairs by SimHash: band the 64 bits into `bands` chunks
    * (pigeonhole: hamming ≤ bands-1 guarantees a shared band), bucket-join,
    * verify hamming ≤ maxHamming. */
  def nearDupPairsSimhash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBucket: Long = 8192L): DataFrame =
    bandedHammingPairs(
      df.select(col(idCol).as("id"), simhash64(col(textCol)).as("sim")),
      maxHamming, bands, maxBucket)

  /** The banded-hamming candidate join shared by every 64-bit-signature
    * near-dup operator (text SimHash, image average-hash): band the
    * signature into `bands` chunks (pigeonhole: hamming ≤ bands−1
    * guarantees a shared band), equi-join on (band, chunk), verify
    * hamming ≤ maxHamming. Pairs BEYOND bands−1 bits apart are returned
    * only when their differing bits happen to cluster (recall is
    * probabilistic there — raise `bands` to widen the guarantee at the
    * cost of more candidates). `sigs` must have columns (id, sim: long).
    * Returns (id_a, id_b, hamming), id_a < id_b.
    *
    * Skew guard: buckets larger than `maxBucket` emit a min-id
    * representative STAR (M−1 candidate pairs, one linear task) instead
    * of the M²/2 pairwise join — the [[nearDupPairsMinhash]] treatment,
    * upgraded from the pre-round-10 drop-the-bucket behavior, which
    * silently LOST whole boilerplate clusters (an identical-signature
    * cluster over-caps every band, so no band surfaced any of its
    * pairs). Exact Hamming verify still runs on every emitted pair, so
    * a loose over-cap bucket (16 shared bits ≠ near-dup) costs M
    * verify rows and yields only its true pairs; pairwise completeness
    * INSIDE an over-cap cluster trades down to the star + other-band
    * recall, which connected-component grouping recovers. */
  def bandedHammingPairs(sigs: DataFrame, maxHamming: Int,
      bands: Int, maxBucket: Long = 8192L): DataFrame = {
    require(bands >= 1 && 64 % bands == 0, s"bands must divide 64, got $bands")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val bits = 64 / bands
    // materialized once, placed on the band key: without the checkpoint
    // the signature pass (a UDF over corpus text for SimHash) re-runs in
    // every branch below (sizes + both cap branches = 3 corpus passes),
    // and without the placement each branch re-shuffles the banded rows
    val banded = sigs.select(col("id"), col("sim"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("chunk", expr(s"shiftrightunsigned(sim, band * $bits)")
        .bitwiseAND(lit((1L << bits) - 1)))
      .repartition(col("band"), col("chunk"))
      .localCheckpoint()
    val sizes = banded.groupBy("band", "chunk").count()
    val small = banded.join(
      sizes.filter(col("count") <= maxBucket).select("band", "chunk"),
      Seq("band", "chunk"))
    val pairsSmall = small.as("a").join(small.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sim").as("sim_a"), col("b.sim").as("sim_b"))
    val big = banded.join(
      sizes.filter(col("count") > maxBucket).select("band", "chunk"),
      Seq("band", "chunk"))
    val reps = big.groupBy("band", "chunk")
      .agg(min(struct(col("id"), col("sim"))).as("__r__"))
      .select(col("band"), col("chunk"),
        col("__r__.id").as("__rid__"), col("__r__.sim").as("__rsim__"))
    val pairsBig = big.join(reps, Seq("band", "chunk"))
      .filter(col("id") =!= col("__rid__"))
      .select(col("__rid__").as("id_a"), col("id").as("id_b"),
        col("__rsim__").as("sim_a"), col("sim").as("sim_b"))
    val cands = pairsSmall.unionByName(pairsBig).distinct()
    cands.withColumn("hamming", hammingDist(col("sim_a"), col("sim_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // ——— embedding cosine near-dup ———

  /** All pairs with cosine distance ≤ maxDist, exact O(n²) self-join —
    * the small-corpus / oracle-checkable baseline. Guarded: inputs above
    * `maxRows` throw instead of silently launching an n² job. */
  def nearDupPairsCosineExact(
      df: DataFrame, idCol: String, vecCol: String, maxDist: Double,
      maxRows: Long = 100000L): DataFrame = {
    guardAllPairs(df, "nearDupPairsCosineExact", maxRows,
      "nearDupPairsCosineLsh")
    // spread the streamed side — see [[editDistancePairsExact]]
    val parts = df.sparkSession.sparkContext.defaultParallelism
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
      .repartition(parts)
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("dist", vector_distance(col("vec_a"), col("vec_b"), "cosine"))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  // ——— SemDeDup-style semantic dedup (bucketed embedding dedup) ———

  /** Sign-bucket id: Σ 2^i·[vec[i] > 0] over the first `bits` components
    * — a deterministic, SQL-expressible bucketing (the identity-hyperplane
    * special case of SRP). The oracle query uses this; real corpora pass a
    * coding's cell assignment to [[semanticDedup]] instead. */
  def signBuckets(vecCol: String, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    expr((0 until bits)
      .map(i => s"CASE WHEN $vecCol[$i] > 0 THEN ${1 << i} ELSE 0 END")
      .mkString("CAST((", " + ", ")  AS BIGINT)"))
  }

  /** Semantic dedup (the SemDeDup shape, Abbas et al. 2023): drop every
    * row whose bucket holds an EARLIER (smaller-id) row within cosine
    * `maxDist`; keep the rest. Candidate pairs are generated only inside
    * a bucket, so the quadratic stage is per-bucket-bounded — at 100 TB
    * pass the IVF cell id of a trained coding as `bucket` (k-means
    * clusters — the paper's exact setting) and the pair join shuffles
    * hash-partitioned (bucket, id, vec) rows with ~cellRows² work per
    * cell, never an all-pairs stage. Buckets larger than `maxBucketRows`
    * fail loudly up front (correctness here needs every bucket — unlike
    * the LSH path, dropping one isn't a recall trade): re-bucket with
    * more cells/bits instead.
    *
    * Returns the surviving rows with their original schema.
    */
  def semanticDedup(
      df: DataFrame, idCol: String, vecCol: String, maxDist: Double,
      bucket: Column, maxBucketRows: Long = 8192L): DataFrame = {
    // (bucket, id, vec) computed once per downstream scan; the survivor
    // anti-join below deliberately reads the PLAIN df (no bucket eval on
    // that side). When the bucketing expression is expensive (an IVF
    // cell assignment), pass a PRE-MATERIALIZED code column instead —
    // Engine.semanticDedup reads the stored index copy for exactly this.
    // explicit __SB__ placement makes the three reads below (size guard,
    // both self-join sides) share ONE identical Exchange subtree —
    // ReuseExchange computes the scan + shuffle once and wires the other
    // two branches to it, where the un-placed form shuffled each branch
    // separately
    val vecs = df.select(bucket.as("__SB__"), col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec"))
      .repartition(col("__SB__"))
    val biggest = vecs.groupBy("__SB__").count()
      .agg(max("count")).collect()(0)
    if (!biggest.isNullAt(0))
      require(biggest.getLong(0) <= maxBucketRows,
        s"semanticDedup: largest bucket has ${biggest.getLong(0)} rows " +
          s"(> maxBucketRows=$maxBucketRows); per-bucket pair generation " +
          "is quadratic — re-bucket with more cells/bits, or raise the " +
          "cap explicitly.")
    val dropped = vecs.select(col("__SB__"), col("id").as("id_a"), col("vec").as("vec_a"))
      .join(vecs.select(col("__SB__"), col("id").as("id_b"), col("vec").as("vec_b")),
        Seq("__SB__"))
      .where(col("id_b") < col("id_a") &&
        vector_distance(col("vec_a"), col("vec_b"), "cosine") <= maxDist)
      .select(col("id_a").as("__drop__")).distinct()
    // shuffle_hash: the drop-id set's post-agg estimate defeats
    // auto-broadcast and sort-merge would sort the whole corpus side
    // (guide §3.1) — hash the slim id set, stream the corpus sort-free
    df.join(dropped.hint("shuffle_hash"),
      col(idCol) === col("__drop__"), "left_anti")
  }

  /** Scale path: multi-table random-hyperplane (SRP) LSH. `numTables`
    * independent sign-bit signatures of `numPlanes` bits each; a pair is a
    * candidate if it collides in ANY table (prob 1-(1-p^b)^L, p = 1-θ/π),
    * then exact cosine verify computed INSIDE the bucket-join stage —
    * candidates are filtered down to true pairs before any further
    * exchange, so the only wide shuffles are the banded (id, bucket, vec)
    * rows (n·L of them, hash-partitioned by bucket) and a final dedupe of
    * the surviving pairs (tiny). No all-pairs stage, no candidate
    * materialization. Hyperplanes are generated deterministically from
    * `seed` at the FULL vector dimensionality (taken from each row).
    *
    * Parameter guidance: recall for a pair at angle θ is 1-(1-p^b)^L with
    * p = 1-θ/π per plane. The defaults (b = 5, L = 32) hold recall ≳ 0.95
    * out to cosine distance 0.30 (p = 0.63 — a LOOSE threshold; most of
    * the collision-prob curve's discrimination is gone there). For tight
    * near-dup thresholds (≤ 0.1, p ≥ 0.8) raise `numPlanes` to 8-16 to cut
    * candidate volume — recall stays high because p^b decays slowly for
    * genuinely close pairs. */
  def nearDupPairsCosineLsh(
      df: DataFrame, idCol: String, vecCol: String, maxDist: Double,
      numPlanes: Int = 5, numTables: Int = 32, seed: Long = 42L,
      maxBucket: Long = 8192L): DataFrame = {
    val (nP, nT, sd) = (numPlanes, numTables, seed)
    require(nP >= 1 && nP <= 32, s"numPlanes must be in [1,32], got $nP")
    val bucketsUdf = udf { (v: Seq[Double]) =>
      // unbox ONCE: indexing the boxed ArraySeq the converter hands over
      // costs ~100× a primitive-array access in this hot loop
      val a = v.toArray
      val planes = CosineLsh.planesFor(nT, nP, a.length, sd)
      Array.tabulate(nT) { t =>
        var sig = 0L
        var p = 0
        while (p < nP) {
          val pl = planes(t)(p)
          var dot = 0.0
          var i = 0
          while (i < a.length) { dot += pl(i) * a(i); i += 1 }
          if (dot >= 0) sig |= (1L << p)
          p += 1
        }
        (t.toLong << 32) | sig
      }
    }
    // Three distributed stages, all parallel by key — no per-bucket
    // materialization (a collect_list of a hot bucket would put the whole
    // bucket into ONE aggregation row — 2 GB row limit — and verify it in
    // one task, which is exactly the failure mode at scale):
    //   1. candidates: self-join of (bucket, id) pairs — 8-byte ids only,
    //      no vectors ride the quadratic stage — deduped to unique
    //      (id_a, id_b) so a pair colliding in many tables verifies once;
    //   2. verify: join the two vectors back by id (one row per unique
    //      candidate pair) and keep pairs within maxDist — the same
    //      "join back only for survivors of the cheap stage" shape as the
    //      MinHash path;
    //   3. bucket-size cap: buckets larger than `maxBucket` are dropped
    //      up front — a bucket's pair generation runs in ONE join task
    //      (the bucket id is the shuffle key), so the cap bounds per-task
    //      work at ~maxBucket²/2 id-comparisons (8192 → ≤33M, seconds);
    //      hyperplanes that don't discriminate for a region would
    //      otherwise contribute unbounded quadratic volume, and
    //      genuinely-near pairs still collide in the other L−1 tables
    //      (recall trade documented; raise numPlanes to shrink buckets
    //      instead of raising the cap).
    // spread before the signature kernel (L·b·d multiply-adds per row —
    // ~10k at the defaults): a single-row-group scan otherwise computes
    // every signature in one task, twice (both `banded` reads) —
    // guide §2.5; no-op on already-parallel inputs
    val vecs = graft.core.Par.spread(df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec")))
    val banded = vecs
      .withColumn("bucket", explode(bucketsUdf(col("vec"))))
      .select("bucket", "id")
    val sized = banded.join(
      banded.groupBy("bucket").count().filter(col("count") <= maxBucket)
        .select("bucket"),
      Seq("bucket"))
    val candidates = sized.select(col("bucket"), col("id").as("id_a"))
      .join(sized.select(col("bucket"), col("id").as("id_b")), Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    candidates
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .withColumn("dist", vector_distance(col("vec_a"), col("vec_b"), "cosine"))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }
}

/** Deterministic per-executor cache of SRP hyperplanes (tiny: L·b·d
  * doubles); keyed by dimensionality so the full vector is always hashed. */
private[ext] object CosineLsh {
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int, Int, Long), Array[Array[Array[Double]]]]()

  /** Entries are RADEMACHER (±1), derived per (table, plane, dim) from
    * the shared FNV hash — sign-random-projection only needs a symmetric
    * component distribution, and hash-derived ±1 makes the whole LSH
    * pipeline deterministic arithmetic a DuckDB oracle can mirror
    * term-for-term (a JVM-seeded Gaussian cannot be). */
  def planesFor(numTables: Int, numPlanes: Int, dim: Int,
      seed: Long): Array[Array[Array[Double]]] =
    cache.computeIfAbsent((numTables, numPlanes, dim, seed), _ =>
      // bit-count PARITY of the full 64-bit hash, not a single output
      // bit: FNV-1a's low bits mix poorly across near-identical inputs
      // ("0:0:1" vs "0:0:2"), and a biased sign pattern collapses SRP
      // recall (observed 0.67 with bit 0; parity restores ≥ 0.9)
      Array.tabulate(numTables, numPlanes, dim)((t, p, i) =>
        if ((java.lang.Long.bitCount(Dedup.hash64(s"$t:$p:$i", seed)) & 1) == 1)
          1.0 else -1.0))
}
