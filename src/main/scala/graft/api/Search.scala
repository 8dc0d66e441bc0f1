package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.functions.vector_distance

/** Brute-force and filtered top-k vector search.
  *
  * Capability parity with the reference search pipeline
  * (`/root/reference/src/fenix/io/index/index.py:81-170`): optional
  * predicate filter -> distance column -> optional projection -> top-k.
  * Expressed as one declarative DataFrame chain so Catalyst pushes the
  * filter into the scan, prunes columns, and plans the `orderBy().limit(k)`
  * as `TakeOrderedAndProject` (a distributed per-partition top-k + merge —
  * no total sort, no single-node bottleneck at scale).
  */
object Search {
  /** Name contract from the reference (`index.py:14-15`). */
  val DistCol = "__DISTANCE__"
  val CodeCol = "__CODED_ID__"

  /** Default cap on the ESTIMATED size of a query-batch broadcast in the
    * batch kNN joins. A 1M-query × 256-d float batch is ~2 GB of raw
    * vectors (× probes in the IVF paths) — past the driver / broadcast
    * limits with an opaque OOM, at exactly the "amortize many queries
    * over one corpus pass" scale the joins advertise. Batches estimated
    * above the cap are hash-split into chunks and the per-chunk top-k
    * unioned — exactly equivalent (each query's top-k depends only on
    * its own chunk), trading one corpus pass per chunk for a bounded
    * broadcast. */
  val QueryBroadcastCap: Long = 256L << 20

  /** Splits a query batch into deterministic hash chunks so no single
    * broadcast exceeds `capBytes` (estimated: vector payload + per-row
    * overhead + `perReplicaExtraBytes` for columns the caller derives
    * per replicated row — e.g. [[graft.index.Index.pqKnnJoin]]'s m·k·8-
    * byte ADC lookup table per (query, probed cell) — times
    * `replication` for joins that explode each query to its probed
    * cells). One chunk returns the batch unchanged; the sizing agg is
    * one tiny job over the query side. */
  private[graft] def chunkByBroadcastSize(
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      replication: Int,
      capBytes: Long,
      perReplicaExtraBytes: Long = 0L): Seq[DataFrame] = {
    require(capBytes > 0, "broadcastCapBytes must be > 0")
    require(perReplicaExtraBytes >= 0, "perReplicaExtraBytes must be >= 0")
    val r = queries
      .agg(count(lit(1)), max(size(col(queryVecCol).cast("array<double>"))))
      .head
    val nq = r.getLong(0)
    if (nq == 0L) return Seq(queries)
    val dim = if (r.isNullAt(1)) 0 else r.getInt(1)
    val rowBytes =
      (dim.toLong * 8 + 64 + perReplicaExtraBytes) * math.max(1, replication)
    val est = nq * rowBytes
    val chunks = math.min(nq, math.max(1L, (est + capBytes - 1) / capBytes)).toInt
    if (chunks == 1) Seq(queries)
    else (0 until chunks).map(i =>
      queries.filter(pmod(xxhash64(col(queryIdCol)), lit(chunks)) === i))
  }

  /** Top-k nearest rows to a single target vector.
    *
    * The target arrives as a 1-row DataFrame (column `targetCol`) and is
    * broadcast — the query vector never forces a shuffle of the corpus.
    * Mirrors `index.call`: the distance column is always appended, even
    * under an explicit `select` (`index.py:128-129,163`).
    *
    * @param tieBreak  extra ordering columns after distance, for
    *                  deterministic results under distance ties.
    */
  def knn(
      df: DataFrame,
      vecCol: String,
      target: DataFrame,
      metric: String,
      k: Int,
      filter: Option[Column] = None,
      select: Option[Seq[String]] = None,
      tieBreak: Seq[String] = Nil,
      distCol: String = DistCol): DataFrame = {
    val targetCol = target.columns.head
    val filtered = filter.fold(df)(df.filter)
    val withDist = filtered
      .crossJoin(broadcast(target))
      .withColumn(distCol, vector_distance(col(vecCol), col(targetCol), metric))
      .drop(targetCol)
    val projected = select.fold(withDist)(cols => withDist.select((cols :+ distCol).map(col): _*))
    projected.orderBy(col(distCol).asc_nulls_last +: tieBreak.map(col(_).asc): _*).limit(k)
  }

  /** Matryoshka (MRL) prefix-truncation search: coarse-rank on the FIRST
    * `prefixDim` dimensions, exact-rerank the `candidates` survivors on
    * the full vector. Matryoshka-trained embeddings (Kusupati et al.
    * 2022) pack most of the signal into a prefix, so a d/8 prefix scan
    * ranks nearly as well as the full vector at 1/8 the compute — and,
    * with `prefixCol` pointing at a MATERIALIZED prefix column, 1/8 the
    * scan I/O too (column pruning keeps the full vector out of the
    * coarse pass entirely; the lazy `slice` fallback saves compute
    * only). With candidates ≥ corpus this is exact (the oracle
    * contract). Works index-free on any table; compose with the IVF
    * tiers by indexing the prefix column instead.
    *
    * @param idCol unique-per-row id: the coarse pass emits ids only, full
    *   rows return via a broadcast join of the ≤ `candidates` survivors,
    *   so the full-width vectors never cross a shuffle. */
  def matryoshkaSearch(
      df: DataFrame,
      vecCol: String,
      target: TargetVector,
      prefixDim: Int,
      candidates: Int,
      idCol: String,
      k: Int = 10,
      metric: String = "l2",
      prefixCol: Option[String] = None,
      filter: Option[Column] = None,
      select: Option[Seq[String]] = None,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(prefixDim > 0 && prefixDim <= target.length,
      s"matryoshkaSearch: prefixDim $prefixDim out of (0, ${target.length}]")
    require(candidates >= k,
      s"matryoshkaSearch: candidates $candidates < k $k")
    val prefixTarget = typedLit(target.doubles.take(prefixDim).toSeq)
    val base = filter.fold(df)(df.filter)
    val coarseVec = prefixCol.map(col).getOrElse(slice(col(vecCol), 1, prefixDim))
    val coarseIds = base
      .select(col(idCol), coarseVec.as("__PFX__"))
      .withColumn("__PD__", vector_distance(col("__PFX__"), prefixTarget, metric))
      .orderBy(col("__PD__").asc_nulls_last, col(idCol).asc)
      .limit(candidates)
      .select(idCol)
    val reranked = base.join(broadcast(coarseIds), Seq(idCol))
      .withColumn(DistCol, vector_distance(col(vecCol), target.lit, metric))
    val projected = select.fold(reranked)(cols =>
      reranked.select((cols :+ DistCol).map(col): _*))
    projected.orderBy(col(DistCol).asc_nulls_last +: tieBreak.map(col(_).asc): _*).limit(k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009): combine
    * N rankings of the same id space into one by summing
    * `1 / (kRrf + rank_i)` over the lists an id appears in — the
    * standard score-free way to fuse heterogeneous retrievers (dense ANN
    * + lexical BM25, or several metrics) whose raw scores are not
    * comparable.
    *
    * Each input is `(DataFrame, scoreCol)` with ASCENDING = better
    * (distance convention). Each list is first truncated to
    * `perListLimit` rows by (score asc, id asc) — a distributed
    * TakeOrderedAndProject — so the rank window and the outer-join
    * fusion run on N×perListLimit rows, never on a corpus: RRF is
    * defined over top-N lists, and that bound is what keeps the
    * single-partition rank window harmless at any corpus scale. Ranks
    * are 1-based integers with ties broken by id, and the fused score is
    * the LEFT-ASSOCIATIVE sum of the per-list terms in input order —
    * fully deterministic, so the whole operator is SQL-mirrorable.
    * Output: (idCol, rrf_score), top-k by score desc, id asc. */
  def rrfFuse(
      rankings: Seq[(DataFrame, String)],
      idCol: String,
      k: Int,
      kRrf: Int = 60,
      perListLimit: Int = 1000): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: at least one ranking")
    require(kRrf >= 1, s"rrfFuse: kRrf must be >= 1, got $kRrf")
    require(perListLimit >= 1,
      s"rrfFuse: perListLimit must be >= 1, got $perListLimit")
    import org.apache.spark.sql.expressions.Window
    val rankCols = rankings.indices.map(i => s"__rank_$i")
    val ranked = rankings.zipWithIndex.map { case ((df, scoreCol), i) =>
      val top = df.select(col(idCol), col(scoreCol))
        .orderBy(col(scoreCol).asc, col(idCol).asc)
        .limit(perListLimit)
      // the un-partitioned window is bounded by perListLimit rows (the
      // limit above) — never a corpus-scale single partition
      top.withColumn(rankCols(i), row_number().over(
          Window.orderBy(col(scoreCol).asc, col(idCol).asc)))
        .select(col(idCol), col(rankCols(i)))
    }
    val joined = ranked.reduce(_.join(_, Seq(idCol), "full_outer"))
    val score = rankCols.map(rc =>
        coalesce(lit(1.0d) / (lit(kRrf.toDouble) + col(rc).cast("double")), lit(0.0d)))
      .reduce(_ + _)
    joined.withColumn("rrf_score", score)
      .select(col(idCol), col("rrf_score"))
      .orderBy(col("rrf_score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Batch k-NN join: top-k corpus rows per query row.
    *
    * Generalizes the reference's single-target search to a set of queries
    * (broadcast) — the Spark-shaped replacement for "online" ANN: queries
    * are batched, the corpus streams once, per-query top-k via window rank.
    * Query batches whose estimated broadcast exceeds `broadcastCapBytes`
    * are hash-chunked and the per-chunk top-k unioned (equivalent; see
    * [[QueryBroadcastCap]]).
    *
    * @param idCol unique-per-corpus-row id column. When set, the join is
    *   codes-light: distances are scored map-side in the broadcast join's
    *   projection and only (queryId, id, distance, tie-breaks) ride the
    *   per-query window exchange — the corpus' float vectors never cross
    *   a shuffle; full rows return via a broadcast join of the ≤
    *   queries·k survivors. Without an id the full corpus row (vector
    *   included) rides the window — fine for small corpora, a scale
    *   hazard past that.
    */
  def knnJoin(
      corpus: DataFrame,
      vecCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      metric: String,
      k: Int,
      tieBreak: Seq[String] = Nil,
      distCol: String = DistCol,
      idCol: Option[String] = None,
      broadcastCapBytes: Long = QueryBroadcastCap): DataFrame = {
    val qs = queries.select(col(queryIdCol), col(queryVecCol))
    chunkByBroadcastSize(qs, queryIdCol, queryVecCol, 1, broadcastCapBytes)
      .map(ch => knnJoinChunk(corpus, vecCol, ch, queryIdCol, queryVecCol,
        metric, k, tieBreak, distCol, idCol))
      .reduce(_.unionByName(_))
  }

  private def knnJoinChunk(
      corpus: DataFrame,
      vecCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      metric: String,
      k: Int,
      tieBreak: Seq[String],
      distCol: String,
      idCol: Option[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col(distCol).asc_nulls_last +: tieBreak.map(col(_).asc): _*)
    idCol match {
      case Some(id) =>
        val coarseCols = (id +: tieBreak).distinct
        val scored = corpus
          .select((coarseCols :+ vecCol).distinct.map(col): _*)
          .crossJoin(broadcast(queries))
          .withColumn(distCol, vector_distance(col(vecCol), col(queryVecCol), metric))
          .select(col(queryIdCol) +: col(distCol) +: coarseCols.map(col): _*)
        val topk = scored.withColumn("__rank__", row_number().over(w))
          .filter(col("__rank__") <= k)
          .select(col(queryIdCol), col(distCol), col(id))
        broadcast(topk).join(corpus, Seq(id))
      case None =>
        corpus
          .crossJoin(broadcast(queries))
          .withColumn(distCol, vector_distance(col(vecCol), col(queryVecCol), metric))
          .drop(queryVecCol)
          .withColumn("__rank__", row_number().over(w))
          .filter(col("__rank__") <= k)
          .drop("__rank__")
    }
  }

  /** Top-k documents by late-interaction MaxSim over a multi-vector
    * (token-embedding-matrix) column — ColBERT-style retrieval
    * ([[graft.functions.MaxSim]]; smaller distance = nearer).
    *
    * `candidates = 0` scores every document exactly — one narrow corpus
    * pass, distributed `TakeOrderedAndProject`. `candidates > 0` runs the
    * standard late-interaction serving shape: a cheap coarse stage ranks
    * documents by single-vector distance between their MEAN-POOLED tokens
    * and the mean-pooled query (pooling via builtin HOFs — stays in
    * codegen), keeps `candidates` survivors, then reranks them with exact
    * MaxSim — the token-matrix pair loop runs on `candidates` docs, not
    * the corpus. At `candidates` ≥ corpus size the result is exact (the
    * oracle contract). Pass `poolCol` to reuse a precomputed pooled-vector
    * column (e.g. persisted next to the tokens, or indexed by the IVF
    * tiers) instead of pooling inline.
    */
  def maxsimSearch(
      docs: DataFrame,
      tokensCol: String,
      query: Seq[Seq[Double]],
      metric: String,
      k: Int,
      candidates: Int = 0,
      tieBreak: Seq[String] = Nil,
      poolCol: Option[String] = None,
      distCol: String = DistCol): DataFrame = {
    require(query.nonEmpty && query.head.nonEmpty, "maxsimSearch: empty query")
    require(metric == "dot" || metric == "cosine",
      s"maxsimSearch supports dot | cosine, got '$metric'")
    import graft.functions.functions.{maxsim, tokens_lit, vector_distance, vector_lit}
    val ord: Seq[Column] => Seq[Column] = cs => cs ++ tieBreak.map(col(_).asc)
    val coarse =
      if (candidates <= 0) docs
      else {
        val dim = query.head.length
        val pooledQuery = (0 until dim).map(i => query.map(_(i)).sum / query.length)
        val pooled = poolCol.map(col).getOrElse {
          val toks = col(tokensCol).cast("array<array<double>>")
          aggregate(toks,
            array_repeat(lit(0.0d), dim),
            (acc, t) => zip_with(acc, t, (a, b) => a + b),
            acc => transform(acc, x => x / size(col(tokensCol))))
        }
        docs.withColumn("__POOL_DIST__",
            vector_distance(pooled, vector_lit(pooledQuery), metric))
          .orderBy(ord(Seq(col("__POOL_DIST__").asc_nulls_last)): _*)
          .limit(candidates)
          .drop("__POOL_DIST__")
      }
    coarse
      .withColumn(distCol, maxsim(col(tokensCol), tokens_lit(query), metric))
      .orderBy(ord(Seq(col(distCol).asc_nulls_last)): _*)
      .limit(k)
  }

  /** [[chunkByBroadcastSize]] for a MULTI-vector (token-matrix) query
    * column: row size is the total element count across the matrix. */
  private[graft] def chunkTokenBatch(
      queries: DataFrame,
      queryIdCol: String,
      tokensCol: String,
      capBytes: Long): Seq[DataFrame] = {
    require(capBytes > 0, "broadcastCapBytes must be > 0")
    val r = queries
      .agg(count(lit(1)),
        max(size(flatten(col(tokensCol).cast("array<array<double>>")))))
      .head
    val nq = r.getLong(0)
    if (nq == 0L) return Seq(queries)
    val elems = if (r.isNullAt(1)) 0 else r.getInt(1)
    val est = nq * (elems.toLong * 8 + 64)
    val chunks = math.min(nq, math.max(1L, (est + capBytes - 1) / capBytes)).toInt
    if (chunks == 1) Seq(queries)
    else (0 until chunks).map(i =>
      queries.filter(pmod(xxhash64(col(queryIdCol)), lit(chunks)) === i))
  }

  /** Batch late-interaction join: top-k corpus documents per multi-vector
    * query row — the MaxSim analog of [[knnJoin]], always codes-light
    * (multi-vector corpora are exactly where full rows must not ride a
    * shuffle): scores are computed in the broadcast-join projection, only
    * (queryId, id, distance, tie-breaks) cross the per-query window
    * exchange, and full rows return via a broadcast join of the ≤
    * queries·k survivors. Over-cap query batches hash-chunk exactly like
    * the single-vector joins. */
  def maxsimJoin(
      corpus: DataFrame,
      tokensCol: String,
      idCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTokensCol: String,
      metric: String,
      k: Int,
      tieBreak: Seq[String] = Nil,
      distCol: String = DistCol,
      broadcastCapBytes: Long = QueryBroadcastCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.functions.maxsim
    val qs = queries.select(col(queryIdCol), col(queryTokensCol))
    chunkTokenBatch(qs, queryIdCol, queryTokensCol, broadcastCapBytes).map { ch =>
      val w = Window.partitionBy(col(queryIdCol))
        .orderBy(col(distCol).asc_nulls_last +: tieBreak.map(col(_).asc): _*)
      val coarseCols = (idCol +: tieBreak).distinct
      val scored = corpus
        .select((coarseCols :+ tokensCol).distinct.map(col): _*)
        .crossJoin(broadcast(ch))
        .withColumn(distCol, maxsim(col(tokensCol), col(queryTokensCol), metric))
        .select(col(queryIdCol) +: col(distCol) +: coarseCols.map(col): _*)
      val topk = scored.withColumn("__rank__", row_number().over(w))
        .filter(col("__rank__") <= k)
        .select(col(queryIdCol), col(distCol), col(idCol))
      broadcast(topk).join(corpus, Seq(idCol))
    }.reduce(_.unionByName(_))
  }
}
