package graft.index

import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, GraftShims, ResidentScan, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.api.Search
import graft.coder.Coding
import graft.functions.functions.vector_distance
import graft.store.{Store, Swap}

/** IVF-style index: a cell-partitioned materialization of the source.
  *
  * Capability parity with the reference index
  * (`/root/reference/src/fenix/io/index/index.py:37-65` build,
  * `index.py:81-170` search) re-shaped for Spark: instead of a
  * positionally-joined `__CODED_ID__` sidecar (impossible without stable
  * row order), the table is rewritten Parquet-partitioned by cell id.
  * A probed search then becomes `filter(__CODED_ID__ isin cells)` which
  * Catalyst turns into *partition pruning* — only ~probes/k^n of the data
  * is read, which is exactly the IVF scan-fraction contract, and it
  * composes with pushed-down user predicates for free.
  */
object Index {
  val CodeCol: String = Search.CodeCol

  /** Cell assignment as a UDF over the vector column (the k=1 coder UDF,
    * `coder.py:83-89`). Centroids ride the closure (tiny: n·k·d doubles). */
  def assignUdf(coding: Coding): UserDefinedFunction =
    udf((v: Seq[Double]) => Option(v).map(x => coding.assign(x.toArray)))

  /** Cell assignment as a codegen'd native expression (the hot path —
    * reads float arrays in place, no boxing/casting). */
  def assignExpr(vec: Column, coding: Coding): Column =
    org.apache.spark.sql.GraftShims.column(
      graft.functions.CellAssign(
        org.apache.spark.sql.GraftShims.expression(vec), coding))

  /** Source-file provenance column stored in the plain IVF copy: the
    * source parquet file each indexed row came from (`_metadata.file_name`
    * at build/sync time). Stripped by [[load]]; consumed by [[repair]],
    * which uses it to rewrite only the cells touched by changed files. */
  val SrcFileCol: String = "__SRC_FILE__"

  /** Build (or rebuild) the index for `source.column` under `codingName` —
    * reference `make-index` / `sync_index` (A2). One distributed pass. */
  def build(store: Store, codingName: String, source: String, column: String): Unit = {
    val coding = store.loadCoding(codingName)
    // listing + stamp BEFORE reading: a concurrent source change mid-build
    // then leaves a stale stamp (conservative — freshness check fails)
    // rather than a wrongly-fresh one
    val listing = store.sourceListing(source)
    val df = store.loadTable(source)
    Swap.replace(store.fs, new Path(store.indexPath(source, column, codingName))) { image =>
      writeCells(df.withColumn(SrcFileCol, col("_metadata.file_name"))
        .withColumn(CodeCol, assignExpr(col(column), coding)), coding.numCells, image)
      recordSourceStamp(store, image, listing)
    }
    warnIfSkewed(store, codingName, source, column)
  }

  /** The cell write of every build and [[repair]]: `coded` written
    * under `path` partitioned by cell. Rows are clustered by cell first:
    * without this every task writes a file into every cell directory
    * (tasks × cells tiny files); with it each cell is one task's output.
    * Hash-repartition on the cell id keeps it one shuffle, sized to the
    * `cells` written. */
  private def writeCells(coded: DataFrame, cells: Long, path: String): Unit = {
    val parts = math.max(1, math.min(cells,
      coded.sparkSession.sparkContext.defaultParallelism.toLong * 2).toInt)
    coded.repartition(parts, col(CodeCol))
      .write
      .partitionBy(CodeCol)
      .parquet(path)
  }

  private[graft] val StampFile = "_source_stamp.json"
  private def stampSidecar(path: String) = s"$path/$StampFile"

  /** The sidecar records both the MD5 stamp and the full (name:len:mtime)
    * listing it hashes — sync needs the listing to prove growth was
    * append-only before re-stamping, and [[repair]] diffs it to find
    * WHICH files changed. */
  private[graft] def recordSourceStamp(store: Store, indexPath: String,
      listing: Seq[String]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val payload = mapper.createObjectNode()
    payload.put("stamp", store.stampOf(listing))
    val arr = payload.putArray("files")
    listing.foreach(arr.add)
    store.writeSidecar(stampSidecar(indexPath), mapper.writeValueAsBytes(payload))
  }

  /** The recorded source listing, if the sidecar carries one (indexes
    * stamped before the listing field report None). */
  private[graft] def recordedListing(store: Store, indexPath: String): Option[Seq[String]] = {
    val sc = stampSidecar(indexPath)
    if (!store.sidecarExists(sc)) return None
    val n = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(store.readSidecar(sc))
    Option(n.get("files")).map { files =>
      (0 until files.size()).map(i => files.get(i).asText())
    }
  }

  private[graft] def recordedStamp(store: Store, indexPath: String): Option[String] = {
    val sc = stampSidecar(indexPath)
    if (!store.sidecarExists(sc)) return None
    Option(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(store.readSidecar(sc)).get("stamp")).map(_.asText())
  }

  /** Whether the materialized index copy exists AND was built/synced from
    * the CURRENT content of `source` (the stamp recorded at build/sync
    * time matches the source's file-listing stamp now — catches
    * same-row-count rewrites that count-equality checks miss). Indexes
    * predating the stamp sidecar report not-fresh. */
  def indexFresh(store: Store, codingName: String, source: String,
      column: String): Boolean =
    indexExists(store, codingName, source, column) &&
      recordedStamp(store, store.indexPath(source, column, codingName))
        .contains(store.sourceStamp(source))

  /** Tier-generalized [[indexFresh]]: whether the `tier` copy
    * (ivf | pq | sq | bq) exists and was built/synced from the CURRENT
    * source content. Every tier build records the source file-listing
    * stamp and every tier sync re-stamps only on verifiably append-only
    * growth, so an in-place source rewrite makes ALL tiers report
    * not-fresh (tier copies predating their stamp also report
    * not-fresh — rebuild to adopt). */
  def tierFresh(store: Store, codingName: String, source: String,
      column: String, tier: String = "ivf"): Boolean = {
    val path = tierPath(store, codingName, source, column, tier)
    store.sidecarExists(s"$path/_SUCCESS") &&
      recordedStamp(store, path).contains(store.sourceStamp(source))
  }

  /** A tier's stored codec — all that maintenance needs to know of a
    * tier beyond the shared cell layout. [[syncIncremental]] and
    * [[repair]] run every step; a tier supplies only:
    *   - `path`, its cell-partitioned copy (a [[tierPath]]);
    *   - `encode`, which adds the tier's code column to rows that
    *     already carry `__CODED_ID__`, under the STORED codec
    *     (codebooks / affine params / sign thresholds). Maintenance never
    *     re-fits: a shifted value distribution is a rebuild decision;
    *   - `rebuild`, a full build under the STORED config (per-cell mode,
    *     PQ m/k/metric/residual);
    *   - `readable`, false when the codec sidecar no longer reads
    *     (malformed, or from before the tier's current codec): [[repair]]
    *     then rebuilds, and [[syncIncremental]] refuses.
    * `encode` and `readable` read the codec when first called, which both
    * callers do inside `Swap.install`: under the tier's lock, so a build
    * that replaced the tier meanwhile is what they see. */
  private final case class Codec(path: String,
      encode: DataFrame => DataFrame, rebuild: () => Unit,
      readable: () => Boolean = () => true)

  /** The stored codec of `tier` (ivf | pq | sq | bq). The plain IVF copy
    * has no codes and rebuilds with [[build]]; a quantized tier with no
    * codec sidecar refuses, since there is no config to encode or
    * rebuild under. Codebooks and SQ8/BQ params are read on first use. */
  private def storedCodec(store: Store, codingName: String, source: String,
      column: String, tier: String): Codec = {
    val path = tierPath(store, codingName, source, column, tier)
    // a rebuild cut short between its renames leaves the tier in its aside
    Swap.recover(store.fs, new Path(path))
    def requireBuilt(sidecar: String, builder: String): Unit =
      require(store.sidecarExists(sidecar),
        s"no ${tier.toUpperCase} index for $source.$column under coding " +
          s"'$codingName' — build it first ($builder)")
    tier match {
      case "ivf" =>
        Codec(path, identity, () => build(store, codingName, source, column))
      case "sq" | "bq" =>
        val q = quantOf(tier)
        val sidecar = q.sidecar(store, codingName, source, column)
        requireBuilt(sidecar, q.builder)
        lazy val stored = scala.util.Try(quantParams(q, store, codingName, source, column))
        Codec(path,
          // rows in cells the build never saw encode under the global
          // block — the same block the decode side selects. A sidecar
          // that does not read refuses the encode
          _.withColumn(q.codes, q.encode(col(column), col(CodeCol), stored.get)),
          () => buildQuant(q, store, codingName, source, column,
            storedPerCell(q, store, sidecar)),
          readable = () => stored.isSuccess)
      case "pq" =>
        requireBuilt(pqSidecar(path), "buildPq")
        lazy val cb = loadPqCodebooks(store, codingName, source, column)
        Codec(path,
          assigned =>
            if (!cb.residual)
              assigned.withColumn(PqCol, graft.coder.PQ.encodeExpr(col(column), cb))
            else {
              // anchors for EVERY possible cell: the build-time empirical
              // mean, else the deterministic fallback [[searchIvfPq]]
              // builds its ADC table from, so codes and search tables
              // always agree (numCells is ≤ the residual cap by build)
              val coding = store.loadCoding(codingName)
              val fb = residualFallbackAnchor(cb, coding)
              val full: Map[Long, Array[Double]] = (0L until coding.numCells)
                .map(c => c -> cb.anchors.getOrElse(c, fb(c))).toMap
              withResidualBase(assigned, column, cb.canonicalMetric)
                .withColumn("__RES__",
                  graft.coder.PQ.residualExpr(col(ResBase), col(CodeCol), full))
                .withColumn(PqCol, graft.coder.PQ.encodeExpr(col("__RES__"), cb))
                .drop("__RES__", ResBase)
            },
          () => buildPq(store, codingName, source, column, cb.config, cb.residual),
          readable = () => scala.util.Try(cb).isSuccess)
    }
  }

  /** Incremental sync of a `tier` copy (ivf | pq | sq | bq): assign,
    * encode under the stored codec and append only the source rows whose
    * `idCol` is not yet indexed (the reference's `sync_index` reassigns
    * the whole table every time, `flight.py:219-233`). One anti-join +
    * one narrow pass over the delta; appended files land in their cell
    * partitions. A missing IVF copy is built; a missing quantized copy
    * refuses. Returns the number of rows appended.
    *
    * The listing is taken BEFORE the source is read, and the stamp is
    * refreshed to THAT listing only when growth is VERIFIABLY
    * append-only: every file entry recorded at the last build/sync must
    * still be present, unchanged. A file landing mid-sync is then
    * missing from the stamp (not fresh) rather than stamped unread; a
    * rewrite that modifies existing rows AND adds new ids appends the
    * new rows but leaves the stamp stale (the anti-join cannot repair
    * modified rows) — recover with [[repair]]. */
  def syncIncremental(store: Store, codingName: String, source: String,
      column: String, idCol: String, tier: String = "ivf"): Long = {
    val codec = storedCodec(store, codingName, source, column, tier)
    val path = codec.path
    if (!store.fs.exists(new Path(path))) {
      codec.rebuild()
      return store.spark.read.parquet(path).count()
    }
    val appended = Swap.install(store.fs, new Path(path)) { image =>
      val coding = store.loadCoding(codingName)
      val listing = store.sourceListing(source)
      val existingDf = store.spark.read.parquet(path)
      val existing = existingDf.select(col(idCol))
      val hasProvenance = existingDf.schema.fieldNames.contains(SrcFileCol)
      val src0 = store.loadTable(source)
      // legacy copies (no provenance column) append without it — a mixed
      // schema would make the parquet read schema file-order-dependent
      val src = if (hasProvenance)
        src0.withColumn(SrcFileCol, col("_metadata.file_name"))
      else src0
      val fresh = src.join(existing, Seq(idCol), "left_anti")
      val delta = codec.encode(fresh.withColumn(CodeCol, assignExpr(col(column), coding)))
      // the delta is bounded by the append size, so persist it: count +
      // write would otherwise run the anti-join + assignment + encode twice
      delta.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = delta.count()
        if (n == 0) (Nil, n)
        else {
          // the delta's files, `_SUCCESS` (a memo marker) and the stamp
          // land under one marker
          delta.write.partitionBy(CodeCol).parquet(image.toString)
          // re-stamp ONLY for verifiably append-only growth: the recorded
          // listing must be a subset of the current one. Otherwise (files
          // modified or removed alongside the append) the indexed copy
          // still serves stale vectors for the modified rows, so
          // freshness must keep failing until repair()/build()
          val curSet = listing.toSet
          val restamp = recordedListing(store, path).exists(_.forall(curSet.contains))
          if (restamp) recordSourceStamp(store, image.toString, listing)
          (Swap.files(store.fs, image) ++ Seq("_SUCCESS") ++
            (if (restamp) Seq(StampFile) else Nil), n)
        }
      } finally delta.unpersist(blocking = false)
    }
    if (appended > 0 && tier == "ivf") warnIfSkewed(store, codingName, source, column)
    appended
  }

  /** Outcome of a [[repair]]: which files were re-ingested / dropped and
    * how many cell partitions were rewritten (`fullRebuild` marks the
    * legacy-index fallback where file-scoped repair was impossible). */
  case class RepairStats(filesChanged: Long, cellsRewritten: Long,
      fullRebuild: Boolean)

  /** Cell-scoped repair of a `tier` copy (ivf | pq | sq | bq) after
    * in-place source modifications or deletions — the recovery path
    * [[syncIncremental]] cannot provide (its anti-join only sees NEW
    * ids). Diffs the recorded per-file listing against the current one,
    * drops indexed rows originating from changed/removed files,
    * re-ingests rows from changed/added files — re-assigned, and
    * re-ENCODED under the tier's stored codec — and rewrites ONLY the
    * affected cell partitions (ghost rows from deleted files are removed
    * too). At 100 TB a one-file rewrite costs one file's worth of
    * re-encode plus a few cell directories per tier — not a full
    * re-index. Each tier keeps its own stamp, so each is repaired on its
    * own.
    *
    * Copies built before the provenance column / listing sidecar, and
    * quantized copies whose codec sidecar no longer reads, fall back to
    * a full rebuild under the stored config (flagged in the returned
    * stats); a quantized tier that was never built refuses. */
  def repair(store: Store, codingName: String, source: String,
      column: String, tier: String = "ivf"): RepairStats = {
    val codec = storedCodec(store, codingName, source, column, tier)
    val path = codec.path
    Swap.install(store.fs, new Path(path)) { image =>
      val indexed = Option.when(store.fs.exists(new Path(path)))(store.spark.read
        .parquet(path).withColumn(CodeCol, col(CodeCol).cast("long")))
        .filter(_.schema.fieldNames.contains(SrcFileCol))
      (indexed, recordedListing(store, path)) match {
        case (Some(indexedRaw), Some(recorded)) if codec.readable() =>
          // entry = "name:len:mtime" (parquet part names never contain
          // ':'; strip the two trailing fields defensively anyway)
          def nameOf(e: String): String =
            e.substring(0, e.lastIndexOf(':', e.lastIndexOf(':') - 1))
          val listing = store.sourceListing(source)
          val curSet = listing.toSet
          val recSet = recorded.toSet
          // recorded entries no longer exactly present: modified or removed
          val staleNames = recorded.filterNot(curSet.contains).map(nameOf).distinct
          // current entries not recorded: added, or the new face of a
          // modified file, or files appended by a sync that could not
          // re-stamp
          val freshNames = listing.filterNot(recSet.contains).map(nameOf).distinct
          val affectedNames = (staleNames ++ freshNames).distinct
          lazy val freshRows = codec.encode(store.loadTable(source)
            .withColumn(SrcFileCol, col("_metadata.file_name"))
            .filter(col(SrcFileCol).isin(freshNames: _*))
            .withColumn(CodeCol, assignExpr(col(column), store.loadCoding(codingName))))
          // affected cells: wherever a stale file's rows sit, plus
          // wherever a fresh file's rows land — two small
          // distinct-collects, bounded by numCells
          def cellsOf(names: Seq[String], rows: => DataFrame): Array[Long] =
            if (names.isEmpty) Array.empty
            else rows.select(CodeCol).distinct().collect().map(_.getLong(0))
          val affected = (cellsOf(staleNames,
            indexedRaw.filter(col(SrcFileCol).isin(staleNames: _*))) ++
            cellsOf(freshNames, freshRows)).distinct.sorted
          // replacement content for the affected cells: surviving rows
          // from untouched files + re-encoded rows from changed/added
          // files; a cell left with no rows is deleted
          if (affected.nonEmpty)
            writeCells(indexedRaw
              .filter(col(CodeCol).isin(affected.toIndexedSeq: _*))
              .filter(!col(SrcFileCol).isin(affectedNames: _*))
              .unionByName(freshRows), affected.length.toLong, image.toString)
          recordSourceStamp(store, image.toString, listing)
          (affected.toSeq.map(c => s"$CodeCol=$c") :+ StampFile,
            Some(RepairStats(affectedNames.length.toLong, affected.length.toLong,
              fullRebuild = false)))
        case _ => (Nil, None) // a missing or legacy copy or codec: rebuilt below
      }
    }.getOrElse {
      codec.rebuild()
      RepairStats(-1, -1, fullRebuild = true)
    }
  }

  /** Per-cell layout statistics of the IVF copy: (cell, files, bytes,
    * rows = −1 unless `withRows`). The ops view for skew and
    * fragmentation — incremental sync appends one file set per
    * micro-batch, so long-running streams fragment cell partitions until
    * scan task overhead dominates; a cell holding a disproportionate
    * byte share signals coder imbalance (retrain or raise probes). Pure
    * file-listing driver work unless row counts are requested. */
  def cellStats(store: Store, codingName: String, source: String,
      column: String, withRows: Boolean = false,
      tier: String = "ivf"): Seq[(Long, Int, Long, Long)] = {
    val path = tierPath(store, codingName, source, column, tier)
    val fs = store.fs
    val prefix = s"$CodeCol="
    // rows with a null vector have no cell: Spark files them under its
    // default partition, which is not a cell
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .flatMap(d => d.getPath.getName.stripPrefix(prefix).toLongOption.map(_ -> d))
    val rowsByCell: Map[Long, Long] =
      if (!withRows) Map.empty
      else store.spark.read.parquet(path).filter(col(CodeCol).isNotNull)
        .groupBy(col(CodeCol).cast("long")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    dirs.map { case (cell, d) =>
      val files = fs.listStatus(d.getPath)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
      (cell, files.length, files.map(_.getLen).sum,
        rowsByCell.getOrElse(cell, -1L))
    }.toSeq.sortBy(_._1)
  }

  /** Outcome of a [[compactCells]] pass. */
  case class CompactStats(cellsCompacted: Long, filesBefore: Long,
      filesAfter: Long)

  /** Byte-share skew of a tier's cell layout. `ratio` = max cell bytes /
    * median cell bytes; `maxShare` = max cell bytes / total bytes. */
  case class SkewStats(cells: Int, maxCell: Long, maxBytes: Long,
      medianBytes: Long, ratio: Double, maxShare: Double)

  /** Cell-balance report for an index tier — at 100 TB a hot cell turns
    * probed search into a near-scan: a probe that touches the hot cell
    * reads its whole byte share regardless of the probe budget. Driver-
    * only file listing (no job). Remedies for a skewed layout, in order:
    * re-train the coder with more cells (or a fresh seed — a degenerate
    * k-means init can starve centroids), raise `probes` so rank quality
    * stops depending on the one hot cell, or pre-split the hot cell's
    * key range upstream. [[build]] and [[syncIncremental]] print this
    * report loudly when the layout crosses the skew threshold — the
    * build is still usable (every query stays correct; only probed-
    * search SPEED degrades), so it warns rather than throws. */
  def cellSkew(store: Store, codingName: String, source: String,
      column: String, tier: String = "ivf"): SkewStats = {
    val stats = cellStats(store, codingName, source, column, tier = tier)
    require(stats.nonEmpty, s"cellSkew: no cells under $tier index for " +
      s"$source.$column ('$codingName')")
    val bytes = stats.map(_._3).sorted
    val median = math.max(1L, bytes(bytes.length / 2))
    val (maxCell, _, maxBytes, _) = stats.maxBy(_._3)
    val total = math.max(1L, bytes.sum)
    SkewStats(stats.length, maxCell, maxBytes, median,
      maxBytes.toDouble / median, maxBytes.toDouble / total)
  }

  /** Loud skew report after build/sync (threshold: one cell ≥ 16× the
    * median or ≥ half of all bytes, with enough cells for "median" to
    * mean anything). */
  private def warnIfSkewed(store: Store, codingName: String, source: String,
      column: String): Unit = {
    val s = cellSkew(store, codingName, source, column)
    if (s.cells >= 4 && (s.ratio >= 16.0 || s.maxShare >= 0.5))
      System.err.println(f"[graft] SKEWED index layout for $source.$column " +
        f"('$codingName'): cell ${s.maxCell} holds ${s.maxShare * 100}%.1f%% " +
        f"of bytes (${s.ratio}%.1fx the median cell, ${s.cells} cells). " +
        "Probed search degrades toward a scan on the hot cell; re-train " +
        "the coder with more cells/new seed, raise probes, or pre-split " +
        "the hot key range (see Index.cellSkew).")
  }

  /** Cell-partitioned copy path of an index `tier` (ivf | pq | sq | bq) —
    * all four tiers share the `__CODED_ID__=N` partition layout, so the
    * layout tooling ([[cellStats]]/[[compactCells]]) applies uniformly. */
  private def tierPath(store: Store, codingName: String, source: String,
      column: String, tier: String): String = tier match {
    case "ivf" => store.indexPath(source, column, codingName)
    case "pq"  => store.pqIndexPath(source, column, codingName)
    case "sq"  => store.sqIndexPath(source, column, codingName)
    case "bq"  => store.bqIndexPath(source, column, codingName)
    case other => throw new IllegalArgumentException(
      s"tier must be ivf | pq | sq | bq, got '$other'")
  }

  /** Rewrite fragmented cell partitions coalesced — the maintenance step
    * a streaming [[syncIncremental]] workload needs: every micro-batch
    * appends its own file set, so a cell touched by N waves holds ≥ N
    * small files and scan cost becomes task-overhead-bound. Cells with
    * more than `maxFilesPerCell` files are rewritten to ≈
    * max(1, bytes/targetFileBytes) files each, installed cell by cell
    * under one marker ([[Swap.install]], as [[repair]]).
    *
    * Content is identical, so the recorded source stamp remains VALID —
    * it is installed verbatim with the cells (NOT refreshed to the
    * current source listing, which may have drifted), which also moves
    * the tier's memo stamp. `tier` selects which cell-partitioned copy to
    * compact (ivf | pq | sq | bq — all share the layout; the tiers' codec
    * sidecars are never touched since only cell directories are
    * swapped). */
  def compactCells(store: Store, codingName: String, source: String,
      column: String, maxFilesPerCell: Int = 8,
      targetFileBytes: Long = 128L << 20, tier: String = "ivf"): CompactStats = {
    require(maxFilesPerCell >= 1, "maxFilesPerCell must be >= 1")
    val path = tierPath(store, codingName, source, column, tier)
    Swap.install(store.fs, new Path(path)) { image =>
      require(store.sidecarExists(s"$path/_SUCCESS"),
        s"compactCells: no $tier index for $source.$column under '$codingName'")
      val frag = cellStats(store, codingName, source, column, tier = tier)
        .filter(_._2 > maxFilesPerCell)
      val cells = frag.map(_._1)
      val recorded = recordedListing(store, path)
      if (cells.nonEmpty) {
        val parts = math.max(cells.length.toLong,
          frag.map(_._3).sum / math.max(1L, targetFileBytes) + 1).toInt
        store.spark.read.parquet(path)
          .withColumn(CodeCol, col(CodeCol).cast("long"))
          .filter(col(CodeCol).isin(cells: _*))
          .repartition(parts, col(CodeCol))
          .write.partitionBy(CodeCol).parquet(image.toString)
        recorded.foreach(l => recordSourceStamp(store, image.toString, l))
      }
      (if (cells.isEmpty) Nil else cells.map(c => s"$CodeCol=$c") ++ recorded.map(_ => StampFile),
        CompactStats(cells.length.toLong, frag.map(_._2.toLong).sum,
          Swap.files(store.fs, image).length.toLong))
    }
  }

  /** Whether the materialized indexed copy exists (Spark's _SUCCESS
    * marker: a partial/failed write does not count). */
  def indexExists(store: Store, codingName: String, source: String,
      column: String): Boolean =
    store.sidecarExists(s"${store.indexPath(source, column, codingName)}/_SUCCESS")

  /** Read a tier's cell-partitioned copy (ivf | pq | sq | bq): source
    * schema ⊕ the tier's code column ⊕ `__CODED_ID__: long`. The
    * internal provenance column is stripped — it exists for [[repair]],
    * not for queries.
    *
    * The resolved relation is [[Store.memo]]ized under the tier
    * directory, its `_SUCCESS` and its stamp sidecar: resolving lists
    * every cell directory and runs one Spark job to infer the schema,
    * while a reused frame prunes cells on its in-memory file index.
    * Build, sync, repair and compaction each install `_SUCCESS` or the
    * stamp, or change the directory's entries. A miss runs the tier's
    * crash sweep ([[Swap.recover]]) before it resolves. */
  private def loadTier(store: Store, codingName: String, source: String,
      column: String, tier: String): DataFrame =
    residentTier(store, codingName, source, column, tier).frame

  /** A tier's memo entry: its relation, and its rows grouped by cell
    * once a probed search over a small tier has read them
    * ([[Store#Resident]]). */
  private def residentTier(store: Store, codingName: String, source: String,
      column: String, tier: String): store.Resident = {
    val path = tierPath(store, codingName, source, column, tier)
    store.memo(path, Seq("_SUCCESS", StampFile)) {
      Swap.recover(store.fs, new Path(path))
      new store.Resident(readTier(store, path), CodeCol)
    }
  }

  private def readTier(store: Store, path: String): DataFrame =
    store.spark.read.parquet(path)
      // partition-column discovery types the cell id as int; contract says long
      .withColumn(CodeCol, col(CodeCol).cast("long")).drop(SrcFileCol)

  /** Read the indexed copy: source schema ⊕ `__CODED_ID__: long`
    * (reference V7 `index.py:19-34`, minus the positional join). */
  def load(store: Store, codingName: String, source: String, column: String): DataFrame =
    loadTier(store, codingName, source, column, "ivf")

  /** The leaf of a probed search over `tier` (ivf | sq | bq | pq): the
    * rows of the probed `cells`, from the driver when the tier is
    * resident ([[residentTier]]: a [[ResidentScan]], which no Catalyst
    * rule walks row by row), otherwise the parquet relation pruned to
    * those cells. Like [[pruneToCells]], a full probe also keeps the
    * rows with no cell (a null vector). */
  private[graft] def probedLeaf(store: Store, codingName: String,
      source: String, column: String, tier: String, cells: Array[Long],
      numCells: Long): DataFrame = {
    val t = residentTier(store, codingName, source, column, tier)
    t.cells.fold(pruneToCells(t.frame, cells, numCells)) { byCell =>
      val keys = cells.toSeq.map(Option(_)) ++
        (if (cells.length >= numCells) Seq(None) else Nil)
      ResidentScan.frame(t.frame, keys.flatMap(byCell.get).flatten.toArray)
    }
  }

  /** Partition-prune to the probed cells — skipped entirely at full
    * probes, where the IN-SET predicate prunes nothing and would only
    * ship a numCells-element filter in every task. */
  private[graft] def pruneToCells(df: DataFrame, cells: Array[Long],
      numCells: Long): DataFrame =
    if (cells.length >= numCells) df
    else df.filter(col(CodeCol).isin(cells.toIndexedSeq: _*))

  /** Budgets reaching the index are resolved counts: the
    * [[graft.api.Engine.Advised]] sentinel is the engine's to resolve,
    * and 0 or a negative would silently rank no cell and return no
    * rows. */
  private def requireCount(name: String, v: Int): Unit =
    require(v >= 1, s"invalid $name $v: pass a count >= 1")

  /** The shared tail of every single-target search: optional
    * projection (the distance column always kept), then top-k by
    * distance and `tieBreak`, finished on the driver over a resident
    * leaf ([[ResidentScan.finish]]). A null distance (a row with no
    * vector) sorts last. */
  private def topK(scored: DataFrame, k: Int, select: Option[Seq[String]],
      tieBreak: Seq[String]): DataFrame =
    ResidentScan.finish(
      select.fold(scored)(cols => scored.select((cols :+ Search.DistCol).map(col): _*))
        .orderBy(col(Search.DistCol).asc_nulls_last +: tieBreak.map(col(_).asc): _*)
        .limit(k))

  /** Probed top-k search (reference V8 with coding+probes,
    * `index.py:113-126`): rank cells driver-side from the coding, prune to
    * the `probes` nearest cells, then exact distance + top-k inside them.
    * `metric` defaults to the coding's training metric (`index.py:116-117`).
    */
  def searchProbed(
      store: Store,
      codingName: String,
      source: String,
      column: String,
      target: graft.api.TargetVector,
      k: Int,
      probes: Int,
      metric: Option[String] = None,
      filter: Option[Column] = None,
      select: Option[Seq[String]] = None,
      tieBreak: Seq[String] = Nil): DataFrame = {
    requireCount("probes", probes)
    val coding = store.loadCoding(codingName)
    val m = metric.getOrElse(coding.config.metric)
    val cells = coding.rankCells(target.doubles, probes)
    probedQuery(probedLeaf(store, codingName, source, column, "ivf", cells,
      coding.numCells), column, target, k, m, filter, select, tieBreak)
  }

  /** The one body of a probed IVF search over either leaf of
    * [[probedLeaf]]: filter, exact distance, top-k. Over a resident
    * leaf [[ResidentScan.finish]] evaluates all three on the driver, so
    * the frame it returns holds the k rows and runs no job. */
  private[graft] def probedQuery(leaf: DataFrame, column: String,
      target: graft.api.TargetVector, k: Int, metric: String,
      filter: Option[Column], select: Option[Seq[String]],
      tieBreak: Seq[String]): DataFrame =
    topK(filter.fold(leaf)(leaf.filter).withColumn(
      Search.DistCol, vector_distance(col(column), target.lit, metric)),
      k, select, tieBreak)

  // ——— two-pass probed search: one body, four candidate tiers ———

  /** A candidate tier of the two-pass probed search — the IVFADC plan
    * (Jégou et al., TPAMI 2011): a codes-only coarse pass over the
    * probed cells keeps the best `candidates` rows, and only those
    * survivors are read back and scored exactly. [[twoPass]] (one
    * target) and [[candidateJoin]] (a query batch) run every step; a
    * tier supplies only what differs:
    *   - `name`, its cell-partitioned copy (a [[tierPath]] key), and
    *     `codes`, the column its coarse pass reads besides (id, cell);
    *   - `metric`, the exact-rerank metric;
    *   - `score`, the coarse score of a row against one target over
    *     the probed cells;
    *   - `querySide`, for a batch: the broadcast (query, cell) rows cut
    *     from the exploded queries to the columns the score reads, and
    *     that score over the joined row;
    *   - `perReplicaExtraBytes`, broadcast bytes per (query, cell) row
    *     beyond the vector ([[Search.chunkByBroadcastSize]]).
    * The coarse tie order is the caller's to pick. */
  private final case class Tier(
      name: String,
      codes: Option[String],
      metric: String,
      score: (graft.api.TargetVector, Array[Long]) => Column,
      querySide: (DataFrame, String, String) => (DataFrame, Column),
      perReplicaExtraBytes: Long = 0L)

  /** Opens a tier of (coding, source, column) under an optional metric
    * override: loads its sidecar and resolves its metric rule. */
  private type TierOf =
    (Store, String, String, String, Coding, Option[String]) => Tier

  private val CellCol = "__cell__"
  private val CellRankCol = "__cell_rank__"
  private val CoarseCol = "__coarse__"

  /** The one body of the single-target two-pass searches: load the
    * coding and rank the cells (`probes = None` ranks all of them); take
    * the tier's [[probedLeaf]]; apply the filter — to BOTH passes, since
    * it is pushed into the coarse scan, so the candidate budget is spent
    * on qualifying rows only; score the (id, cell, codes) projection and
    * keep the best `candidates` ids (TakeOrdered, no full sort; a null
    * score sorts last), ties broken on `coarseTies`; join those ids back
    * against the same probed rows (a broadcast join over parquet; over
    * resident rows [[ResidentScan.survivors]], the probed rows with a
    * surviving id); score them exactly and take the top-k. Over a
    * resident leaf both top-ks finish on the driver
    * ([[ResidentScan.finish]]) and the frame runs no job. `idCol` must be
    * unique per row, so a probed row with a surviving id passed the
    * filter. */
  private def twoPass(tierOf: TierOf, coarseTies: Seq[String],
      store: Store, codingName: String, source: String, column: String,
      target: graft.api.TargetVector, k: Int, probes: Option[Int],
      candidates: Int, idCol: String, metric: Option[String],
      filter: Option[Column], select: Option[Seq[String]],
      tieBreak: Seq[String]): DataFrame = {
    probes.foreach(requireCount("probes", _))
    requireCount("candidates", candidates)
    val coding = store.loadCoding(codingName)
    val tier = tierOf(store, codingName, source, column, coding, metric)
    val cells = coding.rankCells(target.doubles,
      probes.getOrElse(coding.numCells.toInt))
    val probed = probedLeaf(store, codingName, source, column, tier.name,
      cells, coding.numCells)
    val pruned = filter.fold(probed)(probed.filter)
    val coarse = ResidentScan.finish(pruned
      .select((Seq(idCol, CodeCol) ++ tier.codes ++ coarseTies).distinct.map(col): _*)
      .withColumn(CoarseCol, tier.score(target, cells))
      .orderBy(col(CoarseCol).asc_nulls_last +: coarseTies.map(col(_).asc): _*)
      .limit(candidates))
    val reranked = ResidentScan.survivors(probed, coarse, idCol)
      .getOrElse(pruned.join(broadcast(coarse.select(idCol)), Seq(idCol)))
      .withColumn(Search.DistCol,
        vector_distance(col(column), target.lit, tier.metric))
    topK(tier.codes.fold(reranked)(reranked.drop), k, select, tieBreak)
  }

  /** Two-stage retrieve-rerank search over the plain IVF copy: the
    * [[twoPass]] plan with each row's coarse score its CELL's rank —
    * computed from `__CODED_ID__` alone via a broadcast k^n lookup — so
    * the coarse pass projects (id, code) ONLY, optionally partition-
    * pruned to the `probes` nearest cells: at 100 TB the coarse
    * TakeOrdered carries a few bytes per row, never the float vectors.
    * Coarse ties break on `tieBreak`. With full probes and
    * `candidates` ≥ the corpus this equals exact search; smaller values
    * trade recall for a bounded rerank set. `idCol` must be unique per
    * row.
    */
  def searchRerank(
      store: Store,
      codingName: String,
      source: String,
      column: String,
      target: graft.api.TargetVector,
      k: Int,
      candidates: Int,
      idCol: String,
      probes: Option[Int] = None,
      metric: Option[String] = None,
      filter: Option[Column] = None,
      select: Option[Seq[String]] = None,
      tieBreak: Seq[String] = Nil): DataFrame =
    twoPass(rerankTier, tieBreak, store, codingName, source, column, target,
      k, probes, candidates, idCol, metric, filter, select, tieBreak)

  /** The retrieve-rerank tier: the rank of a row's cell in the probe
    * list is its coarse score — single-target as a map literal, so the
    * lookup stays inside codegen (no UDF on the coarse path; cells
    * outside the ranking rank last), batch as the `posexplode` position
    * the broadcast join key carries (no vector math at all). */
  private def rerankTier(store: Store, codingName: String, source: String,
      column: String, coding: Coding, metric: Option[String]): Tier =
    Tier("ivf", None, metric.getOrElse(coding.config.metric),
      (_, cells) => coalesce(
        try_element_at(typedLit(cells.zipWithIndex.toMap), col(CodeCol)),
        lit(Int.MaxValue)),
      (q, qid, _) => (q.select(col(qid), col(CellRankCol), col(CellCol)),
        col(CellRankCol)))

  // ——— IVF+PQ: cell-partitioned layout + per-row PQ codes ———

  /** Codes column name in a PQ index. */
  val PqCol: String = "__PQ__"
  private def pqSidecar(path: String) = s"$path/_pq_codebooks.json"

  /** Residual PQ is gated to a bounded cell count (the anchor map literal
    * is numCells·dim doubles, and search ships one ADC table per probed
    * cell). */
  private val ResidualCellCap = 4096L

  @transient private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Build the IVF+PQ index (the Faiss-IVFADC shape, Jégou et al. 2011):
    * the cell-partitioned copy additionally carries an m-byte PQ code per
    * row, so probed search can rank candidates from (id, code) alone —
    * at 100 TB the coarse pass reads ~probes/k^n of the rows AND none of
    * the float vectors. Codebooks land as an underscore-prefixed sidecar
    * (ignored by parquet directory listings) next to the data.
    */
  def buildPq(store: Store, codingName: String, source: String, column: String,
      pqConfig: graft.coder.PQ.PQConfig,
      residual: Boolean = true): graft.coder.PQ.PQCodebooks = {
    val coding = store.loadCoding(codingName)
    // listing BEFORE reading (as [[build]]): a concurrent source change
    // mid-build leaves a conservatively-stale stamp
    val listing = store.sourceListing(source)
    val df = store.loadTable(source)
    val metricC = graft.core.Metrics.canonical(pqConfig.metric)
    // Residual mode (IVFADC proper, Jégou et al. §III): PQ codebooks train
    // on x − anchor(cell), spending their resolution on WITHIN-cell
    // structure — flat PQ on cluster-dominated data can separate cells but
    // ranks within a cell at chance (observed: recall collapses as rows/
    // cell grow). All metrics route through it: l2 natively; cosine on the
    // unit sphere (normalize ⇒ cosine is monotone in l2 there); dot via
    // the affine split −q·x = −q·anchor − q·r. The cell cap bounds the
    // anchor map literal — above it the weaker flat variant must be an
    // EXPLICIT choice, not a silent fallback.
    if (residual && coding.numCells > ResidualCellCap)
      throw new IllegalArgumentException(
        s"residual PQ supports codings up to $ResidualCellCap cells (anchor " +
          s"tables are numCells×dim doubles); coding '$codingName' has " +
          s"${coding.numCells}. Pass residual = false to explicitly build " +
          "the flat variant (weaker within-cell ranking on clustered data).")
    val useRes = residual
    val assigned0 = df.withColumn(SrcFileCol, col("_metadata.file_name"))
      .withColumn(CodeCol, assignExpr(col(column), coding))
    // Cosine residuals live on the unit sphere: normalize once (codegen'd
    // built-ins), then anchors/residuals/codebooks all operate in the
    // space where l2 ranking is monotone-equivalent to cosine distance.
    val assigned =
      if (!useRes) assigned0
      else withResidualBase(assigned0, column, metricC)
    // Anchors = EMPIRICAL per-cell means — the codebook-derived anchor is
    // a poor cell representative under this engine's additive-codebook
    // coarse quantizer, and residual resolution is only as good as the
    // anchor. One map-side-combined vector-sum agg (VecSumAgg): only
    // numCells (sum, count) rows shuffle; the anchor pass + the encode
    // pass below are two corpus scans by design (anchors must exist
    // before codes can be encoded; a 100 TB corpus can't be cached).
    val anchors: Map[Long, Array[Double]] =
      if (!useRes) Map.empty
      else {
        val vecSum = udaf(graft.coder.VecSumAgg)
        assigned
          .select(col(CodeCol), col(ResBase).as("__v__"))
          .filter(col(CodeCol).isNotNull) // no vector, no cell
          .groupBy(col(CodeCol))
          .agg(vecSum(col("__v__")).as("s"), count(col("__v__")).as("n"))
          .collect()
          .map { r =>
            val s = r.getSeq[Double](1); val n = r.getLong(2)
            r.getLong(0) -> s.map(_ / n).toArray
          }.toMap
      }
    val encodeInput =
      if (useRes)
        assigned.withColumn("__RES__",
          graft.coder.PQ.residualExpr(col(ResBase), col(CodeCol), anchors))
      else assigned
    // Residual codebooks must NOT re-normalize their input (the residual
    // is already in the right space), so train under l2 and restore the
    // user metric on the returned codebooks — training only uses the
    // metric for the cosine normalization decision.
    val cb0 = graft.coder.PQ.train(encodeInput,
      if (useRes) "__RES__" else column,
      if (useRes) pqConfig.copy(metric = "l2") else pqConfig)
    val cb = cb0.copy(config = cb0.config.copy(metric = pqConfig.metric),
      residual = useRes, anchors = anchors)
    log.info(s"buildPq($source.$column under $codingName): " +
      s"variant=${if (useRes) "residual" else "flat"} metric=$metricC " +
      s"cells=${coding.numCells} m=${cb.m} k=${cb.k}")
    Swap.replace(store.fs, new Path(store.pqIndexPath(source, column, codingName))) { image =>
      writeCells(encodeInput
        .withColumn(PqCol, graft.coder.PQ.encodeExpr(
          col(if (useRes) "__RES__" else column), cb))
        .drop("__RES__", ResBase), coding.numCells, image)
      store.writeSidecar(pqSidecar(image), graft.coder.PQ.toJsonBytes(cb))
      recordSourceStamp(store, image, listing)
    }
    cb
  }

  /** Anchor for a cell absent from the build-time empirical means: the
    * coding's centroid-mean anchor, projected onto the unit sphere for
    * cosine (residual space is the normalized one). Deterministic and
    * derivable at both encode (incremental sync) and search time, so the
    * two always agree. */
  private def residualFallbackAnchor(cb: graft.coder.PQ.PQCodebooks,
      coding: Coding): Long => Array[Double] =
    if (cb.canonicalMetric == "cosine")
      c => graft.core.Metrics.normalize(coding.anchor(c))
    else coding.anchor

  private val ResBase = "__RESBASE__"

  /** Adds the column residuals are computed from: raw doubles for
    * l2/dot, the unit sphere for cosine (zero vectors pass through,
    * matching `Metrics.normalize` / `PQCodebooks.maybeNormalize`). */
  private def withResidualBase(df: DataFrame, column: String,
      metricC: String): DataFrame =
    if (metricC != "cosine")
      df.withColumn(ResBase, col(column).cast("array<double>"))
    else graft.functions.functions.withUnitNormalized(df, col(column), ResBase)

  /** Whether the PQ codebooks exist and read (else ABSENT, as [[quantExists]]). */
  def pqIndexExists(store: Store, codingName: String, source: String, column: String): Boolean =
    store.sidecarExists(pqSidecar(store.pqIndexPath(source, column, codingName))) &&
      scala.util.Try(loadPqCodebooks(store, codingName, source, column)).isSuccess

  def loadPqCodebooks(store: Store, codingName: String, source: String,
      column: String): graft.coder.PQ.PQCodebooks = {
    val sidecar = pqSidecar(store.pqIndexPath(source, column, codingName))
    codecOf(store, sidecar)(graft.coder.PQ.parse(sidecar, store.readSidecar(sidecar)))
  }

  /** A tier's codec sidecar, [[Store.memo]]ized; a miss runs the tier's
    * crash sweep first, as [[residentTier]]. */
  private def codecOf[A](store: Store, sidecar: String)(open: => A): A =
    store.memo(sidecar) {
      Swap.recover(store.fs, new Path(sidecar).getParent)
      open
    }

  def loadPq(store: Store, codingName: String, source: String, column: String): DataFrame =
    loadTier(store, codingName, source, column, "pq")

  /** Probed IVF+PQ search, the [[twoPass]] plan at the ADC tier:
    *   1. coarse: partition-pruned scan of (idCol, code) only — ADC ranks
    *      every surviving row via m byte-indexed table lookups, keeps the
    *      best `candidates` ids (TakeOrdered, no full sort);
    *   2. rerank: broadcast-semi-join those ids back against the same
    *      pruned partitions and score exactly on the raw vectors.
    * With probes = numCells and `candidates` ≥ the corpus this is exact
    * (the oracle contract); bounded budgets give the classic IVFADC
    * recall/scan-fraction trade. `idCol` must be unique per row.
    * `metric` must equal the PQ codebooks' training metric (the ADC table
    * is only meaningful under it); the IVF coding may differ.
    */
  def searchIvfPq(
      store: Store,
      codingName: String,
      source: String,
      column: String,
      target: graft.api.TargetVector,
      k: Int,
      probes: Int,
      candidates: Int,
      idCol: String,
      metric: Option[String] = None,
      filter: Option[Column] = None,
      select: Option[Seq[String]] = None,
      tieBreak: Seq[String] = Nil): DataFrame =
    twoPass(pqTier, Seq(idCol), store, codingName, source, column, target,
      k, Some(probes), candidates, idCol, metric, filter, select, tieBreak)

  /** The ADC tier. Residual codebooks score against per-cell query
    * tables (IVFADC), flat codebooks against one table; the fallback
    * anchor (cells the build never saw) must match what an encode of a
    * new row in that cell would use — see [[residualFallbackAnchor]].
    * Single-target the table ships as an expression literal; batch each
    * (query, probed cell) builds its table ONCE on the broadcast side
    * ([[graft.coder.PQ.adcLut]]) and rows score with the codegen'd
    * [[graft.functions.PQAdcScoreLut]] — which charges m·k doubles per
    * replicated row to the broadcast estimate (at m=64, k=256 ~130 KB
    * per replica, dwarfing the vector itself). */
  private def pqTier(store: Store, codingName: String, source: String,
      column: String, coding: Coding, metric: Option[String]): Tier = {
    val cb = loadPqCodebooks(store, codingName, source, column)
    val m = graft.core.Metrics.canonical(metric.getOrElse(cb.canonicalMetric))
    require(m == cb.canonicalMetric,
      s"metric '$m' does not match the PQ codebooks' training metric " +
        s"'${cb.canonicalMetric}' — rebuild the PQ index under '$m'")
    val fallback = residualFallbackAnchor(cb, coding)
    val lutUdf = udf((v: Seq[Double], cell: Long) =>
      graft.coder.PQ.adcLut(cb, fallback, v.toArray, cell).toSeq)
    Tier("pq", Some(PqCol), m,
      (t, cells) =>
        if (cb.residual)
          graft.coder.PQ.adcScoreCellsExpr(col(PqCol), col(CodeCol), cb,
            t.doubles, cells, fallback)
        else graft.coder.PQ.adcScoreExpr(col(PqCol), cb, t.doubles),
      (q, qid, qvec) => (
        q.select(col(qid), col(CellCol),
          lutUdf(col(qvec).cast("array<double>"), col(CellCol)).as("__LUT__")),
        org.apache.spark.sql.GraftShims.column(
          graft.functions.PQAdcScoreLut(
            org.apache.spark.sql.GraftShims.expression(col(PqCol)),
            org.apache.spark.sql.GraftShims.expression(col("__LUT__")),
            cb.m, cb.k, graft.coder.PQ.adcSqrtFinish(cb)))),
      perReplicaExtraBytes = cb.m.toLong * cb.k * 8)
  }

  // ——— IVF+SQ8 and IVF+BQ: cell-partitioned layout + quantized codes,
  // one codec for both ———

  /** Codes column in an SQ8 index (one uint8 per dimension). */
  val SqCol: String = "__SQ__"

  /** Codes column in a BQ index (one sign bit per dimension). */
  val BqCol: String = "__BQ__"

  /** The SQ8 index's affine params: one (scale, zeroPoint) pair PER
    * DIMENSION — the standard scalar-quantizer formulation. A single
    * global pair collapses resolution for every dimension when one
    * outlier element lands anywhere in the corpus; per-dimension fitting
    * costs the same single agg pass. */
  case class SqParams(scales: Array[Float], zeroPoints: Array[Float]) {
    def dim: Int = scales.length
  }

  /** A quantized tier's codec in the one layout its kernels read
    * ([[graft.functions.CellBlocks]]): the sorted ids of the cells the
    * build fitted and, per field, one flat array of `dim`-long blocks —
    * one per cell in that order, then the GLOBAL block, which a row in a
    * cell the build never saw reads. A global codec is this layout with
    * no cells. Built once per read of the sidecar ([[quantParams]] is
    * memoized), so a search hands the kernels these arrays as they are.
    * Values are held as doubles; a float field round-trips exactly. */
  private final case class QuantParams(cells: IndexedSeq[Long],
      values: Map[String, IndexedSeq[Double]]) {
    def dim: Int = values.head._2.length / (cells.length + 1)
    def doubles(field: String): IndexedSeq[Double] = values(field)
    def floats(field: String): IndexedSeq[Float] = asFloats(field)
    private lazy val asFloats: Map[String, IndexedSeq[Float]] = values.map {
      case (f, v) => f -> ArraySeq.unsafeWrapArray(v.iterator.map(_.toFloat).toArray)
    }
    /** The global block of `field`. */
    def global(field: String): Array[Double] = values(field).takeRight(dim).toArray
  }

  /** Per-key blocks of a fit — `None` keys the global block, `Some(cell)`
    * a cell's — each a sequence of per-dimension arrays in field order. */
  private type Blocks = Map[Option[Long], Seq[Array[Double]]]

  /** A quantized tier (SQ8 or BQ): its code column, its codec sidecar and
    * builder, its per-dimension `fields` (those in `doubles` are stored
    * at double precision, the rest as floats), its kernels over (input,
    * cell, codec) and its `fit` over the non-null vectors `VecCol` of
    * the source, keyed by `keys` (the cell, or none for a global
    * codec). Everything else — build, sidecar, load, search, batch join,
    * sync and repair — is one body for both. */
  private final case class Quant(tier: String, name: String, codes: String,
      sidecarName: String, builder: String, fields: Seq[String],
      doubles: Set[String],
      encode: (Column, Column, QuantParams) => Column,
      decode: (Column, Column, QuantParams) => Column,
      fit: (DataFrame, Seq[Column]) => Blocks) {
    def sidecar(store: Store, codingName: String, source: String, column: String): String =
      s"${tierPath(store, codingName, source, column, tier)}/$sidecarName"

    /** The sidecar: the global block's fields at the top level, plus a
      * `cells` object keyed by cell id when there are cells. */
    def toJson(p: QuantParams): Array[Byte] = {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      def put(node: com.fasterxml.jackson.databind.node.ObjectNode, block: Int): Unit =
        fields.foreach { f =>
          val arr = node.putArray(f)
          val v = p.values(f).slice(block * p.dim, (block + 1) * p.dim)
          if (doubles(f)) v.foreach(x => arr.add(x)) else v.foreach(x => arr.add(x.toFloat))
        }
      val root = mapper.createObjectNode()
      put(root, p.cells.length)
      if (p.cells.nonEmpty) {
        val cn = root.putObject("cells")
        p.cells.zipWithIndex.foreach { case (c, i) => put(cn.putObject(c.toString), i) }
      }
      mapper.writeValueAsBytes(root)
    }

    /** Reads a sidecar back, refusing a malformed one (truncated, a
      * field missing — as in a sidecar from before the tier's current
      * codec — or blocks of unequal length) with an IllegalStateException
      * that names the tier, the field and the builder. */
    def parse(path: String, bytes: Array[Byte]): QuantParams = {
      def refuse(what: String): Nothing = throw new IllegalStateException(
        s"malformed $name sidecar $path: $what — rebuild with $builder")
      val root = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
        catch { case e: java.io.IOException => refuse(s"unreadable JSON (${e.getMessage})") }
      def block(n: com.fasterxml.jackson.databind.JsonNode, where: String): Seq[Array[Double]] =
        fields.map { f =>
          val a = Option(n.get(f)).filter(a => a.isArray && a.elements().asScala.forall(_.isNumber))
            .getOrElse(refuse(s"no numeric '$f' array$where"))
          Array.tabulate(a.size())(i => a.get(i).asDouble())
        }
      val cells = Option(root.get("cells")).toSeq.flatMap(_.properties().asScala.map { e =>
        val c = e.getKey.toLongOption.getOrElse(refuse(s"cell id '${e.getKey}' is not a number"))
        Option(c) -> block(e.getValue, s" in cell $c")
      })
      val blocks: Blocks = (cells :+ (None -> block(root, ""))).toMap
      val dims = blocks.values.flatten.map(_.length).toSet
      if (dims.size != 1 || dims.contains(0))
        refuse(s"blocks of unequal or zero length ${dims.mkString(", ")}")
      layout(blocks)
    }

    def layout(blocks: Blocks): QuantParams = {
      val cells = blocks.keys.flatten.toIndexedSeq.sorted
      val order = cells.map(Option(_)) :+ None
      QuantParams(cells, fields.indices.map { f =>
        fields(f) -> ArraySeq.unsafeWrapArray(order.flatMap(blocks(_)(f)).toArray)
      }.toMap)
    }
  }

  private val VecCol = "__v__"

  private val Sq = Quant("sq", "SQ8", SqCol, "_sq_params.json", "buildSq",
    Seq("scales", "zeroPoints"), Set.empty,
    (v, c, p) => GraftShims.column(graft.functions.QuantizePerCellDim(
      GraftShims.expression(v), GraftShims.expression(c), p.cells,
      p.floats("scales"), p.floats("zeroPoints"))),
    (b, c, p) => GraftShims.column(graft.functions.DequantizePerCellDim(
      GraftShims.expression(b), GraftShims.expression(c), p.cells,
      p.floats("scales"), p.floats("zeroPoints"))),
    fitSq)

  private val Bq = Quant("bq", "BQ", BqCol, "_bq_thresholds.json", "buildBq",
    Seq("thresholds", "lo", "hi"), Set("thresholds"),
    (v, c, p) => GraftShims.column(graft.functions.PackSignBitsPerCell(
      GraftShims.expression(v), GraftShims.expression(c), p.cells,
      p.doubles("thresholds"))),
    (b, c, p) => GraftShims.column(graft.functions.DequantizeSignBitsPerCell(
      GraftShims.expression(b), GraftShims.expression(c), p.cells,
      p.floats("lo"), p.floats("hi"))),
    fitBq)

  private def quantOf(tier: String): Quant = if (tier == "sq") Sq else Bq

  /** The key of a row grouped by `keys` (none, or the cell). */
  private def keyOf(r: org.apache.spark.sql.Row, keys: Seq[Column]): Option[Long] =
    Option.when(keys.nonEmpty)(r.getLong(0))

  /** Fit per-dimension affine params from per-dimension [lo, hi]:
    * `q = x/scale + zeroPoint` maps [lo_i, hi_i] onto [0, 255]. Constant
    * dimensions (hi == lo — paddings, one-hot constants) encode exactly
    * under (scale 1, zeroPoint −lo); ranges too tiny for float32 fall
    * back the same way rather than dividing by a rounded-to-zero scale. */
  private[graft] def fitSqParams(lo: Array[Double], hi: Array[Double]): SqParams = {
    val scales = new Array[Float](lo.length)
    val zps = new Array[Float](lo.length)
    var i = 0
    while (i < lo.length) {
      val s = ((hi(i) - lo(i)) / 255.0).toFloat
      val z = if (s > 0f) (-lo(i) / s).toFloat else Float.NaN
      if (s > 0f && java.lang.Float.isFinite(s) && java.lang.Float.isFinite(z)) {
        scales(i) = s; zps(i) = z
      } else {
        scales(i) = 1f; zps(i) = (-lo(i)).toFloat
      }
      i += 1
    }
    SqParams(scales, zps)
  }

  /** The SQ8 fit: ONE map-side-combined per-dimension min/max agg per key
    * (only partitions × dim doubles shuffle; per cell, numCells × (lo, hi)
    * rows collect — bounded by the cell cap). The global block comes from
    * the per-key bounds driver-side, no second scan. */
  private def fitSq(vecs: DataFrame, keys: Seq[Column]): Blocks = {
    val vecMin = udaf(graft.coder.VecMinAgg)
    val vecMax = udaf(graft.coder.VecMaxAgg)
    val bounds = vecs.groupBy(keys: _*)
      .agg(vecMin(col(VecCol)), vecMax(col(VecCol)))
      .collect()
      .map(r => keyOf(r, keys) ->
        (r.getSeq[Double](keys.length).toArray, r.getSeq[Double](keys.length + 1).toArray))
      .filter(_._2._1.nonEmpty)
    def fit(b: (Array[Double], Array[Double])): Seq[Array[Double]] = {
      val p = fitSqParams(b._1, b._2)
      Seq(p.scales.map(_.toDouble), p.zeroPoints.map(_.toDouble))
    }
    if (bounds.isEmpty) Map.empty
    else {
      val global = bounds.map(_._2).reduce { (a, b) =>
        (Array.tabulate(a._1.length)(i => if (b._1(i) < a._1(i)) b._1(i) else a._1(i)),
          Array.tabulate(a._2.length)(i => if (b._2(i) > a._2(i)) b._2(i) else a._2(i)))
      }
      val cells: Blocks =
        if (keys.isEmpty) Map.empty else bounds.map { case (k, b) => k -> fit(b) }.toMap
      cells + (None -> fit(global))
    }
  }

  /** The BQ fit: each dimension binarized around its MEAN, with each
    * side's CONDITIONAL MEAN as its reconstruction level — the optimal
    * 1-bit scalar dequantizer. The global block always fits over the
    * whole corpus; per cell, the same two aggs run keyed by the cell. */
  private def fitBq(vecs: DataFrame, keys: Seq[Column]): Blocks =
    if (keys.isEmpty) bqLevels(vecs, Nil) else bqLevels(vecs, Nil) ++ bqLevels(vecs, keys)

  /** (thresholds, lo, hi) per key: one sum/count agg for the means, then
    * one agg of four element-masked VecSums under each key's thresholds
    * (a literal for the one global key; per cell a broadcast of the tiny
    * (cell, thresholds) table). An empty side (a constant dimension)
    * reconstructs to the threshold. */
  private def bqLevels(vecs: DataFrame, keys: Seq[Column]): Blocks = {
    val vecSum = udaf(graft.coder.VecSumAgg)
    val o = keys.length
    val thr: Map[Option[Long], Array[Double]] = vecs.groupBy(keys: _*)
      .agg(vecSum(col(VecCol)), count(lit(1)))
      .collect()
      .filter(r => !r.isNullAt(o) && r.getSeq[Double](o).nonEmpty)
      .map { r =>
        val n = r.getLong(o + 1).toDouble
        keyOf(r, keys) -> r.getSeq[Double](o).map(_ / n).toArray
      }.toMap
    if (thr.isEmpty) return Map.empty
    val ThrCol = "__thr__"
    val withThr =
      if (keys.isEmpty) vecs.withColumn(ThrCol, typedLit(thr(None).toSeq))
      else {
        import vecs.sparkSession.implicits._
        vecs.join(broadcast(thr.toSeq.map { case (c, t) => (c.get, t.toSeq) }
          .toDF(CodeCol, ThrCol)), CodeCol)
      }
    def masked(f: (Column, Column) => Column): Column =
      vecSum(zip_with(col(VecCol), col(ThrCol), f))
    withThr.groupBy(keys: _*)
      .agg(masked((x, t) => when(x > t, x).otherwise(lit(0.0d))),
        masked((x, t) => when(x > t, lit(1.0d)).otherwise(lit(0.0d))),
        masked((x, t) => when(x > t, lit(0.0d)).otherwise(x)),
        masked((x, t) => when(x > t, lit(0.0d)).otherwise(lit(1.0d))))
      .collect()
      .map { r =>
        val key = keyOf(r, keys)
        val t = thr(key)
        val Seq(hs, hc, ls, lc) = (o until o + 4).map(r.getSeq[Double])
        val hi = Array.tabulate(t.length)(i => (if (hc(i) > 0) hs(i) / hc(i) else t(i)).toFloat)
        val lo = Array.tabulate(t.length)(i => (if (lc(i) > 0) ls(i) / lc(i) else t(i)).toFloat)
        key -> Seq(t, lo.map(_.toDouble), hi.map(_.toDouble))
      }.toMap
  }

  /** The one build of a quantized tier: fit its codec over the source's
    * non-null vectors — keyed by cell when `perCell` (capped at
    * [[ResidualCellCap]] cells) — then encode every row with the codec
    * in one narrow corpus pass, beside the sidecar and the source stamp. */
  private def buildQuant(q: Quant, store: Store, codingName: String,
      source: String, column: String, perCell: Boolean): QuantParams = {
    val coding = store.loadCoding(codingName)
    val listing = store.sourceListing(source)
    if (perCell)
      require(coding.numCells <= ResidualCellCap,
        s"per-cell ${q.name} supports codings up to $ResidualCellCap cells (the " +
          s"param set is numCells×dim×${q.fields.length} values); coding " +
          s"'$codingName' has ${coding.numCells}. Build with perCell = false.")
    val df = store.loadTable(source)
    val vecs = (if (perCell) df.withColumn(CodeCol, assignExpr(col(column), coding)) else df)
      .withColumn(VecCol, col(column).cast("array<double>"))
      .filter(col(VecCol).isNotNull)
    val blocks = q.fit(vecs, if (perCell) Seq(col(CodeCol)) else Nil)
    require(blocks.nonEmpty,
      s"${q.builder}: $source.$column has no non-null vectors to encode")
    val params = q.layout(blocks)
    Swap.replace(store.fs, new Path(tierPath(store, codingName, source, column, q.tier))) { image =>
      writeCells(df.withColumn(SrcFileCol, col("_metadata.file_name"))
        .withColumn(CodeCol, assignExpr(col(column), coding))
        .withColumn(q.codes, q.encode(col(column), col(CodeCol), params)),
        coding.numCells, image)
      store.writeSidecar(s"$image/${q.sidecarName}", q.toJson(params))
      recordSourceStamp(store, image, listing)
    }
    params
  }

  /** A quantized tier's codec, read once per sidecar write
    * ([[codecOf]]); refuses a missing index, and a malformed sidecar
    * ([[Quant.parse]]). */
  private def quantParams(q: Quant, store: Store, codingName: String,
      source: String, column: String): QuantParams = {
    val sidecar = q.sidecar(store, codingName, source, column)
    codecOf(store, sidecar) {
      require(store.sidecarExists(sidecar),
        s"no ${q.name} index for $source.$column under coding '$codingName' — " +
          s"build it first (${q.builder})")
      q.parse(sidecar, store.readSidecar(sidecar))
    }
  }

  /** Whether a quantized tier's sidecar exists and reads: one that does
    * not (malformed, or from before the tier's current codec) counts as
    * ABSENT, so exists-then-build flows rebuild it. */
  private def quantExists(q: Quant, store: Store, codingName: String,
      source: String, column: String): Boolean =
    store.sidecarExists(q.sidecar(store, codingName, source, column)) &&
      scala.util.Try(quantParams(q, store, codingName, source, column)).isSuccess

  /** Whether a stored sidecar holds per-cell blocks — read even from one
    * whose codec no longer parses, so a rebuild keeps the mode. A sidecar
    * that is not a JSON object leaves the mode unknown: refused, naming
    * both builds, rather than rebuilt as a guess. */
  private def storedPerCell(q: Quant, store: Store, sidecar: String): Boolean =
    scala.util.Try(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(store.readSidecar(sidecar))).toOption.filter(n => n != null && n.isObject)
      .map(_.has("cells"))
      .getOrElse(throw new IllegalStateException(
        s"unreadable ${q.name} sidecar $sidecar: its per-cell mode is unknown — " +
          s"rebuild with ${q.builder}(perCell = true) or ${q.builder}(perCell = false)"))

  /** A quantized tier of the [[twoPass]] plan: the exact metric over the
    * kernel's decode of the codes (the cell's block selected by
    * `__CODED_ID__`), against the target literal or each query's
    * full-precision vector. */
  private def quantTier(q: Quant)(store: Store, codingName: String,
      source: String, column: String, coding: Coding,
      metric: Option[String]): Tier = {
    val params = quantParams(q, store, codingName, source, column)
    val m = graft.core.Metrics.canonical(metric.getOrElse(coding.config.metric))
    val decoded = q.decode(col(q.codes), col(CodeCol), params)
    Tier(q.tier, Some(q.codes), m,
      (t, _) => {
        require(t.length == params.dim,
          s"${q.name} search: target has ${t.length} dims, index has ${params.dim}")
        vector_distance(decoded, t.lit, m)
      },
      (qs, qid, qvec) => (qs.select(col(qid), col(CellCol), col(qvec)),
        vector_distance(decoded, col(qvec), m)))
  }

  /** Build the IVF+SQ8 index: the cell-partitioned copy carries an 8-bit
    * scalar-quantized copy of the vector (d bytes/row vs 4d float bytes —
    * the memory tier BETWEEN raw vectors and PQ's m bytes, with near-exact
    * ranking instead of PQ's subspace approximation). Affine params are
    * PER-DIMENSION ([[fitSqParams]]), so each dimension's dequantized
    * values have ≤ range_i/510 absolute error — an outlier in one
    * dimension cannot collapse the others' resolution. `perCell = true`
    * fits one params block per IVF cell plus the global fallback — the
    * SemDeDup setting, where heterogeneous clusters have disjoint
    * per-dimension ranges. Encode is the codegen'd
    * [[graft.functions.QuantizePerCellDim]]. Returns the global params. */
  def buildSq(store: Store, codingName: String, source: String,
      column: String, perCell: Boolean = false): SqParams = {
    val p = buildQuant(Sq, store, codingName, source, column, perCell)
    SqParams(p.global("scales").map(_.toFloat), p.global("zeroPoints").map(_.toFloat))
  }

  def sqIndexExists(store: Store, codingName: String, source: String,
      column: String): Boolean =
    quantExists(Sq, store, codingName, source, column)

  /** Probed IVF+SQ8 search — the [[twoPass]] plan with the coarse score
    * an exact distance over the DEQUANTIZED 8-bit copy: the coarse pass
    * reads (idCol, d-byte codes) over pruned partitions only, ranks with
    * `vector_distance(dequantize(codes), target)` (both codegen'd, fused
    * in one projection), then the float vectors are read back just for
    * the `candidates` survivors and scored exactly. With probes =
    * numCells and candidates ≥ corpus this is exact (the oracle
    * contract); at bounded budgets the 8-bit ranking error (≤ range/510
    * per element) makes candidate recall far tighter than PQ's at 4×
    * PQ's footprint. */
  def searchSq(
      store: Store,
      codingName: String,
      source: String,
      column: String,
      target: graft.api.TargetVector,
      k: Int,
      probes: Int,
      candidates: Int,
      idCol: String,
      metric: Option[String] = None,
      filter: Option[Column] = None,
      select: Option[Seq[String]] = None,
      tieBreak: Seq[String] = Nil): DataFrame =
    twoPass(quantTier(Sq), Seq(idCol), store, codingName, source, column, target,
      k, Some(probes), candidates, idCol, metric, filter, select, tieBreak)

  /** Build the IVF+BQ index: the cell-partitioned copy carries a 1-bit
    * sign code per dimension (`ceil(d/8)` bytes/row — 32× smaller than
    * float32, 8× smaller than SQ8; the coarsest memory tier). Each
    * dimension is binarized around its MEAN, and the sidecar also
    * records each side's CONDITIONAL MEAN — the optimal 1-bit scalar
    * dequantizer levels — so the coarse pass ranks ASYMMETRICALLY:
    * `vector_distance(reconstruction, query)` keeps the query at full
    * float precision and per-dimension magnitudes in the ranking while
    * the scan still reads only the packed bits. `perCell = true` centers
    * each cell's bits at its own means (residual codes — the config for
    * clustered corpora, where global sign bits degenerate into a cluster
    * id). Encode is the codegen'd [[graft.functions.PackSignBitsPerCell]].
    *
    * The tier's contract matches SQ8's: the 1-bit score is COARSE
    * ranking only; [[searchBq]] always reranks the `candidates`
    * survivors with the exact metric over the float vectors, so full
    * probes + candidates is exact. Returns the global per-dim
    * thresholds. */
  def buildBq(store: Store, codingName: String, source: String,
      column: String, perCell: Boolean = false): Array[Double] =
    buildQuant(Bq, store, codingName, source, column, perCell).global("thresholds")

  def bqIndexExists(store: Store, codingName: String, source: String,
      column: String): Boolean =
    quantExists(Bq, store, codingName, source, column)

  /** Probed IVF+BQ search — the [[twoPass]] plan at the 1-bit tier: the
    * coarse pass reads (idCol, ceil(d/8)-byte codes) over pruned
    * partitions only and ranks ASYMMETRICALLY —
    * `vector_distance(dequantize_sign_bits(codes), target, metric)`,
    * the codegen'd conditional-mean reconstruction fused with the
    * distance in one projection. The float vectors are read back just
    * for the `candidates` survivors and scored exactly under `metric`.
    * With probes = numCells and candidates ≥ corpus this is exact (the
    * oracle contract); at bounded budgets the 1-bit coarse scan is 8×
    * smaller than SQ8's and 32× smaller than raw. Coarse ties break by
    * `idCol`, so candidate selection is deterministic. */
  def searchBq(
      store: Store,
      codingName: String,
      source: String,
      column: String,
      target: graft.api.TargetVector,
      k: Int,
      probes: Int,
      candidates: Int,
      idCol: String,
      metric: Option[String] = None,
      filter: Option[Column] = None,
      select: Option[Seq[String]] = None,
      tieBreak: Seq[String] = Nil): DataFrame =
    twoPass(quantTier(Bq), Seq(idCol), store, codingName, source, column, target,
      k, Some(probes), candidates, idCol, metric, filter, select, tieBreak)

  /** The (modification time, length) stamp of a candidate tier's codec
    * sidecar (sq | bq | pq), as measured advice records it: only a build
    * writes the sidecar, so the stamp moves with a rebuild and with
    * nothing else. None for the rerank tier, which has no codec, or a
    * tier never built. */
  private[graft] def codecStamp(store: Store, codingName: String,
      source: String, column: String, tier: String): Option[String] = {
    val sidecar = tier match {
      case "sq" | "bq" => Some(quantOf(tier).sidecar(store, codingName, source, column))
      case "pq" => Some(pqSidecar(tierPath(store, codingName, source, column, tier)))
      case _ => None
    }
    sidecar.flatMap(store.fileStamp).map { case (t, n) => s"$t:$n" }
  }

  /** A k^n-capped probe union is still a planning hazard as an IN-SET
    * partition filter (catalog pruning evaluates it per partition and the
    * predicate itself ships in every task); beyond this many distinct
    * cells the batch should probe less or split. */
  val ProbedCellUnionCap = 32768

  /** Distinct probed cells across the query batch (driver-side — the
    * exploded frame is numQueries×probes rows), cap-checked. A union
    * covering EVERY cell is exempt: [[pruneToCells]] then skips the
    * IN-SET filter entirely, so there is nothing hazardous to build. */
  private def probedCellUnion(exploded: DataFrame, numCells: Long): Array[Long] = {
    val cells = exploded.select(CellCol).distinct().collect().map(_.getLong(0))
    require(cells.length <= ProbedCellUnionCap || cells.length >= numCells,
      s"the union of probed cells across this query batch (${cells.length}) " +
        s"exceeds $ProbedCellUnionCap — an IN-SET partition filter that " +
        "large is itself a planning hazard. Reduce probes, use a coding " +
        "with fewer cells, or split the query batch.")
    cells
  }

  /** Batch IVF k-NN join: top-k corpus rows per query row, probing only
    * each query's nearest cells.
    *
    * Scale shape: every query explodes to its `probes` cell ids (small
    * broadcast); the union of probed cells prunes the partitioned corpus
    * scan (driver-side distinct — capped, see [[ProbedCellUnionCap]]); the
    * per-cell broadcast equi-join scores distances MAP-SIDE (the pruned
    * scan has to read the vectors to score them, but no shuffle sees
    * them), and only (queryId, corpusId, distance, tie-breaks) ride the
    * per-query window exchange — the corpus' float vectors never cross a
    * shuffle. Full rows come back via a broadcast join of the ≤
    * numQueries·k survivors. This is the "online ANN" surface re-shaped
    * for Spark: amortize many queries over one pruned corpus pass.
    * `idCol` must be unique per corpus row. The exploded query batch
    * (numQueries×probes rows, vectors included) is broadcast — batches
    * estimated past `broadcastCapBytes` are hash-chunked and the
    * per-chunk top-k unioned (equivalent; see
    * [[graft.api.Search.QueryBroadcastCap]]).
    */
  def ivfKnnJoin(
      store: Store,
      codingName: String,
      source: String,
      column: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      probes: Int,
      idCol: String,
      metric: Option[String] = None,
      tieBreak: Seq[String] = Nil,
      broadcastCapBytes: Long = Search.QueryBroadcastCap): DataFrame = {
    requireCount("probes", probes)
    val qs = queries.select(col(queryIdCol), col(queryVecCol))
    Search.chunkByBroadcastSize(qs, queryIdCol, queryVecCol, probes, broadcastCapBytes)
      .map(ch => ivfKnnJoinChunk(store, codingName, source, column, ch,
        queryIdCol, queryVecCol, k, probes, idCol, metric, tieBreak))
      .reduce(_.unionByName(_))
  }

  private def ivfKnnJoinChunk(
      store: Store,
      codingName: String,
      source: String,
      column: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      probes: Int,
      idCol: String,
      metric: Option[String],
      tieBreak: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val coding = store.loadCoding(codingName)
    val m = metric.getOrElse(coding.config.metric)
    val rankCellsUdf = udf((v: Seq[Double]) => coding.rankCells(v.toArray, probes))
    val exploded = queries
      .withColumn(CellCol, explode(rankCellsUdf(col(queryVecCol).cast("array<double>"))))
    val cells = probedCellUnion(exploded, coding.numCells)
    val corpus = pruneToCells(load(store, codingName, source, column),
      cells, coding.numCells)
    // narrow coarse pass: score in the projection of the broadcast join,
    // then immediately shed the vectors before the window exchange
    val coarseCols = (idCol +: tieBreak).distinct
    val scored = corpus
      .select((coarseCols :+ column).distinct.map(col) :+ col(CodeCol): _*)
      .join(broadcast(exploded), col(CodeCol) === col(CellCol))
      .withColumn(Search.DistCol, vector_distance(col(column), col(queryVecCol), m))
      .select(col(queryIdCol) +: col(Search.DistCol) +: coarseCols.map(col): _*)
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col(Search.DistCol).asc_nulls_last +: tieBreak.map(col(_).asc): _*)
    val topk = scored.withColumn("__rank__", row_number().over(w))
      .filter(col("__rank__") <= k)
      .select(col(queryIdCol), col(Search.DistCol), col(idCol))
    // survivors (≤ numQueries·k ids) broadcast back against the pruned
    // corpus to restore the full row — distances travel with them, no
    // re-scoring
    broadcast(topk).join(corpus, Seq(idCol))
  }

  /** The one body of the batch two-pass joins — [[ivfKnnJoin]]'s scale
    * shape with a coarse pass. Each query explodes to its ranked probe
    * cells (the position in the probe list rides along as
    * `__cell_rank__`); the union of probed cells prunes the tier copy
    * ([[probedCellUnion]]); the per-cell broadcast join scores
    * (id, cell, codes) against the tier's q-side MAP-SIDE, and the
    * per-query window keeps each query's best `candidates` ids (coarse
    * ties on `idCol`, so candidate selection is deterministic) while
    * exchanging SCALARS only — neither vectors, codes nor tables cross
    * the shuffle; [[rerankSurvivors]] scores the survivors exactly. With
    * probes = numCells and candidates ≥ corpus size this equals the
    * exact k-NN join (the oracle contract). Query batches estimated past
    * `broadcastCapBytes` — vector plus the tier's per-replica bytes — are
    * hash-chunked and the per-chunk top-k unioned (see [[ivfKnnJoin]]). */
  private def candidateJoin(tierOf: TierOf, store: Store, codingName: String,
      source: String, column: String, queries: DataFrame,
      queryIdCol: String, queryVecCol: String, k: Int, probes: Int,
      candidates: Int, idCol: String, metric: Option[String],
      tieBreak: Seq[String], broadcastCapBytes: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireCount("probes", probes)
    requireCount("candidates", candidates)
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val coding = store.loadCoding(codingName)
    val tier = tierOf(store, codingName, source, column, coding, metric)
    val rankCellsUdf = udf((v: Seq[Double]) => coding.rankCells(v.toArray, probes))
    val qs = queries.select(col(queryIdCol), col(queryVecCol))
    Search.chunkByBroadcastSize(qs, queryIdCol, queryVecCol, probes,
        broadcastCapBytes, tier.perReplicaExtraBytes)
      .map { chunk =>
        val exploded = chunk.select(col(queryIdCol), col(queryVecCol),
          posexplode(rankCellsUdf(col(queryVecCol).cast("array<double>")))
            .as(Seq(CellRankCol, CellCol)))
        val corpus = pruneToCells(
          loadTier(store, codingName, source, column, tier.name),
          probedCellUnion(exploded, coding.numCells), coding.numCells)
        val (qSide, score) = tier.querySide(exploded, queryIdCol, queryVecCol)
        val coarse = corpus.select((Seq(idCol, CodeCol) ++ tier.codes).map(col): _*)
          .join(broadcast(qSide), col(CodeCol) === col(CellCol))
          .select(col(queryIdCol), col(idCol), score.as(CoarseCol))
        val w = Window.partitionBy(col(queryIdCol))
          .orderBy(col(CoarseCol).asc_nulls_last, col(idCol).asc)
        val survivors = coarse.withColumn("__crank__", row_number().over(w))
          .filter(col("__crank__") <= candidates)
          .select(col(queryIdCol), col(idCol))
        rerankSurvivors(survivors, corpus, chunk, queryIdCol, queryVecCol,
          column, idCol, k, tier.metric, tieBreak)
      }
      .reduce(_.unionByName(_))
  }

  /** Shared rerank tail of the batch two-pass joins — the
    * [[ivfKnnJoin]] scale discipline applied to a candidate set: the
    * survivors (≤ queries·candidates scalar id pairs) broadcast back
    * against the pruned corpus so the corpus side NEVER shuffles by id,
    * the already-broadcast-sized query batch rejoins map-side for the
    * exact rescore, the per-query top-k window exchanges SCALARS only
    * (queryId, id, distance, tie-breaks — no vectors), and the k
    * winners fetch their vector rows by a second broadcast join
    * (distances travel with them; no re-scoring). */
  private def rerankSurvivors(
      survivors: DataFrame,
      corpus: DataFrame,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      column: String,
      idCol: String,
      k: Int,
      metric: String,
      tieBreak: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rerankCols = (Seq(queryIdCol, idCol) ++ tieBreak).distinct
    val scored = broadcast(survivors)
      .join(corpus.select(col(idCol), col(column)), Seq(idCol))
      .join(broadcast(queries), Seq(queryIdCol))
      .withColumn(Search.DistCol,
        vector_distance(col(column), col(queryVecCol), metric))
      .select((rerankCols :+ Search.DistCol).map(col): _*)
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col(Search.DistCol).asc_nulls_last +: tieBreak.map(col(_).asc): _*)
    val topk = scored.withColumn("__rank__", row_number().over(w))
      .filter(col("__rank__") <= k).drop("__rank__")
    broadcast(topk).join(corpus.select(col(idCol), col(column)), Seq(idCol))
  }

  /** Batch k-NN join over the SQ8 index: the [[candidateJoin]] plan with
    * [[searchSq]]'s coarse score — the per-cell corpus×queries join
    * carries (id, cell, d-byte codes) instead of 4d float bytes (4× less
    * data through the join), then raw vectors are read back only for
    * each query's `candidates` coarse survivors. Bounded budgets inherit
    * SQ8's near-exact ranking, so small `candidates` already recover the
    * true top-k. */
  def sqKnnJoin(
      store: Store,
      codingName: String,
      source: String,
      column: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      probes: Int,
      candidates: Int,
      idCol: String,
      metric: Option[String] = None,
      tieBreak: Seq[String] = Nil,
      broadcastCapBytes: Long = Search.QueryBroadcastCap): DataFrame =
    candidateJoin(quantTier(Sq), store, codingName, source, column, queries,
      queryIdCol, queryVecCol, k, probes, candidates, idCol, metric,
      tieBreak, broadcastCapBytes)

  /** Batch k-NN join over the BQ index: the [[candidateJoin]] plan with
    * [[searchBq]]'s coarse score — the per-cell join carries (id, cell,
    * ceil(d/8)-byte sign codes), 32× less data than raw floats, and
    * ranks asymmetrically against each query's full-precision vector. */
  def bqKnnJoin(
      store: Store,
      codingName: String,
      source: String,
      column: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      probes: Int,
      candidates: Int,
      idCol: String,
      metric: Option[String] = None,
      tieBreak: Seq[String] = Nil,
      broadcastCapBytes: Long = Search.QueryBroadcastCap): DataFrame =
    candidateJoin(quantTier(Bq), store, codingName, source, column, queries,
      queryIdCol, queryVecCol, k, probes, candidates, idCol, metric,
      tieBreak, broadcastCapBytes)

  /** Batch k-NN join over the IVF+PQ index: the [[candidateJoin]] plan
    * with [[searchIvfPq]]'s ADC score — the per-cell join carries (id,
    * cell, m-byte PQ codes), and each query's per-cell lookup table is
    * built once on the broadcast side, so the chunk estimate charges
    * m·k·8 bytes per replicated row on top of the vector payload.
    * Survivors rerank under the codebooks' metric. */
  def pqKnnJoin(
      store: Store,
      codingName: String,
      source: String,
      column: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      probes: Int,
      candidates: Int,
      idCol: String,
      metric: Option[String] = None,
      tieBreak: Seq[String] = Nil,
      broadcastCapBytes: Long = Search.QueryBroadcastCap): DataFrame =
    candidateJoin(pqTier, store, codingName, source, column, queries,
      queryIdCol, queryVecCol, k, probes, candidates, idCol, metric,
      tieBreak, broadcastCapBytes)

  /** Batch retrieve-rerank k-NN join: [[searchRerank]]'s two-stage shape
    * amortized over a query batch by the [[candidateJoin]] plan — the
    * coarse score is the cell's position in each query's probe list,
    * carried by the broadcast join key itself (no per-query score table,
    * no vector math at all). Coarse ties inside one cell break on
    * `idCol`. */
  def rerankKnnJoin(
      store: Store,
      codingName: String,
      source: String,
      column: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      probes: Int,
      candidates: Int,
      idCol: String,
      metric: Option[String] = None,
      tieBreak: Seq[String] = Nil,
      broadcastCapBytes: Long = Search.QueryBroadcastCap): DataFrame =
    candidateJoin(rerankTier, store, codingName, source, column, queries,
      queryIdCol, queryVecCol, k, probes, candidates, idCol, metric,
      tieBreak, broadcastCapBytes)
}
