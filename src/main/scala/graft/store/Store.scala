package graft.store

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftShims, ResidentScan, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._

import graft.coder.{Coder, CoderConfig, Coding}

/** Filesystem-backed catalog.
  *
  * Layout mirrors the reference root
  * (`/root/reference/src/fenix/io/table/table.py:9`,
  * `io/coder/coder.py:120-127`, `io/index/index.py:14-29`) but with
  * cluster-scale storage choices:
  *
  * {{{
  * <root>/sources/<name>/                      Parquet table
  * <root>/codings/<name>/centroids/            Parquet (codebook, cell, centroid)
  * <root>/codings/<name>/config.json           training config
  * <root>/codings/<name>/advice/<key>.json     advisor advice (probes | <tier>_p<probes>)
  * <root>/indexes/<source>/<column>/<coding>/  Parquet partitioned by __CODED_ID__
  * }}}
  *
  * Differences by design (SURVEY §1.3, §2.6): no server-global session
  * state (all scan parameters are method arguments); the index is a
  * cell-partitioned copy of the table, NOT a positionally-joined sidecar
  * (Spark has no stable row order); drop-index actually removes the index
  * directories (fixes the reference leak, `flight.py:95-100`).
  *
  * All paths go through the Hadoop `FileSystem` API so the same code runs
  * on local disk, HDFS, or object stores.
  */
class Store(val spark: SparkSession, val root: String) {
  private[graft] def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // a search over a resident tier's rows that is not finished on the
  // driver still plans: its leaf is a local table scan
  ResidentScan.register(spark)

  /** Every table/coding/column/model name becomes a filesystem path
    * segment — reject anything outside `[A-Za-z0-9._-]` (and `.`/`..`
    * traversal) BEFORE it reaches a Path. Central here so both the
    * library API and the HTTP server get the same guarantee.
    *
    * The contract applies RETROACTIVELY: read and drop paths validate
    * too, so an artifact persisted under a name outside the character
    * class (possible only before this guard existed, or by writing to
    * the store directory out-of-band) is unreachable through the API —
    * rename it on disk to a legal name to recover it. Uniform
    * validation is deliberate: a read-side exemption would re-open the
    * traversal surface this exists to close. */
  private def safeSeg(name: String): String = {
    require(name.nonEmpty && name.length <= 255 && name != "." && name != ".." &&
      name.forall(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '.' || c == '_' || c == '-'),
      s"invalid name '$name': allowed characters are [A-Za-z0-9._-]")
    require(!Swap.reserved(name),
      s"invalid name '$name': the .graft-new-/.graft-old- prefixes are " +
        "reserved for the commit protocol's staging and aside copies")
    name
  }

  private def sourcePath(name: String) = s"$root/sources/${safeSeg(name)}"
  /** Public path of a named table's parquet directory (streaming sinks
    * need it for `writeStream.option("path", …)`). */
  def tablePath(name: String): String = sourcePath(name)
  private def codingPath(name: String) = s"$root/codings/${safeSeg(name)}"
  def indexPath(source: String, column: String, coding: String) =
    s"$root/indexes/${safeSeg(source)}/${safeSeg(column)}/${safeSeg(coding)}"
  /** IVF+PQ variant of [[indexPath]]: cell-partitioned copy + codes column. */
  def pqIndexPath(source: String, column: String, coding: String) =
    s"$root/pq_indexes/${safeSeg(source)}/${safeSeg(column)}/${safeSeg(coding)}"
  /** IVF+SQ8 variant: cell-partitioned copy + 8-bit quantized vectors. */
  def sqIndexPath(source: String, column: String, coding: String) =
    s"$root/sq_indexes/${safeSeg(source)}/${safeSeg(column)}/${safeSeg(coding)}"
  /** IVF+BQ variant: cell-partitioned copy + 1-bit sign codes. */
  def bqIndexPath(source: String, column: String, coding: String) =
    s"$root/bq_indexes/${safeSeg(source)}/${safeSeg(column)}/${safeSeg(coding)}"
  /** Lexical (BM25) inverted index: term-bucket-partitioned postings
    * plus the doc-length sidecar table. */
  def lexIndexPath(source: String, column: String) =
    s"$root/lex_indexes/${safeSeg(source)}/${safeSeg(column)}"
  /** Fuzzy (edit-distance) lookup index: segment-bucket-partitioned
    * PassJoin artifacts plus the (id, t, len) base table. */
  def fuzzyIndexPath(source: String, column: String) =
    s"$root/fuzzy_indexes/${safeSeg(source)}/${safeSeg(column)}"

  /** Write small sidecar bytes (e.g. PQ codebooks) through the store's
    * filesystem, so the layout works on HDFS/object stores too. */
  def writeSidecar(path: String, bytes: Array[Byte]): Unit = {
    val out = fs.create(new Path(path), true)
    try out.write(bytes) finally out.close()
  }

  def readSidecar(path: String): Array[Byte] = {
    val in = fs.open(new Path(path))
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      var n = in.read(tmp)
      while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
      buf.toByteArray
    } finally in.close()
  }

  def sidecarExists(path: String): Boolean = fs.exists(new Path(path))

  /** What a search opens — a coding, a tier's resolved relation, a
    * codec sidecar — opened once per [[Store]] and reused while the
    * (modification time, length) of `path` and of each file in
    * `markers` (relative to `path`) still match what was seen BEFORE
    * the open; a missing file is a value too, so a first write or a
    * drop reopens. Every writer of those artifacts, through this store
    * or any other over the same root, rewrites a marker or the
    * directory's entries. Validation runs on every use: `1 +
    * markers.size` `getFileStatus` calls, no listing, no Spark job. A
    * failed open is not kept. One `(path, markers)` names one kind of
    * value. */
  private[graft] def memo[A](path: String, markers: Seq[String] = Nil)(
      open: => A): A = {
    val key = (path +: markers).mkString("\u0000")
    val stamp = (path +: markers.map(m => s"$path/$m")).map(fileStamp)
    memos.get(key) match {
      case (`stamp`, v) => v.asInstanceOf[A]
      case _ =>
        val v = open
        Option(memos.put(key, (stamp, v))).foreach(old => release(old._2))
        v
    }
  }

  /** Drops every memo entry at or under `path` (a dropped tier or
    * coding), giving back what it held on the driver. */
  private[graft] def forget(path: String): Unit =
    memos.keySet.asScala.filter { key =>
      val p = key.takeWhile(_ != '\u0000')
      p == path || p.startsWith(path + "/")
    }.foreach(key => Option(memos.remove(key)).foreach(old => release(old._2)))

  private def release(v: Any): Unit = v match {
    case r: Store#Resident => r.release()
    case _ => ()
  }

  @transient private lazy val memos =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[Option[(Long, Long)]], Any)]()

  /** Bytes the store's [[Resident]] tiers hold now. */
  private[graft] def residentBytes: Long = resident.get

  @transient private lazy val resident = new java.util.concurrent.atomic.AtomicLong()

  /** Counts `bytes` against [[Store.ResidentBytes]] in place of `from`
    * already counted, if the total stays within the cap. */
  private def take(bytes: Long, from: Long = 0): Boolean = {
    val was = resident.getAndUpdate(n =>
      if (n - from + bytes <= Store.ResidentBytes) n - from + bytes else n)
    was - from + bytes <= Store.ResidentBytes
  }

  /** A memoized cell tier relation (ivf, sq, bq or pq) that can also
    * keep its rows on the driver, grouped by the cell id in `cellCol`
    * (`None`: a row with no cell, whose vector is null).
    * [[Store.ResidentBytes]] caps the heap the rows of every resident
    * tier of this store take together. Before the first read a tier
    * counts its stored bytes (the scan's size estimate, the files'
    * total length: no job); the read then counts what its rows really
    * take (their `UnsafeRow` bytes: a repetitive column takes several
    * times its compressed size), and keeps them only if that fits. [[cells]] reads on first use — callers racing a
    * cold read wait for it — and is `None` when the rows do not fit
    * beside what is already held (the caller serves the frame instead;
    * the next use tries again, by the known size, with no job), when
    * they are over the cap alone, or once the memo entry was replaced
    * or forgotten, which gives their bytes back. */
  private[graft] final class Resident(val frame: DataFrame, cellCol: String) {
    // what the rows need: the stored estimate until they were read
    private var need: Long =
      frame.queryExecution.analyzed.collectLeaves().map(_.stats.sizeInBytes).sum.toLong
    private var held: Option[Map[Option[Long], Array[InternalRow]]] = None
    private var released = false

    def cells: Option[Map[Option[Long], Array[InternalRow]]] = synchronized {
      if (held.isEmpty && !released && take(need)) {
        val rows = try GraftShims.collectInternal(frame) catch {
          case e: Throwable => resident.addAndGet(-need); throw e
        }
        val heap = rows.iterator.map {
          case u: UnsafeRow => u.getSizeInBytes.toLong
          case _ => Store.ResidentBytes + 1 // of unknown size: never kept
        }.sum
        if (take(heap, from = need)) {
          val cell = frame.schema.fieldIndex(cellCol)
          held = Some(rows.groupBy(r =>
            if (r.isNullAt(cell)) None else Some(r.getLong(cell))))
        } else resident.addAndGet(-need)
        need = heap
      }
      held
    }

    private[Store] def release(): Unit = synchronized {
      if (held.nonEmpty) resident.addAndGet(-need)
      held = None
      released = true
    }
  }

  /** The (modification time, length) of `path`; None when it is missing. */
  private[graft] def fileStamp(path: String): Option[(Long, Long)] =
    try {
      val s = fs.getFileStatus(new Path(path))
      Some((s.getModificationTime, s.getLen))
    } catch { case _: java.io.FileNotFoundException => None }

  private def list(dir: String): Seq[String] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Nil
    else Swap.listed(fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq)
  }

  // ——— Tables (S1-S6) ———

  /** Replace table `name` with `df` through [[Swap.install]] (the
    * upsert/merge path, where `df` typically READS the very table being
    * replaced): the full replacement is written to staging before
    * anything is renamed, so a failed write leaves the old table (or no
    * table) untouched, and a reader sees the old table or the new one.
    * Columns declared as fixed-shape tensors (via `Tensors.asTensor`
    * metadata) are shape-checked during the write, so a ragged vector
    * fails ingest rather than a later distance/assign. */
  def replaceTable(name: String, df: DataFrame): Unit =
    Swap.replace(fs, new Path(sourcePath(name))) { image =>
      graft.types.Tensors.enforceDeclaredShapes(df).write.parquet(image)
    }

  /** Write a table ([[replaceTable]]). */
  def createTable(name: String, df: DataFrame): Unit = replaceTable(name, df)

  /** Import an external CSV, JSON, or Arrow IPC stream file set as a
    * named table. For CSV/JSON the schema is caller-supplied DDL, never
    * inferred (the reference's schema contract, SURVEY §1.2) and parsing
    * is FAILFAST (a malformed record fails the import rather than
    * becoming silent nulls). For `arrow` — the reference's native format
    * (`io/arrow/arrow.py:6-21`) — the schema travels IN the file
    * ([[graft.sources.ArrowIpc]]); a non-empty `schemaDdl` is validated
    * against it (names + types) rather than applied. Either way the data
    * lands in the store's parquet layout through the normal ingest path —
    * tensor shape enforcement included. */
  def importTable(name: String, path: String, format: String, schemaDdl: String,
      options: Map[String, String] = Map.empty): Unit = {
    require(Set("csv", "json", "arrow").contains(format),
      s"unsupported import format '$format' (csv | json | arrow)")
    val df =
      if (format == "arrow") {
        val got = graft.sources.ArrowIpc.readStream(spark, path)
        if (schemaDdl.nonEmpty) {
          val want = org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
          val gotShape = got.schema.map(f => (f.name, f.dataType))
          val wantShape = want.map(f => (f.name, f.dataType))
          require(gotShape == wantShape,
            s"arrow file schema $gotShape does not match declared $wantShape")
        }
        got
      } else
        spark.read.schema(schemaDdl).options(options)
          .option("mode", "FAILFAST").format(format).load(path)
    createTable(name, df)
  }

  /** Load one or many sources; many ⇒ vertical concat (S4/P7,
    * `table.py:12-21`). A table with pending residue (absent, or a
    * committed install not yet rolled forward) is swept first
    * ([[Swap.recover]]), so a read after a crash sees a whole table. */
  def loadTable(names: String*): DataFrame = {
    require(names.nonEmpty, "at least one source name")
    names.map { n =>
      val p = new Path(sourcePath(n))
      if (Swap.pending(fs, p)) Swap.recover(fs, p)
      spark.read.parquet(p.toString)
    }.reduce(_ unionByName _)
  }

  def listTables(): Seq[String] = list(s"$root/sources")

  /** A lone aside is the table until a sweep restores it. */
  def tableExists(name: String): Boolean =
    fs.exists(new Path(sourcePath(name))) ||
      fs.exists(Swap.aside(new Path(sourcePath(name))))

  /** Metadata-cheap content stamp of a stored source: MD5 over the
    * sorted (name, length, mtime) file listing of its directory. Any
    * rewrite — including one that preserves the row count — lands new
    * files and changes the stamp, so "stamp unchanged" is a far stronger
    * freshness proxy than count equality (one FS listing, no data
    * scan). */
  def sourceStamp(name: String): String = {
    if (!fs.exists(new Path(sourcePath(name)))) return "absent"
    stampOf(sourceListing(name))
  }

  /** The sorted (name:len:mtime) file entries behind [[sourceStamp]] —
    * persisted by the index stamp sidecar so sync/repair can diff WHICH
    * files changed, not just that something did. */
  def sourceListing(name: String): Seq[String] = {
    val p = new Path(sourcePath(name))
    if (!fs.exists(p)) Nil
    else fs.listStatus(p)
      // data files only: parquet readers ignore _/.-prefixed files, and
      // a rewritten _SUCCESS marker must not read as "file modified" to
      // the append-only subset gate or the repair diff
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
      .sorted.toSeq
  }

  /** MD5 of a file listing (the stamp format). */
  def stampOf(entries: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(entries.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Bucketed table: pre-hash-partitioned AND sorted on `bucketCol` so
    * equi-joins/aggregations between co-bucketed tables plan with NO
    * shuffle exchange (registered in the session catalog — bucketing
    * metadata lives there, the data under the store root). At 100 TB,
    * bucketing the fact tables on their join key once pays for every
    * downstream join. */
  def createBucketedTable(name: String, df: DataFrame, bucketCol: String,
      numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .option("path", s"$root/bucketed/$name")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(name)

  def loadBucketedTable(name: String): DataFrame = spark.table(name)

  def dropTable(name: String): Unit = Swap.drop(fs, new Path(sourcePath(name)))

  /** Rewrite a table into `numFiles` files (small-file compaction after
    * many incremental appends — at scale, file-count hygiene is what keeps
    * scan task counts and NameNode/liststatus pressure sane). */
  def compact(name: String, numFiles: Int): Unit =
    replaceTable(name, loadTable(name).repartition(numFiles))

  /** Range-cluster a table on `sortCol`: repartitionByRange + sort within
    * partitions, so each output file covers a disjoint value range and
    * Parquet row-group min/max statistics skip whole files for range
    * predicates (the poor man's clustering key — at 100 TB this is the
    * difference between scanning one file and scanning all of them for a
    * `WHERE ts BETWEEN …`). */
  def optimizeLayout(name: String, sortCol: String, numFiles: Int): Unit =
    replaceTable(name, loadTable(name)
      .repartitionByRange(numFiles, col(sortCol))
      .sortWithinPartitions(sortCol))

  /** Z-order (Morton-curve) multi-column clustering: interleave the bits
    * of min/max-normalized column ranks and range-cluster on the
    * resulting z-value, so each output file covers a small HYPERCUBE of
    * the value space and Parquet min/max stats skip files for predicates
    * on ANY of the clustered columns — where [[optimizeLayout]] clusters
    * one column perfectly and leaves the others unclustered. The layout
    * move behind Delta/Iceberg `OPTIMIZE ZORDER BY`, for the multi-filter
    * scan patterns a 100 TB store actually serves.
    *
    * Normalization is linear in [min, max] by default (ONE agg pass, no
    * global sort), so heavily skewed columns collapse onto few z-cells
    * and lose within-dense-region pruning; `equiDepth = true` ranks each
    * column by ~256 approximate quantiles instead (Greenwald-Khanna
    * sketch — still no global sort), spending the z-curve's resolution
    * where the data actually is. Numeric columns only. */
  def zorderLayout(name: String, cols: Seq[String], numFiles: Int,
      equiDepth: Boolean = false): Unit = {
    import org.apache.spark.sql.functions._
    require(cols.size >= 2 && cols.size <= 4,
      s"zorderLayout interleaves 2-4 columns, got ${cols.size} " +
        "(one column wants optimizeLayout; >4 dims dilute per-dim locality)")
    val df = loadTable(name)
    val n = cols.size
    val bitsPer = if (equiDepth) 8 else math.min(16, 63 / n)
    val scale = (1L << bitsPer) - 1
    val ranks: Seq[org.apache.spark.sql.Column] =
      if (equiDepth) {
        val doubled = cols.foldLeft(df)((d, c) =>
          d.withColumn(s"__zq_$c", col(c).cast("double")))
        val probs = (1 until (1 << bitsPer)).map(_.toDouble / (1 << bitsPer)).toArray
        // ONE Greenwald-Khanna pass sketches every column (the
        // multi-column overload) — per-column calls would rescan the
        // corpus n times at exactly the scale this feature targets
        val allBounds = doubled.stat.approxQuantile(
          cols.map(c => s"__zq_$c").toArray, probs, 0.001)
        cols.zip(allBounds).map { case (c, bounds) =>
          // rank = quantile-bucket index by binary search. A UDF is fine
          // here: this is a one-shot layout REWRITE job, not a query path
          val rank = udf { (v: Double) =>
            val i = java.util.Arrays.binarySearch(bounds, v)
            (if (i >= 0) i + 1 else -(i + 1)).toLong // insertion point
          }
          rank(col(c).cast("double"))
        }
      } else {
        val aggs = cols.flatMap(c =>
          Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
        val stats = df.agg(aggs.head, aggs.tail: _*).collect()(0)
        cols.zipWithIndex.map { case (c, i) =>
          require(!stats.isNullAt(2 * i) && !stats.isNullAt(2 * i + 1),
            s"zorderLayout: column '$c' of '$name' has no non-null numeric " +
              "values (empty table, all-null, or non-numeric column)")
          Store.linearRank(col(c),
            stats.getDouble(2 * i), stats.getDouble(2 * i + 1), bitsPer)
        }
      }
    val z = Store.mortonInterleave(ranks, bitsPer)
    replaceTable(name, df.withColumn("__Z__", z)
      .repartitionByRange(numFiles, col("__Z__"))
      .sortWithinPartitions("__Z__")
      .drop("__Z__"))
  }

  /** Catalog stats for a table: (rowCount, totalBytes, fileCount). */
  def tableStats(name: String): (Long, Long, Int) = {
    val p = new Path(sourcePath(name))
    val files = fs.listStatus(p).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val rows = spark.read.parquet(sourcePath(name)).count()
    (rows, files.map(_.getLen).sum, files.length)
  }

  // ——— BPE tokenizer models ———

  def bpeModelPath(name: String): String = s"$root/models/bpe/${safeSeg(name)}.json"

  def saveBpeModel(name: String, model: graft.ext.Bpe.BpeModel): Unit =
    writeSidecar(bpeModelPath(name), model.toJson.getBytes("UTF-8"))

  def loadBpeModel(name: String): graft.ext.Bpe.BpeModel =
    graft.ext.Bpe.fromJson(new String(readSidecar(bpeModelPath(name)), "UTF-8"))

  def listBpeModels(): Seq[String] = {
    val p = new Path(s"$root/models/bpe")
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(_.isFile)
      .map(_.getPath.getName.stripSuffix(".json")).toSeq.sorted
  }

  def dropBpeModel(name: String): Unit =
    fs.delete(new Path(bpeModelPath(name)), false)

  // ——— n-gram LM models (perplexity quality filtering) ———

  def ngramModelPath(name: String): String = s"$root/models/ngram/${safeSeg(name)}.json"

  def saveNgramModel(name: String, model: graft.ext.NgramLm.NgramLmModel): Unit =
    writeSidecar(ngramModelPath(name), model.toJson.getBytes("UTF-8"))

  /** [[memo]]ized under the model file: repeated loads of an unchanged
    * model (the server's per-request perplexity route) return the SAME
    * instance, so its memoized broadcast is reused instead of
    * accumulating one (or more) broadcast blocks per request; a
    * retrained model is picked up on the next load. */
  def loadNgramModel(name: String): graft.ext.NgramLm.NgramLmModel = {
    val path = ngramModelPath(name)
    memo(path)(graft.ext.NgramLm.fromJson(new String(readSidecar(path), "UTF-8")))
  }

  def listNgramModels(): Seq[String] = {
    val p = new Path(s"$root/models/ngram")
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(_.isFile)
      .map(_.getPath.getName.stripSuffix(".json")).toSeq.sorted
  }

  // ——— quality classifier models (model-based filtering) ———

  def qualityModelPath(name: String): String =
    s"$root/models/quality/${safeSeg(name)}.json"

  def saveQualityModel(name: String,
      model: graft.ext.QualityModel.Logistic): Unit =
    writeSidecar(qualityModelPath(name), model.toJson.getBytes("UTF-8"))

  def loadQualityModel(name: String): graft.ext.QualityModel.Logistic =
    graft.ext.QualityModel.fromJson(
      new String(readSidecar(qualityModelPath(name)), "UTF-8"))

  def listQualityModels(): Seq[String] = {
    val p = new Path(s"$root/models/quality")
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(_.isFile)
      .map(_.getPath.getName.stripSuffix(".json")).toSeq.sorted
  }

  def dropQualityModel(name: String): Unit =
    fs.delete(new Path(qualityModelPath(name)), false)

  def dropNgramModel(name: String): Unit =
    fs.delete(new Path(ngramModelPath(name)), false)

  // ——— PCA models (embedding dimensionality reduction) ———

  def pcaModelPath(name: String): String = s"$root/models/pca/${safeSeg(name)}.json"

  def savePcaModel(name: String, model: graft.ext.Embeddings.PcaModel): Unit =
    writeSidecar(pcaModelPath(name), model.toJson.getBytes("UTF-8"))

  def loadPcaModel(name: String): graft.ext.Embeddings.PcaModel =
    graft.ext.Embeddings.fromJson(new String(readSidecar(pcaModelPath(name)), "UTF-8"))

  def listPcaModels(): Seq[String] = {
    val p = new Path(s"$root/models/pca")
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(_.isFile)
      .map(_.getPath.getName.stripSuffix(".json")).toSeq.sorted
  }

  def dropPcaModel(name: String): Unit =
    fs.delete(new Path(pcaModelPath(name)), false)

  // ——— advisor advice: a measured serving budget is an artifact of its
  // coding, `<coding>/advice/<key>.json`, so a retrain or a drop of the
  // coding takes it along (DESIGN §19) ———

  def advicePath(coding: String, key: String): String =
    s"${codingPath(coding)}/advice/${safeSeg(key)}.json"

  /** What a measurement of `coding` starts from: the (modification time,
    * length) of its `centroids/_SUCCESS`, None when there is no coding. */
  def codingStamp(coding: String): Option[(Long, Long)] =
    fileStamp(s"${codingPath(coding)}/centroids/_SUCCESS")

  /** Installs advice `key` of `coding` ([[Swap.install]] of that one
    * entry), refused if the coding was retrained or dropped since
    * `measuredOn` ([[codingStamp]]) — the advice would describe cells
    * that no longer exist. */
  def saveAdvice(coding: String, key: String, json: Array[Byte],
      measuredOn: Option[(Long, Long)]): Unit =
    Swap.install(fs, new Path(codingPath(coding)), Seq("advice")) { image =>
      if (measuredOn.isEmpty || codingStamp(coding) != measuredOn)
        throw new IllegalStateException(s"coding '$coding' was retrained " +
          s"or dropped while its advice '$key' was measured — advise it again")
      val file = s"advice/${safeSeg(key)}.json"
      writeSidecar(s"$image/$file", json)
      (Seq(file), ())
    }

  /** Advice `key` of `coding`, parsed by `parse`, or None when there is
    * none; [[memo]]ized under the advice file. On a miss a pending coding
    * is swept ([[Swap.recover]]) and read again: an install cut short
    * between its renames holds the advice in staging or an aside. */
  def loadAdvice[A](coding: String, key: String)(parse: String => A): Option[A] = {
    val path = advicePath(coding, key)
    def read() = memo(path)(
      if (sidecarExists(path)) Some(parse(new String(readSidecar(path), "UTF-8"))) else None)
    read().orElse {
      val artifact = new Path(codingPath(coding))
      if (Swap.pending(fs, artifact)) { Swap.recover(fs, artifact, Seq("advice")); read() }
      else None
    }
  }

  def dropAdvice(coding: String, key: String): Unit =
    Swap.install(fs, new Path(codingPath(coding)), Seq("advice")) { _ =>
      (Seq(s"advice/${safeSeg(key)}.json"), ())
    }

  // ——— Codings (V3, A1) ———

  def saveCoding(name: String, coding: Coding): Unit = {
    import spark.implicits._
    val c = coding.config
    val rows = for {
      j <- coding.centroids.indices
      i <- coding.centroids(j).indices
    } yield (j, i, coding.centroids(j)(i).toSeq)
    val json =
      s"""{"metric":"${c.metric}","codebookSize":${c.codebookSize},"numCodebooks":${c.numCodebooks},
         |"batchSize":${c.batchSize},"numEpochs":${c.numEpochs},"seed":${c.seed},
         |"maxStepsPerEpoch":${c.maxStepsPerEpoch}}""".stripMargin.replace("\n", "")
    Swap.replace(fs, new Path(codingPath(name))) { image =>
      rows.toDF("codebook", "cell", "centroid")
        .coalesce(1).write.parquet(s"$image/centroids")
      writeSidecar(s"$image/config.json", json.getBytes("UTF-8"))
    }
  }

  /** Codings are tiny (n·k·d doubles) but live in Parquet, so a probed
    * search would otherwise pay 2 small Spark jobs per call to reload
    * unchanged centroids: [[memo]]ized under the two files every
    * [[saveCoding]] rewrites. */
  def loadCoding(name: String): Coding =
    memo(codingPath(name), Seq("config.json", "centroids/_SUCCESS"))(
      loadCodingUncached(name))

  private def loadCodingUncached(name: String): Coding = {
    val in = fs.open(new Path(s"${codingPath(name)}/config.json"))
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    def field(k: String): String =
      s""""$k":\\s*("?)([^,}"]*)\\1""".r.findFirstMatchIn(json)
        .getOrElse(throw new IllegalStateException(s"missing $k in $json")).group(2)
    val config = CoderConfig(
      metric = field("metric"),
      codebookSize = field("codebookSize").toInt,
      numCodebooks = field("numCodebooks").toInt,
      batchSize = field("batchSize").toInt,
      numEpochs = field("numEpochs").toInt,
      seed = field("seed").toLong,
      maxStepsPerEpoch = field("maxStepsPerEpoch").toInt)
    val rows = spark.read.parquet(s"${codingPath(name)}/centroids").collect()
    val n = config.numCodebooks; val k = config.codebookSize
    val centroids = Array.ofDim[Array[Double]](n, k)
    rows.foreach { r =>
      centroids(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    Coding(centroids, config)
  }

  def makeCoder(name: String, source: String, column: String, config: CoderConfig): Coding = {
    val coding = Coder.train(loadTable(source), column, config)
    saveCoding(name, coding)
    coding
  }

  def listCodings(): Seq[String] = list(s"$root/codings")

  /** Drop a coding, its advice, AND every index built from it (fixes
    * the reference's drop-index leak, `flight.py:92-100` / SURVEY A4). */
  def dropCoding(name: String): Unit = {
    val tiers = for {
      tier <- Seq("indexes", "pq_indexes", "sq_indexes", "bq_indexes")
      source <- list(s"$root/$tier")
      column <- list(s"$root/$tier/$source")
      coding <- list(s"$root/$tier/$source/$column") if coding == name
    } yield s"$root/$tier/${safeSeg(source)}/${safeSeg(column)}/${safeSeg(coding)}"
    (codingPath(name) +: tiers).foreach { path =>
      forget(path)
      Swap.drop(fs, new Path(path))
    }
  }

  def listIndexes(): Seq[(String, String, String)] =
    for {
      source <- list(s"$root/indexes")
      column <- list(s"$root/indexes/$source")
      coding <- list(s"$root/indexes/$source/$column")
    } yield (source, column, coding)

  /** Delete the whole root (A5, `flight.py:102-103`). */
  def remove(): Unit = fs.delete(new Path(root), true)
}

/** The driver-residency cap, and the pure-Column pieces of the Z-order
  * key, exposed so queries can compute (and oracles can mirror) the
  * deterministic bit interleave without a layout rewrite. */
object Store {
  import org.apache.spark.sql.Column

  /** Cap on the heap the rows of one store's resident cell tiers take
    * on the driver ([[Store#Resident]]), per tier and in total (DESIGN
    * §19 for how it was sized). */
  private[graft] val ResidentBytes: Long = 8L << 20

  /** Linear min/max normalization of a numeric column to a
    * [0, 2^bitsPer − 1] rank — the one-agg-pass default of
    * [[Store.zorderLayout]] (skew caveat documented there). */
  def linearRank(c: Column, lo: Double, hi: Double, bitsPer: Int): Column = {
    val scale = (1L << bitsPer) - 1
    if (hi == lo) lit(0L)
    else least(greatest(
      ((c.cast("double") - lit(lo)) / lit(hi - lo)) * scale, lit(0.0)),
      lit(scale.toDouble)).cast("long")
  }

  /** Morton bit interleave of n pre-normalized long ranks — a
    * driver-built chain of codegen'd shift/or builtins (bitsPer·n
    * terms), no UDF in the job. Bit b of rank j lands at position
    * b·n + j. */
  def mortonInterleave(ranks: Seq[Column], bitsPer: Int): Column = {
    val n = ranks.size
    (0 until bitsPer).flatMap { b =>
      (0 until n).map { j =>
        shiftleft(shiftrightunsigned(ranks(j), b).bitwiseAND(lit(1L)),
          b * n + j)
      }
    }.reduce(_.bitwiseOR(_))
  }
}
