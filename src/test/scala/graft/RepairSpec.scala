package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.api.Engine
import graft.coder.CoderConfig
import graft.index.Index

/** Cell-scoped index repair (Index.repair) + the append-only re-stamp
  * gate in syncIncremental: in-place source modifications and deletions
  * must be recoverable without a full rebuild, and sync must never mark
  * a modified source fresh just because it also grew. */
class RepairSpec extends SparkSuite {
  import spark.implicits._

  private val rnd = new scala.util.Random(41)

  /** 8 tight, well-separated 16-d clusters, 40 rows each, written so each
    * source FILE holds two whole clusters (repartitionByRange on the
    * cluster id) — the layout where a one-file change should touch only
    * a few cells. */
  private def makeClusteredSource(engine: Engine, name: String): Unit = {
    val centers = Seq.fill(8)(Array.fill(16)(rnd.nextDouble() * 40 - 20))
    val rows = for {
      (c, ci) <- centers.zipWithIndex
      i <- 0 until 40
    } yield ((ci * 40 + i).toLong, ci,
      c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq)
    val df = rows.toDF("id", "cluster", "vec")
      .repartitionByRange(4, col("cluster"))
    engine.makeTable(name, df)
  }

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def partFiles(dir: String): Seq[Path] =
    fs.listStatus(new Path(dir)).filter(_.isFile)
      .map(_.getPath).filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq

  /** (relative path → mtime) of every data file under the index root. */
  private def indexDataFiles(indexPath: String): Map[String, Long] = {
    val base = new Path(indexPath)
    val it = fs.listFiles(base, true)
    val b = Map.newBuilder[String, Long]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.startsWith("part-"))
        b += (f.getPath.toString.stripPrefix(base.toString) ->
          f.getModificationTime)
    }
    b.result()
  }

  /** Replace one source part-file IN PLACE (same name) with a version
    * whose vectors are negated — same ids, new content, new len/mtime. */
  private def modifyOneFile(srcDir: String): Path = {
    val target = partFiles(srcDir).head
    val rows = spark.read.parquet(target.toString)
    val mod = rows.withColumn("vec", transform(col("vec"), x => -x))
    val tmp = s"$srcDir/../__modtmp__"
    mod.coalesce(1).write.mode("overwrite").parquet(tmp)
    val newPart = partFiles(tmp).head
    assert(fs.delete(target, false))
    assert(fs.rename(newPart, target))
    fs.delete(new Path(tmp), true)
    target
  }

  private def bruteIds(engine: Engine, name: String, target: Array[Double]): Seq[Long] =
    engine.readTable(Seq(name))
      .withColumn("d", graft.functions.functions.vector_distance(
        col("vec"), typedLit(target.toSeq), "l2"))
      .orderBy(col("d").asc, col("id").asc).limit(10)
      .select("id").as[Long].collect().toSeq

  private def probedIds(engine: Engine, name: String, target: Array[Double]): Seq[Long] =
    engine.search(name, "vec", target, coding = Some("rc"), probes = Some(1 << 20),
        metric = Some("l2"), k = 10, tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSeq

  test("repair after an in-place file modification is cell-scoped and exact") {
    val root = java.nio.file.Files.createTempDirectory("graft-repair").toString
    val engine = new Engine(spark, root)
    makeClusteredSource(engine, "emb")
    engine.makeIndex("rc", "emb", "vec",
      CoderConfig(metric = "l2", codebookSize = 4, numCodebooks = 2,
        batchSize = 128, numEpochs = 3))
    assert(Index.indexFresh(engine.store, "rc", "emb", "vec"))
    val srcDir = s"$root/sources/emb"
    val indexPath = s"$root/indexes/emb/vec/rc"
    val numCells = engine.store.loadCoding("rc").numCells

    modifyOneFile(srcDir)
    assert(!Index.indexFresh(engine.store, "rc", "emb", "vec"),
      "in-place modification must break freshness")

    val before = indexDataFiles(indexPath)
    val stats = Index.repair(engine.store, "rc", "emb", "vec")
    assert(!stats.fullRebuild, "file-scoped repair must not fall back to rebuild")
    assert(stats.cellsRewritten > 0 && stats.cellsRewritten < numCells,
      s"expected a strict subset of cells rewritten, got ${stats.cellsRewritten}/$numCells")
    val after = indexDataFiles(indexPath)
    val untouched = before.keySet.intersect(after.keySet)
      .filter(p => before(p) == after(p))
    assert(untouched.nonEmpty,
      "repair must leave data files of unaffected cells byte-untouched")

    assert(Index.indexFresh(engine.store, "rc", "emb", "vec"),
      "repair must restore freshness")
    // the indexed copy is a faithful copy of the CURRENT source
    val src = engine.readTable(Seq("emb"))
    val idx = Index.load(engine.store, "rc", "emb", "vec")
    assert(idx.count() == src.count())
    // modified rows carry the NEW vectors in the index
    val diff = idx.select(col("id"), col("vec").cast("array<double>").as("iv"))
      .join(src.select(col("id"), col("vec").cast("array<double>").as("sv")), Seq("id"))
      .filter(col("iv") =!= col("sv")).count()
    assert(diff == 0L, s"$diff indexed rows still carry stale vectors")
    // full-probe search over the repaired index equals brute force on the
    // current source — for a target inside the MODIFIED region
    val target = src.filter(col("id") === 0)
      .select(col("vec").cast("array<double>")).collect()(0)
      .getSeq[Double](0).toArray
    assert(probedIds(engine, "emb", target) == bruteIds(engine, "emb", target))
    engine.remove()
  }

  test("repair after a source file deletion removes ghost rows") {
    val root = java.nio.file.Files.createTempDirectory("graft-repair-del").toString
    val engine = new Engine(spark, root)
    makeClusteredSource(engine, "emb")
    engine.makeIndex("rc", "emb", "vec",
      CoderConfig(metric = "l2", codebookSize = 4, numCodebooks = 2,
        batchSize = 128, numEpochs = 3))
    val srcDir = s"$root/sources/emb"
    val victim = partFiles(srcDir).head
    val goneIds = spark.read.parquet(victim.toString)
      .select("id").as[Long].collect().toSet
    assert(fs.delete(victim, false))
    assert(!Index.indexFresh(engine.store, "rc", "emb", "vec"))

    val stats = Index.repair(engine.store, "rc", "emb", "vec")
    assert(!stats.fullRebuild)
    assert(Index.indexFresh(engine.store, "rc", "emb", "vec"))
    val idx = Index.load(engine.store, "rc", "emb", "vec")
    assert(idx.count() == engine.readTable(Seq("emb")).count())
    assert(idx.filter(col("id").isInCollection(goneIds)).count() == 0L,
      "ghost rows from the deleted file linger in the index")
    engine.remove()
  }

  test("sync refuses to re-stamp when a modification accompanies the append") {
    val root = java.nio.file.Files.createTempDirectory("graft-repair-sync").toString
    val engine = new Engine(spark, root)
    makeClusteredSource(engine, "emb")
    engine.makeIndex("rc", "emb", "vec",
      CoderConfig(metric = "l2", codebookSize = 4, numCodebooks = 2,
        batchSize = 128, numEpochs = 3))
    val srcDir = s"$root/sources/emb"
    // modify one file in place AND append a new file with new ids — the
    // ADVICE scenario where append-triggered re-stamping would lie
    modifyOneFile(srcDir)
    val extra = (0 until 10).map(i =>
      (1000L + i, 99, Seq.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("id", "cluster", "vec")
    extra.coalesce(1).write.mode("append").parquet(srcDir)

    val appended = Index.syncIncremental(engine.store, "rc", "emb", "vec", "id")
    assert(appended == 10L, s"sync must append the new rows, got $appended")
    assert(!Index.indexFresh(engine.store, "rc", "emb", "vec"),
      "sync must NOT mark a modified source fresh just because it also grew")

    // repair recovers: modified rows re-ingested, appended rows kept
    val stats = Index.repair(engine.store, "rc", "emb", "vec")
    assert(!stats.fullRebuild)
    assert(Index.indexFresh(engine.store, "rc", "emb", "vec"))
    val idx = Index.load(engine.store, "rc", "emb", "vec")
    val src = engine.readTable(Seq("emb"))
    assert(idx.count() == src.count())
    val diff = idx.select(col("id"), col("vec").cast("array<double>").as("iv"))
      .join(src.select(col("id"), col("vec").cast("array<double>").as("sv")), Seq("id"))
      .filter(col("iv") =!= col("sv")).count()
    assert(diff == 0L)
    // pure append-only growth DOES re-stamp (the common path still works)
    val extra2 = (0 until 5).map(i =>
      (2000L + i, 98, Seq.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("id", "cluster", "vec")
    extra2.coalesce(1).write.mode("append").parquet(srcDir)
    assert(!Index.indexFresh(engine.store, "rc", "emb", "vec"))
    assert(Index.syncIncremental(engine.store, "rc", "emb", "vec", "id") == 5L)
    assert(Index.indexFresh(engine.store, "rc", "emb", "vec"),
      "append-only growth must re-stamp")
    engine.remove()
  }

  test("tier freshness: pq/sq/bq stamps follow build, append-only sync, and rewrite") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-tierfresh").toString
    val engine = new graft.api.Engine(spark, root)
    val rnd = new scala.util.Random(83)
    def wave(from: Int, n: Int) = (from until from + n)
      .map(i => (i.toLong, Seq.fill(4)(rnd.nextFloat() * 10))).toDF("id", "vec")
    engine.makeTable("tf", wave(0, 80).coalesce(2))
    engine.makeIndex("tc", "tf", "vec",
      graft.coder.CoderConfig(metric = "l2", codebookSize = 2,
        numCodebooks = 1, batchSize = 64, numEpochs = 2))
    Index.buildSq(engine.store, "tc", "tf", "vec")
    Index.buildBq(engine.store, "tc", "tf", "vec")
    Index.buildPq(engine.store, "tc", "tf", "vec",
      graft.coder.PQ.PQConfig(numSubspaces = 2, codebookSize = 4,
        metric = "l2", sampleSize = 80))
    for (t <- Seq("ivf", "pq", "sq", "bq"))
      assert(Index.tierFresh(engine.store, "tc", "tf", "vec", t),
        s"tier $t not fresh after build")
    // append-only growth + sync re-stamps every tier
    wave(1000, 20).coalesce(1).write.mode("append")
      .parquet(engine.store.tablePath("tf"))
    for (t <- Seq("ivf", "pq", "sq", "bq"))
      assert(!Index.tierFresh(engine.store, "tc", "tf", "vec", t),
        s"tier $t still fresh after un-synced append")
    Index.syncIncremental(engine.store, "tc", "tf", "vec", "id")
    Index.syncIncremental(engine.store, "tc", "tf", "vec", "id", tier = "pq")
    Index.syncIncremental(engine.store, "tc", "tf", "vec", "id", tier = "sq")
    Index.syncIncremental(engine.store, "tc", "tf", "vec", "id", tier = "bq")
    for (t <- Seq("ivf", "pq", "sq", "bq"))
      assert(Index.tierFresh(engine.store, "tc", "tf", "vec", t),
        s"tier $t not fresh after sync")
    // in-place rewrite (same row count, changed content) → ALL tiers
    // stale, and sync cannot repair the stamp
    val snapshot = engine.readTable(Seq("tf"))
      .withColumn("vec", org.apache.spark.sql.functions.transform(
        col("vec"), x => x + 1.0f))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    snapshot.toDF("id", "vec").coalesce(2).write.mode("overwrite")
      .parquet(engine.store.tablePath("tf"))
    for (t <- Seq("ivf", "pq", "sq", "bq"))
      assert(!Index.tierFresh(engine.store, "tc", "tf", "vec", t),
        s"tier $t wrongly fresh after in-place rewrite")
    Index.syncIncremental(engine.store, "tc", "tf", "vec", "id", tier = "bq")
    assert(!Index.tierFresh(engine.store, "tc", "tf", "vec", "bq"),
      "bq sync must not re-stamp after a rewrite")
    // a rebuild adopts the new content
    Index.buildBq(engine.store, "tc", "tf", "vec")
    assert(Index.tierFresh(engine.store, "tc", "tf", "vec", "bq"))
    engine.remove()
  }

  test("repairTier re-encodes changed files cell-scoped for sq, bq, and pq") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-tier-repair").toString
    val engine = new graft.api.Engine(spark, root)
    makeClusteredSource(engine, "tr")
    engine.makeCoder("rc", "tr", "vec",
      graft.coder.CoderConfig(metric = "l2", codebookSize = 8,
        numCodebooks = 1, batchSize = 128, numEpochs = 4))
    Index.buildSq(engine.store, "rc", "tr", "vec", perCell = true)
    Index.buildBq(engine.store, "rc", "tr", "vec")
    Index.buildPq(engine.store, "rc", "tr", "vec",
      graft.coder.PQ.PQConfig(numSubspaces = 2, codebookSize = 4,
        metric = "l2", sampleSize = 320))
    // rewrite one source part-file in place (same ids, negated vectors)
    modifyOneFile(engine.store.tablePath("tr"))
    for (t <- Seq("pq", "sq", "bq"))
      assert(!Index.tierFresh(engine.store, "rc", "tr", "vec", t),
        s"tier $t wrongly fresh after rewrite")
    for (t <- Seq("pq", "sq", "bq")) {
      val stats = engine.repairIndex("rc", "tr", "vec", t)
      assert(!stats.fullRebuild, s"tier $t repair fell back to full rebuild")
      assert(stats.filesChanged >= 1 && stats.cellsRewritten >= 1,
        s"tier $t repair did nothing: $stats")
      assert(Index.tierFresh(engine.store, "rc", "tr", "vec", t),
        s"tier $t not fresh after repair")
    }
    // post-repair full-budget searches equal brute force over the NEW data
    val all = engine.readTable(Seq("tr"))
    val target2 = all.filter(col("id") === 3L)
      .select(col("vec").cast("array<double>")).collect()(0)
      .getSeq[Double](0).toArray
    val brute = graft.api.Search.knn(all.select("id", "vec"), "vec",
        Seq(Tuple1(target2.toSeq)).toDF("t"), "l2", k = 8, tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSeq
    val viaSq = Index.searchSq(engine.store, "rc", "tr", "vec", target2,
        k = 8, probes = 4, candidates = 1 << 20, idCol = "id",
        metric = Some("l2"), tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSeq
    assert(viaSq == brute, s"sq after repair: $viaSq vs $brute")
    val viaBq = Index.searchBq(engine.store, "rc", "tr", "vec", target2,
        k = 8, probes = 4, candidates = 1 << 20, idCol = "id",
        metric = Some("l2"), tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSeq
    assert(viaBq == brute, s"bq after repair: $viaBq vs $brute")
    val viaPq = Index.searchIvfPq(engine.store, "rc", "tr", "vec", target2,
        k = 8, probes = 4, candidates = 1 << 20, idCol = "id",
        metric = Some("l2"), tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSeq
    assert(viaPq == brute, s"pq after repair: $viaPq vs $brute")
    engine.remove()
  }

  test("repairing a quantized tier that was never built refuses and writes nothing") {
    val root = java.nio.file.Files.createTempDirectory("graft-repair-unbuilt").toString
    val engine = new Engine(spark, root)
    makeClusteredSource(engine, "nb")
    engine.makeCoder("rc", "nb", "vec", CoderConfig(metric = "l2",
      codebookSize = 4, numCodebooks = 1, batchSize = 128, numEpochs = 2))
    for ((t, path) <- Seq(
        "sq" -> engine.store.sqIndexPath("nb", "vec", "rc"),
        "bq" -> engine.store.bqIndexPath("nb", "vec", "rc"),
        "pq" -> engine.store.pqIndexPath("nb", "vec", "rc"))) {
      val err = intercept[IllegalArgumentException] {
        engine.repairIndex("rc", "nb", "vec", t)
      }
      assert(err.getMessage.contains("build it first"), s"$t: ${err.getMessage}")
      assert(!fs.exists(new Path(path)), s"$t repair left a tier directory")
      assert(!Index.tierFresh(engine.store, "rc", "nb", "vec", t))
    }
    engine.remove()
  }

  test("repairing a legacy quantized copy rebuilds it under the stored config") {
    val root = java.nio.file.Files.createTempDirectory("graft-repair-legacy").toString
    val engine = new Engine(spark, root)
    makeClusteredSource(engine, "lg")
    engine.makeCoder("rc", "lg", "vec", CoderConfig(metric = "l2",
      codebookSize = 4, numCodebooks = 1, batchSize = 128, numEpochs = 3))
    Index.buildSq(engine.store, "rc", "lg", "vec", perCell = true)
    Index.buildBq(engine.store, "rc", "lg", "vec", perCell = true)
    Index.buildPq(engine.store, "rc", "lg", "vec",
      graft.coder.PQ.PQConfig(numSubspaces = 2, codebookSize = 4,
        metric = "l2", sampleSize = 320), residual = false)
    val tiers = Seq(
      ("sq", engine.store.sqIndexPath("lg", "vec", "rc"), "_sq_params.json"),
      ("bq", engine.store.bqIndexPath("lg", "vec", "rc"), "_bq_thresholds.json"),
      ("pq", engine.store.pqIndexPath("lg", "vec", "rc"), "_pq_codebooks.json"))
    def sidecarHasCells(path: String, sidecar: String): Boolean =
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(engine.store.readSidecar(s"$path/$sidecar")).has("cells")
    for ((t, path, sidecar) <- tiers) {
      // the copy as a pre-provenance build left it: no __SRC_FILE__
      // column and no stamp, codec sidecar kept
      val codec = engine.store.readSidecar(s"$path/$sidecar")
      val legacy = spark.read.parquet(path).drop(Index.SrcFileCol)
      spark.createDataFrame(legacy.collectAsList(), legacy.schema)
        .write.mode("overwrite").partitionBy(Index.CodeCol).parquet(path)
      engine.store.writeSidecar(s"$path/$sidecar", codec)
      fs.delete(new Path(s"$path/_source_stamp.json"), false)
      assert(!Index.tierFresh(engine.store, "rc", "lg", "vec", t))

      val stats = engine.repairIndex("rc", "lg", "vec", t)
      assert(stats.fullRebuild, s"$t: a legacy copy must rebuild, got $stats")
      assert(spark.read.parquet(path).columns.contains(Index.SrcFileCol),
        s"$t: the rebuilt copy lacks the provenance column")
      assert(Index.tierFresh(engine.store, "rc", "lg", "vec", t))
    }
    assert(sidecarHasCells(tiers(0)._2, tiers(0)._3), "sq rebuild lost per-cell params")
    assert(sidecarHasCells(tiers(1)._2, tiers(1)._3), "bq rebuild lost per-cell params")
    val cb = Index.loadPqCodebooks(engine.store, "rc", "lg", "vec")
    assert(cb.config.numSubspaces == 2 && cb.config.codebookSize == 4 && !cb.residual,
      s"pq rebuild lost its config: m=${cb.config.numSubspaces} " +
        s"k=${cb.config.codebookSize} residual=${cb.residual}")
    engine.remove()
  }

  test("cellSkew flags a pathological 90%-one-cell corpus") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-skew").toString
    val engine = new graft.api.Engine(spark, root)
    val rnd2 = new scala.util.Random(7)
    // 90% of vectors pile onto one tight cluster; the rest spread wide —
    // k-means gives the pile one centroid, so one cell holds ~90% of bytes
    val hot = Seq.fill(720)(Array.fill(8)(5.0 + rnd2.nextGaussian() * 0.01))
    val rest = Seq.fill(80)(Array.fill(8)(rnd2.nextDouble() * 200 - 100))
    val df = (hot ++ rest).zipWithIndex
      .map { case (v, i) => (i.toLong, v.map(_.toFloat).toSeq) }
      .toDF("id", "vec")
    engine.makeTable("emb", df)
    engine.makeIndex("sk", "emb", "vec",
      graft.coder.CoderConfig(metric = "l2", codebookSize = 8,
        numCodebooks = 1, batchSize = 256, numEpochs = 3))
    val s = Index.cellSkew(engine.store, "sk", "emb", "vec")
    assert(s.cells >= 2, s)
    assert(s.maxShare >= 0.5,
      s"expected the hot cluster to dominate one cell's byte share: $s")
    assert(s.ratio >= 2.0, s)
    engine.remove()
  }

  test("compactCells coalesces fragmented cells; content and freshness intact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val engine = new graft.api.Engine(spark, root)
    val rnd = new scala.util.Random(23)
    def wave(from: Int, n: Int) = (from until from + n)
      .map(i => (i.toLong, Seq.fill(4)(rnd.nextFloat() * 10))).toDF("id", "vec")
    engine.makeTable("emb", wave(0, 64).coalesce(2))
    engine.makeIndex("cc", "emb", "vec",
      graft.coder.CoderConfig(metric = "l2", codebookSize = 2,
        numCodebooks = 1, batchSize = 32, numEpochs = 2))
    // 6 incremental waves fragment every cell (one file set per sync)
    for (w <- 1 to 6) {
      wave(w * 1000, 32).coalesce(2).write.mode("append")
        .parquet(engine.store.tablePath("emb"))
      Index.syncIncremental(engine.store, "cc", "emb", "vec", "id")
    }
    assert(Index.indexFresh(engine.store, "cc", "emb", "vec"))
    val before = Index.cellStats(engine.store, "cc", "emb", "vec", withRows = true)
    assert(before.exists(_._2 > 4), s"fixture not fragmented: $before")
    val content = Index.load(engine.store, "cc", "emb", "vec")
      .select("id", "__CODED_ID__").as[(Long, Long)].collect().toSet
    val stats = Index.compactCells(engine.store, "cc", "emb", "vec",
      maxFilesPerCell = 4)
    assert(stats.cellsCompacted > 0 && stats.filesAfter < stats.filesBefore,
      s"no coalescing happened: $stats")
    val after = Index.cellStats(engine.store, "cc", "emb", "vec", withRows = true)
    after.filter(s => before.exists(b => b._1 == s._1 && b._2 > 4)).foreach { s =>
      assert(s._2 <= 2, s"cell ${s._1} still fragmented: ${s._2} files")
    }
    // rows per cell unchanged, content identical, stamp still fresh
    assert(after.map(s => s._1 -> s._4) == before.map(s => s._1 -> s._4),
      "row counts changed")
    val content2 = Index.load(engine.store, "cc", "emb", "vec")
      .select("id", "__CODED_ID__").as[(Long, Long)].collect().toSet
    assert(content2 == content, "compaction changed content")
    assert(Index.indexFresh(engine.store, "cc", "emb", "vec"),
      "compaction must preserve a valid stamp")
    // probed search still exact
    val t = Array.fill(4)(rnd.nextDouble() * 10)
    val probed = engine.search("emb", "vec", t, coding = Some("cc"),
        probes = Some(2), k = 5, tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSeq
    val brute = graft.api.Search.knn(engine.readTable(Seq("emb")), "vec",
        Seq(Tuple1(t.toSeq)).toDF("t"), "l2", k = 5, tieBreak = Seq("id"))
      .select("id").as[Long].collect().toSeq
    assert(probed == brute, "post-compaction search mismatch")
    // idempotent: nothing left to compact
    assert(Index.compactCells(engine.store, "cc", "emb", "vec",
      maxFilesPerCell = 4).cellsCompacted == 0)
    engine.remove()
  }
}
