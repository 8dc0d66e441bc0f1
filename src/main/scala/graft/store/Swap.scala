package graft.store

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Crash-safe directory-swap compaction, shared by every bucketed index
  * tier (lexical term buckets, fuzzy segment and id buckets) and their
  * flat sidecar tables (doclens, PassJoin key counts).
  *
  * Discipline (proved out by the lexical tier's crash cases in
  * LexicalSpec): a live directory is NEVER deleted before its
  * replacement is installed. Bucket swaps rename the live dir to a
  * dot-prefixed aside (invisible to parquet file listing — it cannot be
  * misread as a partition during the window), install the replacement,
  * then drop the aside; flat tables swap via a sibling `.__old__`
  * rename pair. The matching [[recover]] sweep MUST run before any
  * append or rewrite of the artifact: a lone aside with its live dir
  * absent means a crash between aside-rename and install (restore it
  * BEFORE an append can recreate the live dir with only new rows, which
  * would make aside-alongside-live ambiguous);
  * with recovery ordered before every mutation, aside-alongside-live can
  * only mean a crash after install and dropping the aside is safe. */
private[graft] object Swap {
  private def asidePath(dir: Path, partDirName: String) =
    new Path(dir, s".graft-old-$partDirName")

  /** Per-artifact mutation locks (striped by base path, process-wide).
    *
    * A server thread pool can race a read path's crash-recovery sweep
    * against an in-flight compaction: during the legitimate
    * aside-rename→install window the reader sees "aside with live
    * absent" and would rename the aside back over the live dir, making
    * the compactor's install fail (local FS) or nest the new dir inside
    * the restored one (HDFS rename-into-dir), corrupting the bucket;
    * two readers recovering one genuine crash aside also race, and the
    * loser's require(rename) fails a query spuriously. Every mutation
    * (build/sync/compact) runs under its artifact's lock, and recovery
    * sweeps take it only when a listing actually shows an aside — the
    * clean-path read stays lock-free. Monitor locks are reentrant, so
    * the recovery call inside a locked sync/compact is safe. In-process
    * only: the engine's single-driver deployment model (one JVM owns an
    * artifact root's mutations); cross-process coordination would need
    * a filesystem lease and is out of scope by design. */
  private val artifactLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  def withArtifactLock[A](base: String)(f: => A): A =
    artifactLocks.computeIfAbsent(base, _ => new Object).synchronized(f)

  /** Crash recovery for one artifact rooted at `base`: its
    * bucket-partitioned dirs (`bucketed`, each with its partition column,
    * dirs named `<partCol>=N`) and its flat tables (`flats`), all relative
    * to `base`. A bucket aside sits inside its dir, a flat table's
    * `.__old__` aside beside the table, so one listStatus per bucketed dir
    * plus one of `base` finds every aside. An aside whose live dir is
    * absent is renamed back (a crash between aside-rename and install);
    * one alongside its live dir is dropped (a crash after install, before
    * cleanup). The artifact lock is taken ONLY when a listing shows an
    * aside: the clean read path stays lock-free, and a visible aside may
    * belong to a RUNNING compaction, whose window the lock serializes
    * against — inside the lock the sweep lists again, so an aside that
    * belonged to a just-finished compaction resolves to a no-op. */
  def recover(fs: FileSystem, base: String, bucketed: Seq[(String, String)],
      flats: Seq[String]): Unit = {
    val root = new Path(base)
    def children(dir: Path): Seq[FileStatus] =
      try fs.listStatus(dir).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    // every (aside, live) pair under the artifact
    def asides(): Seq[(Path, Path)] =
      children(root).map(_.getPath).flatMap(p => flats.collect {
        case f if p.getName == s"$f.__old__" => p -> new Path(root, f)
      }) ++ bucketed.flatMap { case (d, partCol) =>
        val dir = new Path(root, d)
        children(dir).filter(st => st.isDirectory &&
            st.getPath.getName.startsWith(s".graft-old-$partCol="))
          .map(st => st.getPath ->
            new Path(dir, st.getPath.getName.stripPrefix(".graft-old-")))
      }
    if (asides().nonEmpty)
      withArtifactLock(base) {
        asides().foreach { case (aside, live) =>
          if (!fs.exists(live))
            require(fs.rename(aside, live),
              s"Swap.recover: crash-recovery rename $aside failed")
          else fs.delete(aside, true)
        }
      }
  }

  private def dataFiles(fs: FileSystem, p: Path): Int =
    fs.listStatus(p).count(f => f.isFile && !f.getPath.getName.startsWith("_"))

  /** Rewrite every `<partCol>=N` bucket under `dir` holding more than
    * `maxFiles` data files (each incremental sync appends its own file
    * set per touched bucket, so scan cost becomes task-overhead-bound
    * without this). Returns the number of buckets compacted. Caller
    * must have run [[recover]] first. */
  def compactBuckets(spark: SparkSession, fs: FileSystem, dir: String,
      partCol: String, maxFiles: Int, op: String): Long = {
    val dirP = new Path(dir)
    val frag = fs.listStatus(dirP).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
      .map(s => s.getPath.getName.stripPrefix(s"$partCol=").toInt ->
        dataFiles(fs, s.getPath))
      .filter(_._2 > maxFiles).map(_._1)
    if (frag.nonEmpty) {
      val tmp = s"$dir.__compact_tmp__"
      fs.delete(new Path(tmp), true)
      spark.read.parquet(dir)
        .filter(col(partCol).isin(frag: _*))
        .repartition(frag.length, col(partCol))
        .write.mode("overwrite").partitionBy(partCol).parquet(tmp)
      frag.foreach { b =>
        val dst = new Path(s"$dir/$partCol=$b")
        val srcP = new Path(s"$tmp/$partCol=$b")
        if (fs.exists(srcP)) {
          val aside = asidePath(dirP, s"$partCol=$b")
          if (fs.exists(dst))
            require(fs.rename(dst, aside),
              s"$op: aside rename failed for bucket $b (bucket untouched)")
          require(fs.rename(srcP, dst),
            s"$op: install failed for bucket $b (original intact at $aside)")
          fs.delete(aside, true)
        }
      }
      fs.delete(new Path(tmp), true)
    }
    frag.length.toLong
  }

  /** Coalesce a flat sidecar table to one file when it fragments past
    * `maxFiles`. Returns the pre-compaction file count, 0 if skipped.
    * Caller must have run [[recover]] first. */
  def compactFlat(spark: SparkSession, fs: FileSystem, live: String,
      maxFiles: Int, op: String): Long = {
    val liveP = new Path(live)
    val files = dataFiles(fs, liveP)
    if (files <= maxFiles) return 0L
    val tmp = new Path(s"$live.__compact_tmp__")
    fs.delete(tmp, true)
    spark.read.parquet(live).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val old = new Path(s"$live.__old__")
    fs.delete(old, true)
    require(fs.rename(liveP, old), s"$op: aside rename failed (table untouched)")
    require(fs.rename(tmp, liveP), s"$op: swap failed (original intact at $old)")
    fs.delete(old, true)
    files.toLong
  }
}
