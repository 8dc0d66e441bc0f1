package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one commit protocol of every store write (DESIGN §12): the only
  * code that renames or removes live data.
  *
  * An artifact is a directory `<parent>/<name>` (a table, an index tier,
  * a text tier, a coding). A write [[install]]s a set of entries, paths
  * relative to the artifact (`""` is the artifact itself):
  *   1. the new contents are written in full under the staging image
  *      `<parent>/.graft-new-<name>/<name>/`;
  *   2. a commit marker listing the entries is renamed into the staging
  *      dir — the commit point;
  *   3. each live entry is renamed to its aside `.graft-old-<entry name>`
  *      in the same directory, its staged copy renamed into place (an
  *      entry with no staged copy is a deletion), and the aside dropped;
  *   4. last, the staging dir is dropped.
  * Dot-prefixed names are invisible to parquet file listing and to
  * [[Store]]'s listings, so neither staging nor an aside is ever read
  * as data. Hadoop rename cannot replace a non-empty directory, hence
  * the aside.
  *
  * [[recover]] is the one sweep: a committed staging dir is rolled
  * forward, an uncommitted one dropped, an aside beside its live entry
  * dropped, and a lone aside (one no marker covers) renamed back. Every
  * writer sweeps before it reads, under the artifact's lock. */
private[graft] object Swap {
  private val New = ".graft-new-"
  private val Old = ".graft-old-"
  private val Marker = "_GRAFT_COMMIT"

  /** Whether `name` is taken by the protocol (a staging dir or aside). */
  def reserved(name: String): Boolean = name.startsWith(New) || name.startsWith(Old)

  private def staging(artifact: Path): Path =
    new Path(artifact.getParent, New + artifact.getName)
  def aside(live: Path): Path = new Path(live.getParent, Old + live.getName)
  private def marker(artifact: Path) = new Path(staging(artifact), Marker)
  private def under(dir: Path, entry: String) =
    if (entry.isEmpty) dir else new Path(dir, entry)

  /** Directory entry names as a listing shows them: dot-prefixed names
    * (staging dirs, asides) hidden, but a lone aside under its live name
    * — it is what [[recover]] restores. */
  def listed(names: Seq[String]): Seq[String] = {
    val live = names.filterNot(_.startsWith("."))
    (live ++ names.filter(_.startsWith(Old)).map(_.stripPrefix(Old)))
      .distinct.sorted
  }

  /** Whether a reader of `artifact` must sweep first: it is absent (a
    * lone aside may hold it) or a committed install awaits roll-forward. */
  def pending(fs: FileSystem, artifact: Path): Boolean =
    !fs.exists(artifact) || fs.exists(marker(artifact))

  /** Per-artifact mutation locks (keyed by the artifact path,
    * process-wide). A writer holds its artifact's lock from its sweep to
    * the end of its install; a sweep takes it only when a listing shows
    * residue, so the clean read path stays lock-free, and residue seen
    * during a running install resolves, inside the lock, to a no-op.
    * Monitor locks are reentrant. In-process only: one JVM owns an
    * artifact root's mutations (cross-process coordination would need a
    * filesystem lease, out of scope by design). */
  private val artifactLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  def withArtifactLock[A](base: String)(f: => A): A =
    artifactLocks.computeIfAbsent(base, _ => new Object).synchronized(f)

  /** One install of `artifact`, under its lock after [[recover]] (`dirs`
    * as there), so the writer's reads see no residue: `stage` writes the
    * new contents under the staging image it is given and returns the
    * entries to install (one with nothing staged is deleted) with its
    * result. A failed stage leaves the live artifact untouched and its
    * staging dropped. */
  def install[A](fs: FileSystem, artifact: Path, dirs: Seq[String] = Nil)(
      stage: Path => (Seq[String], A)): A =
    withArtifactLock(artifact.toString) {
      recover(fs, artifact, dirs)
      val st = staging(artifact)
      val image = new Path(st, artifact.getName)
      val (entries, result) =
        try stage(image) catch { case e: Throwable => fs.delete(st, true); throw e }
      // after the sweep no entry lives only in an aside: one neither
      // staged nor live has nothing to install
      val lines = entries.flatMap { e =>
        if (fs.exists(under(image, e))) Some("+" + e)
        else if (fs.exists(under(artifact, e))) Some("-" + e)
        else None
      }
      if (lines.isEmpty) fs.delete(st, true)
      else {
        val tmp = new Path(st, s".$Marker")
        val out = fs.create(tmp, true)
        try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
        rename(fs, tmp, marker(artifact))
        rollForward(fs, artifact)
      }
      result
    }

  /** Replaces `artifact` whole by what `write` writes under the staging
    * image it is given: a reader sees the old artifact or the new one. */
  def replace(fs: FileSystem, artifact: Path)(write: String => Unit): Unit =
    install(fs, artifact) { image => write(image.toString); (Seq(""), ()) }

  /** Deletes `artifact` through the protocol. */
  def drop(fs: FileSystem, artifact: Path): Unit = replace(fs, artifact)(_ => ())

  /** Data files under `dir` (paths relative to it), as a partitioned
    * parquet write left them: names parquet hides (`.`, or `_` but for a
    * `col=value` partition dir) skipped. */
  def files(fs: FileSystem, dir: Path): Seq[String] = {
    def walk(d: Path, rel: String): Seq[String] = fs.listStatus(d).toSeq.flatMap { s =>
      val name = s.getPath.getName
      if (name.startsWith(".") || (name.startsWith("_") && !name.contains("="))) Nil
      else if (s.isDirectory) walk(s.getPath, s"$rel$name/")
      else Seq(rel + name)
    }
    if (fs.exists(dir)) walk(dir, "").sorted else Nil
  }

  /** Idempotent: every step checks the state the previous one left. */
  private def rollForward(fs: FileSystem, artifact: Path): Unit = {
    val in = fs.open(marker(artifact))
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    val image = new Path(staging(artifact), artifact.getName)
    lines.filter(_.nonEmpty).foreach { line =>
      val entry = line.tail
      val live = under(artifact, entry)
      val staged = under(image, entry)
      val put = line.head == '+'
      val old = aside(live)
      if (!put || fs.exists(staged)) { // not installed yet
        if (fs.exists(live)) {
          if (fs.exists(old)) fs.delete(old, true)
          rename(fs, live, old)
        }
        if (put) {
          fs.mkdirs(live.getParent)
          rename(fs, staged, live)
        }
      }
      if (fs.exists(old)) fs.delete(old, true)
    }
    fs.delete(staging(artifact), true)
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    require(fs.rename(from, to), s"Swap: rename $from -> $to failed")

  /** The one crash sweep of `artifact`: roll a committed staging dir
    * forward or drop an uncommitted one, then settle every aside beside
    * the artifact, in it, or in its subdirectories `dirs` (where a
    * writer installs bucket entries): dropped beside its live entry,
    * renamed back when alone. The lock is taken only when residue shows;
    * inside it everything is looked at again. */
  def recover(fs: FileSystem, artifact: Path, dirs: Seq[String] = Nil): Unit = {
    def asides(): Seq[Path] =
      Seq(aside(artifact)).filter(fs.exists) ++
        ("" +: dirs).flatMap { d =>
          try fs.listStatus(under(artifact, d)).toSeq.map(_.getPath)
            .filter(_.getName.startsWith(Old))
          catch { case _: java.io.FileNotFoundException => Nil }
        }
    if (fs.exists(staging(artifact)) || asides().nonEmpty)
      withArtifactLock(artifact.toString) {
        if (fs.exists(marker(artifact))) rollForward(fs, artifact)
        else fs.delete(staging(artifact), true)
        asides().foreach { a =>
          val live = new Path(a.getParent, a.getName.stripPrefix(Old))
          if (fs.exists(live)) fs.delete(a, true) else rename(fs, a, live)
        }
      }
  }
}
