package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}

/** The create-file `_COMMIT` epoch-publication pattern, factored into one
  * implementation: list epoch directories with their commit status, publish
  * atomically, allocate the next epoch, sweep superseded ones. Consumers —
  * [[EpochKeyedStore]]'s base/merge/delta tiers and
  * [[graft.operators.Similarity]]'s versioned ANN index (both `epoch=<n>`)
  * — keep their own retention policies but share the crash-safety
  * plumbing, so the implementations cannot drift.
  *
  * Publication is ONE file create — never a directory rename, so the
  * pattern works on object stores where rename is a copy. The create is
  * atomic-exclusive on HDFS, the local FS, ABFS and GCS; on S3A (without
  * conditional-write enablement) `create(overwrite=false)` is
  * check-then-act, so exclusive-create claims there are best-effort and
  * the single-writer contract falls back to the caller. Readers see only
  * committed epochs; a crash mid-write leaves an unmarked directory that
  * readers ignore and a later sweep deletes.
  *
  * The marker optionally records the epoch's data-file count
  * (`files=<n>`), turning "committed but no data files" from an ambiguous
  * state into a checkable one: a zero-row epoch legitimately commits with
  * `files=0`, while a data file missing UNDER a committed marker is
  * detectable corruption. Markers written before this existed are empty —
  * [[committedCount]] returns None for them and readers stay lenient.
  */
final class EpochLayout(prefix: String) {

  def epochOf(name: String): Option[Long] =
    if (name.startsWith(prefix)) name.drop(prefix.length).toLongOption else None

  def dirName(n: Long): String = s"$prefix$n"

  /** (epoch, path, committed) sorted by epoch; Nil when `root` is absent. */
  def list(fs: FileSystem, root: Path): Seq[(Long, Path, Boolean)] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).filter(_.isDirectory).toSeq
      .flatMap(s => epochOf(s.getPath.getName).map(n =>
        (n, s.getPath, fs.exists(new Path(s.getPath, "_COMMIT")))))
      .sortBy(_._1)

  /** Next epoch number: above every existing dir in `roots`, committed or
    * not — a crashed stage dir's number is never reused.
    */
  def next(fs: FileSystem, roots: Seq[Path]): Long =
    (0L +: roots.flatMap(r => list(fs, r)).map(_._1)).max + 1

  /** Count of data files (non-hidden, recursive) below `dir`. */
  def dataFileCount(fs: FileSystem, dir: Path): Long = {
    if (!fs.exists(dir)) return 0L
    val it = fs.listFiles(dir, true)
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (f.isFile && !name.startsWith("_") && !name.startsWith(".")) n += 1
    }
    n
  }

  /** Publish `dir`: one atomic `_COMMIT` create. With `recordFileCount`,
    * the marker body records the data-file count present at commit time.
    */
  def commit(fs: FileSystem, dir: Path, recordFileCount: Boolean = false): Unit = {
    val out = fs.create(new Path(dir, "_COMMIT"), false)
    try if (recordFileCount) out.write(s"files=${dataFileCount(fs, dir)}\n".getBytes("UTF-8"))
    finally out.close()
  }

  /** The data-file count recorded at commit time, if the marker has one
    * (legacy empty markers → None).
    */
  def committedCount(fs: FileSystem, dir: Path): Option[Long] = {
    val marker = new Path(dir, "_COMMIT")
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      body.linesIterator.collectFirst {
        case l if l.startsWith("files=") => l.drop(6).trim
      }.flatMap(_.toLongOption)
    }
  }

  /** Delete every epoch dir under `root` that `doomed(epoch, committed)`
    * selects.
    */
  def sweep(fs: FileSystem, root: Path)(doomed: (Long, Boolean) => Boolean): Unit =
    list(fs, root).foreach { case (n, p, committed) =>
      if (doomed(n, committed)) { fs.delete(p, true); () }
    }
}
