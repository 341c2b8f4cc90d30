package graft.sink

import java.util.regex.Pattern
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, regexp_extract}
import org.apache.spark.sql.types.{DataType, StructType}

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
  * (`files=<n>`) and the schema of its rows (`schema=<StructType json>`).
  * The count turns "committed but no data files" from an ambiguous state
  * into a checkable one: a zero-row epoch legitimately commits with
  * `files=0`, while a data file missing UNDER a committed marker is
  * detectable corruption. The schema lets a reader build the epoch's
  * relation without a schema-inference job. Markers written before either
  * existed are empty or carry only `files=` — [[marker]] returns None for
  * what is missing and readers fall back (lenient count, inferred schema).
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

  /** Publish `dir`: one atomic `_COMMIT` create. With a `schema`, the
    * marker body records it and the data-file count present at commit time.
    */
  def commit(fs: FileSystem, dir: Path, schema: Option[StructType] = None): Unit = {
    val out = fs.create(new Path(dir, "_COMMIT"), false)
    try schema.foreach { s =>
      out.write(s"files=${dataFileCount(fs, dir)}\nschema=${s.json}\n".getBytes("UTF-8"))
    } finally out.close()
  }

  /** What `dir`'s `_COMMIT` marker records, read with one open; both
    * fields are None for an absent or empty marker.
    */
  def marker(fs: FileSystem, dir: Path): EpochLayout.Marker = {
    val path = new Path(dir, "_COMMIT")
    if (!fs.exists(path)) EpochLayout.Marker(None, None)
    else {
      val in = fs.open(path)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      def field(key: String) = lines.collectFirst { case l if l.startsWith(key) => l.drop(key.length) }
      EpochLayout.Marker(
        field("files=").flatMap(_.trim.toLongOption),
        field("schema=").map(j => DataType.fromJson(j).asInstanceOf[StructType]))
    }
  }

  /** The epoch of each row of a relation over flat `<tier>/<prefix><n>/`
    * directories, parsed from its file's path (`_metadata.file_path`):
    * one relation can then span many epochs without hive partition
    * discovery, which a data column named like the prefix would collide
    * with. Anchored to the LAST `/<tier>/<prefix><n>/` segment directly
    * above the file.
    */
  def epochOfFile(tier: String): Column =
    regexp_extract(col("_metadata.file_path"),
      s".*/${Pattern.quote(tier)}/${Pattern.quote(prefix)}(\\d+)/[^/]+$$", 1).cast("long")

  /** Delete every epoch dir under `root` that `doomed(epoch, committed)`
    * selects.
    */
  def sweep(fs: FileSystem, root: Path)(doomed: (Long, Boolean) => Boolean): Unit =
    list(fs, root).foreach { case (n, p, committed) =>
      if (doomed(n, committed)) { fs.delete(p, true); () }
    }
}

object EpochLayout {

  /** A `_COMMIT` marker's body: the data-file count and row schema
    * recorded at commit, each None when the marker predates it. */
  final case class Marker(files: Option[Long], schema: Option[StructType])
}
