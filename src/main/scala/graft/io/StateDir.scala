package graft.io

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The on-disk protocol of the engine's versioned state directories: the
  * corpus states (`Graft.corpusStateSave` and kin), the streaming loops'
  * shard, ingest, keeper and keymap states, the supersession feed and its
  * archive, the feed cursors and the AnnIndex rebuild versions.
  *
  * Layout: a state lives under `dir/<prefix>=<n>` (`v=` for state
  * versions, `r=` for AnnIndex rebuilds, `batch_id=` for feed batches),
  * one directory per version, written as parquet part files. A version's
  * writer stamps a marker file into it LAST; the marker is the commit
  * record, because the bare directory exists from job setup and a crash
  * mid-job-commit exposes part files that read fine. Part files and
  * markers are the only two signals; which of them counts as a commit is
  * each caller's rule (see their scaladocs), and this object supplies the
  * probes. Marker names and contents are persisted data: state written by
  * any earlier version of the engine must keep loading.
  */
object StateDir {

  /** A version's own commit marker. The committer's `_SUCCESS` cannot be
    * the commit record: deployments that suppress marker files
    * (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false`, object-store
    * tooling that drops underscore files) never write it. Fold bases record
    * in it the segment version they folded through (a decimal watermark,
    * [[watermark]]).
    */
  val CommitMarker = "_GRAFT_COMMIT"

  /** The commit marker of a keeper-log segment (`keepers/v=<B>`). */
  val SegmentMarker = "_GRAFT_SEGMENT"

  /** The versions [[prune]] keeps; the loops only ever read the newest. */
  val Retained = 3

  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `dir`'s `<prefix>=<n>` children in ascending `n`, with their status;
    * empty when `dir` does not exist.
    */
  def entries(fs: FileSystem, dir: String, prefix: String = "v")
      : Seq[(Long, FileStatus)] = {
    val p = new Path(dir)
    val re = (java.util.regex.Pattern.quote(prefix) + "=(\\d+)").r
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.flatMap(st => st.getPath.getName match {
      case re(n) => Some((n.toLong, st))
      case _ => None
    }).sortBy(_._1)
  }

  /** The `n` of `dir`'s `<prefix>=<n>` children, ascending. */
  def versions(fs: FileSystem, dir: String, prefix: String = "v")
      : Seq[Long] =
    entries(fs, dir, prefix).map(_._1)

  /** `dir`'s `v=<n>` versions, ascending, as (n, committed, hasData):
    * committed by the caller's rule `commit` on the version directory,
    * hasData by [[hasData]].
    */
  def scan(fs: FileSystem, dir: String, commit: String => Boolean)
      : Seq[(Long, Boolean, Boolean)] =
    versions(fs, dir).map { v =>
      val vd = s"$dir/v=$v"
      (v, commit(vd), hasData(fs, vd))
    }

  /** The part files of `dir` that hold at least one byte. */
  def partFiles(fs: FileSystem, dir: String): Seq[FileStatus] =
    fs.listStatus(new Path(dir)).toSeq
      .filter(st => st.getPath.getName.startsWith("part-") && st.getLen > 0)

  /** Whether `dir` holds a non-empty part file: the read signal (an empty
    * batch legitimately commits a version without data, which reads skip).
    */
  def hasData(fs: FileSystem, dir: String): Boolean =
    partFiles(fs, dir).nonEmpty

  def marked(fs: FileSystem, dir: String, marker: String): Boolean =
    fs.exists(new Path(dir, marker))

  /** Committed by [[CommitMarker]] or by the output committer's
    * `_SUCCESS`: the rule of readers that must load state written before
    * the own marker existed, or by a writer that left only `_SUCCESS`.
    */
  def committed(fs: FileSystem, dir: String): Boolean =
    marked(fs, dir, CommitMarker) || marked(fs, dir, "_SUCCESS")

  /** Write `marker` into `dir` (replacing it) with `content`. */
  def stamp(fs: FileSystem, dir: String, marker: String,
            content: String = ""): Unit = {
    val out = fs.create(new Path(dir, marker), true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
  }

  /** The whole content of the file at `path`, as UTF-8. */
  def read(fs: FileSystem, path: Path): String = {
    val in = fs.open(path)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** The watermark [[stamp]]ed into `dir`'s `marker`; None when the marker
    * is missing or does not hold a number.
    */
  def watermark(fs: FileSystem, dir: String,
                marker: String = CommitMarker): Option[Long] =
    scala.util.Try(read(fs, new Path(dir, marker)).trim.toLong).toOption

  /** The slot above every version in `taken`; 0 when there is none. */
  def nextSlot(taken: Seq[Long]): Long =
    taken.maxOption.map(_ + 1).getOrElse(0L)

  /** Delete `dir/v=<n>` for each `n` in `vs`. */
  def delete(fs: FileSystem, dir: String, vs: Seq[Long]): Unit =
    vs.foreach(v => fs.delete(new Path(s"$dir/v=$v"), true))

  /** Delete all but the [[Retained]] newest `v=<n>` versions of `dir` by
    * number, committed or torn.
    */
  def prune(fs: FileSystem, dir: String): Unit =
    delete(fs, dir, versions(fs, dir).dropRight(Retained))

  /** The commit tail of a fold into a sidecar base directory: write the
    * base into `baseDir/v=<next>`, where `next` is the newest slot the
    * caller's `isBase` accepts + 1 (a torn slot above it is rewritten);
    * stamp its [[CommitMarker]] with the watermark `through`; and only then
    * delete the folded versions (at or below `through`) of `segmentDirs`
    * and the bases below the new one. A crash before the stamp leaves the
    * previous base and every segment intact.
    */
  def commitFold(fs: FileSystem, baseDir: String, isBase: Long => Boolean,
                 through: Long, segmentDirs: Seq[String])
                (write: String => Unit): Unit = {
    val next = nextSlot(versions(fs, baseDir).filter(isBase))
    write(s"$baseDir/v=$next")
    stamp(fs, s"$baseDir/v=$next", CommitMarker, through.toString)
    segmentDirs.foreach(d =>
      delete(fs, d, versions(fs, d).filter(_ <= through)))
    delete(fs, baseDir, versions(fs, baseDir).filter(_ < next))
  }

  /** Create the file at `path` holding `content` only if it does not exist
    * yet — atomic on the file system, so of two racing creators exactly
    * one gets true. The lock primitive; each lock keeps its own message
    * and identity rule.
    */
  def createExclusive(fs: FileSystem, path: Path,
                      content: String = ""): Boolean = {
    fs.mkdirs(path.getParent)
    val out =
      try fs.create(path, false)
      catch { case _: java.io.IOException => return false }
    try {
      out.write(content.getBytes(UTF_8))
      out.close()
    } catch {
      case e: Throwable =>
        fs.delete(path, false)
        throw e
    }
    true
  }
}
