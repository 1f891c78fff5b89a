package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.io.StateDir

/** The versioned-state protocol of [[StateDir]] on the local file system,
  * one case per rule, with no Spark session; plus the source gate that
  * keeps the protocol in that one module.
  */
class StateDirSpec extends AnyFunSuite {

  private val fs = FileSystem.getLocal(new Configuration())

  private def tmp(): String =
    Files.createTempDirectory("graft-statedir").toString

  private def file(path: String, bytes: Int = 0): Unit = {
    val out = fs.create(new Path(path), true)
    try out.write(new Array[Byte](bytes)) finally out.close()
  }

  test("versions list <prefix>=<n> children by number, other names ignored") {
    val d = tmp()
    Seq("v=10", "v=9", "v=0", "r=4", "batch_id=2", "v=x", "vv=1")
      .foreach(n => fs.mkdirs(new Path(s"$d/$n")))
    file(s"$d/_SUCCESS")
    assert(StateDir.versions(fs, d) == Seq(0L, 9L, 10L))
    assert(StateDir.versions(fs, d, "r") == Seq(4L))
    assert(StateDir.versions(fs, d, "batch_id") == Seq(2L))
    assert(StateDir.versions(fs, s"$d/absent").isEmpty)
  }

  test("a torn version (no marker, no part files) is not committed") {
    val d = tmp()
    fs.mkdirs(new Path(s"$d/v=0/_temporary"))
    assert(!StateDir.committed(fs, s"$d/v=0"))
    assert(!StateDir.marked(fs, s"$d/v=0", StateDir.CommitMarker))
    assert(StateDir.scan(fs, d, StateDir.committed(fs, _)) ==
      Seq((0L, false, false)))
  }

  test("_SUCCESS commits only where the caller accepts it") {
    val d = tmp()
    file(s"$d/v=0/_SUCCESS")
    assert(StateDir.committed(fs, s"$d/v=0"))
    assert(!StateDir.marked(fs, s"$d/v=0", StateDir.CommitMarker))
    assert(!StateDir.marked(fs, s"$d/v=0", StateDir.SegmentMarker))
    StateDir.stamp(fs, s"$d/v=0", StateDir.SegmentMarker)
    assert(StateDir.marked(fs, s"$d/v=0", StateDir.SegmentMarker))
    assert(!StateDir.marked(fs, s"$d/v=0", StateDir.CommitMarker))
  }

  test("a zero-byte part file is not data") {
    val d = tmp()
    file(s"$d/part-00000.parquet")
    file(s"$d/_SUCCESS", 8)
    assert(!StateDir.hasData(fs, d))
    file(s"$d/part-00001.parquet", 1)
    assert(StateDir.hasData(fs, d))
    assert(StateDir.partFiles(fs, d).map(_.getPath.getName) ==
      Seq("part-00001.parquet"))
  }

  test("a watermark that is missing or not a number reads as absent") {
    val d = tmp()
    fs.mkdirs(new Path(d))
    assert(StateDir.watermark(fs, d).isEmpty)
    StateDir.stamp(fs, d, StateDir.CommitMarker)
    assert(StateDir.watermark(fs, d).isEmpty)
    StateDir.stamp(fs, d, StateDir.CommitMarker, "12x")
    assert(StateDir.watermark(fs, d).isEmpty)
    StateDir.stamp(fs, d, StateDir.CommitMarker, "12")
    assert(StateDir.watermark(fs, d).contains(12L))
    assert(StateDir.read(fs, new Path(d, StateDir.CommitMarker)) == "12")
  }

  test("prune keeps the 3 newest versions by number, torn or not") {
    val d = tmp()
    Seq(1, 2, 3, 9, 10).foreach(v => fs.mkdirs(new Path(s"$d/v=$v")))
    StateDir.stamp(fs, s"$d/v=3", StateDir.CommitMarker)
    StateDir.prune(fs, d)
    assert(StateDir.versions(fs, d) == Seq(3L, 9L, 10L))
  }

  test("the next slot goes above a torn slot") {
    val d = tmp()
    file(s"$d/v=0/part-00000", 1)
    StateDir.stamp(fs, s"$d/v=0", StateDir.CommitMarker)
    fs.mkdirs(new Path(s"$d/v=1"))
    assert(StateDir.nextSlot(StateDir.versions(fs, d)) == 2L)
    assert(StateDir.nextSlot(Nil) == 0L)
  }

  test("a fold commits its base above the newest base, then deletes") {
    val d = tmp()
    val (base, seg) = (s"$d/base", s"$d/seg")
    Seq(1, 2, 3).foreach(v => file(s"$seg/v=$v/part-0", 1))
    file(s"$base/v=0/part-0", 1)
    StateDir.stamp(fs, s"$base/v=0", StateDir.CommitMarker, "0")
    fs.mkdirs(new Path(s"$base/v=1")) // a torn base: its slot is reused
    var written = ""
    StateDir.commitFold(fs, base,
        v => StateDir.marked(fs, s"$base/v=$v", StateDir.CommitMarker),
        2L, Seq(seg)) { dir =>
      // nothing is deleted before the base is written and stamped
      assert(StateDir.versions(fs, seg) == Seq(1L, 2L, 3L))
      file(s"$dir/part-0", 1)
      written = dir
    }
    assert(written == s"$base/v=1")
    assert(StateDir.watermark(fs, written).contains(2L))
    assert(StateDir.versions(fs, seg) == Seq(3L))
    assert(StateDir.versions(fs, base) == Seq(1L))
  }

  test("a second exclusive create on the same path fails") {
    val lock = new Path(s"${tmp()}/sub/_LOCK")
    assert(StateDir.createExclusive(fs, lock, "first"))
    assert(!StateDir.createExclusive(fs, lock, "second"))
    assert(StateDir.read(fs, lock) == "first")
  }

  test("no versioned-state protocol in src/main outside StateDir.scala") {
    // one module owns the layout: no other file may list `<prefix>=<n>`
    // directories by regex, probe part files, or spell the commit
    // markers. Comments are ignored.
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val forbidden = Seq("""=\(\\\\?d\+\)""", """startsWith\("part-"\)""",
      "\"_GRAFT_COMMIT\"", "\"_GRAFT_SEGMENT\"").map(_.r)
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "StateDir.scala")
      .flatMap { p =>
        val code = Files.readString(p)
          .replaceAll("(?s)/\\*.*?\\*/", "")
          .replaceAll("//[^\n]*", "")
        forbidden.filter(_.findFirstIn(code).nonEmpty).map(r => s"$p: $r")
      }.toList
    assert(offenders.isEmpty,
      s"versioned-state protocol outside StateDir: $offenders")
  }
}
