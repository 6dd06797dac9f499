package graft

import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.CommitFile

/** A local filesystem under the `faultyrename:` scheme whose renames
  * throw while armed — a store that fails at the commit point itself.
  */
class FaultyRenameFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faultyrename:///")
  override def getScheme: String = "faultyrename"
  override def rename(src: Path, dst: Path): Boolean =
    if (FaultyRenameFileSystem.armed)
      throw new java.io.IOException(s"injected rename failure at $dst")
    else super.rename(src, dst)
}

object FaultyRenameFileSystem {
  @volatile var armed = false
}

class CommitFileSpec extends AnyFunSuite {

  private val fs = FileSystem.getLocal(new Configuration())

  private def tmpDir(tag: String): java.io.File =
    Files.createTempDirectory(s"graft-commitfile-$tag").toFile

  private def bytes(s: String) = s.getBytes("UTF-8")

  private def read(f: java.io.File) = new String(Files.readAllBytes(f.toPath), "UTF-8")

  private def tmpDebris(d: java.io.File) = d.list().filter(_.contains(".tmp-")).toSeq

  test("a winning publish writes exactly the given bytes under the given name") {
    val d = tmpDir("win")
    assert(CommitFile.publish(fs, new Path(d.toURI), "v000000001.txt", bytes("a\tb\nc")))
    assert(read(new java.io.File(d, "v000000001.txt")) == "a\tb\nc")
    assert(tmpDebris(d).isEmpty)
  }

  test("a second publish to the same name loses: false, the first file intact, no tmp left") {
    val d = tmpDir("lose")
    val dir = new Path(d.toURI)
    assert(CommitFile.publish(fs, dir, "e000001.txt", bytes("first")))
    assert(!CommitFile.publish(fs, dir, "e000001.txt", bytes("second, longer body")))
    assert(read(new java.io.File(d, "e000001.txt")) == "first")
    assert(tmpDebris(d).isEmpty, s"the loser's tmp must be deleted: ${d.list().toSeq}")
  }

  test("a rename that throws leaves no committed name and no tmp") {
    val conf = new Configuration()
    conf.set("fs.faultyrename.impl", classOf[FaultyRenameFileSystem].getName)
    conf.setBoolean("fs.faultyrename.impl.disable.cache", true)
    val d = tmpDir("faulty")
    val dir = new Path(s"faultyrename://${d.getPath}")
    val ffs = dir.getFileSystem(conf)
    FaultyRenameFileSystem.armed = true
    val e = try intercept[java.io.IOException](
        CommitFile.publish(ffs, dir, "v000001.txt", bytes("x")))
      finally FaultyRenameFileSystem.armed = false
    assert(e.getMessage.contains("injected rename failure"))
    assert(!new java.io.File(d, "v000001.txt").exists())
    assert(tmpDebris(d).isEmpty, s"a failed publish must not leave its tmp: ${d.list().toSeq}")
    assert(CommitFile.list(ffs, dir, "v", ".txt").isEmpty)
  }

  test("the numbered listing ignores .tmp-, non-digit and foreign names; committed iff marked") {
    val d = tmpDir("list")
    Seq("v000000003.txt", "v000000001.txt", "v12.txt", "vabc.txt", "v.txt",
        "v000000002.txt.bak", "x000000004.txt", ".tmp-v000000005.txt",
        ".v000000001.txt.crc", "cursor-v000000006.txt")
      .foreach(n => Files.write(new java.io.File(d, n).toPath, bytes(n)))
    assert(CommitFile.list(fs, new Path(d.toURI), "v", ".txt") == Seq(1, 3, 12))
    assert(CommitFile.list(fs, new Path(d.toURI), "cursor-v", ".txt") == Seq(6))
    assert(CommitFile.list(fs, new Path(new java.io.File(d, "absent").toURI), "v", ".txt")
      .isEmpty)
    val vs = tmpDir("marked")
    Seq("v000001", "v000002", "v000010", "vx", ".tmp-v000003").foreach(n =>
      new java.io.File(vs, n).mkdir())
    Seq("v000001", "v000010", "vx", ".tmp-v000003").foreach(n =>
      Files.write(new java.io.File(vs, s"$n/_marker.txt").toPath, bytes("1")))
    assert(CommitFile.marked(fs, new Path(vs.toURI), "v", "_marker.txt") ==
      ((Seq(1, 10), Seq(2))))
  }

  test("the sweep deletes only .tmp- entries older than the grace") {
    val d = tmpDir("sweep")
    def touch(n: String, ageMs: Long): java.io.File = {
      val f = new java.io.File(d, n)
      Files.write(f.toPath, bytes(n))
      assert(f.setLastModified(System.currentTimeMillis() - ageMs))
      f
    }
    val old = touch(".tmp-old", 600000L)
    val young = touch(".tmp-young", 0L)
    val committed = touch("v000000001.txt", 600000L)
    val oldDir = new java.io.File(d, ".tmp-olddir")
    oldDir.mkdir()
    Files.write(new java.io.File(oldDir, "part-0.parquet").toPath, bytes("p"))
    assert(oldDir.setLastModified(System.currentTimeMillis() - 600000L))
    assert(CommitFile.sweep(fs, new Path(d.toURI), graceMs = 60000L) == 2)
    assert(!old.exists() && !oldDir.exists())
    assert(young.exists() && committed.exists(), "the grace spares a young tmp")
    assert(CommitFile.sweep(fs, new Path(d.toURI), graceMs = 0L) == 1)
    assert(!young.exists() && committed.exists())
    assert(CommitFile.sweep(fs, new Path(new java.io.File(d, "absent").toURI), 0L) == 0)
  }

  test("one mechanism per job: commits publish through CommitFile, overlaps run through Par") {
    // the only filesystem renames/creates outside the primitive are the
    // named DATA-file moves (a landed part file or index dir, never a
    // commit), and the only Future/Await is Par's own
    val allowedMoves = Set(
      "LakeTable.scala" -> "landSidecar",
      "LakeTable.scala" -> "landZOrdered",
      "BloomIndex.scala" -> "vacuumIndex")
    val fsCall = """(?i)fs\.(rename|create)\(""".r
    val overlapCall = """\bFuture\s*(\(|\.apply)|\bAwait\.""".r
    val defName = """\bdef\s+(\w+)""".r
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val sources = walk(new java.io.File("src/main/scala")).filter(_.getName.endsWith(".scala"))
    assert(sources.exists(_.getName == "CommitFile.scala"), "scan root is src/main/scala")
    val hits = sources.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      def enclosingDef(i: Int): Option[String] = lines.take(i + 1).reverseIterator
        .flatMap(l => defName.findFirstMatchIn(l).map(_.group(1))).nextOption()
      lines.zipWithIndex.collect {
        case (code, i) if !code.trim.startsWith("*") && !code.trim.startsWith("//") &&
            ((fsCall.findFirstIn(code).isDefined && f.getName != "CommitFile.scala" &&
              !enclosingDef(i).exists(d => allowedMoves((f.getName, d)))) ||
             (overlapCall.findFirstIn(code).isDefined && f.getName != "Par.scala")) =>
          s"${f.getPath}:${i + 1}: ${code.trim}"
      }
    }
    assert(hits.isEmpty,
      "publish commits through graft.streaming.CommitFile and overlap through " +
        s"graft.operators.Par:\n${hits.mkString("\n")}")
  }
}
