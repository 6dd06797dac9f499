package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.LocalCheckpointFileManager

/** Counts `setPermission` on the raw local filesystem: without the
  * native-hadoop library every call forks a `chmod`.
  */
class CountingRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    CountingRawLocalFileSystem.setPermissions.incrementAndGet()
    super.setPermission(p, permission)
  }
}

object CountingRawLocalFileSystem {
  val setPermissions = new AtomicLong
}

/** The checksummed `file:` filesystem over the counting raw one; install
  * through `fs.file.impl` (with `fs.file.impl.disable.cache`).
  */
class CountingLocalFileSystem extends LocalFileSystem(new CountingRawLocalFileSystem)

/** A local directory under a `mock:` scheme that has no `AbstractFileSystem`,
  * so Spark's default manager for it is the FileSystem-based one.
  */
class MockSchemeFileSystem extends CountingRawLocalFileSystem {
  override def getUri: URI = URI.create("mock:///")
  override def getScheme: String = "mock"
}

class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private def tmp(): JPath = Files.createTempDirectory("graft-cfm")
  private def names(d: JPath): Set[String] = Option(d.toFile.list()).fold(Set.empty[String])(_.toSet)
  private def dir(d: JPath): Path = new Path(d.toUri)

  private def write(fm: CheckpointFileManager, p: Path, s: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("an atomic write stays invisible under Spark's temp name until close publishes it") {
    val d = tmp()
    val fm = new LocalCheckpointFileManager(dir(d), new Configuration())
    val target = new Path(dir(d), "0")
    val out = fm.createAtomic(target, overwriteIfPossible = false)
    out.write("v1".getBytes(UTF_8))
    val pending = names(d)
    assert(!fm.exists(target))
    assert(pending.size == 1 && pending.head.matches("""\.0\.[0-9a-f-]{36}\.tmp"""), pending)
    out.close()
    assert(names(d) == Set("0"))
    assert(read(fm, target) == "v1")
  }

  test("overwriteIfPossible = false fails on an existing target and leaves it intact") {
    val d = tmp()
    val fm = new LocalCheckpointFileManager(dir(d), new Configuration())
    val target = new Path(dir(d), "0")
    write(fm, target, "v1", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, target, "v2", overwrite = false))
    assert(names(d) == Set("0"))
    assert(read(fm, target) == "v1")
    write(fm, target, "v3", overwrite = true)
    assert(names(d) == Set("0"))
    assert(read(fm, target) == "v3")
  }

  test("cancel() leaves neither the target nor a temp file") {
    val d = tmp()
    val fm = new LocalCheckpointFileManager(dir(d), new Configuration())
    val out = fm.createAtomic(new Path(dir(d), "0"), overwriteIfPossible = true)
    out.write("never published".getBytes(UTF_8))
    out.cancel()
    out.close()
    assert(names(d).isEmpty)
  }

  test("an overwrite removes the stale .crc that Spark's default manager left") {
    val d = tmp()
    val conf = new Configuration()
    val sparkDefault = new FileContextBasedCheckpointFileManager(dir(d), conf)
    val fm = new LocalCheckpointFileManager(dir(d), conf)
    val target = new Path(dir(d), "1.delta")
    write(sparkDefault, target, "spark-default", overwrite = true)
    assert(names(d) == Set("1.delta", ".1.delta.crc"))
    // control: new bytes under the old checksum are rejected on read
    val control = new Path(dir(d), "2.delta")
    write(sparkDefault, control, "spark-default", overwrite = true)
    Files.write(d.resolve("2.delta"), "tampered-byte".getBytes(UTF_8))
    intercept[ChecksumException](read(fm, control))

    write(fm, target, "local-manager", overwrite = true)
    assert(!names(d).contains(".1.delta.crc"))
    assert(read(fm, target) == "local-manager")
    assert(read(sparkDefault, target) == "local-manager")
  }

  test("non-file: paths get exactly the manager Spark picks by default") {
    val d = tmp()
    val conf = new Configuration()
    conf.set("fs.mock.impl", classOf[MockSchemeFileSystem].getName)
    conf.setBoolean("fs.mock.impl.disable.cache", true)
    conf.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    val mock = new Path("mock", null, d.toString)
    val installed = CheckpointFileManager.create(mock, conf)
    assert(installed.isInstanceOf[LocalCheckpointFileManager])
    val unset = new Configuration(conf)
    unset.unset(LocalCheckpointFileManager.ConfKey)
    val expected = CheckpointFileManager.create(mock, unset)
    assert(expected.isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(installed.asInstanceOf[LocalCheckpointFileManager].delegate.getClass == expected.getClass)
    // the write goes through Hadoop's create path, permissions and all
    val before = CountingRawLocalFileSystem.setPermissions.get
    write(installed, new Path(mock, "0"), "v1", overwrite = false)
    assert(CountingRawLocalFileSystem.setPermissions.get > before)
    assert(read(installed, new Path(mock, "0")) == "v1")
    // and `file:` paths under the same key get the fork-free manager
    val local = CheckpointFileManager.create(dir(d), conf).asInstanceOf[LocalCheckpointFileManager]
    assert(local.delegate.isInstanceOf[LocalCheckpointFileManager.NioRename])
  }

  test("no shell-outs: zero setPermission calls per checkpoint write") {
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[CountingLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val root = dir(tmp())
    def setPermissions(fm: CheckpointFileManager, tag: String): Long = {
      val before = CountingRawLocalFileSystem.setPermissions.get
      // a checkpoint's shapes: fresh directories, new files and overwrites
      fm.mkdirs(new Path(root, s"$tag/commits"))
      for (v <- 1 to 4) write(fm, new Path(root, s"$tag/state/0/$v/$v.delta"), "x", overwrite = true)
      for (b <- 0 to 3) write(fm, new Path(root, s"$tag/offsets/$b"), "x", overwrite = false)
      write(fm, new Path(root, s"$tag/offsets/3"), "y", overwrite = true)
      CountingRawLocalFileSystem.setPermissions.get - before
    }
    // control: the counter sees Hadoop's own create path
    assert(setPermissions(new FileSystemBasedCheckpointFileManager(root, conf), "hadoop") > 0)
    assert(setPermissions(new LocalCheckpointFileManager(root, conf), "local") == 0)
  }
}
