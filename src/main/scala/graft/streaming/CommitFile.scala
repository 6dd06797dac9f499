package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import scala.util.matching.Regex

/** The ONE publish primitive every persisted artifact commits through:
  * the lake manifest and changefeed cursor ([[graft.sources.LakeTable]]),
  * the graph manifest, the SCD2 pair marker, the BM25 and view markers and
  * the owner epoch ([[OwnerFence]]). A commit is one small file, its value
  * in its NAME (`<prefix><digits><suffix>`, see [[list]]) and its body,
  * written to `.tmp-<uuid>` beside that name, closed, then renamed WITHOUT
  * overwrite — the commit point (posix / HDFS contract): a reader sees the
  * whole body or no file, and of two publishers of one name exactly one
  * wins. A crash before the rename leaves tmp debris that no listing reads
  * and [[sweep]] reclaims. What a LOST rename means stays each caller's
  * policy, at its call site: a conflict that retries, an equal position
  * already done, the next epoch, or a broken single-owner contract.
  */
private[graft] object CommitFile {

  private val TmpPrefix = ".tmp-"

  /** Publish `bytes` as `dir/name` by tmp-then-rename-without-overwrite;
    * true iff THIS call won the name. A loser's tmp is deleted, and so is
    * the tmp of a write or rename that throws (the exception propagates).
    */
  def publish(fs: FileSystem, dir: Path, name: String, bytes: Array[Byte]): Boolean = {
    val tmp = new Path(dir, TmpPrefix + java.util.UUID.randomUUID())
    val won =
      try {
        val out = fs.create(tmp, false)
        try out.write(bytes) finally out.close()
        fs.rename(tmp, new Path(dir, name))
      } catch {
        case scala.util.control.NonFatal(e) =>
          scala.util.Try(fs.delete(tmp, false))
          throw e
      }
    if (!won) fs.delete(tmp, false)
    won
  }

  /** Overwrite-create an EMPTY file whose name is its value: a best-effort
    * hint beside a commit log (LakeTable's `_latest/`), never a commit
    * point — it lands without a rename, and a torn one reads the same.
    */
  def touch(fs: FileSystem, file: Path): Unit = fs.create(file, true).close()

  /** The numbers of `dir`'s `<prefix><digits><suffix>` entries, ascending.
    * `.tmp-` debris and every foreign or non-digit name are ignored; a
    * missing `dir` lists nothing.
    */
  def list(fs: FileSystem, dir: Path, prefix: String, suffix: String): Seq[Int] = {
    val re = numbered(prefix, suffix)
    names(fs, dir, re).flatMap { case re(d) => d.toIntOption }.sorted
  }

  /** `dir`'s entry names that match `re` (a caller whose names carry more
    * than one number keeps its own pattern); a missing `dir` lists nothing.
    */
  def names(fs: FileSystem, dir: Path, re: Regex): Seq[String] =
    entries(fs, dir).map(_.getPath.getName).filter(re.matches(_))

  /** COMMITTED IFF MARKED — for artifacts whose versions are directories
    * (`<prefix><digits>`) landed first and committed by publishing a
    * `marker` file inside: the numbered directories under `dir`,
    * ascending, split into the marked (committed) and the unmarked (a
    * land that crashed before its marker — invisible to every reader).
    */
  def marked(
      fs: FileSystem, dir: Path, prefix: String, marker: String): (Seq[Int], Seq[Int]) = {
    val re = numbered(prefix, "")
    val (done, open) = names(fs, dir, re)
      .flatMap { case n @ re(d) => d.toIntOption.map(_ -> n) }
      .sortBy(_._1)
      .partition { case (_, n) => fs.exists(new Path(new Path(dir, n), marker)) }
    (done.map(_._1), open.map(_._1))
  }

  /** Delete `dir`'s `.tmp-` entries — crashed publishes' files, or a
    * writer's tmp directories — last modified at least `graceMs` ago;
    * returns the count. The grace shields a concurrent writer's in-flight
    * tmp; a publish whose tmp is swept anyway loses its rename, which its
    * caller already handles as a lost race.
    */
  def sweep(fs: FileSystem, dir: Path, graceMs: Long): Int = {
    val cutoff = System.currentTimeMillis() - graceMs
    val stale = entries(fs, dir).filter(s =>
      s.getPath.getName.startsWith(TmpPrefix) && s.getModificationTime <= cutoff)
    stale.foreach(s => fs.delete(s.getPath, true))
    stale.size
  }

  private def numbered(prefix: String, suffix: String): Regex =
    (Regex.quote(prefix) + """(\d+)""" + Regex.quote(suffix)).r

  private def entries(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }
}
