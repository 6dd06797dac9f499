package graft.streaming

import org.apache.hadoop.fs.Path

/** Single-writer FENCING for artifact maintainers — a monotone owner
  * epoch on the artifact's own storage (`<dir>/e%06d.txt`, published
  * through [[CommitFile]]): construction ACQUIRES the next epoch, and
  * the maintainer re-checks `assertOwner` at every mutation entry (and,
  * where a marker rename is the commit point, immediately before it).
  * Recovery therefore TAKES OVER: a still-live prior maintainer on the
  * same workDir observes a higher epoch and fails loud — FENCED — before
  * it can commit, so a zombie process's in-flight work is either never
  * published or is left as the uncommitted/beyond-the-pin debris its
  * artifact's own crash recovery already discards.
  *
  * Why fencing and not a lock file: a lease with no TTL deadlocks on the
  * holder's crash, and a TTL needs clock trust; the epoch needs neither —
  * ownership transfers the moment the new maintainer lands its file, and
  * the loser's next check (one listing of a GC-bounded directory) ends
  * it. The residual check→commit window is backstopped by the
  * artifact's own commit (a [[CommitFile.publish]] of a versioned name
  * that a racing writer loses), exactly
  * as Delta-style optimistic writers backstop theirs. This is the
  * standard fencing-token construction (ZooKeeper epochs, HDFS lease
  * recovery) on plain filesystem primitives.
  */
private[streaming] object OwnerFence {

  private def epochName(e: Int): String = f"e$e%06d.txt"

  /** Every landed epoch, ascending (the directory is GC-bounded). */
  def epochs(fs: org.apache.hadoop.fs.FileSystem, dir: String): Seq[Int] =
    CommitFile.list(fs, new Path(dir), "e", ".txt")

  /** Land the next owner epoch through [[CommitFile.publish]]; a lost
    * race (two recoveries at once) bumps and retries — both get DISTINCT
    * epochs, and whichever holds the max after the dust settles owns the
    * artifact (the other is fenced at its first mutation).
    */
  def acquire(fs: org.apache.hadoop.fs.FileSystem, dir: String): Int = {
    fs.mkdirs(new Path(dir))
    var e = epochs(fs, dir).lastOption.getOrElse(0) + 1
    while (!CommitFile.publish(
        fs, new Path(dir), epochName(e), e.toString.getBytes("UTF-8")))
      e += 1 // lost the rename: another acquire holds e — take the next
    e
  }

  /** Fail loud if a newer epoch has landed since `epoch` was acquired —
    * or if NO epoch file is listable at all: the caller acquired one, so
    * an empty listing means the owner directory was deleted out-of-band
    * or the store returned an inconsistent listing, and defaulting to
    * "still owner" would silently un-fence EVERY maintainer at once
    * (the vacuous-pass hole). Ownership is only ever asserted against
    * evidence on disk.
    */
  def assertOwner(
      fs: org.apache.hadoop.fs.FileSystem, dir: String, epoch: Int,
      what: String): Unit = {
    val all = epochs(fs, dir)
    require(all.nonEmpty,
      s"$what: FENCED — owner directory $dir lists no epoch files at all " +
        s"(this maintainer acquired epoch $epoch, so its file should " +
        "exist); the directory was deleted out-of-band or the listing is " +
        "inconsistent — refusing to mutate without ownership evidence")
    val mx = all.max
    require(mx == epoch,
      s"$what: FENCED — this maintainer's epoch $epoch was superseded " +
        s"by $mx (another maintainer recovered the workDir); its " +
        "in-flight work is discarded by the artifact's own recovery")
  }

  /** Drop superseded epoch files (only the max fences) and crashed
    * acquires' `.tmp-*` debris; returns count. Deleting a tmp a
    * CONCURRENT acquire is mid-rename on is harmless: that rename
    * returns false and the acquire loop retries with the next epoch.
    */
  def gcSuperseded(
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Int = {
    val old = epochs(fs, dir).dropRight(1)
    old.foreach(e => fs.delete(new Path(dir, epochName(e)), false))
    old.size + CommitFile.sweep(fs, new Path(dir), graceMs = 0L)
  }
}
