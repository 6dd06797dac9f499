package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.TextAnalysis

/** Continuously maintained BM25-stats artifact — the streaming arm of
  * [[TextAnalysis.mergeBm25Stats]] and the lexical twin of
  * [[GraphMaintainer]]: an always-on ingest stream folds every
  * micro-batch of NEW documents into the stored (token, df) + totals
  * artifact, so [[TextAnalysis.bm25TopKFrom]] always serves from stats
  * that are one micro-batch behind the corpus instead of one REFRESH
  * behind. Exactness per fold is the merge==refit invariant
  * (`merge(stats(old), batch) == stats(old ∪ batch)` — q_bm25_incr's
  * oracle proves the arithmetic), so chained folds equal one refit.
  *
  * State model: like the graph, the stats are DERIVED state — an index
  * artifact on reliable storage, not streaming state. `workDir` holds
  * versioned snapshots `stats/v%06d/`, each containing
  *   - the stats parquet (vocab-sized — ONE coalesced file),
  *   - `_folded.txt`: the replay HIGH-WATER batchId (monotone ids make
  *     `id <= max` the replay test, so one line suffices forever;
  *     empty before the first fold), written AFTER the parquet lands —
  *     its presence IS the version's commit marker.
  * Readers and recovery resolve the highest version WITH a marker; a
  * crash mid-write leaves a markerless directory that is simply ignored.
  *
  * Idempotence / at-least-once: the high-water travels WITH the version
  * it describes, which closes the replay hole a separate marker file
  * has — with "stats then marker" as two independent writes, a crash
  * between them replays the batch onto stats that already contain it
  * and every df double-counts. Here the fold for batchId B reads the
  * current version's high-water, short-circuits if B is at or below
  * it, and otherwise publishes (merged stats, B) as one atomic version.
  * True duplicate DOCUMENTS (same content re-arriving under a new
  * batchId) are upstream's contract: the ingest gate
  * ([[IngestGate]] / [[StreamDedup]]) dedups before anything derived
  * folds — same division of labor as the graph maintainer's id guard.
  *
  * Per-fold cost: one batch-sized aggregation + a full-outer merge on
  * token against the vocab-sized artifact — O(|batch| + vocab), never a
  * corpus re-scan; at 100 TB the corpus is only ever touched by the
  * initial [[Bm25Maintainer.build]] refit.
  */
final class Bm25Maintainer private (
    spark: SparkSession, workDir: String, epoch: Int) {
  import Bm25Maintainer._

  private val fs =
    new Path(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Cross-JVM single-ownership ([[OwnerFence]]): two live maintainers
    * racing the version-dir protocol could clearUnmarked each other's
    * in-flight writes; recover() takes over by landing the next owner
    * epoch and a superseded maintainer fails loud at its next fold.
    */
  private def assertOwner(): Unit =
    OwnerFence.assertOwner(fs, s"$workDir/owner", epoch, "Bm25Maintainer")

  /** The served artifact — always the latest COMMITTED version, so a
    * recovered maintainer serves the same frame a crash interrupted.
    */
  def stats: DataFrame = spark.read.parquet(statsPath(workDir, currentVersion))

  /** The replay HIGH-WATER batchId, as a set (empty right after build;
    * a singleton after any fold — the marker keeps only the max id under
    * the monotone-batchId contract).
    */
  def foldedBatches: Set[Long] =
    highWaterOf(fs, workDir, currentVersion).toSet

  /** The newest marked version. None listed means `stats/` was deleted
    * out-of-band or the listing is inconsistent — refused loud, naming
    * the directory, instead of serving or folding no stats.
    */
  private def currentVersion: Int = {
    val vs = committedVersions(fs, workDir)
    require(vs.nonEmpty,
      s"Bm25Maintainer: $workDir/stats lists no marked version — deleted " +
        "out-of-band or an inconsistent listing; refusing to serve or fold " +
        "without committed stats")
    vs.last
  }

  /** Fold one micro-batch of new documents; returns false for an
    * already-folded (redelivered) batchId, true when a new version
    * committed.
    */
  def fold(batch: DataFrame, batchId: Option[Long] = None): Boolean = synchronized {
    assertOwner()
    val v = currentVersion
    val hw = highWaterOf(fs, workDir, v)
    // checkpointed batchIds are monotone, so id <= high-water IS
    // "already folded" — and the marker need only CARRY the high-water,
    // keeping marker bytes O(1) per fold where the full accumulated set
    // would be written and re-parsed per fold forever (O(batches-ever))
    if (batchId.exists(b => hw.exists(_ >= b))) return false
    if (batch.isEmpty) return false
    // re-check the fence at the write boundary: the isEmpty probe above
    // is a Spark job a zombie can stall in while a takeover lands, and
    // clearUnmarked would then sweep the NEW owner's in-flight (still
    // unmarked) version dir out from under its marker rename — wedging
    // the artifact with a committed version whose parquet is gone
    assertOwner()
    // a fold that crashed between the parquet write and the marker left
    // an unmarked v+1 directory; without clearing it this write would
    // throw 'path already exists' on EVERY subsequent fold — the orphan
    // is uncommitted by definition (no marker), so deleting it is safe
    clearUnmarked(fs, workDir, above = v)
    TextAnalysis.mergeBm25Stats(stats, batch)
      .coalesce(1)
      .write.parquet(statsPath(workDir, v + 1))
    commitMarker(fs, workDir, v + 1, (hw ++ batchId).maxOption)
    // keep the previous version for readers in flight; older ones are
    // garbage (vocab-sized dirs — cheap, but unbounded without this)
    committedVersions(fs, workDir).filter(_ < v).foreach { old =>
      fs.delete(new Path(statsPath(workDir, old)), true)
    }
    true
  }

  /** Attach to a document stream: every micro-batch folds via
    * foreachBatch, batchId-idempotent (the artifact-maintenance loop —
    * [[GraphMaintainer.attach]]'s shape for the lexical index).
    */
  def attach(stream: DataFrame): StreamingQuery =
    stream.writeStream
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        fold(b.toDF(), Some(id)); ()
      }
      .start()

  /** Query-time serve from the maintained artifact. */
  def serveTopK(docs: DataFrame, queryTerms: Seq[String], k: Int = 25): DataFrame =
    TextAnalysis.bm25TopKFrom(docs, stats, queryTerms, k)
}

object Bm25Maintainer {

  /** Refit the epoch's stats from the corpus and start maintaining. */
  def build(initialDocs: DataFrame, workDir: String): Bm25Maintainer = {
    val spark = initialDocs.sparkSession
    val fs = new Path(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    clearUnmarked(fs, workDir, above = 0) // a crashed build's orphan v1
    TextAnalysis.bm25Stats(initialDocs)
      .coalesce(1)
      .write.parquet(statsPath(workDir, 1))
    commitMarker(fs, workDir, 1, None)
    new Bm25Maintainer(spark, workDir, OwnerFence.acquire(fs, s"$workDir/owner"))
  }

  /** Reopen `workDir` after a restart: the latest committed version is
    * the whole state, so the recovered maintainer's next fold equals the
    * uninterrupted one's and redelivered batchIds stay no-ops.
    */
  def recover(spark: SparkSession, workDir: String): Bm25Maintainer = {
    val fs = new Path(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(committedVersions(fs, workDir).nonEmpty,
      s"Bm25Maintainer: no committed stats under $workDir")
    new Bm25Maintainer(spark, workDir, OwnerFence.acquire(fs, s"$workDir/owner"))
  }

  private def statsPath(workDir: String, v: Int): String =
    f"$workDir%s/stats/v$v%06d"

  // underscore prefix: invisible to Spark's parquet file listing (the
  // _SUCCESS convention), so the marker can live INSIDE the version dir
  private val MarkerName = "_folded.txt"

  private def markerPath(workDir: String, v: Int): Path =
    new Path(statsPath(workDir, v), MarkerName)

  /** Committed iff marked ([[CommitFile.marked]]): the version dirs, and
    * the unmarked ones a fold or build crashed in before its marker.
    */
  private def listVersions(
      fs: org.apache.hadoop.fs.FileSystem, workDir: String): (Seq[Int], Seq[Int]) =
    CommitFile.marked(fs, new Path(s"$workDir/stats"), "v", MarkerName)

  private def committedVersions(
      fs: org.apache.hadoop.fs.FileSystem, workDir: String): Seq[Int] =
    listVersions(fs, workDir)._1

  /** Delete UNMARKED version directories above the committed maximum —
    * debris of folds (or builds) that crashed after the parquet write but
    * before the marker. They are invisible to readers already; clearing
    * them keeps the next fold's write from colliding with the dead path.
    */
  private def clearUnmarked(
      fs: org.apache.hadoop.fs.FileSystem, workDir: String, above: Int): Unit =
    listVersions(fs, workDir)._2.filter(_ > above)
      .foreach(v => fs.delete(new Path(statsPath(workDir, v)), true))

  /** The version's replay high-water: the marker's one line, or none.
    * A marker listing several ids is refused, naming the file.
    */
  private def highWaterOf(
      fs: org.apache.hadoop.fs.FileSystem, workDir: String, v: Int): Option[Long] = {
    val file = markerPath(workDir, v)
    val in = fs.open(file)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    text.split('\n').filter(_.nonEmpty).toSeq match {
      case Seq() => None
      case Seq(id) => Some(id.toLong)
      case ids => throw new IllegalStateException(
        s"Bm25Maintainer: marker $file lists ${ids.size} batchIds — a " +
          "marker carries one high-water")
    }
  }

  /** Atomic, through [[CommitFile.publish]] — a crash mid-write leaves
    * dot-prefixed garbage (invisible to parquet listing AND to the marker
    * check), never a truncated `_folded.txt` whose partial content would
    * mis-parse the high-water. A lost rename fails loud: only a second
    * live owner (fenced at its fold entry) could have marked this
    * version.
    */
  private def commitMarker(
      fs: org.apache.hadoop.fs.FileSystem, workDir: String, v: Int,
      hw: Option[Long]): Unit =
    require(CommitFile.publish(fs, new Path(statsPath(workDir, v)), MarkerName,
        hw.mkString.getBytes("UTF-8")),
      s"Bm25Maintainer: marker rename lost at ${statsPath(workDir, v)}")
}
