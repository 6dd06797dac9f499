package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.sources.LakeTable

/** The always-on lake-maintenance loop — a CDC changelog STREAM folded
  * continuously into a [[LakeTable]]: the reference's changelog-table
  * consumers (the Faust table upserting station rows as they arrive,
  * reference consumers/faust_stream.py:87-92; the KSQL table maintained
  * continuously, consumers/ksql.py:35-39) re-expressed as foreachBatch
  * over the committed boxed layout, WITH deletes, at lake scale.
  *
  * Per micro-batch: [[LakeTable.applyChangelog]] reduces the batch to
  * latest-per-key, prunes to box-intersecting files, rewrites only
  * those, and publishes the next manifest version — so steady-state
  * maintenance cost tracks the CHANGE RATE times the touched-file
  * fraction, never the accumulated table.
  *
  * Fold-boundary semantics: a delete and a later resurrect in the SAME
  * micro-batch keep the row's base-only columns (the batch reduces to
  * latest-per-key before applying); split across micro-batches, the
  * delete really lands and the resurrect is a fresh insert — base-only
  * columns return NULL, exactly as replaying the same batches against
  * any CDC consumer would ([[graft.operators.Cdc.mergeChangelog]]'s
  * batch-boundary caveat, property-pinned in LakeTableSpec).
  *
  * At-least-once safety is the manifest's: the applied-batchId set
  * travels IN the commit (an `A` line per batch), so the dedup check and
  * the apply are one atomic publication — a redelivered batch after a
  * crash between "data landed" and "manifest renamed" simply re-applies
  * from the previous version (the uncommitted files are invisible
  * garbage), and one after a successful commit is a no-op. Batch-grain
  * replay is exact; the MERGE itself is also semantically idempotent for
  * the SAME changelog (upserts re-set the same value, deletes of absent
  * keys no-op), so even the marker is belt-and-braces.
  *
  * The stream is the maintenance ARM; serving reads are
  * [[LakeTable.readLive]] / [[LakeTable.readPrunedLive]] against
  * whatever version is current — a reader never blocks on a fold and
  * never sees a half-applied one.
  */
object LakeMaintenance {

  /** Per-arm single-writer FENCE, acquired at attach time: one arm name
    * = one checkpointed stream is the contract the high-water replay
    * marker rests on — two producers sharing an arm would have the
    * lower counter's EVERY batch silently no-op (for a tombstone arm, a
    * silent non-delete). The fence makes the contract mechanical
    * instead of documentary: attaching lands the next [[OwnerFence]]
    * epoch under `_commits/arms/<arm>/`, and every fold asserts it — a
    * second attach on the same (table, arm) TAKES OVER and the first
    * loop fails loud at its next batch, exactly the maintainer
    * convention (a restarted stream re-acquires and carries on; an
    * accidental second producer surfaces immediately instead of being
    * swallowed). One-shot jobs ([[foldOnce]], ad-hoc LakeTable calls)
    * are not fenced — they pass their own arm or no batchId.
    */
  private def armFence(
      spark: SparkSession, path: String, arm: String): () => Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$path/_commits")),
      s"LakeMaintenance: $path is not a committed table — init it before attaching")
    val dir = s"$path/_commits/arms/$arm"
    val epoch = OwnerFence.acquire(fs, dir)
    // sweep superseded epochs at every (re)attach: only the max fences,
    // and without the sweep a frequently-restarted stream grows the arm
    // dir one file per restart forever — the per-fold assert's listing
    // must stay O(1)
    OwnerFence.gcSuperseded(fs, dir)
    () => OwnerFence.assertOwner(fs, dir, epoch,
      s"LakeMaintenance arm '$arm' at $path")
  }

  /** Attach a changelog stream (key, seq, op, val rows) to the table at
    * `path`. Empty batches are skipped (idle triggers must not burn
    * manifest versions). With `keepManifests` set, the commit log is
    * pruned in-loop ([[LakeTable.vacuumManifests]]) so an always-on arm
    * holds `_commits/` at O(keep) files instead of one manifest per
    * micro-batch forever — size it to cover the slowest changefeed
    * subscriber's lag, like any retention window.
    */
  def attach(
      changelog: DataFrame, path: String, cols: Seq[String],
      keyCol: String = "key", nFilesNew: Int = 2,
      keepManifests: Option[Int] = None): StreamingQuery = {
    val spark = changelog.sparkSession
    val fence = armFence(spark, path, "cdc")
    changelog.writeStream
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        if (!b.isEmpty) {
          fence()
          LakeTable.applyChangelog(
            spark, path, b.toDF(), cols, keyCol, nFilesNew, batchId = Some(id))
          keepManifests.foreach(LakeTable.vacuumManifests(spark, path, _))
          ()
        }
      }
      .start()
  }

  /** One manual fold — the unit the stream repeats; exposed for specs and
    * catch-up batch jobs (same batchId contract).
    */
  def foldOnce(
      spark: SparkSession, path: String, changelog: DataFrame,
      cols: Seq[String], keyCol: String = "key", nFilesNew: Int = 2,
      batchId: Option[Long] = None): LakeTable.ApplyStats =
    LakeTable.applyChangelog(
      spark, path, changelog, cols, keyCol, nFilesNew, batchId = batchId)

  /** The STREAMING forget arm: a tombstone stream (one `keyCol` column of
    * keys to erase) folds through [[LakeTable.applyTombstones]] per
    * micro-batch — right-to-be-forgotten as an always-on consumer, the
    * delete twin of [[attach]]. Same at-least-once contract: the
    * applied-batchId set travels in the manifest, and a tombstone replay
    * is additionally SEMANTICALLY idempotent (deleting an absent key
    * no-ops), so the marker only saves the pointless rewrite.
    */
  def attachTombstones(
      tombstones: DataFrame, path: String, cols: Seq[String],
      keyCol: String = "key", nFilesNew: Int = 2,
      keepManifests: Option[Int] = None): StreamingQuery = {
    val spark = tombstones.sparkSession
    val fence = armFence(spark, path, "forget")
    tombstones.writeStream
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        if (!b.isEmpty) {
          fence()
          LakeTable.applyTombstones(
            spark, path, b.toDF(), cols, keyCol, nFilesNew, batchId = Some(id))
          keepManifests.foreach(LakeTable.vacuumManifests(spark, path, _))
          ()
        }
      }
      .start()
  }

  /** The LOW-LATENCY forget arm: tombstone requests commit as deletion
    * vectors ([[LakeTable.applyTombstonesDv]]) — O(request) per batch,
    * no data file read or rewritten, so the attestation lands at
    * micro-batch cadence even on a table the rewrite arm would take
    * minutes to touch. Read amplification is bounded in-loop: when
    * [[LakeTable.shouldMaterialize]]'s manifest-arithmetic trigger
    * fires, the batch also folds the accumulated vectors in
    * ([[LakeTable.materializeDeletes]] — shadowed files only). Replays
    * are marker-skipped AND semantically idempotent.
    */
  def attachTombstonesDv(
      tombstones: DataFrame, path: String, cols: Seq[String],
      keyCol: String = "key", nFilesNew: Int = 2,
      materializeAtShadowedFraction: Option[Double] = None,
      targetFileBytes: Option[Long] = None,
      keepManifests: Option[Int] = None): StreamingQuery = {
    val spark = tombstones.sparkSession
    val fence = armFence(spark, path, "forget-dv")
    tombstones.writeStream
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        if (!b.isEmpty) {
          fence()
          LakeTable.applyTombstonesDv(
            spark, path, b.toDF(), keyCol, batchId = Some(id))
          materializeAtShadowedFraction.foreach { frac =>
            if (LakeTable.shouldMaterialize(spark, path, frac)) {
              // byte-targeted output width: the shadowed third of a wide
              // table must not pack into nFilesNew fixed (oversizable) files
              LakeTable.materializeDeletes(spark, path, cols, nFilesNew,
                targetFileBytes = targetFileBytes)
              ()
            }
          }
          keepManifests.foreach(LakeTable.vacuumManifests(spark, path, _))
          ()
        }
      }
      .start()
  }

  /** The MERGE-ON-READ maintenance arm: a full-row-image changelog
    * stream folds per micro-batch through
    * [[LakeTable.applyChangelogFullMor]] — each batch commits as one
    * deletion-vector sidecar + fresh image files, reading ZERO existing
    * data, so fold latency is O(batch) regardless of table size (the
    * merge-on-WRITE arm [[attach]] pays box-intersecting rewrites per
    * fold; pick per table by ingest-latency vs read-amplification).
    * The in-loop [[LakeTable.materializeDeletes]] trigger is the read
    * side's guardrail, exactly as compaction is [[attachAppend]]'s.
    */
  def attachMor(
      changelog: DataFrame, path: String, cols: Seq[String],
      keyCol: String = "key", nFilesNew: Int = 2,
      materializeAtShadowedFraction: Option[Double] = None,
      targetFileBytes: Option[Long] = None,
      keepManifests: Option[Int] = None): StreamingQuery = {
    val spark = changelog.sparkSession
    val fence = armFence(spark, path, "cdc-mor")
    changelog.writeStream
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        if (!b.isEmpty) {
          fence()
          LakeTable.applyChangelogFullMor(
            spark, path, b.toDF(), cols, keyCol, nFilesNew, batchId = Some(id))
          materializeAtShadowedFraction.foreach { frac =>
            if (LakeTable.shouldMaterialize(spark, path, frac)) {
              LakeTable.materializeDeletes(spark, path, cols, nFilesNew,
                targetFileBytes = targetFileBytes)
              ()
            }
          }
          keepManifests.foreach(LakeTable.vacuumManifests(spark, path, _))
          ()
        }
      }
      .start()
  }

  /** The STREAMING ingest arm: an append-only record stream lands per
    * micro-batch through [[LakeTable.append]] — each batch z-orders into
    * its own tight-boxed files touching NO existing file, so the fold is
    * O(batch) regardless of table size. Unlike the changelog/tombstone
    * arms, an append replay is NOT semantically idempotent (a redelivered
    * batch would duplicate every row), so here the manifest's
    * applied-batchId marker is load-bearing, not belt-and-braces: the
    * check and the append publish atomically in one rename, which is what
    * makes at-least-once delivery exactly-once at the table.
    *
    * Every fold adds `nFilesNew` files; compaction is the response —
    * poll [[LakeTable.shouldCompact]] and run [[LakeTable.compact]]
    * (change-sized: only undersized files rewrite, and the changefeed
    * across the compaction span is empty, so downstream incremental
    * consumers never see maintenance).
    */
  def attachAppend(
      records: DataFrame, path: String, cols: Seq[String],
      nFilesNew: Int = 2,
      compactTargetBytes: Option[Long] = None,
      keepManifests: Option[Int] = None): StreamingQuery = {
    val spark = records.sparkSession
    val fence = armFence(spark, path, "ingest")
    records.writeStream
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        if (!b.isEmpty) {
          fence()
          LakeTable.append(b.toDF(), path, cols, nFilesNew, batchId = Some(id))
          compactTargetBytes.foreach { t =>
            if (LakeTable.shouldCompact(spark, path, t)) {
              LakeTable.compact(spark, path, cols, t)
              ()
            }
          }
          keepManifests.foreach(LakeTable.vacuumManifests(spark, path, _))
          ()
        }
      }
      .start()
  }

  // ---- lockstep derived view ------------------------------------------

  /** [[attach]] plus a DERIVED VIEW maintained in lockstep: after each
    * fold commits, [[refreshView]] advances the materialized rollup at
    * `viewDir` to the table's new version by folding the changefeed —
    * the end-to-end incremental pipeline (table and view both move
    * change-sized work per batch, the base is never re-aggregated). A
    * crash between the table commit and the view refresh self-heals:
    * the next batch's refresh reads the MULTI-version feed from the
    * view's recorded table version, so the view lags at most one fold
    * and never double-applies. Retention must cover the lag:
    * `vacuum(keepVersions)` ≥ the view's maximum staleness in versions.
    */
  def attachWithView(
      changelog: DataFrame, path: String, cols: Seq[String],
      viewDir: String, groupCols: Seq[String],
      measures: Map[(String, String), String],
      keyCol: String = "key", nFilesNew: Int = 2,
      keepManifests: Option[Int] = None): StreamingQuery = {
    val spark = changelog.sparkSession
    // fail the misconfiguration at ATTACH, not hours later: keep = 1
    // leaves only the just-committed manifest, so the first crash
    // between the table commit and the view refresh strands the view's
    // recorded version below the pruned horizon and the catch-up
    // readChanges dies on the retention contract
    keepManifests.foreach(k => require(k >= 2,
      s"LakeMaintenance.attachWithView: keepManifests must be >= 2 (the " +
        s"view lags up to one fold, plus the crashed-refresh window), got $k"))
    val fence = armFence(spark, path, "cdc")
    changelog.writeStream
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        if (!b.isEmpty) {
          fence()
          LakeTable.applyChangelog(
            spark, path, b.toDF(), cols, keyCol, nFilesNew, batchId = Some(id))
          refreshView(spark, path, viewDir, groupCols, measures, keyCol)
          // retention runs AFTER the view advanced, and keepManifests
          // must exceed the view's maximum staleness in versions (it
          // lags at most one fold when healthy, but a crashed refresh
          // stretches that to the next batch) — the same
          // cover-the-slowest-subscriber contract as data-file vacuum
          keepManifests.foreach(LakeTable.vacuumManifests(spark, path, _))
          ()
        }
      }
      .start()
  }

  /** Advance the materialized rollup at `viewDir` to the table's current
    * version — change-sized work, idempotent, crash-safe:
    *   - first call materializes `Mv.summarize(readLive)` as view v1;
    *   - later calls read the newest COMMITTED view (its `_applied.txt`
    *     marker records the table version it reflects), pull
    *     `readChanges(reflected, current, withPreimage)` — one feed even
    *     across a multi-fold gap — and land the folded view as the next
    *     version (parquet first, then the marker through
    *     [[CommitFile.publish]]: a markerless dir is invisible garbage, so
    *     a crash mid-land leaves the old view serving);
    *   - a view already at the current table version is a no-op (replay
    *     safety), and re-running after any crash point converges.
    * Measure routing: an all-sum/count view folds the feed alone
    * ([[graft.operators.Mv.applyChanges]]); a view with min/max
    * re-summarizes only the touched groups
    * ([[graft.operators.Mv.repairChanges]]). Returns the table version
    * the view now reflects.
    */
  def refreshView(
      spark: SparkSession, tablePath: String, viewDir: String,
      groupCols: Seq[String], measures: Map[(String, String), String],
      keyCol: String = "key"): Int = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(viewDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = LakeTable.latest(spark, tablePath).version
    val committed = committedViews(spark, viewDir)
    val (nextViewV, next) = committed.lastOption match {
      case None =>
        (1, graft.operators.Mv.summarize(
          LakeTable.readLive(spark, tablePath), groupCols, measures))
      case Some((_, tableV)) if tableV >= cur => return cur // up to date
      case Some((viewV, tableV)) =>
        val view = spark.read.parquet(f"$viewDir%s/v$viewV%09d")
        val feed = LakeTable.readChanges(
          spark, tablePath, tableV, cur, keyCol, withPreimage = true)
        // feed-only retraction needs applyChanges' full contract (all
        // sum/count, a count(*) group-death detector, a count(c)
        // companion per sum(c)); anything else repairs touched groups
        val retractable =
          measures.contains(("count", "*")) &&
            measures.keys.forall { case (f, _) => f == "sum" || f == "count" } &&
            measures.keys.forall {
              case ("sum", c) => measures.contains(("count", c))
              case _          => true
            }
        val folded =
          if (retractable)
            graft.operators.Mv.applyChanges(view, feed, groupCols, measures)
          else graft.operators.Mv.repairChanges(
            view, LakeTable.readLive(spark, tablePath), feed, groupCols, measures)
        (viewV + 1, folded)
    }
    val dest = f"$viewDir%s/v$nextViewV%09d"
    // views are summary-sized; one file keeps the artifact cheap to open,
    // and guarantees an empty view still lands a schema-bearing file
    next.repartition(1).write.mode("overwrite").parquet(dest)
    // a lost rename means a second refresher marked this version: the
    // view loop is single-writer, so fail loud rather than guess
    require(CommitFile.publish(fs, new Path(dest), ViewMarker,
        cur.toString.getBytes("UTF-8")),
      s"refreshView: marker rename lost at $dest")
    // keep the just-superseded view for readers in flight; everything
    // older is garbage — without this the view directory grows one
    // summary-sized dir per micro-batch forever, and committedViews'
    // per-refresh resolution (a marker OPEN per version dir) becomes
    // O(refreshes-ever) namenode reads on a week-old streaming view
    committed.map(_._1).filter(_ < nextViewV - 1).foreach { old =>
      fs.delete(new Path(f"$viewDir%s/v$old%09d"), true)
    }
    cur
  }

  /** The newest COMMITTED view — what a serving reader opens; markerless
    * (crash-landed) version dirs are invisible.
    */
  def readView(spark: SparkSession, viewDir: String): DataFrame = {
    val vs = committedViews(spark, viewDir)
    require(vs.nonEmpty, s"LakeMaintenance.readView: no committed view at $viewDir")
    spark.read.parquet(f"$viewDir%s/v${vs.last._1}%09d")
  }

  private val ViewMarker = "_applied.txt"

  /** (view version, reflected table version) of every committed view
    * version, ascending — committed iff marked ([[CommitFile.marked]]): a
    * dir without its `_applied.txt` marker (a crashed land) never lists.
    */
  private def committedViews(
      spark: SparkSession, viewDir: String): Seq[(Int, Int)] = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(viewDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    CommitFile.marked(fs, new Path(viewDir), "v", ViewMarker)._1.map { v =>
      val in = fs.open(new Path(f"$viewDir%s/v$v%09d/$ViewMarker"))
      val tv = try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim.toInt finally in.close()
      v -> tv
    }
  }
}
