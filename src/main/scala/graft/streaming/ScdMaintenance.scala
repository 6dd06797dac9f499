package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Cdc
import graft.sources.LakeTable

/** Continuously maintained SCD-TYPE-2 dimension history — the streaming
  * arm of [[Cdc.scdMerge]], RE-HOMED on [[LakeTable]] so per-fold write
  * cost tracks the CHANGE, never the accumulated history (the reference's
  * continuously-maintained dimension table, consumers/faust_stream.py:
  * 87-92, at the 100 TB shape).
  *
  * Why two lake tables: [[Cdc.scdMerge]]'s contract splits the artifact
  * by mutability. CLOSED intervals are immutable forever — they belong
  * in an APPEND-ONLY table (`workDir/closed/t`, clustered on
  * (key, valid_from) so both the temporal join's key probe and the as-of
  * read's validity range prune); the CURRENT slice is a key-unique keyed
  * snapshot that mutates per fold — a merge-on-write table
  * (`workDir/current/t`, clustered on key) where a fold rewrites ONLY the
  * box-intersecting current-slice files, or — when those files have grown
  * past `morThresholdBytes` — commits MERGE-ON-READ (one deletion-vector
  * sidecar + the batch's fresh current rows, zero existing files read or
  * written), with [[LakeTable.shouldMaterialize]] folding the vectors in
  * once a third of the files are shadowed. A years-deep dimension never
  * re-serializes: the fold appends its newly-closed intervals
  * (batch-sized), touches current-slice state by at most
  * min(touched-file bytes, batch + sidecar), and the untouched closed
  * bulk carries by manifest NAME — the predecessor design re-landed the
  * FULL scdMerge output as a fresh parquet snapshot every micro-batch,
  * an O(history) write per fold.
  *
  * Consistency across the two tables: each committed fold publishes a
  * PAIR MARKER `workDir/fold/v%06d.txt` pinning (closed version, current
  * version, per-arm replay high-water marks); readers resolve the latest
  * marker and [[LakeTable.readAt]] each table at its pinned version, so a
  * reader never observes one table's fold without the other's. The marker
  * publishes atomically by rename-without-overwrite (the same contract
  * as every lake commit — a duplicate version loses the rename and
  * fails loud), and each lake commit is itself atomic; crash windows
  * between the three are closed by HEAL-ON-ENTRY: every fold first rolls
  * each table back to the pair marker's pinned version
  * ([[LakeTable.restoreTo]] — a metadata commit that also discards the
  * crashed fold's replay markers), because under a single maintainer any
  * lake version beyond the pin IS half-applied work. A crashed batch
  * therefore either replays in full (batchId set, at-least-once source)
  * or is discarded atomically (fold(batch) with no batchId and no
  * redelivery) — no partial closed-without-current state can ever reach
  * a marker; a redelivered already-marked batch short-circuits on the
  * pair marker's per-arm high-water mark before any work. Exactness per
  * fold is the fold==refit invariant (`scdMerge(scdHistory(a), b) ==
  * scdHistory(a ∪ b)` under monotone LSNs — q_scd2_merge's oracle IS the
  * refit), so chained folds equal one derivation; the fold only ever
  * hands [[Cdc.scdMerge]] the touched keys' current rows, which is all
  * it reads by contract.
  *
  * Replay state is O(arms), not O(batches): the marker records ONE
  * high-water batchId per arm (`fold#maxId` / `forget#maxId`) — Spark's
  * checkpointed batchIds are monotone per stream and each arm is one
  * stream, so `id <= highWater` IS "already folded" (the same
  * txn/appId bound [[LakeTable]] keeps in its manifests). Markers
  * written before this bound carried the full folded-id set; they read
  * back collapsed, and the first post-upgrade fold commits the bounded
  * form — without the bound, a month of 1 s micro-batches would rewrite
  * and re-parse ~2.6M marker lines per fold, a quadratic cumulative
  * metadata cost on a loop whose DATA cost is O(batch).
  *
  * SINGLE-OWNER FENCING: exactly one live maintainer may own a workDir.
  * `synchronized` serializes folds inside one JVM; across JVMs the
  * owner directory (`workDir/owner/e%06d.txt`) carries a monotone epoch
  * — [[ScdMaintainer.recover]] TAKES OVER by landing the next epoch, and
  * every fold/forget checks (at entry and again immediately before its
  * pair-marker commit) that its own epoch is still the max, failing loud
  * as FENCED otherwise. A fenced maintainer's in-flight lake commits are
  * exactly versions beyond the pin — the new owner's next heal-on-entry
  * discards them, and the fenced batch redelivers to the new owner
  * (at-least-once source), so the loser's work is rolled back whole, not
  * interleaved. The residual window (fence check → marker rename) is
  * backstopped by the marker's own rename-without-overwrite: two
  * maintainers racing the same marker version cannot both win.
  *
  * Retention: lake versions accumulate one per fold per table;
  * [[vacuumHistory]] applies [[LakeTable.vacuum]] to both tables AND
  * prunes pair markers beyond the same window (keeping superseded owner
  * epochs' files is pointless — only the max fences) — `keepVersions`
  * must cover the slowest reader's marker lag, the same contract every
  * lake subscriber carries.
  */
final class ScdMaintainer private (
    spark: SparkSession, workDir: String, epoch: Int) {
  import ScdMaintainer._

  private val fs =
    new Path(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The append-only closed-interval lake table (exposed for manifest
    * audits and external vacuum policy).
    */
  def closedTablePath: String = ScdMaintainer.closedPath(workDir)

  /** The merge-on-write current-slice lake table. */
  def currentTablePath: String = ScdMaintainer.currentPath(workDir)

  /** The served history — the latest committed PAIR: closed intervals ∪
    * the current slice, each read at its marker-pinned table version
    * ([[Cdc.scdHistory]]'s shape).
    */
  def history: DataFrame = {
    val m = markerOf(fs, workDir, currentVersion)
    val closed = LakeTable.readAt(spark, closedTablePath, m.closedV)
      .select(col("key"), col("name"), col("val"),
        col("valid_from"), col("valid_to"), lit(false).as("is_current"))
    val cur = LakeTable.readAt(spark, currentTablePath, m.currentV)
      .select(col("key"), col("name"), col("val"), col("valid_from"),
        lit(null).cast("bigint").as("valid_to"), lit(true).as("is_current"))
    closed.unionByName(cur)
  }

  /** The current-rows slice — a read of the current table ALONE (the
    * closed bulk is neither opened nor even stat-ed), equal to the
    * latest-image MERGE of the same changelog (CdcSpec pins it).
    */
  def current: DataFrame = {
    val m = markerOf(fs, workDir, currentVersion)
    LakeTable.readAt(spark, currentTablePath, m.currentV)
      .select(col("key"), col("name"), col("val"), col("valid_from"),
        lit(null).cast("bigint").as("valid_to"), lit(true).as("is_current"))
  }

  /** Streaming batchIds the FOLD arm dedupes on. Markers keep one
    * high-water id per arm, so after any fold this is the singleton
    * {maxFoldedId}; empty right after build.
    */
  def foldedBatches: Set[Long] =
    armHighWater(markerOf(fs, workDir, currentVersion).folded, "fold")
      .map(Set(_)).getOrElse(Set.empty)

  /** The FORGET arm's high-water batchId, as [[foldedBatches]]. */
  def forgottenBatches: Set[Long] =
    armHighWater(markerOf(fs, workDir, currentVersion).folded, "forget")
      .map(Set(_)).getOrElse(Set.empty)

  /** The newest pair marker. None listed means `fold/` was deleted
    * out-of-band or the listing is inconsistent — refused loud, naming the
    * directory, instead of serving or folding an uncommitted cut.
    */
  private def currentVersion: Int = {
    val vs = committedVersions(fs, workDir)
    require(vs.nonEmpty,
      s"ScdMaintainer: $workDir/fold lists no pair marker — deleted " +
        "out-of-band or an inconsistent listing; refusing to read or fold " +
        "without a committed cross-table cut")
    vs.last
  }

  /** Fail loud if another maintainer has taken ownership of `workDir`
    * since this one was constructed — see the class doc's fencing
    * contract. One tiny-directory listing (owner epochs are GC'd to the
    * max by [[vacuumHistory]]).
    */
  private def assertOwner(): Unit =
    OwnerFence.assertOwner(fs, s"$workDir/owner", epoch, "ScdMaintainer")

  /** Fold one micro-batch of changes; returns false for an
    * already-folded (redelivered) batchId, true when a new version
    * committed. Per-fold cost: one [[LakeTable.readKeyed]]-shaped probe
    * of the touched keys' current rows, one batch-sized closed APPEND,
    * and a current-slice update that is merge-on-WRITE (touched files
    * rewritten) below `morThresholdBytes` of touched bytes and
    * merge-on-READ (one DV sidecar + batch-sized fresh files, zero
    * existing files opened) above it, plus three metadata renames.
    *
    * Every fold appends one closed-interval sliver and one current
    * file; with `compactTargetBytes` set, [[LakeTable.shouldCompact]]'s
    * half-target trigger bin-packs either table's undersized files
    * in-loop (content-preserving, changefeed-invisible, never re-picks
    * its own outputs), and under MoR folds the in-loop
    * [[LakeTable.shouldMaterialize]] check folds accumulated deletion
    * vectors back in — so ten thousand folds leave a bounded live file
    * count and bounded read amplification. Maintenance commits run
    * BEFORE the pair marker, so the marker pins the packed versions.
    */
  def fold(
      batch: DataFrame, batchId: Option[Long] = None,
      compactTargetBytes: Option[Long] = None,
      morThresholdBytes: Option[Long] = None,
      materializeAtShadowedFraction: Option[Double] = None,
      keepMarkers: Option[Int] = None): Boolean =
    synchronized {
    assertOwner()
    val v = currentVersion
    val m = markerOf(fs, workDir, v)
    if (batchId.exists(applied(m.folded, "fold", _))) return false
    // ONE materialization of the micro-batch (O(batch) executor-local
    // blocks, the same trade GraphMaintainer.fold makes): the empty
    // check, the touch probe, the box probe inside shadowedFiles, the
    // merge input and the MoR/MoW rewrite all read the cached blocks —
    // without the barrier each action re-derives the batch's whole
    // upstream pipeline (measured ~5 re-derivations per fold at bench
    // scale when the batch is a filtered/windowed changelog frame)
    val b = batch.select(
      col("key"), col("seq"), col("op"), col("name"), col("val"))
      .localCheckpoint()
    // the empty probe rides the touched-keys materialization below — a
    // batch is empty iff its distinct key set is (distinct keeps nulls),
    // so no separate isEmpty job runs over the checkpointed blocks
    // HEAL first: any lake version beyond the pair marker's pin is a
    // crashed fold's half-applied work (single maintainer; compaction
    // commits BEFORE the marker, so a healthy fold always leaves
    // latest == pinned). Rolling both tables back to the pin — replay
    // markers included, so a redelivery of the crashed batch re-applies
    // instead of wrongly no-opping — makes every fold start from a
    // consistent cross-table cut: a crashed batch either replays in
    // full (batchId set, source redelivers) or is discarded ATOMICALLY
    // (no partial closed-without-current state can ever reach a marker).
    // materialized once: the empty probe, the box probe, the
    // current-slice semi-join and the MoW/MoR commit all reuse the
    // distinct key set — un-barriered, each re-shuffles the batch for
    // its own distinct
    val touched = b.select(col("key")).distinct().localCheckpoint()
    if (touched.isEmpty) return false
    heal(m)
    // the touched keys' current rows, box-pruned — the ONLY history the
    // incremental derivation needs (closed intervals are immutable).
    // Resolved ONCE: the same manifest answers the touch probe, the
    // slice read, and the MoW/MoR routing decision.
    val cCur = LakeTable.latest(spark, currentTablePath)
    val touchedFiles = LakeTable.shadowedFiles(spark, cCur, touched, "key")
    val curTouched =
      (if (touchedFiles.isEmpty)
         LakeTable.readFilesResolved(spark, currentTablePath, cCur, Seq.empty)
       else LakeTable.readFilesResolved(
         spark, currentTablePath, cCur, touchedFiles)
         .join(broadcast(touched), Seq("key"), "left_semi"))
        .withColumn("valid_to", lit(null).cast("bigint"))
        .withColumn("is_current", lit(true))
    // [[Cdc.scdMerge]] specialised to the fold's own invariant: curTouched
    // is BY CONSTRUCTION all-current with keys ⊆ touched (built above as
    // is_current=true over a touched semi-join), so scdMerge's
    // closed-or-untouched branches are provably EMPTY here — the merge
    // reduces to one scdHistory over (reopened current rows ∪ batch).
    // Same rows as scdMerge(curTouched, b) (the oracle hash re-proves it
    // and ScdMaintenanceSpec pins fold == refit); two history joins and
    // scdMerge's internal key distinct drop out of every fold.
    val reopened = curTouched.select(
      col("key"), col("valid_from").as("seq"), lit("U").as("op"),
      col("name"), col("val"))
    val merged = Cdc.scdHistory(reopened.unionByName(b))
      .localCheckpoint() // one derivation feeds two commits
    val newClosed = merged.filter(!col("is_current"))
      .select(col("key"), col("name"), col("val"),
        col("valid_from"), col("valid_to"))
    val newCur = merged.filter(col("is_current"))
      .select(col("key"), col("name"), col("val"), col("valid_from"))
    // 1 ∥ 2. the closed append and the current-slice update commit to
    //    INDEPENDENT tables from the same checkpointed inputs (`merged`,
    //    `touched`), so they run as overlapping jobs (guide §2.6): the
    //    current commit's tasks back-fill the executor slots the closed
    //    append's tail leaves idle. Each commit is atomic on its own
    //    table; the pair marker below is what publishes them together,
    //    exactly as before — a crash between the two is healed on entry
    //    regardless of which landed first.
    //
    // 2. the current slice: rewrite its touched files (merge-on-write)
    //    while they are small; once the touched footprint outgrows the
    //    threshold, commit merge-on-read instead — O(batch) landed bytes
    //    no matter how wide the current table's files have grown
    val touchedBytes = touchedFiles.map(f => cCur.sizes.getOrElse(f, 0L)).sum
    val useMor = morThresholdBytes.exists(touchedBytes > _)
    // the routing probe above already resolved the touched files at
    // cCur — hand them down version-pinned so the commit path does not
    // re-run the same box probe (it recomputes on any version mismatch)
    val hint = Some((cCur.version, touchedFiles))
    // whatever happens, the fold never unwinds before BOTH commits settle
    // — an escaped in-flight commit would race the next fold's
    // heal-on-entry rollback; a current-commit failure surfaces first,
    // the closed append's attached
    val (kv0, closedStats) = graft.operators.Par.overlap(
      if (useMor)
        LakeTable.replaceKeyedMor(
          spark, currentTablePath, touched, newCur, Seq("key"),
          keyCol = "key", nFilesNew = 1, batchId = batchId,
          arm = "scd-current", touchedHint = hint,
          // `touched` is the checkpointed output of a distinct() above —
          // skip the redundant re-distinct exchange inside the commit
          keysDistinct = true).version
      else
        LakeTable.mutate(
          spark, currentTablePath, Seq("key"), keyCol = "key",
          nFilesNew = 1, bits = 16,
          touchKeys = touched,
          rewrite = base =>
            base.join(broadcast(touched), Seq("key"), "left_anti")
              .unionByName(newCur),
          appliedBatch = batchId.map(b => s"scd-current#$b"),
          touchedHint = hint).version,
      // 1. closed intervals append immutably (empty appends still commit,
      //    carrying the replay marker)
      LakeTable.append(
        newClosed, closedTablePath, Seq("key", "valid_from"),
        nFilesNew = 1, batchId = batchId, arm = "scd-closed"))
    var kv = kv0
    // 3. bounded read amplification: MoR folds accumulate deletion
    //    vectors — with the fraction set, fold them back in once that
    //    share of the files is shadowed (manifest arithmetic via
    //    shouldMaterialize, no-op otherwise) ...
    materializeAtShadowedFraction.foreach { frac =>
      if (LakeTable.shouldMaterialize(spark, currentTablePath, frac))
        kv = LakeTable.materializeDeletes(
          spark, currentTablePath, Seq("key"), nFilesNew = 1,
          // always byte-targeted: without a compact target the rewrite
          // would pack the WHOLE shadowed set into one monotonically
          // growing file that every later materialize rewrites whole
          // and no compaction (undersized-only) could ever split
          targetFileBytes = compactTargetBytes
            .orElse(Some(DefaultMaterializeTargetBytes))).version
    }
    // 4. ... and bounded file counts: bin-pack either table's slivers
    //    in-loop — compact directly: its own <2-undersized check is the
    //    trigger (no-ops burn no version), so a separate shouldCompact
    //    poll would just resolve each manifest twice
    var cv = closedStats.version
    compactTargetBytes.foreach { t =>
      cv = LakeTable.compact(
        spark, closedTablePath, Seq("key", "valid_from"), t).version
      kv = LakeTable.compact(spark, currentTablePath, Seq("key"), t).version
    }
    // 5. the pair marker pins the fold for readers — the versions the
    //    commits above RETURNED, no re-resolution; the fence re-check
    //    right before the rename narrows the takeover window to the
    //    rename itself (which a racing marker then loses loudly)
    assertOwner()
    commitMarker(fs, workDir, v + 1,
      Marker(cv, kv,
        batchId.foldLeft(m.folded)((f, b) => record(f, "fold", b))))
    // 6. optional IN-LOOP marker retention: with keepMarkers set, pair
    //    markers beyond the window drop right here, so an always-on fold
    //    loop holds the marker directory at O(keep) files without ever
    //    needing an external vacuumHistory pass (same reader-lag
    //    contract: keep must cover the slowest marker subscriber)
    keepMarkers.foreach(pruneMarkers(_, v + 1))
    true
  }

  /** Drop pair markers at or below `vNow - keep`. Retention is clamped
    * to TWO (current + previous) however small `keep` is: a reader that
    * listed committedVersions a moment before the in-loop prune must
    * still be able to open the marker it chose — the same in-flight-
    * reader window [[Bm25Maintainer.fold]] and
    * [[LakeMaintenance.refreshView]] keep current+previous for.
    */
  private def pruneMarkers(keep: Int, vNow: Int): Unit =
    committedVersions(fs, workDir)
      .filter(_ <= vNow - math.max(2, keep))
      .foreach(v => fs.delete(markerPath(workDir, v), false))

  /** Right-to-be-forgotten for the DIMENSION artifact: erase every trace
    * of the tombstoned keys — closed intervals AND current rows — as one
    * pair-marked maintenance step (box-pruned file rewrites on both
    * tables, batchId-idempotent under the `forget#` arm). This is THE
    * supported way to delete from the maintainer's tables: the two lake
    * paths are exposed for AUDIT (manifest diffs, retention telemetry),
    * never for out-of-band mutation — heal-on-entry rolls back any
    * commit the pair marker did not pin, so a tombstone landed directly
    * on `closedTablePath` would be silently undone by the next fold.
    * Routed through here it commits under the same heal/replay contract
    * as folds. Returns false for a redelivered batchId or an empty
    * tombstone set.
    */
  def forget(tombstones: DataFrame, batchId: Option[Long] = None): Boolean =
    synchronized {
      assertOwner()
      val v = currentVersion
      val m = markerOf(fs, workDir, v)
      if (batchId.exists(applied(m.folded, "forget", _))) return false
      // materialize the key set once: the empty check plus TWO
      // applyTombstones passes (each a box probe + an anti-join rewrite)
      // would otherwise re-derive the tombstone pipeline four times
      val keys = tombstones.select(col("key")).distinct().localCheckpoint()
      if (keys.isEmpty) return false
      heal(m)
      // unlike a fold (whose rewrite is batch-sized), a forget rewrite
      // carries every KEPT row of the box-intersecting files — on a
      // years-deep closed table that is touched-files-sized, so use the
      // tombstone arms' default output width rather than one file/task.
      // The two rewrites hit INDEPENDENT tables from the one checkpointed
      // key set — overlapped like the fold's pair (§2.6); joinAll blocks
      // until both settle, so no in-flight commit ever escapes the forget
      val Seq(cStats, kStats) = graft.operators.Par.joinAll(Seq(
        () => LakeTable.applyTombstones(
          spark, closedTablePath, keys, Seq("key", "valid_from"),
          keyCol = "key", batchId = batchId,
          arm = "scd-forget-closed"),
        () => LakeTable.applyTombstones(
          spark, currentTablePath, keys, Seq("key"),
          keyCol = "key", batchId = batchId,
          arm = "scd-forget-current")))
      assertOwner()
      commitMarker(fs, workDir, v + 1,
        Marker(cStats.version, kStats.version,
          batchId.foldLeft(m.folded)((f, b) => record(f, "forget", b))))
      true
    }

  /** The streaming forget arm: a tombstone stream (one `key` column)
    * erases per micro-batch — the dimension-artifact twin of
    * [[LakeMaintenance.attachTombstones]].
    */
  def attachForget(tombstones: DataFrame): StreamingQuery =
    tombstones.writeStream
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        forget(b.toDF(), Some(id)); ()
      }
      .start()

  /** Roll both tables back to the pair marker's pin — see the class doc. */
  private def heal(m: Marker): Unit = {
    if (LakeTable.latestVersion(spark, closedTablePath) != m.closedV)
      LakeTable.restoreTo(spark, closedTablePath, m.closedV)
    if (LakeTable.latestVersion(spark, currentTablePath) != m.currentV)
      LakeTable.restoreTo(spark, currentTablePath, m.currentV)
  }

  /** Query-time TEMPORAL JOIN served from the maintained artifact: each
    * fact joins the dimension version valid at its own `t`.
    */
  def serveJoin(facts: DataFrame): DataFrame = Cdc.scdJoin(facts, history)

  /** Attach to a full-image changelog stream (key, seq, op, name, val):
    * every micro-batch folds via foreachBatch, batchId-idempotent;
    * `compactTargetBytes` bounds the live file count in-loop,
    * `morThresholdBytes` routes wide-touched-file folds through
    * merge-on-read.
    */
  def attach(
      changes: DataFrame,
      compactTargetBytes: Option[Long] = None,
      morThresholdBytes: Option[Long] = None,
      materializeAtShadowedFraction: Option[Double] = None,
      keepMarkers: Option[Int] = None): StreamingQuery =
    changes.writeStream
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        fold(b.toDF(), Some(id), compactTargetBytes, morThresholdBytes,
          materializeAtShadowedFraction, keepMarkers); ()
      }
      .start()

  /** Apply lake retention to both tables AND to the maintainer's own
    * metadata: pair markers older than the newest `keepVersions` are
    * dropped (their file count otherwise grows one per fold forever —
    * the directory listing behind every [[currentVersion]] call),
    * superseded owner-epoch files are GC'd (only the max fences), and
    * crashed marker tmp files age out. `keepVersions` must cover the
    * slowest reader's pair-marker lag (the standard lake subscriber
    * contract). The effective lake depth always additionally covers the
    * CURRENT pair pin: after a crashed fold the lake tables sit ahead of
    * the marker, and vacuuming the pinned version's files out would
    * strand both the serving reads and heal-on-entry's rollback.
    */
  def vacuumHistory(keepVersions: Int = 2, graceMs: Long = 0L): Int = {
    val vCur = currentVersion
    val m = markerOf(fs, workDir, vCur)
    val keepClosed = math.max(keepVersions,
      LakeTable.latestVersion(spark, closedTablePath) - m.closedV + 1)
    val keepCurrent = math.max(keepVersions,
      LakeTable.latestVersion(spark, currentTablePath) - m.currentV + 1)
    val nData = LakeTable.vacuum(spark, closedTablePath, keepClosed, graceMs) +
      LakeTable.vacuum(spark, currentTablePath, keepCurrent, graceMs)
    // pair markers beyond the retention window (never the newest) —
    // listed once, deleted from that list (an honest count, no re-list)
    val oldMarkers = committedVersions(fs, workDir)
      .filter(_ <= vCur - math.max(1, keepVersions))
    oldMarkers.foreach(v => fs.delete(markerPath(workDir, v), false))
    // crashed commitMarker attempts leave .tmp-<uuid> files
    val tmp = CommitFile.sweep(fs, new Path(s"$workDir/fold"), graceMs)
    // superseded owner epochs: only the max carries fencing authority
    val nEpochs = OwnerFence.gcSuperseded(fs, s"$workDir/owner")
    nData + oldMarkers.size + tmp + nEpochs
  }
}

object ScdMaintainer {

  /** Materialize output width when no compactTargetBytes is configured —
    * Spark's default scan-split size, so materialized parts stay
    * splittable and re-compactable.
    */
  private val DefaultMaterializeTargetBytes: Long = 128L << 20

  private final case class Marker(closedV: Int, currentV: Int, folded: Set[String])

  /** Derive the epoch's history from the accumulated changelog and start
    * maintaining. An empty-history start is `build(emptyLog)`. Debris of
    * a build that crashed before its first marker is cleared and
    * re-derived (nothing uncommitted is ever served).
    */
  def build(initialLog: DataFrame, workDir: String): ScdMaintainer = {
    val spark = initialLog.sparkSession
    val fs = new Path(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(committedVersions(fs, workDir).isEmpty,
      s"ScdMaintainer: $workDir already holds a committed history — recover() it")
    fs.delete(new Path(closedPath(workDir)), true)
    fs.delete(new Path(currentPath(workDir)), true)
    val hist = Cdc.scdHistory(initialLog).localCheckpoint()
    // two independent tables derived from the one checkpointed history —
    // overlapped inits (§2.6), same back-fill win as the fold's pair
    graft.operators.Par.joinAll(Seq(
      () => LakeTable.init(
        hist.filter(!col("is_current"))
          .select(col("key"), col("name"), col("val"),
            col("valid_from"), col("valid_to")),
        closedPath(workDir), Seq("key", "valid_from"), nFiles = 2),
      () => LakeTable.init(
        hist.filter(col("is_current"))
          .select(col("key"), col("name"), col("val"), col("valid_from")),
        currentPath(workDir), Seq("key"), nFiles = 2)))
    commitMarker(fs, workDir, 1, Marker(1, 1, Set.empty))
    new ScdMaintainer(spark, workDir, acquireEpoch(fs, workDir))
  }

  /** Reopen `workDir` after a restart: the latest committed pair marker
    * is the whole state — the recovered maintainer's next fold equals
    * the uninterrupted one's, redelivered batchIds stay no-ops, and a
    * fold that crashed mid-way is rolled back to the marker's pin by the
    * next fold's heal-on-entry (see the class doc). Recovery TAKES
    * OWNERSHIP: it lands the next owner epoch, so a still-live prior
    * maintainer on the same workDir is fenced at its next fold/forget —
    * fail-loud single-writer exclusion across JVMs.
    */
  def recover(spark: SparkSession, workDir: String): ScdMaintainer = {
    val fs = new Path(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new Path(s"$workDir/history")) ||
        fs.exists(new Path(s"$workDir/fold")),
      s"ScdMaintainer: $workDir holds a PRE-lake-homed layout " +
        "(history/v*/_folded.txt snapshots) — this release stores the " +
        "artifact as two LakeTables under closed/ and current/ with " +
        "fold/v*.txt pair markers; rebuild from the changelog with " +
        "build() at a fresh workDir (the old state is intact, not lost)")
    require(committedVersions(fs, workDir).nonEmpty,
      s"ScdMaintainer: no committed history under $workDir")
    new ScdMaintainer(spark, workDir, acquireEpoch(fs, workDir))
  }

  /** Poll this dimension's CHANGEFEED as an external subscriber — the
    * current-slice lake table's [[graft.sources.LakeTable.pollChanges]]
    * at this maintainer's layout and key column, so a real downstream
    * consumer (the reference's consumer role) gets the full
    * poll→process→commit-cursor protocol, retry window included, as one
    * library call instead of reimplementing it from SCALE.md prose. No
    * ownership is taken; any number of subscribers ride one maintainer,
    * each with its own `cursorDir`. Delivery is at-least-once — `process`
    * runs before the cursor commit and must be idempotent. The feed is
    * the CURRENT slice's net changes (the dimension's live rows); closed
    * validity intervals are append-only history, subscribed separately
    * via `pollChanges` on [[ScdMaintainer!.closedTablePath]] if needed.
    * Retention stays the subscriber's contract: the maintainer's
    * `vacuumHistory(keepVersions)` must cover the slowest cursor's lag
    * plus one retry window.
    */
  def pollChangefeed(
      spark: SparkSession, workDir: String, cursorDir: String,
      withPreimage: Boolean = false, initial: String = "latest",
      retryWindowMs: Long = 30000L, onRetry: () => Unit = () => ())(
      process: (DataFrame, Int) => Unit): Option[Int] =
    LakeTable.pollChanges(spark, currentPath(workDir), cursorDir,
      keyCol = "key", withPreimage = withPreimage, initial = initial,
      retryWindowMs = retryWindowMs, onRetry = onRetry)(process)

  private def closedPath(workDir: String): String = s"$workDir/closed/t"
  private def currentPath(workDir: String): String = s"$workDir/current/t"

  private def markerPath(workDir: String, v: Int): Path =
    new Path(f"$workDir%s/fold/v$v%06d.txt")

  private def committedVersions(
      fs: org.apache.hadoop.fs.FileSystem, workDir: String): Seq[Int] =
    CommitFile.list(fs, new Path(s"$workDir/fold"), "v", ".txt")

  private def acquireEpoch(
      fs: org.apache.hadoop.fs.FileSystem, workDir: String): Int =
    OwnerFence.acquire(fs, s"$workDir/owner")

  // ---- per-arm replay high-water marks --------------------------------
  // the prefix-scan / max / collapse logic is LakeTable's — ONE
  // implementation serves both the manifest A-lines and the pair markers

  /** The arm's recorded high-water batchId (None before its first
    * commit). Entries are `arm#<long>`; the max IS the high-water under
    * the monotone-batchId contract.
    */
  private def armHighWater(folded: Set[String], arm: String): Option[Long] =
    LakeTable.armMaxId(folded, arm)

  private def applied(folded: Set[String], arm: String, b: Long): Boolean =
    armHighWater(folded, arm).exists(_ >= b)

  /** Record `arm`'s batch `b`, keeping ONLY the per-arm max — one line
    * per arm in the marker file, forever, however many batches fold.
    */
  private def record(folded: Set[String], arm: String, b: Long): Set[String] =
    LakeTable.addMarker(folded, s"$arm#$b")

  private def markerOf(
      fs: org.apache.hadoop.fs.FileSystem, workDir: String, v: Int): Marker = {
    val file = markerPath(workDir, v)
    val in = fs.open(file)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toVector finally in.close()
    val folded = lines.drop(2).filter(_.nonEmpty).toSet
    // a bare id names no arm: dropping it would re-apply its batch
    folded.find(!_.contains('#')).foreach { b =>
      throw new IllegalStateException(
        s"ScdMaintainer: pair marker $file carries a bare replay id '$b' — " +
          "entries are arm#batchId; a bare id names no arm and is not read")
    }
    Marker(lines(0).toInt, lines(1).toInt, folded)
  }

  /** Atomic marker publication through [[CommitFile.publish]] — a crash
    * mid-write leaves tmp garbage, never a truncated marker at the
    * committed name (which would wedge every later read on a parse
    * error). A lost rename fails loud: the fence check right before it
    * leaves only a takeover racing the rename itself, and the new owner's
    * marker must win.
    */
  private def commitMarker(
      fs: org.apache.hadoop.fs.FileSystem, workDir: String, v: Int,
      m: Marker): Unit = {
    val dir = new Path(s"$workDir/fold")
    fs.mkdirs(dir)
    require(CommitFile.publish(fs, dir, markerPath(workDir, v).getName,
        (Seq(m.closedV.toString, m.currentV.toString) ++
          m.folded.toSeq.sorted).mkString("\n").getBytes("UTF-8")),
      s"ScdMaintainer: marker rename lost at $workDir fold v$v")
  }
}
