package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.Cdc
import graft.sources.LakeTable
import graft.streaming.ScdMaintainer

/** A local filesystem under the `faulty:` scheme that, while armed, fails
  * every directory or file creation inside a LakeTable commit's staging
  * directory — the first write of every commit.
  */
class FaultyStagingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.Path
  import org.apache.hadoop.fs.permission.FsPermission
  override def getUri: java.net.URI = java.net.URI.create("faulty:///")
  override def getScheme: String = "faulty"
  private def check(p: Path): Unit =
    if (FaultyStagingFileSystem.armed && p.toString.contains("/.stage-"))
      throw new java.io.IOException(s"injected staging failure at $p")
  override def mkdirs(p: Path): Boolean = { check(p); super.mkdirs(p) }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = { check(p); super.mkdirs(p, permission) }
  override def create(
      p: Path, overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    check(p)
    super.create(p, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FaultyStagingFileSystem {
  @volatile var armed = false
}

class ScdMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-scdm-$tag").toString

  // orders replayed as a full-image changelog (the q_scd2 fixture shape)
  private def log = Tables.orders(spark, sf)
    .filter(col("o_orderkey") % 3 =!= 0 && col("o_custkey") % 17 =!= 3)
    .select(
      col("o_custkey").as("key"), col("o_orderkey").as("seq"),
      when(col("o_orderstatus") === "F", lit("D")).otherwise(lit("U")).as("op"),
      col("o_orderpriority").as("name"), col("o_totalprice").as("val"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("key"), col("name"), col("val"), col("valid_from"),
      col("valid_to"), col("is_current"))
      .collect().map(_.toSeq).toSet

  test("chained stream folds equal the one-shot refit; current slice == latest-image MERGE") {
    val bounds = log.agg(
      org.apache.spark.sql.functions.min(col("seq")),
      org.apache.spark.sql.functions.max(col("seq"))).first()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val cut1 = lo + (hi - lo) / 3
    val cut2 = lo + 2 * (hi - lo) / 3
    val m = ScdMaintainer.build(log.filter(col("seq") <= cut1), tmp("chain"))
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String, String, Double)]
    val q = m.attach(input.toDF().toDF("key", "seq", "op", "name", "val"))
    val mid = log.filter(col("seq") > cut1 && col("seq") <= cut2)
      .as[(Long, Long, String, String, Double)].collect()
    val late = log.filter(col("seq") > cut2)
      .as[(Long, Long, String, String, Double)].collect()
    try {
      input.addData(mid.toSeq); q.processAllAvailable()
      input.addData(late.toSeq); q.processAllAvailable()
    } finally q.stop()
    assert(rows(m.history) == rows(Cdc.scdHistory(log)),
      "streamed folds must equal the one-shot refit")
    // serving the temporal join from the maintained artifact equals the
    // inline join over the refit history
    val facts = log.filter(col("seq") % 5 === 0)
      .select(col("key"), (col("seq") + 1L).as("t"), col("val").as("amount"))
    assert(m.serveJoin(facts).collect().map(_.toSeq).toSeq ==
      Cdc.scdJoin(facts, Cdc.scdHistory(log)).collect().map(_.toSeq).toSeq,
      "served temporal join must equal the inline twin")
    val current = m.current.select(col("key"), col("name"), col("val"))
      .orderBy(col("key")).collect().map(_.toSeq).toSeq
    val merged = Cdc.mergeChangelogFull(
        m.history.select(col("key"), col("name"), col("val")).limit(0), log)
      .drop("last_seq").orderBy(col("key")).collect().map(_.toSeq).toSeq
    assert(current == merged,
      "the current slice must equal the latest-image MERGE of the log")
  }

  test("kill/restart: recovered folds equal uninterrupted; redelivery no-ops; crashed fold heals on replay") {
    val dir = tmp("recover")
    val mid = log.agg((org.apache.spark.sql.functions.min(col("seq")) +
      org.apache.spark.sql.functions.max(col("seq"))) / 2).first().getDouble(0)
    val m1 = ScdMaintainer.build(log.filter(col("seq") <= mid), dir)
    val slice = log.filter(col("seq") > mid)
    assert(m1.fold(slice, Some(7L)))
    // crash: a new process reopens the landed state
    val m2 = ScdMaintainer.recover(spark, dir)
    assert(m2.foldedBatches == Set(7L))
    assert(!m2.fold(slice, Some(7L)), "redelivered batchId must not refold")
    assert(rows(m2.history) == rows(Cdc.scdHistory(log)),
      "recovered fold chain must equal the uninterrupted refit")
    // a fold that died AFTER its closed-table lake commit, BEFORE the
    // current merge and the pair marker: simulate by pre-applying exactly
    // the closed append the fold would make (same arm#batchId marker,
    // same deterministic derivation from the same pre-state) — replaying
    // the batch must converge, not double-close intervals
    val next = Seq((1L, 9_000_000_000L, "U", "late", 1.0),
      (1L, 9_000_000_001L, "U", "later", 2.0))
      .toDF("key", "seq", "op", "name", "val")
    val touched = next.select(col("key")).distinct()
    val curTouched = m2.current.join(touched, Seq("key"), "left_semi")
    val merged = Cdc.scdMerge(curTouched, next)
    LakeTable.append(
      merged.filter(!col("is_current"))
        .select(col("key"), col("name"), col("val"),
          col("valid_from"), col("valid_to")),
      m2.closedTablePath, Seq("key", "valid_from"),
      nFilesNew = 1, batchId = Some(9L), arm = "scd-closed")
    // (crash here — no current merge, no pair marker; the source replays)
    val m3 = ScdMaintainer.recover(spark, dir)
    assert(m3.foldedBatches == Set(7L), "the crashed fold must not be marked")
    assert(m3.fold(next, Some(9L)), "the replay must complete the fold")
    assert(rows(m3.history) ==
      rows(Cdc.scdMerge(Cdc.scdHistory(log), next)),
      "the healed fold must equal the uninterrupted one — no double-close")
    assert(!m3.fold(next, Some(9L)))
    // a crashed fold that is NEVER replayed (no batchId, no redelivery)
    // must be discarded ATOMICALLY by the next fold's heal-on-entry — its
    // half-applied closed append must not leak into a later pair marker
    // as closed intervals whose keys still sit open in the current table
    val lost = Seq((2L, 9_500_000_000L, "U", "ghost", 9.0))
      .toDF("key", "seq", "op", "name", "val")
    val touchedL = lost.select(col("key")).distinct()
    val mergedL = Cdc.scdMerge(
      m3.current.join(touchedL, Seq("key"), "left_semi"), lost)
    LakeTable.append(
      mergedL.filter(!col("is_current"))
        .select(col("key"), col("name"), col("val"),
          col("valid_from"), col("valid_to")),
      m3.closedTablePath, Seq("key", "valid_from"), nFilesNew = 1)
    // (crash — batch `lost` is gone forever; an unrelated fold follows)
    val after = Seq((3L, 9_600_000_000L, "U", "fresh", 1.0))
      .toDF("key", "seq", "op", "name", "val")
    assert(m3.fold(after, Some(10L)))
    assert(rows(m3.history) ==
      rows(Cdc.scdMerge(Cdc.scdHistory(log),
        next.unionByName(after))),
      "an unreplayed crashed batch must vanish atomically — no orphan " +
        "closed intervals, no overlap with still-open current rows")
  }

  test("a fold whose two commits both fail reports both, then replays cleanly") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.faulty.impl", classOf[FaultyStagingFileSystem].getName)
    val mid = log.agg((org.apache.spark.sql.functions.min(col("seq")) +
      org.apache.spark.sql.functions.max(col("seq"))) / 2).first().getDouble(0)
    val m = ScdMaintainer.build(log.filter(col("seq") <= mid), s"faulty://${tmp("bothfail")}")
    val slice = log.filter(col("seq") > mid)
    FaultyStagingFileSystem.armed = true
    val e = try intercept[Exception](m.fold(slice, Some(1L)))
      finally FaultyStagingFileSystem.armed = false
    def mentions(t: Throwable, table: String): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .exists(x => Option(x.getMessage).exists(_.contains(s"/$table/t/.stage-")))
    assert(mentions(e, "current"), "the current-slice commit's failure surfaces")
    assert(e.getSuppressed.exists(mentions(_, "closed")),
      "the closed append's failure is attached, not dropped")
    assert(m.foldedBatches.isEmpty)
    assert(m.fold(slice, Some(1L)))
    assert(rows(m.history) == rows(Cdc.scdHistory(log)))
  }

  test("empty start: a fresh dimension builds from an empty log and folds from nothing") {
    val dir = tmp("empty")
    val m = ScdMaintainer.build(log.limit(0), dir)
    assert(m.history.isEmpty && m.current.isEmpty)
    val firstRows = Seq((1L, 10L, "U", "a", 1.0), (1L, 20L, "U", "b", 2.0),
      (2L, 15L, "U", "c", 3.0), (2L, 25L, "D", null, 0.0))
    assert(m.fold(firstRows.toDF("key", "seq", "op", "name", "val"), Some(0L)))
    val h = m.history.orderBy(col("key"), col("valid_from")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getAs[java.lang.Long]("valid_to")).map(_.toLong),
        r.getBoolean(5))).toSeq
    assert(h == Seq(
      (1L, "a", Some(20L), false), (1L, "b", None, true),
      (2L, "c", Some(25L), false)), s"got $h")
  }

  test("in-loop compaction bounds the live file count across many folds; history stays exact") {
    val dir = tmp("compact")
    val m = ScdMaintainer.build(log.limit(0), dir)
    // eight folds, each appending a closed-interval sliver: without the
    // compaction trigger the closed table would hold one file per fold
    val batches = (0 until 8).map { i =>
      Seq((i % 3 + 1L, 100L * (i + 1), "U", s"v$i", i * 1.0),
          (10L + i, 100L * (i + 1) + 1L, "U", s"w$i", i * 2.0))
        .toDF("key", "seq", "op", "name", "val")
    }
    batches.zipWithIndex.foreach { case (b, i) =>
      assert(m.fold(b, Some(i.toLong), compactTargetBytes = Some(1L << 20)))
    }
    val closedFiles = LakeTable.latest(spark, m.closedTablePath).files.size
    val curFiles = LakeTable.latest(spark, m.currentTablePath).files.size
    assert(closedFiles <= 3 && curFiles <= 3,
      s"in-loop compaction must bound live files: closed=$closedFiles current=$curFiles")
    assert(rows(m.history) == rows(Cdc.scdHistory(batches.reduce(_ unionByName _))),
      "compaction must not change the served history")
  }

  test("forget erases a key's whole record atomically; out-of-band commits are rolled back by design") {
    val dir = tmp("forget")
    val m = ScdMaintainer.build(log, dir)
    val doomed = m.history.select(col("key")).distinct()
      .orderBy(col("key")).limit(2).as[Long].collect().toSeq
    assert(m.forget(doomed.toDF("key"), Some(0L)))
    assert(m.history.filter(col("key").isin(doomed: _*)).isEmpty,
      "no closed interval, no current row — the attestation contract")
    assert(!m.forget(doomed.toDF("key"), Some(0L)),
      "a redelivered forget batch must no-op")
    assert(m.forgottenBatches == Set(0L) && m.foldedBatches.isEmpty,
      "fold and forget ids live in separate arm namespaces")
    // a fold with the SAME batchId as the forget is a different arm's
    // batch and must still apply
    assert(m.fold(Seq((doomed.head, 9_000_000_000L, "U", "back", 1.0))
      .toDF("key", "seq", "op", "name", "val"), Some(0L)))
    assert(m.current.filter(col("key") === doomed.head).count() == 1)
    // OWNERSHIP: the exposed table paths are audit-only — an out-of-band
    // tombstone landed directly on the closed table is exactly a commit
    // the pair marker never pinned, and the next fold's heal discards it
    // (the documented contract; route deletes through forget())
    val target = m.history.filter(!col("is_current"))
      .select(col("key")).head().getLong(0)
    LakeTable.applyTombstones(spark, m.closedTablePath,
      Seq(target).toDF("key"), Seq("key", "valid_from"))
    assert(m.fold(Seq((999L, 9_100_000_000L, "U", "x", 1.0))
      .toDF("key", "seq", "op", "name", "val"), Some(1L)))
    assert(m.history.filter(col("key") === target && !col("is_current"))
      .count() > 0,
      "heal-on-entry must discard out-of-band commits — by contract")
  }

  test("scale shape: a fold appends closed intervals and rewrites ONLY touched current files — never history") {
    val dir = tmp("scale")
    val m = ScdMaintainer.build(log, dir) // a deep accumulated history
    val closedBefore = LakeTable.latest(spark, m.closedTablePath)
    val curBefore = LakeTable.latest(spark, m.currentTablePath)
    assert(curBefore.files.size >= 2, "fixture needs a multi-file current slice")
    // touch ONE existing key with an update (closes its interval, opens a new one)
    val k = m.current.select(col("key")).orderBy(col("key")).head().getLong(0)
    val batch = Seq((k, 9_000_000_000L, "U", "zz", 1.0))
      .toDF("key", "seq", "op", "name", "val")
    assert(m.fold(batch, Some(1L)))
    // the closed table is APPEND-ONLY: every pre-fold file carries by name
    val closedAfter = LakeTable.latest(spark, m.closedTablePath)
    assert(closedBefore.files.toSet.subsetOf(closedAfter.files.toSet),
      "a fold must never remove a committed closed-interval file — " +
        "the years-deep bulk is immutable")
    // the current table rewrote only the key's box-intersecting file(s)
    val curAfter = LakeTable.latest(spark, m.currentTablePath)
    val kept = curBefore.files.toSet.intersect(curAfter.files.toSet)
    assert(kept.nonEmpty && kept.size < curBefore.files.size,
      s"a one-key fold must rewrite a strict subset of current files: " +
        s"kept ${kept.size} of ${curBefore.files.size}")
    // and the result is still exactly the refit
    assert(rows(m.history) == rows(Cdc.scdMerge(Cdc.scdHistory(log), batch)),
      "the change-sized fold must equal the refit")
  }

  test("merge-on-read folds: fold==refit through a MoR chain, zero current files rewritten per fold") {
    val dir = tmp("mor")
    val bounds = log.agg(
      org.apache.spark.sql.functions.min(col("seq")),
      org.apache.spark.sql.functions.max(col("seq"))).first()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val cut1 = lo + (hi - lo) / 3
    val cut2 = lo + 2 * (hi - lo) / 3
    val m = ScdMaintainer.build(log.filter(col("seq") <= cut1), dir)
    // threshold 0: every fold whose touched current files exist routes
    // merge-on-read — one DV sidecar + fresh images, no rewrite
    val preFiles = LakeTable.latest(spark, m.currentTablePath).files.toSet
    assert(m.fold(log.filter(col("seq") > cut1 && col("seq") <= cut2),
      Some(0L), morThresholdBytes = Some(0L)))
    val mid = LakeTable.latest(spark, m.currentTablePath)
    assert(preFiles.subsetOf(mid.files.toSet),
      "a MoR fold must not rewrite or drop any pre-fold current file")
    assert(mid.deletes.nonEmpty,
      "the touched keys' old rows ride a deletion-vector sidecar")
    assert(m.fold(log.filter(col("seq") > cut2),
      Some(1L), morThresholdBytes = Some(0L)))
    assert(rows(m.history) == rows(Cdc.scdHistory(log)),
      "chained MoR folds must equal the one-shot refit")
    assert(!m.fold(log.filter(col("seq") > cut2),
      Some(1L), morThresholdBytes = Some(0L)),
      "a redelivered batchId must no-op in MoR mode too")
    // a huge threshold routes the same fold merge-on-WRITE — the modes
    // are interchangeable per fold and the artifact stays exact
    val extra = Seq((1L, 9_000_000_000L, "U", "late", 1.0))
      .toDF("key", "seq", "op", "name", "val")
    assert(m.fold(extra, Some(2L), morThresholdBytes = Some(Long.MaxValue)))
    assert(rows(m.history) ==
      rows(Cdc.scdMerge(Cdc.scdHistory(log), extra)),
      "MoW after MoR must fold the accumulated vectors' semantics in")
    // the in-loop materialize trigger: a MoR fold with the fraction set
    // folds accumulated vectors back into data files before the marker
    val extra2 = Seq((3L, 9_100_000_000L, "U", "later", 2.0))
      .toDF("key", "seq", "op", "name", "val")
    assert(m.fold(extra2, Some(3L), morThresholdBytes = Some(0L),
      materializeAtShadowedFraction = Some(0.0)))
    assert(LakeTable.latest(spark, m.currentTablePath).deletes.isEmpty,
      "the materialize trigger must clear every attachment in-loop")
    assert(rows(m.history) ==
      rows(Cdc.scdMerge(Cdc.scdHistory(log),
        extra.unionByName(extra2))),
      "materialization is content-preserving — history still == refit")
  }

  test("pair markers stay O(arms) and vacuumHistory bounds marker, epoch and lake metadata") {
    val dir = tmp("meta")
    val m = ScdMaintainer.build(log.limit(0), dir)
    (0 until 12).foreach { i =>
      assert(m.fold(Seq((i % 5 + 1L, 100L * (i + 1), "U", s"v$i", i * 1.0))
        .toDF("key", "seq", "op", "name", "val"), Some(i.toLong)))
    }
    assert(m.forget(Seq(2L).toDF("key"), Some(0L)))
    // the CURRENT pair marker holds exactly one high-water line per arm
    // — twelve folds and a forget never grow it past (2 pins + 2 arms)
    val markerFiles = new java.io.File(s"$dir/fold").listFiles()
      .filter(_.getName.endsWith(".txt")).sortBy(_.getName)
    val lastMarker = new String(java.nio.file.Files.readAllBytes(
      markerFiles.last.toPath), "UTF-8").linesIterator.toSeq
    assert(lastMarker.size == 4 &&
      lastMarker.contains("fold#11") && lastMarker.contains("forget#0"),
      s"marker must hold per-arm high-waters only, got $lastMarker")
    assert(m.foldedBatches == Set(11L) && m.forgottenBatches == Set(0L))
    // redelivery of any superseded fold id no-ops against the high-water
    assert(!m.fold(Seq((1L, 100L, "U", "old", 0.0))
      .toDF("key", "seq", "op", "name", "val"), Some(3L)))
    // retention: markers beyond the window drop, the newest pair stays,
    // superseded owner epochs GC — the listings behind every fold stop
    // growing one file per micro-batch forever
    assert(markerFiles.length == 14, "fixture: one marker per commit so far")
    m.vacuumHistory(keepVersions = 2)
    val afterGc = new java.io.File(s"$dir/fold").listFiles()
      .filter(_.getName.endsWith(".txt"))
    assert(afterGc.length == 2,
      s"marker GC must keep the retention window only, got ${afterGc.length}")
    assert(new java.io.File(s"$dir/owner").listFiles()
      .count(_.getName.endsWith(".txt")) == 1,
      "only the max owner epoch carries fencing authority")
    // an always-on loop bounds itself: keepMarkers prunes IN-LOOP, so
    // the marker directory never needs an external vacuum pass
    val post = Seq(
      (9L, 5000L, "U", "post-gc", 1.0),
      (8L, 5001L, "U", "post-gc2", 2.0),
      (7L, 5002L, "U", "post-gc3", 3.0))
    post.zipWithIndex.foreach { case (r, i) =>
      assert(m.fold(Seq(r).toDF("key", "seq", "op", "name", "val"),
        Some(12L + i), keepMarkers = Some(2)))
      val n = new java.io.File(s"$dir/fold").listFiles()
        .count(_.getName.endsWith(".txt"))
      assert(n <= 2, s"in-loop marker retention must hold the dir at " +
        s"O(keep) files during the loop, got $n")
    }
    val allChanges = (0 until 12)
      .map(i => (i % 5 + 1L, 100L * (i + 1), "U", s"v$i", i * 1.0))
      .toDF("key", "seq", "op", "name", "val")
      .unionByName(post.toDF("key", "seq", "op", "name", "val"))
    val want = Cdc.scdHistory(allChanges)
    // minus the forgotten key's whole record (closed AND current)
    assert(rows(m.history) ==
      rows(want.filter(col("key") =!= 2L)),
      "post-GC folds must still equal the refit (with key 2 forgotten)")
  }

  test("two maintainers on one workDir: the newer epoch fences the older, whose debris heals cleanly") {
    val dir = tmp("fence")
    val mid = log.agg((org.apache.spark.sql.functions.min(col("seq")) +
      org.apache.spark.sql.functions.max(col("seq"))) / 2).first().getDouble(0)
    val m1 = ScdMaintainer.build(log.filter(col("seq") <= mid), dir)
    assert(m1.fold(log.filter(col("seq") > mid), Some(0L)))
    // a second maintainer process recovers the same workDir: TAKEOVER
    val m2 = ScdMaintainer.recover(spark, dir)
    val batch = Seq((1L, 9_000_000_000L, "U", "late", 1.0))
      .toDF("key", "seq", "op", "name", "val")
    // the fenced loser fails LOUD at entry — it can no longer commit
    val e = intercept[IllegalArgumentException](m1.fold(batch, Some(1L)))
    assert(e.getMessage.contains("FENCED"), s"got: ${e.getMessage}")
    intercept[IllegalArgumentException](
      m1.forget(Seq(1L).toDF("key"), Some(0L)))
    // simulate the loser's mid-flight debris: a lake commit it landed
    // JUST before being fenced (beyond the pair marker's pin, unmarked)
    val touched = batch.select(col("key")).distinct()
    val mergedL = Cdc.scdMerge(
      m2.current.join(touched, Seq("key"), "left_semi"), batch)
    LakeTable.append(
      mergedL.filter(!col("is_current"))
        .select(col("key"), col("name"), col("val"),
          col("valid_from"), col("valid_to")),
      m2.closedTablePath, Seq("key", "valid_from"), nFilesNew = 1)
    // the new owner's next fold heals the orphan away and applies its own
    assert(m2.fold(batch, Some(1L)))
    assert(rows(m2.history) ==
      rows(Cdc.scdMerge(Cdc.scdHistory(log), batch)),
      "the loser's debris must vanish; the winner's fold chain == refit")
    // the winner keeps working; the loser stays fenced forever
    assert(!m2.fold(batch, Some(1L)), "redelivery still no-ops for the owner")
    intercept[IllegalArgumentException](m1.fold(batch, Some(2L)))
  }

  test("an out-of-band-deleted owner directory fences, never un-fences") {
    val dir = tmp("noowner")
    val m = ScdMaintainer.build(log, dir)
    // someone rm -rf's the owner dir (or an eventually-consistent store
    // returns an empty listing): asserting ownership against NO evidence
    // must fail loud — the vacuous pass would silently un-fence every
    // zombie at once
    def rmAll(p: java.io.File): Unit = {
      Option(p.listFiles()).foreach(_.foreach(rmAll)); p.delete(); ()
    }
    rmAll(new java.io.File(s"$dir/owner"))
    val batch = Seq((1L, 9_000_000_000L, "U", "late", 1.0))
      .toDF("key", "seq", "op", "name", "val")
    val e = intercept[IllegalArgumentException](m.fold(batch, Some(1L)))
    assert(e.getMessage.contains("FENCED") &&
      e.getMessage.contains("no epoch files"), s"got: ${e.getMessage}")
  }

  test("in-loop marker retention clamps to current+previous, shielding in-flight readers") {
    val dir = tmp("clamp")
    val m = ScdMaintainer.build(log, dir)
    // keepMarkers = 1 would leave ONLY the just-committed marker — a
    // reader that listed versions a moment earlier would open a deleted
    // file; the clamp keeps current + previous like the Bm25/refreshView GCs
    (0 until 4).foreach { i =>
      assert(m.fold(
        Seq((1L + i, 8_000_000_000L + i, "U", s"c$i", i * 1.0))
          .toDF("key", "seq", "op", "name", "val"),
        Some(10L + i), keepMarkers = Some(1)))
      val n = new java.io.File(s"$dir/fold").listFiles()
        .count(_.getName.endsWith(".txt"))
      assert(n >= 2 || i == 0,
        s"clamped retention must keep current+previous, got $n markers")
      assert(n <= 2, s"retention window must still bound the dir, got $n")
    }
  }
}
