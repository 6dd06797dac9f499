package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Cdc
import graft.sources.LakeTable

/** A local filesystem under the `faultymor:` scheme that, while armed,
  * fails every directory or file creation inside either merge-on-read
  * land: the fresh-file stage (`.stage-`) and the sidecar's tmp dir
  * (`_deletes/.tmp-`) — the `faulty:` pattern of ScdMaintenanceSpec.
  */
class FaultyMorLandFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.Path
  import org.apache.hadoop.fs.permission.FsPermission
  override def getUri: java.net.URI = java.net.URI.create("faultymor:///")
  override def getScheme: String = "faultymor"
  private def check(p: Path): Unit =
    if (FaultyMorLandFileSystem.armed &&
        (p.toString.contains("/.stage-") || p.toString.contains("/_deletes/.tmp-")))
      throw new java.io.IOException(s"injected land failure at $p")
  override def mkdirs(p: Path): Boolean = { check(p); super.mkdirs(p) }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = { check(p); super.mkdirs(p, permission) }
  override def create(
      p: Path, overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    check(p)
    super.create(p, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FaultyMorLandFileSystem {
  @volatile var armed = false
}

class LakeTableSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(prefix: String): (String, org.apache.spark.sql.DataFrame) = {
    val dir = Files.createTempDirectory(prefix).toString + "/t"
    // 800 keys, clustered on key into 8 files -> each file owns ~100-key span
    val base = (0L until 800L).map(k => (k, s"name_$k", k * 1.5))
      .toDF("key", "name", "val")
    LakeTable.init(base, dir, Seq("key"), nFiles = 8)
    (dir, base)
  }

  test("applyChangelog: lake MERGE == frame MERGE, byte-for-byte") {
    val (dir, base) = mkTable("graft-laketab")
    val changelog = Seq(
      (5L, 1L, "U", 100.0),   // update
      (5L, 2L, "D", 0.0),     // ... then delete (latest wins)
      (7L, 3L, "U", 7.7),     // update
      (900L, 4L, "U", 9.9),   // insert beyond every box
      (901L, 5L, "D", 0.0),   // delete of a never-present key: noop
      (10L, 6L, "D", 0.0), (10L, 7L, "U", 1.0) // delete then resurrect
    ).toDF("key", "seq", "op", "val")
    LakeTable.applyChangelog(spark, dir, changelog, Seq("key"))
    val got = LakeTable.readLive(spark, dir)
      .select(col("key"), col("name"), col("val"))
      .orderBy(col("key")).collect().map(_.toSeq).toSeq
    val want = Cdc.mergeChangelog(base, changelog).drop("last_seq")
      .orderBy(col("key")).collect().map(_.toSeq).toSeq
    assert(got == want, "post-apply snapshot must equal the frame MERGE")
    assert(!got.exists(_.head == 5L), "deleted key must be gone")
    assert(got.exists(r => r.head == 900L && r(1) == null),
      "inserted key carries NULL for base-only columns")
  }

  test("only files whose key box intersects a touched key are rewritten") {
    val (dir, _) = mkTable("graft-laketouch")
    val before = LakeTable.latest(spark, dir)
    // all changes inside one narrow key band
    val changelog = Seq((20L, 1L, "U", 1.0), (30L, 2L, "D", 0.0))
      .toDF("key", "seq", "op", "val")
    val stats = LakeTable.applyChangelog(spark, dir, changelog, Seq("key"))
    val after = LakeTable.latest(spark, dir)
    assert(stats.filesRewritten < before.files.size,
      s"narrow change must not rewrite the table: $stats")
    // untouched files carry over by NAME (bytes never read or rewritten)
    val kept = before.files.toSet.intersect(after.files.toSet)
    assert(kept.size == stats.filesKept && kept.nonEmpty)
    // and their box rows carried over verbatim
    val beforeBoxes = before.boxes.filter(b => kept(b._1)).toSet
    val afterBoxes = after.boxes.filter(b => kept(b._1)).toSet
    assert(beforeBoxes == afterBoxes)
    assert(after.version == before.version + 1)
  }

  test("applyTombstones: forget attestation — zero tombstoned rows readable") {
    val (dir, base) = mkTable("graft-lakeforget")
    val doomed = Seq(3L, 250L, 251L, 799L).toDF("key")
    val stats = LakeTable.applyTombstones(spark, dir, doomed, Seq("key"))
    val live = LakeTable.readLive(spark, dir)
    assert(live.join(broadcast(doomed), Seq("key"), "left_semi").isEmpty,
      "tombstoned keys must be unreadable after the commit")
    assert(live.count() == base.count() - 4)
    // the pruned read path can't resurrect them either
    val viaPrune = LakeTable.readPrunedLive(spark, dir,
      Seq(("key", 0.0, 1000.0)))
    assert(viaPrune.join(broadcast(doomed), Seq("key"), "left_semi").isEmpty)
    assert(stats.filesRewritten < 8, s"tombstones span 3 files at most: $stats")
  }

  test("changefeed: file-pruned diff, invisible optimize, net span, round-trip, kept files unopened") {
    val (dir, _) = mkTable("graft-lakecdf")
    val changelog = Seq(
      (5L, 1L, "U", 100.0),     // update
      (7L, 2L, "D", 0.0),       // delete
      (900L, 3L, "U", 9.9),     // insert beyond every box
      (20L, 4L, "U", 20 * 1.5)  // upsert to the SAME value: not a change
    ).toDF("key", "seq", "op", "val")
    LakeTable.applyChangelog(spark, dir, changelog, Seq("key"))
    def feedRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("key")).collect().map(r => (r.getLong(0), r.getString(1),
        r.getAs[String]("name"), r.getDouble(3))).toSeq
    val feed = feedRows(LakeTable.readChanges(spark, dir, 1, 2))
    // I/U carry the new image, D the old; the same-value upsert of key 20
    // and every carried row of the rewritten file are absent
    assert(feed == Seq(
      (5L, "U", "name_5", 100.0),
      (7L, "D", "name_7", 7 * 1.5),
      (900L, "I", null, 9.9)), s"got $feed")
    // round-trip: folding the feed (as a full-image changelog) onto the
    // old snapshot reproduces the new one exactly
    val asLog = LakeTable.readChanges(spark, dir, 1, 2).select(
      col("key"), lit(1L).as("seq"),
      when(col("op") === "I", "U").otherwise(col("op")).as("op"),
      col("name"), col("val"))
    def snap(v: Int) = LakeTable.readAt(spark, dir, v)
      .orderBy(col("key")).collect().map(_.toSeq).toSeq
    assert(Cdc.mergeChangelogFull(LakeTable.readAt(spark, dir, 1), asLog)
      .drop("last_seq")
      .orderBy(col("key")).collect().map(_.toSeq).toSeq == snap(2))
    // an OPTIMIZE replaces every file yet changes no row: empty feed
    LakeTable.optimize(spark, dir, Seq("key"), nFiles = 4)
    assert(LakeTable.readChanges(spark, dir, 2, 3).isEmpty,
      "a re-cluster must be invisible to changefeed consumers")
    // a multi-commit span returns the NET change
    assert(feedRows(LakeTable.readChanges(spark, dir, 1, 3)) == feed)
    // kept files are provably never opened: delete one from disk — the
    // snapshot read breaks, the feed does not
    val kept = LakeTable.commitAt(spark, dir, 1).files.toSet
      .intersect(LakeTable.commitAt(spark, dir, 2).files.toSet)
    assert(kept.nonEmpty)
    assert(new java.io.File(s"$dir/${kept.head}").delete())
    assert(feedRows(LakeTable.readChanges(spark, dir, 1, 2)) == feed)
    intercept[IllegalArgumentException](LakeTable.readAt(spark, dir, 1))
  }

  test("streaming tombstones: a forget stream erases keys per batch; replays burn nothing") {
    val (dir, base) = mkTable("graft-laketombs")
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    val q = graft.streaming.LakeMaintenance.attachTombstones(
      input.toDF().toDF("key"), dir, Seq("key"))
    try {
      input.addData(Seq(3L, 250L))
      q.processAllAvailable()
      input.addData(Seq(799L))
      q.processAllAvailable()
    } finally q.stop()
    val live = LakeTable.readLive(spark, dir)
    assert(live.join(Seq(3L, 250L, 799L).toDF("key"), Seq("key"), "left_semi")
      .isEmpty, "streamed tombstones must be unreadable")
    assert(live.count() == base.count() - 3)
    // a redelivered tombstone batch is a manifest-level no-op
    val v = LakeTable.latest(spark, dir).version
    LakeTable.applyTombstones(spark, dir, Seq(3L, 250L).toDF("key"),
      Seq("key"), batchId = Some(0L))
    assert(LakeTable.latest(spark, dir).version == v,
      "an applied batchId must not burn a version")
  }

  test("uncommitted directory garbage is invisible; vacuum sweeps it") {
    val (dir, base) = mkTable("graft-lakevac")
    val liveBefore = LakeTable.readLive(spark, dir).count()
    // a writer crashed after landing data but before its commit: the
    // stray file must not change any read
    Seq((9999L, "ghost", 0.0)).toDF("key", "name", "val")
      .coalesce(1).write.mode("append").parquet(dir)
    assert(LakeTable.readLive(spark, dir).count() == liveBefore,
      "uncommitted files must be invisible to manifest readers")
    val removed = LakeTable.vacuum(spark, dir)
    assert(removed >= 1, "vacuum must sweep the uncommitted file")
    // committed files all survive vacuum and still serve the snapshot
    assert(LakeTable.readLive(spark, dir).count() == base.count())
    // under concurrent writers, the grace window protects a JUST-landed
    // file (an in-flight mutation's step 1 looks exactly like garbage)
    Seq((9998L, "ghost2", 0.0)).toDF("key", "name", "val")
      .coalesce(1).write.mode("append").parquet(dir)
    assert(LakeTable.vacuum(spark, dir, graceMs = 3600000L) == 0,
      "fresh unreferenced files must survive the grace window")
    assert(LakeTable.vacuum(spark, dir) >= 1,
      "without a grace they are garbage as before")
  }

  test("insert beyond every box rewrites nothing and lands a fresh file") {
    val (dir, _) = mkTable("graft-lakeins")
    val changelog = Seq((5000L, 1L, "U", 5.0)).toDF("key", "seq", "op", "val")
    val stats = LakeTable.applyChangelog(spark, dir, changelog, Seq("key"))
    assert(stats.filesRewritten == 0, s"no box covers key 5000: $stats")
    assert(stats.filesNew >= 1)
    assert(LakeTable.readLive(spark, dir).filter(col("key") === 5000L).count() == 1)
  }

  test("time travel: readAt serves each version byte-identical until vacuum retires it") {
    val (dir, base) = mkTable("graft-laketime")
    val v1Rows = base.orderBy(col("key")).collect().map(_.toSeq).toSeq
    val changelog = Seq((5L, 1L, "D", 0.0), (900L, 2L, "U", 9.9))
      .toDF("key", "seq", "op", "val")
    LakeTable.applyChangelog(spark, dir, changelog, Seq("key"))
    // v1 still reads back exactly (replaced files retained on disk)
    assert(LakeTable.readAt(spark, dir, 1)
      .select(col("key"), col("name"), col("val"))
      .orderBy(col("key")).collect().map(_.toSeq).toSeq == v1Rows)
    // v2 == live
    assert(LakeTable.readAt(spark, dir, 2).count() ==
      LakeTable.readLive(spark, dir).count())
    assert(LakeTable.history(spark, dir).map(_.version) == Seq(1, 2))
    // retention window of 1 drops v1's replaced files: time travel to v1
    // now fails LOUD, the live snapshot is untouched
    LakeTable.vacuum(spark, dir, keepVersions = 1)
    intercept[IllegalArgumentException](LakeTable.readAt(spark, dir, 1))
    assert(LakeTable.readLive(spark, dir).count() == base.count() - 1 + 1)
  }

  test("streaming maintenance: redelivered batchIds are no-ops, folds equal one batch MERGE") {
    val (dir, base) = mkTable("graft-lakestream")
    val ch1 = Seq((10L, 1L, "U", 1.0), (11L, 2L, "D", 0.0)).toDF("key", "seq", "op", "val")
    val ch2 = Seq((12L, 3L, "U", 2.0), (950L, 4L, "U", 4.0)).toDF("key", "seq", "op", "val")
    val s1 = graft.streaming.LakeMaintenance.foldOnce(
      spark, dir, ch1, Seq("key"), batchId = Some(0L))
    assert(s1.version == 2)
    // at-least-once redelivery of batch 0: no new version, no rewrite
    val replay = graft.streaming.LakeMaintenance.foldOnce(
      spark, dir, ch1, Seq("key"), batchId = Some(0L))
    assert(replay.version == 2 && replay.filesRewritten == 0 && replay.filesNew == 0)
    val s2 = graft.streaming.LakeMaintenance.foldOnce(
      spark, dir, ch2, Seq("key"), batchId = Some(1L))
    assert(s2.version == 3)
    // O(arms) replay state: only the arm's high-water batchId is kept
    assert(LakeTable.latest(spark, dir).appliedBatches == Set("cdc#1"))
    // the folded table equals one MERGE of the concatenated changelog
    val got = LakeTable.readLive(spark, dir)
      .select(col("key"), col("name"), col("val"))
      .orderBy(col("key")).collect().map(_.toSeq).toSeq
    val want = Cdc.mergeChangelog(base, ch1.unionAll(ch2)).drop("last_seq")
      .orderBy(col("key")).collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("streaming maintenance: a MemoryStream changelog folds through foreachBatch") {
    val (dir, base) = mkTable("graft-lakemem")
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, Double)]
    val q = graft.streaming.LakeMaintenance.attach(
      input.toDF().toDF("key", "seq", "op", "val"), dir, Seq("key"))
    try {
      input.addData(Seq((20L, 1L, "U", 5.0), (21L, 2L, "D", 0.0)))
      q.processAllAvailable()
      input.addData(Seq((960L, 3L, "U", 6.0)))
      q.processAllAvailable()
    } finally q.stop()
    val live = LakeTable.readLive(spark, dir)
    assert(live.filter(col("key") === 20L).select(col("val"))
      .collect().head.getDouble(0) == 5.0)
    assert(live.filter(col("key") === 21L).isEmpty)
    assert(live.filter(col("key") === 960L).count() == 1)
    assert(live.count() == base.count() - 1 + 1)
  }

  test("optimistic concurrency: a losing commit retries on the winner's state, both writers land") {
    val (dir, _) = mkTable("graft-lakeocc")
    // writer A's rewrite closure fires writer B's append mid-cycle (plan
    // construction happens between A's manifest read and A's commit), so
    // A deterministically loses the v2 rename race and must retry
    var fired = false
    val stats = LakeTable.mutate(spark, dir, Seq("key"), "key",
      nFilesNew = 2, bits = 16,
      touchKeys = Seq(5L).toDF("key"),
      rewrite = b => {
        if (!fired) {
          fired = true
          LakeTable.append(
            Seq((950L, "interloper", 1.0)).toDF("key", "name", "val"),
            dir, Seq("key"))
        }
        b.withColumn("val",
          when(col("key") === 5L, lit(999.0)).otherwise(col("val")))
      })
    // v1 init, v2 interloper append, v3 the retried mutation
    assert(stats.version == 3, s"the losing writer must commit AFTER the winner: $stats")
    val live = LakeTable.readLive(spark, dir)
    assert(live.filter(col("key") === 950L).count() == 1,
      "the winner's append must survive the retried mutation")
    assert(live.filter(col("key") === 5L)
      .select(col("val")).head.getDouble(0) == 999.0,
      "the loser's mutation must land on retry")
    assert(live.count() == 801)
    // the failed attempt's landed files are uncommitted garbage: vacuum
    // sweeps them and every committed row survives
    LakeTable.vacuum(spark, dir, keepVersions = 3)
    assert(LakeTable.readLive(spark, dir).count() == 801)
  }

  test("schema evolution: an append epoch adds a column, old rows serve NULL, each version keeps its schema") {
    val (dir, _) = mkTable("graft-lakeevo")
    val batch = Seq((900L, "n900", 1.0, "web"), (901L, "n901", 2.0, "pdf"))
      .toDF("key", "name", "val", "source")
    LakeTable.append(batch, dir, Seq("key"))
    val live = LakeTable.readLive(spark, dir)
    assert(live.columns.toSeq == Seq("key", "name", "val", "source"))
    assert(live.count() == 802)
    assert(live.filter(col("key") === 900L)
      .select(col("source")).head.getString(0) == "web")
    assert(live.filter(col("key") === 3L).select(col("source")).head.isNullAt(0),
      "pre-evolution rows must serve NULL for the added column")
    // time travel: v1 still has its own (pre-evolution) schema
    assert(!LakeTable.readAt(spark, dir, 1).columns.contains("source"))
    // generic maintenance composes with the evolved schema: tombstoning a
    // pre-evolution key rewrites its file WITH the source column kept
    LakeTable.applyTombstones(spark, dir, Seq(3L).toDF("key"), Seq("key"))
    val after = LakeTable.readLive(spark, dir)
    assert(after.columns.toSeq == Seq("key", "name", "val", "source"))
    assert(after.count() == 801)
    assert(after.filter(col("key") === 900L)
      .select(col("source")).head.getString(0) == "web")
    // a same-name type change is NOT an append-safe evolution
    intercept[IllegalArgumentException](LakeTable.append(
      Seq((902L, 5, 3.0)).toDF("key", "name", "val"), dir, Seq("key")))
    // an epoch omitting an old column serves NULL for ITS rows instead
    LakeTable.append(Seq((903L, 4.0, "api")).toDF("key", "val", "source"),
      dir, Seq("key"))
    val v = LakeTable.readLive(spark, dir)
    assert(v.columns.toSeq == Seq("key", "name", "val", "source"))
    assert(v.filter(col("key") === 903L).select(col("name")).head.isNullAt(0))
    // the fixed-shape changelog MERGE cannot preserve the evolved column
    // in carried rows of rewritten files — it fails LOUD instead of
    // silently NULLing them (and the failed attempt's files stay
    // uncommitted garbage)
    val before = LakeTable.latest(spark, dir).version
    intercept[IllegalArgumentException](LakeTable.applyChangelog(
      spark, dir, Seq((5L, 10L, "U", 1.0)).toDF("key", "seq", "op", "val"),
      Seq("key")))
    assert(LakeTable.latest(spark, dir).version == before,
      "a rejected rewrite must not publish a version")
  }

  test("lockstep view: refreshView catches up across folds, crash dirs invisible, stream keeps both in step") {
    import graft.streaming.LakeMaintenance
    import graft.operators.Mv
    val dir = Files.createTempDirectory("graft-lakeview").toString + "/t"
    val viewDir = Files.createTempDirectory("graft-lakeviewv").toString + "/view"
    val base = (0L until 100L).map(k => (k, s"g${k % 7}", k * 1.0))
      .toDF("key", "name", "val")
    LakeTable.init(base, dir, Seq("key"), nFiles = 4)
    val groupCols = Seq("name")
    // full retracting contract: count(*) + a count(val) companion, so the
    // stream path exercises applyChanges (not the repair fallback)
    val measures = Map(("sum", "val") -> "sum_val", ("count", "*") -> "cnt",
      ("count", "val") -> "cnt_val")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("name")).collect().map(_.toSeq).toSeq
    def expect = sorted(Mv.summarize(
      LakeTable.readLive(spark, dir), groupCols, measures))
    // first refresh materializes the init summary as view v1
    assert(LakeMaintenance.refreshView(spark, dir, viewDir, groupCols, measures) == 1)
    assert(sorted(LakeMaintenance.readView(spark, viewDir)) == expect)
    // two folds land WITHOUT refreshes in between — one catch-up call
    // must cross the multi-version gap in a single feed
    LakeMaintenance.foldOnce(spark, dir,
      Seq((5L, 1L, "U", 100.0), (6L, 2L, "D", 0.0)).toDF("key", "seq", "op", "val"),
      Seq("key"))
    LakeMaintenance.foldOnce(spark, dir,
      Seq((200L, 3L, "U", 9.0)).toDF("key", "seq", "op", "val"), Seq("key"))
    assert(LakeMaintenance.refreshView(spark, dir, viewDir, groupCols, measures) == 3)
    assert(sorted(LakeMaintenance.readView(spark, viewDir)) == expect)
    // replay no-op: the view gains no version
    val nDirs = new java.io.File(viewDir).list().length
    assert(LakeMaintenance.refreshView(spark, dir, viewDir, groupCols, measures) == 3)
    assert(new java.io.File(viewDir).list().length == nDirs)
    // a crash-landed dir without its marker is invisible to readers
    assert(new java.io.File(s"$viewDir/v000000099").mkdir())
    assert(sorted(LakeMaintenance.readView(spark, viewDir)) == expect)
    // streaming lockstep: each micro-batch folds the table AND the view
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, Double)]
    val q = LakeMaintenance.attachWithView(
      input.toDF().toDF("key", "seq", "op", "val"), dir, Seq("key"),
      viewDir, groupCols, measures)
    try {
      input.addData(Seq((7L, 4L, "U", 50.0), (8L, 5L, "D", 0.0)))
      q.processAllAvailable()
      input.addData(Seq((300L, 6L, "U", 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    assert(sorted(LakeMaintenance.readView(spark, viewDir)) == expect,
      "after the stream, the view must equal re-summarizing the live table")
    // min/max measures route through touched-group repair: same contract
    val viewDir2 = Files.createTempDirectory("graft-lakeviewm").toString + "/view"
    val mm = Map(("min", "val") -> "min_val", ("max", "val") -> "max_val",
      ("count", "*") -> "cnt")
    LakeMaintenance.refreshView(spark, dir, viewDir2, groupCols, mm)
    LakeMaintenance.foldOnce(spark, dir,
      Seq((10L, 7L, "D", 0.0)).toDF("key", "seq", "op", "val"), Seq("key"))
    LakeMaintenance.refreshView(spark, dir, viewDir2, groupCols, mm)
    assert(sorted(LakeMaintenance.readView(spark, viewDir2)) ==
      sorted(Mv.summarize(LakeTable.readLive(spark, dir), groupCols, mm)))
  }

  test("property: seeded random fold chains equal one concatenated MERGE") {
    // LSN-ordered random changelogs (inserts beyond the boxes, deletes of
    // absent keys, delete-then-resurrect, repeated touches of one key):
    // folding them one by one through the storage layer must equal both
    // the sequential frame folds AND one MERGE of the concatenation.
    val rnd = new scala.util.Random(42)
    var seq = 0L
    def randomChangelog(n: Int) = {
      val rows = (1 to n).map { _ =>
        seq += 1
        val key = rnd.nextInt(260).toLong // keys 200..259 start absent
        val op = if (rnd.nextInt(3) == 0) "D" else "U"
        (key, seq, op, rnd.nextInt(1000) / 10.0)
      }
      rows.toDF("key", "seq", "op", "val")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-lakeprop").toString + "/t"
    val base = (0L until 200L).map(k => (k, s"n$k", k * 2.0)).toDF("key", "name", "val")
    LakeTable.init(base, dir, Seq("key"), nFiles = 4)
    val batches = Seq(randomChangelog(30), randomChangelog(30), randomChangelog(30))
    var frame = base
    batches.zipWithIndex.foreach { case (ch, i) =>
      LakeTable.applyChangelog(spark, dir, ch, Seq("key"), batchId = Some(i.toLong))
      frame = Cdc.mergeChangelog(frame, ch).drop("last_seq").localCheckpoint()
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("key"), col("name"), col("val"))
      .orderBy(col("key")).collect().map(_.toSeq).toSeq
    val lake = rows(LakeTable.readLive(spark, dir))
    assert(lake == rows(frame), "lake chain != sequential frame folds")
    // vs ONE concatenated MERGE the chain may differ — in exactly one
    // documented way: a delete-then-resurrect pair STRADDLING a fold
    // boundary really destroys the row, so base-only columns (name) come
    // back NULL, while the one-shot reduction collapses D..U to U and
    // keeps the stale base name. Keys and vals must still agree
    // everywhere, and every name divergence must be such a straddle.
    val oneShot = rows(Cdc.mergeChangelog(
      base, batches.reduce(_ unionAll _)).drop("last_seq"))
    assert(lake.map(r => (r(0), r(2))) == oneShot.map(r => (r(0), r(2))),
      "fold chain != concatenated MERGE on (key, val)")
    val lastOps = batches.map(_.collect()
      .groupBy(_.getLong(0))
      .map { case (k, ops) => k -> ops.maxBy(_.getLong(1)).getString(2) })
    def straddleResurrected(key: Long): Boolean = {
      val perBatch = lastOps.flatMap(_.get(key))
      val lastD = perBatch.lastIndexOf("D")
      lastD >= 0 && perBatch.drop(lastD + 1).contains("U")
    }
    val diverged = lake.zip(oneShot).collect {
      case (l, o) if l(1) != o(1) => l(0).asInstanceOf[Long]
    }
    assert(diverged.nonEmpty, // seed 42 plants several straddles
      "fixture should exercise the cross-fold delete-resurrect case")
    diverged.foreach { k =>
      assert(straddleResurrected(k),
        s"key $k lost its name without a cross-fold delete-resurrect")
    }

    // the remedy, proven on the SAME chains: with FULL-ROW IMAGES
    // (each 'U' carries its replacement name), fold batching is
    // invisible — the chained table equals the one-shot MERGE exactly,
    // straddles included
    val fullBatches = batches.map(_.withColumn("name",
      concat(lit("img"), col("seq"))).select("key", "seq", "op", "name", "val"))
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft-lakepropf").toString + "/t"
    LakeTable.init(base, dir2, Seq("key"), nFiles = 4)
    fullBatches.zipWithIndex.foreach { case (ch, i) =>
      LakeTable.applyChangelogFull(spark, dir2, ch, Seq("key"),
        batchId = Some(i.toLong))
    }
    val lakeFull = rows(LakeTable.readLive(spark, dir2))
    val oneShotFull = rows(Cdc.mergeChangelogFull(
      base, fullBatches.reduce(_ unionAll _)).drop("last_seq"))
    assert(lakeFull == oneShotFull,
      "full-image fold chain must equal the concatenated MERGE exactly")
  }

  test("append + in-place optimize: overlap degrades then collapses, old versions stay travelable") {
    import graft.sources.LakeSink
    val dir = java.nio.file.Files.createTempDirectory("graft-lakeopt").toString + "/t"
    val mk = (lo: Long, n: Long) =>
      (lo until lo + n).map(k => (k, s"n$k", k * 1.0)).toDF("key", "name", "val")
    LakeTable.init(mk(0L, 400L), dir, Seq("key"), nFiles = 4)
    val freshOverlap = LakeSink.boxOverlapAllDims(LakeTable.latest(spark, dir).boxes)
    // three append epochs INTERLEAVE over the same [1000, 1400) key span
    // (epoch i takes keys 1000 + 4k + i), so each epoch's file boxes
    // overlap every other epoch's — the append-degradation the listing
    // layout's appendBoxed documents, reproduced under the manifest
    (1 to 3).foreach { i =>
      val keys = (0L until 100L).map(k => 1000L + 4L * k + i)
      val batch = keys.map(k => (k, s"n$k", k * 1.0)).toDF("key", "name", "val")
      val st = LakeTable.append(batch, dir, Seq("key"), nFilesNew = 3)
      assert(st.filesRewritten == 0, s"append must touch no existing file: $st")
    }
    val degraded = LakeSink.boxOverlapAllDims(LakeTable.latest(spark, dir).boxes)
    assert(degraded > freshOverlap, f"appends must degrade overlap: $degraded%.2f")
    val total = LakeTable.readLive(spark, dir).count()
    val preOptVersion = LakeTable.latest(spark, dir).version
    val st = LakeTable.optimize(spark, dir, Seq("key"), nFiles = 6)
    assert(st.filesRewritten == 13 && st.filesNew == 6, s"full rewrite: $st")
    val reopt = LakeSink.boxOverlapAllDims(LakeTable.latest(spark, dir).boxes)
    assert(reopt < degraded,
      f"optimize must collapse box overlap: fresh=$freshOverlap%.2f " +
        f"degraded=$degraded%.2f reopt=$reopt%.2f")
    // content identical, version bumped, pre-optimize version travelable
    assert(LakeTable.readLive(spark, dir).count() == total)
    assert(LakeTable.readAt(spark, dir, preOptVersion).count() == total)
    // replay markers survive the re-cluster (none set here -> still empty)
    assert(LakeTable.latest(spark, dir).appliedBatches.isEmpty)
  }

  test("compact: bin-packs only undersized files; rows, markers, history and changefeed unaffected") {
    val dir = Files.createTempDirectory("graft-lakecompact").toString + "/t"
    val mk = (lo: Long, n: Long) =>
      (lo until lo + n).map(k => (k, s"n$k", k * 1.0)).toDF("key", "name", "val")
    LakeTable.init(mk(0L, 2000L), dir, Seq("key"), nFiles = 2) // two big files
    // three ingest folds leave six sliver files
    (1 to 3).foreach { i =>
      LakeTable.append(mk(10000L * i, 30L), dir, Seq("key"),
        nFilesNew = 2, batchId = Some(i.toLong))
    }
    val pre = LakeTable.latest(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sizes = pre.files.map(f =>
      f -> fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$dir/$f")).getLen).toMap
    val sorted = sizes.values.toSeq.sorted
    assert(sorted(5) < sorted(6), s"fixture must separate slivers from big files: $sorted")
    // half-target bound lands exactly at the smallest big file's size
    val target = sorted(6) * 2
    assert(LakeTable.shouldCompact(spark, dir, target))
    val preRows = LakeTable.readLive(spark, dir)
      .orderBy(col("key")).collect().toSeq
    val st = LakeTable.compact(spark, dir, Seq("key"), targetFileBytes = target)
    assert(st.filesRewritten == 6 && st.filesKept == 2,
      s"only the six slivers rewrite: $st")
    assert(st.filesNew < st.filesRewritten, s"packing must reduce file count: $st")
    val post = LakeTable.latest(spark, dir)
    // right-sized files carry over by NAME with their box rows verbatim
    val keptNames = pre.files.filter(f => sizes(f) >= target / 2).toSet
    assert(keptNames.size == 2 && keptNames.subsetOf(post.files.toSet))
    assert(pre.boxes.filter(b => keptNames(b._1)).toSet ==
      post.boxes.filter(b => keptNames(b._1)).toSet)
    // row content unchanged byte-for-byte; replay markers carry; the
    // pre-compact version stays travelable
    assert(LakeTable.readLive(spark, dir).orderBy(col("key")).collect().toSeq == preRows)
    assert(post.appliedBatches == Set("ingest#3"),
      "the arm's high-water marker carries through compaction")
    assert(LakeTable.readAt(spark, dir, pre.version)
      .orderBy(col("key")).collect().toSeq == preRows)
    // maintenance is invisible to changefeed subscribers
    assert(LakeTable.readChanges(spark, dir, pre.version, post.version).isEmpty)
    // steady state: compaction never re-picks its own outputs, and an
    // idle compact burns no manifest version
    assert(!LakeTable.shouldCompact(spark, dir, target))
    val idle = LakeTable.compact(spark, dir, Seq("key"), targetFileBytes = target)
    assert(idle.version == post.version && idle.filesRewritten == 0 && idle.filesNew == 0)
  }

  test("streaming ingest: appends land exactly-once per batchId; replays duplicate nothing") {
    val dir = Files.createTempDirectory("graft-lakeingest").toString + "/t"
    LakeTable.init(
      (0L until 100L).map(k => (k, s"n$k", k * 1.0)).toDF("key", "name", "val"),
      dir, Seq("key"), nFiles = 2)
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double)]
    val q = graft.streaming.LakeMaintenance.attachAppend(
      input.toDF().toDF("key", "name", "val"), dir, Seq("key"))
    try {
      input.addData((1000L until 1050L).map(k => (k, s"n$k", k * 1.0)))
      q.processAllAvailable()
      input.addData((2000L until 2030L).map(k => (k, s"n$k", k * 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    assert(LakeTable.readLive(spark, dir).count() == 180L)
    // an append replay is NOT semantically idempotent — the manifest's
    // batchId marker is what makes at-least-once exactly-once here
    val c = LakeTable.latest(spark, dir)
    val replay = LakeTable.append(
      (1000L until 1050L).map(k => (k, s"n$k", k * 1.0)).toDF("key", "name", "val"),
      dir, Seq("key"), batchId = Some(0L))
    assert(replay.version == c.version && replay.filesNew == 0)
    assert(LakeTable.readLive(spark, dir).count() == 180L,
      "a redelivered ingest batch must not duplicate rows")
  }

  test("pure delete shrinking a file to nothing still commits (no fresh file required)") {
    val dir = Files.createTempDirectory("graft-lakeempty").toString + "/t"
    val base = (0L until 10L).map(k => (k, s"n$k", k.toDouble)).toDF("key", "name", "val")
    LakeTable.init(base, dir, Seq("key"), nFiles = 1)
    val stats = LakeTable.applyTombstones(
      spark, dir, (0L until 10L).toDF("key"), Seq("key"))
    assert(stats.filesRewritten == 1 && stats.filesNew == 0)
    assert(LakeTable.readLive(spark, dir).isEmpty)
  }

  test("deletion vectors: O(tombstones) delete — no data file read or rewritten, every read path shadowed") {
    val (dir, base) = mkTable("graft-lakedv")
    val before = LakeTable.latest(spark, dir)
    val doomed = Seq(3L, 250L, 251L, 799L, 5000L).toDF("key") // 5000 absent
    val stats = LakeTable.applyTombstonesDv(spark, dir, doomed)
    val after = LakeTable.latest(spark, dir)
    // the commit replaces NOTHING: identical data file set, identical
    // boxes — the whole delete is one sidecar + one manifest rename
    assert(after.files == before.files && after.boxes == before.boxes)
    assert(stats.keysListed == 5L)
    // ...and only box-intersecting files are shadowed (keys 3 / 250,251 /
    // 799 live in 3 of the 8 ~100-key spans; 5000 is beyond every box)
    assert(after.deletes.map(_._1).distinct.size == stats.filesShadowed)
    assert(stats.filesShadowed <= 3, s"shadow set must be box-pruned: $stats")
    // equality with the rewrite path's semantics, on every read path
    val live = LakeTable.readLive(spark, dir)
    assert(live.join(broadcast(doomed), Seq("key"), "left_semi").isEmpty)
    assert(live.count() == base.count() - 4)
    assert(LakeTable.readPrunedLive(spark, dir, Seq(("key", 0.0, 300.0)))
      .join(broadcast(doomed), Seq("key"), "left_semi").isEmpty)
    // time travel to v1 still serves the tombstoned rows
    assert(LakeTable.readAt(spark, dir, 1).count() == base.count())
    // replay under the same batchId no-ops without burning a version
    val replay = LakeTable.applyTombstonesDv(
      spark, dir, Seq(77L).toDF("key"), batchId = Some(9L))
    val replay2 = LakeTable.applyTombstonesDv(
      spark, dir, Seq(78L).toDF("key"), batchId = Some(9L))
    assert(replay2.version == replay.version && replay2.filesShadowed == 0)
  }

  test("deletion vectors: changefeed emits the deleted slice; round-trip; re-insert is not shadowed") {
    val (dir, base) = mkTable("graft-lakedvf")
    LakeTable.applyTombstonesDv(spark, dir, Seq(10L, 20L).toDF("key"))
    val feed = LakeTable.readChanges(spark, dir, 1, 2)
    val got = feed.orderBy(col("key")).collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[String]("op"), r.getAs[String]("name")))
    assert(got.toSeq == Seq((10L, "D", "name_10"), (20L, "D", "name_20")),
      s"DV-only span must feed exactly the deleted rows with old images: ${got.toSeq}")
    // round-trip: v1 + feed == v2
    val asLog = feed.select(col("key"), lit(1L).as("seq"),
      when(col("op") === "D", "D").otherwise("U").as("op"),
      col("name"), col("val"))
    val rt = Cdc.mergeChangelogFull(LakeTable.readAt(spark, dir, 1), asLog)
      .drop("last_seq").orderBy(col("key")).collect().map(_.toSeq).toSeq
    val v2 = LakeTable.readAt(spark, dir, 2)
      .orderBy(col("key")).collect().map(_.toSeq).toSeq
    assert(rt == v2, "feed round-trip must reproduce v2")
    // a re-insert lands in a fresh file with NO attachment: visible,
    // while the shadowed old row stays deleted — file-granular scoping
    LakeTable.append(Seq((10L, "back", 1.0)).toDF("key", "name", "val"),
      dir, Seq("key"))
    val rows10 = LakeTable.readLive(spark, dir).filter(col("key") === 10L)
      .collect().map(r => r.getAs[String]("name")).toSeq
    assert(rows10 == Seq("back"), s"re-insert must serve, old row must stay hidden: $rows10")
    // and a MERGE touching the shadowed span must not resurrect key 20
    LakeTable.applyChangelog(spark, dir,
      Seq((21L, 1L, "U", 9.9)).toDF("key", "seq", "op", "val"), Seq("key"))
    assert(LakeTable.readLive(spark, dir).filter(col("key") === 20L).isEmpty,
      "rewriting a shadowed file must fold its vectors in, not resurrect")
    assert(base.count() > 0) // keep base referenced
  }

  test("materializeDeletes: logical snapshot unchanged, only shadowed files rewritten, vectors dropped, feed empty") {
    val (dir, _) = mkTable("graft-lakedvm")
    LakeTable.applyTombstonesDv(spark, dir, Seq(3L, 250L).toDF("key"))
    val before = LakeTable.latest(spark, dir)
    val want = LakeTable.readLive(spark, dir)
      .orderBy(col("key")).collect().map(_.toSeq).toSeq
    assert(!LakeTable.shouldMaterialize(spark, dir, maxShadowedFraction = 0.5))
    assert(LakeTable.shouldMaterialize(spark, dir, maxShadowedFraction = 0.1))
    val stats = LakeTable.materializeDeletes(spark, dir, Seq("key"))
    val after = LakeTable.latest(spark, dir)
    assert(after.deletes.isEmpty, "materialization must drop every attachment")
    assert(stats.filesRewritten == before.deletes.map(_._1).distinct.size)
    // unshadowed files carry by name
    val shadowed = before.deletes.map(_._1).toSet
    assert(before.files.filterNot(shadowed).forall(after.files.contains))
    val got = LakeTable.readLive(spark, dir)
      .orderBy(col("key")).collect().map(_.toSeq).toSeq
    assert(got == want, "materialization changes bytes, never rows")
    // maintenance is invisible to subscribers
    assert(LakeTable.readChanges(spark, dir, before.version, after.version).isEmpty)
    // idempotent: nothing shadowed -> no-op, no version burned
    val again = LakeTable.materializeDeletes(spark, dir, Seq("key"))
    assert(again.version == after.version && again.filesRewritten == 0)
    // BYTE-TARGETED output width: shadow two files again and materialize
    // with a target far below their summed bytes — the rewrite must pack
    // into ceil(bytes/target) files, never one arbitrarily oversized
    // part that later compaction (undersized-only) could never split
    LakeTable.applyTombstonesDv(spark, dir, Seq(7L, 251L).toDF("key"))
    val c2 = LakeTable.latest(spark, dir)
    val shadowedBytes = c2.deletes.map(_._1).distinct.map(c2.sizes).sum
    val target = math.max(1L, shadowedBytes / 3)
    val want2 = LakeTable.readLive(spark, dir)
      .orderBy(col("key")).collect().map(_.toSeq).toSeq
    val sized = LakeTable.materializeDeletes(spark, dir, Seq("key"),
      targetFileBytes = Some(target))
    assert(sized.filesNew >= 3,
      s"a byte target a third of the shadowed bytes must land >= 3 files, got $sized")
    assert(LakeTable.readLive(spark, dir)
      .orderBy(col("key")).collect().map(_.toSeq).toSeq == want2)
  }

  test("deletion vectors: vacuum retains referenced sidecars, drops orphaned ones") {
    val (dir, _) = mkTable("graft-lakedvv")
    LakeTable.applyTombstonesDv(spark, dir, Seq(3L).toDF("key")) // v2
    val sidecar = LakeTable.latest(spark, dir).deletes.head._2
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // retention window still covers v2 -> sidecar survives
    LakeTable.vacuum(spark, dir, keepVersions = 2)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$sidecar")))
    assert(LakeTable.readLive(spark, dir).filter(col("key") === 3L).isEmpty)
    // materialize (v3), then retain only v3: the sidecar is orphaned
    LakeTable.materializeDeletes(spark, dir, Seq("key"))
    val removed = LakeTable.vacuum(spark, dir, keepVersions = 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$sidecar")),
      s"orphaned sidecar must be vacuumed (removed $removed files)")
    assert(LakeTable.readLive(spark, dir).filter(col("key") === 3L).isEmpty)
  }

  test("merge-on-read apply: zero files replaced, snapshot == frame MERGE, chained batches compose") {
    val (dir, base) = mkTable("graft-lakemor")
    val log1 = Seq(
      (5L, 101L, "U", "up5", 50.0),   // update
      (7L, 102L, "D", null, 0.0),     // delete
      (900L, 103L, "U", "new900", 9.0) // insert beyond every box
    ).toDF("key", "seq", "op", "name", "val")
    val before = LakeTable.latest(spark, dir)
    val stats = LakeTable.applyChangelogFullMor(spark, dir, log1, Seq("key"))
    val after = LakeTable.latest(spark, dir)
    // no pre-existing file replaced: old set ⊂ new set; images land fresh
    assert(before.files.forall(after.files.contains))
    assert(after.files.size > before.files.size, "fresh image files must land")
    // keys 5 and 7 shadow their span files; 900 is beyond every box
    assert(stats.filesShadowed <= 2 && stats.filesShadowed >= 1, s"$stats")
    assert(after.deletes.forall(d => before.files.contains(d._1)),
      "vectors attach to pre-commit files only, never the fresh images")
    val got = LakeTable.readLive(spark, dir)
      .orderBy(col("key")).collect().map(_.toSeq).toSeq
    val want = Cdc.mergeChangelogFull(base, log1).drop("last_seq")
      .orderBy(col("key")).collect().map(_.toSeq).toSeq
    assert(got == want, "MoR snapshot must equal the frame MERGE")
    // chained: batch 2 updates key 5 AGAIN (its image lives in batch 1's
    // fresh file) and deletes 900 — earlier fresh files shadow like base
    val log2 = Seq(
      (5L, 201L, "U", "up5b", 55.0),
      (900L, 202L, "D", null, 0.0)
    ).toDF("key", "seq", "op", "name", "val")
    LakeTable.applyChangelogFullMor(spark, dir, log2, Seq("key"))
    val got2 = LakeTable.readLive(spark, dir)
      .orderBy(col("key")).collect().map(_.toSeq).toSeq
    val want2 = Cdc.mergeChangelogFull(
        Cdc.mergeChangelogFull(base, log1).drop("last_seq"), log2)
      .drop("last_seq").orderBy(col("key")).collect().map(_.toSeq).toSeq
    assert(got2 == want2, "chained MoR must equal sequential frame MERGEs")
    assert(LakeTable.readLive(spark, dir)
      .filter(col("key") === 5L).collect().map(_.getString(1)).toSeq == Seq("up5b"),
      "the superseded image in batch 1's fresh file must be shadowed")
    // materialization folds it all in, snapshot unchanged
    LakeTable.materializeDeletes(spark, dir, Seq("key"))
    assert(LakeTable.latest(spark, dir).deletes.isEmpty)
    val got3 = LakeTable.readLive(spark, dir)
      .orderBy(col("key")).collect().map(_.toSeq).toSeq
    assert(got3 == got2)
    // replay marker
    val replay = LakeTable.applyChangelogFullMor(
      spark, dir, log2, Seq("key"), batchId = Some(3L))
    val replay2 = LakeTable.applyChangelogFullMor(
      spark, dir, log2, Seq("key"), batchId = Some(3L))
    assert(replay2.version == replay.version && replay2.filesShadowed == 0)
  }

  test("a merge-on-read apply whose two lands both fail reports both, then applies cleanly") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.faultymor.impl", classOf[FaultyMorLandFileSystem].getName)
    val dir = s"faultymor://${Files.createTempDirectory("graft-lakemorfail")}/t"
    val base = (0L until 800L).map(k => (k, s"name_$k", k * 1.5))
      .toDF("key", "name", "val")
    LakeTable.init(base, dir, Seq("key"), nFiles = 8)
    // key 5 shadows its span file (sidecar land) and carries an image
    // (fresh-file land): both lands run, and both fail
    val log = Seq((5L, 101L, "U", "up5", 50.0), (7L, 102L, "D", null, 0.0))
      .toDF("key", "seq", "op", "name", "val")
    FaultyMorLandFileSystem.armed = true
    val e = try intercept[Exception](
        LakeTable.applyChangelogFullMor(spark, dir, log, Seq("key")))
      finally FaultyMorLandFileSystem.armed = false
    def mentions(t: Throwable, what: String): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .exists(x => Option(x.getMessage).exists(_.contains(what)))
    assert(mentions(e, "/.stage-"), "the fresh-file land's failure surfaces")
    assert(e.getSuppressed.exists(mentions(_, "/_deletes/.tmp-")),
      "the sidecar land's failure is attached, not dropped")
    assert(LakeTable.latest(spark, dir).version == 1, "nothing committed")
    assert(LakeTable.applyChangelogFullMor(spark, dir, log, Seq("key")).version == 2)
    assert(LakeTable.readLive(spark, dir).orderBy(col("key")).collect().map(_.toSeq).toSeq ==
      Cdc.mergeChangelogFull(base, log).drop("last_seq")
        .orderBy(col("key")).collect().map(_.toSeq).toSeq)
  }

  test("streaming MoR arm: folds equal sequential MERGEs; DV forget arm materializes in-loop") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val (dir, base) = mkTable("graft-lakemors")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long, String, String, Double)]
    val q = graft.streaming.LakeMaintenance.attachMor(
      input.toDF().toDF("key", "seq", "op", "name", "val"), dir, Seq("key"))
    val log1 = Seq((5L, 101L, "U", "a", 1.0), (7L, 102L, "D", null.asInstanceOf[String], 0.0))
    val log2 = Seq((5L, 201L, "U", "b", 2.0))
    try {
      input.addData(log1)
      q.processAllAvailable()
      input.addData(log2)
      q.processAllAvailable()
    } finally q.stop()
    val got = LakeTable.readLive(spark, dir)
      .orderBy(col("key")).collect().map(_.toSeq).toSeq
    val want = Cdc.mergeChangelogFull(
        Cdc.mergeChangelogFull(base, log1.toDF("key", "seq", "op", "name", "val"))
          .drop("last_seq"),
        log2.toDF("key", "seq", "op", "name", "val"))
      .drop("last_seq").orderBy(col("key")).collect().map(_.toSeq).toSeq
    assert(got == want, "streamed MoR folds must equal sequential MERGEs")

    // DV forget arm with an aggressive in-loop materialize trigger: the
    // vectors fold in before the stream stops, rows stay deleted
    val input2 = MemoryStream[Long]
    val q2 = graft.streaming.LakeMaintenance.attachTombstonesDv(
      input2.toDF().toDF("key"), dir, Seq("key"),
      materializeAtShadowedFraction = Some(0.0))
    try {
      input2.addData(Seq(3L, 11L))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(LakeTable.latest(spark, dir).deletes.isEmpty,
      "the in-loop trigger must have materialized the vectors")
    assert(LakeTable.readLive(spark, dir)
      .filter(col("key").isin(3L, 11L)).isEmpty)
  }

  test("countLive: metadata-only on a clean table, reads only shadowed files under vectors") {
    val (dir, base) = mkTable("graft-lakecount")
    assert(LakeTable.countLive(spark, dir) == base.count())
    // metadata-only PROOF: every data file deleted from disk, the count
    // still answers from the manifest's R lines alone
    val c1 = LakeTable.latest(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stash = java.nio.file.Files.createTempDirectory("graft-stash").toString
    c1.files.foreach { f =>
      fs.rename(new org.apache.hadoop.fs.Path(s"$dir/$f"),
        new org.apache.hadoop.fs.Path(s"$stash/${f.replace('/', '_')}"))
    }
    assert(LakeTable.countLive(spark, dir) == base.count(),
      "a clean table's count must not open any data file")
    c1.files.foreach { f =>
      fs.rename(new org.apache.hadoop.fs.Path(s"$stash/${f.replace('/', '_')}"),
        new org.apache.hadoop.fs.Path(s"$dir/$f"))
    }
    // under deletion vectors only the SHADOWED files are read: the count
    // is exact (sidecar keys that match nothing must not subtract)
    LakeTable.applyTombstonesDv(spark, dir, Seq(3L, 250L, 5000L).toDF("key"))
    assert(LakeTable.countLive(spark, dir) == base.count() - 2)
    assert(LakeTable.countLive(spark, dir) ==
      LakeTable.readLive(spark, dir).count())
    // materialization restores the metadata-only answer
    LakeTable.materializeDeletes(spark, dir, Seq("key"))
    val c2 = LakeTable.latest(spark, dir)
    assert(c2.files.forall(c2.rowCounts.contains),
      "every live file must carry a manifest row count")
    assert(LakeTable.countLive(spark, dir) == base.count() - 2)
    // counts survive MERGE / compact / MoR commits too
    LakeTable.applyChangelog(spark, dir,
      Seq((20L, 1L, "U", 9.9), (21L, 2L, "D", 0.0), (950L, 3L, "U", 1.0))
        .toDF("key", "seq", "op", "val"), Seq("key"))
    assert(LakeTable.countLive(spark, dir) == base.count() - 2) // -21, +950
    val c3 = LakeTable.latest(spark, dir)
    assert(c3.files.forall(c3.rowCounts.contains))
  }

  test("merge-on-read composes with the lockstep view loop (feed-driven retraction over DV commits)") {
    val dir = Files.createTempDirectory("graft-lakemorv").toString + "/t"
    val viewDir = Files.createTempDirectory("graft-lakemorvw").toString
    val base = (0L until 400L).map(k => (k, s"g${k % 8}", k * 1.0))
      .toDF("key", "name", "val")
    LakeTable.init(base, dir, Seq("key"), nFiles = 4)
    val measures = Map(
      ("sum", "val") -> "sum_val", ("count", "*") -> "cnt",
      ("count", "val") -> "cnt_val")
    graft.streaming.LakeMaintenance.refreshView(
      spark, dir, viewDir, Seq("name"), measures) // v1: full summarize
    // a MoR fold: updates move mass between groups, deletes shrink one
    val log = Seq(
      (5L, 1L, "U", "g7", 500.0),  // group g5 -> g7 migration
      (16L, 2L, "D", null, 0.0),   // delete from g0
      (900L, 3L, "U", "g0", 9.0)   // insert into g0
    ).toDF("key", "seq", "op", "name", "val")
    LakeTable.applyChangelogFullMor(spark, dir, log, Seq("key"))
    // the view advances by the CHANGEFEED (retracting applyChanges), not
    // a re-summarize — across a deletion-vector commit
    graft.streaming.LakeMaintenance.refreshView(
      spark, dir, viewDir, Seq("name"), measures)
    val got = graft.streaming.LakeMaintenance.readView(spark, viewDir)
      .orderBy(col("name")).collect().map(_.toSeq).toSeq
    val want = graft.operators.Mv.summarize(
        LakeTable.readLive(spark, dir), Seq("name"), measures)
      .orderBy(col("name")).collect().map(_.toSeq).toSeq
    assert(got == want,
      "feed-folded view across a MoR (DV) commit must equal the re-summarize")
  }

  test("deleteWhere: predicate delete commits as a deletion vector; no-match burns no version") {
    val (dir, base) = mkTable("graft-lakedw")
    val before = LakeTable.latest(spark, dir)
    val stats = LakeTable.deleteWhere(spark, dir, col("val") > 1000.0)
    val after = LakeTable.latest(spark, dir)
    assert(after.files == before.files, "a predicate delete rewrites nothing")
    val wantKept = base.filter(col("val") <= 1000.0).count()
    assert(LakeTable.readLive(spark, dir).count() == wantKept)
    assert(LakeTable.readLive(spark, dir).filter(col("val") > 1000.0).isEmpty)
    assert(stats.keysListed == base.count() - wantKept)
    // count stays exact through the predicate delete
    assert(LakeTable.countLive(spark, dir) == wantKept)
    // a predicate matching nothing is a version-free no-op
    val v = LakeTable.latest(spark, dir).version
    val noop = LakeTable.deleteWhere(spark, dir, col("val") > 1e9)
    assert(noop.version == v && noop.filesShadowed == 0)
    assert(LakeTable.latest(spark, dir).version == v)
  }

  test("changefeed cursor: a subscriber replica stays exact through folds, crash-redelivery, catch-up") {
    val (dir, base) = mkTable("graft-lakecur")
    val cursorDir = Files.createTempDirectory("graft-lakecurc").toString
    // replica maintenance: pull pending, fold into a local copy, commit
    var replica = base
    def pump(): Boolean =
      LakeTable.pendingChanges(spark, dir, cursorDir) match {
        case None => false
        case Some((feed, upTo)) =>
          val asLog = feed.select(col("key"), lit(1L).as("seq"),
            when(col("op") === "I", "U").otherwise(col("op")).as("op"),
            col("name"), col("val"))
          replica = Cdc.mergeChangelogFull(replica, asLog).drop("last_seq")
            .localCheckpoint()
          LakeTable.commitCursor(spark, cursorDir, upTo)
          true
      }
    def assertSync(): Unit = {
      val got = replica.orderBy(col("key")).collect().map(_.toSeq).toSeq
      val want = LakeTable.readLive(spark, dir)
        .orderBy(col("key")).collect().map(_.toSeq).toSeq
      assert(got == want, "replica must equal the table at the cursor")
    }
    // fresh cursor, nothing to do (table is at v1 = the initial state)
    assert(!pump())
    // one MERGE -> one pending span
    LakeTable.applyChangelog(spark, dir,
      Seq((5L, 1L, "U", 50.0), (7L, 2L, "D", 0.0))
        .toDF("key", "seq", "op", "val"), Seq("key"))
    assert(pump()); assertSync(); assert(!pump())
    // crash BETWEEN processing and commit: the same span re-delivers
    LakeTable.applyChangelog(spark, dir,
      Seq((9L, 3L, "U", 9.9)).toDF("key", "seq", "op", "val"), Seq("key"))
    val Some((feed1, upTo1)) = LakeTable.pendingChanges(spark, dir, cursorDir)
    val seen = feed1.orderBy(col("key")).collect().map(_.toSeq).toSeq
    // (no commit — the subscriber died here)
    val Some((feed2, upTo2)) = LakeTable.pendingChanges(spark, dir, cursorDir)
    assert(upTo2 == upTo1 &&
      feed2.orderBy(col("key")).collect().map(_.toSeq).toSeq == seen,
      "an uncommitted span must re-deliver identically")
    assert(pump()); assertSync()
    // falling multiple versions behind catches up in ONE net span —
    // including across a DV delete and an optimize (which nets to zero)
    LakeTable.applyTombstonesDv(spark, dir, Seq(11L, 12L).toDF("key"))
    LakeTable.applyChangelog(spark, dir,
      Seq((11L, 4L, "U", 1.1)).toDF("key", "seq", "op", "val"), Seq("key"))
    LakeTable.optimize(spark, dir, Seq("key"), nFiles = 4)
    assert(pump()); assertSync(); assert(!pump())
    // a late subscriber with initial = "latest" sees only what comes next
    val lateCursor = Files.createTempDirectory("graft-lakecurl").toString
    assert(LakeTable.pendingChanges(
      spark, dir, lateCursor, initial = "latest").isEmpty)
  }

  test("pendingChanges(initial=latest) anchors the cursor: later changes deliver, none are missed") {
    val (dir, _) = mkTable("graft-lakelate")
    LakeTable.applyChangelog(spark, dir,
      Seq((5L, 1L, "U", 50.0)).toDF("key", "seq", "op", "val"), Seq("key"))
    val cursorDir = Files.createTempDirectory("graft-lakelatec").toString
    // first poll: up to date — and the anchor is COMMITTED, not implied
    assert(LakeTable.pendingChanges(
      spark, dir, cursorDir, initial = "latest").isEmpty)
    assert(LakeTable.cursor(spark, cursorDir)
      .contains(LakeTable.latest(spark, dir).version),
      "the latest-mode first poll must pin its anchor as a cursor commit")
    // a change after the anchor MUST deliver (the un-anchored bug: 'from'
    // re-resolved to the then-current version every poll, so a latest-mode
    // subscriber was permanently 'up to date' and silently missed all of it)
    LakeTable.applyChangelog(spark, dir,
      Seq((6L, 2L, "U", 60.0), (7L, 3L, "D", 0.0))
        .toDF("key", "seq", "op", "val"), Seq("key"))
    val Some((feed, upTo)) =
      LakeTable.pendingChanges(spark, dir, cursorDir, initial = "latest")
    val rows = feed.orderBy(col("key")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((6L, "U"), (7L, "D")),
      s"the post-anchor span (and ONLY it) must deliver, got $rows")
    LakeTable.commitCursor(spark, cursorDir, upTo)
    assert(LakeTable.pendingChanges(
      spark, dir, cursorDir, initial = "latest").isEmpty)
  }

  test("a manifest carrying a bare replay marker is refused, naming the file") {
    val (dir, _) = mkTable("graft-lakebare")
    // v2 = v1's full text plus a bare `A\t7` line: an id with no arm,
    // which no reader can attribute to the stream that applied it
    val v1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_commits/v000000001.txt")), "UTF-8")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_commits/v000000002.txt"),
      (v1 + "A\t7\n").getBytes("UTF-8"))
    val e = intercept[IllegalStateException](LakeTable.latest(spark, dir))
    assert(e.getMessage.contains("v000000002.txt") && e.getMessage.contains("bare"),
      e.getMessage)
    // a redelivery of batch 7 refuses too, instead of re-applying it
    intercept[IllegalStateException](LakeTable.applyChangelog(spark, dir,
      Seq((5L, 1L, "U", 99.0)).toDF("key", "seq", "op", "val"), Seq("key"),
      batchId = Some(7L)))
    assert(!new java.io.File(s"$dir/_commits/v000000003.txt").exists(),
      "a refused manifest must publish nothing on top of it")
  }

  test("box probes stay exact for integral keys above 2^53 (forget attestation on hash keys)") {
    val dir = Files.createTempDirectory("graft-lakebig").toString + "/t"
    // keys in one 256-wide double ulp at 2^60: every conversion collapses
    // them onto the same double, so box compares ride entirely on the
    // conservative widening — false exclusion here would let a tombstoned
    // row survive deletion
    val lo = 1L << 60
    val keys = Seq(lo + 1L, lo + 3L, lo + 5L, lo + 7L, lo + 9L, lo + 11L)
    LakeTable.init(keys.map(k => (k, s"n$k", 1.0)).toDF("key", "name", "val"),
      dir, Seq("key"), nFiles = 2)
    val doomed = Seq(keys.max, keys.min).toDF("key")
    LakeTable.applyTombstones(spark, dir, doomed, Seq("key"))
    assert(LakeTable.readLive(spark, dir)
      .join(broadcast(doomed), Seq("key"), "left_semi").isEmpty,
      "tombstoned >2^53 keys must be unreadable — the attestation contract")
    assert(LakeTable.countLive(spark, dir) == keys.size - 2L)
    // the deletion-vector path must shadow the file too
    val dv = LakeTable.applyTombstonesDv(spark, dir, Seq(keys(2)).toDF("key"))
    assert(dv.filesShadowed >= 1, "the edge key's file must enter the shadow set")
    assert(LakeTable.readLive(spark, dir).filter(col("key") === keys(2)).isEmpty)
    assert(LakeTable.countLive(spark, dir) == keys.size - 3L)
  }

  test("changefeed across schema evolution: span delivers in the end schema, durable cursors drain") {
    val (dir, _) = mkTable("graft-lakeevofeed") // v1
    val cursorDir = Files.createTempDirectory("graft-lakeevofeedc").toString
    assert(LakeTable.pendingChanges(spark, dir, cursorDir).isEmpty) // anchor v1
    LakeTable.applyChangelog(spark, dir,
      Seq((5L, 1L, "U", 50.0)).toDF("key", "seq", "op", "val"), Seq("key")) // v2
    // evolution lands INSIDE the subscriber's lag window...
    LakeTable.append(
      Seq((900L, "n900", 9.0, "web")).toDF("key", "name", "val", "source"),
      dir, Seq("key")) // v3 adds `source`
    LakeTable.applyTombstones(spark, dir, Seq(7L).toDF("key"), Seq("key")) // v4
    // ...and the poll still drains: ONE net span, span-END schema, old
    // images serving NULL for the added column (the wedge: readChanges
    // used to reject the span, so every poll threw forever)
    val Some((feed, upTo)) = LakeTable.pendingChanges(spark, dir, cursorDir)
    assert(feed.columns.toSeq == Seq("key", "op", "name", "val", "source"))
    val rows = feed.orderBy(col("key")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getAs[String]("source"))).toSeq
    assert(rows == Seq((5L, "U", null), (7L, "D", null), (900L, "I", "web")),
      s"got $rows")
    // round-trip still holds with the start snapshot projected to the end
    // schema: start − touched keys + I/U images == readAt(to)
    val start = LakeTable.readAt(spark, dir, 1)
      .withColumn("source", lit(null).cast("string"))
    val merged = start.join(feed.select(col("key")), Seq("key"), "left_anti")
      .unionByName(feed.filter(col("op") =!= "D").drop("op"))
      .orderBy(col("key")).collect().map(_.toSeq).toSeq
    val want = LakeTable.readAt(spark, dir, upTo)
      .orderBy(col("key")).collect().map(_.toSeq).toSeq
    assert(merged == want, "evolved-span feed must still round-trip")
    LakeTable.commitCursor(spark, cursorDir, upTo)
    assert(LakeTable.pendingChanges(spark, dir, cursorDir).isEmpty)
    // a NON-append change still rejects: fake a FULL v5 manifest whose
    // schema retypes `val` — that feed has no stable row contract
    val v1txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_commits/v000000001.txt")), "UTF-8")
    assert(v1txt.contains("val DOUBLE"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_commits/v000000005.txt"),
      v1txt.replace("val DOUBLE", "val STRING").getBytes("UTF-8"))
    intercept[IllegalArgumentException](
      LakeTable.readChanges(spark, dir, 4, 5))
  }

  test("manifest log: mutations commit O(change) deltas, checkpoints bound the walk-back, resolution exact") {
    val (dir, base) = mkTable("graft-lakedelta") // v1: full, 8 files
    def manifest(v: Int) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f"$dir%s/_commits/v$v%09d.txt")), "UTF-8")
    assert(!manifest(1).startsWith("C\tdelta"), "v1 is a full checkpoint")
    val fullLines = manifest(1).linesIterator.size
    // fold nine single-key merges: v2..v9 are DELTAS naming only the
    // touched files; v10 lands the periodic full checkpoint
    var expected = base
    var snapshots = Map(1 -> base.orderBy(col("key")).collect().map(_.toSeq).toSeq)
    (1 to 9).foreach { i =>
      val log = Seq((i * 30L, i.toLong, "U", i * 1000.0))
        .toDF("key", "seq", "op", "val")
      LakeTable.applyChangelog(spark, dir, log, Seq("key"),
        batchId = Some(i.toLong))
      expected = Cdc.mergeChangelog(expected, log).drop("last_seq")
        .localCheckpoint()
      snapshots += (i + 1) ->
        expected.orderBy(col("key")).collect().map(_.toSeq).toSeq
    }
    (2 to 9).foreach { v =>
      val m = manifest(v)
      assert(m.startsWith("C\tdelta"), s"v$v must be a delta")
      assert(m.linesIterator.size < fullLines / 2,
        s"a single-key fold must commit O(change) lines, v$v wrote " +
          s"${m.linesIterator.size} (full manifest: $fullLines)")
    }
    assert(!manifest(10).startsWith("C\tdelta"),
      "every 10th version is a full checkpoint")
    // resolution through the delta chain is exact: live state, replay
    // markers, and TIME TRAVEL to any mid-chain version
    assert(LakeTable.readLive(spark, dir)
      .orderBy(col("key")).collect().map(_.toSeq).toSeq == snapshots(10))
    assert(LakeTable.latest(spark, dir).appliedBatches == Set("cdc#9"),
      "nine folds leave ONE high-water marker, resolved through deltas")
    Seq(3, 5, 9).foreach { v =>
      assert(LakeTable.readAt(spark, dir, v)
        .orderBy(col("key")).collect().map(_.toSeq).toSeq == snapshots(v),
        s"time travel to mid-chain delta v$v must be exact")
    }
    // a replayed batchId resolved THROUGH deltas still no-ops
    val stats = LakeTable.applyChangelog(spark, dir,
      Seq((30L, 1L, "U", -1.0)).toDF("key", "seq", "op", "val"), Seq("key"),
      batchId = Some(1L))
    assert(stats.filesRewritten == 0 &&
      LakeTable.latest(spark, dir).version == 10)
    // changefeed and metadata count read identically off the delta log
    assert(LakeTable.countLive(spark, dir) == snapshots(10).size)
    val feed = LakeTable.readChanges(spark, dir, 1, 10)
      .orderBy(col("key")).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(feed == (1 to 9).map(i => (i * 30L, "U")).toSeq, s"got $feed")
  }

  test("attachWithView with min/max: a streamed delete of a group's min repairs the view") {
    import graft.streaming.LakeMaintenance
    import graft.operators.Mv
    val dir = Files.createTempDirectory("graft-lakemmv").toString + "/t"
    val viewDir = Files.createTempDirectory("graft-lakemmvv").toString + "/view"
    val base = (0L until 40L).map(k => (k, s"g${k % 4}", k * 1.0))
      .toDF("key", "name", "val")
    LakeTable.init(base, dir, Seq("key"), nFiles = 2)
    val mm = Map(("min", "val") -> "min_val", ("max", "val") -> "max_val",
      ("count", "*") -> "cnt")
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, Double)]
    val q = LakeMaintenance.attachWithView(
      input.toDF().toDF("key", "seq", "op", "val"), dir, Seq("key"),
      viewDir, Seq("name"), mm)
    try {
      // first batch seeds the view (summarize path)...
      input.addData(Seq((39L, 1L, "D", 0.0))) // g3's max dies
      q.processAllAvailable()
      // ...second batch must route min/max through touched-group REPAIR:
      // key 0 is g0's min — a feed-only retraction cannot recover the
      // next-smallest member, re-aggregating the touched group can
      input.addData(Seq((0L, 2L, "D", 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("name")).collect().map(_.toSeq).toSeq
    assert(sorted(LakeMaintenance.readView(spark, viewDir)) ==
      sorted(Mv.summarize(LakeTable.readLive(spark, dir), Seq("name"), mm)),
      "the maintained min/max view must equal re-summarizing the live table")
    val g0 = LakeMaintenance.readView(spark, viewDir)
      .filter(col("name") === "g0").head()
    assert(g0.getDouble(g0.fieldIndex("min_val")) == 4.0,
      "g0's min must move to the next member after its old min is deleted")
  }

  test("refreshView GCs superseded view versions; the serving view stays exact") {
    import graft.streaming.LakeMaintenance
    import graft.operators.Mv
    val dir = Files.createTempDirectory("graft-lakevgc").toString + "/t"
    val viewDir = Files.createTempDirectory("graft-lakevgcv").toString + "/view"
    LakeTable.init((0L until 40L).map(k => (k, s"g${k % 4}", k * 1.0))
      .toDF("key", "name", "val"), dir, Seq("key"), nFiles = 2)
    val mm = Map(("sum", "val") -> "sum_val", ("count", "*") -> "cnt",
      ("count", "val") -> "cnt_val")
    (1 to 5).foreach { i =>
      LakeMaintenance.foldOnce(spark, dir,
        Seq((i.toLong, i.toLong, "U", i * 100.0)).toDF("key", "seq", "op", "val"),
        Seq("key"), batchId = Some(i.toLong))
      LakeMaintenance.refreshView(spark, dir, viewDir, Seq("name"), mm)
    }
    // five refreshes leave the serving view + its predecessor, not five
    // summary dirs (a streaming view would otherwise grow one dir — and
    // one marker open per committedViews resolution — per micro-batch)
    val dirs = new java.io.File(viewDir).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("v"))
      .map(_.getName).sorted
    assert(dirs.toSeq == Seq("v000000004", "v000000005"),
      s"view GC must keep current+previous only, got ${dirs.mkString(", ")}")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("name")).collect().map(_.toSeq).toSeq
    assert(sorted(LakeMaintenance.readView(spark, viewDir)) ==
      sorted(Mv.summarize(LakeTable.readLive(spark, dir), Seq("name"), mm)),
      "the GC'd view must still equal re-summarizing the live table")
  }

  test("a legacy unboxed file's rows survive appends AND keyed mutations") {
    val (dir, base) = mkTable("graft-lakeunbox")
    // simulate a legacy manifest whose first file never got box rows:
    // strip that file's B lines (and, being legacy, its Z/R lines too)
    val victim = LakeTable.latest(spark, dir).files.head
    val mPath = java.nio.file.Paths.get(s"$dir/_commits/v000000001.txt")
    val stripped = new String(java.nio.file.Files.readAllBytes(mPath), "UTF-8")
      .linesIterator.filterNot(l =>
        (l.startsWith("B\t") || l.startsWith("Z\t") || l.startsWith("R\t")) &&
          l.split('\t')(1) == victim)
      .mkString("\n") + "\n"
    java.nio.file.Files.write(mPath, stripped.getBytes("UTF-8"))
    // the in-place edit invalidates Hadoop's local checksum sidecar
    new java.io.File(s"$dir/_commits/.v000000001.txt.crc").delete()
    assert(!LakeTable.latest(spark, dir).boxes.exists(_._1 == victim))
    val total = base.count()
    // an APPEND must not touch the unboxed file — its rewrite ignores the
    // base, so probing it in would silently drop the file's rows
    LakeTable.append(Seq((900L, "n900", 9.0)).toDF("key", "name", "val"),
      dir, Seq("key"))
    assert(LakeTable.latest(spark, dir).files.contains(victim),
      "append must carry an unboxed file by name, never replace it")
    assert(LakeTable.readLive(spark, dir).count() == total + 1)
    // a KEYED mutation conservatively REWRITES it — base rows carried
    LakeTable.applyChangelog(spark, dir,
      Seq((500L, 1L, "U", 5.0)).toDF("key", "seq", "op", "val"), Seq("key"))
    assert(LakeTable.readLive(spark, dir).count() == total + 1)
    assert(LakeTable.readLive(spark, dir).filter(col("key") === 0L).count() == 1,
      "the unboxed file's rows must survive the conservative rewrite")
  }

  test("restoreTo rolls back to a pinned version and discards later replay markers") {
    val (dir, base) = mkTable("graft-lakerestore")
    def snap() = LakeTable.readLive(spark, dir)
      .orderBy(col("key")).collect().map(_.toSeq).toSeq
    val v1rows = snap()
    LakeTable.applyChangelog(spark, dir,
      Seq((5L, 1L, "U", 99.0)).toDF("key", "seq", "op", "val"), Seq("key"),
      batchId = Some(3L))
    assert(LakeTable.latest(spark, dir).appliedBatches == Set("cdc#3"))
    val restored = LakeTable.restoreTo(spark, dir, 1)
    assert(restored.version == 3, "a rollback is a NEW version, not a rewind")
    assert(snap() == v1rows, "restored state must equal the pinned version")
    assert(LakeTable.latest(spark, dir).appliedBatches.isEmpty,
      "the rolled-back commit's replay marker must not survive — a " +
        "redelivery of that batch must re-apply")
    // the discarded batch redelivers and applies cleanly
    LakeTable.applyChangelog(spark, dir,
      Seq((5L, 1L, "U", 99.0)).toDF("key", "seq", "op", "val"), Seq("key"),
      batchId = Some(3L))
    assert(LakeTable.readLive(spark, dir).filter(col("key") === 5L)
      .head.getDouble(2) == 99.0)
    // restoring to the current version burns nothing
    val v = LakeTable.latest(spark, dir).version
    assert(LakeTable.restoreTo(spark, dir, v).version == v)
  }

  test("manifest sizes: commits carry Z lines, the compaction trigger is pure metadata") {
    val (dir, _) = mkTable("graft-lakesizes")
    val c = LakeTable.latest(spark, dir)
    assert(c.sizes.keySet == c.files.toSet, "every live file carries a size")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    c.files.foreach { f =>
      assert(c.sizes(f) == fs.getFileStatus(
        new org.apache.hadoop.fs.Path(s"$dir/$f")).getLen,
        s"manifest size must match the filesystem for $f")
    }
    // sizes survive mutations (carried for kept files, stat-ed for fresh)
    LakeTable.applyChangelog(spark, dir,
      Seq((5L, 1L, "U", 9.0)).toDF("key", "seq", "op", "val"), Seq("key"))
    val c2 = LakeTable.latest(spark, dir)
    assert(c2.sizes.keySet == c2.files.toSet)
    // the trigger answers WITHOUT stat-ing: physically delete a kept
    // live file — a shouldCompact that still stat-ed every file would
    // throw FileNotFoundException; the manifest-sized answer does not
    val kept = c.files.toSet.intersect(c2.files.toSet)
    assert(kept.nonEmpty)
    assert(new java.io.File(s"$dir/${kept.head}").delete())
    assert(LakeTable.shouldCompact(spark, dir, targetFileBytes = 1L << 30),
      "tiny fixture files are all under half a 1GB target — answered " +
        "from Z lines with a live file physically gone")
  }

  test("property: a seeded random mutation walk resolves exactly through the delta log at every version") {
    val dir = Files.createTempDirectory("graft-lakewalk").toString + "/t"
    val rnd = new scala.util.Random(20260815L)
    // expected state, tracked independently: key -> (name, val)
    var expected: Map[Long, (Option[String], Double)] =
      (0L until 200L).map(k => k -> (Some(s"n$k"): Option[String], k * 2.0)).toMap
    LakeTable.init(
      expected.toSeq.map { case (k, (n, v)) => (k, n.orNull, v) }
        .toDF("key", "name", "val"),
      dir, Seq("key"), nFiles = 4)
    var seq = 0L
    var nextNew = 1000L
    var snapshots = Vector(
      LakeTable.latest(spark, dir).version -> expected)
    def liveKeys: Seq[Long] = expected.keys.toSeq.sorted
    (1 to 25).foreach { step =>
      rnd.nextInt(6) match {
        case 0 => // slim changelog MERGE: updates, deletes, an insert
          val ks = rnd.shuffle(liveKeys).take(3)
          val ins = nextNew; nextNew += 1
          val changes = (ks.map { k =>
            seq += 1
            if (rnd.nextBoolean()) { expected += k -> (expected(k)._1, seq * 1.5); (k, seq, "U", seq * 1.5) }
            else { expected -= k; (k, seq, "D", 0.0) }
          } :+ { seq += 1; expected += ins -> (None, 9.9); (ins, seq, "U", 9.9) })
          LakeTable.applyChangelog(spark, dir,
            changes.toDF("key", "seq", "op", "val"), Seq("key"))
        case 1 => // deletion-vector tombstones (some keys absent: no-op)
          val doomed = rnd.shuffle(liveKeys).take(2) :+ 999999L
          doomed.foreach(expected -= _)
          LakeTable.applyTombstonesDv(spark, dir, doomed.toDF("key"))
        case 2 => // append epoch of fresh keys
          val ks = (nextNew until nextNew + 3L); nextNew += 3
          ks.foreach(k => expected += k -> (Some(s"a$k"), k * 0.5))
          LakeTable.append(
            ks.map(k => (k, s"a$k", k * 0.5)).toDF("key", "name", "val"),
            dir, Seq("key"))
        case 3 => LakeTable.optimize(spark, dir, Seq("key"), nFiles = 3)
        case 4 => LakeTable.compact(spark, dir, Seq("key"), 1L << 20)
        case 5 => LakeTable.materializeDeletes(spark, dir, Seq("key"))
      }
      snapshots :+= LakeTable.latest(spark, dir).version -> expected
      if (step % 5 == 0) {
        val got = LakeTable.readLive(spark, dir)
          .select(col("key"), col("name"), col("val")).orderBy(col("key"))
          .collect()
          .map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2))).toSeq
        val want = expected.toSeq.map { case (k, (n, v)) => (k, n, v) }.sortBy(_._1)
        assert(got == want, s"live state diverged at step $step")
        assert(LakeTable.countLive(spark, dir) == expected.size.toLong)
      }
    }
    // TIME TRAVEL: every recorded version — resolved through whatever mix
    // of deltas and checkpoints the walk produced — reads back exactly
    snapshots.foreach { case (v, snap) =>
      val got = LakeTable.readAt(spark, dir, v)
        .select(col("key"), col("name"), col("val")).orderBy(col("key"))
        .collect()
        .map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2))).toSeq
      assert(got == snap.toSeq.map { case (k, (n, x)) => (k, n, x) }.sortBy(_._1),
        s"time travel to v$v diverged")
    }
    // ROLLBACK: restore to the walk's midpoint and continue mutating
    val (midV, midSnap) = snapshots(snapshots.size / 2)
    LakeTable.restoreTo(spark, dir, midV)
    assert(LakeTable.readLive(spark, dir)
      .select(col("key"), col("val")).orderBy(col("key"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      midSnap.toSeq.map { case (k, (_, x)) => (k, x) }.sortBy(_._1))
    LakeTable.applyChangelog(spark, dir,
      Seq((0L, seq + 1, "U", -1.0)).toDF("key", "seq", "op", "val"), Seq("key"))
    val after = LakeTable.readLive(spark, dir).filter(col("key") === 0L)
    if (midSnap.contains(0L))
      assert(after.head.getDouble(2) == -1.0, "post-rollback mutation applies")
  }

  test("readKeyed opens only box-intersecting files and filters exactly") {
    val (dir, _) = mkTable("graft-lakekeyed")
    // two keys in one ~100-key file span: the point read must open a
    // strict subset of the 8 live files
    val got = LakeTable.readKeyed(spark, dir, Seq(20L, 21L).toDF("key"))
    assert(got.inputFiles.nonEmpty && got.inputFiles.length < 8,
      s"expected a pruned scan, opened ${got.inputFiles.length} files")
    assert(got.orderBy(col("key")).collect().map(_.getLong(0)).toSeq ==
      Seq(20L, 21L))
    // absent keys: no file opens, empty exact result
    assert(LakeTable.readKeyed(spark, dir, Seq(5000L).toDF("key")).isEmpty)
    // deletion vectors apply inside the point read too
    LakeTable.applyTombstonesDv(spark, dir, Seq(20L).toDF("key"))
    assert(LakeTable.readKeyed(spark, dir, Seq(20L, 21L).toDF("key"))
      .collect().map(_.getLong(0)).toSeq == Seq(21L),
      "a shadowed row must not resurrect into a keyed point read")
  }

  test("deletion vectors: compaction folds a shadowed sliver's vectors in") {
    val dir = Files.createTempDirectory("graft-lakedvc").toString + "/t"
    val base = (0L until 100L).map(k => (k, s"n$k", k.toDouble)).toDF("key", "name", "val")
    LakeTable.init(base, dir, Seq("key"), nFiles = 1)
    LakeTable.append((100L until 130L).map(k => (k, s"n$k", k.toDouble))
      .toDF("key", "name", "val"), dir, Seq("key"))
    LakeTable.applyTombstonesDv(spark, dir, Seq(105L).toDF("key"))
    LakeTable.compact(spark, dir, Seq("key"), targetFileBytes = 1L << 20)
    val after = LakeTable.latest(spark, dir)
    assert(after.deletes.isEmpty, "compacted slivers' vectors must fold in")
    assert(LakeTable.readLive(spark, dir).count() == 129L)
    assert(LakeTable.readLive(spark, dir).filter(col("key") === 105L).isEmpty)
  }

  test("replay metadata stays O(arms): 50 folds leave one marker line, redelivery still no-ops, heal still re-arms") {
    val dir = Files.createTempDirectory("graft-lakearms").toString + "/t"
    LakeTable.init((0L until 100L).map(k => (k, s"n$k", k * 1.0))
      .toDF("key", "name", "val"), dir, Seq("key"), nFiles = 2)
    (1 to 50).foreach { i =>
      LakeTable.applyChangelog(spark, dir,
        Seq((i % 40L, i.toLong, "U", i * 10.0)).toDF("key", "seq", "op", "val"),
        Seq("key"), batchId = Some(i.toLong))
    }
    val c = LakeTable.latest(spark, dir)
    assert(c.appliedBatches == Set("cdc#50"),
      "fifty folds must leave exactly ONE applied entry — the high-water")
    // the on-disk CHECKPOINT manifest carries one A line, not fifty —
    // the bound that keeps per-micro-batch commits O(change) forever
    val cp = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f"$dir%s/_commits/v${50}%09d.txt")), "UTF-8")
    assert(!cp.startsWith("C\tdelta"), "v50 is a periodic full checkpoint")
    assert(cp.linesIterator.count(_.startsWith("A\t")) == 1,
      "the checkpoint serializes O(arms) markers, not O(batches)")
    // redelivery of ANY superseded batchId no-ops under the high-water
    Seq(1L, 25L, 50L).foreach { b =>
      val replay = LakeTable.applyChangelog(spark, dir,
        Seq((0L, b, "U", -1.0)).toDF("key", "seq", "op", "val"),
        Seq("key"), batchId = Some(b))
      assert(replay.filesRewritten == 0 && replay.filesNew == 0,
        s"batch $b must dedupe against the high-water marker")
    }
    assert(LakeTable.latest(spark, dir).version == 51,
      "replays must burn no version")
    // rollback discards the high-water with the fold; the batch re-arms
    LakeTable.restoreTo(spark, dir, 49) // pre-batch-50 state
    val again = LakeTable.applyChangelog(spark, dir,
      Seq((10L, 50L, "U", 777.0)).toDF("key", "seq", "op", "val"),
      Seq("key"), batchId = Some(50L))
    assert(again.version > 0 && LakeTable.readLive(spark, dir)
      .filter(col("key") === 10L).head.getDouble(2) == 777.0,
      "after restoreTo the discarded batch must re-apply, not no-op")
    assert(LakeTable.latest(spark, dir).appliedBatches == Set("cdc#50"))
  }

  test("latest() resolves from the swept _latest/ hint; mid-swap and stale states heal") {
    val (dir, _) = mkTable("graft-lakeptr")
    LakeTable.append(Seq((900L, "n900", 9.0)).toDF("key", "name", "val"),
      dir, Seq("key")) // v2
    def hints = Option(new java.io.File(s"$dir/_commits/_latest").listFiles())
      .getOrElse(Array.empty[java.io.File]).map(_.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".txt")).sorted.toSeq
    assert(hints == Seq(f"v${2}%09d.txt"),
      "every commit lands the new hint and sweeps older ones")
    assert(LakeTable.latestVersion(spark, dir) == 2)
    // MID-SWAP reader: the new hint landed, an older one not yet swept —
    // max wins; there is NO hintless window
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dir/_commits/_latest/v000000001.txt"))
    assert(LakeTable.latestVersion(spark, dir) == 2,
      "a reader between land and sweep takes the max hint")
    // STALE-BEHIND hint (crash between commit rename and hint write):
    // probe-forward must find the newer committed version
    new java.io.File(s"$dir/_commits/_latest/v000000002.txt").delete()
    assert(hints == Seq("v000000001.txt"))
    assert(LakeTable.latestVersion(spark, dir) == 2,
      "a lagging hint must heal by probing forward")
    assert(LakeTable.latest(spark, dir).version == 2)
  }

  test("a table with no _latest/ hint resolves its latest version by listing") {
    val (dir, _) = mkTable("graft-lakenohint")
    LakeTable.append(Seq((900L, "n900", 9.0)).toDF("key", "name", "val"),
      dir, Seq("key")) // v2
    val hd = new java.io.File(s"$dir/_commits/_latest")
    Option(hd.listFiles()).foreach(_.foreach(_.delete()))
    assert(hd.delete() && !hd.exists())
    assert(LakeTable.latestVersion(spark, dir) == 2)
    assert(LakeTable.latest(spark, dir).version == 2)
    // the next commit lands the hint again
    LakeTable.append(Seq((901L, "n901", 9.1)).toDF("key", "name", "val"),
      dir, Seq("key"))
    assert(hd.list().toSeq.filter(_.startsWith("v")) == Seq(f"v${3}%09d.txt"))
    assert(LakeTable.latestVersion(spark, dir) == 3)
  }

  test("vacuumManifests prunes the log to the checkpoint anchor; retained versions still resolve") {
    val dir = Files.createTempDirectory("graft-lakemgc").toString + "/t"
    LakeTable.init((0L until 100L).map(k => (k, s"n$k", k * 1.0))
      .toDF("key", "name", "val"), dir, Seq("key"), nFiles = 2)
    (1 to 24).foreach { i =>
      LakeTable.applyChangelog(spark, dir,
        Seq((i % 40L, i.toLong, "U", i * 10.0)).toDF("key", "seq", "op", "val"),
        Seq("key"))
    } // v1..v25: checkpoints at v10, v20
    val liveRows = LakeTable.readLive(spark, dir)
      .orderBy(col("key")).collect().map(_.toSeq).toSeq
    val dropped = LakeTable.vacuumManifests(spark, dir, keepManifests = 3)
    // keep v23..v25 plus the chain back to their checkpoint anchor v20
    assert(dropped == 19, s"v1..v19 drop, v20 anchors: dropped $dropped")
    assert(LakeTable.versions(spark, dir) == (20 to 25),
      s"got ${LakeTable.versions(spark, dir)}")
    // everything above the anchor still resolves exactly
    assert(LakeTable.latest(spark, dir).version == 25)
    assert(LakeTable.readLive(spark, dir)
      .orderBy(col("key")).collect().map(_.toSeq).toSeq == liveRows)
    assert(LakeTable.history(spark, dir).map(_.version) == (20 to 25))
    // below the horizon: fails loud, like any retention miss
    intercept[Exception](LakeTable.commitAt(spark, dir, 5))
    // and the table keeps working
    LakeTable.applyChangelog(spark, dir,
      Seq((1L, 99L, "U", -5.0)).toDF("key", "seq", "op", "val"), Seq("key"))
    assert(LakeTable.readLive(spark, dir).filter(col("key") === 1L)
      .head.getDouble(2) == -5.0)
  }

  test("replaceKeyedMor: keyed replace lands O(batch), reads equal the rewrite twin, replay no-ops") {
    val (dir, base) = mkTable("graft-lakerkm")
    val pre = LakeTable.latest(spark, dir)
    val keys = Seq(20L, 21L, 500L).toDF("key")
    // 20 updates, 21 is a pure delete (no replacement row), 900 inserts
    val rows = Seq((20L, "upd", 2.2), (500L, "upd2", 5.5), (900L, "ins", 9.9))
      .toDF("key", "name", "val")
    val st = LakeTable.replaceKeyedMor(spark, dir,
      Seq(20L, 21L, 500L, 900L).toDF("key"), rows, Seq("key"),
      batchId = Some(0L))
    assert(st.filesShadowed >= 1 && st.filesShadowed < pre.files.size,
      s"only box-intersecting files shadow: $st")
    val post = LakeTable.latest(spark, dir)
    // ZERO existing files replaced — merge-on-read's defining property
    assert(pre.files.toSet.subsetOf(post.files.toSet),
      "MoR must not rewrite or drop any existing data file")
    assert(post.deletes.nonEmpty, "the shadow set rides a DV sidecar")
    val got = LakeTable.readLive(spark, dir)
      .select(col("key"), col("name"), col("val"))
      .orderBy(col("key")).collect().map(_.toSeq).toSeq
    val want = base
      .join(Seq(20L, 21L, 500L, 900L).toDF("key"), Seq("key"), "left_anti")
      .unionByName(rows)
      .orderBy(col("key")).collect().map(_.toSeq).toSeq
    assert(got == want, "MoR replace must equal the anti-join ∪ images twin")
    // replay no-ops under the arm marker
    val replay = LakeTable.replaceKeyedMor(spark, dir,
      Seq(20L).toDF("key"), rows.limit(1), Seq("key"), batchId = Some(0L))
    assert(replay.filesShadowed == 0 &&
      LakeTable.latest(spark, dir).version == post.version)
  }

  test("a concurrent writer's landed-but-uncommitted file is never swept into another writer's commit") {
    val (dir, _) = mkTable("graft-lakesweep")
    // simulate writer B mid-mutation: its data file has LANDED in the
    // table root (unique name, not yet committed) exactly when writer A
    // runs a mutation — the old before/after listing diff would adopt
    // it into A's manifest and duplicate B's rows after B's retry
    val donor = LakeTable.latest(spark, dir).files.head
    val foreign = s"part-foreign-${java.util.UUID.randomUUID()}.parquet"
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/$donor"),
      java.nio.file.Paths.get(s"$dir/$foreign"))
    val preCount = LakeTable.readLive(spark, dir).count()
    LakeTable.applyChangelog(spark, dir,
      Seq((5L, 1L, "U", 50.0)).toDF("key", "seq", "op", "val"), Seq("key"))
    val c = LakeTable.latest(spark, dir)
    assert(!c.files.contains(foreign),
      "staged landing must track exactly its own files — the foreign " +
        "uncommitted file stays invisible")
    assert(LakeTable.readLive(spark, dir).count() == preCount,
      "no duplicate rows from the swept file")
    // the foreign file is vacuum garbage, exactly like crash debris
    LakeTable.vacuum(spark, dir, keepVersions = 1)
    assert(!new java.io.File(s"$dir/$foreign").exists())
  }

  test("two streams sharing an arm: the second attach fences the first loud; distinct arms coexist") {
    val dir = Files.createTempDirectory("graft-lakearm").toString + "/t"
    LakeTable.init(
      (0L until 50L).map(k => (k, s"n$k", k * 1.0)).toDF("key", "name", "val"),
      dir, Seq("key"), nFiles = 2)
    implicit val sqlCtx = spark.sqlContext
    val inA = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double)]
    val qA = graft.streaming.LakeMaintenance.attachAppend(
      inA.toDF().toDF("key", "name", "val"), dir, Seq("key"))
    try {
      inA.addData((1000L until 1010L).map(k => (k, s"n$k", k * 1.0)))
      qA.processAllAvailable()
      assert(LakeTable.readLive(spark, dir).count() == 60L)
      // a SECOND producer attaches to the same (table, arm): the arm
      // fence turns the documented one-arm-one-stream contract into
      // loud/visible failures on BOTH sides — the new owner's
      // fresh-checkpoint batch 0 collides with the arm's recorded
      // high-water and is skipped WITH A WARNING (the silent-swallow
      // foot-gun made visible; a legitimately RESTARTED stream carries
      // its batchIds forward and never hits this), and the first loop
      // fails loud FENCED at its next fold (takeover semantics, like
      // every maintainer: latest attach owns the arm)
      val inB = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, Double)]
      val qB = graft.streaming.LakeMaintenance.attachAppend(
        inB.toDF().toDF("key", "name", "val"), dir, Seq("key"))
      try {
        inB.addData((2000L until 2010L).map(k => (k, s"n$k", k * 1.0)))
        qB.processAllAvailable()
        assert(LakeTable.readLive(spark, dir).count() == 60L,
          "batch 0 collides with the arm's high-water: skipped (warned)")
        inB.addData((2010L until 2020L).map(k => (k, s"n$k", k * 1.0)))
        qB.processAllAvailable()
        assert(LakeTable.readLive(spark, dir).count() == 70L,
          "the new owner's batches beyond the high-water fold normally")
        // re-attaching swept the superseded epoch: the arm dir stays at
        // one file however many times the stream restarts
        assert(new java.io.File(s"$dir/_commits/arms/ingest").listFiles()
          .count(_.getName.endsWith(".txt")) == 1,
          "superseded arm epochs must sweep at re-attach")
        inA.addData((3000L until 3010L).map(k => (k, s"n$k", k * 1.0)))
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
          qA.processAllAvailable())
        val msg = e.getMessage +
          Option(e.getCause).map(_.getMessage).getOrElse("")
        assert(msg.contains("FENCED"),
          s"the superseded arm owner must fail loud, got: $msg")
        assert(LakeTable.readLive(spark, dir).count() == 70L,
          "the fenced loser's batch must not land")
        // a DIFFERENT arm on the same table is unaffected (one fence per arm)
        val inT = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[Long]
        val qT = graft.streaming.LakeMaintenance.attachTombstones(
          inT.toDF().toDF("key"), dir, Seq("key"))
        try {
          inT.addData(2015L)
          qT.processAllAvailable()
          assert(LakeTable.readLive(spark, dir).count() == 69L,
            "an independent arm keeps its own fence")
        } finally qT.stop()
      } finally qB.stop()
    } finally qA.stop()
  }

  test("in-loop log retention holds _commits at O(keep) while a cursor inside the window still drains") {
    val dir = Files.createTempDirectory("graft-lakelogret").toString + "/t"
    val cursorDir = Files.createTempDirectory("graft-lakelogret-cur").toString
    LakeTable.init(
      (0L until 50L).map(k => (k, s"n$k", k * 1.0)).toDF("key", "name", "val"),
      dir, Seq("key"), nFiles = 1)
    // subscribe from "now" so every later fold is pending until drained
    assert(LakeTable.pendingChanges(
      spark, dir, cursorDir, initial = "latest").isEmpty)
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double)]
    val q = graft.streaming.LakeMaintenance.attachAppend(
      input.toDF().toDF("key", "name", "val"), dir, Seq("key"),
      nFilesNew = 1, keepManifests = Some(6))
    def manifestCount = new java.io.File(s"$dir/_commits").listFiles()
      .count(f => f.getName.startsWith("v") && f.getName.endsWith(".txt"))
    try {
      (0 until 20).foreach { i =>
        input.addData((1000L + i * 10 until 1000L + i * 10 + 10)
          .map(k => (k, s"n$k", k * 1.0)))
        q.processAllAvailable()
        // drain the subscriber every few folds — it stays inside the
        // retention window, so the pruned log never fails it
        if (i % 3 == 2) {
          val pending = LakeTable.pendingChanges(spark, dir, cursorDir)
          assert(pending.isDefined, "three folds behind: must have changes")
          val (feed, v) = pending.get
          assert(feed.filter(col("op") === "I").count() == 30L,
            "a cursor within the window drains the multi-fold span")
          LakeTable.commitCursor(spark, cursorDir, v)
        }
      }
      // 20 folds landed 21 versions; without the knob _commits grows one
      // manifest per micro-batch forever — with it the count stays at
      // O(keep) (+ back to the checkpoint anchor the delta chain
      // resolves from: ≤ keep + CheckpointInterval files, here 6 + 10)
      assert(manifestCount <= 6 + 10,
        s"in-loop vacuumManifests must bound the log, got $manifestCount")
      assert(manifestCount < 21,
        s"the loop must actually have pruned, got $manifestCount of 21")
      assert(LakeTable.readLive(spark, dir).count() == 50L + 200L)
      // a span BELOW the pruned horizon fails loud (retention contract)
      intercept[IllegalArgumentException](LakeTable.commitAt(spark, dir, 1))
    } finally q.stop()
  }
}
