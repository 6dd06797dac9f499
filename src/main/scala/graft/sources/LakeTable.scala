package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Cdc, Par}
import graft.streaming.CommitFile

/** A COMMITTED boxed z-order layout — [[LakeSink]]'s clustered parquet
  * plus a versioned manifest, the minimal transaction log that makes
  * file REPLACEMENT safe. Append-only layouts get crash-safety from
  * directory listing alone (an unknown file is conservatively read —
  * [[LakeSink.pruneFiles]]); the moment maintenance must DELETE or
  * REWRITE files (changelog upserts, right-to-be-forgotten tombstones),
  * directory presence stops being a commit marker: between "new files
  * landed" and "old files deleted" a listing reader sees every row
  * twice, and in the reverse order it sees rows vanish. The fix is the
  * same one every production lake format ships (the Delta/Iceberg
  * commit): readers resolve the live file set from the LATEST manifest
  * version, and a mutation's single atomic step is publishing the next
  * version file.
  *
  * Layout under `path/`:
  *   - data files: z-order-clustered parquet, appended with unique names,
  *     never overwritten in place;
  *   - `_commits/v%09d.txt`: one manifest per table version — the live
  *     file list AND the per-(file, clustered-column) zone-map boxes in
  *     one atomically-published file (boxes live IN the commit, so the
  *     crash window a separately-rewritten `_boxes` table had — old
  *     manifest, half-written stats — cannot exist). Most versions are
  *     DELTAS (only the lines that changed, O(change) bytes per commit);
  *     every [[CheckpointInterval]]-th version is a FULL checkpoint that
  *     bounds a reader's walk-back — the Delta-Lake log/checkpoint split,
  *     which is what keeps per-micro-batch streaming commits from
  *     rewriting (and every read from re-parsing) an O(files) manifest
  *     on a million-file table.
  *
  * Commit protocol (OPTIMISTIC CONCURRENCY: rename order serializes
  * writers — a lost race retries the whole read→compute→land→commit
  * cycle on the winner's state, so concurrent mutations both land):
  *   1. land new data files (`Append`, unique names — uncommitted files
  *      are invisible garbage, never read);
  *   2. publish the next manifest as `_commits/v%09d.txt` through
  *      [[graft.streaming.CommitFile.publish]] — its tmp-then-rename-
  *      without-overwrite is the atomic commit point, and a lost rename
  *      is a [[CommitConflictException]] that retries the cycle;
  *   3. best-effort refresh the `_commits/_latest/` hint ([[latestVersion]]);
  *   4. replaced files stay ON DISK, invisible to readers — they back
  *      time travel ([[readAt]]) until [[vacuum]]'s retention window
  *      (newest `keepVersions` manifests) drops them.
  * A crash anywhere before (2)'s rename leaves the previous version fully intact:
  * readers never observe duplicates, partial rewrites, or missing rows.
  *
  * Scale shape: the manifest is files-count-sized metadata (the same
  * rows query-time pruning reads); mutations touch ONLY the files whose
  * key-column box intersects a changed key — the rest of a 100 TB table
  * is neither read nor rewritten, and the touch decision itself is one
  * broadcast join of the box table against the changed-key set.
  */
object LakeTable {

  // operator warnings route through slf4j so log4j-configured deployments
  // see them (a bare Console.err is invisible to routed logging)
  private val log = org.slf4j.LoggerFactory.getLogger("graft.LakeTable")

  /** One table version: live data files (paths relative to the table
    * root), their zone-map boxes, and the DELETION VECTORS shadowing
    * them — `deletes` maps a data file to an equality-delete sidecar
    * (a tiny parquet of deleted key values under `_deletes/`): a reader
    * of that data file anti-joins its rows against every sidecar
    * attached to it. A file with no attachment reads raw.
    */
  final case class Commit(
      version: Int,
      files: Seq[String],
      boxes: Seq[(String, String, Double, Double)],
      schemaDdl: String,
      appliedBatches: Set[String] = Set.empty,
      deletes: Seq[(String, String)] = Seq.empty,
      rowCounts: Map[String, Long] = Map.empty,
      sizes: Map[String, Long] = Map.empty)

  /** What a maintenance pass did — the audit row it publishes. */
  final case class ApplyStats(
      version: Int, filesRewritten: Int, filesKept: Int, filesNew: Int)

  /** What a deletion-vector commit did: how many live data files the new
    * sidecar shadows (box-intersecting ones only), and the table version
    * it published. `filesShadowed == 0` means the tombstone keys missed
    * every box — a no-op that burned no version.
    */
  final case class DvStats(version: Int, filesShadowed: Int, keysListed: Long)

  /** A commit lost the rename race: another writer published this
    * version first. [[mutate]] retries on fresh state (optimistic
    * concurrency); escapes only after the retry budget.
    */
  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  private val MaxCommitRetries = 5

  /** The optimistic-concurrency loop of every commit path: `attempt`
    * resolves the latest state and publishes the next version; a lost
    * rename ([[CommitConflictException]]) re-runs it on the winner's
    * state, escaping after [[MaxCommitRetries]] consecutive losses.
    */
  private def retryOnConflict[T](attempt: => T): T = {
    var lastConflict: CommitConflictException = null
    (0 to MaxCommitRetries).foreach { _ =>
      try return attempt
      catch { case e: CommitConflictException => lastConflict = e }
    }
    throw lastConflict
  }

  /** Create the table: one z-order-clustered OPTIMIZE write + manifest
    * v1. `cols` are the clustering (and box) columns — numeric, and the
    * first one should be the table's merge key for maintenance pruning
    * to bite.
    */
  def init(
      df: DataFrame, path: String, cols: Seq[String], nFiles: Int,
      bits: Int = 16): Commit = {
    val spark = df.sparkSession
    // re-initializing an existing table would publish v1 UNDER a higher
    // latest version — readers would never see it and the table would be
    // silently wedged; a new table needs a new path (or drop _commits)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new Path(s"$path/_commits")),
      s"LakeTable.init: $path already holds a committed table — " +
        "fold into it (applyChangelog/append) or choose a fresh path")
    LakeSink.writeZOrdered(df, path, cols, nFiles, bits)
    val files = LakeSink.listParquet(spark, path)
    // ONE footer job covers boxes, row counts and sizes (was three
    // metadata passes over the same footers)
    val metas = LakeSink.footerMeta(spark, files, cols)
    writeCommit(spark, path, 1,
      files.map(rel(path, _)),
      files.flatMap(f => metas(f)._3.map { case (cn, mn, mx) =>
        (rel(path, f), cn, mn, mx) }),
      df.schema.toDDL,
      rowCounts = files.map(f => (rel(path, f), metas(f)._1)).toMap,
      sizes = files.map(f => (rel(path, f), metas(f)._2)).toMap)
  }

  /** Every committed version number, ascending. */
  def versions(spark: SparkSession, path: String): Seq[Int] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = CommitFile.list(fs, new Path(s"$path/_commits"), "v", ".txt")
    require(vs.nonEmpty,
      s"LakeTable: no committed version under $path/_commits — not a committed table")
    vs
  }

  /** The manifest of one committed version. A version committed as a
    * DELTA (`C\tdelta` header — O(changed-files) lines) resolves by
    * applying its change lines onto the previous version's state, walking
    * back at most [[CheckpointInterval]] manifests to the nearest FULL
    * checkpoint; a checkpoint manifest resolves in one read.
    */
  def commitAt(spark: SparkSession, path: String, version: Int): Commit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lines = manifestLines(fs, path, version)
    if (lines.headOption.exists(_.startsWith("C\tdelta")))
      applyDelta(commitAt(spark, path, version - 1), lines, version)
    else parseFull(lines, version)
  }

  /** One manifest's lines. Replay markers are arm-qualified
    * (`A\tarm#batchId`); a bare id is refused, naming the file — it
    * carries no arm, and dropping it would re-apply its batch.
    */
  private def manifestLines(
      fs: org.apache.hadoop.fs.FileSystem, path: String, version: Int): Vector[String] = {
    val file = commitFile(path, version)
    val in =
      try fs.open(file)
      catch {
        case e: java.io.FileNotFoundException =>
          // same loud retention contract as a vacuumed data file
          throw new IllegalArgumentException(
            s"LakeTable: version $version's manifest is absent at $path — " +
              "pruned by vacuumManifests (outside the log retention " +
              "window) or never committed", e)
      }
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    lines.find(l => l.startsWith("A") && !l.contains('#')).foreach { l =>
      throw new IllegalStateException(
        s"LakeTable: manifest $file carries a bare replay marker " +
          s"'${l.replace('\t', ' ')}' — markers are arm#batchId; a bare id " +
          "names no arm and is not read")
    }
    lines
  }

  private def parseFull(lines: Vector[String], version: Int): Commit = {
    val files = lines.collect { case l if l.startsWith("F\t") => l.split('\t')(1) }
    val boxes = lines.collect { case l if l.startsWith("B\t") =>
      val p = l.split('\t')
      (p(1), p(2), java.lang.Double.parseDouble(p(3)), java.lang.Double.parseDouble(p(4)))
    }
    val ddl = lines.collectFirst { case l if l.startsWith("S\t") => l.split('\t')(1) }
      .getOrElse("")
    val applied = lines.collect { case l if l.startsWith("A\t") =>
      l.split('\t')(1) }.toSet
    val deletes = lines.collect { case l if l.startsWith("D\t") =>
      val p = l.split('\t'); (p(1), p(2)) }
    val rowCounts = lines.collect { case l if l.startsWith("R\t") =>
      val p = l.split('\t'); (p(1), p(2).toLong) }.toMap
    val sizes = lines.collect { case l if l.startsWith("Z\t") =>
      val p = l.split('\t'); (p(1), p(2).toLong) }.toMap
    Commit(version, files, boxes, ddl, applied, deletes, rowCounts, sizes)
  }

  /** Fold one delta manifest's change lines onto the previous version's
    * resolved state. A removed file (`F-`) implicitly drops its box,
    * deletion-vector and row-count entries; additions arrive as explicit
    * `F+`/`B`/`D+`/`R` lines, removals that leave the file live as
    * `D-`/`R-`. Output ordering matches a full manifest's (sorted), so a
    * snapshot resolved through deltas is indistinguishable from one read
    * off a checkpoint.
    */
  private def applyDelta(base: Commit, lines: Vector[String], version: Int): Commit = {
    val fAdd = lines.collect { case l if l.startsWith("F+\t") => l.split('\t')(1) }
    val fDel = lines.collect { case l if l.startsWith("F-\t") =>
      l.split('\t')(1) }.toSet
    val bAdd = lines.collect { case l if l.startsWith("B\t") =>
      val p = l.split('\t')
      (p(1), p(2), java.lang.Double.parseDouble(p(3)), java.lang.Double.parseDouble(p(4)))
    }
    val dAdd = lines.collect { case l if l.startsWith("D+\t") =>
      val p = l.split('\t'); (p(1), p(2)) }
    val dDel = lines.collect { case l if l.startsWith("D-\t") =>
      val p = l.split('\t'); (p(1), p(2)) }.toSet
    val rSet = lines.collect { case l if l.startsWith("R\t") =>
      val p = l.split('\t'); (p(1), p(2).toLong) }
    val rDel = lines.collect { case l if l.startsWith("R-\t") =>
      l.split('\t')(1) }.toSet
    val zSet = lines.collect { case l if l.startsWith("Z\t") =>
      val p = l.split('\t'); (p(1), p(2).toLong) }
    val zDel = lines.collect { case l if l.startsWith("Z-\t") =>
      l.split('\t')(1) }.toSet
    val ddl = lines.collectFirst { case l if l.startsWith("S\t") => l.split('\t')(1) }
      .getOrElse(base.schemaDdl)
    val aDel = lines.collect { case l if l.startsWith("A-\t") =>
      l.split('\t')(1) }.toSet
    val applied = (base.appliedBatches -- aDel) ++
      lines.collect { case l if l.startsWith("A\t") => l.split('\t')(1) }
    Commit(
      version,
      (base.files.filterNot(fDel) ++ fAdd).sorted,
      (base.boxes.filterNot(b => fDel(b._1)) ++ bAdd).sortBy(b => (b._1, b._2)),
      ddl,
      applied,
      (base.deletes.filterNot(d => fDel(d._1) || dDel(d)) ++ dAdd).sorted,
      (base.rowCounts.view.filterKeys(f => !fDel(f) && !rDel(f)).toMap ++ rSet),
      (base.sizes.view.filterKeys(f => !fDel(f) && !zDel(f)).toMap ++ zSet))
  }

  /** The latest committed version — the ONLY thing readers trust. */
  def latest(spark: SparkSession, path: String): Commit =
    commitAt(spark, path, latestVersion(spark, path))

  /** The latest committed version NUMBER. Resolution is O(1) in the
    * table's commit count, NOT a directory listing: every commit
    * best-effort-updates a `_commits/_latest/` hint (Delta's
    * `_last_checkpoint` design), and the reader verifies the hinted
    * version exists then probes FORWARD one `exists` at a time — a
    * hint gone stale in the write→hint crash window (or under a racing
    * writer) costs O(lag) probes, never a wrong answer, because the hint
    * is only ever written AFTER its version's rename and so can only
    * lag, never lead. A missing hint (a crash before the first hint
    * landed, or a hint dir deleted out-of-band) falls back to the full
    * listing — which, at per-micro-batch commit frequency on a
    * never-pruned `_commits` directory, is exactly the
    * O(total-versions-ever) namenode load per operation the hint exists
    * to avoid.
    */
  def latestVersion(spark: SparkSession, path: String): Int = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hinted =
      try {
        // the hint VALUE lives in the hint file's NAME, under a swept
        // O(1) subdir: a new hint lands before older ones sweep, so a
        // reader in the swap window always sees at least one
        CommitFile.list(fs, latestHintDir(path), "v", ".txt")
          .lastOption.filter(v0 => v0 >= 1 && fs.exists(commitFile(path, v0)))
      } catch { case scala.util.control.NonFatal(_) => None }
    hinted match {
      case Some(v0) =>
        var v = v0
        while (fs.exists(commitFile(path, v + 1))) v += 1
        v
      case None => versions(spark, path).last
    }
  }

  private def commitFile(path: String, version: Int): Path =
    new Path(f"$path%s/_commits/v$version%09d.txt")

  private def latestHintDir(path: String): Path = new Path(s"$path/_commits/_latest")

  /** Best-effort hint refresh after a commit rename: land
    * `_commits/_latest/v%09d.txt` (the value is the NAME — torn content
    * is irrelevant), then sweep older hints. Land-then-sweep means a
    * concurrent reader always sees at least the newest hint — there is
    * no hintless window that would cost every reader caught in it the
    * full listing fallback. Failure modes are all benign: a crash leaves
    * the hint stale-BEHIND (probe-forward heals it on the next read, and
    * the next commit rewrites it). It is never ahead: it is only written
    * after the version it names committed, and the reader verifies
    * existence before trusting it.
    */
  private def writeLatestHint(
      fs: org.apache.hadoop.fs.FileSystem, path: String, version: Int): Unit =
    try {
      val hd = latestHintDir(path)
      def at(v: Int) = new Path(hd, f"v$v%09d.txt")
      fs.mkdirs(hd)
      CommitFile.touch(fs, at(version))
      CommitFile.list(fs, hd, "v", ".txt").filter(_ < version)
        .foreach(v => fs.delete(at(v), false))
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Every manifest, ascending — the table's audit trail. Resolved in
    * ONE forward pass: each delta folds onto the previous version's
    * already-resolved state, so the full history of a table with V
    * versions costs V manifest reads — not V × walk-back, which matters
    * once streaming folds have accumulated thousands of delta commits.
    */
  def history(spark: SparkSession, path: String): Seq[Commit] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Seq.newBuilder[Commit]
    var prev: Commit = null
    versions(spark, path).foreach { v =>
      val lines = manifestLines(fs, path, v)
      prev =
        if (lines.headOption.exists(_.startsWith("C\tdelta"))) {
          require(prev != null && prev.version == v - 1,
            s"LakeTable.history: delta v$v without resolved v${v - 1}")
          applyDelta(prev, lines, v)
        } else parseFull(lines, v)
      out += prev
    }
    out.result()
  }

  /** TIME TRAVEL: the snapshot exactly as version `version` committed it.
    * Replaced files are RETAINED on disk until [[vacuum]] drops them, so
    * any version inside the retention window reads back byte-identical;
    * a version whose files vacuum already removed fails loud (the
    * Delta/Iceberg retention contract).
    */
  def readAt(spark: SparkSession, path: String, version: Int): DataFrame = {
    val c = commitAt(spark, path, version)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val missing = (c.files ++ c.deletes.map(_._2).distinct)
      .filterNot(f => fs.exists(new Path(s"$path/$f")))
    require(missing.isEmpty,
      s"LakeTable: version $version references vacuumed files " +
        s"(e.g. ${missing.take(3).mkString(", ")}) — outside the retention window")
    if (c.files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(c.schemaDdl))
    else readFilesResolved(spark, path, c, c.files)
  }

  /** The live data files, absolute. */
  def liveFiles(spark: SparkSession, path: String): Seq[String] =
    latest(spark, path).files.map(abs(path, _))

  /** The current snapshot — exactly the latest commit's files, never the
    * directory listing (uncommitted and replaced files are invisible).
    */
  def readLive(spark: SparkSession, path: String): DataFrame = {
    val c = latest(spark, path)
    if (c.files.isEmpty)
      // an empty table has no file to infer from: the commit carries the
      // schema (as DDL) precisely for this state
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(c.schemaDdl))
    // the COMMIT's schema is the reader schema, not footer inference:
    // after schema evolution (an append epoch adding a column) older
    // files simply lack the column and serve NULL — the name-based
    // parquet reconciliation every lake format relies on; deletion
    // vectors apply per attached file inside the shared resolver
    else readFilesResolved(spark, path, c, c.files)
  }

  /** Zone-map-pruned range read over the committed layout: the pruning
    * decision is driver arithmetic over the manifest's own boxes — with
    * a commit there ARE no unknown files, so the prune is exact, plus
    * the same residual filter as [[LakeSink.readPruned]].
    */
  def readPrunedLive(
      spark: SparkSession, path: String,
      ranges: Seq[(String, Double, Double)]): DataFrame = {
    val c = latest(spark, path)
    val (kept, _) = LakeSink.pruneFilesListed(
      c.files.map(abs(path, _)),
      c.boxes.map { case (f, col_, mn, mx) => (abs(path, f), col_, mn, mx) },
      ranges)
    val base =
      if (kept.isEmpty) readLive(spark, path).filter(lit(false))
      else readFilesResolved(spark, path, c, kept.map(rel(path, _)))
    ranges.foldLeft(base) { case (d, (cn, lo, hi)) =>
      d.filter(col(cn) >= lo && col(cn) <= hi)
    }
  }

  /** The live rows whose `keyCol` is one of `keys`, opening ONLY the
    * box-intersecting files — the point-read companion of
    * [[readPrunedLive]] for an arbitrary key set (the SCD maintainer's
    * per-fold current-slice probe). Exact: the box prune is conservative
    * ([[shadowedFiles]]'s contract), the broadcast semi-join is the
    * residual filter. Cost is O(files holding the keys), never O(table).
    */
  def readKeyed(
      spark: SparkSession, path: String, keys: DataFrame,
      keyCol: String = "key"): DataFrame = {
    val c = latest(spark, path)
    val ks = keys.select(col(keyCol)).distinct()
    val files = shadowedFiles(spark, c, ks, keyCol)
    if (files.isEmpty) readFilesResolved(spark, path, c, Seq.empty)
    else readFilesResolved(spark, path, c, files)
      .join(broadcast(ks), Seq(keyCol), "left_semi")
  }

  /** MERGE a CDC changelog into the table — the continuous
    * changelog-table semantics of the reference's consumers
    * (consumers/faust_stream.py:87-92 upserts the station table;
    * consumers/ksql.py:35-39 maintains it continuously) promoted to the
    * 100 TB boxed layout, WITH the delete half a training-data lake
    * needs. Table schema is [[Cdc.mergeChangelog]]'s (key, name, val);
    * `changelog` is (key, seq, op 'U'|'D', val).
    *
    * Only files whose `keyCol` box intersects a touched key are read and
    * rewritten: the changelog reduces to one row per key (the MERGE's
    * own first stage), the reduced key set probes the broadcast box
    * table, and the surviving file list is metadata-sized. Rows from
    * touched files merge with the reduced changelog via the exact
    * [[Cdc.mergeChangelog]] plan (so lake MERGE == frame MERGE, the
    * oracle contract); inserted keys beyond every box need no file at
    * all and land in the fresh z-ordered batch. Untouched files carry
    * their bytes AND their box rows into the next commit unread.
    */
  def applyChangelog(
      spark: SparkSession, path: String, changelog: DataFrame,
      cols: Seq[String], keyCol: String = "key", nFilesNew: Int = 2,
      bits: Int = 16, batchId: Option[Long] = None,
      arm: String = "cdc"): ApplyStats = {
    // streaming at-least-once: an already-applied batchId is a no-op —
    // the applied set travels IN the manifest, so the check and the
    // apply commit atomically together (the Bm25Maintainer lesson);
    // the check itself lives in mutate, on the FRESH manifest per retry.
    // The compacted changelog is materialized ONCE (O(batch) executor-
    // local blocks, the ScdMaintainer.fold trade): the box probe, the
    // merge join under the z-order stats pass, the range-sampling pass
    // and the landing write each re-ran the whole compaction window
    // otherwise — four evaluations of the changelog pipeline per MERGE
    // (profiled; commit retries also reuse the blocks)
    val reduced = Cdc.compactChangelog(changelog).localCheckpoint()
    mutate(spark, path, cols, keyCol, nFilesNew, bits,
      touchKeys = reduced.select(col("key")),
      rewrite = base => Cdc.mergeChangelog(base, reduced).drop("last_seq"),
      appliedBatch = batchId.map(b => s"$arm#$b"))
  }

  /** [[applyChangelog]] for FULL-ROW-IMAGE changelogs (key, seq, op,
    * name, val) — [[Cdc.mergeChangelogFull]] at the storage layer. With
    * images, fold batching is invisible: any micro-batch boundary
    * placement yields the byte-identical table (the property spec pins
    * it), which is the contract to pick when resurrection must preserve
    * row content.
    */
  def applyChangelogFull(
      spark: SparkSession, path: String, changelog: DataFrame,
      cols: Seq[String], keyCol: String = "key", nFilesNew: Int = 2,
      bits: Int = 16, batchId: Option[Long] = None,
      arm: String = "cdc"): ApplyStats = {
    // materialized once — same rationale as applyChangelog's barrier
    val reduced = Cdc.compactChangelogFull(changelog).localCheckpoint()
    mutate(spark, path, cols, keyCol, nFilesNew, bits,
      touchKeys = reduced.select(col("key")),
      rewrite = base => Cdc.mergeChangelogFull(base, reduced).drop("last_seq"),
      appliedBatch = batchId.map(b => s"$arm#$b"))
  }

  /** Right-to-be-forgotten at the storage layer: delete every row whose
    * key is tombstoned, rewriting ONLY the files whose box can hold one.
    * This is the executable half of [[graft.operators.Governance
    * .forgetCascade]]'s work list — the cascade names the artifacts, this
    * removes the table rows and publishes the attested next version
    * (tombstoned keys are unreadable the instant the commit lands, while
    * a crash before it leaves the previous version fully intact).
    */
  def applyTombstones(
      spark: SparkSession, path: String, tombstones: DataFrame,
      cols: Seq[String], keyCol: String = "key", nFilesNew: Int = 2,
      bits: Int = 16, batchId: Option[Long] = None,
      arm: String = "forget"): ApplyStats = {
    val keys = tombstones.select(col(keyCol).as("key"))
    // a delete of an absent key is semantically a no-op, so replay is
    // SAFE even without the marker — the batchId check (in mutate, on
    // the fresh manifest) just keeps a redelivered batch from paying a
    // pointless box-probe + rewrite and burning a manifest version
    mutate(spark, path, cols, keyCol, nFilesNew, bits,
      touchKeys = keys,
      rewrite = base =>
        base.join(broadcast(keys.withColumnRenamed("key", keyCol)),
          Seq(keyCol), "left_anti"),
      appliedBatch = batchId.map(b => s"$arm#$b"))
  }

  /** APPEND a batch under the manifest protocol — [[LakeSink.appendBoxed]]
    * re-homed on the committed layout: the batch z-order-clusters into
    * its own tight-boxed files (touching NO existing file), their footer
    * boxes fold into the next manifest, and the rename publishes both
    * atomically — so the append-then-box crash window the listing layout
    * tolerates with its keep-unknown-files rule simply does not exist
    * here. Cross-batch box overlap accumulates exactly as appendBoxed's
    * does; [[shouldOptimize]]/[[optimize]] are the response.
    */
  def append(
      df: DataFrame, path: String, cols: Seq[String], nFilesNew: Int = 2,
      bits: Int = 16, batchId: Option[Long] = None,
      arm: String = "ingest"): ApplyStats = {
    val spark = df.sparkSession
    // appendOnly, NOT an empty touch-key probe: the probe conservatively
    // marks box-less files touched (they cannot be pruned), and append's
    // rewrite ignores its base — a keyed probe here would silently DROP
    // an unboxed file's rows from the manifest
    mutate(spark, path, cols, keyCol = cols.head, nFilesNew, bits,
      touchKeys = df.select(col(cols.head).as("key")).limit(0),
      rewrite = _ => df,
      appliedBatch = batchId.map(b => s"$arm#$b"),
      appendOnly = true)
  }

  /** Re-OPTIMIZE the table in place: rewrite EVERY live row as one fresh
    * z-order clustering and publish it as the next version. The listing
    * layout's [[LakeSink.reoptimizeBoxed]] had to write to a NEW
    * directory (overwriting a directory while reading it is undefined);
    * under the manifest the rewrite is just a mutation that touches all
    * files — readers on the old version are untouched, the swap is the
    * rename, and the pre-optimize version stays time-travelable until
    * vacuum retires it.
    */
  def optimize(
      spark: SparkSession, path: String, cols: Seq[String], nFiles: Int,
      bits: Int = 16): ApplyStats =
    mutateAll(spark, path, cols, nFiles, bits)

  /** Bin-packing COMPACTION — the small-file half of OPTIMIZE, without
    * the full rewrite. Streaming maintenance lands change-sized files
    * every fold; after ten thousand folds the manifest lists ten thousand
    * slivers and scan cost is dominated by per-file open overhead. A
    * full [[optimize]] re-clusters the WHOLE table — 100 TB of IO to fix
    * a metadata problem. `compact` rewrites ONLY the live files smaller
    * than `targetFileBytes`, packing their rows into
    * ceil(their summed bytes / target) fresh z-ordered files; every
    * right-sized file carries its bytes and its box rows into the next
    * commit unread (the Delta `OPTIMIZE` bin-packing contract). Row
    * content is unchanged, so: applied batchIds carry over, pre-compact
    * versions stay time-travelable, and a [[readChanges]] span across a
    * compaction is EMPTY (the carried-pair filter sees every row land
    * where it left — maintenance stays invisible to subscribers).
    * Fewer than two undersized files is a NO-OP that burns no manifest
    * version (the idle-trigger rule). Same optimistic-concurrency retry
    * as every mutation.
    *
    * "Undersized" means under HALF the target: selecting right up to the
    * target would re-select compaction's own outputs forever (n packed
    * inputs land ceil(bytes/target) files that average JUST under the
    * target), so an always-on loop would rewrite the same bytes every
    * poll. Under the half-target rule a packed output is ≥ target/2 in
    * the steady state and never re-picked; only genuinely new slivers
    * (the next ingest folds) trigger the next compaction.
    */
  def compact(
      spark: SparkSession, path: String, cols: Seq[String],
      targetFileBytes: Long, bits: Int = 16): ApplyStats =
    retryOnConflict(compactOnce(spark, path, cols, targetFileBytes, bits))

  /** True iff [[compact]] would do work: at least two live files are
    * under the half-target selection bound — the cheap trigger a
    * maintenance loop polls. Sizes come from the manifest's own `Z`
    * lines (recorded at every commit from O(fresh) stats), so the poll
    * is pure driver arithmetic — no per-file RPC.
    */
  def shouldCompact(
      spark: SparkSession, path: String, targetFileBytes: Long): Boolean = {
    val c = latest(spark, path)
    c.files.count(f => statOf(path, c, "Z", c.sizes, f) < targetFileBytes / 2) >= 2
  }

  /** A live file's `R` row count or `Z` byte size. Every commit records
    * both for every file it adds, so a miss is a damaged manifest —
    * refused, naming the file, never backfilled by a footer read or stat.
    */
  private def statOf(
      path: String, c: Commit, tag: String, stats: Map[String, Long],
      f: String): Long =
    stats.getOrElse(f, throw new IllegalStateException(
      s"LakeTable: manifest v${c.version} at $path records no $tag line " +
        s"for live file $f"))

  private def compactOnce(
      spark: SparkSession, path: String, cols: Seq[String],
      targetFileBytes: Long, bits: Int): ApplyStats = {
    val c = latest(spark, path)
    val sized = c.files.map(f => f -> statOf(path, c, "Z", c.sizes, f))
    val small = sized.filter(_._2 < targetFileBytes / 2).map(_._1)
    if (small.size < 2) return ApplyStats(c.version, 0, c.files.size, 0)
    val smallSet = small.toSet
    val packed = sized.collect { case (f, len) if smallSet(f) => len }.sum
    val nFiles = math.max(1, math.ceil(packed.toDouble / targetFileBytes).toInt)
    // DV-resolved: compacting a shadowed sliver folds its vectors in —
    // a fully-shadowed sliver set resolves to NO rows, and landZOrdered
    // then lands nothing: the commit just drops the slivers (writing a
    // zero-row box-less file here would make every later keyed mutation
    // conservatively rewrite it forever)
    val rows = readFilesResolved(spark, path, c, small)
    val landed = landZOrdered(spark, path, rows, cols, nFiles, bits)
    val fresh = landed.map(_.path)
    val freshBoxes = landedBoxes(path, landed)
    val kept = c.files.filterNot(smallSet)
    val committed = writeCommit(spark, path, c.version + 1,
      kept ++ fresh.map(rel(path, _)),
      c.boxes.filterNot(b => smallSet(b._1)) ++ freshBoxes,
      c.schemaDdl, c.appliedBatches,
      deletes = c.deletes.filterNot(d => smallSet(d._1)),
      rowCounts = c.rowCounts.view.filterKeys(!smallSet(_)).toMap ++
        landed.map(l => (rel(path, l.path), l.rows)),
      prev = Some(c),
      sizes = c.sizes.view.filterKeys(!smallSet(_)).toMap ++
        landed.map(l => (rel(path, l.path), l.bytes)))
    ApplyStats(committed.version, small.size, kept.size, fresh.size)
  }

  /** The all-dims pairwise box-overlap fraction of the CURRENT manifest's
    * zone map — [[LakeSink.boxOverlapAllDims]] over the commit's own
    * boxes; the [[optimize]] trigger, same threshold semantics as
    * [[LakeSink.shouldReoptimize]].
    */
  def shouldOptimize(
      spark: SparkSession, path: String, maxOverlap: Double = 0.5): Boolean =
    LakeSink.boxOverlapAllDims(latest(spark, path).boxes) > maxOverlap

  /** CHANGEFEED between two committed versions — the row-level diff a
    * downstream incremental consumer subscribes to (the Delta CDF /
    * Iceberg changelog-scan read), derived from the manifests alone:
    * data files are IMMUTABLE, so every logical change between
    * `fromVersion` and `toVersion` lives in a file one manifest
    * references and the other doesn't. Only those replaced+added files
    * are read — a MERGE that touched 0.1% of a 100 TB table yields a
    * changefeed scan of 0.1%, and the kept 99.9% is provably not opened
    * (the spec deletes a kept file from disk and the feed still reads).
    * The worst case is an [[optimize]] span (every file replaced): the
    * feed scans the table once and returns EMPTY, because a re-cluster
    * changes no row — the carried-pair filter makes file movement
    * invisible, which is exactly the contract that lets consumers
    * subscribe to the table without seeing maintenance.
    *
    * Output: (`keyCol`, op 'I'|'U'|'D', payload columns) — 'I'/'U' rows
    * carry the NEW image, 'D' rows the last OLD image (the Debezium
    * before-image convention for deletes). A multi-commit span returns
    * the NET change (intermediate flips collapse), so
    * `Cdc.mergeChangelogFull(readAt(from), feed as 'U'/'D')` equals
    * `readAt(to)` exactly — the round-trip property LakeTableSpec pins.
    *
    * Contract: the table is key-unique on `keyCol` (the MERGE contract —
    * an append-only duplicate-key table has no per-key diff). A span may
    * cross an append-safe SCHEMA EVOLUTION: the feed is delivered in the
    * span-END schema, with pre-boundary rows projected to it (columns
    * added inside the span read NULL for old images — the same NULL those
    * rows serve in every snapshot read), so a durable subscriber's poll
    * keeps draining across the boundary instead of wedging forever. A
    * non-append evolution (dropped column, type change) fails loud — that
    * feed has no stable row contract.
    *
    * With `withPreimage = true` the feed carries BOTH images — payload
    * columns hold the NEW image (NULL on 'D'), `<col>_pre` columns the
    * OLD (NULL on 'I') — the shape a retracting consumer needs
    * ([[graft.operators.Mv.applyChanges]] subtracts the preimage's
    * contribution and adds the postimage's, so an update that moves a
    * row BETWEEN groups retracts from the old group and lands in the
    * new). Default mode keeps the single-image Debezium convention.
    */
  def readChanges(
      spark: SparkSession, path: String, fromVersion: Int, toVersion: Int,
      keyCol: String = "key", withPreimage: Boolean = false): DataFrame = {
    require(fromVersion < toVersion,
      s"LakeTable.readChanges: need fromVersion < toVersion, got $fromVersion >= $toVersion")
    val cFrom0 = commitAt(spark, path, fromVersion)
    val cTo = commitAt(spark, path, toVersion)
    // the span-end schema must be an append-safe evolution of the span
    // start: every start field present, same type (nullability
    // legitimately loosens across a MERGE — an inserted key carries NULL
    // for base-only columns). Columns added inside the span are fine:
    // the whole feed projects to the END schema below.
    val toFields = org.apache.spark.sql.types.StructType.fromDDL(cTo.schemaDdl)
      .fields.map(f => f.name -> f.dataType).toMap
    org.apache.spark.sql.types.StructType.fromDDL(cFrom0.schemaDdl)
      .fields.foreach { f =>
        require(toFields.get(f.name).contains(f.dataType),
          s"LakeTable.readChanges: non-append schema change across the span " +
            s"(v$fromVersion: ${cFrom0.schemaDdl} / v$toVersion: ${cTo.schemaDdl})")
      }
    // both sides read with the END schema: pre-boundary files lack any
    // column added inside the span and serve NULL — the feed's one shape
    val cFrom = cFrom0.copy(schemaDdl = cTo.schemaDdl)
    // the diff unit is (file, attached-deletion-vector set): a DV-only
    // commit replaces no file, but a file whose attachment set changed
    // serves different rows — it diffs as removed (old resolution) +
    // added (new resolution), and the carried-pair filter nets out the
    // rows the new vectors did not touch
    def units(c: Commit): Map[String, List[String]] = {
      val dv = c.deletes.groupBy(_._1)
        .view.mapValues(_.map(_._2).distinct.sorted.toList).toMap
      c.files.map(f => f -> dv.getOrElse(f, Nil)).toMap
    }
    val uFrom = units(cFrom)
    val uTo = units(cTo)
    val removed = cFrom.files.filter(f => !uTo.get(f).contains(uFrom(f)))
    val added = cTo.files.filter(f => !uFrom.get(f).contains(uTo(f)))
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val missing = (removed ++ added ++
      removed.flatMap(uFrom(_)) ++ added.flatMap(uTo(_)))
      .filterNot(f => fs.exists(new Path(s"$path/$f")))
    require(missing.isEmpty,
      s"LakeTable.readChanges: span references vacuumed files " +
        s"(e.g. ${missing.take(3).mkString(", ")}) — outside the retention window")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(cTo.schemaDdl)
    def readOrEmpty(c: Commit, files: Seq[String]): DataFrame =
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      // the span-END reader schema, NOT footer inference: a replaced file
      // may predate a schema evolution (before OR inside the span) and
      // lack a since-added column — its rows serve NULL; each side
      // resolves through ITS OWN deletion vectors
      else readFilesResolved(spark, path, c, files)
    val payload = schema.fieldNames.toSeq.filterNot(_ == keyCol)
    require(payload.nonEmpty,
      s"LakeTable.readChanges: table has no payload columns beyond $keyCol")
    def imaged(df: DataFrame, as: String): DataFrame =
      df.select(col(keyCol), struct(payload.map(col): _*).as(as))
    val changed = imaged(readOrEmpty(cFrom, removed), "_old")
      .join(imaged(readOrEmpty(cTo, added), "_new"), Seq(keyCol), "full_outer")
      // a rewrite carries untouched rows into fresh files — identical
      // (old, new) pairs are file movement, not change, and drop here
      .filter(!(col("_old") <=> col("_new")))
    val op = when(col("_old").isNull, lit("I"))
      .when(col("_new").isNull, lit("D"))
      .otherwise(lit("U")).as("op")
    if (withPreimage)
      changed.select(
        col(keyCol) +: op +:
          (payload.map(c => col(s"_new.$c").as(c)) ++
            payload.map(c => col(s"_old.$c").as(s"${c}_pre"))): _*)
    else
      changed.select(
        col(keyCol) +: op +:
          payload.map(c =>
            when(col("_new").isNotNull, col(s"_new.$c"))
              .otherwise(col(s"_old.$c")).as(c)): _*)
  }

  /** The committed position of a changefeed CURSOR — the last table
    * version a subscriber has fully processed (None before the first
    * [[commitCursor]]). One file under `cursorDir`, atomically replaced.
    */
  def cursor(spark: SparkSession, cursorDir: String): Option[Int] = {
    val fs = new Path(cursorDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    CommitFile.list(fs, new Path(cursorDir), "cursor-v", ".txt").lastOption
  }

  /** The changes a durable SUBSCRIBER has not yet processed: the net
    * [[readChanges]] feed from its cursor to the current version, plus
    * the version to [[commitCursor]] after processing — the external
    * consumer's form of the contract the lockstep view loop
    * ([[graft.streaming.LakeMaintenance.refreshView]]) keeps internally.
    * Returns None when the subscriber is up to date.
    *
    * Delivery semantics are AT-LEAST-ONCE with consumer-side
    * idempotence: process the frame, THEN commit the returned version —
    * a crash between the two re-delivers the same span (the feed is a
    * pure function of two manifests), and because a multi-commit span
    * returns the NET change, a subscriber that fell N versions behind
    * catches up in ONE change-sized read, never N replays. A fresh
    * cursor starts at version 1 with `initial = "earliest"` (replay the
    * table's whole history as a feed) or at the current version with
    * `"latest"` (changes from now on).
    *
    * Retention is the subscriber's contract with [[vacuum]]:
    * `keepVersions` must cover the slowest cursor's lag, exactly as it
    * must cover the view loop's.
    */
  def pendingChanges(
      spark: SparkSession, path: String, cursorDir: String,
      keyCol: String = "key", withPreimage: Boolean = false,
      initial: String = "earliest"): Option[(DataFrame, Int)] = {
    val cur = latest(spark, path).version
    val from = cursor(spark, cursorDir).getOrElse {
      initial match {
        case "earliest" => 1
        case "latest" =>
          // ANCHOR the subscription now: "latest" resolves against the
          // table, not the cursor, so without a committed position every
          // later poll would re-resolve to the then-current version and
          // the subscriber would be permanently "up to date" — silently
          // missing every change. Pinning the anchor as the first cursor
          // commit makes the next poll deliver from THIS version.
          commitCursor(spark, cursorDir, cur)
          cur
        case other => throw new IllegalArgumentException(
          s"LakeTable.pendingChanges: initial must be earliest|latest, got $other")
      }
    }
    if (from >= cur) None
    else Some((readChanges(spark, path, from, cur, keyCol, withPreimage), cur))
  }

  /** Advance a subscriber's cursor to `version`. Crash-safe WITHOUT an
    * overwriting rename: the position lives in the FILENAME
    * (`cursor-v%09d.txt`, a [[graft.streaming.CommitFile.publish]]), the
    * reader takes the max, and older markers are best-effort garbage —
    * a crash at any point leaves either the old max or both, never no
    * cursor (losing the cursor would silently re-deliver the whole
    * history under `initial = "earliest"`).
    */
  def commitCursor(spark: SparkSession, cursorDir: String, version: Int): Unit = {
    val fs = new Path(cursorDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(cursorDir)
    def at(v: Int) = f"cursor-v$v%09d.txt"
    fs.mkdirs(dir)
    if (!CommitFile.publish(fs, dir, at(version), version.toString.getBytes("UTF-8")))
      // another commit of the same position won the race: equally done
      require(fs.exists(new Path(dir, at(version))),
        s"LakeTable.commitCursor: rename lost at $cursorDir")
    // sweep superseded markers; failures here are harmless (max wins)
    CommitFile.list(fs, dir, "cursor-v", ".txt").filter(_ < version)
      .foreach(v => fs.delete(new Path(dir, at(v)), false))
  }

  /** One at-least-once subscriber POLL — the library form of the consumer
    * loop every durable changefeed subscriber runs (the reference's
    * consumer role; previously only SCALE.md prose + the bench's
    * hand-rolled thread): resolve [[pendingChanges]], hand the feed and
    * its version to `process`, then [[commitCursor]] — with the WHOLE
    * attempt retried within an elapsed-time window
    * ([[graft.streaming.ReadRetry]]) when the span scan loses the race to
    * in-loop retention ([[vacuum]] aging the span's replaced files out
    * mid-read). Never a fixed retry count: a scan slower than two fold
    * intervals is a slow host, not a broken retention clamp; the window
    * expiring rethrows loud. Getting this interplay wrong silently
    * reintroduces the reader/sweep race the bench proves closed.
    *
    * `process` runs BEFORE the cursor commit, so delivery stays
    * at-least-once and `process` must be idempotent — a retried attempt
    * (or a crash between process and commit) re-delivers the same span,
    * and a span re-resolved mid-retry can have GROWN (new commits landed):
    * both are the documented subscriber contract, not anomalies. Returns
    * the version the cursor advanced to, or None when already up to date.
    * Retention remains the caller's contract: `keepVersions` must cover
    * the slowest cursor's lag plus one retry window.
    */
  def pollChanges(
      spark: SparkSession, path: String, cursorDir: String,
      keyCol: String = "key", withPreimage: Boolean = false,
      initial: String = "earliest",
      retryWindowMs: Long = 30000L, onRetry: () => Unit = () => ())(
      process: (DataFrame, Int) => Unit): Option[Int] =
    graft.streaming.ReadRetry.retryFor(retryWindowMs, onRetry) {
      pendingChanges(spark, path, cursorDir, keyCol, withPreimage, initial) match {
        case Some((feed, v)) =>
          process(feed, v)
          commitCursor(spark, cursorDir, v)
          Some(v)
        case None => None
      }
    }

  /** Delete data files outside the retention window — anything not
    * referenced by the newest `keepVersions` manifests: crashed writers'
    * uncommitted garbage, and files replaced long enough ago — plus
    * stale tmp manifests. Returns the number of files removed.
    * Manifests themselves are never deleted (metadata-sized history);
    * [[readAt]] on a version whose data was vacuumed fails loud.
    *
    * Concurrency: under a single maintenance owner this is safe at any
    * time — the live set is defined by the manifests alone. Under
    * CONCURRENT writers, a file an in-flight mutation just landed is
    * indistinguishable from crash garbage until its commit renames, so
    * pass `graceMs` ≥ the longest land→commit window: only unreferenced
    * files whose modification time is older than the grace are deleted
    * (the same mtime-retention rationale as Delta's VACUUM hours).
    */
  def vacuum(
      spark: SparkSession, path: String, keepVersions: Int = 2,
      graceMs: Long = 0L): Int = {
    val vs = versions(spark, path)
    val retained = vs.takeRight(math.max(1, keepVersions))
      .map(commitAt(spark, path, _))
      .flatMap(c => c.files ++ c.deletes.map(_._2)).toSet
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cutoff = System.currentTimeMillis() - graceMs
    val dvDir = new Path(s"$path/_deletes")
    val dvFiles =
      if (!fs.exists(dvDir)) Seq.empty[String]
      else fs.listStatus(dvDir).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(s => s"_deletes/${s.getPath.getName}")
    val stale = (LakeSink.listParquet(spark, path).map(rel(path, _)) ++ dvFiles)
      .filterNot(retained)
      .filter(f =>
        fs.getFileStatus(new Path(s"$path/$f")).getModificationTime <= cutoff)
    stale.foreach(f => fs.delete(new Path(s"$path/$f"), false))
    val tmp = CommitFile.sweep(fs, new Path(s"$path/_commits"), graceMs)
    // crashed sidecar writers leave .tmp-<uuid> DIRS under _deletes
    val dvTmp = CommitFile.sweep(fs, dvDir, graceMs)
    // crashed mutations leave hidden .stage-<uuid> DIRS at the table root
    val stageTmp = fs.listStatus(new Path(path)).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith(".stage-") &&
        fs.getFileStatus(p).getModificationTime <= cutoff)
    stageTmp.foreach(fs.delete(_, true))
    stale.size + tmp + dvTmp + stageTmp.size
  }

  /** Prune the MANIFEST log itself — the opt-in companion of [[vacuum]]
    * for tables whose `_commits` directory has accumulated months of
    * per-micro-batch versions ([[latestVersion]]'s pointer makes READS
    * O(1) regardless; this bounds the listing-based paths — [[history]],
    * [[vacuum]]'s retained-set walk — and the namenode's file count).
    * Keeps the newest `keepManifests` versions AND everything back to
    * the nearest FULL checkpoint at or below that horizon, so every
    * retained delta still resolves (a delta needs its checkpoint chain).
    * Time travel and changefeed spans below the horizon fail loud
    * afterwards — the same retention contract as data-file vacuum, and
    * `keepManifests` must therefore cover the slowest subscriber's lag.
    * Returns the number of manifests dropped.
    */
  def vacuumManifests(
      spark: SparkSession, path: String, keepManifests: Int): Int = {
    require(keepManifests >= 1, "LakeTable.vacuumManifests: keep >= 1")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = versions(spark, path)
    val horizon = vs.takeRight(keepManifests).head
    def isFull(v: Int): Boolean = {
      val in = fs.open(commitFile(path, v))
      val head = try {
        val b = new java.io.BufferedReader(
          new java.io.InputStreamReader(in, "UTF-8"))
        Option(b.readLine()).getOrElse("")
      } finally in.close()
      !head.startsWith("C\tdelta")
    }
    // the resolution anchor: the newest full checkpoint at/below horizon
    val anchor = vs.filter(_ <= horizon).reverse.find(isFull).getOrElse(
      throw new IllegalStateException(
        s"LakeTable.vacuumManifests: no full checkpoint at or below " +
          s"v$horizon at $path — log is unresolvable"))
    val dropped = vs.filter(_ < anchor)
    dropped.foreach(v => fs.delete(commitFile(path, v), false))
    dropped.size
  }

  /** ROLL BACK to a known-good version: publish, as the NEXT version, a
    * commit carrying exactly `toVersion`'s state (files, boxes, schema,
    * deletion vectors, row counts AND replay markers). Data files are
    * never touched — versions between `toVersion` and the restore become
    * invisible history, their files vacuum garbage once out of
    * retention. This is the heal primitive for a MULTI-TABLE maintainer
    * ([[graft.streaming.ScdMaintainer]]): a fold that crashed after
    * committing to one table but not the other restores each table to
    * the last cross-table marker's pinned version on the next fold, so
    * the half-applied work — including its replay marker, which must
    * not survive or a redelivery of the same batch would wrongly no-op —
    * is atomically discarded. Restoring to the current version is a
    * no-op that burns nothing. Requires `toVersion`'s files inside the
    * retention window (fails loud otherwise, like any stale read).
    */
  private[graft] def restoreTo(
      spark: SparkSession, path: String, toVersion: Int): Commit =
    retryOnConflict {
      val cur = latest(spark, path)
      if (cur.version == toVersion) return cur
      require(cur.version > toVersion,
        s"LakeTable.restoreTo: $toVersion is ahead of current ${cur.version}")
      val c = commitAt(spark, path, toVersion)
      val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val missing = (c.files ++ c.deletes.map(_._2).distinct)
        .filterNot(f => fs.exists(new Path(s"$path/$f")))
      require(missing.isEmpty,
        s"LakeTable.restoreTo: version $toVersion references vacuumed files " +
          s"(e.g. ${missing.take(3).mkString(", ")}) — outside the retention window")
      writeCommit(spark, path, cur.version + 1, c.files, c.boxes,
        c.schemaDdl, c.appliedBatches, c.deletes, c.rowCounts,
        prev = Some(cur), sizes = c.sizes)
    }

  /** Read a subset of a commit's data files with that commit's DELETION
    * VECTORS applied — the one read primitive every snapshot/changefeed/
    * maintenance path shares (and the hook an external index like
    * [[BloomIndex.lookup]] must route through, or shadowed rows would
    * resurrect). Files sharing the same attachment set read as one scan;
    * each shadowed group anti-joins against the broadcast union of its
    * sidecars' keys (sidecars are tombstone-request-sized, never
    * data-sized). `relFiles` are manifest-relative; output column order
    * is the commit schema's.
    */
  def readFilesResolved(
      spark: SparkSession, path: String, c: Commit,
      relFiles: Seq[String]): DataFrame = {
    val schema = readerSchema(c.schemaDdl)
    val outCols = schema.fieldNames.toSeq.map(col)
    if (relFiles.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val dvByFile = c.deletes.groupBy(_._1)
      .view.mapValues(_.map(_._2).distinct.sorted.toList).toMap
    val groups = relFiles.groupBy(f => dvByFile.getOrElse(f, Nil))
      .toSeq.sortBy(_._1.mkString(","))
    groups.map { case (dvs, fs0) =>
      val base = spark.read.schema(schema).parquet(fs0.map(abs(path, _)): _*)
      if (dvs.isEmpty) base
      else {
        val del = spark.read.parquet(dvs.map(abs(path, _)): _*)
        val kc = del.schema.fieldNames.head
        base.join(broadcast(del.select(col(kc)).distinct()), Seq(kc), "left_anti")
          .select(outCols: _*)
      }
    }.reduce(_ unionByName _)
  }

  /** DELETION-VECTOR delete — the O(tombstones) alternative to
    * [[applyTombstones]]'s box-intersecting file REWRITE: land the
    * tombstone keys as one tiny equality-delete sidecar under
    * `_deletes/`, attach it (in the manifest) to every live file whose
    * `keyCol` box could hold a tombstoned key, and publish the next
    * version. No data file is read or written — delete latency is
    * sidecar-write + manifest-rename, INDEPENDENT of table size, which
    * is what a right-to-be-forgotten SLA on a 100 TB table needs.
    * Readers pay the anti-join until [[materializeDeletes]] (or any
    * rewrite that touches the shadowed files — MERGE, compact, optimize)
    * folds the vectors in; [[shouldMaterialize]] is the maintenance
    * trigger.
    *
    * Semantics are exactly [[applyTombstones]]'s (the spec pins
    * equality): delete EVERY row whose `keyCol` is tombstoned, absent
    * keys no-op, replay under `batchId` no-ops. A later re-insert lands
    * in a fresh file with no attachment, so it is NOT shadowed —
    * attachments scope file-granular, the property that makes equality
    * deletes sound without Iceberg-style sequence numbers.
    *
    * `arm` names ONE checkpointed stream: replay dedup is a per-arm
    * high-water batchId, so a second producer reusing this default arm
    * against the same table would have its lower batchIds silently
    * no-op'd — an unattested non-delete. An ad-hoc job alongside a
    * tombstone stream should pass its own arm, or `batchId = None`
    * (a tombstone apply is semantically idempotent; the marker only
    * saves the redundant probe).
    */
  def applyTombstonesDv(
      spark: SparkSession, path: String, tombstones: DataFrame,
      keyCol: String = "key", batchId: Option[Long] = None,
      arm: String = "forget-dv"): DvStats =
    applyTombstonesDvWith(spark, path, _ => tombstones, keyCol,
      batchId.map(b => s"$arm#$b"))

  /** The DV-delete retry skeleton: each attempt resolves the FRESH latest
    * commit and derives the tombstone keys FROM IT via `keysOf` — so a
    * caller whose key set is itself a function of table state
    * ([[deleteWhere]]'s predicate scan) re-lists against the interloper's
    * snapshot on a lost commit race, instead of deleting a stale set that
    * would let concurrently-inserted matching rows survive.
    */
  private def applyTombstonesDvWith(
      spark: SparkSession, path: String, keysOf: Commit => DataFrame,
      keyCol: String, marker: Option[String]): DvStats =
    retryOnConflict {
      val c = latest(spark, path)
      if (marker.exists(batchApplied(c, _)))
        return DvStats(c.version, 0, 0L)
      val keys = keysOf(c).select(col(keyCol)).distinct()
      // nothing to delete: no sidecar, no version (deleteWhere's
      // predicate-matched-nothing contract)
      if (keys.isEmpty) return DvStats(c.version, 0, 0L)
      val shadowed = shadowedFiles(spark, c, keys, keyCol)
      if (shadowed.isEmpty) return DvStats(c.version, 0, 0L)
      // on a lost race the sidecar is uncommitted garbage for vacuum
      val (dvRel, nKeys) = landSidecar(spark, path, keys)
      writeCommit(spark, path, c.version + 1, c.files, c.boxes,
        c.schemaDdl, marker.foldLeft(c.appliedBatches)(addMarker),
        c.deletes ++ shadowed.map(f => (f, dvRel)),
        rowCounts = c.rowCounts, prev = Some(c), sizes = c.sizes)
      DvStats(c.version + 1, shadowed.size, nKeys)
    }

  /** `count(*)` without opening data files — the metadata-only query
    * every lake format serves from its manifest. Each commit records
    * per-file footer row counts (`R` lines); a file with no deletion
    * vector contributes its manifest number, and ONLY files that are
    * shadowed (their count depends on the anti-join) are actually read.
    * On a maintained table the answer is pure driver arithmetic over the
    * manifest — O(files) metadata, zero IO — which is what makes
    * row-count monitoring of a 100 TB table free.
    */
  def countLive(spark: SparkSession, path: String): Long = {
    val c = latest(spark, path)
    val shadowed = c.deletes.map(_._1).toSet
    val (mustRead, metadata) = c.files.partition(shadowed)
    metadata.map(statOf(path, c, "R", c.rowCounts, _)).sum +
      (if (mustRead.isEmpty) 0L
       else readFilesResolved(spark, path, c, mustRead).count())
  }

  /** Land one equality-delete sidecar under `_deletes/`: one part file,
    * renamed to a stable name (outside the data listing; uncommitted
    * sidecars are vacuum garbage exactly like uncommitted data files).
    * Returns (manifest-relative sidecar path, key count).
    */
  private def landSidecar(
      spark: SparkSession, path: String, keys: DataFrame): (String, Long) = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(s"$path/_deletes"))
    val tmp = s"$path/_deletes/.tmp-${java.util.UUID.randomUUID()}"
    keys.coalesce(1).write.parquet(tmp)
    val part = fs.listStatus(new Path(tmp)).toSeq
      .map(_.getPath).find(_.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(
        s"LakeTable: no sidecar part file under $tmp"))
    val dvRel = s"_deletes/dv-${java.util.UUID.randomUUID()}.parquet"
    require(fs.rename(part, new Path(s"$path/$dvRel")),
      s"LakeTable: sidecar rename failed at $path")
    fs.delete(new Path(tmp), true)
    // the count comes off the landed file's own footer — one metadata
    // read, not a second evaluation of the (possibly scan-derived) frame
    val nKeys = LakeSink.rowCountsOf(spark, Seq(s"$path/$dvRel"))
      .headOption.map(_._2).getOrElse(0L)
    (dvRel, nKeys)
  }

  /** MERGE-ON-READ apply — the write-optimized MERGE for FULL-ROW-IMAGE
    * changelogs: instead of rewriting box-intersecting files
    * ([[applyChangelogFull]], merge-on-write), the whole batch commits
    * as (a) ONE deletion-vector sidecar shadowing every touched key's
    * old rows and (b) the latest 'U' images landed as fresh z-ordered
    * files — ZERO existing data files are read or written, so apply
    * latency is O(changelog) regardless of table size. This is the
    * Hudi/Iceberg merge-on-read trade: ingest pays nothing, reads pay
    * the anti-join until maintenance folds the vectors in
    * ([[materializeDeletes]] / [[compact]] / [[optimize]] — or the next
    * merge-on-WRITE touching the same files). Full images are REQUIRED:
    * with a slim payload changelog an update would need the base row's
    * other columns, which only a base read (the thing MoR exists to
    * avoid) could supply.
    *
    * Equivalence contract (spec + oracle-pinned): after the commit,
    * `readLive` equals [[Cdc.mergeChangelogFull]] of the pre-commit
    * snapshot and the same changelog, byte-for-byte. Chained MoR applies
    * compose: a later batch's box probe sees earlier batches' fresh
    * files (they are manifest files with boxes like any other), so their
    * superseded images get shadowed exactly like base rows.
    */
  def applyChangelogFullMor(
      spark: SparkSession, path: String, changelog: DataFrame,
      cols: Seq[String], keyCol: String = "key", nFilesNew: Int = 2,
      bits: Int = 16, batchId: Option[Long] = None,
      arm: String = "cdc-mor"): DvStats = {
    // materialized once — same rationale as applyChangelog's barrier (here
    // the probe keys, the sidecar land and the image land all re-derive it)
    val reduced = Cdc.compactChangelogFull(changelog).localCheckpoint()
    replaceKeyedMor(spark, path, reduced.select(col("key").as(keyCol)),
      reduced.filter(col("op") === "U").select(col("key"), col("name"), col("val")),
      cols, keyCol, nFilesNew, bits, batchId, arm)
  }

  /** Keyed REPLACE, merge-on-read — the generic storage primitive under
    * [[applyChangelogFullMor]], for callers that already HOLD the new
    * row images (the SCD maintainer's current-slice fold): every live
    * row whose `keyCol` ∈ `keys` is logically deleted by ONE
    * deletion-vector sidecar attached to the box-intersecting files, and
    * `rows` (which must cover exactly the keys that remain — a key in
    * `keys` with no row in `rows` is a pure delete) land as fresh
    * z-ordered files. ZERO existing data files are read or written, so
    * the replace costs O(batch) regardless of how wide the touched
    * files are — the merge-on-read trade, for the fold whose touched
    * current files have grown past the rewrite budget. Readers pay the
    * anti-join until [[materializeDeletes]]/[[compact]]/a later
    * merge-on-write folds the vectors in. The table must be key-unique
    * on `keyCol` and stay so: `rows` must not duplicate a key it
    * shadows. BatchId replay no-ops under `arm`.
    */
  def replaceKeyedMor(
      spark: SparkSession, path: String, keys: DataFrame, rows: DataFrame,
      cols: Seq[String], keyCol: String = "key", nFilesNew: Int = 2,
      bits: Int = 16, batchId: Option[Long] = None,
      arm: String = "replace-mor",
      touchedHint: Option[(Int, Seq[String])] = None,
      keysDistinct: Boolean = false): DvStats = {
    val marker = batchId.map(b => s"$arm#$b")
    retryOnConflict {
      val c = latest(spark, path)
      if (marker.exists(batchApplied(c, _)))
        return DvStats(c.version, 0, 0L)
      // keysDistinct is the caller's CONTRACT that `keys` is already
      // key-unique (e.g. the SCD fold's checkpointed distinct() output) —
      // re-running distinct() on it here would pay one whole exchange per
      // fold for rows that cannot change
      val ks =
        if (keysDistinct) keys.select(col(keyCol))
        else keys.select(col(keyCol)).distinct()
      // version-pinned probe reuse, same contract as mutate's hint
      val shadowed = touchedHint
        .collect { case (v, fs) if v == c.version => fs }
        .getOrElse(shadowedFiles(spark, c, ks, keyCol))
      // the two lands are independent (both uncommitted = invisible, and
      // the sidecar's attachment list comes from the PRE-COMMIT manifest,
      // never from the fresh files) — overlap them (§2.6) instead of
      // serializing sidecar-after-files; both must settle before the
      // attempt proceeds or unwinds
      val (landed, dv) = Par.overlap(
        landZOrdered(spark, path, rows, cols, nFilesNew, bits),
        if (shadowed.isEmpty) None else Some(landSidecar(spark, path, ks)))
      if (shadowed.isEmpty && landed.isEmpty)
        return DvStats(c.version, 0, 0L)
      val fresh = landed.map(_.path)
      val freshBoxes = landedBoxes(path, landed)
      val (dvAttach, nKeys) = dv.fold((Seq.empty[(String, String)], 0L)) {
        case (dvRel, n) => (shadowed.map(f => (f, dvRel)), n) }
      writeCommit(spark, path, c.version + 1,
        c.files ++ fresh.map(rel(path, _)),
        c.boxes ++ freshBoxes,
        unionDdl(c.schemaDdl, rows.schema),
        marker.foldLeft(c.appliedBatches)(addMarker),
        c.deletes ++ dvAttach,
        rowCounts = c.rowCounts ++ landed
          .map(l => (rel(path, l.path), l.rows)),
        prev = Some(c),
        sizes = c.sizes ++ landed.map(l => (rel(path, l.path), l.bytes)))
      DvStats(c.version + 1, shadowed.size, nKeys)
    }
  }

  /** SQL `DELETE FROM t WHERE <condition>` on the committed layout —
    * predicate deletes re-expressed as deletion vectors: one
    * (zone-map-prunable) scan lists the matching keys, and the delete
    * itself commits through [[applyTombstonesDv]] — O(matches) landed
    * bytes, no data file rewritten, same attestation/latency contract.
    * The table must be key-unique on `keyCol` for key-listing to equal
    * row-listing (the MERGE contract every maintenance path assumes).
    * Returns the DV commit's stats; a predicate matching nothing is a
    * no-op that burns no version.
    */
  def deleteWhere(
      spark: SparkSession, path: String, condition: org.apache.spark.sql.Column,
      keyCol: String = "key", batchId: Option[Long] = None): DvStats =
    // the key listing is re-derived from the FRESH snapshot inside each
    // commit-conflict retry: rows matching the predicate that a
    // concurrent mutation inserted between attempts are caught, not
    // leaked past the delete
    applyTombstonesDvWith(spark, path,
      c => readFilesResolved(spark, path, c, c.files)
        .filter(condition).select(col(keyCol)),
      keyCol, batchId.map(b => s"delete-where#$b"))

  /** True iff enough live files are shadowed by deletion vectors to be
    * worth folding in — the [[materializeDeletes]] trigger (driver-side
    * manifest arithmetic, no data read).
    */
  def shouldMaterialize(
      spark: SparkSession, path: String, maxShadowedFraction: Double = 0.3): Boolean = {
    val c = latest(spark, path)
    c.files.nonEmpty &&
      c.deletes.map(_._1).distinct.size.toDouble / c.files.size > maxShadowedFraction
  }

  /** MATERIALIZE the deletion vectors: rewrite ONLY the shadowed files
    * with their sidecars applied, drop every attachment, publish. The
    * logical snapshot is unchanged (the spec pins hash-equality), so
    * applied batchIds carry and a [[readChanges]] span across a
    * materialization is EMPTY — like [[compact]], this fixes read
    * amplification, never data. Unshadowed files carry their bytes and
    * boxes unread. Orphaned sidecars age out via [[vacuum]].
    */
  def materializeDeletes(
      spark: SparkSession, path: String, cols: Seq[String],
      nFilesNew: Int = 2, bits: Int = 16,
      targetFileBytes: Option[Long] = None): ApplyStats =
    retryOnConflict(materializeOnce(
      spark, path, cols, nFilesNew, bits, targetFileBytes))

  private def materializeOnce(
      spark: SparkSession, path: String, cols: Seq[String],
      nFilesNew: Int, bits: Int,
      targetFileBytes: Option[Long]): ApplyStats = {
    val c = latest(spark, path)
    val shadowed = c.deletes.map(_._1).distinct.sorted
    if (shadowed.isEmpty) return ApplyStats(c.version, 0, c.files.size, 0)
    val rows = readFilesResolved(spark, path, c, shadowed)
    // output width: with a byte target, pack into ceil(shadowed bytes /
    // target) files — a materialize that rewrote a third of a wide table
    // into nFilesNew fixed files would land arbitrarily oversized parts
    // that no later compaction could ever split (compact only packs
    // UNDERSIZED files); sizes come from the manifest's own Z lines
    val nOut = targetFileBytes match {
      case Some(t) if t > 0 =>
        val bytes = shadowed.map(statOf(path, c, "Z", c.sizes, _)).sum
        math.max(1, math.ceil(bytes.toDouble / t).toInt)
      case _ => nFilesNew
    }
    val landed = landZOrdered(spark, path, rows, cols, nOut, bits)
    val fresh = landed.map(_.path)
    val freshBoxes = landedBoxes(path, landed)
    val shadowedSet = shadowed.toSet
    val kept = c.files.filterNot(shadowedSet)
    val committed = writeCommit(spark, path, c.version + 1,
      kept ++ fresh.map(rel(path, _)),
      c.boxes.filterNot(b => shadowedSet(b._1)) ++ freshBoxes,
      c.schemaDdl, c.appliedBatches, deletes = Seq.empty,
      rowCounts = c.rowCounts.view.filterKeys(!shadowedSet(_)).toMap ++
        landed.map(l => (rel(path, l.path), l.rows)),
      prev = Some(c),
      sizes = c.sizes.view.filterKeys(!shadowedSet(_)).toMap ++
        landed.map(l => (rel(path, l.path), l.bytes)))
    ApplyStats(committed.version, shadowed.size, kept.size, fresh.size)
  }

  // ---- internals ----------------------------------------------------

  /** One file this mutation landed: absolute path plus EVERYTHING the
    * next manifest needs to know about it (footer row count, byte size,
    * per-clustered-column min/max boxes) — captured in the single footer
    * pass [[landZOrdered]] already pays, so no caller re-opens a footer
    * or stats a file it just landed.
    */
  private final case class Landed(
      path: String, rows: Long, bytes: Long,
      boxes: Seq[(String, Double, Double)])

  /** Land `rows` z-order-clustered as fresh data files, returning EXACTLY
    * the files this call landed with their manifest metadata. The
    * write stages into a per-attempt `.stage-<uuid>/` subdirectory
    * (hidden — invisible to every data listing) and renames each part
    * file into the table root, so the landed set is tracked EXPLICITLY:
    * the previous before/after directory-listing diff could sweep a
    * CONCURRENT writer's landed-but-uncommitted files into this writer's
    * manifest — when the loser then retried, its rows committed twice.
    * Zero-row part files (an empty range partition, or an entirely empty
    * frame's schema-bearing part) are dropped and deleted here: they
    * carry no footer stats, so they would enter the manifest unboxed and
    * be conservatively rewritten by every later keyed mutation forever.
    * An empty frame therefore lands nothing — WITHOUT a pre-write
    * `isEmpty` probe, which evaluated the whole rewrite pipeline a
    * second time per mutation (the z-order stats aggregate is already an
    * unavoidable second pass; the empty-check made it three). A crash
    * mid-stage leaves only the hidden stage dir ([[vacuum]] garbage);
    * a crash mid-rename leaves renamed-but-uncommitted files (also
    * vacuum garbage, exactly like the pre-staging protocol).
    */
  private def landZOrdered(
      spark: SparkSession, path: String, rows: DataFrame, cols: Seq[String],
      nFiles: Int, bits: Int): Seq[Landed] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = s"$path/.stage-${java.util.UUID.randomUUID()}"
    LakeSink.zorderFrame(rows, cols, bits)
      .repartitionByRange(nFiles, col("zkey"))
      .sortWithinPartitions(col("zkey"))
      .drop("zkey")
      .write.parquet(stage)
    val parts = fs.listStatus(new Path(stage)).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.getName)
    // ONE footer job covers row counts, sizes and boxes (the three
    // passes mutations used to pay separately per commit)
    val metas = LakeSink.footerMeta(spark, parts.map(_.toString), cols)
    val landed = parts.flatMap { p =>
      val (n, bytes, boxes) = metas(p.toString)
      if (n == 0L) None
      else {
        val dest = new Path(s"$path/${p.getName}")
        require(fs.rename(p, dest),
          s"LakeTable: fresh-file rename collision at $dest — part names " +
            "carry the write job's uuid and must be unique")
        Some(Landed(dest.toString, n, bytes, boxes))
      }
    }
    fs.delete(new Path(stage), true)
    landed
  }

  /** The landed files' box rows in manifest form (path made relative). */
  private def landedBoxes(
      path: String, landed: Seq[Landed]): Seq[(String, String, Double, Double)] =
    landed.flatMap(l =>
      l.boxes.map { case (cn, mn, mx) => (rel(path, l.path), cn, mn, mx) })

  /** True iff a replay marker is already recorded in the commit's applied
    * set. Markers are arm-qualified (`arm#batchId`) since the multi-arm
    * namespacing change, and the applied set holds ONLY the max batchId
    * per arm (see [[addMarker]]) — Spark's checkpointed batchIds are
    * monotone per stream, and one arm is one stream by contract, so
    * `id <= armMax` IS "already applied" (the Delta-Lake txn/appId
    * design). A manifest carrying a bare batchId is refused when read
    * ([[manifestLines]]), so every marker compared here is qualified.
    */
  private def batchApplied(c: Commit, marker: String): Boolean = {
    if (c.appliedBatches.contains(marker)) return true
    val cut = marker.indexOf('#')
    if (cut < 0) return false
    val (arm, idStr) = (marker.substring(0, cut), marker.substring(cut + 1))
    if (idStr.isEmpty || !idStr.forall(_.isDigit)) return false
    val id = idStr.toLong
    armMaxId(c.appliedBatches, arm) match {
      case Some(mx) if mx >= id =>
        // a STRICTLY-below-high-water skip is not a normal redelivery
        // (foreachBatch only ever redelivers the last uncommitted batch,
        // whose id equals the recorded max): it is either a reset
        // checkpoint or — the dangerous case — a second producer sharing
        // this arm, whose every batch would silently no-op here (for a
        // tombstone arm, a silent non-delete). Skipping is still the
        // contract (the arm's high-water says applied), but never silently.
        if (mx > id) log.warn(
          s"batchId $id on arm '$arm' skipped as " +
            s"already applied, but the arm's high-water is $mx — a strictly " +
            "lower id means a reset checkpoint or TWO PRODUCERS SHARING " +
            "THE ARM (one arm = one checkpointed stream); if this is a " +
            "second stream, give it a distinct arm or its batches will " +
            s"silently no-op against this table")
        true
      case _ => false
    }
  }

  /** The max recorded batchId of `arm`'s qualified numeric markers.
    * Shared with [[graft.streaming.ScdMaintainer]]'s pair markers — one
    * implementation of the high-water rule, not two drifting copies.
    */
  private[graft] def armMaxId(applied: Set[String], arm: String): Option[Long] = {
    val prefix = arm + "#"
    val ids = applied.collect {
      case e if e.startsWith(prefix) &&
          e.length > prefix.length &&
          e.substring(prefix.length).forall(_.isDigit) =>
        e.substring(prefix.length).toLong
    }
    if (ids.isEmpty) None else Some(ids.max)
  }

  /** Fold a new replay marker into the applied set keeping O(arms)
    * state: batchIds per arm are monotone (one arm = one checkpointed
    * stream), so only the MAX id per arm is retained — a same-arm entry
    * with a smaller id is superseded and dropped. This is what bounds
    * both the pair-marker/manifest `A`-line count and the driver-resident
    * applied set to the number of ARMS, not the number of micro-batches
    * ever folded (a month of 1 s batches would otherwise accumulate
    * ~2.6M entries, written whole into every checkpoint manifest).
    * A bare marker (no `arm#`) is refused: no reader would accept it.
    *
    * THE CONTRACT THIS RESTS ON: one arm name = one checkpointed stream.
    * Two independent producers sharing an arm (e.g. both left on a
    * method's default) would silently swallow whichever one's ids run
    * lower — under the high-water rule that is every batch below the
    * other producer's counter, where exact set-membership only swallowed
    * exact collisions. An out-of-band one-shot job against a streamed
    * table must pass a DISTINCT arm, or batchId = None when its
    * operation is semantically idempotent anyway (tombstones).
    */
  private[graft] def addMarker(applied: Set[String], marker: String): Set[String] = {
    val cut = marker.indexOf('#')
    require(cut >= 0, s"LakeTable: replay marker '$marker' names no arm (arm#batchId)")
    val (arm, idStr) = (marker.substring(0, cut), marker.substring(cut + 1))
    if (idStr.isEmpty || !idStr.forall(_.isDigit)) return applied + marker
    val prefix = arm + "#"
    val keepId = math.max(
      idStr.toLong, armMaxId(applied, arm).getOrElse(Long.MinValue))
    applied.filterNot(e => e.startsWith(prefix) &&
      e.length > prefix.length &&
      e.substring(prefix.length).forall(_.isDigit)) + s"$arm#$keepId"
  }

  /** The live files whose `keyCol` zone-map box COULD hold one of `keys` —
    * the shared touch/shadow decision of every keyed mutation (changelog
    * MERGE, tombstone rewrite, DV attach, merge-on-read): one broadcast
    * join of the key set against the commit's own box table; only file
    * NAMES reach the driver. A live file with no key box cannot be pruned
    * and is always included (conservative inclusion).
    *
    * Exactness above 2^53: boxes are stored as doubles, keys are often
    * 64-bit integers (md5-derived artifact keys). long→double is monotone,
    * so converting BOTH sides with one rounding rule cannot escape a box —
    * but the stored bound passes through several independent conversions
    * (parquet footer stat → doubleValue, manifest text round-trip) and the
    * probe through another (the Column cast), so the probe must not bet
    * the deletion guarantee on them agreeing bit-for-bit. Each bound is
    * therefore widened one ulp outward before the compare: conservative
    * INCLUSION costs at most one extra file read; false EXCLUSION would
    * let a tombstoned row silently survive deletion — an attestation
    * failure (the >2^53 spec pins inclusion).
    */
  private[graft] def shadowedFiles(
      spark: SparkSession, c: Commit, keys: DataFrame,
      keyCol: String): Seq[String] = {
    import spark.implicits._
    val keyBoxes = c.boxes.filter(_._2 == keyCol)
    val boxedFiles = keyBoxes.map(_._1).toSet
    val unboxed = c.files.filterNot(boxedFiles)
    val boxesDf = keyBoxes
      .map { case (f, _, mn, mx) => (f, Math.nextDown(mn), Math.nextUp(mx)) }
      .toDF("file", "mn", "mx")
    val hit = keys
      .join(broadcast(boxesDf),
        col(keyCol).cast("double") >= col("mn") &&
          col(keyCol).cast("double") <= col("mx"))
      .select(col("file")).distinct()
      .as[String].collect().toSeq
    (hit ++ unboxed).distinct.sorted
  }

  /** Shared mutation skeleton: decide touched files from the key set ×
    * box table, rewrite = f(touched rows), land, commit, GC. OPTIMISTIC
    * CONCURRENCY: the whole read→compute→land→commit cycle retries on a
    * lost commit race, recomputing from the interloper's version — both
    * writers' changes land, serialized by the rename order (a failed
    * attempt's landed files are uncommitted garbage for [[vacuum]]).
    * Escapes with [[CommitConflictException]] after [[MaxCommitRetries]]
    * consecutive losses (a pathologically contended table needs a
    * coordinator, not more retries).
    */
  private[graft] def mutate(
      spark: SparkSession, path: String, cols: Seq[String], keyCol: String,
      nFilesNew: Int, bits: Int,
      touchKeys: DataFrame, rewrite: DataFrame => DataFrame,
      appliedBatch: Option[String] = None,
      appendOnly: Boolean = false,
      touchedHint: Option[(Int, Seq[String])] = None): ApplyStats =
    retryOnConflict(mutateOnce(
      spark, path, cols, keyCol, nFilesNew, bits, touchKeys, rewrite,
      appliedBatch, appendOnly, touchedHint))

  private def mutateOnce(
      spark: SparkSession, path: String, cols: Seq[String], keyCol: String,
      nFilesNew: Int, bits: Int,
      touchKeys: DataFrame, rewrite: DataFrame => DataFrame,
      appliedBatch: Option[String],
      appendOnly: Boolean = false,
      touchedHint: Option[(Int, Seq[String])] = None): ApplyStats = {
    import spark.implicits._
    val c = latest(spark, path)
    // re-check the replay marker on the FRESH manifest: the interloper
    // that beat us may have been a redelivery of this very batch
    if (appliedBatch.exists(batchApplied(c, _)))
      return ApplyStats(c.version, 0, c.files.size, 0)
    // one scan of the key set against the broadcast box table; the
    // distinct file list is metadata-sized. An append touches NOTHING by
    // contract — the probe's conservative unboxed-files-always-touched
    // rule is for KEYED rewrites, whose callback carries the base rows;
    // append's callback ignores its base, so probing here would drop an
    // unboxed file's rows from the manifest. A caller that already ran
    // the probe for its own routing (the SCD fold's MoW/MoR decision)
    // passes it as a version-pinned hint — honored only while this
    // attempt resolves the SAME version, so a lost race recomputes
    val touched =
      if (appendOnly) Seq.empty[String]
      else touchedHint.collect { case (v, fs) if v == c.version => fs }
        .getOrElse(shadowedFiles(
          spark, c, touchKeys.select(col("key").as(keyCol)), keyCol))
    // DV-resolved: a rewrite of a shadowed file must fold its deletion
    // vectors in, or the rows they hide would resurrect into fresh files
    val base =
      if (touched.nonEmpty) readFilesResolved(spark, path, c, touched)
      // the commit in hand carries the schema — no second latest() walk
      else readFilesResolved(spark, path, c, Seq.empty)
    val next = rewrite(base)
    // a rewrite that REPLACES files must cover every committed column —
    // otherwise carried rows in touched files silently lose the dropped
    // column's values while the manifest still advertises it (a
    // fixed-shape rewrite like the demo-schema changelog MERGE fails
    // loud on an evolved table instead). Appends (touched empty) stay
    // free to omit columns: their rows serve NULL, nobody else's do.
    if (touched.nonEmpty) {
      val nextNames = next.schema.fieldNames.toSet
      val dropped = org.apache.spark.sql.types.StructType
        .fromDDL(c.schemaDdl).fieldNames.filterNot(nextNames)
      require(dropped.isEmpty,
        s"LakeTable: rewrite drops committed column(s) ${dropped.mkString(", ")} " +
          "— carried rows in touched files would silently lose their values")
    }

    val landed = landZOrdered(spark, path, next, cols, nFilesNew, bits)
    val fresh = landed.map(_.path)
    val freshBoxes = landedBoxes(path, landed)

    val touchedSet = touched.toSet
    val keptFiles = c.files.filterNot(touchedSet)
    val committed = writeCommit(spark, path, c.version + 1,
      keptFiles ++ fresh.map(rel(path, _)),
      c.boxes.filterNot(b => touchedSet(b._1)) ++ freshBoxes,
      unionDdl(c.schemaDdl, next.schema),
      appliedBatch.foldLeft(c.appliedBatches)(addMarker),
      // a replaced file's vectors are folded into its rewrite above;
      // untouched files keep their attachments verbatim
      deletes = c.deletes.filterNot(d => touchedSet(d._1)),
      rowCounts = c.rowCounts.view.filterKeys(!touchedSet(_)).toMap ++
        landed.map(l => (rel(path, l.path), l.rows)),
      prev = Some(c),
      sizes = c.sizes.view.filterKeys(!touchedSet(_)).toMap ++
        landed.map(l => (rel(path, l.path), l.bytes)))
    // replaced files become invisible at the commit point but stay ON
    // DISK: they back time travel (readAt) until vacuum's retention
    // window drops them — GC is a policy decision, not a correctness one
    ApplyStats(committed.version, touched.size, keptFiles.size, fresh.size)
  }

  /** Full-table rewrite commit — [[optimize]]'s engine: every live row
    * lands as one fresh clustering, every old file is replaced, applied
    * batchIds carry over (a re-cluster changes no row content, so replay
    * markers must survive it). Same optimistic-retry contract as
    * [[mutate]] — a lost race re-clusters the interloper's version.
    */
  private def mutateAll(
      spark: SparkSession, path: String, cols: Seq[String], nFiles: Int,
      bits: Int): ApplyStats =
    retryOnConflict {
      val c = latest(spark, path)
      mutateAllOnce(spark, path, cols, nFiles, bits, c, readLive(spark, path))
    }

  private def mutateAllOnce(
      spark: SparkSession, path: String, cols: Seq[String], nFiles: Int,
      bits: Int, c: Commit, rows: DataFrame): ApplyStats = {
    val landed = landZOrdered(spark, path, rows, cols, nFiles, bits)
    val fresh = landed.map(_.path)
    val freshBoxes = landedBoxes(path, landed)
    // a full rewrite replaces every file — its "delta" would be 2×|files|
    // lines, so commit it as a checkpoint (prev omitted): an OPTIMIZE is
    // the natural point to re-anchor the readers' walk-back anyway
    val committed = writeCommit(spark, path, c.version + 1,
      fresh.map(rel(path, _)), freshBoxes,
      unionDdl(c.schemaDdl, rows.schema), c.appliedBatches,
      rowCounts = landed.map(l => (rel(path, l.path), l.rows)).toMap,
      sizes = landed.map(l => (rel(path, l.path), l.bytes)).toMap)
    ApplyStats(committed.version, c.files.size, 0, fresh.size)
  }

  /** A full checkpoint manifest lands every this-many versions; in
    * between, commits are DELTAS (O(changed-files) lines). The rule is a
    * pure function of the version NUMBER, so concurrent writers racing on
    * the same version agree on the format without coordination, and a
    * reader knows its worst-case walk-back without probing.
    */
  private val CheckpointInterval = 10

  /** Publish manifest `version` through
    * [[graft.streaming.CommitFile.publish]] — the atomic commit point. A
    * lost race (version already exists) throws
    * [[CommitConflictException]], which [[mutate]]/[[mutateAll]] catch
    * to retry the whole cycle on the winner's state — rename order IS
    * the serialization order.
    *
    * Commit COST is O(change), not O(files): with `prev` supplied (every
    * mutation has the previous commit in hand) and the version off the
    * [[CheckpointInterval]] grid, only the lines that CHANGED against
    * `prev` are written (`C\tdelta` header; `F+`/`F-` file moves, `B`
    * boxes and `R` counts for added files, `D+`/`D-` attachment flips,
    * `A` new markers, `S` on evolution). At the 100 TB shape — ~1M live
    * files, per-micro-batch streaming commits — this is the difference
    * between renaming a few hundred bytes per fold and rewriting (and
    * re-parsing, at every read) tens of MB of manifest per mutation: the
    * Delta-Lake JSON-delta+checkpoint design re-expressed in the
    * tab-separated log. Periodic checkpoints bound the reader's
    * walk-back; manifests are never deleted, so every checkpoint chain
    * stays resolvable for time travel.
    */
  private def writeCommit(
      spark: SparkSession, path: String, version: Int,
      files: Seq[String],
      boxes: Seq[(String, String, Double, Double)],
      schemaDdl: String,
      appliedBatches: Set[String] = Set.empty,
      deletes: Seq[(String, String)] = Seq.empty,
      rowCounts: Map[String, Long],
      sizes: Map[String, Long],
      prev: Option[Commit] = None): Commit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(s"$path/_commits")
    fs.mkdirs(dir)
    val body = prev match {
      case Some(p) if version % CheckpointInterval != 0 &&
          p.version == version - 1 =>
        deltaBody(p, files, boxes, schemaDdl, appliedBatches, deletes,
          rowCounts, sizes)
      case _ => fullBody(
        files, boxes, schemaDdl, appliedBatches, deletes, rowCounts, sizes)
    }
    if (!CommitFile.publish(fs, dir, f"v$version%09d.txt", body.getBytes("UTF-8")))
      throw new CommitConflictException(
        s"LakeTable: commit v$version lost the rename race at $path")
    writeLatestHint(fs, path, version)
    Commit(version, files, boxes, schemaDdl, appliedBatches, deletes,
      rowCounts, sizes)
  }

  private def fullBody(
      files: Seq[String],
      boxes: Seq[(String, String, Double, Double)],
      schemaDdl: String,
      appliedBatches: Set[String],
      deletes: Seq[(String, String)],
      rowCounts: Map[String, Long],
      sizes: Map[String, Long]): String = {
    val sb = new StringBuilder
    sb.append("S\t").append(schemaDdl).append('\n')
    appliedBatches.toSeq.sorted.foreach(b =>
      sb.append("A\t").append(b).append('\n'))
    files.sorted.foreach(f => sb.append("F\t").append(f).append('\n'))
    boxes.sortBy(b => (b._1, b._2)).foreach { case (f, cn, mn, mx) =>
      sb.append("B\t").append(f).append('\t').append(cn).append('\t')
        .append(mn).append('\t').append(mx).append('\n')
    }
    deletes.sorted.foreach { case (f, dv) =>
      sb.append("D\t").append(f).append('\t').append(dv).append('\n')
    }
    rowCounts.toSeq.sorted.foreach { case (f, n) =>
      sb.append("R\t").append(f).append('\t').append(n).append('\n')
    }
    sizes.toSeq.sorted.foreach { case (f, n) =>
      sb.append("Z\t").append(f).append('\t').append(n).append('\n')
    }
    sb.toString
  }

  /** The change lines of the next state against `p` — what [[applyDelta]]
    * inverts. Boxes and row counts of KEPT files never change (data files
    * are immutable; every mutation carries them verbatim), so the diff
    * only ever names added/removed files, flipped attachments, new
    * markers, and the schema — O(change) lines by construction. The
    * invariants are asserted, not assumed: a violated one fails the
    * commit loudly rather than publishing a delta that resolves wrong.
    */
  private def deltaBody(
      p: Commit,
      files: Seq[String],
      boxes: Seq[(String, String, Double, Double)],
      schemaDdl: String,
      appliedBatches: Set[String],
      deletes: Seq[(String, String)],
      rowCounts: Map[String, Long],
      sizes: Map[String, Long]): String = {
    val sb = new StringBuilder
    sb.append("C\tdelta\n")
    if (schemaDdl != p.schemaDdl) sb.append("S\t").append(schemaDdl).append('\n')
    // marker REMOVALS come from restoreTo (discarding a crashed fold's
    // half-applied marker) and every mutation's
    // addMarker superseding the same arm's previous max batchId — the
    // O(arms) bound means a fold's delta is one A-/A pair, constant-size
    (p.appliedBatches -- appliedBatches).toSeq.sorted.foreach(b =>
      sb.append("A-\t").append(b).append('\n'))
    (appliedBatches -- p.appliedBatches).toSeq.sorted.foreach(b =>
      sb.append("A\t").append(b).append('\n'))
    val prevF = p.files.toSet
    val nextF = files.toSet
    p.files.filterNot(nextF).sorted.foreach(f =>
      sb.append("F-\t").append(f).append('\n'))
    files.filterNot(prevF).sorted.foreach(f =>
      sb.append("F+\t").append(f).append('\n'))
    val prevB = p.boxes.toSet
    val nextB = boxes.toSet
    val addedB = boxes.filterNot(prevB)
    require(addedB.forall(b => !prevF(b._1)),
      "LakeTable: a kept file's box changed — boxes are immutable with the file")
    require(p.boxes.forall(b => !nextF(b._1) || nextB(b)),
      "LakeTable: a kept file lost its box — boxes are immutable with the file")
    addedB.sortBy(b => (b._1, b._2)).foreach { case (f, cn, mn, mx) =>
      sb.append("B\t").append(f).append('\t').append(cn).append('\t')
        .append(mn).append('\t').append(mx).append('\n')
    }
    val prevD = p.deletes.toSet
    val nextD = deletes.toSet
    p.deletes.filter(d => nextF(d._1) && !nextD(d)).distinct.sorted.foreach {
      case (f, dv) => sb.append("D-\t").append(f).append('\t').append(dv).append('\n')
    }
    deletes.filterNot(prevD).distinct.sorted.foreach { case (f, dv) =>
      sb.append("D+\t").append(f).append('\t').append(dv).append('\n')
    }
    // R/Z lines: one UNSORTED pass over the next maps keeps the scan
    // O(map) with no full-map sort/materialization; only the CHANGED
    // entries (added files' stats, plus a stat newly recorded for a
    // kept file that lacked one) sort and emit, O(change log change). A
    // kept file's EXISTING stat can never change value (footer stats are
    // immutable with the bytes) — that fails the commit loudly rather
    // than publishing a delta that resolves wrong. Removals on kept files never arise from any
    // current mutation; the cheap set difference keeps the format able
    // to express them.
    def statLines(
        tag: String, next: Map[String, Long], prev: Map[String, Long]): Unit = {
      val changed = next.iterator
        .filter { case (f, n) => !prev.get(f).contains(n) }.toSeq.sorted
      changed.foreach { case (f, n) =>
        require(!prevF(f) || !prev.contains(f),
          s"LakeTable: kept file $f changed its $tag stat — footer stats " +
            "are immutable with the file")
        sb.append(tag).append('\t').append(f).append('\t').append(n).append('\n')
      }
      ((prev.keySet & nextF) -- next.keySet).toSeq.sorted.foreach(f =>
        sb.append(tag).append("-\t").append(f).append('\n'))
    }
    statLines("R", rowCounts, p.rowCounts)
    statLines("Z", sizes, p.sizes)
    sb.toString
  }

  /** The commit's schema as a READER schema: every field nullable,
    * because after evolution some live files legitimately lack a column
    * (older epochs before an added field; an append batch that omitted
    * one) and those rows serve NULL.
    */
  private def readerSchema(ddl: String): org.apache.spark.sql.types.StructType = {
    val s = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    org.apache.spark.sql.types.StructType(s.fields.map(_.copy(nullable = true)))
  }

  /** SCHEMA EVOLUTION at the commit: the next manifest's schema is the
    * previous schema with the mutation's new columns APPENDED (widening
    * only — a same-name column changing type fails loud; columns are
    * never dropped, a rewrite that omits one just leaves it NULL in the
    * rewritten rows). A field becomes nullable the moment any epoch can
    * lack it. Name-based parquet reconciliation does the rest at read
    * time. [[readChanges]] delivers spans crossing such a boundary in the
    * span-END schema (pre-boundary images read NULL for added columns);
    * only a NON-append change (drop / retype) rejects the span.
    */
  private def unionDdl(
      oldDdl: String, next: org.apache.spark.sql.types.StructType): String = {
    val oldS = org.apache.spark.sql.types.StructType.fromDDL(oldDdl)
    val byName = next.fields.map(f => f.name -> f).toMap
    val merged = oldS.fields.map { f =>
      byName.get(f.name) match {
        case Some(nf) =>
          require(nf.dataType == f.dataType,
            s"LakeTable: column ${f.name} changed type " +
              s"${f.dataType.simpleString} -> ${nf.dataType.simpleString} — " +
              "type changes are not an append-safe evolution")
          f.copy(nullable = f.nullable || nf.nullable)
        case None => f.copy(nullable = true) // this epoch lacks it
      }
    } ++ next.fields.collect {
      case f if !oldS.fieldNames.contains(f.name) => f.copy(nullable = true)
    }
    org.apache.spark.sql.types.StructType(merged).toDDL
  }

  private def rel(path: String, f: String): String = {
    val p = new Path(path).toUri.getPath
    val fp = new Path(f).toUri.getPath
    require(fp.startsWith(p), s"LakeTable: $f outside $path")
    fp.stripPrefix(p).stripPrefix("/")
  }

  private def abs(path: String, f: String): String = s"$path/$f"
}
