package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.SimilaritySearch
import graft.streaming.GraphMaintainer

/** A local filesystem under the `faultyland:` scheme that, while armed,
  * fails every directory or file creation under a graph-artifact token
  * directory and stalls the first one under a routing token directory
  * for three seconds — so one land fails while its sibling is still in
  * flight.
  */
class FaultyLandFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.Path
  import org.apache.hadoop.fs.permission.FsPermission
  override def getUri: java.net.URI = java.net.URI.create("faultyland:///")
  override def getScheme: String = "faultyland"
  private def check(p: Path): Unit = if (FaultyLandFileSystem.armed) {
    if (p.toString.contains("/data/graph/fold="))
      throw new java.io.IOException(s"injected land failure at $p")
    if (p.toString.contains("/data/routing/fold=") &&
        FaultyLandFileSystem.stalled.compareAndSet(false, true))
      Thread.sleep(3000)
  }
  override def mkdirs(p: Path): Boolean = { check(p); super.mkdirs(p) }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = { check(p); super.mkdirs(p, permission) }
  override def create(
      p: Path, overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    check(p)
    super.create(p, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FaultyLandFileSystem {
  @volatile var armed = false
  val stalled = new java.util.concurrent.atomic.AtomicBoolean(false)
}

class GraphMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-gm-$tag").toString

  private def rebuildWant = {
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    SimilaritySearch.knnGraph(
        emb.select(col("vec_id"), col("embedding")),
        quantizerSource = Some(old))
      .collect().map(_.toSeq).toSet
  }

  /** The live epoch's state — its quantizer token and k are what a
    * hand-forged commit must name, like every real one.
    */
  private def liveState(fs: org.apache.hadoop.fs.FileSystem, dir: String) =
    GraphMaintainer.resolveState(fs, dir, GraphMaintainer.manifestNames(fs, dir).last)

  test("chained folds equal the frozen-quantizer full rebuild") {
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val b1 = emb.filter(col("vec_id") % 5 === 0 && col("vec_id") % 2 === 0)
    val b2 = emb.filter(col("vec_id") % 5 === 0 && col("vec_id") % 2 =!= 0)
    val m = GraphMaintainer.build(old, tmp("chain"), nCentroids = Some(16))
    m.fold(b1)
    m.fold(b2)
    assert(m.graph.collect().map(_.toSeq).toSet == rebuildWant)
    assert(m.corpus.count() == emb.count())
  }

  test("retire purges vectors from the landed artifact; re-run converges; a retired id re-inserts as new") {
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val batch = emb.filter(col("vec_id") % 5 === 0)
    val dir = tmp("retire")
    val m = GraphMaintainer.build(old, dir, nCentroids = Some(16))
    m.fold(batch)
    // a quantizer centroid's raw embedding lives in the quantizer
    // artifact — retiring one must fail loud (only an epoch rebuild can
    // honor that forget; the rebuild path has its own spec below)
    val centroidIds = m.centroidIds.toDF("vec_id")
    intercept[IllegalArgumentException](m.retire(centroidIds.limit(1)))
    val doomed = emb.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
      .join(centroidIds, Seq("vec_id"), "left_anti")
    // capture some doomed edges WITH their cell: the crash simulation
    // below re-lands them as an ORPHAN token (data written, no manifest)
    val stale = spark.read.option("basePath", s"$dir/data/graph")
      .parquet(s"$dir/data/graph").drop("fold")
      .join(doomed, Seq("vec_id"), "left_semi").limit(3)
      .localCheckpoint()
    assert(stale.count() > 0)
    m.retire(doomed)
    // artifact == frozen-quantizer rebuild over the survivors
    val want = graft.operators.SimilaritySearch
      .knnGraph(emb.join(doomed, Seq("vec_id"), "left_anti"),
        quantizerSource = Some(old))
      .collect().map(_.toSeq).toSet
    assert(m.graph.collect().map(_.toSeq).toSet == want)
    // forget attestation: no doomed id as vertex, neighbor, or stored row
    val ids = doomed.collect().map(_.getLong(0)).toSet
    val g = m.graph.collect()
    assert(!g.exists(r => ids(r.getLong(0)) || ids(r.getLong(1))))
    assert(m.corpus.join(doomed, Seq("vec_id"), "left_semi").isEmpty)
    // re-running the same retire is a no-op that still serves `want`
    m.retire(doomed)
    assert(m.graph.collect().map(_.toSeq).toSet == want)
    // crash ATOMICITY: a retire (or fold) that landed its data files but
    // died before the manifest rename publishes NOTHING — the stale
    // doomed edges sit in an orphan token no manifest references, so the
    // served graph is unchanged and a re-run stays converged (under the
    // old partition-overwrite commit this exact crash left stale edges
    // behind an already-clean routing)
    stale.write.partitionBy("cell")
      .parquet(s"$dir/data/graph/fold=torphancrash")
    assert(m.graph.collect().map(_.toSeq).toSet == want,
      "an unpublished token must be invisible to readers")
    m.retire(doomed)
    assert(m.graph.collect().map(_.toSeq).toSet == want,
      "re-run over the orphan stays converged")
    // vacuum sweeps the orphan (and superseded manifests/epochs)
    assert(m.vacuum(keepManifests = 2) > 0)
    assert(!new java.io.File(s"$dir/data/graph/fold=torphancrash").exists(),
      "vacuum must sweep the crashed commit's orphan token")
    assert(m.graph.collect().map(_.toSeq).toSet == want,
      "vacuum must not disturb the served artifact")
    // a retired id re-inserts as a NEW vector (bloom hit, exact confirm
    // finds routing empty for it) and the fold stays exact
    val one = emb.filter(col("vec_id") === ids.min)
    m.fold(one)
    val want2 = graft.operators.SimilaritySearch
      .knnGraph(emb.join(doomed, Seq("vec_id"), "left_anti").unionByName(one),
        quantizerSource = Some(old))
      .collect().map(_.toSeq).toSet
    assert(m.graph.collect().map(_.toSeq).toSet == want2)
  }

  test("attached to a MemoryStream, the artifact matches the rebuild") {
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val rows = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
    val (b1, b2) = rows.partition(_._1 % 2 == 0)
    val input = MemoryStream[(Long, Array[Float])]
    val m = GraphMaintainer.build(old, tmp("stream"), nCentroids = Some(16))
    val q = m.attach(input.toDF().toDF("vec_id", "embedding"))
    try {
      input.addData(b1.toSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toSeq: _*)
      q.processAllAvailable()
      assert(m.graph.collect().map(_.toSeq).toSet == rebuildWant)
    } finally q.stop()
  }

  test("recovery: a maintainer reopened from the landed artifacts folds on as if uninterrupted") {
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val b1 = emb.filter(col("vec_id") % 5 === 0 && col("vec_id") % 2 === 0)
    val b2 = emb.filter(col("vec_id") % 5 === 0 && col("vec_id") % 2 =!= 0)
    val dir = tmp("recover")
    val m1 = GraphMaintainer.build(old, dir, nCentroids = Some(16))
    m1.fold(b1)
    // "crash": drop the maintainer object entirely; the graph, routing and
    // quantizer live only in workDir
    val m2 = GraphMaintainer.recover(spark, dir)
    m2.fold(b2)
    assert(m2.graph.collect().map(_.toSeq).toSet == rebuildWant,
      "recovered maintainer must produce the uninterrupted epoch's graph")
    assert(m2.corpus.count() == emb.count())
    // recovery TOOK OWNERSHIP: the zombie m1 is fenced — two maintainers
    // interleaving dynamic partition overwrites would corrupt cells
    val e = intercept[IllegalArgumentException](m1.fold(b2, Some(99L)))
    assert(e.getMessage.contains("FENCED"), e.getMessage)
  }

  test("the replay high-water rides the manifest and survives a restart") {
    val emb = Tables.embeddings(spark, sf)
    val dir = tmp("hw")
    val m = GraphMaintainer.build(emb.filter(col("vec_id") % 5 =!= 0), dir, nCentroids = Some(16))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh = emb.filter(col("vec_id") % 5 === 0)
    (3L to 8L).foreach { id =>
      m.fold(fresh.filter(col("vec_id") % 7 === id - 3), Some(id))
    }
    // marker-advance and data-commit are ONE atomic rename: the manifest
    // itself carries the high-water — no separate marker directory
    assert(liveState(fs, dir).hw.contains(8L),
      "the latest commit must carry the max applied batchId")
    assert(m.fold(fresh.limit(1), Some(5L)).isEmpty,
      "a superseded batchId must no-op against the high-water")
    // the persisted value survives a restart — a recovered maintainer
    // short-circuits replays without any marker dir on disk
    val m2 = GraphMaintainer.recover(spark, dir)
    assert(m2.fold(fresh.limit(1), Some(8L)).isEmpty,
      "a recovered maintainer must honor the manifest-carried high-water")
  }

  test("intra-batch duplicate ids: same embedding collapses, different embeddings fail loud") {
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val b1 = emb.filter(col("vec_id") % 5 === 0)
    val m = GraphMaintainer.build(old, tmp("batchdup"), nCentroids = Some(16))
    // at-least-once sources can duplicate a record WITHIN one
    // micro-batch: the same-embedding copies must collapse to one row
    m.fold(b1.unionByName(b1.limit(7)))
    assert(m.corpus.select(col("vec_id")).distinct().count() == m.corpus.count(),
      "intra-batch duplicates must not land twice in routing")
    assert(m.graph.collect().map(_.toSeq).toSet == rebuildWant)
    // a same-id DIFFERENT-embedding pair in one batch is a re-embed and
    // must fail loud NOW — landing both would corrupt silently and only
    // the NEXT fold touching the id would throw, one fold too late
    val row1 = b1.limit(1)
      .select(lit(10000000L).as("vec_id"), col("embedding"))
    val row2 = row1.withColumn("embedding",
      org.apache.spark.sql.functions.transform(col("embedding"), x => x * 2f))
    val e = intercept[IllegalArgumentException](m.fold(row1.unionByName(row2)))
    assert(e.getMessage.contains("IN THE BATCH"), e.getMessage)
    assert(m.graph.collect().map(_.toSeq).toSet == rebuildWant,
      "the rejected batch must not have landed anything")
  }

  test("replayed batches are no-ops; a true re-embed fails loud") {
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val b1 = emb.filter(col("vec_id") % 5 === 0)
    val m = GraphMaintainer.build(old, tmp("replay"), nCentroids = Some(16))
    m.fold(b1)
    val want = m.graph.collect().map(_.toSeq).toSet
    // at-least-once redelivery: same rows, no batchId marker — the
    // embedding-equality check classifies every id as a replay
    m.fold(b1)
    assert(m.graph.collect().map(_.toSeq).toSet == want,
      "replaying an applied batch must not change the artifact")
    // same id, different vector = an update: must throw, not silently merge
    val reEmbed = b1.limit(1).withColumn("embedding",
      org.apache.spark.sql.functions.transform(col("embedding"), x => x * 2f))
    val e = intercept[IllegalArgumentException](m.fold(reEmbed))
    assert(e.getMessage.contains("DIFFERENT embeddings"))
  }

  test("labelPropagateIncrement over a fold's influence set equals the full re-propagation") {
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val batch = emb.filter(col("vec_id") % 5 === 0)
    // sparse seeds so round 2 carries real hearsay (deltas can cascade)
    val seeds = emb.filter(col("vec_id") % 16 === 0)
      .select(col("vec_id"), col("label"))
    val m = GraphMaintainer.build(old, tmp("labels"), nCentroids = Some(16))
    val oldLabels = SimilaritySearch
      .labelPropagateOnGraph(m.graph, seeds).localCheckpoint()
    val touched = m.fold(batch)
    assert(touched.count() > 0, "a non-empty fold must report its influence set")
    val full = SimilaritySearch.labelPropagateOnGraph(m.graph, seeds)
      .collect().map(_.toSeq).toSet
    val incr = SimilaritySearch
      .labelPropagateIncrement(m.graph, oldLabels, seeds, touched)
      .collect().map(_.toSeq).toSet
    assert(incr == full,
      "re-voting only the influence set must reproduce the full propagation")
  }

  test("a fold moves only the batch's cells' manifest entries; untouched cell files are byte-stable") {
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val b1 = emb.filter(col("vec_id") % 5 === 0).limit(3)
    val dir = tmp("prune")
    val m = GraphMaintainer.build(old, dir, nCentroids = Some(16))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fileStamps = {
      def walk(f: java.io.File): Seq[(String, Long)] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq(f.getPath -> f.lastModified())
      walk(new java.io.File(s"$dir/data")).toMap
    }
    val before = GraphMaintainer.latestEntries(fs, dir)
    val beforeFiles = fileStamps
    m.fold(b1)
    val touched = graft.operators.SimilaritySearch
      .cellAssign(b1.select(col("vec_id"), col("embedding")),
        spark.sparkContext.broadcast(
          SimilaritySearch.ivfCentroids(old.select(col("vec_id"), col("embedding")), 16)))
      .select(col("cell")).distinct().as[Long].collect().toSet
    val after = GraphMaintainer.latestEntries(fs, dir)
    // the commit replaced ONLY the touched cells' entries
    val moved = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k))
    assert(moved.nonEmpty && moved.forall { case (_, c) => touched(c) },
      s"only the batch's cells may move: moved=$moved touched=$touched")
    assert((before.keySet.filterNot { case (_, c) => touched(c) })
      .forall(k => before(k) == after(k)),
      "untouched cells must keep their manifest entries verbatim")
    // token files are IMMUTABLE: every pre-fold data file survives the
    // fold byte-identical (new cells land in a NEW token; nothing in
    // place is rewritten — the property that makes the commit atomic)
    val afterFiles = fileStamps
    assert(beforeFiles.forall { case (p, t) => afterFiles.get(p).contains(t) },
      "pre-fold data files must be untouched by a fold")
  }

  test("a fold that lands data but crashes before the manifest rename publishes nothing; the refold converges") {
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val batch = emb.filter(col("vec_id") % 5 === 0)
    val dir = tmp("crash")
    val m = GraphMaintainer.build(old, dir, nCentroids = Some(16))
    val preGraph = m.graph.collect().map(_.toSeq).toSet
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val preEntries = GraphMaintainer.latestEntries(fs, dir)
    // simulate the crash window: the fold's token dirs land (both
    // artifacts), then the process dies BEFORE commitManifest renames —
    // i.e. write data the way a fold would, but never publish
    graft.operators.SimilaritySearch
      .cellAssign(batch.select(col("vec_id"), col("embedding")),
        spark.sparkContext.broadcast(
          SimilaritySearch.ivfCentroids(old.select(col("vec_id"), col("embedding")), 16)))
      .write.partitionBy("cell").parquet(s"$dir/data/routing/fold=tcrashed")
    assert(m.graph.collect().map(_.toSeq).toSet == preGraph,
      "a crashed (unpublished) fold must serve the pinned pre-crash state")
    assert(m.corpus.count() == old.count(),
      "the crashed batch's vectors must not be visible")
    assert(GraphMaintainer.latestEntries(fs, dir) == preEntries)
    // the redelivered batch refolds from the pinned state and converges
    val m2 = GraphMaintainer.recover(spark, dir)
    m2.fold(batch, Some(1L))
    assert(m2.graph.collect().map(_.toSeq).toSet == rebuildWant,
      "the refold over the pinned state must equal the rebuild")
    assert(m2.corpus.count() == emb.count())
    // and the crashed token is vacuum garbage, not live state
    m2.vacuum(keepManifests = 2)
    assert(!new java.io.File(s"$dir/data/routing/fold=tcrashed").exists())
    assert(m2.graph.collect().map(_.toSeq).toSet == rebuildWant)
  }

  test("two maintainers race: the superseded owner's late manifest is never served and its marker never advances") {
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val b1 = emb.filter(col("vec_id") % 5 === 0 && col("vec_id") % 2 === 0)
    val b2 = emb.filter(col("vec_id") % 5 === 0 && col("vec_id") % 2 =!= 0)
    val dir = tmp("race")
    val m1 = GraphMaintainer.build(old, dir, nCentroids = Some(16))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // takeover: m2 lands the next owner epoch and folds
    val m2 = GraphMaintainer.recover(spark, dir)
    m2.fold(b1, Some(1L))
    val served = GraphMaintainer.latestEntries(fs, dir)
    val servedGraph = m2.graph.collect().map(_.toSeq).toSet
    // the zombie m1 fails loud at its next fold — entry fence
    val e = intercept[IllegalArgumentException](m1.fold(b2, Some(2L)))
    assert(e.getMessage.contains("FENCED"), e.getMessage)
    // deeper: even a zombie that stalled PAST every fence check and
    // reached the rename cannot be served — its manifest name carries the
    // SUPERSEDED epoch, which sorts below everything the new owner has
    // published (the fencing-token backstop the raw partition overwrite
    // never had). Simulate that worst case by committing directly with
    // the old epoch:
    val live = liveState(fs, dir)
    GraphMaintainer.commitManifest(fs, dir, epoch = 1,
      Map((GraphMaintainer.GraphArt, 0L) -> "tzombie"), live.quantizer, live.k)
    assert(GraphMaintainer.latestEntries(fs, dir) == served,
      "a lower-epoch manifest landing after the takeover must be invisible")
    assert(m2.graph.collect().map(_.toSeq).toSet == servedGraph)
    // the zombie's replay marker never advanced, so batch 2 is NOT
    // wrongly marked applied — the new owner folds it for real
    m2.fold(b2, Some(2L))
    assert(m2.graph.collect().map(_.toSeq).toSet == rebuildWant,
      "the winner's chain must converge to the rebuild")
  }

  test("an attached loop with keepManifests bounds the manifest log and sweeps dead tokens") {
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val rows = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
    val dir = tmp("gc")
    val m = GraphMaintainer.build(old, dir, nCentroids = Some(16))
    val input = MemoryStream[(Long, Array[Float])]
    val q = m.attach(input.toDF().toDF("vec_id", "embedding"),
      keepManifests = Some(2), vacuumGraceMs = 0L)
    try {
      rows.grouped(math.max(1, rows.length / 4)).foreach { g =>
        input.addData(g.toSeq: _*); q.processAllAvailable()
      }
      assert(m.graph.collect().map(_.toSeq).toSet == rebuildWant)
    } finally q.stop()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = GraphMaintainer.manifestNames(fs, dir)
    // retention keeps the newest `keep` commits PLUS their #base chains
    // (a retained delta must stay resolvable) — O(keep + CheckpointEvery)
    assert(names.size <= 2 + GraphMaintainer.CheckpointEvery,
      s"in-loop vacuum must hold the log at O(keep + ckpt interval), got ${names.size}")
    // and every retained commit still RESOLVES (its chain was kept whole)
    names.foreach(n => GraphMaintainer.resolveState(fs, dir, n))
    // every token cell-dir on disk is referenced by a RETAINED manifest —
    // replaced slices and crashed-commit debris sweep as they age out
    val referenced = names.flatMap(GraphMaintainer.readManifest(fs, dir, _))
      .map { case ((a, c), t) => s"$dir/data/$a/fold=$t/cell=$c" }.toSet
    Seq("graph", "routing").foreach { a =>
      Option(new java.io.File(s"$dir/data/$a").listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("fold=")).foreach { fd =>
          fd.listFiles().filter(_.getName.startsWith("cell=")).foreach { cd =>
            assert(referenced(cd.getPath),
              s"unreferenced token slice survived the in-loop vacuum: $cd")
          }
        }
    }
  }

  test("a foreign commit becoming visible refreshes the replay prescreen: the redelivered batch duplicates nothing") {
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val b1 = emb.filter(col("vec_id") % 5 === 0)
    val dir = tmp("zombiebloom")
    GraphMaintainer.build(old, dir, nCentroids = Some(16))
    // the new owner's Bloom prescreen is built HERE, at the build-time
    // manifest — before the zombie's commit lands
    val m2 = GraphMaintainer.recover(spark, dir)
    // worst-case zombie interleaving (impossible to produce through the
    // API — the entry fence stops it — so simulate at the protocol):
    // a maintainer that stalled past its fence checks lands b1's fold
    // and its manifest becomes LATEST (the new owner has not committed
    // since), but dies before its replay marker — so b1 will be
    // REDELIVERED to the new owner while already being stored
    graft.plans.GraftFunctions.register(spark)
    val cs = spark.sparkContext.broadcast(
      SimilaritySearch.ivfCentroids(old.select(col("vec_id"), col("embedding")), 16))
    val allCells = SimilaritySearch
      .cellAssign(emb.select(col("vec_id"), col("embedding")), cs)
      .localCheckpoint()
    allCells.repartition(col("cell")).write.partitionBy("cell")
      .parquet(s"$dir/data/routing/fold=tzombie")
    SimilaritySearch.knnGraph(emb.select(col("vec_id"), col("embedding")),
        quantizerSource = Some(old))
      .join(allCells.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .select(col("vec_id"), col("neighbor_id"), col("rank"), col("cos"), col("cell"))
      .repartition(col("cell")).write.partitionBy("cell")
      .parquet(s"$dir/data/graph/fold=tzombie")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    val cells = allCells.select(col("cell")).distinct().as[Long].collect()
    val live = liveState(fs, dir)
    GraphMaintainer.commitManifest(fs, dir, epoch = 1,
      (cells.map(c => (GraphMaintainer.RoutingArt, c) -> "tzombie") ++
        cells.map(c => (GraphMaintainer.GraphArt, c) -> "tzombie")).toMap,
      live.quantizer, live.k)
    assert(m2.corpus.count() == emb.count(), "the zombie's commit is visible")
    // the redelivered batch: a stale construction-time Bloom would miss
    // b1's ids, skip the replay probe, and DUPLICATE every row into
    // routing — resolveBase must detect the foreign manifest and rebuild
    m2.fold(b1, Some(7L))
    assert(m2.corpus.count() == emb.count(),
      "a redelivered batch over a foreign-committed state must not duplicate routing rows")
    assert(m2.corpus.select(col("vec_id")).distinct().count() == emb.count())
    assert(m2.graph.collect().map(_.toSeq).toSet == rebuildWant)
    // and the no-op still advanced the marker, so the next redelivery
    // short-circuits on the high-water
    assert(m2.fold(b1, Some(7L)).isEmpty)
  }

  test("commit-name field overflow fails loud AT the commit point, never an unlistable (silently lost) manifest") {
    val emb = Tables.embeddings(spark, sf)
    val dir = tmp("overflow")
    GraphMaintainer.build(emb.filter(col("vec_id") % 5 =!= 0), dir, nCentroids = Some(16))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an epoch past the m%06d field would rename to a name no reader's
    // ManifestRe-filtered listing matches: the commit would "succeed"
    // and vanish — the maintainer only failing much later at the
    // regression check, with a retire silently unserved until then
    val e = intercept[IllegalArgumentException](
      GraphMaintainer.commitManifest(fs, dir, epoch = 1000000,
        Map((GraphMaintainer.GraphArt, 0L) -> "tovfl"), "qovfl", 5))
    assert(e.getMessage.contains("overflow"), e.getMessage)
    assert(GraphMaintainer.manifestNames(fs, dir).size == 1,
      "the refused commit must have landed nothing")
  }

  test("a corrupt manifest line fails loud naming the file and the line") {
    val emb = Tables.embeddings(spark, sf)
    val dir = tmp("corrupt")
    GraphMaintainer.build(emb.filter(col("vec_id") % 5 =!= 0), dir, nCentroids = Some(16))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val name = GraphMaintainer.manifestNames(fs, dir).head
    val p = java.nio.file.Paths.get(s"$dir/_commits/$name")
    // tear the tab structure of the last line — the shape a torn write
    // or disk corruption leaves (a MatchError here would name nothing)
    val bytes = java.nio.file.Files.readAllBytes(p)
    val lastTab = bytes.lastIndexWhere(_ == '\t'.toByte)
    java.nio.file.Files.write(p, bytes.take(lastTab))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/_commits/.$name.crc"))
    val e = intercept[IllegalStateException](
      GraphMaintainer.readCommit(fs, dir, name))
    assert(e.getMessage.contains(name) && e.getMessage.contains("corrupt"),
      s"the error must NAME the damaged manifest: ${e.getMessage}")
  }

  test("a header-less manifest fails loud, naming the file") {
    val emb = Tables.embeddings(spark, sf)
    val dir = tmp("noheader")
    GraphMaintainer.build(emb.filter(col("vec_id") % 5 =!= 0), dir, nCentroids = Some(16))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val name = GraphMaintainer.manifestNames(fs, dir).head
    val p = java.nio.file.Paths.get(s"$dir/_commits/$name")
    // the same entry lines with every `#` line stripped: no header, no
    // #q/#k — nothing says whether it is a checkpoint or what it routes by
    val body = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .linesIterator.filterNot(_.startsWith("#")).mkString("\n")
    java.nio.file.Files.write(p, body.getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/_commits/.$name.crc"))
    val e = intercept[IllegalStateException](GraphMaintainer.recover(spark, dir))
    assert(e.getMessage.contains(name) && e.getMessage.contains("#graft-manifest"),
      s"the error must NAME the header-less manifest: ${e.getMessage}")
  }

  test("recover on a workDir with no manifest refuses and names build") {
    val dir = tmp("nomanifest")
    val e = intercept[IllegalStateException](GraphMaintainer.recover(spark, dir))
    assert(e.getMessage.contains(dir) && e.getMessage.contains("GraphMaintainer.build"),
      e.getMessage)
  }

  test("a failed land surfaces only after the other land settles") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.faultyland.impl", classOf[FaultyLandFileSystem].getName)
    val emb = Tables.embeddings(spark, sf)
    val dir = tmp("faultyland")
    val m = GraphMaintainer.build(
      emb.filter(col("vec_id") % 5 =!= 0), s"faultyland://$dir", nCentroids = Some(16))
    val batch = emb.filter(col("vec_id") % 5 === 0)
    def routingTokens = new java.io.File(s"$dir/data/routing").list()
      .filter(_.startsWith("fold=")).toSet
    val before = routingTokens
    FaultyLandFileSystem.stalled.set(false)
    FaultyLandFileSystem.armed = true
    val e = try intercept[Exception](m.fold(batch, Some(1L)))
      finally FaultyLandFileSystem.armed = false
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => Option(x.getMessage).exists(_.contains("/data/graph/fold="))),
      s"the graph land's failure surfaces: $e")
    // the stalled routing land had finished — its write job committed —
    // by the time the graph land's error reached the caller
    val landed = routingTokens -- before
    assert(landed.size == 1, s"one routing land ran beside the failed one: $landed")
    assert(new java.io.File(s"$dir/data/routing/${landed.head}/_SUCCESS").exists(),
      "the routing land must settle before the failure surfaces")
    // nothing was published: the redelivered batch folds exactly
    m.fold(batch, Some(1L))
    assert(m.graph.collect().map(_.toSeq).toSet == rebuildWant)
  }

  test("commits are deltas of the touched cells, checkpoint-anchored: per-commit bytes track the batch, never the corpus") {
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val fresh = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding")).collect()
    val dir = tmp("deltalog")
    val m = GraphMaintainer.build(old, dir, nCentroids = Some(16))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    // 12 one-row folds: each touches exactly ONE cell, so its commit may
    // carry at most one upsert per artifact (+ removals for emptied
    // cells) — a full-map rewrite would carry EVERY live cell every time
    fresh.take(12).zipWithIndex.foreach { case (r, i) =>
      m.fold(Seq((r.getLong(0), r.getSeq[Float](1).toArray))
        .toDF("vec_id", "embedding"), Some(i.toLong + 1L))
    }
    val names = GraphMaintainer.manifestNames(fs, dir)
    val commits = names.map(GraphMaintainer.readCommit(fs, dir, _))
    val (ckpts, deltas) = commits.partition(_.checkpoint)
    assert(deltas.nonEmpty, "folds between checkpoints must commit deltas")
    // the cadence: build's checkpoint + one forced every CheckpointEvery
    assert(ckpts.size == 1 + (commits.size - 1) / GraphMaintainer.CheckpointEvery,
      s"checkpoint cadence broken: ${commits.map(_.checkpoint)}")
    val liveCells = GraphMaintainer.latestEntries(fs, dir).size
    deltas.foreach { d =>
      assert(d.entries.size <= 2 && d.entries.size + d.removes.size < liveCells,
        s"a one-cell fold's delta must track the touched cell, not the " +
          s"$liveCells live entries: ${d.name} carried ${d.entries.size}+" +
          s"${d.removes.size}")
      assert(d.base.isDefined, s"${d.name} must pin its #base")
    }
    // and the delta-log resolution is EXACT: the folded state equals the
    // frozen-quantizer rebuild over everything landed so far
    val want = SimilaritySearch.knnGraph(
        old.select(col("vec_id"), col("embedding"))
          .unionByName(fresh.take(12).map(r =>
            (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
            .toDF("vec_id", "embedding")),
        quantizerSource = Some(old))
      .collect().map(_.toSeq).toSet
    assert(m.graph.collect().map(_.toSeq).toSet == want)
  }

  test("vacuum clamps retention to current+previous: an in-flight reader's resolved manifest survives keep=1") {
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val b = emb.filter(col("vec_id") % 5 === 0)
    val dir = tmp("keepclamp")
    val m = GraphMaintainer.build(old, dir, nCentroids = Some(16))
    m.fold(b.limit(3), Some(1L))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a reader resolves "latest" here...
    val readerPin = GraphMaintainer.manifestNames(fs, dir).last
    val pinned = GraphMaintainer.resolveState(fs, dir, readerPin).entries
    m.fold(b.limit(7), Some(2L))
    // ...and the sweep lands before its scan: keep=1 must still retain
    // the previous commit (the ScdMaintenance marker-retention clamp,
    // applied to the graph log)
    m.vacuum(keepManifests = 1, graceMs = 0L)
    assert(GraphMaintainer.manifestNames(fs, dir).contains(readerPin),
      "keep=1 must clamp to 2: the pre-sweep 'latest' stays resolvable")
    assert(GraphMaintainer.resolveState(fs, dir, readerPin).entries == pinned,
      "the in-flight reader's pinned state must still resolve byte-equal")
  }

  test("rebuildEpoch executes the re-embed runbook: one atomic cutover, folds continue exact, recovery sees the new epoch") {
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val b1 = emb.filter(col("vec_id") % 5 === 0 && col("vec_id") % 2 === 0)
    val b2 = emb.filter(col("vec_id") % 5 === 0 && col("vec_id") % 2 =!= 0)
    val dir = tmp("rebuild")
    val m = GraphMaintainer.build(old, dir, nCentroids = Some(16))
    m.fold(b1, Some(1L))
    // the corrected corpus: every %3 id re-embedded (scaled) — folding it
    // is refused (the refusal now NAMES the executable path)...
    val corrected = m.corpus.withColumn("embedding",
      when(col("vec_id") % 3 === 0,
        org.apache.spark.sql.functions.transform(col("embedding"), x => x * 2f))
        .otherwise(col("embedding")))
      .localCheckpoint()
    val e = intercept[IllegalArgumentException](
      m.fold(corrected.filter(col("vec_id") % 3 === 0).limit(2)))
    assert(e.getMessage.contains("rebuildEpoch"), e.getMessage)
    // ...rebuildEpoch IS that path: new quantizer, routing, graph, one
    // checkpoint commit
    m.rebuildEpoch(corrected)
    val want = SimilaritySearch.knnGraph(corrected)
      .collect().map(_.toSeq).toSet
    assert(m.graph.collect().map(_.toSeq).toSet == want,
      "the rebuilt epoch must equal the from-scratch build over the corrected corpus")
    // the replay high-water carried across the cutover: batch 1 is still
    // marked applied
    assert(m.fold(b1, Some(1L)).isEmpty,
      "an applied batchId must stay applied across an epoch rebuild")
    // folds continue exact under the NEW frozen quantizer
    m.fold(b2, Some(2L))
    val want2 = SimilaritySearch.knnGraph(
        corrected.unionByName(b2.select(col("vec_id"), col("embedding"))),
        quantizerSource = Some(corrected))
      .collect().map(_.toSeq).toSet
    assert(m.graph.collect().map(_.toSeq).toSet == want2,
      "post-rebuild folds must be exact under the new quantizer")
    // the cutover is DURABLE and atomic: a recovered maintainer serves
    // the same epoch (quantizer and k resolve from the manifest's #q/#k)
    val m2 = GraphMaintainer.recover(spark, dir)
    assert(m2.graph.collect().map(_.toSeq).toSet == want2)
    assert(m2.centroidIds == m.centroidIds)
  }

  test("forgetting a quantizer centroid goes through rebuildEpoch end-to-end: bytes leave disk after the next commit + vacuum") {
    val emb = Tables.embeddings(spark, sf)
    val dir = tmp("centroidforget")
    val m = GraphMaintainer.build(emb.filter(col("vec_id") % 5 =!= 0), dir, nCentroids = Some(16))
    m.fold(emb.filter(col("vec_id") % 5 === 0), Some(1L))
    import spark.implicits._
    val doomedId = m.centroidIds.max
    val doomed = Seq(doomedId).toDF("vec_id")
    // retire refuses — the raw embedding lives in the quantizer artifact
    val e = intercept[IllegalArgumentException](m.retire(doomed))
    assert(e.getMessage.contains("rebuildEpoch"), e.getMessage)
    // the cascade's executable arm: rebuild the epoch over the survivors
    val survivors = m.corpus.filter(col("vec_id") =!= doomedId).localCheckpoint()
    m.rebuildEpoch(survivors)
    // LIVE attestation at the cutover: no doomed id anywhere served
    assert(!m.centroidIds.contains(doomedId),
      "the new quantizer must not draw the doomed id")
    assert(m.corpus.filter(col("vec_id") === doomedId).isEmpty)
    assert(m.graph.filter(col("vec_id") === doomedId ||
      col("neighbor_id") === doomedId).isEmpty)
    // BYTE attestation: one further commit pushes the pre-rebuild state
    // past the keep-2 in-flight-reader clamp, and vacuum reclaims it —
    // the commit-then-vacuum forget SLA
    m.fold(emb.filter(col("vec_id") % 5 === 0).limit(1)
      .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding")),
      Some(2L))
    m.vacuum(keepManifests = 2, graceMs = 0L)
    assert(spark.read.option("basePath", s"$dir/data/routing")
      .parquet(s"$dir/data/routing")
      .filter(col("vec_id") === doomedId).isEmpty,
      "the doomed id's embedding must be GONE from every on-disk routing file")
    assert(spark.read.parquet(s"$dir/quantizers/*")
      .filter(col("cid") === doomedId).isEmpty,
      "the superseded quantizer token holding the doomed embedding must be swept")
    assert(new java.io.File(s"$dir/quantizers").listFiles()
      .count(_.getName.startsWith("q")) == 1,
      "exactly the live epoch's quantizer token remains")
  }

  test("a foreign epoch cutover is adopted WHOLE at the next fold: #q/#k reload with the entries, never re-stamped stale") {
    // the documented zombie window: a fenced maintainer's rebuildEpoch
    // passed its fence check, stalled, and its cutover RENAME became
    // visible after this owner's caches were built. Adopting its
    // entries/#hw/Bloom but keeping OUR quantizer would cell-assign the
    // next batch under the old geometry into new-epoch cell partitions
    // and re-stamp the stale #q — silent graph corruption. Reproduce the
    // zombie's landed result with the maintainer's own operators, publish
    // its checkpoint, and pin that the owner's next fold is EXACT under
    // the foreign epoch.
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val dir = tmp("foreignq")
    val m = GraphMaintainer.build(old, dir, nCentroids = Some(16))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    // the zombie's cutover: a 8-cell re-fit over a %3-survivor corpus, k=4
    val survivors = m.corpus.filter(col("vec_id") % 3 =!= 0).localCheckpoint()
    val k2 = 4
    val cs = SimilaritySearch.ivfCentroids(survivors, 8)
    val qTok = "qforeigncutover0"
    cs.toSeq.toDF("cid", "emb", "norm")
      .coalesce(1).write.parquet(s"$dir/quantizers/$qTok")
    val bcast = spark.sparkContext.broadcast(cs)
    val cells = SimilaritySearch.cellAssign(survivors, bcast).localCheckpoint()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cos").desc, col("neighbor_id"))
    val edges = SimilaritySearch.cellEdgesWithCell(cells, cells)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k2)
      .select(col("vec_id"), col("neighbor_id"), col("rank"), col("cos"), col("cell"))
    def land(df: org.apache.spark.sql.DataFrame, art: String, tok: String): Seq[Long] = {
      val d = s"$dir/data/$art/fold=$tok"
      df.repartition(col("cell")).write.partitionBy("cell").parquet(d)
      new java.io.File(d).listFiles().toSeq.map(_.getName)
        .collect { case n if n.startsWith("cell=") => n.stripPrefix("cell=").toLong }
    }
    val entries =
      (land(cells, GraphMaintainer.RoutingArt, "tforeignr0000000")
        .map(c => (GraphMaintainer.RoutingArt, c) -> "tforeignr0000000") ++
       land(edges, GraphMaintainer.GraphArt, "tforeigng0000000")
        .map(c => (GraphMaintainer.GraphArt, c) -> "tforeigng0000000")).toMap
    GraphMaintainer.commitManifest(fs, dir, 1, entries, quantizer = qTok, k = k2)
    // the owner folds a fresh batch: resolveBase must adopt the WHOLE
    // foreign epoch — quantizer, k, entries — and the fold stays exact
    val batch = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding"))
    m.fold(batch, Some(1L))
    assert(m.centroidIds.toSet == cs.map(_._1).toSet,
      "the foreign epoch's quantizer must be reloaded, not kept stale")
    assert(m.k == k2, "the foreign epoch's k must be adopted")
    val head = GraphMaintainer.readCommit(fs, dir,
      GraphMaintainer.manifestNames(fs, dir).last)
    assert(head.quantizer == qTok,
      "the owner's next commit must re-stamp the FOREIGN #q, not the stale one")
    assert(head.k == k2)
    val want = SimilaritySearch.knnGraph(
        survivors.unionByName(batch), k = k2, nCentroids = 8,
        quantizerSource = Some(survivors))
      .collect().map(_.toSeq).toSet
    assert(m.graph.collect().map(_.toSeq).toSet == want,
      "the fold over the adopted epoch must equal the from-scratch rebuild " +
        "under the foreign quantizer")
  }

  test("serve getters short-circuit resolution: zero chain reads while the head is our own commit; a foreign head falls through correctly") {
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val dir = tmp("servecache")
    val m = GraphMaintainer.build(old, dir, nCentroids = Some(16))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    m.fold(emb.filter(col("vec_id") % 5 === 0), Some(1L))
    val before = m.serveResolves.get
    (1 to 5).foreach(_ => m.graph.count())
    val served = m.corpus.count()
    assert(m.serveResolves.get == before,
      "a single-owner serving loop must pay ZERO manifest reads per serve " +
        "(one LIST only) — the hot-path contract the bench reader measures")
    // a foreign head (a fenced zombie's late empty delta) must fall
    // through to the pinned chain walk and serve the RESOLVED state
    val head = GraphMaintainer.manifestNames(fs, dir).last
    val live = liveState(fs, dir)
    GraphMaintainer.commitManifest(fs, dir, 1, Map.empty, live.quantizer, live.k,
      checkpoint = false, base = Some(head), hw = Some(999L))
    assert(m.corpus.count() == served,
      "an empty foreign delta resolves to the same served state")
    assert(m.serveResolves.get == before + 1,
      "a foreign head must fall through to resolution, not serve stale cache")
    // out-of-band damage fails LOUD on the serve path too — the
    // resolveBase contract: a regressed listing must never serve a
    // rolled-back index, an emptied one must never serve 0 rows as truth
    val names = GraphMaintainer.manifestNames(fs, dir)
    names.takeRight(2).foreach(n => // the foreign delta + our cached head
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_commits/$n"), false))
    val e1 = intercept[IllegalArgumentException](m.graph)
    assert(e1.getMessage.contains("rolled-back"), e1.getMessage)
    names.dropRight(2).foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_commits/$n"), false))
    val e2 = intercept[IllegalArgumentException](m.corpus)
    assert(e2.getMessage.contains("empty corpus"), e2.getMessage)
  }

  test("an unsized build derives nCentroids from the corpus (sqrt-n, floor 16, capped); an unsized rebuildEpoch inherits the live geometry") {
    assert(GraphMaintainer.derivedNCentroids(100L) == 16, "floor")
    assert(GraphMaintainer.derivedNCentroids(10000000000L) == 100000,
      "10^10 vectors -> 10^5 cells, SCALE.md's sizing")
    assert(GraphMaintainer.derivedNCentroids(100000000000L) == 131072, "cap")
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()
    val want = GraphMaintainer.derivedNCentroids(n)
    assert(want > 16, s"fixture must exercise the derived path, n=$n")
    val dir = tmp("derivednc")
    val m = GraphMaintainer.build(emb, dir) // unsized: the 100 TB entry point
    assert(m.centroidIds.length == want,
      s"unsized build must derive sqrt($n)=$want cells, not a fixture constant")
    // an unsized rebuild INHERITS the epoch's geometry — a 64-cell index
    // must never silently re-fit to a constant (no #nc line needed: the
    // quantizer artifact's own length IS the count, recover included)
    m.rebuildEpoch(m.corpus.filter(col("vec_id") % 11 =!= 0).localCheckpoint())
    assert(m.centroidIds.length == want,
      "unsized rebuildEpoch must keep the live epoch's cell count")
    val m2 = GraphMaintainer.recover(spark, dir)
    assert(m2.centroidIds.length == want,
      "recovery inherits the derived geometry from the quantizer artifact")
    // explicit sizing always wins — resizing is a deliberate act
    m2.rebuildEpoch(m2.corpus.localCheckpoint(), nCentroids = Some(8))
    assert(m2.centroidIds.length == 8)
    // and build's in-place-rebuild case inherits too: an unsized build
    // over the EXISTING epoch keeps its geometry — the sibling entry
    // point must not silently re-fit a sized index to a derived count
    val m3 = GraphMaintainer.build(emb, dir)
    assert(m3.centroidIds.length == 8,
      "unsized build over an existing epoch must inherit the live geometry")
  }

  test("one-pass unsized sizing: the candidate-id prefix IS the sized draw, and the same ids-only scan yields the corpus count") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val (ids, counted) = SimilaritySearch.ivfCandidateIdsWithCount(emb, 24)
    assert(counted == n,
      "the accumulator riding the ids-only draw pass must see every " +
        "corpus row — no full-width scan is paid purely for sizing")
    assert(ids.length == 24)
    // prefix property + fetch: the first m ids' fetched embeddings equal
    // ivfCentroids(corpus, m) bit-for-bit — what lets build size AFTER
    // the draw pass and fetch only the chosen prefix
    val prefix = SimilaritySearch.fetchCentroids(emb, ids.take(10))
      .map { case (id, e, nn) => (id, e.toSeq, nn) }.toSeq
    val sizedDraw = SimilaritySearch.ivfCentroids(emb, 10)
      .map { case (id, e, nn) => (id, e.toSeq, nn) }.toSeq
    assert(prefix == sizedDraw)
    // the fetch fails loud when the corpus can't return every drawn id
    // (frame changed between the two scans, or duplicate vec_ids) —
    // never a silently mis-sized quantizer
    val e = intercept[IllegalArgumentException](
      SimilaritySearch.fetchCentroids(emb, ids.take(3) :+ -999L))
    assert(e.getMessage.contains("scan-stable"), e.getMessage)
  }

  test("an unsized-k rebuildEpoch honors a foreign epoch cutover's #k (refreshed BEFORE k is read)") {
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val dir = tmp("foreignk")
    val m = GraphMaintainer.build(old, dir, k = 5, nCentroids = Some(16))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a fenced zombie's late delta carrying a #k cutover (same quantizer):
    // the adoption contract says the owner's next mutation rebuilds under
    // the ADOPTED k, and an unsized-k rebuild must not re-stamp the stale 5
    val head = GraphMaintainer.manifestNames(fs, dir).last
    GraphMaintainer.commitManifest(fs, dir, 1, Map.empty,
      liveState(fs, dir).quantizer, k = 3,
      checkpoint = false, base = Some(head), hw = Some(0L))
    val survivors = m.corpus.filter(col("vec_id") % 3 =!= 0).localCheckpoint()
    m.rebuildEpoch(survivors) // unsized k AND unsized geometry
    assert(m.k == 3, "the foreign #k must be adopted, not the stale k=5")
    val newHead = GraphMaintainer.readCommit(fs, dir,
      GraphMaintainer.manifestNames(fs, dir).last)
    assert(newHead.k == 3,
      "the rebuild's cutover must re-stamp the ADOPTED k")
    assert(m.centroidIds.length == 16, "geometry still inherited")
    val want = SimilaritySearch.knnGraph(
        survivors, k = 3, nCentroids = 16, quantizerSource = Some(survivors))
      .collect().map(_.toSeq).toSet
    assert(m.graph.collect().map(_.toSeq).toSet == want,
      "the rebuilt graph must be the k=3 rebuild, not a stale-k one")
  }

  test("serve getters never spuriously refuse under a concurrent fold (cache snapshot precedes the listing)") {
    // the TOCTOU shape: serveEntries listing _commits BEFORE reading the
    // volatile serveCache let a concurrent fold commit+advance the cache
    // between the two reads — head (stale listing) sorted below the
    // cache and a healthy single-owner loop tripped the regression
    // refusal. A lost race against the grace-0 sweep (files deleted
    // mid-scan) is legal and retried; a 'refusing to serve' on a
    // forward-only log is the bug and fails the spec.
    val dim = 8
    def vs(ids: Seq[Long]) = ids.map { id =>
      (id, Array.tabulate(dim)(j => (((id * (j + 3) + 7) % 97).toFloat / 97f) - 0.5f))
    }.toDF("vec_id", "embedding")
    val dir = tmp("servetoctou")
    val m = GraphMaintainer.build(vs(0L until 60L), dir, nCentroids = Some(8))
    val nFolds = 12
    @volatile var writerErr: Option[Throwable] = None
    val writer = new Thread(() => {
      try (1 to nFolds).foreach { i =>
        m.fold(vs((1000L + i * 20L) until (1000L + i * 20L + 20L)), Some(i.toLong))
        m.vacuum(keepManifests = 2, graceMs = 0L)
      } catch { case t: Throwable => writerErr = Some(t) }
    }, "serve-toctou-writer")
    writer.start()
    var reads = 0
    while (writer.isAlive) {
      try { m.graph.count(); reads += 1 }
      catch {
        case e: IllegalArgumentException
            if e.getMessage.contains("refusing to serve") =>
          writer.join()
          fail(s"spurious serve refusal on a healthy single-owner loop: ${e.getMessage}")
        case _: Exception => () // lost the race to the grace-0 sweep: retryable by contract
      }
    }
    writer.join()
    assert(writerErr.isEmpty, s"maintainer failed: $writerErr")
    assert(reads > 0)
    assert(m.highWater.contains(nFolds.toLong))
  }

  test("cellStats flags a skewed quantizer's hot cells and keeps the Bloom total exact") {
    // deliberately skewed corpus: vectors 0..79 are IDENTICAL (every
    // dense vector routes to the same first-wins centroid), 80..95 spread
    // across 8 orthogonal axes — the dense cell holds 80 of 96 rows
    // against a quantizer sized for a mean of 96/16 = 6, far past the
    // HotCellFactor bound
    val dim = 8
    val rows = (0L until 80L).map { i =>
      (i, Array.tabulate(dim)(d => if (d == 0) 1.0f else 0.0f))
    } ++ (80L until 96L).map { i =>
      (i, Array.tabulate(dim)(d => if (d == (i % dim).toInt) 1.0f else 0.0f))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val cs = SimilaritySearch.ivfCentroids(emb, 16)
    val cells = SimilaritySearch
      .cellAssign(emb.select(col("vec_id"), col("embedding")),
        spark.sparkContext.broadcast(cs))
      .localCheckpoint()
    val (total, hot) = GraphMaintainer.cellStats(cells, cs.length)
    assert(total == 96L) // the Bloom sizing count the audit replaces
    assert(hot.nonEmpty, "the dense cell must be flagged")
    assert(hot.head._2 >= 80L,
      s"the flagged cell must be the dense mass: $hot")
    // and a balanced corpus (12 rows per axis, mean 12 at 8 centroids —
    // even total pile-up under cosine ties cannot cross 8×12) flags nothing
    val balanced = (0L until 96L)
      .map(i => (i, Array.tabulate(dim)(d => if (d == (i % dim).toInt) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val cs2 = SimilaritySearch.ivfCentroids(balanced, 8)
    val (t2, hot2) = GraphMaintainer.cellStats(
      SimilaritySearch.cellAssign(
        balanced.select(col("vec_id"), col("embedding")),
        spark.sparkContext.broadcast(cs2)).localCheckpoint(), cs2.length)
    assert(t2 == 96L)
    assert(hot2.isEmpty, s"balanced corpus must not flag: $hot2")
  }
}
