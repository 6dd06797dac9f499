package graft

import java.nio.file.{Files, Paths}
import scala.jdk.StreamConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import graft.schemas.Transit._
import graft.serving.Dashboard
import graft.streaming.{LocalCheckpointFileManager, TransitPipeline, TransitStreams}

/** Checkpoint recovery of the transit pipeline across restarts and across
  * checkpoint file managers. Each case feeds a third of the simulated events
  * per run under one dashboard; before the second run it drops every query's
  * last commit-log entry, as a crash between the state commit and the commit
  * log would, so the restart re-executes that batch and overwrites its
  * checkpoint files; the third run reads them back. The served state must
  * then equal [[graft.operators.Transit]]'s batch result over all events. A
  * last case resumes a checkpoint written at the session's 4 shuffle
  * partitions under the pipeline, which starts fresh ones at 1.
  *
  * The station network is the in-repo golden dashboard's ([[TestStations]]).
  */
class CheckpointRestartSpec extends SparkSpec {
  import spark.implicits._

  private val Key = LocalCheckpointFileManager.ConfKey
  /** Spark's own pick for `file:` paths when the key is unset. */
  private val SparkDefault = Some(classOf[FileContextBasedCheckpointFileManager].getName)
  /** Key unset: [[TransitPipeline.start]] installs the local manager. */
  private val Local = None

  private def withManager[A](cls: Option[String])(body: => A): A = {
    val prev = spark.conf.getOption(Key)
    cls.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
    try body finally prev.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
  }

  private def checkpointFiles(root: String): Seq[java.nio.file.Path] = {
    val s = Files.walk(java.nio.file.Paths.get(root))
    try s.toScala(Seq).filter(Files.isRegularFile(_)) finally s.close()
  }

  /** A third of the simulated events per run, and the batch result the
    * served state must reach once all three thirds are in.
    */
  private final class Feed {
    private val root = Files.createTempDirectory("graft-restart").toString
    val cfg = TransitPipeline.Config(
      s"$root/arrivals", s"$root/turnstile", s"$root/weather", s"$root/chk")
    private val sim = new graft.sim.Simulator(
      TestStations.byLine, Map.empty, (0 until 24).map(_ -> 0.15).toMap, numTrains = 3)
    private val (arrivals, turnstiles, weather) = sim.run(36)
    private def third[T](xs: Seq[T], k: Int): Seq[T] = xs.slice(xs.size * k / 3, xs.size * (k + 1) / 3)
    private def dump[T <: Product : Encoder](rows: Seq[T], dir: String): Unit =
      rows.toDS().coalesce(1).write.mode("append").parquet(dir)

    def drop(k: Int): Unit = {
      dump(third(arrivals, k), cfg.arrivalsDir)
      dump(third(turnstiles, k), cfg.turnstileDir)
      dump(third(weather, k), cfg.weatherDir)
    }

    def assertServed(dash: Dashboard): Unit = {
      val expCounts = graft.operators.Transit.turnstileSummary(turnstiles.toDF())
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val expPositions = graft.operators.Transit.trainPositions(arrivals.toDF())
        .collect().map(r => (r.getAs[Int]("station_id"), r.getAs[String]("direction")) ->
          Option(r.getAs[String]("train_id"))).toMap
      val expWeather = graft.operators.Transit.latestWeather(weather.toDF())
        .collect().map(r => (r.getAs[Float]("temperature"), r.getAs[String]("status"),
          r.getAs[Long]("timestamp"))).headOption
      assert(expCounts.nonEmpty && expPositions.nonEmpty && expWeather.nonEmpty)
      assert(dash.counts.toMap == expCounts, "turnstile counts diverged across restarts")
      assert(dash.platforms.map { case (k, p) => k -> p.train_id }.toMap == expPositions,
        "platforms diverged across restarts")
      assert(dash.weather.map(w => (w.temperature, w.status, w.timestamp)) == expWeather,
        "weather diverged across restarts")
    }
  }

  private def runToEnd(qs: Seq[StreamingQuery]): Seq[StreamingQuery] = {
    try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
    qs
  }

  private def restartCase(first: Option[String], rest: Option[String]): Unit = {
    val feed = new Feed
    val cfg = feed.cfg
    val dash = new Dashboard
    def run(manager: Option[String], k: Int): Unit = withManager(manager) {
      feed.drop(k)
      runToEnd(TransitPipeline.start(spark, cfg, dash))
      if (manager == Local) assert(spark.conf.get(Key) == classOf[LocalCheckpointFileManager].getName)
    }

    run(first, 0)
    // Spark's default manager leaves Hadoop's hidden `.<name>.crc` beside
    // every checkpoint file; the local one writes none (Spark's own
    // `<name>.crc` state checksums are written either way)
    val crcs = checkpointFiles(cfg.checkpointRoot).map(_.getFileName.toString)
      .count(n => n.startsWith(".") && n.endsWith(".crc"))
    assert((crcs > 0) == (first == SparkDefault), s"$crcs hidden .crc files after the first run")
    val dropped = Seq("positions", "counts", "weather").map { q =>
      val commits = checkpointFiles(s"${cfg.checkpointRoot}/$q/commits")
      val last = commits.map(_.getFileName.toString).filter(_.forall(_.isDigit)).maxBy(_.toLong)
      commits.filter(p => Set(last, s".$last.crc")(p.getFileName.toString)).foreach(Files.delete)
      java.nio.file.Paths.get(s"${cfg.checkpointRoot}/$q/commits/$last")
    }
    run(rest, 1)
    assert(dropped.forall(Files.exists(_)), "the restart must re-execute the uncommitted batch")
    run(rest, 2)
    feed.assertServed(dash)
  }

  test("stop, crash and restart on the local checkpoint manager recover the batch result") {
    restartCase(Local, Local)
  }

  test("a checkpoint Spark's default manager wrote, .crc files and all, resumes on the local manager") {
    restartCase(SparkDefault, Local)
  }

  test("a checkpoint the local manager wrote resumes on Spark's default manager") {
    restartCase(Local, SparkDefault)
  }

  test("a checkpoint written at 4 state partitions resumes at 4 under the one-partition pipeline") {
    val feed = new Feed
    val cfg = feed.cfg
    val dash = new Dashboard
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    // the pipeline's three queries, built on the session's own 4 shuffle
    // partitions, as checkpoints written before the pipeline pinned one are
    def atSessionPartitions(): Seq[StreamingQuery] = {
      val arrivals = spark.readStream.schema(Encoders.product[Arrival].schema)
        .parquet(cfg.arrivalsDir).as[Arrival]
      val turnstile = spark.readStream.schema(Encoders.product[TurnstileEvent].schema)
        .parquet(cfg.turnstileDir)
      val weather = spark.readStream.schema(Encoders.product[WeatherReading].schema)
        .parquet(cfg.weatherDir).as[WeatherReading]
      Seq(
        TransitStreams.trainPositions(arrivals).writeStream.outputMode(OutputMode.Update())
          .option("checkpointLocation", s"${cfg.checkpointRoot}/positions")
          .foreachBatch((b: Dataset[PlatformState], _: Long) => dash.upsertPlatforms(b))
          .start(),
        TransitStreams.turnstileSummary(turnstile).writeStream.outputMode(OutputMode.Update())
          .option("checkpointLocation", s"${cfg.checkpointRoot}/counts")
          .foreachBatch((b: DataFrame, _: Long) => dash.upsertCounts(b))
          .start(),
        TransitStreams.latestWeather(weather).writeStream.outputMode(OutputMode.Update())
          .option("checkpointLocation", s"${cfg.checkpointRoot}/weather")
          .foreachBatch((b: Dataset[WeatherReading], _: Long) => dash.upsertWeather(b))
          .start())
    }
    def statePartitions: Seq[Set[String]] = Seq("positions", "counts", "weather").map { q =>
      val s = Files.list(Paths.get(s"${cfg.checkpointRoot}/$q/state/0"))
      try s.toScala(Set).map(_.getFileName.toString).filter(_.forall(_.isDigit)) finally s.close()
    }

    feed.drop(0)
    runToEnd(atSessionPartitions())
    assert(statePartitions.forall(_ == Set("0", "1", "2", "3")))
    (1 to 2).foreach { k =>
      feed.drop(k)
      val resumed = runToEnd(TransitPipeline.start(spark, cfg, dash))
      assert(resumed.map(_.lastProgress.stateOperators.head.numShufflePartitions) == Seq(4, 4, 4),
        "the offset log pins the partition count a checkpoint was written with")
    }
    assert(statePartitions.forall(_ == Set("0", "1", "2", "3")))
    feed.assertServed(dash)
  }
}
