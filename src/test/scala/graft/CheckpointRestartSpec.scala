package graft

import java.nio.file.Files
import scala.jdk.StreamConverters._
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import graft.schemas.Transit._
import graft.serving.Dashboard
import graft.streaming.{LocalCheckpointFileManager, TransitPipeline}

/** Checkpoint recovery of the transit pipeline across restarts and across
  * checkpoint file managers. Each case feeds a third of the simulated events
  * per run under one dashboard; before the second run it drops every query's
  * last commit-log entry, as a crash between the state commit and the commit
  * log would, so the restart re-executes that batch and overwrites its
  * checkpoint files; the third run reads them back. The served state must
  * then equal [[graft.operators.Transit]]'s batch result over all events.
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

  private def restartCase(first: Option[String], rest: Option[String]): Unit = {
    val root = Files.createTempDirectory("graft-restart").toString
    val cfg = TransitPipeline.Config(
      s"$root/arrivals", s"$root/turnstile", s"$root/weather", s"$root/chk",
      triggerMs = 100L)
    val sim = new graft.sim.Simulator(
      TestStations.byLine, Map.empty, (0 until 24).map(_ -> 0.15).toMap, numTrains = 3)
    val (arrivals, turnstiles, weather) = sim.run(36)
    def third[T](xs: Seq[T], k: Int): Seq[T] = xs.slice(xs.size * k / 3, xs.size * (k + 1) / 3)
    def dump[T <: Product : Encoder](rows: Seq[T], dir: String): Unit =
      rows.toDS().coalesce(1).write.mode("append").parquet(dir)

    val dash = new Dashboard
    def run(manager: Option[String], k: Int): Unit = withManager(manager) {
      dump(third(arrivals, k), cfg.arrivalsDir)
      dump(third(turnstiles, k), cfg.turnstileDir)
      dump(third(weather, k), cfg.weatherDir)
      val qs = TransitPipeline.start(spark, cfg, dash)
      try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
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

  test("stop, crash and restart on the local checkpoint manager recover the batch result") {
    restartCase(Local, Local)
  }

  test("a checkpoint Spark's default manager wrote, .crc files and all, resumes on the local manager") {
    restartCase(SparkDefault, Local)
  }

  test("a checkpoint the local manager wrote resumes on Spark's default manager") {
    restartCase(Local, SparkDefault)
  }
}
