package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import scala.jdk.StreamConverters._
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.schemas.Transit._
import graft.serving.Dashboard
import graft.streaming.TransitPipeline

/** End-to-end pipeline test including checkpoint recovery: feed half the
  * simulated events, stop every query, restart from the same checkpoints,
  * feed the rest, and require the final serving state to equal the batch
  * semantics over the full event log. Further cases pin what
  * [[TransitPipeline.start]] promises its caller: one state partition per
  * query, the caller's session conf left as it was, progress on the
  * caller's listeners, and no query left running when a start fails.
  */
class TransitPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val Scoped = Seq("spark.sql.shuffle.partitions", "spark.sql.streaming.pollingDelay")
  private def callerConf: Seq[Option[String]] = Scoped.map(spark.conf.getAll.get)
  /** The shared test session's own values: 4 partitions, no polling delay set. */
  private val SessionConf = Seq(Some("4"), None)

  /** A config over fresh directories, each source holding one file. */
  private def seeded(): TransitPipeline.Config = {
    val root = Files.createTempDirectory("graft-pipeline").toString
    val cfg = TransitPipeline.Config(
      s"$root/arrivals", s"$root/turnstile", s"$root/weather", s"$root/chk")
    val (arrivals, turnstiles, weather) = graft.sim.Simulator.fromStations(
      TestStations.frame(spark), hourlyRatio = Map(0 -> 0.125), numTrains = 3).run(12)
    arrivals.toDS().coalesce(1).write.parquet(cfg.arrivalsDir)
    turnstiles.toDS().coalesce(1).write.parquet(cfg.turnstileDir)
    weather.toDS().coalesce(1).write.parquet(cfg.weatherDir)
    cfg
  }

  test("each query keeps one state partition, the caller's conf and listeners hold") {
    val cfg = seeded()
    assert(callerConf == SessionConf)
    val progressed = ConcurrentHashMap.newKeySet[String]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) progressed.add(e.progress.name)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val qs = TransitPipeline.start(spark, cfg, new Dashboard)
      try {
        assert(callerConf == SessionConf, "start must restore the caller's conf")
        qs.foreach(_.processAllAvailable())
        // progress events reach listeners asynchronously, on the listener bus
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (progressed.size < qs.size && System.nanoTime() < deadline) Thread.sleep(50)
      } finally qs.foreach(_.stop())
      assert(progressed.asScala.toSet == Set("train-positions", "turnstile-counts", "latest-weather"))
    } finally spark.streams.removeListener(listener)
    Seq("positions", "counts", "weather").foreach { q =>
      val s = Files.list(Paths.get(s"${cfg.checkpointRoot}/$q/state/0"))
      // beside the partitions, Spark keeps the operator's `_metadata` there
      val partitions = try s.toScala(Seq).map(_.getFileName.toString).filter(_.forall(_.isDigit))
        finally s.close()
      assert(partitions == Seq("0"), s"$q state partitions")
    }
    assert(callerConf == SessionConf)
  }

  test("a start that fails part-way stops the queries it started and restores the caller's conf") {
    val cfg = seeded()
    Files.createDirectories(Paths.get(cfg.checkpointRoot))
    Files.write(Paths.get(s"${cfg.checkpointRoot}/weather"), Array[Byte](1))
    assert(callerConf == SessionConf && spark.streams.active.isEmpty)
    intercept[Exception](TransitPipeline.start(spark, cfg, new Dashboard))
    assert(spark.streams.active.isEmpty, "queries started before the failure must be stopped")
    assert(callerConf == SessionConf, "start must restore the caller's conf")
  }

  test("file-source pipeline recovers state across a restart") {
    val root = Files.createTempDirectory("graft-pipeline").toString
    val cfg = TransitPipeline.Config(
      s"$root/arrivals", s"$root/turnstile", s"$root/weather", s"$root/chk")

    val sim = graft.sim.Simulator.fromStations(
      TestStations.frame(spark),
      hourlyRatio = Map(0 -> 0.125), numTrains = 3)
    val (arrivals, turnstiles, weather) = sim.run(24)
    val (a1, a2) = arrivals.splitAt(arrivals.size / 2)
    val (t1, t2) = turnstiles.splitAt(turnstiles.size / 2)
    val (w1, w2) = weather.splitAt(weather.size / 2)

    def dump[T <: Product : org.apache.spark.sql.Encoder](rows: Seq[T], dir: String): Unit =
      rows.toDS().coalesce(1).write.mode("append").parquet(dir)

    // phase 1
    dump(a1, cfg.arrivalsDir); dump(t1, cfg.turnstileDir); dump(w1, cfg.weatherDir)
    val dash = new Dashboard
    val qs1 = TransitPipeline.start(spark, cfg, dash)
    try qs1.foreach(_.processAllAvailable()) finally qs1.foreach(_.stop())
    assert(dash.platforms.nonEmpty && dash.counts.nonEmpty)

    // phase 2: fresh serving layer, SAME checkpoints — aggregation state
    // (cumulative counts) must survive the restart
    dump(a2, cfg.arrivalsDir); dump(t2, cfg.turnstileDir); dump(w2, cfg.weatherDir)
    val dash2 = new Dashboard
    val qs2 = TransitPipeline.start(spark, cfg, dash2)
    try qs2.foreach(_.processAllAvailable()) finally qs2.foreach(_.stop())

    // counts: update-mode only re-emits CHANGED stations after restart, so
    // compare on stations updated in phase 2 — cumulative across BOTH phases
    val batchCounts = graft.operators.Transit.turnstileSummary(turnstiles.toDF())
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(dash2.counts.nonEmpty)
    dash2.counts.foreach { case (sid, n) =>
      assert(n == batchCounts(sid), s"station $sid diverged after recovery")
    }

    // platforms: final state for keys touched in phase 2 equals batch over all
    val batchPositions = graft.operators.Transit.trainPositions(arrivals.toDF())
      .collect()
      .map(r => ((r.getInt(0), r.getString(1)), Option(r.getAs[String]("train_id"))))
      .toMap
    assert(dash2.platforms.nonEmpty)
    dash2.platforms.foreach { case (k, p) =>
      assert(batchPositions(k) == p.train_id, s"platform $k diverged")
    }

    // weather: newest reading wins
    assert(dash2.weather.map(_.timestamp) == Some(weather.map(_.timestamp).max))

    // dashboard renders from recovered state
    dash2.upsertStations(
      graft.operators.Transit.transformStations(
        TestStations.frame(spark))
        .dropDuplicates("station_id").as[TransformedStation])
    assert(dash2.rows.exists(_.total_turnstile_entries > 0))
  }
}
