package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.schemas.Transit._
import graft.streaming.TransitStreams

class TransitStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def runUpdateQuery[T](
      name: String, stream: org.apache.spark.sql.Dataset[T],
      feed: () => Unit): Unit = {
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update()).start()
    try { feed(); q.processAllAvailable() } finally q.stop()
  }

  test("turnstileSummary stream: counts accumulate across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TurnstileEvent]
    val q = TransitStreams.turnstileSummary(input.toDF())
      .writeStream.format("memory").queryName("ts_counts")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(TurnstileEvent(1L, 100, "S1", "red"), TurnstileEvent(2L, 100, "S1", "red"))
      q.processAllAvailable()
      input.addData(TurnstileEvent(3L, 100, "S1", "red"), TurnstileEvent(4L, 200, "S2", "blue"))
      q.processAllAvailable()
      val out = spark.table("ts_counts").orderBy("STATION_ID")
        .as[(Int, Long)].collect()
      assert(out.toSeq == Seq((100, 3L), (200, 1L)))
    } finally q.stop()
  }

  test("trainPositions stream: retraction + upsert across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Arrival]
    val q = TransitStreams.trainPositions(input.toDS())
      .writeStream.format("memory").queryName("tp_state")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(Arrival(1000L, 10, "RL001", "b", "red", "in_service", None, None))
      q.processAllAvailable()
      // move 10 → 20 in a later batch: depart clears platform 10
      input.addData(Arrival(2000L, 20, "RL001", "b", "red", "in_service", Some(10), Some("b")))
      q.processAllAvailable()
      val rows = spark.table("tp_state").as[PlatformState].collect()
      // memory sink in update mode appends changed rows; latest per key wins
      val latest = rows.groupBy(p => (p.station_id, p.direction))
        .map { case (_, ps) => ps.maxBy(_.updated) }
      assert(latest.find(_.station_id == 20).get.train_id.contains("RL001"))
      assert(latest.find(_.station_id == 10).get.train_id.isEmpty)
    } finally q.stop()
  }

  test("stream and batch trainPositions agree on a 50-tick simulated replay") {
    implicit val sqlCtx = spark.sqlContext
    val sim = graft.sim.Simulator.fromStations(
      TestStations.frame(spark), numTrains = 4)
    val (arrivals, _, _) = sim.run(50)

    // streaming result, fed in 5 chunks to exercise cross-batch state
    val input = MemoryStream[Arrival]
    val q = TransitStreams.trainPositions(input.toDS())
      .writeStream.format("memory").queryName("sim_tp")
      .outputMode(OutputMode.Update()).start()
    try {
      arrivals.grouped(math.max(1, arrivals.size / 5)).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      val streamed = spark.table("sim_tp").as[PlatformState].collect()
        .groupBy(p => (p.station_id, p.direction))
        .map { case (k, ps) => k -> ps.maxBy(_.updated) }
      val batch = graft.operators.Transit.trainPositions(arrivals.toDF())
        .collect()
        .map(r => ((r.getInt(0), r.getString(1)),
          Option(r.getAs[String]("train_id")))).toMap
      assert(streamed.nonEmpty)
      streamed.foreach { case (k, p) => assert(batch(k) == p.train_id, s"key $k") }
      assert(streamed.keySet == batch.keySet)
    } finally q.stop()
  }

  test("stale out-of-order arrivals do not regress platform state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Arrival]
    val q = TransitStreams.trainPositions(input.toDS())
      .writeStream.format("memory").queryName("ooo_tp")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(Arrival(5000L, 10, "RL002", "b", "red", "in_service", None, None))
      q.processAllAvailable()
      // an older arrival for the same platform lands in a later micro-batch
      input.addData(Arrival(1000L, 10, "RL001", "b", "red", "in_service", None, None))
      q.processAllAvailable()
      val latest = spark.table("ooo_tp").as[PlatformState].collect()
        .filter(_.station_id == 10).maxBy(_.updated)
      assert(latest.train_id.contains("RL002")) // newer state survives
      assert(latest.updated == 5000L)
    } finally q.stop()
  }

  test("trainPositionsWithTTL evicts platforms idle past the watermark horizon") {
    implicit val sqlCtx = spark.sqlContext
    val T0 = 1704067200000L
    val input = MemoryStream[Arrival]
    val q = TransitStreams.trainPositionsWithTTL(input.toDS(), "30 minutes")
      .writeStream.format("memory").queryName("ttl_tp")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(Arrival(T0, 10, "RL001", "b", "red", "in_service", None, None))
      q.processAllAvailable()
      // 3 hours later on another platform: watermark sweeps past 10's timeout
      input.addData(Arrival(T0 + 3 * 3600 * 1000L, 20, "RL002", "b", "red", "in_service", None, None))
      q.processAllAvailable()
      // one more batch so the timeout fires with the advanced watermark
      input.addData(Arrival(T0 + 4 * 3600 * 1000L, 30, "RL003", "b", "red", "in_service", None, None))
      q.processAllAvailable()
      val rows = spark.table("ttl_tp").as[PlatformState].collect()
      val latestAt10 = rows.filter(_.station_id == 10).maxBy(_.updated)
      assert(latestAt10.train_id.isEmpty, s"platform 10 should be evicted: $latestAt10")
      val latestAt20 = rows.filter(_.station_id == 20).maxBy(_.updated)
      assert(latestAt20.train_id.contains("RL002")) // still within horizon of later events? evicted or not — must exist
    } finally q.stop()
  }

  test("latestWeather stream keeps newest across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[WeatherReading]
    val q = TransitStreams.latestWeather(input.toDS())
      .writeStream.format("memory").queryName("lw")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(WeatherReading(1000L, 10f, "sunny")); q.processAllAvailable()
      input.addData(WeatherReading(500L, 99f, "windy")); q.processAllAvailable() // older: ignored
      input.addData(WeatherReading(2000L, -3f, "precipitation")); q.processAllAvailable()
      val rows = spark.table("lw").as[WeatherReading].collect()
      assert(rows.maxBy(_.timestamp) == WeatherReading(2000L, -3f, "precipitation"))
    } finally q.stop()
  }

  test("stationsTable upserts max-version record per station") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, TransformedStation)]
    val q = TransitStreams.stationsTable(input.toDS())
      .writeStream.format("memory").queryName("st_table")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData((1L, TransformedStation(1, "Old Name", 0, Some("red"))))
      q.processAllAvailable()
      // same batch, both versions for one key: order of arrival must not matter
      input.addData(
        (3L, TransformedStation(1, "New Name", 0, Some("red"))),
        (2L, TransformedStation(1, "Mid Name", 0, Some("red"))))
      q.processAllAvailable()
      // a stale version arriving later never regresses the table
      input.addData((0L, TransformedStation(1, "Stale Name", 0, Some("red"))))
      q.processAllAvailable()
      val rows = spark.table("st_table").as[TransformedStation].collect()
      assert(rows.last.station_name == "New Name")
    } finally q.stop()
  }

  test("end-to-end: sim → streams → dashboard serving state renders") {
    implicit val sqlCtx = spark.sqlContext
    val stations = TestStations.frame(spark)
    val sim = graft.sim.Simulator.fromStations(
      stations, ridership = Map.empty, hourlyRatio = Map(0 -> 0.125), numTrains = 3)
    val (arrivals, turnstiles, weather) = sim.run(13)
    assert(weather.nonEmpty)

    val dash = new graft.serving.Dashboard
    dash.upsertStations(
      graft.operators.Transit.transformStations(stations)
        .dropDuplicates("station_id").as[TransformedStation])
    dash.upsertCounts(graft.operators.Transit.turnstileSummary(turnstiles.toDF()))
    dash.upsertPlatforms(
      graft.operators.Transit.trainPositions(arrivals.toDF())
        .as[PlatformState])
    dash.upsertWeather(weather.toDS())

    val rows = dash.rows
    assert(rows.nonEmpty)
    assert(rows.map(r => (r.line, r.order)) == rows.map(r => (r.line, r.order)).sorted)
    assert(rows.exists(r => r.train_dir_a.isDefined || r.train_dir_b.isDefined))
    assert(rows.exists(_.total_turnstile_entries > 0))
    val html = dash.renderHtml
    assert(html.contains("Transit Status") && html.contains("Line"))

    // the trains on the dashboard are exactly the simulator's live trains
    val shown = rows.flatMap(r => r.train_dir_a.toSeq ++ r.train_dir_b.toSeq)
    assert(shown.size == shown.distinct.size) // a train is at one platform only
    assert(shown.toSet.subsetOf(
      (for (l <- Seq("red", "blue", "green"); i <- 0 until 3)
        yield s"${l.head.toUpper}L${"%03d".format(i)}").toSet))
  }
}
