package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.schemas.Transit._
import graft.streaming.Windows

class WindowsSpec extends SparkSpec {
  import spark.implicits._

  private val T0 = 1704067200000L // 2024-01-01 00:00 UTC

  test("tumbling windows close when the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TurnstileEvent]
    val q = Windows.tumblingCounts(input.toDF(), "10 minutes", "10 minutes")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        TurnstileEvent(T0 + 1000, 100, "S", "red"),
        TurnstileEvent(T0 + 2000, 100, "S", "red"),
        TurnstileEvent(T0 + 11 * 60 * 1000, 100, "S", "red"))
      q.processAllAvailable()
      // advance watermark past the first window's end + delay
      input.addData(TurnstileEvent(T0 + 31 * 60 * 1000, 200, "T", "blue"))
      q.processAllAvailable()
      val rows = spark.table("tumbling").collect()
      val byWindow = rows.filter(_.getAs[Int]("station_id") == 100)
        .map(r => r.getAs[java.sql.Timestamp]("window_start").getTime -> r.getAs[Long]("entries"))
        .toMap
      assert(byWindow.get(T0) == Some(2L), s"first window: $byWindow")
      assert(byWindow.get(T0 + 10 * 60 * 1000) == Some(1L))
    } finally q.stop()
  }

  test("session windows merge bursts within the gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TurnstileEvent]
    val q = Windows.sessionCounts(input.toDF(), "5 minutes", "10 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        TurnstileEvent(T0, 100, "S", "red"),
        TurnstileEvent(T0 + 60 * 1000, 100, "S", "red"),   // same session
        TurnstileEvent(T0 + 20 * 60 * 1000, 100, "S", "red")) // new session
      q.processAllAvailable()
      input.addData(TurnstileEvent(T0 + 60 * 60 * 1000, 200, "T", "blue"))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .filter($"station_id" === 100).collect()
      assert(rows.length == 2)
      assert(rows.map(_.getAs[Long]("entries")).sorted.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("session windows: stream output equals batch sessionize across >=3 micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val gapSec = 300L
    def ev(offsetMs: Long, st: Int) = TurnstileEvent(T0 + offsetMs, st, s"S$st", "red")
    // two stations, sessions deliberately SPLIT across micro-batch boundaries
    // (station 100: events at 0s/60s land in batch 1, the 200s continuation in
    // batch 2; station 200 spans all three) — the equivalence risk is exactly
    // whether the streaming state merges those into one session like batch does
    val batches = Seq(
      Seq(ev(0L, 100), ev(5000L, 200), ev(60000L, 100)),
      Seq(ev(200000L, 100), ev(240000L, 200), ev(480000L, 200)),
      Seq(ev(1800000L, 100), ev(1860000L, 100), ev(2700000L, 200)))
    val input = MemoryStream[TurnstileEvent]
    val q = Windows.sessionCounts(input.toDF(), "5 minutes", "10 minutes")
      .writeStream.format("memory").queryName("sess_eq")
      .outputMode(OutputMode.Append()).start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      // watermark flush: a far-future event closes every open session
      input.addData(ev(3L * 3600 * 1000, 999))
      q.processAllAvailable()
      val streamed = spark.table("sess_eq").filter($"station_id" =!= 999).collect()
        .map { r =>
          val start = r.getAs[java.sql.Timestamp]("session_start").getTime
          val end = r.getAs[java.sql.Timestamp]("session_end").getTime
          // session_window end = last event + gap, so duration = end - gap - start
          (r.getAs[Int]("station_id").toLong, start,
            (end - start) / 1000 - gapSec, r.getAs[Long]("entries"))
        }
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(s => (s._4, s._3)).toSeq)
        .toMap
      // batch twin: the SAME fixture through Relational.sessionize
      // (user := station); per-station session sequences must agree in
      // order, event count, and duration
      val evDf = batches.flatten.zipWithIndex
        .map { case (e, i) =>
          (e.station_id.toLong, new java.sql.Timestamp(e.timestamp), i.toLong, 1.0) }
        .toDF("user_id", "ts", "event_id", "value")
      val batch = graft.operators.Relational.sessionize(evDf, gapSec).collect()
        .map { r =>
          (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx"),
            r.getAs[Long]("n_events"), r.getAs[Long]("dur_sec"))
        }
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(s => (s._3, s._4)).toSeq)
        .toMap
      assert(batch.values.map(_.size).sum > 2, "fixture must produce several sessions")
      assert(streamed == batch,
        s"stream sessions $streamed != batch sessionize $batch")
    } finally q.stop()
  }

  test("sliding windows produce overlapping counts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TurnstileEvent]
    val q = Windows.slidingCounts(input.toDF(), "10 minutes", "5 minutes", "10 minutes")
      .writeStream.format("memory").queryName("sliding")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(TurnstileEvent(T0 + 6 * 60 * 1000, 100, "S", "red"))
      q.processAllAvailable()
      input.addData(TurnstileEvent(T0 + 60 * 60 * 1000, 200, "T", "blue"))
      q.processAllAvailable()
      // one event at minute 6 lands in windows [0,10) and [5,15)
      val rows = spark.table("sliding").filter($"station_id" === 100).collect()
      assert(rows.length == 2)
    } finally q.stop()
  }

  test("rate-source synthetic turnstile stream emits well-formed events") {
    val stations = TestStations.frame(spark)
    val stream = Windows.syntheticTurnstileStream(spark, stations, rowsPerSecond = 500)
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("synth")
      .outputMode(OutputMode.Append()).start()
    try {
      // rate source needs wall-clock time to emit
      val deadline = System.currentTimeMillis() + 30000
      var n = 0L
      while (n == 0 && System.currentTimeMillis() < deadline) {
        Thread.sleep(500); q.processAllAvailable()
        n = spark.table("synth").count()
      }
      assert(n > 0, "rate source emitted nothing within 30s")
      val row = spark.table("synth").head()
      assert(row.getAs[Long]("timestamp") > 0)
      assert(Seq("red", "blue", "green").contains(row.getAs[String]("line")))
      assert(row.getAs[String]("station_name").nonEmpty)
    } finally q.stop()
  }
}
