package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.schemas.Transit._

/** Structured Streaming twins of the reference's continuous queries
  * (SURVEY.md §2.5, §3.2-3.3). Batch column logic lives in
  * [[graft.operators.Transit]]; this file adds only what streaming needs:
  * keyed state, output modes, and watermarks.
  *
  * State-at-scale notes: every stateful op below keys its state exactly by
  * its grouping columns, so the state store partitions on the shuffle key and
  * scales linearly with executors. The reference keeps all state in one
  * process (consumers/server.py) — here each key group lives on one
  * partition, nothing global. Watermarking is optional (the reference is
  * processing-time only, SURVEY §2.5 O4); pass `watermark=Some("10 minutes")`
  * to bound state for event-time replays.
  */
object TransitStreams {

  /** One keyed change event — an arrival explodes into arrive+depart
    * (SURVEY §2.3 J6; consumers/models/line.py:31-54).
    */
  case class ChangeEvent(
      station_id: Int, direction: String, timestamp: Long,
      kind: String, train_id: String, train_status: String)

  /** Q1 — stations transform (stateless projection; faust_stream.py:72-92).
    * Works unchanged on batch or streaming frames.
    */
  def transformStations(stations: DataFrame): DataFrame =
    graft.operators.Transit.transformStations(stations)

  /** Q1's table half — keep the latest TransformedStation per station_id
    * (Faust Table upsert, faust_stream.py:52-57). Update output mode.
    *
    * Each input row carries an explicit version (Kafka source offset, or the
    * record's event timestamp) and the upsert keeps the max-version row.
    * Iterator order inside mapGroupsWithState is NOT arrival order — rows for
    * one key from different shuffle partitions interleave nondeterministically
    * — so "last one wins" must be pinned to a data column, exactly as
    * [[latestWeather]] does. This also makes checkpoint replay deterministic.
    */
  def stationsTable(
      transformed: Dataset[(Long, TransformedStation)]): Dataset[TransformedStation] = {
    import transformed.sparkSession.implicits._
    transformed
      .groupByKey(_._2.station_id)
      .mapGroupsWithState[(Long, TransformedStation), TransformedStation](
        GroupStateTimeout.NoTimeout()) { (_, rows, state) =>
        val newest = (state.getOption.iterator ++ rows).maxBy(_._1)
        state.update(newest)
        newest._2
      }
  }

  /** Q2 — continuous turnstile count per station (consumers/ksql.py:24-40).
    * Plain streaming agg: partial counts map-side, state keyed by station_id.
    */
  def turnstileSummary(turnstile: DataFrame, watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(turnstile) { w =>
      turnstile
        .withColumn("event_time", timestamp_millis(col("timestamp")))
        .withWatermark("event_time", w)
    }
    src.groupBy(col("station_id").as("STATION_ID")).agg(count(lit(1)).as("COUNT"))
  }

  /** Q3 — latest weather: single-key keyed state holding the newest reading
    * (consumers/models/weather.py:17-30).
    */
  def latestWeather(weather: Dataset[WeatherReading]): Dataset[WeatherReading] = {
    import weather.sparkSession.implicits._
    weather
      .groupByKey(_ => 0)
      .mapGroupsWithState[WeatherReading, WeatherReading](
        GroupStateTimeout.NoTimeout()) { (_, rows, state) =>
        val newest = (state.getOption.iterator ++ rows).maxBy(_.timestamp)
        state.update(newest)
        newest
      }
  }

  /** Q4/O3 — the train position tracker: one arrival updates two platform
    * keys (retraction at the previous station + upsert at the current one).
    * The genuinely custom stateful operator (SURVEY §2.5 O3): explode to
    * change events BEFORE keying, then flatMapGroupsWithState holds one
    * PlatformState per (station_id, direction).
    */
  /** Explode arrivals to keyed change events (J6): one arrive at the current
    * platform plus, when the previous platform is known, one depart there.
    */
  def arrivalChangeEvents(arrivals: Dataset[Arrival]): Dataset[ChangeEvent] = {
    import arrivals.sparkSession.implicits._
    arrivals.flatMap { a =>
      val arrive = ChangeEvent(a.station_id, a.direction, a.timestamp,
        "arrive", a.train_id, a.train_status)
      val depart = for {
        ps <- a.prev_station_id; pd <- a.prev_direction
      } yield ChangeEvent(ps, pd, a.timestamp, "depart", a.train_id, a.train_status)
      Iterator(arrive) ++ depart.iterator
    }
  }

  /** The platform-state transition shared by every stateful API twin
    * (flatMapGroupsWithState here, transformWithState in [[TwsOps]]).
    * Event order: by timestamp, departures applied BEFORE arrivals at equal
    * ts so a same-tick arrive of the next train survives the previous
    * train's departure (same tiebreak as the batch twin); stale events never
    * regress newer state, even across micro-batches.
    */
  private[streaming] def applyPlatformChanges(
      stationId: Int, direction: String,
      current: Option[PlatformState],
      events: Iterator[ChangeEvent]): Option[PlatformState] = {
    val ordered = events.toSeq.sortBy(e =>
      (e.timestamp, if (e.kind == "depart") 0 else 1))
    ordered.foldLeft(current) { (st, e) =>
      if (st.exists(_.updated > e.timestamp)) st
      // equal-ts arrive already holds the platform → the depart lost
      // the tiebreak, even when it arrives in a later micro-batch
      else if (e.kind == "depart" &&
        st.exists(s => s.updated == e.timestamp && s.train_id.isDefined)) st
      else e.kind match {
        case "arrive" => Some(PlatformState(
          stationId, direction, Some(e.train_id), Some(e.train_status), e.timestamp))
        case _ => Some(PlatformState(stationId, direction, None, None, e.timestamp))
      }
    }
  }

  def trainPositions(arrivals: Dataset[Arrival]): Dataset[PlatformState] = {
    import arrivals.sparkSession.implicits._
    arrivalChangeEvents(arrivals)
      .groupByKey(e => (e.station_id, e.direction))
      .flatMapGroupsWithState[PlatformState, PlatformState](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case ((stationId, direction), events, state: GroupState[PlatformState]) =>
          val current = state.getOption
          val next = applyPlatformChanges(stationId, direction, current, events)
          next.foreach(state.update)
          if (next != current) next.iterator else Iterator.empty
      }
  }

  /** Keyed change event with an event-time column for watermarking. */
  case class TimedChangeEvent(
      station_id: Int, direction: String, timestamp: Long,
      kind: String, train_id: String, train_status: String,
      event_time: java.sql.Timestamp)

  /** [[trainPositions]] with bounded state: platforms that see no traffic
    * within `horizon` of the watermark are evicted — emitted once as cleared
    * (train_id = None) and their state removed. The reference keeps every
    * platform forever (in-memory dicts); unbounded keyed state is the #1
    * 100 TB streaming risk (SURVEY §7.4), and EventTimeTimeout is the
    * idiomatic bound.
    */
  def trainPositionsWithTTL(
      arrivals: Dataset[Arrival], horizon: String = "30 minutes"): Dataset[PlatformState] = {
    import arrivals.sparkSession.implicits._
    val changes = arrivals.flatMap { a =>
      def ev(sid: Int, dir: String, kind: String) = TimedChangeEvent(
        sid, dir, a.timestamp, kind, a.train_id, a.train_status,
        new java.sql.Timestamp(a.timestamp))
      Iterator(ev(a.station_id, a.direction, "arrive")) ++
        (for { ps <- a.prev_station_id; pd <- a.prev_direction }
          yield ev(ps, pd, "depart")).iterator
    }.withWatermark("event_time", horizon).as[TimedChangeEvent]
    changes
      .groupByKey(e => (e.station_id, e.direction))
      .flatMapGroupsWithState[PlatformState, PlatformState](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        case ((stationId, direction), events, state: GroupState[PlatformState]) =>
          if (state.hasTimedOut) {
            // stamp the eviction with the watermark — "cleared as of" — so it
            // supersedes the stale arrival it evicts in last-write-wins sinks
            val cleared = PlatformState(stationId, direction, None, None,
              state.getCurrentWatermarkMs())
            state.remove()
            Iterator(cleared)
          } else {
            val ordered = events.toSeq.sortBy(e =>
              (e.timestamp, if (e.kind == "depart") 0 else 1))
            val current = state.getOption
            val next = ordered.foldLeft(current) { (st, e) =>
              if (st.exists(_.updated > e.timestamp)) st
              else if (e.kind == "depart" &&
                st.exists(s => s.updated == e.timestamp && s.train_id.isDefined)) st
              else if (e.kind == "arrive")
                Some(PlatformState(stationId, direction,
                  Some(e.train_id), Some(e.train_status), e.timestamp))
              else Some(PlatformState(stationId, direction, None, None, e.timestamp))
            }
            next.foreach { s =>
              state.update(s)
              // evict if no traffic on this platform for `horizon` past its
              // last update (in event time)
              state.setTimeoutTimestamp(s.updated, horizon)
            }
            if (next != current) next.iterator else Iterator.empty
          }
      }
  }

  // O4 — micro-poll loop analog (consumers/consumer.py:70-99 polls every
  // 1 s): the processing-time trigger that wires the above to sinks is
  // `TransitPipeline.Config.triggerMs`.
}
