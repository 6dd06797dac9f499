package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import graft.schemas.Transit._
import graft.serving.Dashboard

/** The full reference pipeline (SURVEY.md §3.3) wired end-to-end: three
  * continuous queries + the serving layer, with checkpointed state so a
  * restart resumes exactly where it stopped (the reference's earliest-offset
  * replay, consumers/consumer.py:57-68, minus the replay).
  *
  * Sources here are file streams (parquet drop-dirs) so the pipeline runs in
  * this kafka-less environment; on a cluster, swap each `readStream` for
  * [[graft.sources.KafkaIO.readTopic]] — every operator downstream is
  * unchanged. Sinks are `foreachBatch` upserts into the serving maps: update
  * mode delivers only changed keys per micro-batch, so serving writes are
  * O(delta), the streaming analog of the reference's per-message dict upsert.
  *
  * Checkpoint cost. Every trigger of each query writes about seven
  * checkpoint files (file-source log, offset log, commit log, state-store
  * deltas). Without the native-hadoop library, Hadoop's local filesystem
  * forks `chmod`/`stat`/`readlink` for each: on a 4-core Xeon VM, one
  * create+rename through Spark's default FileContext-based manager took
  * 31.8 ms and 20 new processes, against 0.21 ms and none through
  * [[LocalCheckpointFileManager]], which [[start]] installs. Per-trigger
  * phases (ms, p50 over one 10 s window of `python3 perfbench/run.py
  * --workload transit_live --seed 1 --seconds 10 --trace 1`, same VM),
  * Spark's default manager → the local one:
  * {{{
  * phase              train-positions  turnstile-counts  latest-weather
  * latestOffset          139 -> 9.5        114 -> 9          165 -> 8
  * getBatch               32 -> 10          22 -> 10.5        16 -> 9.5
  * walCommit              91 -> 0          117 -> 1           92 -> 1
  * queryPlanning          44 -> 22.5        34 -> 17.5        24 -> 15
  * addBatch              502 -> 259        544 -> 281.5      537 -> 228.5
  * commitOffsets         112 -> 1           83 -> 1           81 -> 1
  * triggerExecution      945 -> 311.5      927 -> 324.5      939 -> 288.5
  * state commit (*)      448 -> 7.5        503 -> 10         620 -> 19.5
  * }}}
  * (*) state-store commit time summed over the query's 4 state
  * partitions, spent inside addBatch's tasks.
  *
  * The 500 ms trigger stays: triggers now finish inside it, so the
  * interval, not the trigger's own cost, sets how long a new file waits to
  * be picked up; changing it is a separate decision with its own
  * measurement.
  */
object TransitPipeline {

  final case class Config(
      arrivalsDir: String,
      turnstileDir: String,
      weatherDir: String,
      checkpointRoot: String,
      triggerMs: Long = 500L,
      /** Some(horizon): evict platforms idle past the watermark horizon
        * (bounded state — trainPositionsWithTTL); None: reference-faithful
        * unbounded state.
        */
      stateTtl: Option[String] = None)

  /** Start the three queries; returns them for await/stop. Restart with the
    * same checkpointRoot to recover all state.
    *
    * Unless the session already sets Spark's
    * `spark.sql.streaming.checkpointFileManagerClass`, this sets it to
    * [[LocalCheckpointFileManager]] on the session (so later queries of the
    * session get it too): `file:` checkpoints then skip Hadoop's per-file
    * shell-outs, and every other scheme keeps Spark's default manager.
    * Checkpoints written under either manager resume under the other.
    */
  def start(spark: SparkSession, cfg: Config, dash: Dashboard): Seq[StreamingQuery] = {
    import spark.implicits._
    if (spark.conf.getOption(LocalCheckpointFileManager.ConfKey).isEmpty)
      spark.conf.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    val trigger = Trigger.ProcessingTime(cfg.triggerMs)

    val arrivals = spark.readStream
      .schema(Encoders.product[Arrival].schema)
      .parquet(cfg.arrivalsDir).as[Arrival]
    val tracked = cfg.stateTtl.fold(TransitStreams.trainPositions(arrivals))(
      h => TransitStreams.trainPositionsWithTTL(arrivals, h))
    val positions = tracked
      .writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", s"${cfg.checkpointRoot}/positions")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[PlatformState], _: Long) =>
        dash.upsertPlatforms(batch)
      }
      .queryName("train-positions").start()

    val turnstile = spark.readStream
      .schema(Encoders.product[TurnstileEvent].schema)
      .parquet(cfg.turnstileDir)
    val counts = TransitStreams.turnstileSummary(turnstile)
      .writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", s"${cfg.checkpointRoot}/counts")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        dash.upsertCounts(batch.toDF())
      }
      .queryName("turnstile-counts").start()

    val weather = spark.readStream
      .schema(Encoders.product[WeatherReading].schema)
      .parquet(cfg.weatherDir).as[WeatherReading]
    val latest = TransitStreams.latestWeather(weather)
      .writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", s"${cfg.checkpointRoot}/weather")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[WeatherReading], _: Long) =>
        dash.upsertWeather(batch)
      }
      .queryName("latest-weather").start()

    Seq(positions, counts, latest)
  }
}
