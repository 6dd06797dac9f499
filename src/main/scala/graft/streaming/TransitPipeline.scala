package graft.streaming

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
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
  * Triggers. Each query runs on Spark's default trigger: the next
  * micro-batch starts as soon as the previous one ends, so a new file waits
  * for the trigger in flight, not for the next tick of a fixed grid.
  * Per-trigger phases (ms, p50 over the window, as above, seed 51), a
  * 500 ms grid at 4 state partitions → back to back at 1:
  * {{{
  * phase              train-positions  turnstile-counts  latest-weather
  * latestOffset           11 -> 13         12.5 -> 11         12 -> 12
  * getBatch               18 -> 16           17 -> 18         16 -> 16
  * queryPlanning          28 -> 27           24 -> 28         23 -> 20
  * addBatch              322 -> 312       327.5 -> 286       287 -> 239.5
  * triggerExecution      394 -> 381       398.5 -> 362       363 -> 298
  * state commit (*)       17 -> 5            12 -> 4          26 -> 2
  * triggers               21 -> 25           22 -> 27         21 -> 32
  * rows per trigger     3000 -> 3000      18960 -> 9595        8 -> 4
  * busy fraction        0.82 -> 0.94       0.83 -> 0.94     0.73 -> 0.94
  * }}}
  * (walCommit and commitOffsets stay at 1 ms.) A release waited a median
  * 225 → 173 ms for the trigger that carries it to start, and a trigger
  * ran 6.0 → 2.5 tasks. Of five traced pairs, four (seeds 1, 51, 56, 57)
  * show the pickup wait and every query's trigger falling; on seed 52 both
  * rose. Back to back, the queries are busy ~94% of the time at 44k
  * events/s on 4 cores, so a slower host or a traced run can tip them into
  * two releases per trigger, as in seed 52. Untraced, over ten alternating
  * pairs, median freshness fell 0.632 → 0.363 s and its p91
  * 0.811 → 0.578 s (BENCH.md).
  *
  * Idle cost. An idle query re-polls its source every
  * `spark.sql.streaming.pollingDelay`, and each poll lists the whole source
  * directory. [[start]] sets 100 ms. Measured with
  * `tools/transit_idle_cpu.scala` (same VM), an idle pipeline costs
  * 0.19-0.23 core over empty source directories (0.06 on the 500 ms grid,
  * 0.60-0.83 at Spark's default 10 ms) and 1.24-1.30 cores with 2000 files
  * in each (0.42-0.47 on the grid). At 10 ms the idle polls also competed
  * with the busy queries: freshness p50 0.435-0.487 s against
  * 0.326-0.428 s at 100 ms over the same three seeds.
  *
  * One state partition. [[start]] builds every query at
  * `spark.sql.shuffle.partitions = 1`. Each query's state is keyed by the
  * station network (179 platforms, 91 stations, one weather key) and does
  * not grow with the event rate, so more partitions only add tasks and
  * state-store commits per trigger; the map side still reads the input
  * files in parallel. Spark pins the partition count in the offset log at a
  * checkpoint's first batch, so a checkpoint created at another count
  * resumes with that count.
  *
  * Scope of the two settings. [[start]] sets them on the caller's session
  * only while it builds the queries, then restores the caller's values:
  * each query clones the session conf when it is constructed, so the
  * queries keep them and the caller's own later jobs never see them. The
  * queries are not started on a child session (`spark.newSession()`):
  * listeners on the caller's `spark.streams` would not see them there.
  */
object TransitPipeline {

  final case class Config(
      arrivalsDir: String,
      turnstileDir: String,
      weatherDir: String,
      checkpointRoot: String,
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
    *
    * The one-partition and 100 ms poll settings hold only while the queries
    * are built (a job the caller runs on the session from another thread
    * meanwhile would see them); the caller's values, or their absence, are
    * restored before this returns or throws. If a query fails to start, the
    * ones already started are stopped before the failure is rethrown.
    */
  def start(spark: SparkSession, cfg: Config, dash: Dashboard): Seq[StreamingQuery] = {
    import spark.implicits._
    if (spark.conf.getOption(LocalCheckpointFileManager.ConfKey).isEmpty)
      spark.conf.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)

    val arrivals = spark.readStream
      .schema(Encoders.product[Arrival].schema)
      .parquet(cfg.arrivalsDir).as[Arrival]
    val tracked = cfg.stateTtl.fold(TransitStreams.trainPositions(arrivals))(
      h => TransitStreams.trainPositionsWithTTL(arrivals, h))
    val positions = tracked
      .writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", s"${cfg.checkpointRoot}/positions")
      .foreachBatch { (batch: Dataset[PlatformState], _: Long) =>
        dash.upsertPlatforms(batch)
      }
      .queryName("train-positions")

    val turnstile = spark.readStream
      .schema(Encoders.product[TurnstileEvent].schema)
      .parquet(cfg.turnstileDir)
    val counts = TransitStreams.turnstileSummary(turnstile)
      .writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", s"${cfg.checkpointRoot}/counts")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        dash.upsertCounts(batch.toDF())
      }
      .queryName("turnstile-counts")

    val weather = spark.readStream
      .schema(Encoders.product[WeatherReading].schema)
      .parquet(cfg.weatherDir).as[WeatherReading]
    val latest = TransitStreams.latestWeather(weather)
      .writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", s"${cfg.checkpointRoot}/weather")
      .foreachBatch { (batch: Dataset[WeatherReading], _: Long) =>
        dash.upsertWeather(batch)
      }
      .queryName("latest-weather")

    // each query clones the session conf when `start` constructs it, so the
    // two settings need to hold only until the last one is started
    val scoped = Seq(
      SQLConf.SHUFFLE_PARTITIONS.key -> "1",
      SQLConf.STREAMING_POLLING_DELAY.key -> "100ms")
    val callers = spark.conf.getAll
    val started = mutable.ArrayBuffer.empty[StreamingQuery]
    try {
      scoped.foreach { case (k, v) => spark.conf.set(k, v) }
      Seq(positions, counts, latest).foreach(w => started += w.start())
      started.toSeq
    } catch {
      case e: Throwable =>
        started.foreach(q => try q.stop() catch { case NonFatal(s) => e.addSuppressed(s) })
        throw e
    } finally scoped.foreach { case (k, _) =>
      callers.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}
