package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLongArray
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.schemas.Transit._
import graft.serving.Dashboard
import graft.sim.Simulator
import graft.streaming.TransitPipeline

/** `transit_live`: the paper's own path under an open-loop load.
  *
  * One generator thread releases pre-staged parquet files every 250 ms, by
  * atomic rename, into the three file sources of `TransitPipeline.start`.
  * The simulator runs at 1000x the reference's pace (one 5-minute tick per
  * 5 s of wall time becomes 200 ticks per second), so each release carries
  * 50 ticks of events. Freshness of a (release, stream) pair is the time from
  * the release's scheduled time to the first moment the `Dashboard` maps
  * reflect every event in it; timing from the due time counts generator
  * lateness too. A poller thread watches the maps and one HTTP client reads
  * `/` from `Dashboard.serve` throughout.
  */
object TransitLive {
  val TicksPerSecond = 200
  val ReleaseMs = 250L
  val TicksPerRelease: Int = (TicksPerSecond * ReleaseMs / 1000).toInt
  /** Constant ridership ratio for every hour: with the simulator's default
    * 5000 rides per station this gives 2 + U[-5,4] (floored at 0) entries per
    * station and tick, about 38k turnstile events per second on the network.
    */
  val HourlyRatio = 0.15
  val WarmReleases = 48
  val StageReps = 3
  val HttpThinkMs = 100L
  val Streams = Seq("train-positions", "turnstile-counts", "latest-weather")

  final case class Station(id: Int, line: String, name: String, order: Int)

  /** The station network: line, name and order of every dashboard row in
    * `golden_dashboard.txt`; station ids are assigned by row position.
    */
  def network(path: String): Seq[Station] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).zipWithIndex.map { case (l, i) =>
      val f = l.split('|')
      Station(40000 + 10 * i, f(0), f(2), f(3).toInt)
    }.toList finally src.close()
  }

  def digest(net: Seq[Station]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    net.foreach(s => md.update(s"${s.id}|${s.line}|${s.name}|${s.order}\n".getBytes("UTF-8")))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  final case class Release(
      idx: Int, arrivals: Seq[Arrival], turnstiles: Seq[TurnstileEvent],
      weather: Seq[WeatherReading]) {
    def events: Int = arrivals.size + turnstiles.size + weather.size
  }

  def simulate(net: Seq[Station], seed: Long, n: Int): IndexedSeq[Release] = {
    val lines = net.map(_.line).distinct
    val byLine = lines.map(l => l -> net.filter(_.line == l).sortBy(_.order)
      .map(s => (s.id, s.name, s.order))).toMap
    val sim = new Simulator(byLine, Map.empty, (0 until 24).map(_ -> HourlyRatio).toMap,
      seed = seed)
    (0 until n).map { r =>
      val as = mutable.Buffer.empty[Arrival]
      val ts = mutable.Buffer.empty[TurnstileEvent]
      val ws = mutable.Buffer.empty[WeatherReading]
      var t = 0
      while (t < TicksPerRelease) {
        ws ++= sim.maybeWeather(); ts ++= sim.stepTurnstiles(); as ++= sim.stepArrivals()
        t += 1
      }
      Release(r, as.toSeq, ts.toSeq, ws.toSeq)
    }
  }

  private val Schemas = Map(
    "train-positions" -> """message arrival {
      required int64 timestamp; required int32 station_id; optional binary train_id (UTF8);
      optional binary direction (UTF8); optional binary line (UTF8);
      optional binary train_status (UTF8); optional int32 prev_station_id;
      optional binary prev_direction (UTF8); }""",
    "turnstile-counts" -> """message turnstile {
      required int64 timestamp; required int32 station_id;
      optional binary station_name (UTF8); optional binary line (UTF8); }""",
    "latest-weather" -> """message weather {
      required int64 timestamp; required float temperature; optional binary status (UTF8); }""")

  /** Stage every release as one parquet file per stream under `dir`;
    * returns the file of each (stream, release). Written with parquet's own
    * writer, in parallel, so staging costs no Spark jobs.
    */
  def stage(rs: IndexedSeq[Release], dir: String, threads: Int): Map[(String, Int), Path] = {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.schema.MessageTypeParser
    val conf = new org.apache.hadoop.conf.Configuration()
    def write(stream: String, r: Release): Path = {
      val schema = MessageTypeParser.parseMessageType(Schemas(stream))
      val f = new SimpleGroupFactory(schema)
      val path = Paths.get(dir, stream, f"r${r.idx}%05d.parquet")
      Files.createDirectories(path.getParent)
      val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path.toUri))
        .withType(schema).withConf(conf)
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()
      def put(g: Group): Unit = w.write(g)
      try stream match {
        case "train-positions" => r.arrivals.foreach { a =>
          val g = f.newGroup().append("timestamp", a.timestamp).append("station_id", a.station_id)
            .append("train_id", a.train_id).append("direction", a.direction)
            .append("line", a.line).append("train_status", a.train_status)
          a.prev_station_id.foreach(g.append("prev_station_id", _))
          a.prev_direction.foreach(g.append("prev_direction", _))
          put(g)
        }
        case "turnstile-counts" => r.turnstiles.foreach { e =>
          put(f.newGroup().append("timestamp", e.timestamp).append("station_id", e.station_id)
            .append("station_name", e.station_name).append("line", e.line))
        }
        case _ => r.weather.foreach { e =>
          put(f.newGroup().append("timestamp", e.timestamp).append("temperature", e.temperature)
            .append("status", e.status))
        }
      } finally w.close()
      path
    }
    val jobs = for (s <- Streams; r <- rs if applies(s, r)) yield (s, r)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = jobs.map { case (s, r) => (s, r.idx) -> pool.submit(() => write(s, r)) }
      futures.map { case (k, fu) => k -> fu.get() }.toMap
    } finally pool.shutdown()
  }

  /** What a release needs to see in the dashboard before it counts as served. */
  final class Expect(
      val counts: Map[Int, Long], val platforms: Map[(Int, String), Long],
      val weatherTs: Option[Long])

  def expectations(rs: IndexedSeq[Release]): IndexedSeq[Expect] = {
    val cum = mutable.Map.empty[Int, Long]
    rs.map { r =>
      val touched = r.turnstiles.groupBy(_.station_id).map { case (s, es) =>
        cum(s) = cum.getOrElse(s, 0L) + es.size
        s -> cum(s)
      }
      val keys = mutable.Map.empty[(Int, String), Long]
      r.arrivals.foreach { a =>
        keys((a.station_id, a.direction)) = a.timestamp
        for (ps <- a.prev_station_id; pd <- a.prev_direction) keys((ps, pd)) = a.timestamp
      }
      new Expect(touched, keys.toMap, r.weather.map(_.timestamp).maxOption)
    }
  }

  def served(dash: Dashboard, stream: String, e: Expect): Boolean = stream match {
    case "turnstile-counts" => e.counts.forall { case (s, c) => dash.counts.getOrElse(s, 0L) >= c }
    case "train-positions" =>
      e.platforms.forall { case (k, ts) => dash.platforms.get(k).exists(_.updated >= ts) }
    case _ => e.weatherTs.forall(ts => dash.weather.exists(_.timestamp >= ts))
  }

  def applies(stream: String, r: Release): Boolean = stream match {
    case "turnstile-counts" => r.turnstiles.nonEmpty
    case "train-positions" => r.arrivals.nonEmpty
    case _ => r.weather.nonEmpty
  }

  /** Streaming progress of one trigger, in epoch nanoseconds. */
  final case class Trigger(
      stream: String, start: Long, durations: Map[String, Long], rows: Long,
      stateRows: Long, stateMem: Long, stateCommitMs: Long) {
    def end: Long = start + Clock.fromMs(durations.getOrElse("triggerExecution", 0L))
  }

  final class ProgressLog extends StreamingQueryListener {
    val triggers = new java.util.concurrent.ConcurrentLinkedQueue[Trigger]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val st = p.stateOperators.headOption
      triggers.add(Trigger(p.name,
        Clock.fromMs(java.time.Instant.parse(p.timestamp).toEpochMilli),
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows,
        st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
        st.map(_.commitTimeMs).getOrElse(0L)))
    }
  }

  private def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    t
  }

  private def sleepUntil(ns: Long): Unit = {
    var left = ns - Clock.now
    while (left > 0) { LockSupport.parkNanos(left); left = ns - Clock.now }
  }

  def run(a: Main.Args, res: Result): Unit = {
    val setup0 = Clock.now
    val spark = Main.session(a)
    val sessionS = Clock.secs(Clock.now - setup0)
    res.mark("session")
    import spark.implicits._

    val net = network(a.stations)
    val perLine = net.groupBy(_.line).toSeq.sortBy(_._1).map { case (l, s) => s"$l=${s.size}" }
    res.line(s"network: ${net.size} stations (${perLine.mkString(", ")}), digest ${digest(net)}")

    val measured = (a.seconds * 1000L / ReleaseMs).toInt
    val total = WarmReleases + measured
    // set-up steps that can be repeated are repeated, and their median kept
    // (only the last repetition's events are kept)
    var staged: (IndexedSeq[Release], Map[(String, Int), Path]) = null
    val times = (1 to StageReps).map { k =>
      val (rs, simS) = Main.timed(simulate(net, a.seed, total))
      val (files, stageS) = Main.timed(stage(rs, s"${a.work}/stage-$k", a.cores))
      staged = (rs, files)
      (simS, stageS)
    }
    val (releases, files) = staged
    val simS = Stats.median(times.map(_._1))
    val stageS = Stats.median(times.map(_._2))
    res.mark("staged")
    val expect = expectations(releases)
    val events = releases.map(_.events).sum

    val dash = new Dashboard
    dash.upsertStations(spark.createDataset(
      net.map(s => TransformedStation(s.id, s.name, s.order, Some(s.line)))))
    val srcDir = Map("train-positions" -> s"${a.work}/src/arrivals",
      "turnstile-counts" -> s"${a.work}/src/turnstile", "latest-weather" -> s"${a.work}/src/weather")
    srcDir.values.foreach(d => Files.createDirectories(Paths.get(d)))

    val progress = new ProgressLog
    if (a.trace) spark.streams.addListener(progress)
    val exec = new ExecListener(spark.sparkContext)
    if (a.trace) {
      spark.sparkContext.addSparkListener(exec)
      spark.listenerManager.register(exec)
    }

    val pipeline0 = Clock.now
    val queries = TransitPipeline.start(spark, TransitPipeline.Config(
      srcDir("train-positions"), srcDir("turnstile-counts"), srcDir("latest-weather"),
      s"${a.work}/checkpoints"), dash)

    // timeline, in epoch ns: when each release was due, released, and served
    // (written by the generator and poller threads, read by this one)
    val due = new Array[Long](total)
    val released = new AtomicLongArray(total)
    val servedAt = Streams.map(s => s -> new AtomicLongArray(total)).toMap
    @volatile var stop = false

    val poller = thread("perfbench-poller") {
      val next = mutable.Map(Streams.map(_ -> 0): _*)
      while (!stop) {
        Streams.foreach { s =>
          var r = next(s)
          var progressing = true
          while (progressing && r < total && released.get(r) != 0L) {
            if (!applies(s, releases(r))) r += 1
            else if (served(dash, s, expect(r))) { servedAt(s).set(r, Clock.now); r += 1 }
            else progressing = false
          }
          next(s) = r
        }
        LockSupport.parkNanos(1000000L)
      }
    }

    def pending(range: Range): Seq[(String, Int)] = for {
      r <- range; s <- Streams if applies(s, releases(r)) && servedAt(s).get(r) == 0L
    } yield (s, r)

    // one open-loop schedule: the first releases warm the pipeline up
    // (codegen, state stores, checkpoint files) and count as set-up; the
    // measured window starts at the next release's due time, in steady state
    val warm = 0 until WarmReleases
    val window = WarmReleases until total
    val http = mutable.Buffer.empty[(Long, Long, Boolean)]
    val server = Dashboard.serve(dash, 0)
    val port = server.getAddress.getPort
    val start = Clock.now + 50000000L
    (0 until total).foreach(r => due(r) = start + Clock.fromMs(r * ReleaseMs))
    val client = thread("perfbench-http") {
      while (!stop) {
        val s = Clock.now
        val ok = try {
          val c = new java.net.URL(s"http://localhost:$port/").openConnection()
            .asInstanceOf[java.net.HttpURLConnection]
          val body = new String(c.getInputStream.readAllBytes(), "UTF-8")
          c.getResponseCode == 200 && body.contains("Transit Status")
        } catch { case _: java.io.IOException => false }
        http.synchronized(http += ((s, Clock.now, ok)))
        Thread.sleep(HttpThinkMs)
      }
    }
    val gen = thread("perfbench-generator") {
      (0 until total).foreach { r =>
        sleepUntil(due(r))
        Streams.foreach { s =>
          files.get((s, r)).foreach { f =>
            Files.move(f, Paths.get(srcDir(s), f"r$r%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
          }
        }
        released.set(r, Clock.now)
      }
    }
    val t0 = due(WarmReleases)
    sleepUntil(t0)
    if (a.trace) { exec.quiesce(); exec.swap() }
    val cpu0 = Probes.cpu
    val gc0 = Probes.gcMs
    val io0 = Probes.io
    Probes.resetHeapPeak()
    gen.join()
    val all = 0 until total
    val deadline = due(total - 1) + 60000000000L
    while (pending(all).nonEmpty && Clock.now < deadline) Thread.sleep(5)
    val t1 = Clock.now
    val cpu1 = Probes.cpu
    stop = true
    client.join(); poller.join()
    server.stop(0)
    val gcS = (Probes.gcMs - gc0) / 1000.0
    val io = Probes.io - io0
    if (a.trace) exec.quiesce()
    val bucket = exec.swap()
    res.mark("served")
    queries.foreach(_.stop())
    res.mark("stopped")

    // --- results -------------------------------------------------------
    def pairsOf(rs: Range) = for (r <- rs; s <- Streams if applies(s, releases(r))) yield (s, r)
    val warmPairs = pairsOf(warm)
    val unserved = pending(all)
    unserved.foreach { case (s, r) => res.fail(s"release $r never served on $s") }
    def freshness(s: String, r: Int): Double = Clock.secs(servedAt(s).get(r) - due(r))
    val steal = Probes.stealFraction(cpu0, cpu1)
    val pairs = pairsOf(window)
    val servedPairs = pairs.filterNot(unserved.contains)
    val fresh = servedPairs.map { case (s, r) => freshness(s, r) }
    // set-up ends when the last warm-up release is served
    val warmS = Clock.secs(warmPairs.map { case (s, r) => servedAt(s).get(r) }.max - pipeline0)
    val setupS = sessionS + simS + stageS + warmS
    val windowHttp = http.filter(_._1 >= t0).toSeq
    val httpOk = windowHttp.filter(_._3)
    windowHttp.filterNot(_._3).foreach(h => res.fail(s"http GET / failed at ${h._1}"))
    res.attempted += warmPairs.size + pairs.size + windowHttp.size

    // correctness: the dashboard against the batch operators over every
    // released file, as the pipeline's own test does
    def releasedFiles(s: String) = spark.read.parquet(srcDir(s))
    val expCounts = graft.operators.Transit.turnstileSummary(releasedFiles("turnstile-counts"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val expPos = graft.operators.Transit.trainPositions(releasedFiles("train-positions"))
      .collect().map(r => (r.getAs[Int]("station_id"), r.getAs[String]("direction")) ->
        Option(r.getAs[String]("train_id"))).toMap
    val expW = graft.operators.Transit.latestWeather(releasedFiles("latest-weather"))
      .collect().map(r => (r.getAs[Float]("temperature"), r.getAs[String]("status"),
        r.getAs[Long]("timestamp"))).headOption
    res.attempted += 3
    if (dash.counts.toMap != expCounts) res.fail("dashboard turnstile counts differ from batch recomputation")
    if (dash.platforms.map { case (k, p) => k -> p.train_id }.toMap != expPos)
      res.fail("dashboard platforms differ from batch recomputation")
    if (dash.weather.map(w => (w.temperature, w.status, w.timestamp)) != expW)
      res.fail("dashboard weather differs from batch recomputation")
    res.mark("checked")

    val measuredEvents = window.map(releases(_).events).sum
    val lastServed = servedPairs.map { case (s, r) => servedAt(s).get(r) }.maxOption.getOrElse(t1)
    val windowStart = due(window.start)
    val (tail, pct, n) = Stats.tail(fresh)
    res.e2e("p50_s", Stats.median(fresh), "s", fresh.size, "freshness_p50_s")
    res.e2e("tail_s", tail, "s", n, s"freshness_tail_s (${Stats.tailLabel(pct)})")
    res.e2e("ops_per_s", measuredEvents / Clock.secs(lastServed - windowStart), "1/s", measuredEvents,
      "events_served_per_s")
    res.e2e("setup_s", setupS, "s", StageReps, "setup_s")
    res.e2e("rss_peak_mb", Probes.rssPeakMb, "MB", 1, "rss_peak_mb")
    res.line(f"offered load: ${events * 1.0 / total / ReleaseMs * 1000}%.0f ev/s; $total releases " +
      f"($WarmReleases warm-up, then $measured over ${a.seconds} s); " +
      f"measured span ${Clock.secs(t1 - t0)}%.2f s")
    res.line(f"CPU time stolen by the host during the measured window: ${100 * steal}%.1f%%")
    res.line(f"setup: session $sessionS%.2f s, simulate $simS%.2f s, stage $stageS%.2f s " +
      f"(median of $StageReps), pipeline start + warm-up $warmS%.2f s")

    val quarters = servedPairs.groupBy { case (_, r) => 4 * (r - window.start) / measured }
      .toSeq.sortBy(_._1).map { case (_, ps) => Stats.median(ps.map { case (s, r) => freshness(s, r) }) }
    res.line(f"freshness p50 by quarter of the measured window: ${quarters.map(q => f"$q%.3f").mkString(" ")} s")
    res.timeline()

    // --- per-layer (traced run) ---------------------------------------
    val lateMs = window.map(r => (released.get(r) - due(r)) / 1e6)
    res.layer("sim.s", simS, "s", StageReps)
    res.layer("sim.events", events, "count")
    res.layer("gen.stage_s", stageS, "s", StageReps)
    res.layer("gen.late_ms_max", lateMs.max, "ms", lateMs.size)
    res.layer("gen.unserved_releases", unserved.map(_._2).distinct.size, "count")
    val trig = progress.triggers.asScala.toSeq.filter(t => t.start >= t0 && t.start <= t1 && t.rows > 0)
    val windowMs = (t1 - t0) / 1e6
    Streams.foreach { s =>
      val ts = trig.filter(_.stream == s)
      def p50(k: String): Double = Stats.median(ts.map(_.durations.getOrElse(k, 0L).toDouble))
      val q = s"stream.$s"
      res.layer(s"$q.latest_offset_ms_p50", p50("latestOffset"), "ms", ts.size)
      res.layer(s"$q.get_batch_ms_p50", p50("getBatch"), "ms", ts.size)
      res.layer(s"$q.wal_commit_ms_p50", p50("walCommit"), "ms", ts.size)
      res.layer(s"$q.commit_offsets_ms_p50", p50("commitOffsets"), "ms", ts.size)
      res.layer(s"$q.triggers", ts.size, "count")
      res.layer(s"$q.trigger_ms_p50", p50("triggerExecution"), "ms", ts.size)
      res.layer(s"$q.query_planning_ms_p50", p50("queryPlanning"), "ms", ts.size)
      res.layer(s"$q.add_batch_ms_p50", p50("addBatch"), "ms", ts.size)
      res.layer(s"$q.state_commit_ms_p50", Stats.median(ts.map(_.stateCommitMs.toDouble)), "ms", ts.size)
      res.layer(s"$q.rows_per_trigger_p50", Stats.median(ts.map(_.rows.toDouble)), "count", ts.size)
      res.layer(s"$q.busy_fraction",
        ts.map(_.durations.getOrElse("triggerExecution", 0L)).sum / windowMs, "ratio", ts.size)
      res.layer(s"$q.state_rows", ts.lastOption.map(_.stateRows.toDouble).getOrElse(0.0), "count")
      res.layer(s"$q.state_mem_mb", ts.lastOption.map(_.stateMem / 1048576.0).getOrElse(0.0), "MB")
    }
    // the trigger that first carries a release: the first of its stream to
    // start after the release's files were renamed in
    def pickup(s: String, r: Int): Option[Trigger] =
      trig.filter(t => t.stream == s && t.start >= released.get(r)).minByOption(_.start)
    val waits = pairs.flatMap { case (s, r) => pickup(s, r).map(t => (t.start - due(r)) / 1e6) }
    res.layer("stream.pickup_wait_ms_p50", Stats.median(waits), "ms", waits.size)
    val httpMs = httpOk.map { case (s, e, _) => (e - s) / 1e6 }.toSeq
    val (httpTail, httpPct, httpN) = Stats.tail(httpMs)
    res.layer("serve.http_ms_p50", Stats.median(httpMs), "ms", httpMs.size)
    res.layer("serve.http_ms_tail", httpTail, "ms", httpN)
    res.layer("serve.errors", windowHttp.size - httpOk.size, "count", windowHttp.size)
    res.layer("host.cpu_steal_fraction", steal, "ratio")
    Layers.report(res, Seq(Layers.Cost(Clock.secs(t1 - t0), 0.0, 0, bucket, io, gcS)), a.cores,
      perOp = Some(trig.size))

    if (a.trace) {
      val spans = new Spans
      pairs.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (r, ps) =>
        val end = ps.map { case (s, _) => servedAt(s).get(r) }.max
        val rel = spans.add(0, "release", due(r), end)
        ps.foreach { case (s, _) =>
          pickup(s, r).foreach { t =>
            val tr = spans.add(rel, s"trigger.$s", t.start, math.max(t.end, t.start))
            if (servedAt(s).get(r) > 0) spans.add(tr, s"served.$s", t.start, servedAt(s).get(r))
          }
        }
      }
      windowHttp.foreach { case (s, e, _) => spans.add(0, "http", s, e) }
      spans.write(s"${a.work}/spans.jsonl")
      res.line(f"trace: ${spans.all.size} spans; self time by span (count, total s, self s):")
      spans.selfTimes.foreach { case (name, c, tot, self) =>
        res.line(f"  $name%-34s $c%6d $tot%10.3f $self%10.3f")
      }
      res.line(f"http: p50 ${Stats.median(httpMs)}%.2f ms, ${Stats.tailLabel(httpPct)} $httpTail%.2f ms (n=$httpN)")
    }
    spark.stop()
  }
}
