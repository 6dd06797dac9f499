package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** `suite_read` and `suite_commit`: closed loop, one client, running
  * `SparkEntry.queries(name)(spark, sfDir)` plus a write to the `noop` sink
  * per operation, over the sf0.1 corpus, in seed-shuffled order.
  *
  * An untimed warm pass runs every query of the workload once first and
  * writes its output as parquet; `run.py` checks those outputs against the
  * DuckDB oracle (`SparkEntry.oracleSql`). The timed loop then runs whole
  * passes over the list until `--seconds` have elapsed, so every run
  * measures the same multiset of queries whatever the seed.
  */
object Suite {
  /** Queries that commit nothing per call: a fixed systematic sample of the
    * 191 such queries sorted by family (the first word after `q_`) and then
    * name: the five at positions floor(191 * k / 5), k = 0..4, so families
    * are represented in proportion.
    */
  val ReadSample: Seq[String] = Seq(
    "q_above_avg", "q_conditional_agg", "q_emb_outliers", "q_label_prop", "q_rollup")

  /** Every query that creates a scratch workdir and commits on each call. */
  val CommitQueries: Seq[String] = Seq(
    "q_lake_append_optimize", "q_lake_apply", "q_lake_bloom", "q_lake_changefeed",
    "q_lake_compact", "q_lake_count", "q_lake_delete_where", "q_lake_dv", "q_lake_dv_feed",
    "q_lake_evolve", "q_lake_evolve_feed", "q_lake_mor", "q_lake_prune",
    "q_lake_time_travel", "q_lake_view", "q_scd2_lake", "q_scd2_maintained", "q_scd2_mor",
    "q_scd2_mor_feed", "q_mv_cdc", "q_mv_minmax", "q_knn_graph_maintained",
    "q_knn_graph_rebuilt")

  /** The same rule over the commit queries: the two at positions
    * floor(23 * k / 2), k = 0..1, of the family-sorted list:
    * `q_knn_graph_maintained` (a graph maintainer's build and fold, with its
    * `Par` overlap) and `q_lake_evolve` (a lake table's initial commit and a
    * schema-evolving append). Two keep a run of this workload about as long
    * as the others: its warm pass costs more than two timed passes, and
    * every workload runs 22 times in one campaign. They read the `orders`,
    * `customer` and `embeddings` tables, as `ReadSample` does.
    */
  val CommitSample: Seq[String] = systematic(CommitQueries, 2)

  def systematic(qs: Seq[String], n: Int): Seq[String] = {
    val sorted = qs.sortBy(q => (family(q), q))
    (0 until n).map(k => sorted(sorted.size * k / n))
  }

  val workloads: Map[String, Seq[String]] =
    Map("suite_read" -> ReadSample, "suite_commit" -> CommitSample)

  val MinPasses = 2

  def family(q: String): String = q.stripPrefix("q_").takeWhile(_ != '_')

  /** One timed operation: epoch-ns boundaries and what the layers did in it. */
  final case class Op(
      query: String, start: Long, built: Long, end: Long, ok: Boolean,
      bucket: Bucket, io: Probes.Io, gcMs: Long) {
    def wallS: Double = Clock.secs(end - start)
    def buildS: Double = Clock.secs(built - start)
  }

  def run(a: Main.Args, res: Result): Unit = {
    val names = workloads(a.workload)
    val setup0 = Clock.now
    val spark = Main.session(a)
    val sessionS = Clock.secs(Clock.now - setup0)
    res.mark("session")
    val sf = a.corpus

    // untimed warm pass: JIT, codegen and session memos, plus the outputs
    // the oracle check reads
    val missing = names.filterNot(SparkEntry.queries.contains)
    missing.foreach(q => res.fail(s"$q: not in SparkEntry.queries"))
    val broken = mutable.Set.empty[String]
    val (_, warmS) = Main.timed(names.filterNot(missing.contains).foreach { q =>
      val dir = s"${a.work}/out/$q"
      try {
        SparkEntry.queries(q)(spark, sf).write.mode("overwrite").parquet(dir)
        SparkEntry.oracleSql.get(q) match {
          case Some(sql) => res.oracleChecks(q) = (dir, sql)
          case None => res.fail(s"$q: no oracle SQL to check against")
        }
      } catch { case e: Exception =>
        broken += q
        res.fail(s"$q: warm pass failed: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    })
    res.attempted += names.size
    res.mark("warm")
    val setupS = sessionS + warmS

    val exec = new ExecListener(spark.sparkContext)
    if (a.trace) {
      spark.sparkContext.addSparkListener(exec)
      spark.listenerManager.register(exec)
      exec.quiesce(); exec.swap()
    }
    Probes.resetHeapPeak()
    val rng = new scala.util.Random(a.seed)
    val runnable = names.filterNot(q => missing.contains(q) || broken.contains(q))

    // whole seed-shuffled passes until `--seconds` have passed, and at least
    // two, so that every query has a median over its runs
    val ops = mutable.Buffer.empty[Op]
    val cpu0 = Probes.cpu
    val t0 = Clock.now
    val deadline = t0 + Clock.fromMs(a.seconds * 1000L)
    var passes = 0
    while (runnable.nonEmpty && (passes < MinPasses || Clock.now < deadline)) {
      passes += 1
      rng.shuffle(runnable).foreach { q =>
        val gc0 = Probes.gcMs
        val io0 = Probes.io
        val s = Clock.now
        var b = s
        val ok = try {
          val df = SparkEntry.queries(q)(spark, sf)
          b = Clock.now
          df.write.format("noop").mode("overwrite").save()
          true
        } catch { case e: Exception =>
          res.fail(s"$q: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          false
        }
        val e = Clock.now
        if (a.trace) exec.quiesce()
        ops += Op(q, s, b, e, ok, exec.swap(), Probes.io - io0, Probes.gcMs - gc0)
      }
    }
    val t1 = Clock.now
    val steal = Probes.stealFraction(cpu0, Probes.cpu)
    res.mark("timed")
    res.attempted += ops.size
    val good = ops.toSeq.filter(_.ok)
    val walls = good.map(_.wallS)
    val perQuery = good.groupBy(_.query).map { case (q, os) => q -> Stats.median(os.map(_.wallS)) }
    // a few queries times a few passes leave no percentile above the median
    // with ten samples beyond it; the tail is the slowest query's median over
    // its passes, whatever the number of passes, so that its definition does
    // not change when the program gets faster
    val tail = perQuery.values.maxOption.getOrElse(Double.NaN)
    res.e2e("p50_s", Stats.median(walls), "s", walls.size, "query_p50_s")
    res.e2e("tail_s", tail, "s", walls.size, "query_tail_s (slowest query's median)")
    res.e2e("ops_per_s", good.size / Clock.secs(t1 - t0), "1/s", good.size, "queries_per_s")
    res.e2e("setup_s", setupS, "s", 1, "setup_s")
    res.e2e("rss_peak_mb", Probes.rssPeakMb, "MB", 1, "rss_peak_mb")
    res.line(s"${a.workload}: ${names.size} queries at ${sf.split('/').last}: ${names.mkString(" ")}")
    res.line(f"timed: ${ops.size} operations in ${Clock.secs(t1 - t0)}%.2f s " +
      f"(${ops.size.toDouble / math.max(1, runnable.size)}%.1f passes)")
    res.line("median wall s per query: " + perQuery.toSeq.sorted
      .map { case (q, w) => f"$q $w%.3f" }.mkString(", "))
    res.line(f"setup: session $sessionS%.2f s, warm + check pass $warmS%.2f s")
    res.line(f"CPU time stolen by the host during the timed passes: ${100 * steal}%.1f%%")
    res.timeline()

    Layers.report(res, good.map(o => Layers.Cost(o.wallS, o.buildS,
      o.bucket.jobIntervals.count(_._1 < o.built), o.bucket, o.io, o.gcMs / 1000.0)),
      a.cores, perOp = None)
    res.layer("host.cpu_steal_fraction", steal, "ratio")

    if (a.trace) {
      val spans = new Spans
      good.foreach { o =>
        val q = spans.add(0, "query", o.start, o.end)
        val build = spans.add(q, "build", o.start, o.built)
        val write = spans.add(q, "write", o.built, o.end)
        o.bucket.jobIntervals.foreach { case (js, je) =>
          spans.add(if (js < o.built) build else write, "job", js, je)
        }
      }
      spans.write(s"${a.work}/spans.jsonl")
      res.line(f"trace: ${spans.all.size} spans; self time by span (count, total s, self s):")
      spans.selfTimes.foreach { case (name, c, tot, self) =>
        res.line(f"  $name%-10s $c%6d $tot%10.3f $self%10.3f")
      }
      rollup(res, good, a.cores)
    }
    spark.stop()
  }

  /** Per-family rollup and where the fixed per-query floor goes. */
  private def rollup(res: Result, ops: Seq[Op], cores: Int): Unit = {
    def plan(o: Op) = (o.bucket.analysisMs + o.bucket.optimizationMs + o.bucket.planningMs) / 1000.0
    def job(o: Op) = Clock.secs(o.bucket.jobWallNs)
    res.line("family rollup (n, wall p50 s, sums in s: wall, build, plan, job wall, driver gap; tasks, task overhead s):")
    ops.groupBy(o => family(o.query)).toSeq.sortBy(_._1).foreach { case (f, os) =>
      val wall = os.map(_.wallS).sum
      val jw = os.map(job).sum
      res.line(f"  $f%-12s ${os.size}%3d ${Stats.median(os.map(_.wallS))}%7.3f $wall%8.3f " +
        f"${os.map(_.buildS).sum}%7.3f ${os.map(plan).sum}%7.3f $jw%8.3f ${wall - jw}%8.3f " +
        f"${os.map(_.bucket.tasks).sum}%6d ${os.map(o => (o.bucket.taskWallMs - o.bucket.taskRunMs) / 1000.0).sum}%7.3f")
    }
    val wall = ops.map(_.wallS).sum
    val jw = ops.map(job).sum
    val pl = ops.map(plan).sum
    val run = ops.map(_.bucket.taskRunMs).sum / 1000.0
    val ovh = ops.map(o => o.bucket.taskWallMs - o.bucket.taskRunMs).sum / 1000.0
    def pc(x: Double) = if (wall > 0) 100 * x / wall else 0.0
    res.line(f"floor: ${ops.size} queries, wall $wall%.2f s; no job running ${wall - jw}%.2f s (${pc(wall - jw)}%.0f%%), " +
      f"of which planning phases $pl%.2f s (${pc(pl)}%.0f%%); jobs running $jw%.2f s (${pc(jw)}%.0f%%) " +
      f"with ${ops.map(_.bucket.jobs).sum} jobs, ${ops.map(_.bucket.tasks).sum} tasks, " +
      f"task run $run%.2f s over $cores cores (slot use ${if (jw > 0) 100 * run / (jw * cores) else 0.0}%.0f%% while jobs run), " +
      f"task launch/deserialize overhead $ovh%.2f s")
  }
}

/** The execution, planning, I/O and JVM layer metrics both kinds of
  * workload report.
  */
object Layers {
  final case class Cost(
      wallS: Double, buildS: Double, buildJobs: Int, b: Bucket,
      io: Probes.Io, gcS: Double)

  def unitOf(m: String): String =
    if (m.endsWith("_ms_p50") || m.endsWith("_ms_max") || m.endsWith("_ms_tail")) "ms"
    else if (m.endsWith("_mb")) "MB"
    else if (m.endsWith("_s") || m.endsWith(".s")) "s"
    else if (m.endsWith("fraction") || m.endsWith("utilization")) "ratio"
    else "count"

  private def metrics(c: Cost, cores: Int): Seq[(String, Double)] = {
    val b = c.b
    val jobWall = Clock.secs(b.jobWallNs)
    Seq(
      "build.s" -> c.buildS,
      "build.jobs" -> c.buildJobs.toDouble,
      "plan.analysis_s" -> b.analysisMs / 1000.0,
      "plan.optimization_s" -> b.optimizationMs / 1000.0,
      "plan.planning_s" -> b.planningMs / 1000.0,
      "plan.executions" -> b.executions.toDouble,
      "exec.jobs" -> b.jobs.toDouble,
      "exec.stages" -> b.stages.toDouble,
      "exec.tasks" -> b.tasks.toDouble,
      "exec.task_overhead_s" -> (b.taskWallMs - b.taskRunMs) / 1000.0,
      "exec.slot_utilization" -> (if (c.wallS > 0) b.taskRunMs / 1000.0 / (c.wallS * cores) else 0.0),
      "exec.task_run_s" -> b.taskRunMs / 1000.0,
      "exec.task_cpu_s" -> b.taskCpuNs / 1e9,
      "exec.shuffle_read_mb" -> b.shuffleRead / 1048576.0,
      "exec.shuffle_write_mb" -> b.shuffleWrite / 1048576.0,
      "exec.spill_mb" -> b.spill / 1048576.0,
      "exec.job_wall_s" -> jobWall,
      "driver.gap_s" -> math.max(0.0, c.wallS - jobWall),
      "io.read_mb" -> c.io.readBytes / 1048576.0,
      "io.write_mb" -> c.io.writeBytes / 1048576.0,
      "io.read_ops" -> c.io.readOps.toDouble,
      "io.write_ops" -> c.io.writeOps.toDouble,
      "jvm.gc_s" -> c.gcS)
  }

  /** Suites pass one cost per query and get the median over queries
    * (`perOp = None`); transit passes the measured window's single cost and
    * the trigger count, and gets the mean per trigger (ratios stay ratios).
    */
  def report(res: Result, costs: Seq[Cost], cores: Int, perOp: Option[Int]): Unit = {
    val rows = costs.map(metrics(_, cores))
    val names = metrics(Cost(0, 0, 0, new Bucket, Probes.Io(0, 0, 0, 0), 0), cores).map(_._1)
    names.zipWithIndex.foreach { case (m, i) =>
      val xs = rows.map(_(i)._2)
      val v = perOp match {
        case None => Stats.median(xs)
        case Some(n) if m == "exec.slot_utilization" => xs.sum
        case Some(n) => xs.sum / math.max(1, n)
      }
      res.layer(m, if (v.isNaN) 0.0 else v, unitOf(m), perOp.getOrElse(costs.size))
    }
    res.layer("jvm.heap_peak_mb", Probes.heapPeakMb, "MB")
  }
}
