package graft
import org.apache.spark.sql.SparkSession

/** Headline benchmark main — one JSON line per run, per-round artifact.
  *
  * The bench host is shared and NOISY (documented co-tenant bursts up to
  * ~40× on a single sample in round 5), so the harness defends its own
  * evidence instead of trusting any single timing:
  *  - every query is timed THREE times and the MIN reported — one transient
  *    spike can no longer become the recorded number;
  *  - a designated control query (`q_string_fns`, plan untouched for three
  *    rounds) is re-timed every ~10 queries; a control sample > 2× the
  *    control's own floor marks the surrounding window host-loaded — BOTH
  *    the window it opens and the one before it (a burst seen at a window
  *    boundary may have started inside the previous window), and the
  *    queries timed inside either are listed in `suspect`;
  *  - at end of run, EVERY suspect query is re-measured (min of 2 samples,
  *    so the re-time itself can't land on a single co-tenant spike) after
  *    waiting for the control to read clean again; any non-suspect query
  *    whose min still exceeds 3× its recorded BENCH.md entry gets the same
  *    min-of-2 re-measure, emitted in `retimed`;
  *  - the headline `value`/`total_clean_s` is the sum of per-query CLEAN
  *    minima (min over all samples including re-measures) — computable from
  *    clean samples even on a loaded host — while `total_raw_s` keeps the
  *    contaminated first-pass sum for variance auditing.
  */
object Bench {
  private val Control = "q_string_fns"

  /** `| q_name | 1.23 |` rows of BENCH.md — the quiet-host reference table
    * for the end-of-run outlier pass. Missing file ⇒ no outlier pass.
    */
  private def benchMdTable(): Map[String, Double] = {
    val f = new java.io.File("BENCH.md")
    if (!f.isFile) Map.empty
    else {
      val Row = """\|\s*(q_\w+)\s*\|\s*([0-9.]+)\s*\|""".r
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().collect { case Row(q, s) => q -> s.toDouble }.toMap
      finally src.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // AQE coalescing stays at its parallelism-first default: the measured
      // A/B (BENCH.md) shows size-based coalescing (parallelismFirst=false)
      // costs 10 s across the suite — intermediate shuffles collapse to few
      // partitions and serialize the heavy downstream stages (quantiles,
      // dedup clusters, profile) for only noise-level wins on tiny outputs
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // unreported warmup: JVM/codegen/parquet-footer/page-cache costs land
    // here instead of inflating whichever query sorts first — touch every
    // corpus table fully once, then run every query once at the smallest
    // scale factor so each codegen/kernel path is JIT-warm before timing
    spark.range(1000000L).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    Tables.names.foreach { n =>
      val df = if (n == "events") Tables.events(spark, sfDir) else Tables.load(spark, sfDir, n)
      df.write.format("noop").mode("overwrite").save()
    }
    // dev aid: SPARK_GRAFT_ONLY=q_a,q_b restricts the run (warmup included,
    // so the tight dev loop doesn't pay for 70 unrelated warmup queries)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      SparkEntry.queries
        .filter { case (n, _) => only.forall(_.contains(n)) }
        .foreach { case (name, fn) =>
          try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable =>
            System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
          }
        }
    // drain warmup debt (broadcast cleanup, accumulated garbage) before the
    // first timed query instead of inside it
    System.gc()
    Thread.sleep(2000)

    // noop sink fully evaluates every output column — count() would let
    // Catalyst prune the projections being measured; timing includes plan
    // build (the guard pre-passes etc. are part of the query's cost)
    val qmap = SparkEntry.queries
    def sample(name: String): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        qmap(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); None
      }
    }

    val names = qmap.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val haveControl = qmap.contains(Control)

    // control floor: starts at the min of 3 pre-suite samples and keeps
    // RATCHETING DOWN as in-suite control reads come in — the pre-suite
    // reads run right after warmup (broadcast cleanup, JIT tail) and sit
    // ~2× above steady state, which would halve the burst detector's
    // sensitivity if frozen as the floor
    var controlFloor =
      if (haveControl) Seq.fill(3)(sample(Control)).flatten.minOption.getOrElse(-1.0)
      else -1.0
    val controlSamples = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]

    val results = names.zipWithIndex.map { case (name, idx) =>
      if (haveControl && controlFloor > 0 && idx % 10 == 0) {
        val c = sample(Control).getOrElse(-1.0)
        controlSamples += ((idx, c))
        if (c > 0 && c < controlFloor) controlFloor = c
      }
      val samples = Seq(sample(name), sample(name), sample(name))
      val ok = samples.flatten
      (name, if (ok.nonEmpty) ok.min else -1.0, ok.nonEmpty, samples, idx / 10)
    }

    // suspect windows, decided POST-HOC against the final (lowest) floor: a
    // hot control read at the boundary of window w taints w AND w-1 — a
    // burst that starts and ends mid-window is still caught by the read
    // that follows it
    val hotWindows = controlSamples.collect {
      case (i, c) if controlFloor > 0 && c > 2.0 * controlFloor => i / 10
    }.toSet
    val loadedWindows = hotWindows ++ hotWindows.map(_ - 1)
    val suspect = results.collect {
      case (name, _, true, _, w) if loadedWindows(w) => name
    }

    // clean pass: wait (bounded) for the control to read clean, then
    // re-measure EVERY suspect query min-of-2 — a single re-sample can
    // itself land in a burst
    def controlClean(): Boolean = !haveControl || controlFloor <= 0 || {
      val c = sample(Control).getOrElse(Double.MaxValue)
      if (c < controlFloor) controlFloor = c
      c <= 2.0 * controlFloor
    }
    var cleanHost = controlClean()
    var waits = 0
    while (!cleanHost && waits < 6) {
      Thread.sleep(10000); waits += 1; cleanHost = controlClean()
    }
    def resample2(name: String): Seq[Double] =
      Seq(sample(name), sample(name)).flatten
    val resampled = suspect.map(n => n -> resample2(n)).toMap

    // outlier pass over the remaining (non-suspect) queries: anything 3×
    // over its quiet-host BENCH.md entry gets the same min-of-2 re-measure
    // — if the run-time number was a host burst the detector missed, the
    // re-measure documents it inside the artifact itself
    val reference = benchMdTable()
    val retimed = results.collect {
      case (name, v, true, _, _)
        if !resampled.contains(name) &&
          reference.get(name).exists(ref => ref > 0 && v > 3.0 * ref) =>
        (name, v, resample2(name))
    }
    val extraSamples: Map[String, Seq[Double]] =
      resampled ++ retimed.map { case (n, _, ss) => n -> ss }

    // clean per-query value: min over first-pass AND re-measure samples —
    // the defensible number even when the first pass ran under load
    val cleanVal = results.map { case (n, v, ok, _, _) =>
      n -> (if (ok) (v +: extraSamples.getOrElse(n, Nil)).min else -1.0)
    }.toMap

    // failed queries report sentinel -1 and are excluded from the totals, so
    // a crash can never masquerade as a fast success in the JSON
    val qs = results.map { case (k, _, ok, _, _) =>
      s"\"" + k + "\":" + (if (ok) cleanVal(k) else -1)
    }.mkString("{", ",", "}")
    // raw per-query sample triples (failed sample = -1) so variance between
    // runs is auditable instead of hidden behind the reported min
    val samp = results.map { case (k, _, _, ss, _) =>
      s"\"" + k + "\":" + ss.map(_.getOrElse(-1.0)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, false, _, _) => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    val ctl = s"""{"ref":$controlFloor,"samples":${
      controlSamples.map { case (i, c) => s"[$i,$c]" }.mkString("[", ",", "]")}}"""
    val sus = suspect.map("\"" + _ + "\"").mkString("[", ",", "]")
    val res = resampled.toSeq.sortBy(_._1).map { case (k, ss) =>
      s"\"$k\":" + ss.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val ret = retimed.map { case (k, v, ss) =>
      s"\"$k\":[$v,${ss.minOption.getOrElse(-1.0)}]"
    }.mkString("{", ",", "}")
    val totalRaw = results.collect { case (_, v, true, _, _) => v }.sum
    val totalClean = results.collect { case (k, _, true, _, _) => cleanVal(k) }.sum
    val mainLine = s"""{"metric":"total_clean","value":$totalClean,"unit":"sec","total_raw_s":$totalRaw,"clean_host":$cleanHost,"queries":$qs,"samples":$samp,"errors":$errs,"control":$ctl,"suspect":$sus,"resampled":$res,"retimed":$ret,"sf":"$sfDir"}"""
    println(mainLine)
    // ARTIFACT DURABILITY (round-17 lesson: a tail-window harvest truncated
    // the head of the line above and the per-query map was lost, so the
    // next round's official round-over-round pairing had nothing to pair):
    // additionally land the full line as a sidecar FILE — best-effort, the
    // stdout contract stays primary
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_last.json"), mainLine + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] sidecar write failed: ${e.getMessage}")
    }
    // ...and re-emit the per-query CLEAN map as its own line directly above
    // the final summary (values rounded to ms — ~4.5 KB for 214 queries),
    // so a tail window big enough for the map + summary preserves both; a
    // failed query is null, so summing the map fails loud instead of
    // absorbing a sentinel
    val qsRounded = results.map { case (k, _, ok, _, _) =>
      s"\"" + k + "\":" +
        (if (ok) (math.round(cleanVal(k) * 1000) / 1000.0).toString else "null")
    }.mkString("{", ",", "}")
    println(s"""{"queries_clean":$qsRounded}""")
    // tail-window-safe summary: harvesters that keep only the last N chars of
    // stdout truncate the HEAD of the full line above (its "metric" field
    // sits at the start) — re-emit the headline numbers as a short final
    // line that fits any tail window
    println(s"""{"total_clean_s":${math.round(totalClean * 1000) / 1000.0},"total_raw_s":${math.round(totalRaw * 1000) / 1000.0},"n":${results.count(_._3)},"clean_host":$cleanHost,"errors":$errs,"suspect":$sus}""")
    spark.stop()
  }
}
