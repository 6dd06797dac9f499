package perfbench

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` builds this next to the library and
  * starts it once per run:
  *
  *   perfbench.Main --workload <w> --seed <n> --seconds <s> --trace <0|1>
  *                  --out <result.json> --work <dir> [--corpus <dir>]
  *                  [--stations <golden_dashboard.txt>]
  *
  * It calls only the library's public entry points and reads only Spark's
  * public listener APIs; everything it measures goes into the result file.
  */
object Main {
  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean,
      out: String, work: String, corpus: String, stations: String) {
    val cores: Int = Runtime.getRuntime.availableProcessors()
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.get("trace").contains("1"), kv("out"), kv("work"),
      kv.getOrElse("corpus", ""), kv.getOrElse("stations", ""))
    val res = new Result
    val ok = try {
      a.workload match {
        case "transit_live" => TransitLive.run(a, res)
        case w if Suite.workloads.contains(w) => Suite.run(a, res)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      true
    } catch { case e: Throwable => e.printStackTrace(); false }
    if (ok) res.write(a.out)
    // streaming and HTTP threads are not daemons: exit explicitly
    System.exit(if (ok) 0 else 1)
  }

  /** A local session sized to the machine: `local[nproc]` and as many
    * shuffle partitions as cores, all scratch space inside `work`.
    */
  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
