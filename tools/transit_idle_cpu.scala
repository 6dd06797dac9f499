// Idle CPU of a started transit pipeline: what the three queries of
// graft.streaming.TransitPipeline cost while no new file arrives.
//
// Build the library first (any perfbench run does, into .bench_build/classes),
// then, from the repository root:
//
//   TRANSIT_IDLE_FILES=0 spark-shell --master 'local[4]' \
//     --driver-class-path .bench_build/classes \
//     --conf spark.ui.enabled=false --conf spark.sql.shuffle.partitions=4 \
//     -i tools/transit_idle_cpu.scala
//
// TRANSIT_IDLE_FILES (default 0) is the number of files pre-seeded in each
// source directory: every idle poll of a file source lists its whole
// directory, so the idle cost grows with it. The script measures the
// session alone for 10 s, starts the pipeline, lets it consume the seeded
// files, waits 2 s, then measures two consecutive idle windows of 10 s (the
// first still carries the JIT compiling the poll loop, the second is the
// steady state), and prints all three as process CPU in cores (CPU seconds
// per wall second, over all threads of this JVM).

import java.nio.file.{Files, Paths}
import java.lang.management.ManagementFactory
import graft.schemas.Transit._
import graft.serving.Dashboard
import graft.streaming.TransitPipeline

val idleFiles = sys.env.getOrElse("TRANSIT_IDLE_FILES", "0").toInt
val windowS = 10
val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

def coresOver(seconds: Int): Double = {
  val (cpu0, wall0) = (os.getProcessCpuTime, System.nanoTime())
  Thread.sleep(seconds * 1000L)
  (os.getProcessCpuTime - cpu0).toDouble / (System.nanoTime() - wall0)
}

/** `n` copies of one small parquet file of `rows` in `dir`. */
def seed[T <: Product : org.apache.spark.sql.Encoder](rows: Seq[T], dir: String, n: Int): Unit = {
  Files.createDirectories(Paths.get(dir))
  if (n > 0) {
    val one = s"$dir-one"
    spark.createDataset(rows).coalesce(1).write.parquet(one)
    val file = Files.list(Paths.get(one)).filter(_.toString.endsWith(".parquet")).findFirst().get
    (0 until n).foreach(i => Files.copy(file, Paths.get(dir, f"part-$i%05d.parquet")))
  }
}

val root = Files.createTempDirectory("transit-idle").toString
val t = 1700000000000L
seed(Seq(Arrival(t, 40000, "BL001", "a", "blue", "on_time", Some(40010), Some("a"))),
  s"$root/arrivals", idleFiles)
seed(Seq(TurnstileEvent(t, 40000, "station", "blue")), s"$root/turnstile", idleFiles)
seed(Seq(WeatherReading(t, 70.0f, "sunny")), s"$root/weather", idleFiles)

spark.sparkContext.setLogLevel("WARN")
val sessionAlone = coresOver(windowS)
val queries = TransitPipeline.start(spark,
  TransitPipeline.Config(s"$root/arrivals", s"$root/turnstile", s"$root/weather", s"$root/chk"),
  new Dashboard)
queries.foreach(_.processAllAvailable())
Thread.sleep(2000L)
def dataBatches: Int = queries.map(_.recentProgress.count(_.numInputRows > 0)).sum
val batches0 = dataBatches
val firstIdle = coresOver(windowS)
val nextIdle = coresOver(windowS)
val batches1 = dataBatches
queries.foreach(_.stop())
println(f"transit_idle_cpu: files per source $idleFiles, session alone $sessionAlone%.3f cores, " +
  f"idle pipeline $firstIdle%.3f cores over the first $windowS s, $nextIdle%.3f over the next " +
  f"(batches with input while idle: ${batches1 - batches0})")
System.exit(0)
