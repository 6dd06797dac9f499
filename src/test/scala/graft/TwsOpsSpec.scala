package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.schemas.Transit._
import graft.streaming.TwsOps

/** transformWithState (arbitrary stateful processing v2) twin of the train
  * tracker — replayed against the batch oracle like the v1 operator, on the
  * RocksDB state store the API requires.
  */
class TwsOpsSpec extends SparkSpec {
  import spark.implicits._

  test("trainPositionsTws matches the batch tracker on a simulated replay") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val sim = graft.sim.Simulator.fromStations(
        TestStations.frame(spark), numTrains = 3)
      val (arrivals, _, _) = sim.run(20)

      val input = MemoryStream[Arrival]
      val q = TwsOps.trainPositionsTws(input.toDS())
        .writeStream.format("memory").queryName("tws_tp")
        .outputMode(OutputMode.Update()).start()
      try {
        arrivals.grouped(math.max(1, arrivals.size / 4)).foreach { chunk =>
          input.addData(chunk); q.processAllAvailable()
        }
        val streamed = spark.table("tws_tp").as[PlatformState].collect()
          .groupBy(p => (p.station_id, p.direction))
          .map { case (k, ps) => k -> ps.maxBy(_.updated) }
        val batch = graft.operators.Transit.trainPositions(arrivals.toDF())
          .collect()
          .map(r => ((r.getInt(0), r.getString(1)),
            Option(r.getAs[String]("train_id")))).toMap
        assert(streamed.nonEmpty)
        streamed.foreach { case (k, p) => assert(batch(k) == p.train_id, s"key $k") }
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
