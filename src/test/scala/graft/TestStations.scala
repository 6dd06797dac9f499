package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.sources.TransitData

/** The station network of the in-repo golden dashboard
  * (`src/test/resources/golden_dashboard.txt`): line, name and order of
  * every row, station ids by row position. Tests whose assertions hold
  * on any network run on it, so they need no checkout of the reference's
  * CTA data files.
  */
object TestStations {

  /** (line, station_id, name, order), one per golden row. */
  private lazy val rows: Seq[(String, Int, String, Int)] = {
    val src = scala.io.Source.fromFile("src/test/resources/golden_dashboard.txt", "UTF-8")
    val lines = try src.getLines().filter(_.nonEmpty).toList finally src.close()
    lines.zipWithIndex.map { case (l, i) =>
      val f = l.split('|')
      (f(0), 40000 + 10 * i, f(2), f(3).toInt)
    }
  }

  /** line -> (station_id, name, order), ascending by order: the
    * [[graft.sim.Simulator]]'s input.
    */
  lazy val byLine: Map[String, Seq[(Int, String, Int)]] =
    rows.groupMap(_._1) { case (_, id, name, order) => (id, name, order) }
      .map { case (line, ss) => line -> ss.sortBy(_._3) }

  /** The network as a stations dimension frame in
    * [[TransitData.stationsSchema]], one stop per station, sorted by
    * order like [[TransitData.stations]].
    */
  def frame(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (line, id, name, order) =>
        Row(id + 1, "E", name, name, name, id, order,
          line == "red", line == "blue", line == "green")
      }, 1),
      TransitData.stationsSchema).orderBy("order")
}
