package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.TextAnalysis
import graft.streaming.Bm25Maintainer

class Bm25MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-bm25m-$tag").toString

  private def docs = Tables.documents(spark, sf)
  private def statsSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[String]("token"),
      r.getAs[Long]("df"), Option(r.get(r.fieldIndex("dl_sum"))))).toSet

  test("chained folds equal the one-shot refit (merge == refit, twice over)") {
    val dir = tmp("chain")
    val m = Bm25Maintainer.build(docs.filter(col("doc_id") % 3 === 0), dir)
    m.fold(docs.filter(col("doc_id") % 3 === 1), Some(0L))
    m.fold(docs.filter(col("doc_id") % 3 === 2), Some(1L))
    assert(statsSet(m.stats) == statsSet(TextAnalysis.bm25Stats(docs)),
      "two chained folds must equal a full refit of the union")
    // the replay marker carries ONE high-water line, not the full set —
    // marker bytes are O(1) per fold however many batches ever fold
    val markers = new java.io.File(s"$dir/stats").listFiles()
      .filter(_.isDirectory).map(d => new java.io.File(d, "_folded.txt"))
      .filter(_.exists())
    assert(markers.nonEmpty)
    markers.foreach { f =>
      val lines = new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8").linesIterator.count(_.nonEmpty)
      assert(lines <= 1, s"marker must stay O(1) lines, ${f.getPath} has $lines")
    }
    assert(m.foldedBatches == Set(1L), "the high-water is the max folded id")
    // superseded ids still dedupe against the high-water
    assert(!m.fold(docs.filter(col("doc_id") % 3 === 1), Some(0L)))
  }

  test("kill/restart: the recovered maintainer's folds equal the uninterrupted ones") {
    val dir = tmp("recover")
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    val b2 = docs.filter(col("doc_id") % 3 === 2)
    val m1 = Bm25Maintainer.build(b0, dir)
    assert(m1.fold(b1, Some(7L)))
    // crash here: m1 is dropped; a new process reopens the landed state
    val m2 = Bm25Maintainer.recover(spark, dir)
    assert(m2.foldedBatches == Set(7L))
    // the source redelivers batch 7 (at-least-once): must be a no-op
    assert(!m2.fold(b1, Some(7L)), "redelivered batchId must not refold")
    assert(m2.fold(b2, Some(8L)))
    assert(statsSet(m2.stats) == statsSet(TextAnalysis.bm25Stats(docs)),
      "recovered fold chain must equal the uninterrupted refit")
    // recovery TOOK OWNERSHIP: the zombie m1 is fenced before it can
    // race the version-dir protocol (clearUnmarked vs in-flight writes)
    val e = intercept[IllegalArgumentException](m1.fold(b1, Some(9L)))
    assert(e.getMessage.contains("FENCED"), e.getMessage)
  }

  test("an out-of-band-deleted stats directory is refused loud, naming it") {
    val dir = tmp("nostats")
    val m = Bm25Maintainer.build(docs.filter(col("doc_id") % 5 === 0), dir)
    def rmAll(p: java.io.File): Unit = {
      Option(p.listFiles()).foreach(_.foreach(rmAll)); p.delete(); ()
    }
    rmAll(new java.io.File(s"$dir/stats"))
    Seq[() => Any](() => m.foldedBatches, () => m.stats,
        () => m.fold(docs.filter(col("doc_id") % 5 === 1), Some(0L)))
      .foreach { call =>
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains(s"$dir/stats") &&
          e.getMessage.contains("no marked version"), s"got: ${e.getMessage}")
      }
  }

  test("a markerless (crash-interrupted) version directory is ignored AND does not block later folds") {
    val dir = tmp("marker")
    val m = Bm25Maintainer.build(docs.filter(col("doc_id") % 2 === 0), dir)
    val before = statsSet(m.stats)
    // simulate a fold that died after the parquet write, before the
    // marker: the orphan sits at EXACTLY v+1 = v000002, the path the next
    // fold will want to write
    TextAnalysis.bm25Stats(docs).coalesce(1).write.parquet(s"$dir/stats/v000002")
    val m2 = Bm25Maintainer.recover(spark, dir)
    assert(statsSet(m2.stats) == before,
      "an uncommitted version must be invisible to recovery and reads")
    // the recovered maintainer's next fold lands AT the orphan's path —
    // it must clear the debris and commit, not throw 'path already exists'
    assert(m2.fold(docs.filter(col("doc_id") % 2 =!= 0), Some(3L)))
    assert(statsSet(m2.stats) == statsSet(TextAnalysis.bm25Stats(docs)),
      "the recovered fold must equal the uninterrupted one's result")
  }

  test("attached to a MemoryStream, serving equals the inline ranking over the whole corpus") {
    val dir = tmp("stream")
    val half = docs.filter(col("doc_id") % 2 === 0)
    val rest = docs.filter(col("doc_id") % 2 =!= 0)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .as[(Long, String, String, String, Long)].collect()
    val m = Bm25Maintainer.build(half, dir)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String, String, Long)]
    val q = m.attach(input.toDF()
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    try {
      val (a, b) = rest.splitAt(rest.length / 2)
      input.addData(a.toSeq); q.processAllAvailable()
      input.addData(b.toSeq); q.processAllAvailable()
    } finally q.stop()
    val terms = Seq("dup", "window", "merge")
    val served = m.serveTopK(docs, terms).collect().map(_.toSeq).toSeq
    val inline = TextAnalysis.bm25TopK(docs, terms).collect().map(_.toSeq).toSeq
    assert(served == inline,
      "ranking served from the stream-maintained stats must equal the inline twin")
  }
}
