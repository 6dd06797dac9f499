package graft.operators

import org.apache.spark.sql.DataFrame

/** Input-parallelism guard for compute-heavy operators.
  *
  * The benchmark corpus ships each table as ONE parquet file with ONE row
  * group, and parquet splits only at row-group boundaries — so every scan
  * plans a single partition and a mapPartitions kernel (or an interpreted
  * higher-order projection) runs on one core no matter the cluster size.
  * `spread` fans such inputs out to the session's default parallelism; on a
  * realistically-split input (many files / row groups — the 100 TB case) the
  * partition count already meets the target and this is a no-op, so no
  * gratuitous shuffle appears in the scaled-up plan.
  *
  * Only used by operators whose results are insensitive to row order within
  * a partition (row-wise kernels followed by keyed aggregation or a final
  * orderBy on a unique key).
  */
private[graft] object Par {

  /** Daemon pool for overlapping INDEPENDENT pieces of one query that the
    * scheduler cannot overlap by itself because driver code runs them
    * sequentially (guide §2.6): per-tier index fits whose collect()s fire
    * at DataFrame construction, or a commit's writes to two independent
    * tables. Unbounded cached threads — a caller that runs one branch on
    * its own thread and the rest here can never deadlock on the pool —
    * and daemon, so a crashed driver never hangs on pool shutdown.
    */
  lazy val overlapEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-overlap")
        t.setDaemon(true)
        t
      }))

  /** Run `fs` concurrently on [[overlapEc]] and return their results in
    * order; the calling thread blocks until EVERY branch settles (even
    * when one fails — an escaped in-flight branch could race whatever
    * recovery the caller runs next), then [[throwFailures]] rethrows —
    * the same fail-loud contract as running them sequentially, with no
    * later failure masked.
    */
  def joinAll[A](fs: Seq[() => A]): Seq[A] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val futs = fs.map(f => Future(f())(overlapEc))
    val settled = futs.map(f => scala.util.Try(Await.result(f, Duration.Inf)))
    throwFailures(settled: _*)
    settled.map(_.get)
  }

  /** Given branches that have ALL settled, rethrow the first failure in
    * argument order with every later one attached via `addSuppressed`;
    * return normally when none failed.
    */
  def throwFailures(settled: scala.util.Try[_]*): Unit = {
    val failures = settled.collect { case scala.util.Failure(e) => e }.distinct
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }

  def spread(df: DataFrame): DataFrame = {
    // streaming frames can't be partition-inspected (toRdd is batch-only),
    // and their parallelism is the source's + the query's own shuffles —
    // adding a per-micro-batch repartition is a cost the streaming caller
    // must choose deliberately (as IngestGate's dedup-first ordering does)
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    // toRdd (InternalRow) reads the partition count off the planned scan
    // without building the public .rdd's deserializer chain + extra
    // mapPartitions layer; no job runs either way, but this keeps the
    // inspection to one physical-planning pass of the bare input
    if (df.queryExecution.toRdd.getNumPartitions >= target) df
    else df.repartition(target)
  }
}
