package graft.gtfs

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The batch path's two execution rules, shared by bronze, silver and
  * the KPI layer.
  *
  * 1. Independent table writes and silver refreshes run at once
  *    ([[concurrently]]). A small table's job costs about as much as a
  *    large one's (planning, job scheduling, file commit), so on one
  *    session the fixed costs of
  *    the reference's parallel tasks (gtfs_silver.py:307-315,
  *    gtfs_rt_minutely.py:351) overlap instead of adding up.
  * 2. Every write, and every window over a dimension, runs on the
  *    partitions its size needs ([[sizedByEstimate]]): one per
  *    `spark.sql.files.maxPartitionBytes`. A small load is one file per
  *    table partition, not one per input split.
  */
object Batch {

  /** The most items [[concurrently]] runs at once: the 7 silver refreshes. */
  val MaxThreads = 7

  /** Runs `f` on every item at once, one daemon thread per item (at
    * most [[MaxThreads]]), on a pool made and shut down within the
    * call. Returns the results in item order once every item is done.
    * If items fail, it still waits for the rest, then rethrows the
    * first failed item's own exception. No pool thread outlives the
    * call.
    */
  def concurrently[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    val threads = mutable.ArrayBuffer.empty[Thread]
    val factory: ThreadFactory = (r: Runnable) => threads.synchronized {
      val t = new Thread(r, s"graft-batch-${threads.size}")
      t.setDaemon(true)
      threads += t
      t
    }
    val pool = Executors.newFixedThreadPool(items.size.max(1).min(MaxThreads), factory)
    try {
      val futures = items.map(a => pool.submit(new Callable[B] { def call(): B = f(a) }))
      val outcomes = futures.map { fu =>
        try Right(fu.get())
        catch { case e: ExecutionException => Left(e.getCause) }
      }
      outcomes.collectFirst { case Left(e) => e }.foreach(e => throw e)
      outcomes.collect { case Right(b) => b }
    } finally {
      pool.shutdown() // idle workers exit; a running item finishes first
      threads.synchronized(threads.toList).foreach(_.join())
    }
  }

  /** Partitions for `bytes` of rows: one per
    * `spark.sql.files.maxPartitionBytes`, at least one.
    */
  def partitionsFor(spark: SparkSession, bytes: BigInt): Int = {
    val perPartition = BigInt(spark.sessionState.conf.filesMaxPartitionBytes)
    ((bytes + perPartition - 1) / perPartition).max(1).min(Int.MaxValue).toInt
  }

  /** A batch input coalesced to the partitions its optimizer size
    * estimate needs. A write of it then makes one file per table
    * partition per `maxPartitionBytes`, and a window over it on one
    * partition needs no Exchange. A streaming input is returned as it
    * is.
    */
  def sizedByEstimate(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else df.coalesce(partitionsFor(df.sparkSession, df.queryExecution.optimizedPlan.stats.sizeInBytes))
}
