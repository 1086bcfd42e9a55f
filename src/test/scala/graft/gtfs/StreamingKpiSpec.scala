package graft.gtfs

import java.time.LocalDate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The streaming delay KPI must equal the batch KPI on every window
  * the watermark has closed (streaming ≡ batch — the invariant that
  * lets the dashboard trust an incremental feed), withhold open
  * windows, and flush them exactly once when later data closes them.
  */
class StreamingKpiSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val serviceDate = LocalDate.of(2025, 9, 3)
  private val dayStart = serviceDate
    .atStartOfDay(java.time.ZoneId.of("Europe/Paris")).toEpochSecond

  // schedule: one trip, two stops, 09:00 and 09:10, one static load
  private def scheduled: DataFrame = {
    import spark.implicits._
    val loaded = java.time.LocalDateTime.of(2025, 9, 3, 4, 0)
    Seq(("T1", 1L, "S1", "9:00:00", loaded), ("T1", 2L, "S2", "9:10:00", loaded))
      .toDF("trip_id", "stop_sequence", "stop_id", "intermediate_stop", Schemas.insertDateCol)
  }

  /** observed row: (stop_sequence, delay_s) → epoch at sched + delay. */
  private def observed(rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.map { case (seq, d) =>
      ("T1", seq, s"S$seq", dayStart + (if (seq == 1) 32400L else 33000L) + d)
    }.toDF("trip_id", "stop_sequence", "stop_id", "intermediate_stop")
  }

  private val obsSchema =
    "trip_id STRING, stop_sequence BIGINT, stop_id STRING, intermediate_stop BIGINT"

  test("closed windows equal the batch KPI; open windows withheld, then flushed once") {
    import spark.implicits._
    val landing = TestSpark.tempDir("skpi_landing")
    val out = TestSpark.tempDir("skpi_out")
    val ckpt = TestSpark.tempDir("skpi_ckpt")

    def drain(): Unit = {
      val q = Kpi.streamingAvgDelay(
          spark.readStream.schema(obsSchema).parquet(landing),
          scheduled, serviceDate)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def streamed(): Set[(Long, Long, Long)] =
      spark.read.schema("bucket_start TIMESTAMP, avg_delay_s DOUBLE, n_obs BIGINT")
        .parquet(out)
        .select(unix_timestamp($"bucket_start"), round($"avg_delay_s" * 1000).cast("long"),
          $"n_obs")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def batch(rows: Seq[(Long, Long)]): Set[(Long, Long, Long)] =
      Kpi.avgDelayOverTime(Kpi.delaySpine(observed(rows), scheduled, serviceDate))
        .select(unix_timestamp($"bucket_start"), round($"avg_delay_s" * 1000).cast("long"),
          $"n_obs")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // run 1: two observations in the 09:00 window (delays 60, 180),
    // one in 09:15 (seq-2 sched 09:10 + 420 s = 09:17), and a
    // watermark driver at ~10:10 (sched 09:10 + 3600). Watermark =
    // 10:10 − 30 min = 09:40 → the 09:00/09:15 windows close; the
    // 10:00 window (the driver's own) stays open.
    val run1 = Seq((1L, 60L), (1L, 180L), (2L, 420L), (2L, 3600L))
    observed(run1).write.mode("overwrite").parquet(landing)
    drain()
    assert(streamed() == batch(run1.filter(_._2 < 3600L)),
      "closed windows must equal the batch KPI over the closed subset")
    assert(streamed().nonEmpty)

    // run 2: a far-future observation (sched 09:10 + 7200 = 11:10)
    // pushes the watermark to 10:40, flushing the withheld 10:00
    // window exactly once; streamed total now equals batch over run 1.
    observed(Seq((2L, 7200L))).write.mode("append").parquet(landing)
    drain()
    assert(streamed() == batch(run1),
      "flushed output must equal the batch KPI over all of run 1")
  }

  test("streaming sliding windows equal the batch sliding KPI on closed windows") {
    import spark.implicits._
    val landing = TestSpark.tempDir("sslide_landing")
    val out = TestSpark.tempDir("sslide_out")
    val ckpt = TestSpark.tempDir("sslide_ckpt")

    def drain(): Unit = {
      val q = Kpi.streamingSlidingAvgDelay(
          spark.readStream.schema(obsSchema).parquet(landing),
          scheduled, serviceDate)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def streamed(): Set[(Long, Long, Long)] =
      spark.read.schema("bucket_start TIMESTAMP, avg_delay_s DOUBLE, n_obs BIGINT")
        .parquet(out)
        .select(unix_timestamp($"bucket_start"), round($"avg_delay_s" * 1000).cast("long"),
          $"n_obs")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def batch(rows: Seq[(Long, Long)]): Set[(Long, Long, Long)] =
      Kpi.slidingAvgDelay(Kpi.delaySpine(observed(rows), scheduled, serviceDate))
        .select(unix_timestamp($"bucket_start"), round($"avg_delay_s" * 1000).cast("long"),
          $"n_obs")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // each observation lands in THREE overlapping 15-min windows; the
    // two early observations (09:01, 09:10) share the 09:00 window
    // but not their outer ones (the overlap structure under test:
    // 5 distinct windows, one with n_obs=2). The 3600 s driver puts
    // the watermark at 09:40, closing all five; its own 10:00+
    // windows stay open.
    val run1 = Seq((1L, 60L), (2L, 0L), (2L, 3600L))
    observed(run1).write.mode("overwrite").parquet(landing)
    drain()
    assert(streamed() == batch(run1.filter(_._2 < 3600L)),
      s"closed sliding windows must equal the batch subset; got ${streamed()}")
    assert(streamed().size == 5, "overlap must fan each obs into 3 windows, 1 shared")
    assert(streamed().exists(_._3 == 2L), "the shared window aggregates both obs")

    // the far-future row (11:10) moves the watermark to 10:40,
    // flushing the driver's withheld windows exactly once
    observed(Seq((2L, 7200L))).write.mode("append").parquet(landing)
    drain()
    assert(streamed() == batch(run1),
      "flushed output must equal the batch sliding KPI over all of run 1")
  }

  test("streaming punctuality equals the batch time series on closed windows") {
    import spark.implicits._
    val landing = TestSpark.tempDir("spct_landing")
    val out = TestSpark.tempDir("spct_out")
    val ckpt = TestSpark.tempDir("spct_ckpt")

    def drain(): Unit = {
      val q = Kpi.streamingPunctuality(
          spark.readStream.schema(obsSchema).parquet(landing),
          scheduled, serviceDate)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def streamed(): Set[(Long, Long, Long)] =
      spark.read.schema("bucket_start TIMESTAMP, n_obs BIGINT, n_on_time BIGINT")
        .parquet(out)
        .select(unix_timestamp($"bucket_start"), $"n_obs", $"n_on_time")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def batch(rows: Seq[(Long, Long)]): Set[(Long, Long, Long)] =
      Kpi.punctualityOverTime(Kpi.delaySpine(observed(rows), scheduled, serviceDate))
        .select(unix_timestamp($"bucket_start"), $"n_obs", $"n_on_time")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // delays straddle the 300 s threshold INSIDE one window (60 on
    // time, 420 late, both in 09:00–09:15 for seq 1) plus a late stop
    // in its own window; the 3600 s driver closes them, stays open
    val run1 = Seq((1L, 60L), (1L, 420L), (2L, 600L), (2L, 3600L))
    observed(run1).write.mode("overwrite").parquet(landing)
    drain()
    assert(streamed() == batch(run1.filter(_._2 < 3600L)),
      "closed windows must equal the batch punctuality series")
    assert(streamed().exists { case (_, n, on) => on > 0 && on < n },
      "fixture must exercise a window with a mixed on-time/late split")

    // the far-future row advances the watermark, flushing the withheld
    // driver window exactly once
    observed(Seq((2L, 7200L))).write.mode("append").parquet(landing)
    drain()
    assert(streamed() == batch(run1),
      "flushed output must equal the batch series over all of run 1")
  }
}
