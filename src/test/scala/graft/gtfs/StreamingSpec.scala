package graft.gtfs

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Structured Streaming drive of the RT path (T1/T5/T7/T8): the
  * file-source checkpoint gives exactly-once snapshot handling, the
  * silver stream is incrementality-by-construction, and
  * dropDuplicatesWithinWatermark replaces the per-snapshot seen set.
  * Each query runs Trigger.AvailableNow against a temp landing dir —
  * the test-time stand-in for the 2-minute production trigger.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def bronzeCount(wh: String, table: String): Long =
    BronzeIngest.readBronze(spark, s"$wh/bronze/$table", table).count()

  test("T1/T5: second run over the same checkpoint ingests only the new snapshot") {
    val root = TestSpark.tempDir("rt_stream")
    val landing = s"$root/landing"
    val wh = s"$root/warehouse"
    val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(landing))
    Files.write(Paths.get(s"$landing/trip_updates_20250903_0930.pb"),
      Fixtures.tripUpdatesSnapshot(1756884757L))

    val q1 = RtStream.startTripUpdatesIngest(spark, landing, wh, ckpt)
    q1.awaitTermination()
    // snapshot 1: TU1 deduped first-wins + TU2 → 2 headers; 3 stop-time rows
    assert(bronzeCount(wh, "trip_updates_raw") == 2)
    assert(bronzeCount(wh, "trip_stop_times") == 3)

    // same file + one new file; the processed-files log must skip the old one
    Files.write(Paths.get(s"$landing/trip_updates_20250903_0932.pb"),
      Fixtures.tripUpdatesSnapshot(1756884877L))
    val q2 = RtStream.startTripUpdatesIngest(spark, landing, wh, ckpt)
    q2.awaitTermination()
    assert(bronzeCount(wh, "trip_updates_raw") == 4, "exactly one more snapshot's headers")
    assert(bronzeCount(wh, "trip_stop_times") == 6)
  }

  test("T1: vehicle positions ingest decodes all snapshots through the stream") {
    val root = TestSpark.tempDir("vp_stream")
    val landing = s"$root/landing"
    val wh = s"$root/warehouse"
    Files.createDirectories(Paths.get(landing))
    Files.write(Paths.get(s"$landing/vehicle_positions_20250903_0930.pb"),
      Fixtures.vehiclePositionsSnapshot(1756884757L))
    Files.write(Paths.get(s"$landing/vehicle_positions_20250903_0932.pb"),
      Fixtures.vehiclePositionsSnapshot(1756884877L))
    RtStream.startVehiclePositionsIngest(spark, landing, wh, s"$root/ckpt").awaitTermination()
    val vp = BronzeIngest.readBronze(spark, s"$wh/bronze/vehicle_positions_raw", "vehicle_positions_raw")
    assert(vp.count() == 6) // 2 snapshots x 3 vehicles
    assert(vp.filter(col("bearing") === 182L).count() == 2) // 181.6 rounds per snapshot
  }

  test("T7: silver stream is incremental by construction (file-source log as watermark)") {
    val root = TestSpark.tempDir("silver_stream")
    val landing = s"$root/landing"
    val wh = s"$root/warehouse"
    Files.createDirectories(Paths.get(landing))
    Files.write(Paths.get(s"$landing/trip_updates_20250903_0930.pb"),
      Fixtures.tripUpdatesSnapshot(1756884757L))
    RtStream.startTripUpdatesIngest(spark, landing, wh, s"$root/ckpt_ingest").awaitTermination()

    val sq1 = RtStream.startSilverStream(spark, wh, "trip_updates_silver", s"$root/ckpt_silver")
    sq1.awaitTermination()
    val silver1 = SilverTransforms.readSilver(spark, wh, "trip_updates_silver")
    assert(silver1.count() == 2)
    // sentinel transform applied in-stream (absent direction → label)
    assert(silver1.filter(col("trip_id") === "TU2")
      .select("direction_id").collect().head.getString(0) == "in experimentation")

    // new bronze arrives → re-run picks up ONLY the new files
    Files.write(Paths.get(s"$landing/trip_updates_20250903_0932.pb"),
      Fixtures.tripUpdatesSnapshot(1756884877L))
    RtStream.startTripUpdatesIngest(spark, landing, wh, s"$root/ckpt_ingest").awaitTermination()
    val sq2 = RtStream.startSilverStream(spark, wh, "trip_updates_silver", s"$root/ckpt_silver")
    sq2.awaitTermination()
    assert(SilverTransforms.readSilver(spark, wh, "trip_updates_silver").count() == 4)
  }

  test("T5: a replayed foreachBatch is a no-op (marker-guarded idempotence)") {
    import spark.implicits._
    val root = TestSpark.tempDir("replay")
    val wh = s"$root/warehouse"
    val ckpt = s"$root/ckpt"
    val blobs = Seq(Fixtures.tripUpdatesSnapshot(1756884757L)).toDS()
    def runBatch(): Boolean = RtStream.onceperBatch(spark, ckpt, "trip_updates", 0L) {
      BronzeIngest.ingestTripUpdateBlobs(blobs, wh,
        java.time.LocalDateTime.of(2025, 9, 3, 9, 30))
      ()
    }
    assert(runBatch(), "first run executes")
    assert(!runBatch(), "replay skips")
    assert(BronzeIngest.readBronze(spark, s"$wh/bronze/trip_updates_raw", "trip_updates_raw")
      .count() == 2, "no duplicate append after replay")
  }

  test("T8: dropDuplicatesWithinWatermark dedups the trip key across late micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val deduped = RtStream.dedupWithinWatermark(
      input.toDF().toDF("trip_id", "event_ts"), "event_ts")

    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2025-09-03 09:30:00")
    val t1 = java.sql.Timestamp.valueOf("2025-09-03 09:31:00")
    input.addData(("TU1", t0), ("TU1", t1), ("TU2", t0))
    q.processAllAvailable()
    input.addData(("TU1", t1)) // late duplicate, still inside the 10-min watermark
    q.processAllAvailable()
    q.stop()

    val out = spark.table("dedup_out").select("trip_id").as[String].collect().sorted
    assert(out.toSeq == Seq("TU1", "TU2"))
  }

  private def silverCount(wh: String, table: String): Long =
    SilverTransforms.readSilver(spark, wh, table).count()

  test("live, then backfill, then live on one warehouse: silver shows every bronze row exactly once") {
    val root = TestSpark.tempDir("live_backfill_live")
    val landing = s"$root/landing"
    val wh = s"$root/warehouse"
    Files.createDirectories(Paths.get(landing))
    Files.createDirectories(Paths.get(s"$root/archive/tu"))
    Files.createDirectories(Paths.get(s"$root/archive/vp"))
    def liveCycle(): Unit = {
      RtStream.startTripUpdatesIngest(spark, landing, wh, s"$root/ckpt_ingest").awaitTermination()
      RtStream.startSilverStream(spark, wh, "trip_updates_silver", s"$root/ckpt_silver").awaitTermination()
    }
    def exact(step: String, rows: Long): Unit = {
      assert(bronzeCount(wh, "trip_updates_raw") == rows, step)
      assert(silverCount(wh, "trip_updates_silver") == rows, step)
    }

    Files.write(Paths.get(s"$landing/trip_updates_20250903_0930.pb"), Fixtures.tripUpdatesSnapshot(1756884757L))
    liveCycle()
    exact("live", 2)

    Files.write(Paths.get(s"$root/archive/tu/trip_updates_20250903_0932.pb"), Fixtures.tripUpdatesSnapshot(1756884877L))
    Files.write(Paths.get(s"$root/archive/vp/vehicle_positions_20250903_0932.pb"),
      Fixtures.vehiclePositionsSnapshot(1756884877L))
    BronzeIngest.loadRt(spark, s"$root/archive/tu", s"$root/archive/vp", wh)
    SilverTransforms.refreshAll(spark, wh)
    exact("backfill", 4)

    Files.write(Paths.get(s"$landing/trip_updates_20250903_0934.pb"), Fixtures.tripUpdatesSnapshot(1756884997L))
    liveCycle()
    exact("live again", 6)

    Warehouse.register(spark, wh)
    assert(spark.sql("SELECT count(*) FROM bronze.trip_updates_raw").head().getLong(0) == 6L)
    assert(spark.sql("SELECT count(*) FROM silver.trip_updates_silver").head().getLong(0) == 6L)
    assert(spark.sql("SELECT count(*) FROM silver.vehicle_positions_silver").head().getLong(0) == 3L)
  }

  test("a replayed silver-stream batch leaves the watermark and the counts unchanged") {
    val root = TestSpark.tempDir("silver_replay")
    val landing = s"$root/landing"
    val wh = s"$root/warehouse"
    val ckpt = s"$root/ckpt_silver"
    Files.createDirectories(Paths.get(landing))
    Files.write(Paths.get(s"$landing/trip_updates_20250903_0930.pb"), Fixtures.tripUpdatesSnapshot(1756884757L))
    RtStream.startTripUpdatesIngest(spark, landing, wh, s"$root/ckpt_ingest").awaitTermination()
    RtStream.startSilverStream(spark, wh, "trip_updates_silver", ckpt).awaitTermination()
    def mark = SilverTransforms.watermark(spark, s"$wh/silver/trip_updates_silver", "trip_updates_silver")
    val before = mark
    assert(before.isDefined && silverCount(wh, "trip_updates_silver") == 2L)

    // A crash after the batch moved the mark but before its commit: the
    // restart re-runs batch 0 over the same bronze files.
    Files.list(Paths.get(s"$ckpt/commits")).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .foreach(Files.delete)
    val replay = RtStream.startSilverStream(spark, wh, "trip_updates_silver", ckpt)
    replay.awaitTermination()
    assert(replay.recentProgress.map(_.numInputRows).sum == 2L, "batch 0 ran again")
    assert(mark == before)
    assert(silverCount(wh, "trip_updates_silver") == 2L)
  }
}
