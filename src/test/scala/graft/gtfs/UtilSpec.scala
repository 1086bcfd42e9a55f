package graft.gtfs

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** S1/S2 fetch+extract, T6 gating, S7 listing, T4 snapshot stamps,
  * K2 text dump — the operational edges around the core pipeline.
  */
class UtilSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("S1/S2: ZIP fetch (file URL) + extract round-trips the GTFS files") {
    val src = TestSpark.tempDir("zip_src")
    val out = TestSpark.tempDir("zip_out")
    Fixtures.writeStaticCsvs(src)
    // build the archive the reference would download
    val zipPath = Paths.get(src, "feed.zip")
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(zipPath))
    for (f <- Seq("routes.txt", "trips.txt", "stops.txt", "stop_times.txt")) {
      zos.putNextEntry(new java.util.zip.ZipEntry(f))
      zos.write(Files.readAllBytes(Paths.get(src, f)))
      zos.closeEntry()
    }
    zos.close()

    val names = StaticFetch.downloadAndExtract(zipPath.toUri.toString, out)
    assert(names.toSet == Set("routes.txt", "trips.txt", "stops.txt", "stop_times.txt"))
    assert(Files.readAllBytes(Paths.get(out, "stops.txt"))
      .sameElements(Files.readAllBytes(Paths.get(src, "stops.txt"))))
    // and the extracted dir feeds loadStatic directly (E1 chain)
    BronzeIngest.loadStatic(spark, out, s"$out/wh",
      java.time.LocalDateTime.of(2025, 9, 3, 4, 0))
    assert(BronzeIngest.readBronze(spark, s"$out/wh/bronze/stops_static", "stops_static").count() == 4)
  }

  test("S3: RT snapshot fetch lands a minute-stamped decodable .pb") {
    val src = TestSpark.tempDir("rt_fetch_src")
    val landing = TestSpark.tempDir("rt_fetch_landing")
    Fixtures.writeRtSnapshots(src, src)
    val srcPb = Paths.get(src, "trip_updates_20250903_1432.pb")
    val landed = StaticFetch.fetchRtSnapshot(srcPb.toUri.toString, landing,
      "trip_updates", java.time.LocalDateTime.of(2025, 9, 3, 14, 34))
    assert(landed.getFileName.toString == "trip_updates_20250903_1434.pb")
    assert(Files.readAllBytes(landed).sameElements(Files.readAllBytes(srcPb)))
    // the landed file feeds the decode path directly
    val feed = GtfsRtProto.parseFeed(Files.readAllBytes(landed))
    assert(feed.entities.nonEmpty)
  }

  test("S2: zip-slip entries are rejected") {
    val dir = TestSpark.tempDir("zip_slip")
    val zipPath = Paths.get(dir, "evil.zip")
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(zipPath))
    zos.putNextEntry(new java.util.zip.ZipEntry("../escape.txt"))
    zos.write("x".getBytes)
    zos.closeEntry()
    zos.close()
    assertThrows[IllegalArgumentException] {
      StaticFetch.extractZip(zipPath, Paths.get(dir, "out"))
    }
  }

  test("PERMISSIVE audit read quarantines the malformed row instead of dropping it") {
    val src = TestSpark.tempDir("audit")
    Fixtures.writeStaticCsvs(src)
    // one more input: a NULL_IF cell, which the bronze load reads as null
    Files.writeString(Paths.get(src, "stop_times.txt"), "T5,NULL,13:00:00,S1,1,0,0\n",
      java.nio.file.StandardOpenOption.APPEND)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    BronzeIngest.readCsvAudited(spark, s"$src/stop_times.txt",
        Schemas.csvSchema(Schemas.bronze("stop_times_static"))) { (clean, corrupt) =>
      assert(clean.count() == 7)
      val t5 = clean.filter(org.apache.spark.sql.functions.col("trip_id") === "T5").collect()
      assert(t5.length == 1 && t5.head.isNullAt(t5.head.fieldIndex("arrival_time")),
        s"a literal NULL cell must read as null: ${t5.toSeq}")
      val bad = corrupt.collect().map(_.getString(0))
      assert(bad.toSeq == Seq("bad-row-too-few-columns,1"))
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore,
      "the audited read must not stay cached after the call")
  }

  test("S8/A3: all-string validation read and shape probe") {
    val src = TestSpark.tempDir("allstring")
    Fixtures.writeStaticCsvs(src)
    val df = BronzeIngest.readCsvAllString(spark, s"$src/stops.txt")
    assert(df.schema.fields.forall(_.dataType == org.apache.spark.sql.types.StringType))
    assert(BronzeIngest.shape(df) == ((4L, 10)))
  }

  test("T6: waitForPath blocks until the upstream artifact appears") {
    val dir = TestSpark.tempDir("sensor")
    val target = s"$dir/marker"
    val writer = new Thread(() => {
      Thread.sleep(300)
      Files.writeString(Paths.get(target), "ready")
    })
    writer.start()
    assert(Sensors.waitForPath(spark, target, pokeIntervalMs = 50, timeoutMs = 5000))
    writer.join()
    // and times out cleanly when nothing appears
    assert(!Sensors.waitForPath(spark, s"$dir/never", pokeIntervalMs = 50, timeoutMs = 300))
  }

  test("S7: landing listing returns metadata without reading content") {
    val dir = TestSpark.tempDir("landing")
    Fixtures.writeRtSnapshots(s"$dir/tu", s"$dir/vp")
    val listed = Sensors.listLanding(spark, dir, "*.pb").collect()
    assert(listed.length == 2)
    assert(listed.forall(_.getLong(1) > 0))
  }

  test("S8: all-string validation read reports shapes and rejects a missing file") {
    val dir = graft.TestSpark.tempDir("s8_check")
    graft.gtfs.Fixtures.writeStaticCsvs(dir)
    val shapes = Sensors.checkGtfsStatic(spark, dir)
      .map { case (f, rows, cols) => f -> ((rows, cols)) }.toMap
    assert(shapes.keySet == Set("routes.txt", "trips.txt", "stops.txt", "stop_times.txt"))
    assert(shapes.values.forall { case (rows, cols) => rows > 0 && cols > 1 })
    val err = intercept[IllegalArgumentException] {
      Sensors.checkGtfsStatic(spark, s"$dir/nope")
    }
    assert(err.getMessage.contains("missing required GTFS file"))
  }

  test("T4: snapshot_ts parses the minute stamp from the file path") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq("/landing/trip_updates_20250903_1432.pb").toDF("path")
      .select(RtDecode.snapshotTs(col("path")).as("snapshot_ts"))
    assert(df.collect().head.getTimestamp(0).toString == "2025-09-03 14:32:00.0")
    // F10: the write-side stamp uses the same format
    assert(StaticFetch.minuteStamp(
      java.time.LocalDateTime.of(2025, 9, 3, 14, 32)) == "20250903_1432")
  }

  test("K1: minute-stamped CSV snapshot round-trips") {
    import spark.implicits._
    val dir = TestSpark.tempDir("csv_snap")
    val df = Seq(("TU1", "R1", 0L), ("TU2", "R2", 1L))
      .toDF("trip_id", "route_id", "direction_id")
    val path = BronzeIngest.writeCsvSnapshot(df, dir, "trip_updates_trips", "20250903_1432")
    assert(path.endsWith("trip_updates_trips_20250903_1432"))
    val back = spark.read.option("header", "true").csv(path)
    assert(back.count() == 2 && back.columns.toSeq == Seq("trip_id", "route_id", "direction_id"))
  }

  test("corrupt protobuf snapshots decode to empty, good ones still land") {
    import spark.implicits._
    val good = Fixtures.tripUpdatesSnapshot(1756884757L)
    val corrupt = good.take(good.length / 2) // truncated mid-message
    val garbage = Array.fill[Byte](64)(0x7f)
    assert(RtDecode.parseFeedSafe(corrupt).isEmpty || RtDecode.parseFeedSafe(corrupt).nonEmpty) // never throws
    assert(RtDecode.parseFeedSafe(garbage).isEmpty)
    val blobs = Seq(good, corrupt, garbage).toDS()
    val (tu, stu) = RtDecode.decodeTripUpdateBlobs(blobs)
    assert(tu.count() == 2 && stu.count() == 3) // the good snapshot's rows survive
    // and the ingest path counts what it skipped
    val wh = TestSpark.tempDir("corrupt_ingest")
    val corruptCount = BronzeIngest.ingestTripUpdateBlobs(blobs, wh,
      java.time.LocalDateTime.of(2025, 9, 3, 9, 30))
    assert(corruptCount >= 1 && corruptCount <= 2) // garbage certain; truncation may half-parse
  }

  test("K2: protobuf text dump writes one line per entity") {
    val dir = TestSpark.tempDir("dump")
    Fixtures.writeRtSnapshots(s"$dir/tu", s"$dir/vp")
    RtDecode.dumpFeedText(spark, s"$dir/tu", s"$dir/out")
    assert(spark.read.text(s"$dir/out").count() == 4) // 4 entities in the TU fixture
  }
}
