package graft.gtfs

import java.time.{LocalDate, LocalDateTime, ZoneId}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** End-to-end drive of the reference pipeline (E1+E2+E3 → KPI layer):
  * fixture CSVs + protobuf snapshots → bronze → incremental silver →
  * all 10 KPIs, asserted against hand-computed expecteds (the fixture
  * is 5 observations — every delay is checkable by hand).
  * Also the P5 invariant: one big batch ≡ N incremental batches.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val serviceDate = LocalDate.of(2025, 9, 3)
  private val dayStart = serviceDate.atStartOfDay(ZoneId.of("Europe/Paris")).toEpochSecond
  private val feedTs = dayStart + 34000
  private val ts1 = LocalDateTime.of(2025, 9, 3, 4, 0, 0) // static load stamp
  private val ts2 = LocalDateTime.of(2025, 9, 3, 9, 30, 0) // RT load stamp

  /** Build a fully-loaded warehouse; `refreshBetween` = refresh silver
    * after the static load too (the incremental path);
    * `nextDayStatic` = then run the next day's static load and refresh
    * again, as the reference's daily DAG does.
    */
  private def buildWarehouse(refreshBetween: Boolean, nextDayStatic: Boolean = false)
      : (String, Map[String, Long], Map[String, Long]) = {
    val (src, tuDir, vpDir, wh) = stageFixtures()
    BronzeIngest.loadStatic(spark, src, wh, ts1)
    val firstCounts =
      if (refreshBetween) SilverTransforms.refreshAll(spark, wh) else Map.empty[String, Long]
    BronzeIngest.loadRt(spark, tuDir, vpDir, wh, ts2)
    val secondCounts = SilverTransforms.refreshAll(spark, wh)
    if (nextDayStatic) {
      BronzeIngest.loadStatic(spark, src, wh, ts1.plusDays(1))
      SilverTransforms.refreshAll(spark, wh)
    }
    (wh, firstCounts, secondCounts)
  }

  /** Writes the fixture static CSVs and RT snapshots (one TripUpdates,
    * two VehiclePositions) to a new root; returns (static dir, TU dir,
    * VP dir, warehouse dir).
    */
  private def stageFixtures(): (String, String, String, String) = {
    val root = TestSpark.tempDir("gtfs_pipeline")
    val src = s"$root/static_src"
    val tuDir = s"$root/rt/tu"
    val vpDir = s"$root/rt/vp"
    Fixtures.writeStaticCsvs(src)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tuDir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(vpDir))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tuDir/trip_updates_20250903_0932.pb"),
      Fixtures.tripUpdatesMatchingStatic(dayStart, feedTs))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$vpDir/vehicle_positions_20250903_0930.pb"),
      Fixtures.vehiclePositionsSnapshot(feedTs))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$vpDir/vehicle_positions_20250903_0932.pb"),
      Fixtures.vehiclePositionsSnapshot(feedTs + 120))
    (src, tuDir, vpDir, s"$root/warehouse")
  }

  private lazy val (wh, firstCounts, secondCounts) = buildWarehouse(refreshBetween = true)

  private def silver(name: String) = SilverTransforms.readSilver(spark, wh, name)

  private lazy val spine = Kpi.delaySpine(
    silver("trip_stop_times_silver"), silver("stop_times_static_silver"), serviceDate)

  test("incremental refresh appends only fresh rows; re-refresh appends zero") {
    // static pass: 3 routes, 4 trips, 4 stops, 6 stop_times (malformed row dropped)
    assert(firstCounts("routes_static_silver") == 3)
    assert(firstCounts("trips_static_silver") == 4)
    assert(firstCounts("stops_static_silver") == 4)
    assert(firstCounts("stop_times_static_silver") == 6)
    assert(firstCounts("trip_updates_silver") == 0)
    // RT pass: static already at watermark → 0; RT rows only
    assert(secondCounts("routes_static_silver") == 0)
    assert(secondCounts("stop_times_static_silver") == 0)
    assert(secondCounts("trip_updates_silver") == 3)     // first-wins dedup of the 4 headers
    assert(secondCounts("trip_stop_times_silver") == 5)
    assert(secondCounts("vehicle_positions_silver") == 6) // 2 snapshots × 3 vehicles
    // third refresh: nothing new anywhere
    val third = SilverTransforms.refreshAll(spark, wh)
    assert(third.values.forall(_ == 0L), s"expected all-zero third refresh, got $third")
  }

  test("silver values: quoted CSV comma, NULL_IF, first-wins, sentinel") {
    val routes = silver("routes_static_silver").collect().map(r => r.getString(0) -> r).toMap
    assert(routes("R1").getString(2) == "Port, Gare et Centre") // quoted comma survives
    val tu = silver("trip_updates_silver").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(tu(Fixtures.LongTrip) == (("R1", "0")))  // duplicate header lost (R9 was second)
    assert(tu("T3")._2 == "in experimentation")      // absent direction_id → sentinel
    val st = silver("stop_times_static_silver")
      .filter(col("trip_id") === "T2" && col("stop_sequence") === 1).collect().head
    assert(st.getString(1) == "10:05:00")            // COALESCE took departure
  }

  test("delay spine: the 5 hand-computed delays, >24h time anchored correctly") {
    val delays = spine.select("trip_id", "stop_sequence", "delay_s").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(delays == Map(
      (Fixtures.LongTrip, 1L) -> 120L,
      (Fixtures.LongTrip, 2L) -> 180L,
      ("T2", 1L) -> 60L,
      ("T2", 2L) -> -30L,
      ("T3", 1L) -> 300L)) // 25:07:00 = 90420 s past Paris midnight
  }

  test("KPI: punctuality, distribution, top routes, top stops") {
    val p = Kpi.punctualityRate(spine, 300L).collect().head
    assert(p.getDouble(0) == 1.0 && p.getLong(1) == 5L)

    val dist = Kpi.delayDistribution(spine).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == Map(-1L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L))

    val topRoutes = Kpi.topDelayedRoutes(spine,
      silver("trips_static_silver"), silver("routes_static_silver")).collect()
    assert(topRoutes.map(_.getString(0)).toSeq == Seq("R2", "R1"))
    assert(topRoutes.head.getDouble(1) == 300.0)
    assert(topRoutes(1).getDouble(1) == 82.5)
    assert(topRoutes(1).getString(3) == "Port, Gare et Centre")

    val topStops = Kpi.topProblemStops(spine, silver("stops_static_silver")).collect()
    assert(topStops.map(_.getString(0)).toSeq == Seq("S2", "S1", "S3"))
    assert(topStops.head.getDouble(1) == 240.0)
  }

  test("KPI: travel time real vs theoretical per trip") {
    val tt = Kpi.travelTimeRealVsTheoretical(spine).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(4)))).toMap
    assert(tt(Fixtures.LongTrip) == ((720L, 660L, 60L)))
    assert(tt("T2") == ((510L, 600L, -90L)))
    assert(tt("T3") == ((0L, 0L, 0L)))
  }

  test("KPI: latest vehicle positions picks the newest snapshot per vehicle") {
    val latest = Kpi.latestVehiclePositions(silver("vehicle_positions_silver")).collect()
      .map(r => r.getString(2) -> r.getLong(7)).toMap
    assert(latest == Map(
      "veh-1" -> (feedTs + 120), "veh-2" -> (feedTs + 130), "veh-3" -> (feedTs + 140)))
  }

  test("KPI: stops service state — unobserved station reads 'no data'") {
    val states = Kpi.stopsServiceState(spine, silver("stops_static_silver")).collect()
      .map(r => r.getString(0) -> r.getAs[String]("service_state")).toMap
    assert(states == Map(
      "S1" -> "active", "S2" -> "active", "S3" -> "active", "STATION1" -> "no data"))
  }

  test("KPI: time-bucketed aggs cover all 5 observations") {
    assert(Kpi.avgDelayOverTime(spine).agg(sum("n_obs")).collect().head.getLong(0) == 5L)
    assert(Kpi.delayHeatmap(spine).agg(sum("n_obs")).collect().head.getLong(0) == 5L)
    assert(Kpi.delayEvolutionPerStop(spine).agg(sum("n_obs")).collect().head.getLong(0) == 5L)
  }

  test("a second daily static load leaves every KPI count unchanged") {
    val (whTwice, _, _) = buildWarehouse(refreshBetween = true, nextDayStatic = true)
    def silverTwice(name: String) = SilverTransforms.readSilver(spark, whTwice, name)
    assert(silverTwice("stop_times_static_silver").count() == 12) // two daily copies
    val spineTwice = Kpi.delaySpine(silverTwice("trip_stop_times_silver"),
      silverTwice("stop_times_static_silver"), serviceDate)
    assert(Kpi.punctualityRate(spineTwice).collect().head.getLong(1) == 5L)
    assert(spineTwice.select("trip_id", "stop_sequence", "delay_s").collect().map(_.toString).sorted
      .sameElements(spine.select("trip_id", "stop_sequence", "delay_s").collect().map(_.toString).sorted))
    val topRoutes = Kpi.topDelayedRoutes(spineTwice,
      silverTwice("trips_static_silver"), silverTwice("routes_static_silver")).collect()
    assert(topRoutes.map(r => r.getString(0) -> r.getLong(2)).toSeq == Seq("R2" -> 1L, "R1" -> 4L))
  }

  test("an empty observation window builds an empty spine") {
    val none = Kpi.delaySpine(silver("trip_stop_times_silver").filter(lit(false)),
      silver("stop_times_static_silver"), serviceDate)
    assert(none.count() == 0L)
    assert(Kpi.punctualityRate(none).collect().head.getLong(1) == 0L)
    val absent = SilverTransforms.readSilver(spark, TestSpark.tempDir("gtfs_empty"), "trip_stop_times_silver")
    assert(Kpi.delaySpine(absent, silver("stop_times_static_silver"), serviceDate).count() == 0L)
  }

  test("spine-only panels read the built spine with no shuffle; a streaming spine stays lazy") {
    val built = spine // built before the listener attaches: only the panels are measured
    val stats = graft.Observability.attach(spark)
    try {
      // slidingAvgDelay is left out: its Expand reports unknown partitioning,
      // so its aggregate shuffles whatever the spine's partitioning.
      Seq(Kpi.avgDelayOverTime(built), Kpi.punctualityRate(built),
        Kpi.punctualityOverTime(built), Kpi.delayHeatmap(built), Kpi.delayDistribution(built),
        Kpi.travelTimeRealVsTheoretical(built), Kpi.delayEvolutionPerStop(built))
        .foreach(_.collect())
      val panels = stats.drain(spark)
      assert(panels.size == 7 && panels.forall(_.shuffles == 0),
        s"shuffles per panel: ${panels.map(_.shuffles)}")
    } finally graft.Observability.remove(spark, stats)

    val diskSchema = org.apache.spark.sql.types.StructType(
      Schemas.silver("trip_stop_times_silver").fields :+
        org.apache.spark.sql.types.StructField("insert_day", org.apache.spark.sql.types.DateType))
    val observedStream = spark.readStream.schema(diskSchema)
      .parquet(s"$wh/silver/trip_stop_times_silver")
    assert(Kpi.delaySpine(observedStream, silver("stop_times_static_silver"), serviceDate).isStreaming)
  }

  /** Parquet data files under `dir`, at any depth (checksums excluded). */
  private def parquetFiles(dir: String): Seq[java.nio.file.Path] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
    finally walk.close()
  }

  test("each load writes one parquet file per bronze table") {
    // The two VP snapshots are two input splits, yet one write of the load.
    for (name <- Schemas.bronze.keys.toSeq.sorted) {
      val files = parquetFiles(s"$wh/bronze/$name")
      assert(files.size == 1, s"bronze $name: $files")
    }
  }

  /** Counts the Spark jobs `body` starts, through a SparkListener. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.sql.graftglue.ColumnGlue.flushListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; org.apache.spark.sql.graftglue.ColumnGlue.flushListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  test("refreshAll runs at most 7 Spark jobs and stores nothing under silver but the 7 watermarks") {
    val (src, tuDir, vpDir, whBudget) = stageFixtures()
    BronzeIngest.loadStatic(spark, src, whBudget, ts1)
    BronzeIngest.loadRt(spark, tuDir, vpDir, whBudget, ts2)
    var counts = Map.empty[String, Long]
    val jobs = jobsOf { counts = SilverTransforms.refreshAll(spark, whBudget) }
    assert(jobs <= 7, s"refreshAll ran $jobs jobs")
    assert(counts == Map("routes_static_silver" -> 3L, "trips_static_silver" -> 4L,
      "stops_static_silver" -> 4L, "stop_times_static_silver" -> 6L, "trip_updates_silver" -> 3L,
      "trip_stop_times_silver" -> 5L, "vehicle_positions_silver" -> 6L))
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$whBudget/silver"))
    val stored = try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toList
      finally walk.close()
    assert(stored.map(_.getFileName.toString).toSet == Set(SilverTransforms.MarkFile) &&
      stored.map(_.getParent.getFileName.toString).sorted == SilverTransforms.transforms.keys.toSeq.sorted,
      s"silver stores $stored")
  }

  test("the watermark only moves forward: a refresh over rows stamped below it changes nothing") {
    val (src, _, _, whBack) = stageFixtures()
    BronzeIngest.loadStatic(spark, src, whBack, ts1)
    SilverTransforms.refreshAll(spark, whBack)
    def mark = SilverTransforms.watermark(spark, s"$whBack/silver/routes_static_silver", "routes_static_silver")
    assert(mark.contains(ts1))
    BronzeIngest.loadStatic(spark, src, whBack, ts1.minusHours(1)) // a backdated load
    assert(SilverTransforms.refreshTable(spark, whBack, "routes_static_silver") == 0L)
    assert(mark.contains(ts1))
    // every bronze row at or below the mark shows, the backdated ones too
    assert(SilverTransforms.readSilver(spark, whBack, "routes_static_silver").count() == 6L)
  }

  test("a refresh scans only the partitions from its mark's day on; a read prunes the days after the mark") {
    val (src, _, _, whDays) = stageFixtures()
    BronzeIngest.loadStatic(spark, src, whDays, ts1)
    BronzeIngest.loadStatic(spark, src, whDays, ts1.plusDays(1))
    SilverTransforms.refreshAll(spark, whDays) // mark 2025-09-04 04:00
    BronzeIngest.loadStatic(spark, src, whDays, ts1.plusDays(2)) // 2025-09-05, not yet refreshed
    /** The executed plan and the files its one parquet scan read. */
    def scan(df: org.apache.spark.sql.DataFrame): (String, Long) = {
      df.collect()
      val plan = df.queryExecution.executedPlan
      val files = plan.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
        .map(_.metrics("numFiles").value).sum
      (plan.toString, files)
    }
    val (refreshPlan, refreshFiles) = scan(SilverTransforms.pending(spark, whDays, "stop_times_static_silver"))
    assert("""PartitionFilters: \[[^\]]*insert_day#\d+ >= 2025-09-04""".r.findFirstIn(refreshPlan).isDefined,
      refreshPlan)
    assert(refreshFiles == 2L, "the refresh opens days 09-04 and 09-05 only")
    val (readPlan, readFiles) = scan(SilverTransforms.readSilver(spark, whDays, "stop_times_static_silver"))
    assert("""PartitionFilters: \[[^\]]*insert_day#\d+ <= 2025-09-04""".r.findFirstIn(readPlan).isDefined,
      readPlan)
    assert(readFiles == 2L, "the read opens days 09-03 and 09-04 only")
    assert(SilverTransforms.readSilver(spark, whDays, "stop_times_static_silver").count() == 12L)
  }

  test("loadStatic checks every file is present before it writes any table") {
    val (src, _, _, whMissing) = stageFixtures()
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$src/trips.txt"))
    val e = intercept[IllegalArgumentException](BronzeIngest.loadStatic(spark, src, whMissing, ts1))
    assert(e.getMessage.contains("missing GTFS files: trips.txt"), e.getMessage)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$whMissing/bronze")))
  }

  test("refreshAll: one unreadable bronze table fails alone; the others are written exactly") {
    val (src, tuDir, vpDir, whBroken) = stageFixtures()
    BronzeIngest.loadStatic(spark, src, whBroken, ts1)
    BronzeIngest.loadRt(spark, tuDir, vpDir, whBroken, ts2)
    val garbage = java.nio.file.Paths.get(s"$whBroken/bronze/routes_static/insert_day=2025-09-03/garbage.parquet")
    java.nio.file.Files.write(garbage, "not a parquet file".getBytes("UTF-8"))
    def poolThreads = Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("graft-batch-"))

    val e = intercept[Exception](SilverTransforms.refreshAll(spark, whBroken))
    assert(poolThreads.isEmpty, s"pool threads alive after refreshAll: $poolThreads")
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException])
    val direct = intercept[Exception](SilverTransforms.refreshTable(spark, whBroken, "routes_static_silver"))
    assert(e.getClass == direct.getClass)
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" / ")
    assert(messages(e).contains("garbage.parquet"), messages(e))
    for (name <- SilverTransforms.transforms.keys.toSeq.sorted if name != "routes_static_silver") {
      val want = silver(name).collect().map(_.toString).sorted
      val got = SilverTransforms.readSilver(spark, whBroken, name).collect().map(_.toString).sorted
      assert(got.sameElements(want), s"$name: ${got.toSeq} != ${want.toSeq}")
    }
  }

  test("D1/D2: warehouse registers as SQL-addressable catalog tables with pruning") {
    Warehouse.register(spark, wh)
    assert(spark.sql("SELECT count(*) FROM bronze.routes_static").collect().head.getLong(0) == 3)
    assert(spark.sql("SELECT count(*) FROM silver.trip_updates_silver").collect().head.getLong(0) == 3)
    val pruned = spark.sql(
      "SELECT * FROM bronze.routes_static WHERE insert_day = DATE'2025-09-03'")
    assert(pruned.count() == 3)
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(insert_day"),
      "insert_day predicate must prune partitions")
    Warehouse.register(spark, wh) // idempotent re-register
    assert(spark.sql("SELECT count(*) FROM bronze.routes_static").collect().head.getLong(0) == 3)
  }

  test("P5 invariant: incremental (2 refreshes) ≡ one big batch") {
    val (whB, _, _) = buildWarehouse(refreshBetween = false)
    for (name <- SilverTransforms.transforms.keys) {
      val a = silver(name).collect().map(_.toString).sorted
      val b = SilverTransforms.readSilver(spark, whB, name).collect().map(_.toString).sorted
      assert(a.sameElements(b), s"$name: incremental ≠ batch")
    }
  }
}
