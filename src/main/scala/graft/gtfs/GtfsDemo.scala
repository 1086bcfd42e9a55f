package graft.gtfs

import org.apache.spark.sql.SparkSession

/** Runnable end-to-end drive of the GTFS surface on generated
  * fixtures — the demo main for the domain layer whose operators have
  * no DuckDB oracle:
  *
  *   sbt "runMain graft.gtfs.GtfsDemo"
  *
  * Static CSVs + two RT protobuf snapshots → bronze → incremental
  * silver (twice, proving the second refresh appends only RT rows) →
  * every KPI printed. Exits non-zero if any stage yields no rows.
  */
object GtfsDemo {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val root = java.nio.file.Files.createTempDirectory("gtfs_demo").toString
    val serviceDate = java.time.LocalDate.of(2025, 9, 3)
    val dayStart = serviceDate.atStartOfDay(java.time.ZoneId.of("Europe/Paris")).toEpochSecond
    val feedTs = dayStart + 34000

    // landing artifacts (in a real deployment: StaticFetch.downloadAndExtract + feed polls)
    Fixtures.writeStaticCsvs(s"$root/static")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/rt/tu"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/rt/vp"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/rt/tu/trip_updates_20250903_0932.pb"),
      Fixtures.tripUpdatesMatchingStatic(dayStart, feedTs))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/rt/vp/vehicle_positions_20250903_0932.pb"),
      Fixtures.vehiclePositionsSnapshot(feedTs))

    val wh = s"$root/warehouse"
    BronzeIngest.loadStatic(spark, s"$root/static", wh,
      java.time.LocalDateTime.of(2025, 9, 3, 4, 0))
    val afterStatic = SilverTransforms.refreshAll(spark, wh)
    BronzeIngest.loadRt(spark, s"$root/rt/tu", s"$root/rt/vp", wh,
      java.time.LocalDateTime.of(2025, 9, 3, 9, 30))
    val afterRt = SilverTransforms.refreshAll(spark, wh)
    println(s"silver appended (static pass): $afterStatic")
    println(s"silver appended (RT pass, static already at watermark): $afterRt")

    def silver(n: String) = SilverTransforms.readSilver(spark, wh, n)
    val t0 = System.nanoTime()
    val spine = Kpi.delaySpine(
      silver("trip_stop_times_silver"), silver("stop_times_static_silver"), serviceDate)
    println(f"delay spine built once for every panel in ${(System.nanoTime() - t0) / 1e9}%.2f s")

    val kpis: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "avg delay over time" -> Kpi.avgDelayOverTime(spine),
      "punctuality" -> Kpi.punctualityRate(spine),
      "top delayed routes" -> Kpi.topDelayedRoutes(spine,
        silver("trips_static_silver"), silver("routes_static_silver")),
      "top problem stops" -> Kpi.topProblemStops(spine, silver("stops_static_silver")),
      "heatmap" -> Kpi.delayHeatmap(spine),
      "delay distribution" -> Kpi.delayDistribution(spine),
      "travel time real vs sched" -> Kpi.travelTimeRealVsTheoretical(spine),
      "latest vehicle positions" -> Kpi.latestVehiclePositions(silver("vehicle_positions_silver")),
      "stops service state" -> Kpi.stopsServiceState(spine, silver("stops_static_silver")),
      "delay evolution per stop" -> Kpi.delayEvolutionPerStop(spine))

    var failures = 0
    kpis.foreach { case (name, df) =>
      val rows = df.collect()
      println(s"== $name (${rows.length} rows)")
      rows.take(5).foreach(r => println(s"   $r"))
      if (rows.isEmpty) { failures += 1; println(s"   !! EMPTY") }
    }

    // connector relay end-to-end: the gtfsrt SOURCE tails the demo's
    // vehicle-positions landing dir, the streaming SINK republishes
    // monotonic-stamped snapshots, and the batch connector reads the
    // relayed dir back — the reference poller's landing loop as one
    // streaming query (production cadence: RtStream.rtTrigger).
    val relayed = RtStream.startRelay(spark, "vehicle_positions",
      s"$root/rt/vp", s"$root/rt/vp_relay", s"$root/ckpt/vp_relay",
      stampBase = "20250903_0934")
    relayed.awaitTermination()
    val relayNames = new java.io.File(s"$root/rt/vp_relay")
      .list().toSeq.filter(_.endsWith(".pb")).sorted
    val relayRows = spark.read.format("gtfsrt")
      .option("kind", "vehicle_positions").load(s"$root/rt/vp_relay").count()
    println(s"== connector relay (${relayNames.size} snapshots, $relayRows rows): " +
      relayNames.mkString(", "))
    if (relayRows == 0) { failures += 1; println(s"   !! EMPTY") }

    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
