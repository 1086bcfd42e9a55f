package graft.gtfs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale stress drive for the GTFS domain layer: synthesizes a
  * deterministic warehouse orders of magnitude beyond the fixtures
  * (20k trips × 15 stops schedule, ~1M RT observations over 3 ingest
  * days) straight into bronze, then times the incremental silver
  * refresh and every KPI against it. `silver_refresh` is the first
  * `refreshAll`: silver is a view over bronze, so it is the 7
  * count-and-max jobs over the new bronze rows' `insert_date` that move
  * the tables' watermarks, not a copy; `silver_noop_refresh` is the
  * second, with nothing past the marks.
  *
  *   sbt "runMain graft.gtfs.GtfsScaleBench"
  *
  * Prints one JSON line of stage timings. The point is evidence the
  * domain plans hold past fixture size: the spine is a fact×fact
  * shuffle join (1M × 300k), dims broadcast, windows partition on
  * high-cardinality keys.
  */
object GtfsScaleBench {

  private def t[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val wh = java.nio.file.Files.createTempDirectory("gtfs_scale").toString + "/warehouse"
    val serviceDate = java.time.LocalDate.of(2025, 9, 3)
    val dayStart = serviceDate.atStartOfDay(java.time.ZoneId.of("Europe/Paris")).toEpochSecond

    val nTrips = 20000L
    val stopsPerTrip = 15L
    val nStops = 3000L
    val nRoutes = 100L
    val obsPerDay = 350000L

    // ---- synthesize bronze (deterministic id arithmetic, no rand) ----
    val ts0 = java.time.LocalDateTime.of(2025, 9, 3, 4, 0)
    val (_, tBronze) = t {
      val routes = spark.range(nRoutes).select(
        concat(lit("R"), $"id").as("route_id"), lit("AG").as("agency_id"),
        lit(null).cast("string").as("route_short_name"),
        concat(lit("Route "), $"id").as("route_long_name"),
        lit(3).as("route_type"), lit(null).cast("string").as("route_url"),
        lit(null).cast("string").as("route_color"), lit(null).cast("string").as("route_text_color"))
      BronzeIngest.appendBronze(routes, s"$wh/bronze/routes_static", ts0)

      val trips = spark.range(nTrips).select(
        concat(lit("R"), $"id" % nRoutes).as("route_id"), lit("SVC1").as("service_id"),
        concat(lit("T"), $"id").as("trip_id"), lit("HS").as("trip_headsign"),
        lit(null).cast("string").as("trip_short_name"),
        ($"id" % 2).cast("int").as("direction_id"), lit("SH1").as("shape_id"),
        lit(1).as("wheelchair_accessible"), lit(1).as("bike_allowed"))
      BronzeIngest.appendBronze(trips, s"$wh/bronze/trips_static", ts0)

      val stops = spark.range(nStops).select(
        concat(lit("S"), $"id").as("stop_id"), concat(lit("C"), $"id").as("stop_code"),
        concat(lit("Stop "), $"id").as("stop_name"),
        (lit(43.6) + $"id" * 0.0001).as("stop_lat"), (lit(7.2) + $"id" * 0.0001).as("stop_lon"),
        lit(null).cast("string").as("zone_id"), lit(0).as("location_type"),
        lit(null).cast("string").as("parent_station"), lit(null).cast("string").as("stop_timezone"),
        lit(1).as("wheelchair_boarding"))
      BronzeIngest.appendBronze(stops, s"$wh/bronze/stops_static", ts0)

      // schedule: trip t, seq s → departure at 6h + (t%1200)m + s*2m,
      // rendered as GTFS H:MM:SS (hours can exceed 24)
      val st = spark.range(nTrips * stopsPerTrip).select(
        concat(lit("T"), expr(s"id div $stopsPerTrip")).as("trip_id"),
        expr(s"printf('%d:%02d:%02d', (21600 + (id div $stopsPerTrip) % 1200 * 60 + id % $stopsPerTrip * 120) div 3600, ((21600 + (id div $stopsPerTrip) % 1200 * 60 + id % $stopsPerTrip * 120) div 60) % 60, 0)")
          .as("arrival_time"),
        lit(null).cast("string").as("departure_time"),
        concat(lit("S"), ($"id" * 7) % nStops).as("stop_id"),
        ($"id" % stopsPerTrip).cast("int").as("stop_sequence"),
        lit(0).as("pickup_type"), lit(0).as("drop_off_type"))
      BronzeIngest.appendBronze(st, s"$wh/bronze/stop_times_static", ts0)
    }

    // RT observations over 3 ingest days — exercises the incremental path
    val (_, tRt) = t {
      for (day <- 0 until 3) {
        val ts = ts0.plusDays(day).plusHours(6)
        val obs = spark.range(obsPerDay).select(
          concat(lit("T"), ($"id" + day * 17) % nTrips).as("trip_id"),
          ($"id" % stopsPerTrip).as("stop_sequence"),
          concat(lit("S"), ($"id" * 7) % nStops).as("stop_id"),
          (lit(dayStart + day * 86400L + 21600L) +
            (($"id" + day * 17) % nTrips % 1200) * 60 + ($"id" % stopsPerTrip) * 120 +
            ($"id" % 601) - 300).as("arrival_time"),
          lit(null).cast("long").as("departure_time"))
        BronzeIngest.appendBronze(obs, s"$wh/bronze/trip_stop_times", ts)
      }
    }

    val (counts1, tSilver1) = t(SilverTransforms.refreshAll(spark, wh))
    val (counts2, tSilver2) = t(SilverTransforms.refreshAll(spark, wh))
    require(counts2.values.forall(_ == 0L), s"second refresh must append nothing: $counts2")

    def silver(n: String) = SilverTransforms.readSilver(spark, wh, n)
    def drive(df: DataFrame): Long = df.queryExecution.toRdd.count()

    // delaySpine builds the spine itself, so the timer goes round the call.
    val (spine, tSpine) = t(Kpi.delaySpine(
      silver("trip_stop_times_silver"), silver("stop_times_static_silver"), serviceDate))
    require(drive(spine) > 0, "spine returned no rows")
    val kpis = Seq[(String, () => Long)](
      "avg_delay_over_time" -> (() => drive(Kpi.avgDelayOverTime(spine))),
      "punctuality" -> (() => drive(Kpi.punctualityRate(spine))),
      "top_routes" -> (() => drive(Kpi.topDelayedRoutes(spine, silver("trips_static_silver"), silver("routes_static_silver")))),
      "top_stops" -> (() => drive(Kpi.topProblemStops(spine, silver("stops_static_silver")))),
      "heatmap" -> (() => drive(Kpi.delayHeatmap(spine))),
      "distribution" -> (() => drive(Kpi.delayDistribution(spine))),
      "travel_time" -> (() => drive(Kpi.travelTimeRealVsTheoretical(spine))),
      "stops_state" -> (() => drive(Kpi.stopsServiceState(spine, silver("stops_static_silver")))))

    val kpiTimes = ("spine" -> tSpine) +: kpis.map { case (name, f) =>
      val (rows, sec) = t(f())
      require(rows > 0, s"$name returned no rows")
      name -> sec
    }

    // ---- gtfsrt connector at sf-scale (round-10 directive 6): 500
    // minute-stamped protobuf snapshots stream through the DSv2
    // source (one input partition per snapshot, Trigger.AvailableNow)
    // into the KPI spine. The 500×40 snapshot→trip assignment is a
    // BIJECTION onto the 20k-trip schedule, so both invariants are
    // exact equalities, not lower bounds: a dropped snapshot, a
    // double-read file or a decode regression all fail loudly.
    val rtDir = s"$wh/../rt_scale"
    val nSnapshots = 500
    val tripsPerSnap = (nTrips / nSnapshots).toInt
    val (_, tSnapSynth) = t {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(rtDir))
      for (k <- 0 until nSnapshots) {
        val w = new ProtoWire.Writer
        val ts = dayStart + 21600L + k * 120L
        w.message(1) { h => h.string(1, "2.0").int(2, 0).int(3, ts) }
        for (i <- 0 until tripsPerSnap) {
          val trip = k.toLong * tripsPerSnap + i
          w.message(2) { e =>
            e.string(1, s"e$trip")
            e.message(3) { tu =>
              tu.message(1)(t => t.string(1, s"T$trip")
                .string(5, s"R${trip % nRoutes}").int(6, trip % 2))
              for (s0 <- 0 until stopsPerTrip.toInt) {
                val sched = dayStart + 21600L + (trip % 1200) * 60 + s0 * 120
                tu.message(2) { s =>
                  s.int(1, s0).string(4, s"S${(trip * stopsPerTrip + s0) * 7 % nStops}")
                  s.message(2)(_.int(2, sched + ((trip * 7 + s0) % 601) - 300))
                }
              }
            }
          }
        }
        java.nio.file.Files.write(java.nio.file.Paths.get(
          f"$rtDir/trip_updates_20250903_$k%04d.pb"), w.toBytes)
      }
    }
    // Round-12 directive #7: the relay runs THROTTLED (25 snapshots
    // per micro-batch → 20 checkpoint commits) and is KILLED mid-drain
    // after ~8 committed batches, then a fresh query resumes from the
    // same checkpoint and drains the rest. The exactly-once proof is
    // the exact 300,000-row equality across the kill: the offset WAL
    // commits before each batch, the parquet sink dedups by batch id,
    // so the restart neither loses nor re-relays a snapshot.
    val relayOut = s"$wh/../rt_scale_out"
    def startRelay(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.format("gtfsrt")
        .option("kind", "stop_time_updates")
        .option("maxFilesPerTrigger", 25)
        .load(rtDir)
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$wh/../rt_scale_ckpt")
        .option("path", relayOut)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    val ((relayRows, killedAtBatch, resumeBatches), tConnector) = t {
      val q1 = startRelay()
      while (q1.isActive &&
          (q1.lastProgress == null || q1.lastProgress.batchId < 8))
        Thread.sleep(20)
      val killedAt =
        if (q1.lastProgress == null) -1L else q1.lastProgress.batchId
      q1.stop() // mid-drain kill: ~12 of 20 batches still unprocessed
      // The kill interrupts the in-flight micro-batch (observed: inside
      // Hadoop's file-permission shell exec), and awaitTermination
      // rethrows that as a StreamingQueryException — that exception IS
      // the simulated crash. Exactly-once is proven by the resumed
      // query's exact final count, not by a clean first shutdown.
      try q1.awaitTermination()
      catch {
        case _: org.apache.spark.sql.streaming.StreamingQueryException => ()
      }
      val q2 = startRelay()
      q2.awaitTermination()
      val resumed = q2.recentProgress.count(_.numInputRows > 0).toLong
      (spark.read.parquet(relayOut).count(), killedAt, resumed)
    }
    require(killedAtBatch >= 1 && killedAtBatch < 19,
      s"the kill must land mid-drain (some batches committed, some " +
        s"pending), got batchId=$killedAtBatch of 20")
    require(resumeBatches >= 1,
      s"the resumed query must process the remaining batches, got $resumeBatches")
    require(relayRows == nSnapshots.toLong * tripsPerSnap * stopsPerTrip,
      s"connector must relay every stop-time update exactly once " +
        s"across the kill-and-resume: " +
        s"expected ${nSnapshots.toLong * tripsPerSnap * stopsPerTrip}, got $relayRows")
    val (connectorSpineRows, tConnectorSpine) = t {
      val obs = spark.read.parquet(relayOut)
        .withColumn("intermediate_stop", coalesce($"arrival_time", $"departure_time"))
      drive(Kpi.delaySpine(obs, silver("stop_times_static_silver"), serviceDate))
    }
    require(connectorSpineRows == nTrips * stopsPerTrip,
      s"connector-fed spine must cover the full schedule: " +
        s"expected ${nTrips * stopsPerTrip}, got $connectorSpineRows")

    val obsTotal = counts1("trip_stop_times_silver")
    val stages = (Seq("bronze_synth" -> tBronze, "rt_synth" -> tRt,
      "silver_refresh" -> tSilver1, "silver_noop_refresh" -> tSilver2) ++ kpiTimes ++
      Seq("connector_snap_synth" -> tSnapSynth, "connector_relay" -> tConnector,
        "connector_spine" -> tConnectorSpine))
      .map { case (k, v) => s"""\"$k\":${math.round(v * 1000) / 1000.0}""" }
    println(s"""{"metric":"gtfs_scale","obs_rows":$obsTotal,""" +
      s""""connector_snapshots":$nSnapshots,"connector_rows":$relayRows,""" +
      s""""connector_killed_at_batch":$killedAtBatch,""" +
      s""""connector_resume_batches":$resumeBatches,""" +
      s""""connector_spine_rows":$connectorSpineRows,"stages":{${stages.mkString(",")}}}""")
    spark.stop()
  }
}
