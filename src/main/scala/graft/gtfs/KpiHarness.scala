package graft.gtfs

import java.time.{LocalDate, ZoneId}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.load

/** Oracle-verified harness for the GTFS KPI layer (README.md:118-129).
  *
  * [[Kpi]] is the reference's headline analytics, but its inputs are a
  * GTFS warehouse the correctness harness does not ship — until round
  * 5 it was verified only by hand-computed ScalaTest fixtures
  * (PipelineSpec), outside the driver's hard DuckDB signal. This
  * object closes that gap: it derives a deterministic GTFS-shaped
  * warehouse FROM the harness `events` table with pure integer
  * arithmetic (every derivation is replayable as ANSI SQL), runs the
  * REAL `Kpi` functions over it, and ships the DuckDB replay as the
  * oracle. A regression anywhere in `Kpi.scala` — the delay spine, the
  * latest-snapshot dim dedup, the GtfsTimeToSeconds parse (the fixture
  * round-trips schedule times through the `H+:MM:SS` string form,
  * including >24h service-day times), any KPI aggregate — now
  * hash-mismatches in CORRECTNESS.
  *
  * Determinism rules: the pseudo-random delay is a Knuth-style integer
  * hash of event_id (no RNG); doubles only ever come from exact
  * integer-valued sums (avg) rounded to e6/bp; fixture lat/lon use
  * exact binary fractions (0.25/0.125) so IEEE arithmetic is
  * bit-identical in both engines; timestamps never leave the library
  * (epoch BIGINTs only — Tables.epochS rationale).
  */
object KpiHarness {

  private val paris = ZoneId.of("Europe/Paris")

  /** Fixed service date; its Paris midnight anchors the schedule. */
  val ServiceDate: LocalDate = LocalDate.of(2024, 3, 15)
  val DayStartEpoch: Long = ServiceDate.atStartOfDay(paris).toEpochSecond

  // fixture moduli: 40 trips over 8 routes; 15 stop sequences; 50
  // observed stops out of an 80-stop dim (30 surface as 'no data')
  final val Trips = 40
  final val Routes = 8
  final val Seqs = 15
  final val ObsStops = 50
  final val DimStops = 80

  /** sched_s(tn, seq) = 79200 + tn·600 + seq·300 — starts at 22:00 so
    * late trips cross 24h (max 29:45:00), exercising the GTFS
    * service-day time regime end-to-end.
    */
  private def schedS(tn: Column, seq: Column): Column =
    lit(79200L) + tn * 600L + seq * 300L

  /** Deterministic pseudo-delay in [-300, 1499] s: Knuth multiplicative
    * hash of event_id — reproducible under any partitioning/retry, and
    * exactly replayable in SQL (`(event_id * 2654435761) % 1800 - 300`).
    */
  private def delayS(eventId: Column): Column =
    (eventId * lit(2654435761L)) % 1800L - 300L

  private def tn(c: Column): Column = c % Trips
  private def seqN(c: Column): Column = c % Seqs + 1

  /** trip_stop_times_silver-shaped observations: one per event.
    * intermediate_stop = observed epoch = service-day anchor +
    * schedule + pseudo-delay.
    */
  def observedFixture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "events").select(
      concat(lit("trip_"), tn($"user_id").cast("string")).as("trip_id"),
      seqN($"event_id").cast("long").as("stop_sequence"),
      concat(lit("stop_"), ($"event_id" % ObsStops).cast("string")).as("stop_id"),
      (lit(DayStartEpoch) + schedS(tn($"user_id"), seqN($"event_id"))
        + delayS($"event_id")).as("intermediate_stop"))
  }

  /** stop_times_static_silver-shaped schedule: one row per distinct
    * (trip, stop_sequence), with the time as the GTFS `H+:MM:SS`
    * string [[Kpi.delaySpine]] parses natively — the spine's sched_s
    * must round-trip back to the integer the oracle computes
    * arithmetically, so a GtfsTimeToSeconds regression breaks the hash.
    * One static load, stamped like the silver table's `insert_date`.
    */
  def scheduledFixture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "events")
      .select(tn($"user_id").as("tn"), seqN($"event_id").as("seq"))
      .distinct()
      .select(
        concat(lit("trip_"), $"tn".cast("string")).as("trip_id"),
        $"seq".cast("long").as("stop_sequence"),
        concat(lit("stop_"), $"seq".cast("string")).as("stop_id"),
        format_string("%d:%02d:%02d",
          (schedS($"tn", $"seq") / 3600L).cast("int"),
          (schedS($"tn", $"seq") % 3600L / 60L).cast("int"),
          (schedS($"tn", $"seq") % 60L).cast("int")).as("intermediate_stop"),
        currentBatch.as(Schemas.insertDateCol))
  }

  private val staleBatch = lit("2024-03-14 06:00:00").cast("timestamp")
  private val currentBatch = lit("2024-03-15 06:00:00").cast("timestamp")

  /** trips dim with TWO daily snapshots per key (the reference
    * re-appends dims daily — no MERGE): the stale batch carries a
    * WRONG route mapping, so any KPI that joins trips without
    * [[Kpi.latestDim]]'s latest-snapshot dedup produces wrong routes
    * and fails the oracle.
    */
  def tripsFixture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = load(spark, dir, "events").select(tn($"user_id").as("tn")).distinct()
    t.select(concat(lit("trip_"), $"tn".cast("string")).as("trip_id"),
        concat(lit("route_"), (($"tn" + 1) % Routes).cast("string")).as("route_id"),
        staleBatch.as(Schemas.insertDateCol))
      .unionByName(
        t.select(concat(lit("trip_"), $"tn".cast("string")).as("trip_id"),
          concat(lit("route_"), ($"tn" % Routes).cast("string")).as("route_id"),
          currentBatch.as(Schemas.insertDateCol)))
  }

  def routesFixture(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val r = spark.range(Routes)
    r.select(concat(lit("route_"), $"id".cast("string")).as("route_id"),
        concat(lit("OLD Line "), $"id".cast("string")).as("route_long_name"),
        staleBatch.as(Schemas.insertDateCol))
      .unionByName(
        r.select(concat(lit("route_"), $"id".cast("string")).as("route_id"),
          concat(lit("Line "), $"id".cast("string")).as("route_long_name"),
          currentBatch.as(Schemas.insertDateCol)))
  }

  def stopsFixture(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val s = spark.range(DimStops)
    // lat/lon use exact binary fractions: id·0.25 and id·0.125 are
    // exact doubles, so both engines emit bit-identical values
    s.select(concat(lit("stop_"), $"id".cast("string")).as("stop_id"),
        concat(lit("OLD Stop "), $"id".cast("string")).as("stop_name"),
        (lit(40.0) + $"id" * 0.25).as("stop_lat"),
        (lit(2.0) + $"id" * 0.125).as("stop_lon"),
        staleBatch.as(Schemas.insertDateCol))
      .unionByName(
        s.select(concat(lit("stop_"), $"id".cast("string")).as("stop_id"),
          concat(lit("Stop "), $"id".cast("string")).as("stop_name"),
          (lit(40.0) + $"id" * 0.25).as("stop_lat"),
          (lit(2.0) + $"id" * 0.125).as("stop_lon"),
          currentBatch.as(Schemas.insertDateCol)))
  }

  /** vehicle_positions-shaped feed: timestamp_epoch = event_id (unique,
    * so "latest per vehicle" has exactly one winner), ~1 user in 29
    * emits a NULL vehicle id (exercises the KPI's null filter).
    */
  def vehiclePositionsFixture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "events").select(
      when($"user_id" % 29 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("veh_"), $"user_id".cast("string"))).as("vehicle_id"),
      concat(lit("trip_"), tn($"user_id").cast("string")).as("trip_id"),
      concat(lit("route_"), (tn($"user_id") % Routes).cast("string")).as("route_id"),
      (lit(40.0) + ($"event_id" % 100) * 0.25).as("latitude"),
      (lit(2.0) + ($"event_id" % 100) * 0.125).as("longitude"),
      ($"event_id" % 360).cast("long").as("bearing"),
      concat(lit("stop_"), ($"event_id" % ObsStops).cast("string")).as("stop_id"),
      $"event_id".as("timestamp_epoch"),
      currentBatch.as(Schemas.insertDateCol))
  }

  private def spine(spark: SparkSession, dir: String): DataFrame =
    Kpi.delaySpine(observedFixture(spark, dir), scheduledFixture(spark, dir),
      ServiceDate)

  private def e6(c: Column): Column = round(c * 1e6).cast("long")

  // ---------------------------------------------------------------- //

  def q178_kpi_delay_spine(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spine(spark, dir).select($"trip_id", $"stop_sequence", $"stop_id",
        $"obs_epoch".cast("long").as("obs_epoch"),
        $"sched_s".cast("long").as("sched_s"), $"delay_s")
      .orderBy($"trip_id", $"stop_sequence", $"obs_epoch", $"stop_id")
  }

  def q179_kpi_avg_delay_time(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Kpi.avgDelayOverTime(spine(spark, dir))
      .select(unix_timestamp($"bucket_start").as("bucket_epoch"),
        e6($"avg_delay_s").as("avg_delay_e6"), $"n_obs")
      .orderBy($"bucket_epoch")
  }

  def q180_kpi_punctuality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Kpi.punctualityRate(spine(spark, dir))
      .select(round($"punctuality_rate" * 10000).cast("long")
        .as("punctuality_bp"), $"n_obs")
  }

  def q181_kpi_top_routes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Kpi.topDelayedRoutes(spine(spark, dir), tripsFixture(spark, dir),
        routesFixture(spark))
      .select($"route_id", $"route_long_name",
        e6($"avg_delay_s").as("avg_delay_e6"), $"n_obs")
      .orderBy($"route_id")
  }

  def q182_kpi_heatmap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Kpi.delayHeatmap(spine(spark, dir))
      .select($"isodow".cast("long").as("isodow"), $"hh".cast("long").as("hh"),
        e6($"avg_delay_s").as("avg_delay_e6"), $"n_obs")
      .orderBy($"isodow", $"hh")
  }

  def q183_kpi_distribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Kpi.delayDistribution(spine(spark, dir))
      .select($"delay_min_bucket", $"n_obs").orderBy($"delay_min_bucket")
  }

  def q184_kpi_travel_time(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Kpi.travelTimeRealVsTheoretical(spine(spark, dir))
      .select($"trip_id", $"real_duration_s".cast("long").as("real_duration_s"),
        $"sched_duration_s".cast("long").as("sched_duration_s"),
        $"n_stops", $"deviation_s".cast("long").as("deviation_s"))
      .orderBy($"trip_id")
  }

  def q185_kpi_vehicle_positions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Kpi.latestVehiclePositions(vehiclePositionsFixture(spark, dir))
      .select($"vehicle_id", $"trip_id", $"route_id", $"latitude",
        $"longitude", $"bearing", $"stop_id", $"timestamp_epoch")
      .orderBy($"vehicle_id")
  }

  def q186_kpi_stops_state(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Kpi.stopsServiceState(spine(spark, dir), stopsFixture(spark))
      .select($"stop_id", $"stop_name", $"stop_lat", $"stop_lon", $"n_obs",
        coalesce(e6($"avg_delay_s"), lit(-1L)).as("avg_delay_e6"),
        coalesce($"last_obs_epoch".cast("long"), lit(-1L)).as("last_obs_epoch"),
        $"service_state")
      .orderBy($"stop_id")
  }

  def q187_kpi_delay_evolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Kpi.delayEvolutionPerStop(spine(spark, dir))
      .select($"stop_id", unix_timestamp($"bucket_start").as("bucket_epoch"),
        e6($"avg_delay_s").as("avg_delay_e6"), $"n_obs")
      .orderBy($"stop_id", $"bucket_epoch")
  }

  def q188_kpi_problem_stops(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Kpi.topProblemStops(spine(spark, dir), stopsFixture(spark))
      .select($"stop_id", $"stop_name",
        e6($"avg_delay_s").as("avg_delay_e6"), $"n_obs")
      .orderBy($"stop_id")
  }

  def q189_kpi_punctuality_time(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Kpi.punctualityOverTime(spine(spark, dir))
      .select(unix_timestamp($"bucket_start").as("bucket_epoch"),
        $"n_obs", $"n_on_time")
      .orderBy($"bucket_epoch")
  }

  def q190_kpi_sliding_delay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Kpi.slidingAvgDelay(spine(spark, dir))
      .select(unix_timestamp($"bucket_start").as("bucket_epoch"),
        e6($"avg_delay_s").as("avg_delay_e6"), $"n_obs")
      .orderBy($"bucket_epoch")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q178_kpi_delay_spine" -> q178_kpi_delay_spine,
    "q179_kpi_avg_delay_time" -> q179_kpi_avg_delay_time,
    "q180_kpi_punctuality" -> q180_kpi_punctuality,
    "q181_kpi_top_routes" -> q181_kpi_top_routes,
    "q182_kpi_heatmap" -> q182_kpi_heatmap,
    "q183_kpi_distribution" -> q183_kpi_distribution,
    "q184_kpi_travel_time" -> q184_kpi_travel_time,
    "q185_kpi_vehicle_positions" -> q185_kpi_vehicle_positions,
    "q186_kpi_stops_state" -> q186_kpi_stops_state,
    "q187_kpi_delay_evolution" -> q187_kpi_delay_evolution,
    "q188_kpi_problem_stops" -> q188_kpi_problem_stops,
    "q189_kpi_punctuality_time" -> q189_kpi_punctuality_time,
    "q190_kpi_sliding_delay" -> q190_kpi_sliding_delay)

  /** Shared oracle CTE: the spine, derived with the same integer
    * arithmetic the fixtures use.
    */
  private val SpineSql =
    s"""SELECT 'trip_' || CAST(user_id % $Trips AS VARCHAR) AS trip_id,
       |    CAST(event_id % $Seqs + 1 AS BIGINT) AS stop_sequence,
       |    'stop_' || CAST(event_id % $ObsStops AS VARCHAR) AS stop_id,
       |    CAST(79200 + (user_id % $Trips) * 600
       |      + (event_id % $Seqs + 1) * 300 AS BIGINT) AS sched_s,
       |    CAST($DayStartEpoch + 79200 + (user_id % $Trips) * 600
       |      + (event_id % $Seqs + 1) * 300
       |      + (event_id * 2654435761) % 1800 - 300 AS BIGINT) AS obs_epoch,
       |    CAST((event_id * 2654435761) % 1800 - 300 AS BIGINT) AS delay_s
       |  FROM events""".stripMargin

  val oracle: Map[String, String] = Map(
    "q178_kpi_delay_spine" ->
      s"""WITH s AS ($SpineSql)
         |SELECT trip_id, stop_sequence, stop_id, obs_epoch, sched_s, delay_s
         |FROM s ORDER BY trip_id, stop_sequence, obs_epoch, stop_id""".stripMargin,
    "q179_kpi_avg_delay_time" ->
      s"""WITH s AS ($SpineSql)
         |SELECT CAST(FLOOR(obs_epoch / 900) * 900 AS BIGINT) AS bucket_epoch,
         |  CAST(ROUND(AVG(CAST(delay_s AS DOUBLE)) * 1e6) AS BIGINT) AS avg_delay_e6,
         |  CAST(COUNT(*) AS BIGINT) AS n_obs
         |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "q180_kpi_punctuality" ->
      s"""WITH s AS ($SpineSql)
         |SELECT CAST(ROUND(AVG(CASE WHEN delay_s <= 300
         |    THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) * 10000)
         |    AS BIGINT) AS punctuality_bp,
         |  CAST(COUNT(*) AS BIGINT) AS n_obs
         |FROM s""".stripMargin,
    "q181_kpi_top_routes" ->
      s"""WITH s AS ($SpineSql),
         |agg AS (SELECT 'route_' || CAST((CAST(substring(trip_id, 6)
         |      AS BIGINT)) % $Routes AS VARCHAR) AS route_id,
         |    CAST(ROUND(AVG(CAST(delay_s AS DOUBLE)) * 1e6) AS BIGINT) AS avg_delay_e6,
         |    CAST(COUNT(*) AS BIGINT) AS n_obs
         |  FROM s GROUP BY 1)
         |SELECT route_id, 'Line ' || substring(route_id, 7) AS route_long_name,
         |  avg_delay_e6, n_obs
         |FROM agg ORDER BY route_id""".stripMargin,
    "q182_kpi_heatmap" ->
      s"""WITH s AS ($SpineSql)
         |SELECT CAST((obs_epoch // 86400 + 3) % 7 + 1 AS BIGINT) AS isodow,
         |  CAST(obs_epoch % 86400 // 3600 AS BIGINT) AS hh,
         |  CAST(ROUND(AVG(CAST(delay_s AS DOUBLE)) * 1e6) AS BIGINT) AS avg_delay_e6,
         |  CAST(COUNT(*) AS BIGINT) AS n_obs
         |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q183_kpi_distribution" ->
      s"""WITH s AS ($SpineSql)
         |SELECT CAST(FLOOR(CAST(delay_s AS DOUBLE) / 60) AS BIGINT) AS delay_min_bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_obs
         |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "q184_kpi_travel_time" ->
      s"""WITH s AS ($SpineSql)
         |SELECT trip_id,
         |  CAST(MAX(obs_epoch) - MIN(obs_epoch) AS BIGINT) AS real_duration_s,
         |  CAST(MAX(sched_s) - MIN(sched_s) AS BIGINT) AS sched_duration_s,
         |  CAST(COUNT(*) AS BIGINT) AS n_stops,
         |  CAST((MAX(obs_epoch) - MIN(obs_epoch))
         |    - (MAX(sched_s) - MIN(sched_s)) AS BIGINT) AS deviation_s
         |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "q185_kpi_vehicle_positions" ->
      s"""WITH vp AS (SELECT
         |    CASE WHEN user_id % 29 = 0 THEN NULL
         |         ELSE 'veh_' || CAST(user_id AS VARCHAR) END AS vehicle_id,
         |    'trip_' || CAST(user_id % $Trips AS VARCHAR) AS trip_id,
         |    'route_' || CAST((user_id % $Trips) % $Routes AS VARCHAR) AS route_id,
         |    40.0 + (event_id % 100) * 0.25 AS latitude,
         |    2.0 + (event_id % 100) * 0.125 AS longitude,
         |    CAST(event_id % 360 AS BIGINT) AS bearing,
         |    'stop_' || CAST(event_id % $ObsStops AS VARCHAR) AS stop_id,
         |    event_id AS timestamp_epoch
         |  FROM events WHERE user_id % 29 <> 0),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vehicle_id
         |    ORDER BY timestamp_epoch DESC) AS rn FROM vp)
         |SELECT vehicle_id, trip_id, route_id, latitude, longitude, bearing,
         |  stop_id, timestamp_epoch
         |FROM r WHERE rn = 1 ORDER BY vehicle_id""".stripMargin,
    "q186_kpi_stops_state" ->
      s"""WITH s AS ($SpineSql),
         |obs AS (SELECT stop_id, CAST(COUNT(*) AS BIGINT) AS n_obs,
         |    CAST(ROUND(AVG(CAST(delay_s AS DOUBLE)) * 1e6) AS BIGINT) AS avg_delay_e6,
         |    CAST(MAX(obs_epoch) AS BIGINT) AS last_obs_epoch
         |  FROM s GROUP BY 1),
         |dim AS (SELECT 'stop_' || CAST(r.range AS VARCHAR) AS stop_id,
         |    'Stop ' || CAST(r.range AS VARCHAR) AS stop_name,
         |    40.0 + r.range * 0.25 AS stop_lat,
         |    2.0 + r.range * 0.125 AS stop_lon
         |  FROM range($DimStops) r)
         |SELECT dim.stop_id, dim.stop_name, dim.stop_lat, dim.stop_lon,
         |  COALESCE(obs.n_obs, 0) AS n_obs,
         |  COALESCE(obs.avg_delay_e6, -1) AS avg_delay_e6,
         |  COALESCE(obs.last_obs_epoch, -1) AS last_obs_epoch,
         |  CASE WHEN obs.n_obs IS NULL THEN 'no data' ELSE 'active' END
         |    AS service_state
         |FROM dim LEFT JOIN obs ON dim.stop_id = obs.stop_id
         |ORDER BY dim.stop_id""".stripMargin,
    "q187_kpi_delay_evolution" ->
      s"""WITH s AS ($SpineSql)
         |SELECT stop_id,
         |  CAST(FLOOR(obs_epoch / 3600) * 3600 AS BIGINT) AS bucket_epoch,
         |  CAST(ROUND(AVG(CAST(delay_s AS DOUBLE)) * 1e6) AS BIGINT) AS avg_delay_e6,
         |  CAST(COUNT(*) AS BIGINT) AS n_obs
         |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q188_kpi_problem_stops" ->
      s"""WITH s AS ($SpineSql),
         |agg AS (SELECT stop_id, AVG(CAST(delay_s AS DOUBLE)) AS avg_d,
         |    CAST(COUNT(*) AS BIGINT) AS n_obs
         |  FROM s GROUP BY 1),
         |top AS (SELECT * FROM agg ORDER BY avg_d DESC, stop_id LIMIT 10)
         |SELECT stop_id, 'Stop ' || substring(stop_id, 6) AS stop_name,
         |  CAST(ROUND(avg_d * 1e6) AS BIGINT) AS avg_delay_e6, n_obs
         |FROM top ORDER BY stop_id""".stripMargin,
    "q189_kpi_punctuality_time" ->
      s"""WITH s AS ($SpineSql)
         |SELECT CAST(FLOOR(obs_epoch / 900) * 900 AS BIGINT) AS bucket_epoch,
         |  CAST(COUNT(*) AS BIGINT) AS n_obs,
         |  CAST(SUM(CASE WHEN delay_s <= 300 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_on_time
         |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    // sliding windows replay as a 3-row offset table: the window
    // starts covering t are the slide multiples in (t-900, t]
    "q190_kpi_sliding_delay" ->
      s"""WITH s AS ($SpineSql)
         |SELECT CAST(FLOOR(obs_epoch / 300) * 300 - o.k * 300 AS BIGINT)
         |    AS bucket_epoch,
         |  CAST(ROUND(AVG(CAST(delay_s AS DOUBLE)) * 1e6) AS BIGINT)
         |    AS avg_delay_e6,
         |  CAST(COUNT(*) AS BIGINT) AS n_obs
         |FROM s CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS k) o
         |WHERE obs_epoch < FLOOR(obs_epoch / 300) * 300 - o.k * 300 + 900
         |GROUP BY 1 ORDER BY 1""".stripMargin)
}
