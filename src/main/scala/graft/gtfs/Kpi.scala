package graft.gtfs

import java.time.{LocalDate, ZoneId}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GtfsTime.gtfsTimeToSeconds

/** The declared KPI layer (README.md:118-129; SURVEY.md §2.12) — the
  * analytics the reference computes in uncommitted Snowflake views.
  *
  * Delay = RT observed epoch (trip_stop_times_silver.intermediate_stop,
  * UTC seconds) − scheduled service-day time
  * (stop_times_static_silver.intermediate_stop, GTFS `H+:MM:SS` string
  * parsed by the native GtfsTimeToSeconds expression) anchored to the
  * service date's Paris midnight. Join spine: (trip_id, stop_sequence).
  *
  * Scale design: one dashboard refresh builds the spine once.
  * [[delaySpine]] dedups the schedule to its latest snapshot, joins
  * the observations to it, materializes the result with a local
  * checkpoint (counting its rows on the way) and coalesces it to the
  * partitions its measured size needs: one for an hour of a live
  * feed. Every panel then reads the materialized spine, and a panel
  * over a one-partition spine plans no Exchange at all. Dimensions
  * (routes ~100 rows, stops ~3k, trips ~50k) and vehicle positions
  * are sized the same way from their scan's size estimate before
  * their latest-snapshot window, so that window shuffles nothing.
  * Top-k is TakeOrderedAndProject, not a full sort.
  */
object Kpi {

  private val paris = ZoneId.of("Europe/Paris")

  /** Daily re-appended dimensions (no MERGE in the reference —
    * SURVEY §7.4 hazard 5) → pick the latest snapshot per business key
    * before joining, so KPI joins don't fan out.
    */
  def latestDim(dim: DataFrame, keys: String*): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(Schemas.insertDateCol).desc)
    Batch.sizedByEstimate(dim).withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Materializes a batch result once and coalesces it to the
    * partitions its measured size needs. The row count comes from an
    * `Observation` on the checkpoint's own job. The size is measured,
    * not estimated: the optimizer estimates a join as the product of
    * its inputs, which never reads as small. The coalesce comes after
    * the checkpoint, because a checkpointed relation reports unknown
    * partitioning even when it has one partition.
    */
  private def materialized(df: DataFrame): DataFrame = {
    val rows = Observation()
    val done = df.observe(rows, count(lit(1)).as("rows")).localCheckpoint()
    val rowBytes = 8L + df.schema.defaultSize // the planner's row-width rule
    done.coalesce(Batch.partitionsFor(df.sparkSession,
      BigInt(rows.get("rows").asInstanceOf[Long]) * rowBytes))
  }

  /** The join spine: observed×scheduled with integral delay seconds
    * (SURVEY §7.4 hazard 7: round to whole seconds). The schedule is
    * silver's append-only history, so it is deduped to its latest
    * snapshot per (trip_id, stop_sequence) first: a second daily
    * static load must not double every KPI count.
    *
    * On a batch input the spine is computed here, once, and every
    * panel reads the result (see "Scale design" above). On a streaming
    * input it stays a lazy plan, a stream-static join.
    */
  def delaySpine(observed: DataFrame, scheduled: DataFrame,
                 serviceDate: LocalDate): DataFrame = {
    val dayStartEpoch = serviceDate.atStartOfDay(paris).toEpochSecond
    val sched = latestDim(scheduled, "trip_id", "stop_sequence")
      .withColumn("sched_s", gtfsTimeToSeconds(col("intermediate_stop")))
      .select(col("trip_id"), col("stop_sequence").cast("long").as("stop_sequence"),
        col("stop_id").as("sched_stop_id"), col("sched_s"))
    val spine = observed
      .filter(col("intermediate_stop").isNotNull)
      .select(col("trip_id"), col("stop_sequence"), col("stop_id"),
        col("intermediate_stop").as("obs_epoch"))
      .join(sched, Seq("trip_id", "stop_sequence"))
      .withColumn("sched_epoch", lit(dayStartEpoch) + col("sched_s"))
      .withColumn("delay_s", (col("obs_epoch") - col("sched_epoch")).cast("long"))
      .withColumn("obs_ts", to_timestamp(col("obs_epoch")))
    if (spine.isStreaming) spine else materialized(spine)
  }

  /** README.md:120 — retard moyen dans le temps (15-minute buckets). */
  def avgDelayOverTime(spine: DataFrame, bucket: String = "15 minutes"): DataFrame =
    spine.groupBy(window(col("obs_ts"), bucket).as("w"))
      .agg(avg(col("delay_s")).as("avg_delay_s"), count(lit(1)).as("n_obs"))
      .select(col("w.start").as("bucket_start"), col("avg_delay_s"), col("n_obs"))
      .orderBy(col("bucket_start"))

  /** Streaming form of README.md:120 — the reference recomputes its
    * dashboard from 2-minute RT snapshots, which in Spark is this:
    * the observed stop events arrive as a STREAM, the schedule joins
    * as a static broadcast dim (stream-static join — no state), and
    * the 15-minute average-delay windows aggregate on event time
    * behind a watermark, so late snapshots within `lateness` still
    * land in their window and state is bounded by the watermark
    * horizon, not the stream length. Append-mode semantics: a window
    * emits exactly once, when the watermark closes it — the
    * incremental dashboard feed. StreamingKpiSpec pins streaming ≡
    * batch ([[avgDelayOverTime]]) on closed windows.
    */
  def streamingAvgDelay(observedStream: DataFrame, scheduled: DataFrame,
                        serviceDate: LocalDate, bucket: String = "15 minutes",
                        lateness: String = "30 minutes"): DataFrame =
    delaySpine(observedStream, scheduled, serviceDate)
      .withWatermark("obs_ts", lateness)
      .groupBy(window(col("obs_ts"), bucket).as("w"))
      .agg(avg(col("delay_s")).as("avg_delay_s"), count(lit(1)).as("n_obs"))
      .select(col("w.start").as("bucket_start"), col("avg_delay_s"), col("n_obs"))

  /** Sliding-window variant of [[avgDelayOverTime]] — a 15-minute
    * average re-evaluated every 5 minutes (the "rolling delay" the
    * dashboard refresh cadence implies). Each observation lands in
    * bucket/slide windows; Spark's `window(col, len, slide)` expands
    * that fan-out BEFORE the aggregate, so the shuffle carries
    * len/slide rows per observation — fine for small ratios (3 here),
    * the documented anti-shape for len ≫ slide (use a tumbling
    * pre-aggregate then a windowed sum instead).
    */
  def slidingAvgDelay(spine: DataFrame, bucket: String = "15 minutes",
                      slide: String = "5 minutes"): DataFrame =
    spine.groupBy(window(col("obs_ts"), bucket, slide).as("w"))
      .agg(avg(col("delay_s")).as("avg_delay_s"), count(lit(1)).as("n_obs"))
      .select(col("w.start").as("bucket_start"), col("avg_delay_s"), col("n_obs"))
      .orderBy(col("bucket_start"))

  /** Streaming form of [[slidingAvgDelay]] — same watermark regime as
    * [[streamingAvgDelay]]; a sliding window closes when the
    * watermark passes its END, so consecutive overlapping windows
    * emit as the watermark advances slide by slide. State is bounded
    * by (watermark horizon / slide) windows per key, not the stream.
    */
  def streamingSlidingAvgDelay(observedStream: DataFrame, scheduled: DataFrame,
                               serviceDate: LocalDate,
                               bucket: String = "15 minutes",
                               slide: String = "5 minutes",
                               lateness: String = "30 minutes"): DataFrame =
    delaySpine(observedStream, scheduled, serviceDate)
      .withWatermark("obs_ts", lateness)
      .groupBy(window(col("obs_ts"), bucket, slide).as("w"))
      .agg(avg(col("delay_s")).as("avg_delay_s"), count(lit(1)).as("n_obs"))
      .select(col("w.start").as("bucket_start"), col("avg_delay_s"), col("n_obs"))

  /** README.md:121 — taux de ponctualité (≤ threshold seconds). */
  def punctualityRate(spine: DataFrame, thresholdS: Long = 300L): DataFrame =
    spine.agg(
      avg(when(col("delay_s") <= thresholdS, 1.0).otherwise(0.0)).as("punctuality_rate"),
      count(lit(1)).as("n_obs"))

  /** README.md:121 as a time series — the punctuality rate per
    * event-time bucket (the dashboard's trend line, vs
    * [[punctualityRate]]'s headline scalar). Counts stay integral so
    * the rate derives exactly from (n_on_time, n_obs) in any engine.
    */
  def punctualityOverTime(spine: DataFrame, thresholdS: Long = 300L,
                          bucket: String = "15 minutes"): DataFrame =
    spine.groupBy(window(col("obs_ts"), bucket).as("w"))
      .agg(count(lit(1)).as("n_obs"),
        sum(when(col("delay_s") <= thresholdS, 1L).otherwise(0L)).as("n_on_time"))
      .select(col("w.start").as("bucket_start"), col("n_obs"), col("n_on_time"))
      .orderBy(col("bucket_start"))

  /** Streaming form of [[punctualityOverTime]] — same stream-static
    * spine and watermark regime as [[streamingAvgDelay]] (state
    * bounded by the watermark horizon; append mode emits each window
    * exactly once when it closes). Emits the integral counts only:
    * the consumer derives the rate, so no float crosses the sink.
    * StreamingKpiSpec pins streaming ≡ batch on closed windows.
    */
  def streamingPunctuality(observedStream: DataFrame, scheduled: DataFrame,
                           serviceDate: LocalDate, thresholdS: Long = 300L,
                           bucket: String = "15 minutes",
                           lateness: String = "30 minutes"): DataFrame =
    delaySpine(observedStream, scheduled, serviceDate)
      .withWatermark("obs_ts", lateness)
      .groupBy(window(col("obs_ts"), bucket).as("w"))
      .agg(count(lit(1)).as("n_obs"),
        sum(when(col("delay_s") <= thresholdS, 1L).otherwise(0L)).as("n_on_time"))
      .select(col("w.start").as("bucket_start"), col("n_obs"), col("n_on_time"))

  /** README.md:122 — lignes les plus en retard (top-k, named). */
  def topDelayedRoutes(spine: DataFrame, trips: DataFrame, routes: DataFrame,
                       k: Int = 10): DataFrame = {
    val tripDim = broadcast(latestDim(trips, "trip_id").select("trip_id", "route_id"))
    val routeDim = broadcast(latestDim(routes, "route_id")
      .select(col("route_id"), col("route_long_name")))
    spine.join(tripDim, "trip_id")
      .groupBy(col("route_id"))
      .agg(avg(col("delay_s")).as("avg_delay_s"), count(lit(1)).as("n_obs"))
      .join(routeDim, Seq("route_id"), "left")
      .orderBy(col("avg_delay_s").desc, col("route_id"))
      .limit(k)
  }

  /** README.md:123 — top arrêts problématiques. */
  def topProblemStops(spine: DataFrame, stops: DataFrame, k: Int = 10): DataFrame = {
    val stopDim = broadcast(latestDim(stops, "stop_id").select("stop_id", "stop_name"))
    spine.groupBy(col("stop_id"))
      .agg(avg(col("delay_s")).as("avg_delay_s"), count(lit(1)).as("n_obs"))
      .join(stopDim, Seq("stop_id"), "left")
      .orderBy(col("avg_delay_s").desc, col("stop_id"))
      .limit(k)
  }

  /** README.md:124 — heatmap heures × jours. */
  def delayHeatmap(spine: DataFrame): DataFrame =
    spine.groupBy((weekday(col("obs_ts")) + 1).as("isodow"),
        hour(col("obs_ts")).as("hh"))
      .agg(avg(col("delay_s")).as("avg_delay_s"), count(lit(1)).as("n_obs"))
      .orderBy(col("isodow"), col("hh"))

  /** README.md:125 — distribution des retards (1-minute buckets). */
  def delayDistribution(spine: DataFrame): DataFrame =
    spine.groupBy(floor(col("delay_s") / 60).cast("long").as("delay_min_bucket"))
      .agg(count(lit(1)).as("n_obs"))
      .orderBy(col("delay_min_bucket"))

  /** README.md:126 — temps de parcours réel vs théorique per trip. */
  def travelTimeRealVsTheoretical(spine: DataFrame): DataFrame =
    spine.groupBy(col("trip_id"))
      .agg(
        (max(col("obs_epoch")) - min(col("obs_epoch"))).as("real_duration_s"),
        (max(col("sched_s")) - min(col("sched_s"))).as("sched_duration_s"),
        count(lit(1)).as("n_stops"))
      .withColumn("deviation_s", col("real_duration_s") - col("sched_duration_s"))
      .orderBy(col("trip_id"))

  /** README.md:127 — carte des bus en temps réel: latest position per
    * vehicle (ranking window, not an as-of join — SURVEY §2.5).
    */
  def latestVehiclePositions(vehiclePositions: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vehicle_id"))
      .orderBy(col("timestamp_epoch").desc, col(Schemas.insertDateCol).desc)
    Batch.sizedByEstimate(vehiclePositions.filter(col("vehicle_id").isNotNull))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .orderBy(col("vehicle_id"))
  }

  /** README.md:128 — carte des arrêts avec état de service: left join
    * stops × observations; never-observed stops (left anti semantics)
    * surface as 'no data' (README.md:138). The per-stop rollup holds at
    * most one row per stop, so it is broadcast: neither side shuffles.
    */
  def stopsServiceState(spine: DataFrame, stops: DataFrame): DataFrame = {
    val stopDim = latestDim(stops, "stop_id")
      .select(col("stop_id"), col("stop_name"), col("stop_lat"), col("stop_lon"))
    val observed = spine.groupBy(col("stop_id"))
      .agg(count(lit(1)).as("n_obs"), avg(col("delay_s")).as("avg_delay_s"),
        max(col("obs_epoch")).as("last_obs_epoch"))
    stopDim.join(broadcast(observed), Seq("stop_id"), "left")
      .withColumn("service_state",
        when(col("n_obs").isNull, lit("no data")).otherwise(lit("active")))
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
      .orderBy(col("stop_id"))
  }

  /** README.md:129 — évolution du retard par arrêt (hourly buckets). */
  def delayEvolutionPerStop(spine: DataFrame, bucket: String = "1 hour"): DataFrame =
    spine.groupBy(col("stop_id"), window(col("obs_ts"), bucket).as("w"))
      .agg(avg(col("delay_s")).as("avg_delay_s"), count(lit(1)).as("n_obs"))
      .select(col("stop_id"), col("w.start").as("bucket_start"),
        col("avg_delay_s"), col("n_obs"))
      .orderBy(col("stop_id"), col("bucket_start"))
}
