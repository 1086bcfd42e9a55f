package graft.gtfs

import java.time.{LocalDate, ZoneId}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
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
  * Scale design: a dashboard refresh is one Spark job for the nine
  * spine panels. Almost all of a panel's cost is the fixed cost of a
  * query (planning, code generation, job scheduling), not its data, so
  * the refresh runs as few queries as it can:
  *   - Dimensions. [[latestDim]] results (trips, routes, stops, and the
  *     schedule inside [[delaySpine]]) are collected once and served as
  *     local relations until their input changes: the store is keyed by
  *     the session, the canonical plan (a silver view's plan holds its
  *     watermark) and the input files. A dimension is joined on the
  *     driver or broadcast anyway, so it fits there.
  *   - The spine. [[delaySpine]] stays a lazy plan. On the partitions
  *     its observations' size estimate needs (one for an hour of a live
  *     feed) it joins the local schedule with no exchange.
  *   - The rollup. The first spine panel runs one aggregate over all
  *     seven grouping sets the panels need, sorted and collected
  *     ([[rollupOf]]). The sets are tagged rows of one `explode`, so on
  *     one partition the aggregate and its sort need no exchange either,
  *     and the whole refresh is one job. Each panel is then a slice of
  *     the collected rows, served as a local relation; the top-k panels
  *     and the panels that join a dimension finish on the driver.
  * Only `latestVehiclePositions` reads another table, in a job of its
  * own. The streaming duals keep the direct aggregates, which the
  * rollup shares ([[avgDelayMeasures]], [[onTime]]).
  */
object Kpi {

  private val paris = ZoneId.of("Europe/Paris")

  /** The bucket of the avg-delay and punctuality time series. */
  private val Bucket = "15 minutes"
  /** The bucket of the per-stop delay evolution. */
  private val StopBucket = "1 hour"
  /** An observation at most this late is on time (README.md:121). */
  private val OnTimeS = 300L
  /** Rows of a top-k panel. */
  private val TopK = 10

  /** A small LRU map. A value is computed outside the lock, so a Spark
    * job never blocks a lookup of another key; two threads that miss on
    * one key at once both compute it, and either result is kept.
    */
  private final class Store[K, V](capacity: Int) {
    private val entries = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = size() > capacity
    }
    def getOrElseUpdate(k: K)(v: => V): V =
      entries.synchronized(Option(entries.get(k))).getOrElse {
        val computed = v
        entries.synchronized(entries.put(k, computed))
        computed
      }
  }

  /** What a stored dimension depends on: its session, what was derived
    * (`use`), and its input's canonical plan (a silver view's plan holds
    * its watermark) and files.
    */
  private final case class InputKey(session: SparkSession, use: String, plan: LogicalPlan,
                                    files: Seq[String])

  /** A dimension collected once: as a local relation and as rows. */
  private final case class Stored(df: DataFrame, rows: Array[Row])

  private val stored = new Store[InputKey, Stored](16)

  /** `derive(input)` on a batch `input`, collected once and kept while the
    * input's session, plan and files stay the same. A hit costs a
    * canonical plan and a file list, no Spark job.
    */
  private def storedFor(input: DataFrame, use: String)(derive: DataFrame => DataFrame): Stored = {
    val spark = input.sparkSession
    stored.getOrElseUpdate(InputKey(spark, use, input.queryExecution.analyzed.canonicalized,
        input.inputFiles.toSeq.sorted)) {
      val df = derive(input)
      val rows = df.collect()
      Stored(spark.createDataFrame(rows.toSeq.asJava, df.schema), rows)
    }
  }

  /** The latest snapshot per business key, as a lazy plan. */
  private def latest(dim: DataFrame, keys: String*): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(Schemas.insertDateCol).desc)
    Batch.sizedByEstimate(dim).withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** The stored latest snapshot of a batch dimension. */
  private def storedLatest(dim: DataFrame, keys: String*): Stored =
    storedFor(dim, s"latest by ${keys.mkString(",")}")(latest(_, keys: _*))

  /** Daily re-appended dimensions (no MERGE in the reference —
    * SURVEY §7.4 hazard 5) → pick the latest snapshot per business key
    * before joining, so KPI joins don't fan out. On a batch input the
    * result is collected once per input (see "Scale design" above).
    */
  def latestDim(dim: DataFrame, keys: String*): DataFrame = storedLatest(dim, keys: _*).df

  /** The join spine: observed×scheduled with integral delay seconds
    * (SURVEY §7.4 hazard 7: round to whole seconds). The schedule is
    * silver's append-only history, so it is deduped to its latest
    * snapshot per (trip_id, stop_sequence) first: a second daily
    * static load must not double every KPI count.
    *
    * On a batch input the deduped schedule is a stored local relation,
    * and the join is a shuffled hash join on the partitions the
    * observations' size estimate needs: on one partition it plans no
    * exchange and no broadcast. On a streaming input the spine is a
    * stream-static join.
    */
  def delaySpine(observed: DataFrame, scheduled: DataFrame,
                 serviceDate: LocalDate): DataFrame = {
    val dayStartEpoch = serviceDate.atStartOfDay(paris).toEpochSecond
    val sched = storedFor(scheduled, "schedule") { schedule =>
      latest(schedule, "trip_id", "stop_sequence")
        .withColumn("sched_s", gtfsTimeToSeconds(col("intermediate_stop")))
        .select(col("trip_id"), col("stop_sequence").cast("long").as("stop_sequence"),
          col("stop_id").as("sched_stop_id"), col("sched_s"))
    }.df
    val obs = observed
      .filter(col("intermediate_stop").isNotNull)
      .select(col("trip_id"), col("stop_sequence"), col("stop_id"),
        col("intermediate_stop").as("obs_epoch"))
    val keys = Seq("trip_id", "stop_sequence")
    val joined =
      if (obs.isStreaming) obs.join(sched, keys)
      else Batch.sizedByEstimate(obs).join(Batch.sizedByEstimate(sched).hint("shuffle_hash"), keys)
    joined
      .withColumn("sched_epoch", lit(dayStartEpoch) + col("sched_s"))
      .withColumn("delay_s", (col("obs_epoch") - col("sched_epoch")).cast("long"))
      .withColumn("obs_ts", to_timestamp(col("obs_epoch")))
  }

  /** The avg-delay measures: mean `delay_s` and `n_obs`. */
  private def avgDelayMeasures: Seq[Column] =
    Seq(avg(col("delay_s")).as("avg_delay_s"), count(lit(1)).as("n_obs"))

  /** The punctuality measure: observations with delay ≤ `thresholdS`.
    * It stays integral, so a rate derives exactly from it in any engine.
    */
  private def onTime(thresholdS: Long): Column =
    sum(when(col("delay_s") <= thresholdS, 1L).otherwise(0L)).as("n_on_time")

  /** The avg-delay aggregate per `window(obs_ts, length, slide)`, after
    * any `keys`. The sliding panel and every streaming avg-delay feed
    * are this one aggregate: a tumbling bucket has slide = length,
    * which is the plan `window(obs_ts, length)` makes.
    */
  private[gtfs] def avgDelayPer(spine: DataFrame, length: String, slide: String,
                                keys: Column*): DataFrame =
    spine.groupBy(keys :+ window(col("obs_ts"), length, slide).as("w"): _*)
      .agg(avgDelayMeasures.head, avgDelayMeasures.tail: _*)
      .select(keys ++ Seq(col("w.start").as("bucket_start"), col("avg_delay_s"), col("n_obs")): _*)

  /** The punctuality aggregate: `n_obs` and `n_on_time` (delay ≤
    * `thresholdS`) per tumbling `bucket`.
    */
  private def punctualityPer(spine: DataFrame, thresholdS: Long, bucket: String): DataFrame =
    spine.groupBy(window(col("obs_ts"), bucket).as("w"))
      .agg(count(lit(1)).as("n_obs"), onTime(thresholdS))
      .select(col("w.start").as("bucket_start"), col("n_obs"), col("n_on_time"))

  /** The streaming preamble every streaming feed shares: the lazy
    * stream-static spine behind an event-time watermark of `lateness`.
    */
  private def watermarkedSpine(observedStream: DataFrame, scheduled: DataFrame,
                               serviceDate: LocalDate, lateness: String): DataFrame =
    delaySpine(observedStream, scheduled, serviceDate).withWatermark("obs_ts", lateness)

  // ---- the rollup ----

  /** One grouping set of the rollup: its tag and its key columns. */
  private final case class GroupingSet(id: Int, keys: Seq[String])
  private val OverTime = GroupingSet(0, Seq("bucket_start"))
  private val Overall = GroupingSet(1, Nil)
  private val PerTrip = GroupingSet(2, Seq("trip_id"))
  private val PerStop = GroupingSet(3, Seq("stop_id"))
  private val HourByDay = GroupingSet(4, Seq("isodow", "hh"))
  private val DelayMinute = GroupingSet(5, Seq("delay_min_bucket"))
  private val StopHour = GroupingSet(6, Seq("stop_id", "hour_start"))
  private val groupingSets = Seq(OverTime, Overall, PerTrip, PerStop, HourByDay, DelayMinute, StopHour)
  /** Every key column, in the rollup's sort order after the set tag. */
  private val rollupKeys =
    Seq("bucket_start", "trip_id", "stop_id", "isodow", "hh", "delay_min_bucket", "hour_start")

  /** The collected rollup of one spine: its rows, sorted by set tag then
    * keys (ascending, nulls first, as Spark sorts), and their schema.
    */
  private final class Rollup(rows: Array[Row], val schema: StructType) {
    private val set = schema.fieldIndex("set")
    def of(g: GroupingSet): Iterator[Row] = rows.iterator.filter(_.getInt(set) == g.id)
  }

  /** One rollup per spine object: a Dataset compares by reference. */
  private val rollups = new Store[DataFrame, Rollup](4)

  /** The rollup of a batch spine, computed by the first panel that asks
    * and reused by the rest: one aggregate over the seven grouping sets,
    * sorted and collected in one job. Each observation is repeated once
    * per set, tagged with the set's id and carrying only that set's keys
    * (the others null), so a set's rows never mix with another's, null
    * keys included. The two bucket columns come from separate
    * projections: Spark allows one `window` per projection.
    */
  private def rollupOf(spine: DataFrame): Rollup = {
    require(!spine.isStreaming, "the batch panels need a batch spine; use the streaming duals")
    rollups.getOrElseUpdate(spine) {
      val keyed = spine
        .withColumn("bucket_start", window(col("obs_ts"), Bucket).getField("start"))
        .withColumn("hour_start", window(col("obs_ts"), StopBucket).getField("start"))
        .withColumn("isodow", weekday(col("obs_ts")) + 1)
        .withColumn("hh", hour(col("obs_ts")))
        .withColumn("delay_min_bucket", floor(col("delay_s") / 60).cast("long"))
      val tagged = keyed.withColumn("set", explode(typedLit(groupingSets.map(_.id))))
        .select(col("set") +: rollupKeys.map { k =>
          when(col("set").isin(groupingSets.filter(_.keys.contains(k)).map(_.id): _*), col(k)).as(k)
        } :+ col("delay_s") :+ col("obs_epoch") :+ col("sched_s"): _*)
      val realS = max(col("obs_epoch")) - min(col("obs_epoch"))
      val schedS = max(col("sched_s")) - min(col("sched_s"))
      val measures = avgDelayMeasures ++ Seq(onTime(OnTimeS),
        sum(col("delay_s")).as("sum_delay_s"), count(col("delay_s")).as("n_delays"),
        max(col("obs_epoch")).as("last_obs_epoch"),
        realS.as("real_duration_s"), schedS.as("sched_duration_s"),
        (realS - schedS).as("deviation_s"))
      // The spine is a lookup on the schedule's unique key, so it holds at
      // most its observations' rows: its size is bounded by its largest
      // input, not by the product the optimizer estimates for a join.
      val spineBytes = spine.queryExecution.analyzed.collectLeaves().map(_.stats.sizeInBytes).max
      val rolled = tagged.coalesce(Batch.partitionsFor(spine.sparkSession, spineBytes))
        .groupBy(("set" +: rollupKeys).map(col): _*)
        .agg(measures.head, measures.tail: _*)
        .orderBy(("set" +: rollupKeys).map(col): _*)
      new Rollup(rolled.collect(), rolled.schema)
    }
  }

  /** A local relation of `rows` under `fields`. */
  private def local(spark: SparkSession, fields: Seq[StructField], rows: Iterator[Row]): DataFrame =
    spark.createDataFrame(rows.toList.asJava, StructType(fields))

  /** One grouping set's slice of the rollup: `columns` as (rollup name,
    * panel name), in the rollup's row order.
    */
  private def slice(spine: DataFrame, g: GroupingSet, columns: (String, String)*): DataFrame = {
    val r = rollupOf(spine)
    val idx = columns.map { case (from, _) => r.schema.fieldIndex(from) }
    local(spine.sparkSession, columns.map { case (from, to) => r.schema(from).copy(name = to) },
      r.of(g).map(row => Row.fromSeq(idx.map(row.get))))
  }

  private def same(names: String*): Seq[(String, String)] = names.map(n => n -> n)

  /** Spark's ascending order of a string key: nulls first, then UTF-8 bytes. */
  private val keyOrder: Ordering[String] = (a: String, b: String) =>
    if (a == null || b == null) java.lang.Boolean.compare(b == null, a == null)
    else UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))

  /** A top-k panel's order: `avg_delay_s` descending with nulls last,
    * then the key ascending.
    */
  private val worstFirst: Ordering[(String, java.lang.Double)] = (a, b) => {
    val byAvg =
      if (a._2 == null || b._2 == null) java.lang.Boolean.compare(a._2 == null, b._2 == null)
      else java.lang.Double.compare(b._2, a._2)
    if (byAvg != 0) byAvg else keyOrder.compare(a._1, b._1)
  }

  /** A stored dimension's `value` by its non-null `key`: what an
    * equi-join on `key` finds, as a null key joins nothing.
    */
  private def lookup(dim: Stored, key: String, value: String): Map[String, Any] = {
    val (k, v) = (dim.df.schema.fieldIndex(key), dim.df.schema.fieldIndex(value))
    dim.rows.iterator.filterNot(_.isNullAt(k)).map(r => r.getString(k) -> r.get(v)).toMap
  }

  /** README.md:120 — retard moyen dans le temps (15-minute buckets). */
  def avgDelayOverTime(spine: DataFrame): DataFrame =
    slice(spine, OverTime, same("bucket_start", "avg_delay_s", "n_obs"): _*)

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
                        serviceDate: LocalDate, bucket: String = Bucket,
                        lateness: String = "30 minutes"): DataFrame =
    avgDelayPer(watermarkedSpine(observedStream, scheduled, serviceDate, lateness), bucket, bucket)

  /** Sliding-window variant of [[avgDelayOverTime]] — a 15-minute
    * average re-evaluated every 5 minutes (the "rolling delay" the
    * dashboard refresh cadence implies). Each observation lands in
    * bucket/slide windows; Spark's `window(col, len, slide)` expands
    * that fan-out BEFORE the aggregate, so the shuffle carries
    * len/slide rows per observation — fine for small ratios (3 here),
    * the documented anti-shape for len ≫ slide (use a tumbling
    * pre-aggregate then a windowed sum instead). A direct aggregate
    * over the spine, not a rollup slice.
    */
  def slidingAvgDelay(spine: DataFrame, bucket: String = Bucket,
                      slide: String = "5 minutes"): DataFrame =
    avgDelayPer(spine, bucket, slide).orderBy(col("bucket_start"))

  /** Streaming form of [[slidingAvgDelay]] — same watermark regime as
    * [[streamingAvgDelay]]; a sliding window closes when the
    * watermark passes its END, so consecutive overlapping windows
    * emit as the watermark advances slide by slide. State is bounded
    * by (watermark horizon / slide) windows per key, not the stream.
    */
  def streamingSlidingAvgDelay(observedStream: DataFrame, scheduled: DataFrame,
                               serviceDate: LocalDate,
                               bucket: String = Bucket,
                               slide: String = "5 minutes",
                               lateness: String = "30 minutes"): DataFrame =
    avgDelayPer(watermarkedSpine(observedStream, scheduled, serviceDate, lateness), bucket, slide)

  /** README.md:121 — taux de ponctualité (delay ≤ [[OnTimeS]]): one
    * row, (null, 0) over an empty spine. The rate is `n_on_time /
    * n_obs`, which is the mean of the 0/1 on-time flags exactly.
    */
  def punctualityRate(spine: DataFrame): DataFrame = {
    val r = rollupOf(spine)
    val row = r.of(Overall).toSeq.headOption.fold(Row(null, 0L)) { o =>
      val n = o.getAs[Long]("n_obs")
      Row(o.getAs[Long]("n_on_time").toDouble / n, n)
    }
    local(spine.sparkSession, Seq(StructField("punctuality_rate", DoubleType),
      r.schema("n_obs")), Iterator(row))
  }

  /** README.md:121 as a time series — the punctuality rate per
    * event-time bucket (the dashboard's trend line, vs
    * [[punctualityRate]]'s headline scalar), as (n_obs, n_on_time).
    */
  def punctualityOverTime(spine: DataFrame): DataFrame =
    slice(spine, OverTime, same("bucket_start", "n_obs", "n_on_time"): _*)

  /** Streaming form of [[punctualityOverTime]] — same stream-static
    * spine and watermark regime as [[streamingAvgDelay]] (state
    * bounded by the watermark horizon; append mode emits each window
    * exactly once when it closes). Emits the integral counts only:
    * the consumer derives the rate, so no float crosses the sink.
    * StreamingKpiSpec pins streaming ≡ batch on closed windows.
    */
  def streamingPunctuality(observedStream: DataFrame, scheduled: DataFrame,
                           serviceDate: LocalDate, thresholdS: Long = OnTimeS,
                           bucket: String = Bucket,
                           lateness: String = "30 minutes"): DataFrame =
    punctualityPer(watermarkedSpine(observedStream, scheduled, serviceDate, lateness),
      thresholdS, bucket)

  /** README.md:122 — lignes les plus en retard (top-k, named). The
    * per-trip slice rolls up to routes through the trips dimension:
    * observations of a trip missing from it drop out, as an inner join
    * drops them. A route's mean is its trips' summed delays over their
    * count, which equals Spark's `avg` while |Σ delay_s| < 2^53.
    */
  def topDelayedRoutes(spine: DataFrame, trips: DataFrame, routes: DataFrame): DataFrame = {
    val r = rollupOf(spine)
    val (tripDim, routeDim) = (storedLatest(trips, "trip_id"), storedLatest(routes, "route_id"))
    val routeOf = lookup(tripDim, "trip_id", "route_id")
    val names = lookup(routeDim, "route_id", "route_long_name")
    val perRoute = r.of(PerTrip).flatMap { t =>
      routeOf.get(t.getAs[String]("trip_id")).map(route =>
        route.asInstanceOf[String] ->
          ((t.getAs[Long]("sum_delay_s"), t.getAs[Long]("n_delays"), t.getAs[Long]("n_obs"))))
    }.toSeq.groupMapReduce(_._1)(_._2) { case ((s1, d1, n1), (s2, d2, n2)) => (s1 + s2, d1 + d2, n1 + n2) }
    val ranked = perRoute.toSeq.map { case (route, (s, d, n)) =>
      (route, if (d == 0) null else java.lang.Double.valueOf(s.toDouble / d), n)
    }.sortBy(t => (t._1, t._2))(worstFirst).take(TopK)
    local(spine.sparkSession, Seq(tripDim.df.schema("route_id"), r.schema("avg_delay_s"),
        r.schema("n_obs"), routeDim.df.schema("route_long_name")),
      ranked.iterator.map { case (route, a, n) => Row(route, a, n, names.getOrElse(route, null)) })
  }

  /** README.md:123 — top arrêts problématiques. */
  def topProblemStops(spine: DataFrame, stops: DataFrame): DataFrame = {
    val r = rollupOf(spine)
    val stopDim = storedLatest(stops, "stop_id")
    val names = lookup(stopDim, "stop_id", "stop_name")
    val ranked = r.of(PerStop).toSeq
      .sortBy(s => (s.getAs[String]("stop_id"), s.getAs[java.lang.Double]("avg_delay_s")))(worstFirst)
      .take(TopK)
    local(spine.sparkSession, Seq(r.schema("stop_id"), r.schema("avg_delay_s"), r.schema("n_obs"),
        stopDim.df.schema("stop_name")),
      ranked.iterator.map { s =>
        val id = s.getAs[String]("stop_id")
        Row(id, s.getAs[java.lang.Double]("avg_delay_s"), s.getAs[Long]("n_obs"), names.getOrElse(id, null))
      })
  }

  /** README.md:124 — heatmap heures × jours. */
  def delayHeatmap(spine: DataFrame): DataFrame =
    slice(spine, HourByDay, same("isodow", "hh", "avg_delay_s", "n_obs"): _*)

  /** README.md:125 — distribution des retards (1-minute buckets). */
  def delayDistribution(spine: DataFrame): DataFrame =
    slice(spine, DelayMinute, same("delay_min_bucket", "n_obs"): _*)

  /** README.md:126 — temps de parcours réel vs théorique per trip. */
  def travelTimeRealVsTheoretical(spine: DataFrame): DataFrame =
    slice(spine, PerTrip, same("trip_id", "real_duration_s", "sched_duration_s") ++
      Seq("n_obs" -> "n_stops", "deviation_s" -> "deviation_s"): _*)

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

  /** README.md:128 — carte des arrêts avec état de service: every stop
    * of the latest stops dimension with its per-stop slice; a stop
    * never observed (left anti semantics) reads 'no data'
    * (README.md:138) with `n_obs` 0.
    */
  def stopsServiceState(spine: DataFrame, stops: DataFrame): DataFrame = {
    val r = rollupOf(spine)
    val stopDim = storedLatest(stops, "stop_id")
    val dimFields = Seq("stop_id", "stop_name", "stop_lat", "stop_lon").map(stopDim.df.schema(_))
    val idx = dimFields.map(f => stopDim.df.schema.fieldIndex(f.name))
    val observed = r.of(PerStop).filterNot(_.isNullAt(r.schema.fieldIndex("stop_id")))
      .map(s => s.getAs[String]("stop_id") -> s).toMap
    val rows = stopDim.rows.sortBy(_.getString(idx.head))(keyOrder).iterator.map { d =>
      val o = observed.get(d.getString(idx.head))
      Row.fromSeq(idx.map(d.get) ++ Seq(o.fold(0L)(_.getAs[Long]("n_obs")),
        o.map(_.getAs[java.lang.Double]("avg_delay_s")).orNull,
        o.map(_.getAs[Any]("last_obs_epoch")).orNull,
        if (o.isEmpty) "no data" else "active"))
    }
    local(spine.sparkSession, dimFields ++ Seq(
      StructField("n_obs", LongType, nullable = false), r.schema("avg_delay_s"),
      r.schema("last_obs_epoch"), StructField("service_state", StringType, nullable = false)), rows)
  }

  /** README.md:129 — évolution du retard par arrêt (hourly buckets). */
  def delayEvolutionPerStop(spine: DataFrame): DataFrame =
    slice(spine, StopHour, Seq("stop_id" -> "stop_id", "hour_start" -> "bucket_start",
      "avg_delay_s" -> "avg_delay_s", "n_obs" -> "n_obs"): _*)
}
