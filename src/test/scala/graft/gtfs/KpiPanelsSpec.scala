package graft.gtfs

import java.time.{LocalDate, LocalDateTime, ZoneId}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The nine spine panels are slices of one rollup. Each must return
  * what its direct aggregate over the spine returns: the same column
  * names, types and rows, in the same order. The direct aggregates
  * below are the panels' definitions written as one query each; they
  * are the oracle. The inputs cover an empty hour, one constant
  * observation, and a mixed hour with every awkward key: null stop and
  * route ids, a malformed scheduled time (a null delay), a trip missing
  * from the trips dimension, tied averages, keys whose UTF-8 order
  * differs from their UTF-16 order, and more stops and routes than a
  * top-k panel shows.
  */
class KpiPanelsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val serviceDate = LocalDate.of(2025, 9, 3)
  private val dayStart = serviceDate.atStartOfDay(ZoneId.of("Europe/Paris")).toEpochSecond
  private val day1 = LocalDateTime.of(2025, 9, 3, 4, 0)
  private val day2 = day1.plusDays(1)

  // UTF-16 puts the emoji (a surrogate pair) before U+FF21; UTF-8 puts it after.
  private val wide = "SＡ"
  private val emoji = "S😀"
  private val stopIds = Seq("S1", "S2", "S3", "S4", "S5", "S6", "S7", "S8", "S9", "S10", "S11", wide, emoji)

  /** trip Tn: stops Sn's neighbours at 09:00 + n minutes per sequence;
    * trip T0's second stop has a malformed time.
    */
  private def scheduled: DataFrame = {
    import spark.implicits._
    val rows = for (t <- 0 until 14; seq <- 1 to 3) yield {
      val time = if (t == 0 && seq == 2) "9:xx:00" else f"9:${t + seq * 4}%02d:00"
      (s"T$t", seq.toLong, stopIds((t + seq) % stopIds.size), time, day1)
    }
    // an older snapshot of T1's first stop, which the latest one replaces
    (rows :+ (("T1", 1L, "S1", "7:00:00", day1.minusDays(1))))
      .toDF("trip_id", "stop_sequence", "stop_id", "intermediate_stop", Schemas.insertDateCol)
  }

  private def trips: DataFrame = {
    import spark.implicits._
    // T13 is missing; T12 has no route; T1 moved from R9 to R1
    val rows = (0 until 12).map(t => (s"T$t", s"R${t % 11}", day2)) ++
      Seq(("T12", null, day2), ("T1", "R9", day1))
    rows.toDF("trip_id", "route_id", Schemas.insertDateCol)
  }

  private def routes: DataFrame = {
    import spark.implicits._
    ((0 until 11).map(r => (s"R$r", s"Ligne $r", day2)) :+ (("R3", "Ancienne 3", day1)))
      .toDF("route_id", "route_long_name", Schemas.insertDateCol)
  }

  private def stops: DataFrame = {
    import spark.implicits._
    val rows = stopIds.zipWithIndex.map { case (s, i) => (s, s"Arrêt $i", 43.7 + i * 0.01, 7.2, day2) } ++
      Seq(("S1", "Ancien nom", 43.0, 7.0, day1), ("S99", "Jamais vu", 43.9, 7.3, day2),
        (null, "Sans id", 43.8, 7.1, day2))
    rows.toDF("stop_id", "stop_name", "stop_lat", "stop_lon", Schemas.insertDateCol)
  }

  /** An observation of (trip, sequence, observed stop) `delay` seconds
    * after its scheduled time, or at 09:00 when the time is malformed.
    */
  private def observed(obs: Seq[(Int, Int, String, Long)]): DataFrame = {
    import spark.implicits._
    obs.map { case (t, seq, stop, delay) =>
      (s"T$t", seq.toLong, stop, dayStart + 9 * 3600 + (t + seq * 4) * 60 + delay)
    }.toDF("trip_id", "stop_sequence", "stop_id", "intermediate_stop")
  }

  private def spineOf(obs: Seq[(Int, Int, String, Long)]): DataFrame =
    Kpi.delaySpine(observed(obs), scheduled, serviceDate)

  private val mixed: Seq[(Int, Int, String, Long)] =
    (for (t <- 0 until 14; seq <- 1 to 3) yield
      (t, seq, stopIds((t + seq) % stopIds.size), ((t * 37 + seq * 53) % 11 - 3) * 60L)) ++
      Seq((2, 1, null, 45L), (3, 2, "S4", 45L), (4, 1, wide, 600L), (5, 3, emoji, 600L), (6, 2, "S7", 1800L))

  // ---- the oracle: one direct query per panel ----

  private def latest(dim: DataFrame, keys: String*): DataFrame =
    dim.withColumn("rn", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(col(Schemas.insertDateCol).desc)))
      .filter(col("rn") === 1).drop("rn")

  private def avgBy(spine: DataFrame, keys: Column*): DataFrame =
    spine.groupBy(keys: _*).agg(avg(col("delay_s")).as("avg_delay_s"), count(lit(1)).as("n_obs"))

  private def windowed(spine: DataFrame, length: String, keys: Column*): DataFrame =
    avgBy(spine, keys :+ window(col("obs_ts"), length).as("w"): _*)
      .select(keys ++ Seq(col("w.start").as("bucket_start"), col("avg_delay_s"), col("n_obs")): _*)

  private def direct(spine: DataFrame): Seq[(String, DataFrame)] = Seq(
    "avgDelayOverTime" -> windowed(spine, "15 minutes").orderBy("bucket_start"),
    "punctualityRate" -> spine.agg(
      avg(when(col("delay_s") <= 300L, 1.0).otherwise(0.0)).as("punctuality_rate"),
      count(lit(1)).as("n_obs")),
    "punctualityOverTime" -> spine.groupBy(window(col("obs_ts"), "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_obs"), sum(when(col("delay_s") <= 300L, 1L).otherwise(0L)).as("n_on_time"))
      .select(col("w.start").as("bucket_start"), col("n_obs"), col("n_on_time")).orderBy("bucket_start"),
    "topDelayedRoutes" -> avgBy(spine.join(latest(trips, "trip_id").select("trip_id", "route_id"), "trip_id"),
        col("route_id"))
      .join(latest(routes, "route_id").select("route_id", "route_long_name"), Seq("route_id"), "left")
      .orderBy(col("avg_delay_s").desc, col("route_id")).limit(10),
    "topProblemStops" -> avgBy(spine, col("stop_id"))
      .join(latest(stops, "stop_id").select("stop_id", "stop_name"), Seq("stop_id"), "left")
      .orderBy(col("avg_delay_s").desc, col("stop_id")).limit(10),
    "delayHeatmap" -> avgBy(spine, (weekday(col("obs_ts")) + 1).as("isodow"), hour(col("obs_ts")).as("hh"))
      .orderBy("isodow", "hh"),
    "delayDistribution" -> spine.groupBy(floor(col("delay_s") / 60).cast("long").as("delay_min_bucket"))
      .agg(count(lit(1)).as("n_obs")).orderBy("delay_min_bucket"),
    "travelTimeRealVsTheoretical" -> spine.groupBy(col("trip_id"))
      .agg((max(col("obs_epoch")) - min(col("obs_epoch"))).as("real_duration_s"),
        (max(col("sched_s")) - min(col("sched_s"))).as("sched_duration_s"), count(lit(1)).as("n_stops"))
      .withColumn("deviation_s", col("real_duration_s") - col("sched_duration_s")).orderBy("trip_id"),
    "stopsServiceState" -> latest(stops, "stop_id").select("stop_id", "stop_name", "stop_lat", "stop_lon")
      .join(spine.groupBy(col("stop_id")).agg(count(lit(1)).as("n_obs"), avg(col("delay_s")).as("avg_delay_s"),
        max(col("obs_epoch")).as("last_obs_epoch")), Seq("stop_id"), "left")
      .withColumn("service_state", when(col("n_obs").isNull, lit("no data")).otherwise(lit("active")))
      .withColumn("n_obs", coalesce(col("n_obs"), lit(0L))).orderBy("stop_id"),
    "delayEvolutionPerStop" -> windowed(spine, "1 hour", col("stop_id")).orderBy("stop_id", "bucket_start"))

  private def panels(spine: DataFrame): Seq[DataFrame] = Seq(
    Kpi.avgDelayOverTime(spine), Kpi.punctualityRate(spine), Kpi.punctualityOverTime(spine),
    Kpi.topDelayedRoutes(spine, trips, routes), Kpi.topProblemStops(spine, stops),
    Kpi.delayHeatmap(spine), Kpi.delayDistribution(spine), Kpi.travelTimeRealVsTheoretical(spine),
    Kpi.stopsServiceState(spine, stops), Kpi.delayEvolutionPerStop(spine))

  private def assertPanelsMatch(obs: Seq[(Int, Int, String, Long)]): Map[String, Seq[org.apache.spark.sql.Row]] = {
    val spine = spineOf(obs)
    direct(spine).zip(panels(spine)).map { case ((name, want), got) =>
      assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType),
        s"$name schema")
      val (g, w) = (got.collect().toSeq, want.collect().toSeq)
      assert(g == w, s"$name rows:\n got  $g\n want $w")
      name -> g
    }.toMap
  }

  test("on an empty hour every panel returns its direct aggregate's rows") {
    val got = assertPanelsMatch(Nil)
    assert(got("punctualityRate").map(r => (r.isNullAt(0), r.getLong(1))) == Seq((true, 0L)))
    assert(got("stopsServiceState").map(_.getAs[String]("service_state")).distinct == Seq("no data"))
    assert(got("stopsServiceState").forall(_.getAs[Long]("n_obs") == 0L))
  }

  test("on one constant observation every panel returns its direct aggregate's rows") {
    val got = assertPanelsMatch(Seq((1, 1, "S1", 120L)))
    assert(got("punctualityRate").map(r => (r.getDouble(0), r.getLong(1))) == Seq((1.0, 1L)))
    assert(got("topDelayedRoutes").map(r => (r.getString(0), r.getDouble(1), r.getString(3))) ==
      Seq(("R1", 120.0, "Ligne 1")))
  }

  test("on a mixed hour with awkward keys every panel returns its direct aggregate's rows") {
    val got = assertPanelsMatch(mixed)
    assert(got("topProblemStops").size == 10 && got("topDelayedRoutes").size == 10)
    val order = got("stopsServiceState").map(_.getAs[String]("stop_id"))
    assert(order.head == null && order.indexOf(wide) < order.indexOf(emoji), s"stop order $order")
  }

  test("the batch panels reject a streaming spine") {
    val stream = Kpi.delaySpine(spark.readStream
      .schema("trip_id STRING, stop_sequence BIGINT, stop_id STRING, intermediate_stop BIGINT")
      .parquet(TestSpark.tempDir("kpi_stream")), scheduled, serviceDate)
    assert(stream.isStreaming)
    intercept[IllegalArgumentException](Kpi.avgDelayOverTime(stream))
  }
}
