package graft.gtfs

import org.apache.spark.sql.types._

/** Declared-once schemas for every bronze table of the engine — the
  * reference declares these twice (Snowflake DDL + pandas column
  * lists); we keep a single authority and pass it to
  * `spark.read.schema(...)`, never `inferSchema` (SURVEY.md §1.2).
  * A silver table's schema is its transform's output over these
  * ([[SilverTransforms]]), so it is declared nowhere else.
  *
  * Bronze column sets: dags/gtfs_static_daily.py:49-101,
  * dags/gtfs_rt_minutely.py:185-217. `insert_date` (Paris wall-clock
  * TIMESTAMP_NTZ) is appended to every table at write time (DDL
  * DEFAULT in the reference, dags/gtfs_static_daily.py:58).
  */
object Schemas {

  val insertDateCol = "insert_date"

  private def withInsertDate(fields: StructField*): StructType =
    StructType(fields :+ StructField(insertDateCol, TimestampNTZType))

  private def s(n: String) = StructField(n, StringType)
  private def i(n: String) = StructField(n, IntegerType)
  private def l(n: String) = StructField(n, LongType)
  private def d(n: String) = StructField(n, DoubleType)

  // ---- BRONZE static (gtfs_static_daily.py:49-101) ----

  val routesStatic: StructType = withInsertDate(
    s("route_id"), s("agency_id"), s("route_short_name"), s("route_long_name"),
    i("route_type"), s("route_url"), s("route_color"), s("route_text_color"))

  val tripsStatic: StructType = withInsertDate(
    s("route_id"), s("service_id"), s("trip_id"), s("trip_headsign"),
    s("trip_short_name"), i("direction_id"), s("shape_id"),
    i("wheelchair_accessible"), i("bike_allowed"))

  val stopsStatic: StructType = withInsertDate(
    s("stop_id"), s("stop_code"), s("stop_name"), d("stop_lat"), d("stop_lon"),
    s("zone_id"), i("location_type"), s("parent_station"), s("stop_timezone"),
    i("wheelchair_boarding"))

  /** arrival/departure stay STRING in bronze: GTFS allows `>24:00:00`
    * service-day times (gtfs_static_daily.py:94-95).
    */
  val stopTimesStatic: StructType = withInsertDate(
    s("trip_id"), s("arrival_time"), s("departure_time"), s("stop_id"),
    i("stop_sequence"), i("pickup_type"), i("drop_off_type"))

  /** CSV column orders as they appear in the GTFS files (ingest uses
    * positional semantics like the reference's SKIP_HEADER + column
    * list, gtfs_static_daily.py:119-121) — i.e. the schema minus the
    * audit column.
    */
  def csvSchema(t: StructType): StructType =
    StructType(t.fields.filterNot(_.name == insertDateCol))

  // ---- BRONZE realtime (gtfs_rt_minutely.py:185-217) ----

  val tripUpdatesRaw: StructType = withInsertDate(
    s("trip_id"), s("route_id"), l("direction_id"))

  val tripStopTimes: StructType = withInsertDate(
    s("trip_id"), l("stop_sequence"), s("stop_id"),
    l("arrival_time"), l("departure_time"))

  val vehiclePositionsRaw: StructType = withInsertDate(
    s("trip_id"), s("route_id"), s("vehicle_id"), d("latitude"),
    d("longitude"), l("bearing"), s("stop_id"), l("timestamp_epoch"))

  /** Catalog: bronze name → schema. */
  val bronze: Map[String, StructType] = Map(
    "routes_static" -> routesStatic,
    "trips_static" -> tripsStatic,
    "stops_static" -> stopsStatic,
    "stop_times_static" -> stopTimesStatic,
    "trip_updates_raw" -> tripUpdatesRaw,
    "trip_stop_times" -> tripStopTimes,
    "vehicle_positions_raw" -> vehiclePositionsRaw)
}

// ---- Decoded GTFS-RT row shapes (gtfs_rt_minutely.py:116-117,166-169) ----

/** One RT trip header per feed entity (first occurrence wins within a
  * snapshot, gtfs_rt_minutely.py:98-100).
  */
case class TripUpdateRow(
    trip_id: String, route_id: String, direction_id: Option[Long])

/** One row per stop_time_update element (the explode of
  * gtfs_rt_minutely.py:103-109); times are UTC POSIX epochs.
  */
case class StopTimeUpdateRow(
    trip_id: String, stop_sequence: Option[Long], stop_id: String,
    arrival_time: Option[Long], departure_time: Option[Long])

/** One row per vehicle entity (gtfs_rt_minutely.py:140-163). */
case class VehiclePositionRow(
    trip_id: String, route_id: String, vehicle_id: String,
    latitude: Option[Double], longitude: Option[Double],
    bearing: Option[Long], stop_id: String, timestamp_epoch: Option[Long])
