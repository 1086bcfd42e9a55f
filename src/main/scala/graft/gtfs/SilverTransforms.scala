package graft.gtfs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** BRONZE → SILVER normalization: the 7 incremental INSERT…SELECTs of
  * dags/gtfs_silver.py:125-213, as pure `DataFrame => DataFrame`
  * transforms plus the high-watermark incremental runner (P5).
  *
  * Invariant (property-tested): applying the transform to one big
  * batch ≡ applying it to N incremental batches — so the same code
  * serves the batch path and the per-micro-batch streaming path.
  *
  * Scale design: each transform is projection/derivation only (no
  * shuffle); the watermark filter prunes on the insert_day partition
  * column + parquet min/max row-group stats on insert_date. The 7
  * refreshes are independent and run at once on the one session
  * ([[Batch.concurrently]]), so their fixed per-query costs overlap;
  * each write is coalesced to the partitions its size estimate needs
  * ([[Batch.sizedByEstimate]]), one file per table for a small refresh.
  */
object SilverTransforms {

  /** '1900-01-01' cold-start watermark (gtfs_silver.py:133). */
  val epoch1900: java.time.LocalDateTime =
    java.time.LocalDateTime.of(1900, 1, 1, 0, 0, 0)

  // ---- the 7 projections (column lists from gtfs_silver.py) ----

  /** routes: 8→4 data columns (gtfs_silver.py:127-131). */
  def routes(bronze: DataFrame): DataFrame =
    bronze.select(col("route_id"), col("agency_id"), col("route_long_name"),
      col("route_type"), col(Schemas.insertDateCol))

  /** trips: drops trip_short_name (gtfs_silver.py:138-146). */
  def trips(bronze: DataFrame): DataFrame =
    bronze.select(col("route_id"), col("service_id"), col("trip_id"),
      col("trip_headsign"), col("direction_id"), col("shape_id"),
      col("wheelchair_accessible"), col("bike_allowed"), col(Schemas.insertDateCol))

  /** stops: drops zone_id, location_type, stop_timezone
    * (gtfs_silver.py:153-160).
    */
  def stops(bronze: DataFrame): DataFrame =
    bronze.select(col("stop_id"), col("stop_code"), col("stop_name"),
      col("stop_lat"), col("stop_lon"), col("parent_station"),
      col("wheelchair_boarding"), col(Schemas.insertDateCol))

  /** stop_times: COALESCE(arrival, departure) AS intermediate_stop
    * (P2, gtfs_silver.py:165-175).
    */
  def stopTimes(bronze: DataFrame): DataFrame =
    bronze.select(col("trip_id"),
      coalesce(col("arrival_time"), col("departure_time")).as("intermediate_stop"),
      col("stop_id"), col("stop_sequence"), col("pickup_type"),
      col("drop_off_type"), col(Schemas.insertDateCol))

  /** trip_updates: NULL direction_id → 'in experimentation' sentinel,
    * else TO_VARCHAR (P3, gtfs_silver.py:180-186).
    */
  def tripUpdates(bronze: DataFrame): DataFrame =
    bronze.select(col("trip_id"), col("route_id"),
      when(col("direction_id").isNull, lit("in experimentation"))
        .otherwise(col("direction_id").cast(StringType)).as("direction_id"),
      col(Schemas.insertDateCol))

  /** trip_stop_times: COALESCE over the RT epochs (gtfs_silver.py:191-197). */
  def tripStopTimes(bronze: DataFrame): DataFrame =
    bronze.select(col("trip_id"), col("stop_sequence"), col("stop_id"),
      coalesce(col("arrival_time"), col("departure_time")).as("intermediate_stop"),
      col(Schemas.insertDateCol))

  /** vehicle_positions: identity passthrough (P4, gtfs_silver.py:200-213). */
  def vehiclePositions(bronze: DataFrame): DataFrame =
    bronze.select(col("trip_id"), col("route_id"), col("vehicle_id"),
      col("latitude"), col("longitude"), col("bearing"), col("stop_id"),
      col("timestamp_epoch"), col(Schemas.insertDateCol))

  val transforms: Map[String, (String, DataFrame => DataFrame)] = Map(
    "routes_static_silver" -> ("routes_static", routes),
    "trips_static_silver" -> ("trips_static", trips),
    "stops_static_silver" -> ("stops_static", stops),
    "stop_times_static_silver" -> ("stop_times_static", stopTimes),
    "trip_updates_silver" -> ("trip_updates_raw", tripUpdates),
    "trip_stop_times_silver" -> ("trip_stop_times", tripStopTimes),
    "vehicle_positions_silver" -> ("vehicle_positions_raw", vehiclePositions))

  // ---- incremental runner ----

  /** Silver on-disk schema: declared columns + the insert_day
    * partition column. Passed to every silver read so nothing ever
    * infers — required for correctness on an empty table (a zero-row
    * append leaves a dir with no data files, where inference fails)
    * and the right call at scale anyway (no schema-discovery pass).
    */
  private def silverDiskSchema(name: String) =
    org.apache.spark.sql.types.StructType(Schemas.silver(name).fields :+
      org.apache.spark.sql.types.StructField("insert_day", org.apache.spark.sql.types.DateType))

  /** MAX(insert_date) of an existing silver table, or None when cold
    * (A1 — the only value that ever reaches the driver).
    *
    * Partition-pruned: insert_day is the partition column and ISO
    * dates order lexicographically, so the maximum insert_date lives
    * in the last partition directory — one FS listing plus a
    * single-partition scan, O(one day) instead of O(full history) on
    * the every-5-minutes refresh path.
    */
  def watermark(spark: SparkSession, silverPath: String, silverName: String): Option[java.time.LocalDateTime] = {
    val root = new org.apache.hadoop.fs.Path(silverPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return None
    val dayDirs = fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => n.startsWith("insert_day=") && !n.endsWith("__HIVE_DEFAULT_PARTITION__"))
    if (dayDirs.isEmpty) return None
    val lastDay = dayDirs.max // ISO yyyy-MM-dd sorts chronologically
    spark.read.schema(Schemas.silver(silverName)).parquet(s"$silverPath/$lastDay")
      .agg(max(col(Schemas.insertDateCol))).head().get(0) match {
        case null => None
        case t: java.time.LocalDateTime => Some(t)
        case other => Some(java.time.LocalDateTime.parse(other.toString.replace(' ', 'T')))
      }
  }

  /** The P5 predicate: `insert_date > COALESCE(max_silver, 1900-01-01)`
    * (gtfs_silver.py:133).
    */
  def incrementalFilter(bronze: DataFrame, wm: Option[java.time.LocalDateTime]): DataFrame =
    bronze.filter(col(Schemas.insertDateCol) > lit(wm.getOrElse(epoch1900)))

  /** E3, one table: watermark → filter → transform → size → append.
    * Returns the number of rows appended THIS refresh, measured by an
    * `Observation` riding the write itself — no second scan, and in
    * particular no O(full-history) re-read of the silver table (each
    * refresh touches only partitions newer than the watermark).
    */
  def refreshTable(spark: SparkSession, warehouseDir: String, silverName: String): Long = {
    val (bronzeName, fn) = transforms(silverName)
    val silverPath = s"$warehouseDir/silver/$silverName"
    val bronze = BronzeIngest.readBronze(spark, s"$warehouseDir/bronze/$bronzeName", bronzeName)
    val wm = watermark(spark, silverPath, silverName)
    val fresh = fn(incrementalFilter(bronze, wm))
    val obs = org.apache.spark.sql.Observation()
    val out = Batch.sizedByEstimate(fresh.observe(obs, count(lit(1)).as("appended"))
      .withColumn("insert_day", to_date(col(Schemas.insertDateCol))))
    out.write.mode("append").option("compression", BronzeIngest.parquetCodec)
      .partitionBy("insert_day").parquet(silverPath)
    obs.get("appended").asInstanceOf[Long]
  }

  /** E3, all 7 tables at once, as the reference fans them out
    * (gtfs_silver.py:307-315): independent Spark actions on the one
    * session, one thread each ([[Batch.concurrently]]). Returns once
    * every refresh is done; if one fails, the others still finish and
    * that table's own exception is rethrown.
    */
  def refreshAll(spark: SparkSession, warehouseDir: String): Map[String, Long] =
    Batch.concurrently(transforms.keys.toSeq.sorted) { name =>
      name -> refreshTable(spark, warehouseDir, name)
    }.toMap

  /** Read a silver table back (empty-but-typed when absent). */
  def readSilver(spark: SparkSession, warehouseDir: String, name: String): DataFrame = {
    val path = s"$warehouseDir/silver/$name"
    val schema = Schemas.silver(name)
    if (!BronzeIngest.pathExists(spark, path))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(silverDiskSchema(name)).parquet(path)
      .select(schema.fieldNames.map(col).toSeq: _*)
  }
}
