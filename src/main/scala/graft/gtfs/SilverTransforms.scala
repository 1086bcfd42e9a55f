package graft.gtfs

import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDateTime
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** BRONZE → SILVER normalization: the 7 incremental INSERT…SELECTs of
  * dags/gtfs_silver.py:125-213, as pure `DataFrame => DataFrame`
  * transforms plus the high-watermark incremental runner (P5).
  *
  * Each transform is a row-for-row projection of one bronze table that
  * keeps bronze's `insert_date`, so silver is not stored: a silver table
  * is its transform over the bronze rows at or below the table's
  * visibility watermark, one ISO timestamp in `silver/<table>/_watermark`.
  * A refresh only moves that mark; a bronze row shows in silver once a
  * refresh (or the silver stream, [[RtStream.startSilverStream]]) has
  * passed it, as in the reference. Both move the mark through one writer
  * ([[publish]]), and the mark only moves forward, so a replayed refresh
  * or stream batch changes nothing.
  *
  * Invariant (property-tested): one big refresh ≡ N incremental ones.
  *
  * Scale design: a refresh is one aggregate job (count and max of
  * `insert_date`) over the bronze rows past the mark, reading one column
  * of the partitions from the mark's day on, with no shuffle; it writes
  * one small file. A read prunes the partitions after the mark's day and
  * pushes the `insert_date` bound to the parquet row groups. The 7
  * refreshes are independent and run at once on the one session
  * ([[Batch.concurrently]]), so their fixed per-query costs overlap.
  */
object SilverTransforms {

  /** '1900-01-01' cold-start watermark (gtfs_silver.py:133). */
  val epoch1900: LocalDateTime = LocalDateTime.of(1900, 1, 1, 0, 0, 0)

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

  // ---- the view and its watermark ----

  /** The one file a silver table stores: its visibility watermark. */
  val MarkFile = "_watermark"

  private def markPath(silverPath: String) = new Path(silverPath, MarkFile)

  /** The file system of `p`, without a checksum layer: the mark is one
    * line, and a `.crc` sidecar beside it would only be a second file.
    */
  private def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf()) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case fs => fs
    }

  /** The visibility watermark of a silver table: the newest bronze
    * `insert_date` it shows, or None before its first refresh. One
    * small file read, whatever the table's history.
    */
  def watermark(spark: SparkSession, silverPath: String, silverName: String): Option[LocalDateTime] = {
    val p = markPath(silverPath)
    val fs = fileSystem(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(LocalDateTime.parse(new String(in.readAllBytes(), UTF_8).trim)) finally in.close()
    }
  }

  private val markLocks = new ConcurrentHashMap[String, AnyRef]()

  /** Moves a table's watermark to `to` if that is later; never back, so
    * moving it again to the same place is a no-op. The mark is written
    * under a temp name and renamed into place, so a reader sees the old
    * mark or the new one, never a partial file.
    */
  private def advance(spark: SparkSession, warehouseDir: String, silverName: String, to: LocalDateTime): Unit = {
    val silverPath = s"$warehouseDir/silver/$silverName"
    markLocks.computeIfAbsent(silverPath, _ => new AnyRef).synchronized {
      if (!watermark(spark, silverPath, silverName).exists(!to.isAfter(_))) {
        val dst = markPath(silverPath)
        val fs = fileSystem(spark, dst)
        val tmp = new Path(silverPath, s".$MarkFile.${UUID.randomUUID()}.tmp")
        val out = fs.create(tmp, true)
        try out.write(to.toString.getBytes(UTF_8)) finally out.close()
        // A local or POSIX rename replaces the old mark atomically; a
        // store whose rename will not replace (HDFS) needs the delete.
        if (!fs.rename(tmp, dst)) {
          fs.delete(dst, false)
          if (!fs.rename(tmp, dst)) throw new java.io.IOException(s"cannot move $tmp to $dst")
        }
      }
    }
  }

  /** The one writer of silver: counts `rows` and takes their newest
    * `insert_date` in one Spark job with no shuffle (an `Observation`
    * over a scan of `insert_date` alone, into the noop sink), then moves
    * the table's watermark there. Those rows are then visible. Returns
    * the row count. The batch refresh and the silver stream's
    * micro-batches both publish through it.
    */
  private[gtfs] def publish(spark: SparkSession, warehouseDir: String, silverName: String,
                            rows: DataFrame): Long = {
    val obs = Observation()
    rows.select(col(Schemas.insertDateCol))
      .observe(obs, count(lit(1)).as("rows"), max(col(Schemas.insertDateCol)).as("newest"))
      .write.format("noop").mode("overwrite").save()
    val tally = obs.get
    Option(tally("newest")).foreach(t => advance(spark, warehouseDir, silverName, t.asInstanceOf[LocalDateTime]))
    tally("rows").asInstanceOf[Long]
  }

  /** The P5 predicate: `insert_date > COALESCE(max_silver, 1900-01-01)`
    * (gtfs_silver.py:133).
    */
  def incrementalFilter(bronze: DataFrame, wm: Option[LocalDateTime]): DataFrame =
    bronze.filter(col(Schemas.insertDateCol) > lit(wm.getOrElse(epoch1900)))

  /** The bronze rows of a silver table past its watermark: the P5
    * predicate, plus `insert_day >= to_date(mark)` so the scan opens only
    * the partitions from the mark's day on.
    */
  private[gtfs] def pending(spark: SparkSession, warehouseDir: String, silverName: String): DataFrame = {
    val bronzeName = transforms(silverName)._1
    val wm = watermark(spark, s"$warehouseDir/silver/$silverName", silverName)
    val bronze = BronzeIngest.readBronzeDays(spark, s"$warehouseDir/bronze/$bronzeName", bronzeName)
    incrementalFilter(bronze.filter(col("insert_day") >= lit(wm.getOrElse(epoch1900).toLocalDate)), wm)
  }

  /** The silver view: `fn` over the bronze rows (with their `insert_day`
    * column) at or below `mark`. `insert_day <= to_date(mark)` prunes the
    * partitions loaded after the mark's day.
    */
  private[gtfs] def visible(fn: DataFrame => DataFrame, bronze: DataFrame, mark: LocalDateTime): DataFrame =
    fn(bronze.filter(col("insert_day") <= lit(mark.toLocalDate) && col(Schemas.insertDateCol) <= lit(mark)))

  /** E3, one table: moves the watermark over the bronze rows stamped
    * after it. Returns the number of rows that became visible THIS
    * refresh. It reads only `insert_date` of the partitions from the
    * mark's day on, and writes nothing but the mark.
    */
  def refreshTable(spark: SparkSession, warehouseDir: String, silverName: String): Long =
    publish(spark, warehouseDir, silverName, pending(spark, warehouseDir, silverName))

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

  /** Read a silver table: its transform over the bronze rows at or below
    * its watermark (empty-but-typed before its first refresh).
    */
  def readSilver(spark: SparkSession, warehouseDir: String, name: String): DataFrame = {
    val (bronzeName, fn) = transforms(name)
    watermark(spark, s"$warehouseDir/silver/$name", name) match {
      case None => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.silver(name))
      case Some(mark) =>
        visible(fn, BronzeIngest.readBronzeDays(spark, s"$warehouseDir/bronze/$bronzeName", bronzeName), mark)
    }
  }
}
