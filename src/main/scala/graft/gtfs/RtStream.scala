package graft.gtfs

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming assembly of the RT pipeline (SURVEY.md §2.10,
  * §7.1 step 6): the engine-native replacement for the reference's
  * 2-minute Airflow cron (dags/gtfs_rt_minutely.py:262) and 5-minute
  * silver cron (dags/gtfs_silver.py:219).
  *
  * Landing dir of protobuf snapshots → file-source stream (the
  * processed-files checkpoint log supersedes the PUT/PURGE
  * exactly-once dance, T5) → decode per micro-batch → bronze append →
  * silver stream. Silver is a view over bronze
  * ([[SilverTransforms]]): the silver stream tails the bronze parquet
  * as a file source, and each micro-batch only moves the table's
  * visibility watermark past the rows it took (T7). Its source log
  * keeps it from re-reading bronze files; the batch path's watermark
  * filter is not needed.
  *
  * Tests drive this with Trigger.AvailableNow; production parity is
  * Trigger.ProcessingTime("2 minutes").
  */
object RtStream {

  val rtTrigger: Trigger = Trigger.ProcessingTime("2 minutes")

  /** The binaryFile source's fixed schema — streaming sources must be
    * given a schema explicitly (no inference pass at stream start).
    */
  private val binaryFileSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))

  /** foreachBatch sinks are at-least-once: after a crash between the
    * bronze append and the checkpoint commit, the batch re-runs and
    * would append twice. A per-batch marker under the checkpoint dir
    * makes the replay a no-op (the residual window — crash between
    * append and marker — matches the reference's COPY load-history
    * semantics). Runs `body` only for unseen (table, batchId).
    */
  private[gtfs] def onceperBatch(spark: SparkSession, checkpointDir: String,
                                 table: String, batchId: Long)(body: => Unit): Boolean = {
    val marker = new org.apache.hadoop.fs.Path(s"$checkpointDir/graft_batches/${table}_$batchId")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(marker)) false
    else {
      body
      fs.mkdirs(marker.getParent)
      fs.create(marker, true).close()
      true
    }
  }

  /** The one RT ingest stream: the feed's `.pb` snapshots under
    * `landingDir` as a `binaryFile` stream, one blob per file, handed
    * per micro-batch to `ingest`, the feed's bronze append. Each batch
    * runs marker-guarded ([[onceperBatch]] under `table`), so a replayed
    * batch never double-appends.
    */
  private def startBlobIngest(spark: SparkSession, table: String, landingDir: String,
                              checkpointDir: String, trigger: Trigger)
                             (ingest: Dataset[Array[Byte]] => Unit): StreamingQuery = {
    import spark.implicits._
    spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.pb")
      .load(landingDir)
      .select("content")
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onceperBatch(spark, checkpointDir, table, batchId)(ingest(batch.as[Array[Byte]]))
        ()
      }
      .start()
  }

  /** Stream the TripUpdates feed snapshots: decoded trip headers +
    * exploded stop-time rows, appended to bronze with the per-batch
    * ingest stamp ([[BronzeIngest.ingestTripUpdateBlobs]]).
    */
  def startTripUpdatesIngest(spark: SparkSession, landingDir: String,
                             warehouseDir: String, checkpointDir: String,
                             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startBlobIngest(spark, "trip_updates", landingDir, checkpointDir, trigger)(
      BronzeIngest.ingestTripUpdateBlobs(_, warehouseDir, BronzeIngest.parisNow()))

  /** Stream the VehiclePositions feed snapshots
    * ([[BronzeIngest.ingestVehicleBlobs]]).
    */
  def startVehiclePositionsIngest(spark: SparkSession, landingDir: String,
                                  warehouseDir: String, checkpointDir: String,
                                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startBlobIngest(spark, "vehicle_positions", landingDir, checkpointDir, trigger)(
      BronzeIngest.ingestVehicleBlobs(_, warehouseDir, BronzeIngest.parisNow()))

  /** Bronze→silver as a native streaming query: the bronze parquet table
    * is the streaming source, read for `insert_date` alone, and each
    * micro-batch moves the silver table's watermark to the newest stamp
    * it took ([[SilverTransforms.publish]], the batch refresh's writer).
    * Nothing is copied; the query's progress still counts the rows it
    * took. The mark only moves forward, so a replayed batch is a no-op
    * without a marker of its own.
    */
  def startSilverStream(spark: SparkSession, warehouseDir: String, silverName: String,
                        checkpointDir: String,
                        trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val bronzeName = SilverTransforms.transforms(silverName)._1
    spark.readStream
      .schema(BronzeIngest.diskSchema(bronzeName))
      .parquet(s"$warehouseDir/bronze/$bronzeName")
      .select(Schemas.insertDateCol)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        SilverTransforms.publish(spark, warehouseDir, silverName, batch)
        ()
      }
      .start()
  }

  /** Connector-to-connector relay — the reference poller's
    * republish pattern (fetch a feed, land a minute-stamped snapshot,
    * gtfs_rt_minutely.py:111-127,164-176) as ONE streaming query
    * wiring both halves of the gtfsrt connector: the SOURCE tails the
    * upstream landing dir (exactly-once file handling, stamp-pruned
    * scans) and the streaming SINK lands monotonic-stamped snapshots
    * downstream (one `.pb` per committed epoch, stamp stepped by the
    * 2-minute cadence). Production runs it on [[rtTrigger]]; demos
    * and tests drain with AvailableNow. The relayed dir is itself a
    * valid connector landing dir — relays compose.
    */
  def startRelay(spark: SparkSession, kind: String, srcDir: String, dstDir: String,
                 checkpointDir: String, stampBase: String,
                 trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    spark.readStream.format("gtfsrt").option("kind", kind).load(srcDir)
      .repartition(1) // one snapshot file per epoch, like the poller
      .writeStream.format("gtfsrt")
      .option("kind", kind)
      .option("stampBase", stampBase)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start(dstDir)

  /** Late-data-tolerant per-snapshot dedup (T8, README.md:137-138):
    * event-time watermark + dropDuplicatesWithinWatermark on the trip
    * key — the streaming-native form of the reference's per-snapshot
    * `seen_trips` set.
    */
  def dedupWithinWatermark(updates: DataFrame, eventTimeCol: String,
                           delay: String = "10 minutes"): DataFrame =
    updates
      .withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark("trip_id")
}
