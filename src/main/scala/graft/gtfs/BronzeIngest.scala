package graft.gtfs

import java.time.{LocalDateTime, ZoneId}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Bronze ingestion: the engine's equivalent of the reference's
  * stage+COPY pipeline (S4-S6, K3; dags/gtfs_static_daily.py:106-142,
  * dags/gtfs_rt_minutely.py:222-257). Files are read in place — a
  * landing directory replaces the Snowflake stage.
  *
  * Scale design: CSV parse is distributed and schema-driven (never
  * inferSchema — no extra pass over 100 TB), writes are append-only
  * parquet partitioned by ingest date so silver's watermark filter
  * prunes partitions instead of scanning history. The independent
  * writes of one load (the 4 static tables; the TripUpdates and
  * VehiclePositions ingests) run at once on the one session
  * ([[Batch.concurrently]]), and each write is coalesced to the
  * partitions its size estimate needs ([[Batch.sizedByEstimate]]):
  * one file per table for a small load, however many input splits it
  * read.
  */
object BronzeIngest {

  /** The reference's `insert_date` DEFAULT: Paris wall-clock as
    * TIMESTAMP_NTZ (dags/gtfs_static_daily.py:58, gtfs_silver.py:15).
    */
  def parisNow(): LocalDateTime =
    LocalDateTime.now(ZoneId.of("Europe/Paris")).withNano(0)

  /** Existence check through the Hadoop FileSystem resolved from the
    * path — correct on HDFS/S3/ABFS, where `java.io.File` would
    * silently answer false on every cluster path.
    */
  def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  def insertDateLit(ts: LocalDateTime): Column = lit(ts)

  /** CSV read with the reference's COPY options
    * (gtfs_static_daily.py:117-142): header skipped, `"` quoting,
    * NULL_IF ('', 'NULL', 'null'), malformed rows dropped
    * (ON_ERROR='CONTINUE'). `schema` is the bronze schema minus
    * insert_date (positional, like the COPY column list).
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              glob: Option[String] = None): DataFrame = {
    val reader = spark.read
      .schema(schema)
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .option("nullValue", "")
      .option("mode", "DROPMALFORMED")
    val withGlob = glob.fold(reader)(g => reader.option("pathGlobFilter", g))
    val df = withGlob.csv(path)
    // NULL_IF list beyond '': literal "NULL"/"null" strings → null
    df.schema.fields.filter(_.dataType == StringType).foldLeft(df) { (d, f) =>
      d.withColumn(f.name,
        when(col(f.name).isin("NULL", "null"), lit(null).cast(StringType))
          .otherwise(col(f.name)))
    }
  }

  /** PERMISSIVE audit variant of readCsv (SURVEY §4: the reference's
    * ON_ERROR='CONTINUE' silently loses malformed rows): bad rows land
    * in `_corrupt_record` for a quarantine sink instead of vanishing.
    * Returns (clean, corrupt). The persist is required — Spark
    * disallows filtering a CSV scan on the corrupt column alone.
    */
  def readCsvAudited(spark: SparkSession, path: String, schema: StructType)
      : (DataFrame, DataFrame) = {
    val withCorrupt = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField("_corrupt_record", StringType))
    val df = spark.read
      .schema(withCorrupt)
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .option("nullValue", "")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (df.filter(col("_corrupt_record").isNull).drop("_corrupt_record"),
      df.filter(col("_corrupt_record").isNotNull).select(col("_corrupt_record")))
  }

  /** S8/A3 validation read (scripts/check_gtfs_static.py:8-20): every
    * column as STRING (no schema, no inference — Spark's default
    * header-only CSV read), plus the row/column shape probe.
    */
  def readCsvAllString(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)

  def shape(df: DataFrame): (Long, Int) = (df.count(), df.columns.length)

  /** K1: minute-stamped CSV snapshot write (the reference's
    * pandas.to_csv exports, gtfs_rt_minutely.py:111-127,164-176) —
    * kept for interop with CSV-consuming downstreams; the engine's own
    * landing format is the protobuf blob + parquet bronze.
    */
  def writeCsvSnapshot(df: DataFrame, dir: String, prefix: String,
                       stamp: String = StaticFetch.minuteStamp()): String = {
    val path = s"$dir/${prefix}_$stamp"
    df.write.mode("overwrite").option("header", "true").csv(path)
    path
  }

  /** The codec of every bronze parquet file: zstd stores the warehouse
    * in fewer bytes than Spark's default, snappy.
    */
  val parquetCodec = "zstd"

  /** Stamp the audit column and append to a bronze parquet table
    * (K3/D3). Partitioned by the DATE of insert_date: silver's
    * incremental filter (P5) then reads only new partitions. Sized by
    * [[Batch.sizedByEstimate]] first, so a load is as many files as its
    * size needs, not one per input split.
    */
  def appendBronze(df: DataFrame, tablePath: String, ingestTs: LocalDateTime): Unit =
    Batch.sizedByEstimate(df.withColumn(Schemas.insertDateCol, insertDateLit(ingestTs))
      .withColumn("insert_day", to_date(col(Schemas.insertDateCol))))
      .write.mode("append")
      .option("compression", parquetCodec)
      .partitionBy("insert_day")
      .parquet(tablePath)

  /** A bronze table's on-disk schema: its declared columns plus the
    * insert_day partition column.
    */
  private[gtfs] def diskSchema(name: String): StructType =
    StructType(Schemas.bronze(name).fields :+
      org.apache.spark.sql.types.StructField("insert_day", org.apache.spark.sql.types.DateType))

  /** A bronze table with its insert_day partition column, so a filter on
    * it prunes partitions. Schema-driven read: no inference pass, and an
    * empty table (a zero-row append leaves no data files) or one never
    * written still reads as an empty typed DataFrame.
    */
  private[gtfs] def readBronzeDays(spark: SparkSession, tablePath: String, name: String): DataFrame =
    if (!pathExists(spark, tablePath))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], diskSchema(name))
    else spark.read.schema(diskSchema(name)).parquet(tablePath)

  /** Read a bronze table back: its declared columns (empty-but-typed if
    * never written).
    */
  def readBronze(spark: SparkSession, tablePath: String, name: String): DataFrame =
    readBronzeDays(spark, tablePath, name).drop("insert_day")

  /** E1, the daily static load (gtfs_static_daily.py:144-206): the 4
    * GTFS text files → typed bronze tables. `srcDir` holds the
    * unzipped stops.txt/routes.txt/trips.txt/stop_times.txt.
    */
  def loadStatic(spark: SparkSession, srcDir: String, warehouseDir: String,
                 ingestTs: LocalDateTime = parisNow()): Unit = {
    val files = Map(
      "routes_static" -> "routes.txt",
      "trips_static" -> "trips.txt",
      "stops_static" -> "stops.txt",
      "stop_times_static" -> "stop_times.txt")
    // File-presence precondition (P7, scripts/check_gtfs_static.py:4-6)
    val missing = files.values.filterNot(f => pathExists(spark, s"$srcDir/$f"))
    require(missing.isEmpty, s"missing GTFS files: ${missing.mkString(",")}")
    Batch.concurrently(files.toSeq) { case (table, file) =>
      val df = readCsv(spark, s"$srcDir/$file", Schemas.csvSchema(Schemas.bronze(table)))
      appendBronze(df, s"$warehouseDir/bronze/$table", ingestTs)
    }
  }

  /** TripUpdates blobs → both bronze row families with ONE protobuf
    * parse per blob: decode to (ok, headers, stop_times) triples,
    * persist the parsed micro-batch, write both tables, release.
    * Shared by the batch path (loadRt) and the streaming foreachBatch
    * (RtStream) so neither re-reads the source nor re-decodes.
    * Returns the number of corrupt (undecodable) snapshots in the
    * batch — tolerated, counted, logged. The count is an
    * `Observation` riding the first write, not a job of its own.
    */
  def ingestTripUpdateBlobs(blobs: org.apache.spark.sql.Dataset[Array[Byte]],
                            warehouseDir: String, ingestTs: LocalDateTime): Long = {
    import blobs.sparkSession.implicits._
    val parsed = RtDecode.decodePairs(blobs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val bad = org.apache.spark.sql.Observation()
      val headers = parsed.observe(bad, count(when(!col("_1"), 1)).as("corrupt")).flatMap(_._2)
      appendBronze(headers.toDF(), s"$warehouseDir/bronze/trip_updates_raw", ingestTs)
      appendBronze(parsed.flatMap(_._3).toDF(), s"$warehouseDir/bronze/trip_stop_times", ingestTs)
      val corrupt = bad.get("corrupt").asInstanceOf[Long]
      if (corrupt > 0)
        System.err.println(s"[bronze] $corrupt corrupt TripUpdates snapshot(s) skipped")
      corrupt
    } finally parsed.unpersist()
  }

  /** E2 bronze half: decode RT snapshot blobs → three bronze tables.
    * The TripUpdates and VehiclePositions ingests are independent and
    * run at once, as the reference's two RT tasks do
    * (gtfs_rt_minutely.py:351).
    */
  def loadRt(spark: SparkSession, tripUpdatesDir: String, vehiclePositionsDir: String,
             warehouseDir: String, ingestTs: LocalDateTime = parisNow()): Unit = {
    import spark.implicits._
    def blobs(dir: String) = RtDecode.readFeedFiles(spark, dir).select("content").as[Array[Byte]]
    Batch.concurrently(Seq[() => Unit](
      () => ingestTripUpdateBlobs(blobs(tripUpdatesDir), warehouseDir, ingestTs),
      () => appendBronze(RtDecode.decodeVehicleBlobs(blobs(vehiclePositionsDir)).toDF(),
        s"$warehouseDir/bronze/vehicle_positions_raw", ingestTs)))(_())
  }
}
