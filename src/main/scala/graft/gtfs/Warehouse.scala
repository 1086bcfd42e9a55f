package graft.gtfs

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}

/** D1/D2 catalog-native: idempotent namespace + table registration so
  * the parquet warehouse is SQL-addressable the way the reference's
  * Snowflake schemas are (`GTFS_DB.BRONZE.routes_static` ↔
  * `bronze.routes_static`). Bronze tables are EXTERNAL (LOCATION) and
  * partitioned by insert_day, so `WHERE insert_day = …` prunes
  * partitions from SQL exactly as the DataFrame path does. Silver
  * tables are views over them, as [[SilverTransforms.readSilver]] is.
  */
object Warehouse {

  /** The SQL of a silver view: the transform's projection over
    * `bronze.<table>` rows at or below `mark`. Both come from the
    * analyzed plan of [[SilverTransforms.visible]], so each transform
    * keeps one definition.
    */
  private def viewQuery(spark: SparkSession, silverName: String, mark: java.time.LocalDateTime): String = {
    val (bronzeName, fn) = SilverTransforms.transforms(silverName)
    val bronze = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], BronzeIngest.diskSchema(bronzeName))
    SilverTransforms.visible(fn, bronze, mark).queryExecution.analyzed match {
      case Project(columns, Filter(condition, _)) =>
        s"SELECT ${columns.map(_.sql).mkString(", ")} FROM bronze.$bronzeName WHERE ${condition.sql}"
      case other => throw new IllegalStateException(s"$silverName is not a projection:\n$other")
    }
  }

  /** Register every existing bronze table of `warehouseDir`, and every
    * silver table with a watermark as a view over it. Safe to call after
    * each load cycle: a table is re-pointed at this warehouse, MSCK
    * discovers newly appended partitions, and each view is replaced with
    * the table's current watermark.
    */
  def register(spark: SparkSession, warehouseDir: String): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS bronze")
    val bronze = Schemas.bronze.filter { case (name, _) =>
      BronzeIngest.pathExists(spark, s"$warehouseDir/bronze/$name")
    }
    for ((name, schema) <- bronze) {
      // EXTERNAL: the drop forgets the catalog entry, never the data.
      spark.sql(s"DROP TABLE IF EXISTS bronze.$name")
      spark.sql(
        s"""CREATE TABLE bronze.$name (${schema.toDDL}, insert_day DATE)
           |USING parquet PARTITIONED BY (insert_day)
           |LOCATION '$warehouseDir/bronze/$name'""".stripMargin)
      // pick up partitions written outside the catalog (append jobs)
      spark.sql(s"MSCK REPAIR TABLE bronze.$name")
    }
    spark.sql("CREATE DATABASE IF NOT EXISTS silver")
    for ((name, (bronzeName, _)) <- SilverTransforms.transforms if bronze.contains(bronzeName);
         mark <- SilverTransforms.watermark(spark, s"$warehouseDir/silver/$name", name))
      spark.sql(s"CREATE OR REPLACE VIEW silver.$name AS ${viewQuery(spark, name, mark)}")
  }
}
