package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare in `tools/selfcheck.py`.
  *
  *   sbt "runMain graft.Verify <sfDir> <outDir>"
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      dump(spark, sfDir, outDir, SparkEntry.queries, SparkEntry.oracleSql)
      graft.queries.Graph.releaseEdgeMemo(spark) // session teardown hook
      graft.llm.Similarity.releaseShared()
    } finally spark.stop()
  }

  /** Writes `<outDir>/<query>/` parquet for every query in `queries`
    * and `<outDir>/oracle_sql.json` from `oracle`. A failing query is
    * reported on stderr and leaves no readable result, which the
    * compare counts as a failure.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Map[String, (SparkSession, String) => DataFrame],
           oracle: Map[String, String]): Unit = {
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally Caches.releaseAll() // drop intra-query persisted frames
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in the oracle SQL would otherwise make the reader's
    // json.load fail.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracle
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
