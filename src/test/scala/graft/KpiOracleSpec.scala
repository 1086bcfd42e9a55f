package graft

import graft.gtfs.KpiHarness
import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process._

/** Runs the GTFS KPI oracle end to end: [[Verify.dump]] writes every
  * `KpiHarness.queries` result (the real `Kpi` functions over the
  * KpiHarness fixture, q178–q190) plus its DuckDB replay SQL, and
  * `tools/selfcheck.py` compares the two exactly. A missing python3 or
  * duckdb fails the test: without the compare nothing here is checked.
  */
class KpiOracleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("every KPI query matches its DuckDB oracle on a non-empty result") {
    val out = TestSpark.tempDir("kpi_oracle")
    Verify.dump(spark, sfDir, out, KpiHarness.queries, KpiHarness.oracle)

    val script = new java.io.File("tools/selfcheck.py").getAbsoluteFile
    assert(script.isFile, s"$script not found")
    val log = new StringBuilder
    val exit = Seq("python3", script.getPath, sfDir, out)
      .!(ProcessLogger(l => log.append(l).append('\n'), l => log.append(l).append('\n')))
    val report = log.toString
    assert(exit == 0, s"selfcheck exited $exit:\n$report")
    assert(report.contains("ALL GREEN"), report)

    val ok = """(?m)^OK\s+(\S+) \((\d+) rows\)""".r
      .findAllMatchIn(report).map(m => m.group(1) -> m.group(2).toLong).toMap
    assert(ok.keySet == KpiHarness.queries.keySet,
      s"oracle-checked ${ok.keySet.toSeq.sorted}, registered ${KpiHarness.queries.keySet.toSeq.sorted}")
    val empty = ok.filter(_._2 == 0).keys
    assert(empty.isEmpty, s"empty results agree vacuously: ${empty.toSeq.sorted}")
  }
}
