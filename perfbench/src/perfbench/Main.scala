package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <launch epoch ms> <work dir> <cpus>
  *
  * Sets up the workload, repeats its op for `seconds`, checks every
  * output, and prints one JSON result line on stdout.
  */
object Main {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "warehouse_bytes_per_input_byte" -> "ratio",
    "peak_rss_mb" -> "MB", "ok_ops_share" -> "ratio")

  val silverTables: Seq[String] = Seq("routes_static_silver", "trips_static_silver", "stops_static_silver",
    "stop_times_static_silver", "trip_updates_silver", "trip_stop_times_silver", "vehicle_positions_silver")
  val panels: Seq[String] = Seq("avg_delay_over_time", "punctuality", "top_delayed_routes", "top_problem_stops",
    "delay_heatmap", "delay_distribution", "travel_time", "vehicle_map", "stops_service_state",
    "delay_evolution_per_stop")
  val layers: Seq[String] = Seq("bench", "rtstream", "bronze", "silver", "kpi")

  /** Per-layer metrics of the traced run: per-op means over traced ops. */
  val perLayer: Seq[(String, String)] =
    Seq("rtstream.ingest_s" -> "s", "rtstream.silver_s" -> "s", "rtstream.start_ms" -> "ms",
      "rtstream.latest_offset_ms" -> "ms", "rtstream.query_planning_ms" -> "ms",
      "rtstream.add_batch_ms" -> "ms", "rtstream.wal_commit_ms" -> "ms", "rtstream.batches" -> "count",
      "decode.snapshots" -> "count", "decode.corrupt" -> "count", "decode.mb_per_s_1t" -> "MB/s",
      "bronze.load_rt_s" -> "s", "bronze.load_static_s" -> "s", "bronze.rows" -> "count",
      "bronze.files" -> "count", "bronze.bytes" -> "bytes", "bronze.csv_rows_dropped" -> "count") ++
      silverTables.map(t => s"silver.${t}_s" -> "s") ++
      Seq("silver.rows_appended" -> "count", "silver.bronze_files_scanned" -> "count",
        "silver.files_written" -> "count") ++
      panels.map(p => s"kpi.${p}_s" -> "s") ++
      Seq("kpi.scan_rows" -> "count", "kpi.scan_bytes" -> "bytes", "kpi.shuffles" -> "count",
        "kpi.shuffle_rows" -> "count", "spark.jobs" -> "count", "spark.stages" -> "count",
        "spark.tasks" -> "count", "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
        "warehouse.files" -> "count", "warehouse.bytes" -> "bytes", "warehouse.files_per_cycle" -> "count") ++
      layers.map(l => s"self.${l}_s" -> "s") ++
      Seq("trace.overhead_s" -> "s", "trace.ops" -> "count")

  def session(work: java.nio.file.Path, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    // System.exit: a failed run must not wait on Spark's non-daemon threads.
    val ok = try { run(args); true } catch {
      case scala.util.control.NonFatal(e) => e.printStackTrace(); false
    }
    sys.exit(if (ok) 0 else 1)
  }

  private def run(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, launchMsS, workS, cpusS) = args
    val trace = traceS == "1"
    val work = Files.createDirectories(Paths.get(workS).toAbsolutePath)
    val spark = session(work, cpusS.toInt)
    val tracer = new Tracer
    val silverQueries = new SilverQueries
    val sched = new SchedulerCounts
    if (trace) {
      spark.listenerManager.register(silverQueries)
      spark.sparkContext.addSparkListener(sched)
    }
    val c = new Ctx(spark, new Gen(seedS.toLong), work, tracer, launchMsS.toLong)
    c.note("Spark session started")
    val w: Workload = workload match {
      case "live_poll" => new LivePoll(c)
      case "backfill" => new Backfill(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    val setupS = (System.currentTimeMillis() - launchMsS.toLong) / 1e3

    val samples = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val figures = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var failed = 0
    var aborted = false
    val deadline = System.nanoTime() + (secondsS.toDouble * 1e9).toLong
    // A traced run alternates untraced and traced ops, so it needs at least three.
    while ((System.nanoTime() < deadline || (trace && samples.size < 3)) && !aborted) {
      val traced = trace && samples.size % 2 == 1
      if (trace) { Jvm.flushListeners(spark); silverQueries.drain(); sched.drain() }
      val before = if (traced) Seq("bronze", "silver").map(c.usage) else Nil
      val gc0 = Jvm.gcS
      tracer.beginOp(samples.size, traced)
      val out = try tracer.span("bench.op")(w.op()) catch {
        case scala.util.control.NonFatal(e) =>
          aborted = true // the pipeline state is unknown after a failure
          OpOut(Double.NaN, Seq(s"${e.getClass.getName}: ${e.getMessage}"))
      }
      val errs = out.errors ++ (if (out.seconds > 120) Seq(f"op took ${out.seconds}%.1f s, over the 120 s cadence") else Nil)
      if (errs.nonEmpty) { failed += 1; errs.foreach(e => System.err.println(s"[perfbench] MISMATCH op ${samples.size}: $e")) }
      if (!aborted) {
        samples += traced -> out.seconds
        out.figures.foreach { case (k, v) => figures.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
      }
      if (traced) {
        Jvm.flushListeners(spark)
        val (jobs, stages, tasks) = sched.drain()
        tracer.add("spark.jobs", jobs); tracer.add("spark.stages", stages); tracer.add("spark.tasks", tasks)
        tracer.add("jvm.gc_s", Jvm.gcS - gc0)
        val (tableS, bronzeFiles) = silverQueries.drain()
        tableS.foreach { case (t, s) => tracer.add(s"silver.${t}_s", s) }
        tracer.add("silver.bronze_files_scanned", bronzeFiles)
        w.drainKpiStats().foreach { q =>
          tracer.add("kpi.scan_rows", q.scanRows); tracer.add("kpi.scan_bytes", q.scanBytes)
          tracer.add("kpi.shuffles", q.shuffles); tracer.add("kpi.shuffle_rows", q.shuffleRows)
        }
        val after = Seq("bronze", "silver").map(c.usage)
        tracer.add("bronze.files", after(0)._1 - before(0)._1)
        tracer.add("bronze.bytes", after(0)._2 - before(0)._2)
        tracer.add("silver.files_written", after(1)._1 - before(1)._1)
        tracer.add("warehouse.files_per_cycle", after(0)._1 + after(1)._1 - before(0)._1 - before(1)._1)
        for ((span, metric) <- Seq("bronze.load_rt" -> "bronze.load_rt_s", "bronze.load_static" -> "bronze.load_static_s") ++
               panels.map(p => s"kpi.$p" -> s"kpi.${p}_s"))
          tracer.add(metric, tracer.spans.filter(s => s.op == samples.size - 1 && s.name == span)
            .map(s => (s.endNs - s.startNs) / 1e9).sum)
      }
    }
    val attempted = samples.size + (if (aborted) 1 else 0)

    val finalErrs = if (aborted) Nil else w.finalErrors()
    finalErrs.foreach(e => System.err.println(s"[perfbench] MISMATCH at end of run: $e"))
    val warehouse = Seq("bronze", "silver").map(c.usage)
    val whFiles = warehouse.map(_._1).sum
    val whBytes = warehouse.map(_._2).sum

    val metrics: Seq[(String, String, Double)] =
      if (!trace) {
        val values = Map(
          "setup_s" -> setupS,
          "op_p50_s" -> (if (samples.isEmpty) Double.NaN else Stats.median(samples.map(_._2).toSeq)),
          "warehouse_bytes_per_input_byte" -> whBytes.toDouble / c.landedBytes,
          "peak_rss_mb" -> Jvm.peakRssMb,
          "ok_ops_share" -> (attempted - failed).toDouble / attempted)
        endToEnd.map { case (n, u) => (n, u, values(n)) }
      } else {
        val traced = tracer.counters.size.max(1)
        val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
        tracer.counters.foreach(_.foreach { case (k, v) => sums(k) += v })
        val self = tracer.selfTimeS
        val tracedS = samples.filter(_._1).map(_._2).toSeq
        val plainS = samples.filterNot(_._1).map(_._2).toSeq
        val values = sums.map { case (k, v) => k -> v / traced }.toMap ++
          layers.map(l => s"self.${l}_s" -> self.getOrElse(l, 0.0) / traced) ++ Map(
            "jvm.heap_peak_mb" -> Jvm.heapPeakMb, "warehouse.files" -> whFiles.toDouble,
            "warehouse.bytes" -> whBytes.toDouble, "trace.ops" -> tracedS.size.toDouble,
            "trace.overhead_s" -> (if (tracedS.isEmpty || plainS.isEmpty) 0.0
              else Stats.median(tracedS) - Stats.median(plainS)))
        val out = work.resolve("trace.json")
        tracer.writeJson(out)
        System.err.println(s"[perfbench] trace: ${tracer.spans.size} spans written to $out")
        perLayer.map { case (n, u) => (n, u, values.getOrElse(n, 0.0)) }
      }

    report(workload, samples.map(_._2).toSeq, figures.map { case (k, v) => k -> v.toSeq }.toMap, setupS)
    val correct = failed == 0 && finalErrs.isEmpty && !aborted
    val body = metrics.map { case (n, u, v) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    spark.stop()
  }

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString

  /** Human-readable summary on stderr, with the workload's own figures
    * and the tail where the sample count supports one.
    */
  private def report(workload: String, xs: Seq[Double], figures: Map[String, Seq[Double]], setupS: Double): Unit = {
    val err = System.err
    err.println(f"[perfbench] $workload: setup $setupS%.2f s, ${xs.size} ops")
    if (xs.nonEmpty) {
      val tail = Stats.tail(xs).fold("no tail: fewer than 10 samples beyond any percentile above p50") {
        case (p, v) => f"p$p $v%.3f s"
      }
      err.println(f"[perfbench]   op median ${Stats.median(xs)}%.3f s, $tail; all: ${xs.map(x => f"$x%.2f").mkString(" ")}")
    }
    figures.toSeq.sortBy(_._1).foreach { case (k, v) =>
      err.println(f"[perfbench]   $k median ${Stats.median(v)}%.3f (n=${v.size})")
    }
  }
}
