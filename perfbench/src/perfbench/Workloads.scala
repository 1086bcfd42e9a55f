package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDateTime
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import graft.gtfs.{BronzeIngest, Kpi, RtDecode, RtStream, SilverTransforms}

/** Everything a workload needs: the session, the generator, its working
  * directories and the trace recorders.
  */
final class Ctx(val spark: SparkSession, val gen: Gen, val work: Path, val tracer: Tracer,
                launchMs: Long) {
  /** Logs a set-up step with the time since launch. */
  def note(step: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - launchMs) / 1e3}%7.2f s  $step")

  val wh: String = work.resolve("warehouse").toString
  private var inputBytes = 0L
  def landedBytes: Long = inputBytes

  /** Writes `files` into a staging dir and returns it; staging is not timed. */
  def stage(rel: String, files: Seq[(String, Array[Byte])]): Path = {
    val d = Files.createDirectories(work.resolve(s"stage/$rel"))
    files.foreach { case (name, bytes) => Files.write(d.resolve(name), bytes); inputBytes += bytes.length }
    d
  }
  /** Lands staged input atomically, as a poller's rename would. */
  def land(staged: Path, rel: String): Path = {
    val dst = work.resolve(s"landing/$rel")
    Files.createDirectories(dst.getParent)
    if (Files.isDirectory(dst)) {
      val files = Files.list(staged)
      try files.forEach(f => Files.move(f, dst.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE))
      finally files.close()
      dst
    } else Files.move(staged, dst, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Strictly increasing ingest stamps for the batch path, so two loads
    * never share a watermark second.
    */
  private var stamp = LocalDateTime.of(2025, 9, 3, 4, 0)
  def nextIngestTs(): LocalDateTime = { stamp = stamp.plusMinutes(1); stamp }

  def silver(name: String): DataFrame = SilverTransforms.readSilver(spark, wh, name)
  def count(layer: String, name: String): Long =
    if (layer == "silver") silver(name).count()
    else BronzeIngest.readBronze(spark, s"$wh/bronze/$name", name).count()

  /** (files, bytes) under the bronze and silver trees. */
  def usage(layer: String): (Long, Long) = {
    val root = work.resolve(s"warehouse/$layer")
    if (!Files.isDirectory(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        var n = 0L; var b = 0L
        s.filter(Files.isRegularFile(_)).forEach { f => n += 1; b += Files.size(f) }
        (n, b)
      } finally s.close()
    }
  }
}

/** Result of one op: its sample, the output mismatches found, and the
  * figures the workload reports for it.
  */
final case class OpOut(seconds: Double, errors: Seq[String], figures: Map[String, Double] = Map.empty)

abstract class Workload(val c: Ctx) {
  import c._
  /** Generation, loads, history and warm-up: all of it counts as set-up. */
  def setup(): Unit
  def op(): OpOut
  /** Plan actuals of the KPI queries of the last traced op. */
  def drainKpiStats(): Seq[graft.Observability.QueryStats] = Nil

  protected var staticLoads = 0
  protected val landed = mutable.ArrayBuffer.empty[Int]
  protected var nextSnapshot = 0
  protected def take(n: Int): Seq[Int] = { val r = nextSnapshot until nextSnapshot + n; nextSnapshot += n; r }

  /** Rows every bronze and silver table must hold at the end of the run. */
  final def finalErrors(): Seq[String] = {
    val tu = landed.map(gen.tuHeaders).sum; val st = landed.map(gen.tuStopRows).sum
    val vp = landed.map(gen.vpRows).sum
    val want = Map(("bronze", "trip_updates_raw") -> tu, ("bronze", "trip_stop_times") -> st,
      ("bronze", "vehicle_positions_raw") -> vp, ("silver", "trip_updates_silver") -> tu,
      ("silver", "trip_stop_times_silver") -> st, ("silver", "vehicle_positions_silver") -> vp) ++
      gen.staticRows.flatMap { case (t, n) =>
        Seq(("silver", t) -> n * staticLoads, ("bronze", t.stripSuffix("_silver")) -> n * staticLoads)
      }
    want.toSeq.sorted.flatMap { case ((layer, t), n) =>
      val got = count(layer, t)
      if (got == n) None else Some(s"$layer.$t has $got rows, expected $n")
    }
  }

  /** Writes the static GTFS files and returns (dir, total data rows incl. malformed). */
  protected lazy val staticDir: (Path, Long) = {
    val files = gen.staticFiles
    val d = stage("static", files.map { case (n, s) => n -> s.getBytes("UTF-8") })
    (d, files.map(_._2.count(_ == '\n') - 1).sum.toLong)
  }

  /** Daily static load into bronze (CSV parse, malformed rows dropped). */
  protected def loadStaticBronze(): Unit = {
    tracer.span("bronze.load_static")(BronzeIngest.loadStatic(spark, staticDir._1.toString, wh, nextIngestTs()))
    staticLoads += 1
  }

  /** Stages snapshot pairs; returns the staged dir and the blobs. */
  protected def stagePairs(rel: String, is: Seq[Int]): (Path, Seq[Array[Byte]]) = {
    val tu = is.map(i => gen.snapshotName("trip_updates", i) -> gen.tripUpdates(i))
    val vp = is.map(i => gen.snapshotName("vehicle_positions", i) -> gen.vehiclePositions(i))
    stage(s"$rel/tu", tu); stage(s"$rel/vp", vp)
    (work.resolve(s"stage/$rel"), tu.map(_._2) ++ vp.map(_._2))
  }

  /** Single-threaded driver-side decode of the landed blobs: checks the
    * corrupt count exactly and gives the 1-thread decode baseline.
    */
  protected def decodeCheck(is: Seq[Int], blobs: Seq[Array[Byte]]): Seq[String] = {
    val t0 = System.nanoTime()
    val bad = blobs.count(b => RtDecode.parseFeedSafe(b).isEmpty).toLong
    val s = (System.nanoTime() - t0) / 1e9
    tracer.add("decode.snapshots", blobs.size.toDouble)
    tracer.add("decode.corrupt", bad.toDouble)
    tracer.add("decode.mb_per_s_1t", blobs.map(_.length.toLong).sum / 1048576.0 / s)
    val want = is.map(gen.corrupt).sum
    if (bad == want) Nil else Seq(s"decode found $bad corrupt snapshots, expected $want")
  }
}

/** The live path: one snapshot pair per cycle through the five
  * Trigger.AvailableNow streaming queries, then the 10 KPI panels over the
  * last hour. A cycle is one run of the 2-minute poll with the idle time
  * skipped.
  */
final class LivePoll(c0: Ctx) extends Workload(c0) {
  import c._
  nextSnapshot = gen.liveStart
  private val rtSilver = Seq("trip_updates_silver", "trip_stop_times_silver", "vehicle_positions_silver")

  /** Static schedule, then one untimed cycle that lets JIT and codegen settle. */
  def setup(): Unit = {
    // Static tables only: the RT silver tables belong to the silver streams.
    loadStaticBronze()
    val appended = gen.staticRows.map { case (t, _) => t -> SilverTransforms.refreshTable(spark, wh, t) }
    require(appended == gen.staticRows, s"static refresh appended $appended, expected ${gen.staticRows}")
    note("static schedule loaded")
    val warm = op()
    require(warm.errors.isEmpty, warm.errors.mkString("; "))
    note(f"warm-up cycle took ${warm.seconds}%.2f s")
  }

  /** Runs an AvailableNow query to completion; returns the rows it read. */
  private def drain(name: String)(start: => StreamingQuery): Long = tracer.span(name) {
    val t0 = System.nanoTime()
    val q = start
    q.awaitTermination()
    val wallMs = (System.nanoTime() - t0) / 1e6
    val ps = q.recentProgress.toSeq
    tracer.add("rtstream.start_ms", wallMs - ps.map(p => p.durationMs.getOrDefault("triggerExecution", 0L).toDouble).sum)
    for ((key, metric) <- Seq("latestOffset" -> "latest_offset_ms", "queryPlanning" -> "query_planning_ms",
                              "addBatch" -> "add_batch_ms", "walCommit" -> "wal_commit_ms"))
      tracer.add(s"rtstream.$metric", ps.map(_.durationMs.getOrDefault(key, 0L).toDouble).sum)
    tracer.add("rtstream.batches", ps.count(_.numInputRows > 0).toDouble)
    ps.map(_.numInputRows).sum
  }

  def op(): OpOut = {
    val i = take(1).head
    val (staged, blobs) = stagePairs(s"pair_$i", Seq(i))
    val ck = work.resolve("checkpoints")
    val t0 = System.nanoTime()
    land(staged.resolve("tu"), "tu"); land(staged.resolve("vp"), "vp")
    val tuFiles = drain("rtstream.ingest_tu")(RtStream.startTripUpdatesIngest(spark,
      work.resolve("landing/tu").toString, wh, ck.resolve("tu").toString))
    val vpFiles = drain("rtstream.ingest_vp")(RtStream.startVehiclePositionsIngest(spark,
      work.resolve("landing/vp").toString, wh, ck.resolve("vp").toString))
    val t1 = System.nanoTime()
    val silverRows = rtSilver.map(t => t -> drain(s"rtstream.silver_$t")(
      RtStream.startSilverStream(spark, wh, t, ck.resolve(t).toString))).toMap
    val t2 = System.nanoTime()
    landed += i
    val cutoff = gen.snapshotTime(i) - 3600
    val panels = refreshPanels(cutoff)
    val t3 = System.nanoTime()

    val want = Map("trip_updates_silver" -> gen.tuHeaders(i), "trip_stop_times_silver" -> gen.tuStopRows(i),
      "vehicle_positions_silver" -> gen.vpRows(i))
    val streamErrs = (if (tuFiles == 1 && vpFiles == 1) Nil else Seq(s"ingest read $tuFiles+$vpFiles files, expected 1+1")) ++
      want.toSeq.sorted.flatMap { case (t, n) =>
        if (silverRows(t) == n) None else Some(s"silver stream $t took ${silverRows(t)} rows, expected $n")
      }
    tracer.add("rtstream.ingest_s", (t1 - t0) / 1e9)
    tracer.add("rtstream.silver_s", (t2 - t1) / 1e9)
    tracer.add("silver.rows_appended", silverRows.values.sum.toDouble)
    tracer.add("bronze.rows", silverRows.values.sum.toDouble)
    OpOut((t3 - t0) / 1e9,
      streamErrs ++ decodeCheck(Seq(i), blobs) ++ panelErrors(panels, gen.panels(landed.toSeq, cutoff)),
      Map("freshness_s" -> (t2 - t0) / 1e9, "panels_s" -> (t3 - t2) / 1e9))
  }

  private var kpiStats: Option[graft.Observability.StatsListener] = None

  override def drainKpiStats(): Seq[graft.Observability.QueryStats] = kpiStats.fold(Seq.empty[graft.Observability.QueryStats]) { l =>
    kpiStats = None
    try l.drain(spark) finally graft.Observability.remove(spark, l)
  }

  /** One refresh of the 10 dashboard panels over observations and
    * positions at or after `cutoff`, in a fixed order, each collected as
    * the BI client receives it.
    */
  private def refreshPanels(cutoff: Long): Map[String, Array[Row]] = {
    if (tracer.traced) { Jvm.flushListeners(spark); kpiStats = Some(graft.Observability.attach(spark)) }
    val obs = silver("trip_stop_times_silver")
    val vp = silver("vehicle_positions_silver")
    val spine = Kpi.delaySpine(obs.filter(col("intermediate_stop") >= cutoff),
      silver("stop_times_static_silver"), Shape.ServiceDate)
    val stops = silver("stops_static_silver")
    val panels: Seq[(String, () => DataFrame)] = Seq(
      "avg_delay_over_time" -> (() => Kpi.avgDelayOverTime(spine)),
      "punctuality" -> (() => Kpi.punctualityRate(spine)),
      "top_delayed_routes" -> (() => Kpi.topDelayedRoutes(spine, silver("trips_static_silver"), silver("routes_static_silver"))),
      "top_problem_stops" -> (() => Kpi.topProblemStops(spine, stops)),
      "delay_heatmap" -> (() => Kpi.delayHeatmap(spine)),
      "delay_distribution" -> (() => Kpi.delayDistribution(spine)),
      "travel_time" -> (() => Kpi.travelTimeRealVsTheoretical(spine)),
      "vehicle_map" -> (() => Kpi.latestVehiclePositions(vp.filter(col("timestamp_epoch") >= cutoff))),
      "stops_service_state" -> (() => Kpi.stopsServiceState(spine, stops)),
      "delay_evolution_per_stop" -> (() => Kpi.delayEvolutionPerStop(spine)))
    panels.map { case (name, df) => name -> tracer.span(s"kpi.$name")(df().collect()) }.toMap
  }

  private def panelErrors(got: Map[String, Array[Row]], want: PanelExpect): Seq[String] = {
    val rows = want.rows.toSeq.sorted.flatMap { case (p, n) =>
      if (got(p).length == n) None else Some(s"panel $p returned ${got(p).length} rows, expected $n")
    }
    val nObs = got("avg_delay_over_time").map(_.getAs[Long]("n_obs")).sum
    val punct = got("punctuality").head
    val pObs = punct.getAs[Long]("n_obs")
    val onTime = if (pObs == 0) 0L else Math.round(punct.getAs[Double]("punctuality_rate") * pObs)
    rows ++
      (if (nObs == want.nObs && pObs == want.nObs) Nil else Seq(s"n_obs $nObs/$pObs, expected ${want.nObs}")) ++
      (if (onTime == want.nOnTime) Nil else Seq(s"n_on_time $onTime, expected ${want.nOnTime}"))
  }
}

/** The batch path under a backlog: each pass reloads the daily static
  * schedule, then lands an archive slice of 40 minutes of snapshot
  * pairs and loads it through loadRt + refreshAll. No KPI work.
  */
final class Backfill(c0: Ctx) extends Workload(c0) {
  import c._
  // Multiples of Shape.CorruptEvery, so every slice holds the same share of truncated snapshots.
  private val historyPairs = 20
  private val slicePairs = 20
  private var pass = 0

  /** Static schedule and a history of snapshot pairs through bronze and
    * one silver refresh, then one untimed pass that lets JIT and codegen
    * settle.
    */
  def setup(): Unit = {
    loadStaticBronze()
    val is = take(historyPairs)
    val (staged, _) = stagePairs("history", is)
    loadRtBronze(is, land(staged, "history"))
    val (errs, appended) = refreshAll(gen.staticRows ++ rtRows(is))
    require(errs.isEmpty && droppedRows(appended) == gen.staticBadRows, errs.mkString("; "))
    note(s"static schedule and ${is.size} snapshot pairs loaded")
    val warm = op()
    require(warm.errors.isEmpty, warm.errors.mkString("; "))
    note(f"warm-up pass took ${warm.seconds}%.2f s")
  }

  def op(): OpOut = {
    pass += 1
    val is = take(slicePairs)
    val (staged, blobs) = stagePairs(s"slice_$pass", is)
    val t0 = System.nanoTime()
    loadStaticBronze()
    val (staticErrs, staticAppended) = refreshAll(gen.staticRows)
    val t1 = System.nanoTime()
    loadRtBronze(is, land(staged, s"slice_$pass"))
    val (rtErrs, rtAppended) = refreshAll(rtRows(is))
    val t2 = System.nanoTime()
    val updates = rtAppended("trip_stop_times_silver") + rtAppended("vehicle_positions_silver")
    val dropped = droppedRows(staticAppended)
    val droppedErrs = if (dropped == gen.staticBadRows) Nil
      else Seq(s"static load dropped $dropped CSV rows, expected ${gen.staticBadRows}")
    val rows = staticAppended.values.sum + rtAppended.values.sum
    tracer.add("bronze.csv_rows_dropped", dropped.toDouble)
    tracer.add("bronze.rows", rows.toDouble)
    tracer.add("silver.rows_appended", rows.toDouble)
    OpOut((t2 - t0) / 1e9, staticErrs ++ rtErrs ++ decodeCheck(is, blobs) ++ droppedErrs,
      Map("static_load_s" -> (t1 - t0) / 1e9, "rt_updates_per_s" -> updates / ((t2 - t1) / 1e9)))
  }

  /** CSV rows a static load dropped, given what its refresh appended. */
  private def droppedRows(appended: Map[String, Long]): Long =
    staticDir._2 - gen.staticRows.keys.map(appended.getOrElse(_, 0L)).sum

  /** Batch RT load of a landed archive slice into bronze. */
  private def loadRtBronze(is: Seq[Int], landedDir: Path): Unit = {
    tracer.span("bronze.load_rt")(BronzeIngest.loadRt(spark, landedDir.resolve("tu").toString,
      landedDir.resolve("vp").toString, wh, nextIngestTs()))
    landed ++= is
  }

  private def rtRows(is: Seq[Int]): Map[String, Long] = Map(
    "trip_updates_silver" -> is.map(gen.tuHeaders).sum,
    "trip_stop_times_silver" -> is.map(gen.tuStopRows).sum,
    "vehicle_positions_silver" -> is.map(gen.vpRows).sum)

  /** SilverTransforms.refreshAll, checked table by table against the rows
    * `want` says it must append (tables not named: none).
    */
  private def refreshAll(want: Map[String, Long]): (Seq[String], Map[String, Long]) = {
    val appended = tracer.span("silver.refresh_all")(SilverTransforms.refreshAll(spark, wh))
    (Main.silverTables.flatMap { t =>
      val (got, n) = (appended.getOrElse(t, -1L), want.getOrElse(t, 0L))
      if (got == n) None else Some(s"refresh appended $got rows to $t, expected $n")
    }, appended)
  }
}
