package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDate, ZoneId}
import scala.collection.mutable

/** Sizes and quirk shares of the generated feed. None of them depends on
  * the seed: a seed changes ids, delays, which trips are duplicated and
  * which snapshots are truncated, never how much data there is.
  */
object Shape {
  val Routes = 100
  val Stops = 3000
  val Trips = 2000
  val StopsPerTrip = 15
  val StopGapS = 110
  /** Trip k starts at FirstStartS + k * HeadwayS and is reported by the
    * feed for ActiveS seconds, so every snapshot carries exactly
    * ActiveS / HeadwayS trips (FULL_DATASET: an active trip is
    * re-reported in every snapshot).
    */
  val HeadwayS = 8
  val ActiveS = 1600
  val ActiveTrips: Int = ActiveS / HeadwayS
  val FirstStartS: Int = 4 * 3600
  val SnapshotGapS = 120
  val FirstSnapshotS: Int = FirstStartS + ActiveS
  /** Snapshots in one service day; later indices replay the day shifted
    * by whole days, so a long run never runs out of input.
    */
  val SnapshotsPerDay: Int = (Trips * HeadwayS - ActiveS) / SnapshotGapS
  val TripsPerSnapshotStep: Int = SnapshotGapS / HeadwayS

  val DupEntities = 8          // per TripUpdates snapshot; first occurrence wins
  val Vehicles = 190           // per VehiclePositions snapshot
  val VehiclesWithoutId = 5    // of those, no VehicleDescriptor
  val NullDirectionEvery = 10  // one RT trip descriptor in 10 has no direction_id
  val CorruptEvery = 20        // one TU and one VP snapshot in every 20 is truncated
  val BadRows: Map[String, Int] = Map(
    "routes.txt" -> 2, "trips.txt" -> 20, "stops.txt" -> 10, "stop_times.txt" -> 150)

  val ServiceDate: LocalDate = LocalDate.of(2025, 9, 3)
  val DayStart: Long = ServiceDate.atStartOfDay(ZoneId.of("Europe/Paris")).toEpochSecond

  val TuHeadersPerSnapshot: Int = ActiveTrips
  val TuStopRowsPerSnapshot: Int = (ActiveTrips + DupEntities) * StopsPerTrip
}

/** Minimal protobuf wire writer, independent of the codec under test so
  * that a change to the program's decoder cannot change the inputs.
  */
final class Pb {
  private val out = new ByteArrayOutputStream()
  private def varint(v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0L) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }
  private def tag(field: Int, wireType: Int): Unit = varint((field.toLong << 3) | wireType)
  def int(field: Int, v: Long): Pb = { tag(field, 0); varint(v); this }
  def float(field: Int, v: Float): Pb = {
    tag(field, 5)
    val b = java.lang.Float.floatToIntBits(v)
    out.write(b & 0xff); out.write((b >>> 8) & 0xff); out.write((b >>> 16) & 0xff); out.write(b >>> 24)
    this
  }
  def bytes(field: Int, b: Array[Byte]): Pb = { tag(field, 2); varint(b.length.toLong); out.write(b); this }
  def string(field: Int, s: String): Pb = bytes(field, s.getBytes(UTF_8))
  def msg(field: Int)(body: Pb => Unit): Pb = { val m = new Pb; body(m); bytes(field, m.toBytes) }
  def toBytes: Array[Byte] = out.toByteArray
}

/** One observed stop event as the delay spine sees it. */
final case class Obs(trip: Int, seq: Int, stop: Int, epoch: Long, delay: Long)

/** What the KPI panels must return for a given set of landed snapshots. */
final case class PanelExpect(rows: Map[String, Long], nObs: Long, nOnTime: Long)

/** Seeded GTFS static + GTFS-RT generator, with the exact counts the
  * program's outputs must match.
  */
final class Gen(val seed: Long) {
  import Shape._

  private def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def h(a: Long, b: Long = 0L, c: Long = 0L, d: Long = 0L): Long =
    mix(mix(mix(mix(seed) ^ a) ^ b) ^ c) ^ d
  private def pick(x: Long, n: Int): Int = java.lang.Math.floorMod(x, n.toLong).toInt

  /** Seeded id prefix, always 4 characters so that ids have one length. */
  private val tag = ("000" + java.lang.Long.toString(java.lang.Math.floorMod(h(0L), 36L * 36 * 36 * 36), 36)).takeRight(4)
  def tripId(k: Int): String = s"T${tag}_$k"
  def stopId(s: Int): String = s"S${tag}_$s"
  def routeId(r: Int): String = s"R${tag}_$r"
  def vehicleId(k: Int): String = s"V${tag}_$k"

  def route(k: Int): Int = pick(h(1, k), Routes)
  def stop(k: Int, j: Int): Int = pick(h(2, k, j), Stops)
  private val nullDirOffset = pick(h(3), NullDirectionEvery)
  def rtDirection(k: Int): Option[Long] =
    if ((k + nullDirOffset) % NullDirectionEvery == 0) None else Some((k % 2).toLong)
  private def departureOnlySeq(k: Int): Int = pick(h(4, k), StopsPerTrip)
  /** Scheduled time of stop j of trip k, seconds after the service day's
    * midnight (above 24 h for late trips, as GTFS allows).
    */
  def sched(k: Int, j: Int): Int = FirstStartS + k * HeadwayS + j * StopGapS

  // ---- snapshots ----

  def snapshotTime(i: Int): Long =
    DayStart + (i / SnapshotsPerDay).toLong * 86400L + FirstSnapshotS + (i % SnapshotsPerDay).toLong * SnapshotGapS
  private def dayOffset(i: Int): Long = (i / SnapshotsPerDay).toLong * 86400L
  /** First active trip of snapshot i; the active trips are first .. first+ActiveTrips-1. */
  def firstActive(i: Int): Int = (i % SnapshotsPerDay) * TripsPerSnapshotStep + 1
  /** Position of the truncated TU snapshot in block i / CorruptEvery; the
    * truncated VP snapshot sits half a block later. Any CorruptEvery
    * consecutive snapshots hold exactly one of each.
    */
  private def corruptAt(block: Int): Int = pick(h(9, block), CorruptEvery)
  def tuCorrupt(i: Int): Boolean = i % CorruptEvery == corruptAt(i / CorruptEvery)
  def vpCorrupt(i: Int): Boolean = i % CorruptEvery == (corruptAt(i / CorruptEvery) + CorruptEvery / 2) % CorruptEvery
  /** First snapshot of a live run: the one before a truncated TU snapshot,
    * so every live run, whatever its seed, meets it at the same cycle.
    */
  def liveStart: Int = CorruptEvery + corruptAt(1) - 1
  private def dupTrips(i: Int): Seq[Int] =
    (0 until DupEntities).map(m => firstActive(i) + pick(h(8, i, m), ActiveTrips))

  /** Predicted epoch of stop j of trip k as reported in snapshot i. */
  def predicted(k: Int, j: Int, i: Int): Long = {
    val base = pick(h(5, k), 900) - 240
    val drift = pick(h(7, k), 21) - 5
    DayStart + dayOffset(i) + sched(k, j) + base + j * drift + pick(h(6, k, i), 61) - 30
  }

  /** The entities of snapshot i in feed order: (trip, snapshot its times come from). */
  private def tuEntities(i: Int): Seq[(Int, Int)] =
    (firstActive(i) until firstActive(i) + ActiveTrips).map(k => (k, i)) ++
      dupTrips(i).map(k => (k, i - 1)) // a stale duplicate entity follows the fresh one

  def tripUpdates(i: Int): Array[Byte] = {
    val entities = tuEntities(i).map { case (k, from) =>
      new Pb().msg(2) { e =>
        e.string(1, s"e$k")
        e.msg(3) { tu =>
          tu.msg(1) { td =>
            td.string(1, tripId(k)).string(5, routeId(route(k)))
            rtDirection(k).foreach(d => td.int(6, d))
          }
          for (j <- 0 until StopsPerTrip) tu.msg(2) { stu =>
            val t = predicted(k, j, from)
            stu.int(1, (j + 1).toLong)
            if (j != departureOnlySeq(k)) {
              stu.msg(2)(_.int(2, t))
              stu.msg(3)(_.int(2, t + 20))
            } else stu.msg(3)(_.int(2, t))
            stu.string(4, stopId(stop(k, j)))
          }
        }
      }.toBytes
    }
    feed(snapshotTime(i), entities, tuCorrupt(i))
  }

  /** Positions of the active window that report a vehicle (a seeded
    * choice of Vehicles out of ActiveTrips, the same for every snapshot).
    */
  private val vehicleSlots: Array[Int] = {
    val r = new java.util.SplittableRandom(seed ^ 0x5eed)
    val a = Array.range(0, ActiveTrips)
    for (x <- a.length - 1 to 1 by -1) { val y = r.nextInt(x + 1); val t = a(x); a(x) = a(y); a(y) = t }
    a.take(Vehicles)
  }

  /** (trip, vehicle id or None, position timestamp) of each vehicle in snapshot i. */
  def vehicles(i: Int): Seq[(Int, Option[String], Long)] =
    vehicleSlots.toSeq.zipWithIndex.map { case (slot, q) =>
      val k = firstActive(i) + slot
      (k, if (q < Vehicles - VehiclesWithoutId) Some(vehicleId(k)) else None,
        snapshotTime(i) - pick(h(10, k, i), 30))
    }

  def vehiclePositions(i: Int): Array[Byte] = {
    val now = snapshotTime(i)
    val entities = vehicles(i).map { case (k, vid, ts) =>
      val j = math.min(StopsPerTrip - 1,
        ((now - DayStart - dayOffset(i) - sched(k, 0)) / StopGapS).toInt)
      val s = stop(k, j)
      new Pb().msg(2) { e =>
        e.string(1, s"v$k")
        e.msg(4) { vp =>
          vp.msg(1)(_.string(1, tripId(k)).string(5, routeId(route(k))))
          vp.msg(2)(_.float(1, (43.6 + s * 1e-4).toFloat).float(2, (7.2 + s * 1e-4).toFloat)
            .float(3, pick(h(12, k), 360).toFloat))
          vp.int(5, ts)
          vp.string(7, stopId(s))
          vid.foreach(id => vp.msg(8)(_.string(1, id)))
        }
      }.toBytes
    }
    feed(now, entities, vpCorrupt(i))
  }

  /** Header + entities; a corrupt snapshot is cut inside its last entity. */
  private def feed(ts: Long, entities: Seq[Array[Byte]], truncate: Boolean): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(new Pb().msg(1)(_.string(1, "2.0").int(2, 0).int(3, ts)).toBytes)
    entities.foreach(b => out.write(b))
    val all = out.toByteArray
    if (truncate) all.take(all.length - entities.last.length / 2) else all
  }

  def snapshotName(prefix: String, i: Int): String = {
    val t = java.time.LocalDateTime.ofEpochSecond(snapshotTime(i), 0,
      java.time.ZoneOffset.UTC)
    f"${prefix}_${t.getYear}%04d${t.getMonthValue}%02d${t.getDayOfMonth}%02d_${t.getHour}%02d${t.getMinute}%02d_$i%05d.pb"
  }

  // ---- expected counts ----

  def tuHeaders(i: Int): Long = if (tuCorrupt(i)) 0L else TuHeadersPerSnapshot.toLong
  def tuStopRows(i: Int): Long = if (tuCorrupt(i)) 0L else TuStopRowsPerSnapshot.toLong
  def vpRows(i: Int): Long = if (vpCorrupt(i)) 0L else Vehicles.toLong
  def corrupt(i: Int): Long = (if (tuCorrupt(i)) 1L else 0L) + (if (vpCorrupt(i)) 1L else 0L)

  /** Stop events of snapshot i that the spine joins (every RT stop update
    * has a time and a scheduled counterpart).
    */
  def observations(i: Int): Iterator[Obs] =
    if (tuCorrupt(i)) Iterator.empty
    else tuEntities(i).iterator.flatMap { case (k, from) =>
      (0 until StopsPerTrip).iterator.map { j =>
        val t = predicted(k, j, from)
        Obs(k, j + 1, stop(k, j), t, t - (DayStart + sched(k, j)))
      }
    }

  /** Expected panel outputs over the snapshots landed so far, keeping only
    * observations and positions at or after `cutoff` (the live window).
    */
  def panels(landed: Seq[Int], cutoff: Long): PanelExpect = {
    val q15 = mutable.HashSet.empty[Long]; val heat = mutable.HashSet.empty[Long]
    val dist = mutable.HashSet.empty[Long]; val trips = mutable.HashSet.empty[Int]
    val routes = mutable.HashSet.empty[Int]; val stops = mutable.HashSet.empty[Int]
    val stopHours = mutable.HashSet.empty[Long]; val vehicleIds = mutable.HashSet.empty[String]
    var n = 0L; var onTime = 0L
    for (i <- landed; o <- observations(i) if o.epoch >= cutoff) {
      n += 1; if (o.delay <= 300) onTime += 1
      q15 += Math.floorDiv(o.epoch, 900L)
      val day = Math.floorDiv(o.epoch, 86400L)
      heat += ((day + 3) % 7) * 24 + Math.floorMod(o.epoch, 86400L) / 3600
      dist += Math.floorDiv(o.delay, 60L)
      trips += o.trip; routes += route(o.trip); stops += o.stop
      stopHours += o.stop.toLong * 1000000L + Math.floorDiv(o.epoch, 3600L)
    }
    for (i <- landed if !vpCorrupt(i); (_, vid, ts) <- vehicles(i) if ts >= cutoff) vid.foreach(vehicleIds += _)
    PanelExpect(Map(
      "avg_delay_over_time" -> q15.size.toLong,
      "punctuality" -> 1L,
      "top_delayed_routes" -> math.min(10, routes.size).toLong,
      "top_problem_stops" -> math.min(10, stops.size).toLong,
      "delay_heatmap" -> heat.size.toLong,
      "delay_distribution" -> dist.size.toLong,
      "travel_time" -> trips.size.toLong,
      "vehicle_map" -> vehicleIds.size.toLong,
      "stops_service_state" -> Stops.toLong,
      "delay_evolution_per_stop" -> stopHours.size.toLong), n, onTime)
  }

  // ---- static schedule ----

  private def gtfsTime(s: Int): String = f"${s / 3600}%d:${s / 60 % 60}%02d:${s % 60}%02d"

  /** The four GTFS text files (name → content). Each holds its valid rows
    * plus BadRows malformed ones (an integer column that does not parse)
    * at seeded positions; names with commas exercise quoting, and empty
    * or literal NULL fields exercise the NULL_IF list.
    */
  def staticFiles: Seq[(String, String)] = {
    def file(name: String, header: String, n: Int)(row: Int => String)(bad: Int => String) = {
      val badAt = (0 until BadRows(name)).map(m => pick(h(13, name.hashCode, m), n)).sorted
      val sb = new java.lang.StringBuilder(n * 64)
      sb.append(header).append('\n')
      var b = 0
      for (x <- 0 until n) {
        sb.append(row(x)).append('\n')
        while (b < badAt.size && badAt(b) == x) { sb.append(bad(x)).append('\n'); b += 1 }
      }
      name -> sb.toString
    }
    Seq(
      file("routes.txt", "route_id,agency_id,route_short_name,route_long_name,route_type,route_url,route_color,route_text_color", Routes)(
        r => s"""${routeId(r)},AG,L$r,"Ligne $r, centre",3,,NULL,FFFFFF""")(
        r => s"""${routeId(r)},AG,L$r,"Ligne $r, centre",bus,,NULL,FFFFFF"""),
      file("trips.txt", "route_id,service_id,trip_id,trip_headsign,trip_short_name,direction_id,shape_id,wheelchair_accessible,bike_allowed", Trips)(
        k => s"${routeId(route(k))},SVC,${tripId(k)},Terminus ${k % 7},,${k % 2},SH${route(k)},1,0")(
        k => s"${routeId(route(k))},SVC,${tripId(k)},Terminus ${k % 7},,x,SH${route(k)},1,0"),
      file("stops.txt", "stop_id,stop_code,stop_name,stop_lat,stop_lon,zone_id,location_type,parent_station,stop_timezone,wheelchair_boarding", Stops)(
        s => s"""${stopId(s)},C$s,"Arret $s, quai",${43.6 + s * 1e-4},${7.2 + s * 1e-4},,0,null,,1""")(
        s => s"""${stopId(s)},C$s,"Arret $s, quai",${43.6 + s * 1e-4},${7.2 + s * 1e-4},,?,null,,1"""),
      file("stop_times.txt", "trip_id,arrival_time,departure_time,stop_id,stop_sequence,pickup_type,drop_off_type", Trips * StopsPerTrip) { x =>
        val k = x / StopsPerTrip; val j = x % StopsPerTrip; val t = gtfsTime(sched(k, j))
        s"${tripId(k)},$t,$t,${stopId(stop(k, j))},${j + 1},0,0"
      } { x =>
        val k = x / StopsPerTrip; val t = gtfsTime(sched(k, 0))
        s"${tripId(k)},$t,$t,${stopId(stop(k, 0))},s,0,0"
      })
  }

  /** Valid rows per static silver table. */
  val staticRows: Map[String, Long] = Map(
    "routes_static_silver" -> Routes.toLong, "trips_static_silver" -> Trips.toLong,
    "stops_static_silver" -> Stops.toLong,
    "stop_times_static_silver" -> (Trips * StopsPerTrip).toLong)
  val staticBadRows: Long = BadRows.values.sum.toLong
}
