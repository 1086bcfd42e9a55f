package graft.gtfs

import scala.collection.mutable.ArrayBuffer

/** Minimal protobuf wire-format codec (the public encoding documented
  * at protobuf.dev/programming-guides/encoding): varints, 32/64-bit
  * fixed, and length-delimited fields. Self-contained because the
  * environment ships no protobuf-java jar; the GTFS-RT message shapes
  * follow the public gtfs-realtime.proto (v2.0) that the reference
  * consumes via `gtfs_realtime_pb2.FeedMessage`
  * (dags/gtfs_rt_minutely.py:41,59,79,137).
  *
  * Decoder semantics deliberately match protobuf: unknown fields are
  * skipped, absent optional fields are None (the `HasField` gates of
  * gtfs_rt_minutely.py:89-109), later scalar occurrences win.
  */
object ProtoWire {

  final val WireVarint = 0
  final val WireFixed64 = 1
  final val WireLen = 2
  final val WireFixed32 = 5

  /** Cursor over one message's bytes. */
  final class Reader(val buf: Array[Byte], var pos: Int, val end: Int) {
    def this(buf: Array[Byte]) = this(buf, 0, buf.length)
    def hasNext: Boolean = pos < end

    def readVarint(): Long = {
      var shift = 0; var result = 0L
      while (shift < 64) {
        val b = buf(pos); pos += 1
        result |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return result
        shift += 7
      }
      throw new IllegalArgumentException("malformed varint")
    }

    /** Returns (fieldNumber, wireType). */
    def readTag(): (Int, Int) = {
      val t = readVarint()
      ((t >>> 3).toInt, (t & 7).toInt)
    }

    def readFixed32(): Int = {
      val v = (buf(pos) & 0xff) | ((buf(pos + 1) & 0xff) << 8) |
        ((buf(pos + 2) & 0xff) << 16) | ((buf(pos + 3) & 0xff) << 24)
      pos += 4; v
    }

    def readFloat(): Float = java.lang.Float.intBitsToFloat(readFixed32())

    /** Sub-reader over a length-delimited field. */
    def readMessage(): Reader = {
      val len = readVarint().toInt
      val r = new Reader(buf, pos, pos + len)
      pos += len; r
    }

    def readString(): String = {
      val len = readVarint().toInt
      val s = new String(buf, pos, len, java.nio.charset.StandardCharsets.UTF_8)
      pos += len; s
    }

    def skip(wireType: Int): Unit = wireType match {
      case WireVarint => readVarint()
      case WireFixed64 => pos += 8
      case WireLen =>
        // readVarint() advances pos, so the length must be read into a
        // val first — `pos += readVarint()` would capture the stale pos.
        val len = readVarint().toInt
        if (len < 0 || pos + len > end) throw new IllegalArgumentException("truncated length-delimited field")
        pos += len
      case WireFixed32 => pos += 4
      case g => throw new IllegalArgumentException(s"unsupported wire type $g")
    }
  }

  /** Tiny encoder — used by tests/fixture generators to build feed
    * snapshots without a protobuf dependency.
    */
  final class Writer {
    private val out = ArrayBuffer.empty[Byte]

    def toBytes: Array[Byte] = out.toArray

    def varintRaw(v0: Long): this.type = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out += ((v & 0x7f) | 0x80).toByte; v >>>= 7 }
      out += v.toByte; this
    }

    private def tag(field: Int, wt: Int): this.type = varintRaw((field.toLong << 3) | wt)

    def int(field: Int, v: Long): this.type = { tag(field, WireVarint); varintRaw(v) }
    def float(field: Int, v: Float): this.type = {
      tag(field, WireFixed32)
      val bits = java.lang.Float.floatToIntBits(v)
      var i = 0
      while (i < 4) { out += ((bits >>> (8 * i)) & 0xff).toByte; i += 1 }
      this
    }
    def string(field: Int, v: String): this.type =
      bytes(field, v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def bytes(field: Int, v: Array[Byte]): this.type = {
      tag(field, WireLen); varintRaw(v.length.toLong); out ++= v; this
    }
    def message(field: Int)(body: Writer => Unit): this.type = {
      val w = new Writer; body(w); bytes(field, w.toBytes)
    }
  }
}

// ---- GTFS-RT message model (public gtfs-realtime.proto field numbers) ----

/** StopTimeEvent: delay=1, time=2, uncertainty=3. */
case class RtStopTimeEvent(time: Option[Long])

/** StopTimeUpdate: stop_sequence=1, arrival=2, departure=3, stop_id=4. */
case class RtStopTimeUpdate(
    stopSequence: Option[Long], arrival: Option[RtStopTimeEvent],
    departure: Option[RtStopTimeEvent], stopId: Option[String])

/** TripDescriptor: trip_id=1, start_time=2, start_date=3,
  * schedule_relationship=4, route_id=5, direction_id=6.
  */
case class RtTripDescriptor(
    tripId: Option[String], routeId: Option[String], directionId: Option[Long])

/** TripUpdate: trip=1, stop_time_update=2(repeated), vehicle=3,
  * timestamp=4, delay=5.
  */
case class RtTripUpdate(
    trip: Option[RtTripDescriptor], stopTimeUpdates: Seq[RtStopTimeUpdate])

/** Position: latitude=1, longitude=2, bearing=3, odometer=4, speed=5. */
case class RtPosition(
    latitude: Option[Float], longitude: Option[Float], bearing: Option[Float])

/** VehicleDescriptor: id=1, label=2, license_plate=3. */
case class RtVehicleDescriptor(id: Option[String])

/** VehiclePosition: trip=1, position=2, current_stop_sequence=3,
  * current_status=4, timestamp=5, congestion_level=6, stop_id=7,
  * vehicle=8, occupancy_status=9.
  */
case class RtVehiclePosition(
    trip: Option[RtTripDescriptor], position: Option[RtPosition],
    timestamp: Option[Long], stopId: Option[String],
    vehicle: Option[RtVehicleDescriptor])

/** FeedEntity: id=1, is_deleted=2, trip_update=3, vehicle=4, alert=5. */
case class RtFeedEntity(
    id: Option[String], tripUpdate: Option[RtTripUpdate],
    vehicle: Option[RtVehiclePosition])

/** FeedMessage: header=1, entity=2(repeated). FeedHeader:
  * gtfs_realtime_version=1, incrementality=2, timestamp=3.
  */
case class RtFeedMessage(timestamp: Option[Long], entities: Seq[RtFeedEntity])

object GtfsRtProto {
  import ProtoWire._

  def parseFeed(bytes: Array[Byte]): RtFeedMessage = {
    val r = new Reader(bytes)
    var ts: Option[Long] = None
    val entities = ArrayBuffer.empty[RtFeedEntity]
    while (r.hasNext) r.readTag() match {
      case (1, WireLen) => ts = parseHeaderTs(r.readMessage()).orElse(ts)
      case (2, WireLen) => entities += parseEntity(r.readMessage())
      case (_, wt) => r.skip(wt)
    }
    RtFeedMessage(ts, entities.toSeq)
  }

  private def parseHeaderTs(r: Reader): Option[Long] = {
    var ts: Option[Long] = None
    while (r.hasNext) r.readTag() match {
      case (3, WireVarint) => ts = Some(r.readVarint())
      case (_, wt) => r.skip(wt)
    }
    ts
  }

  private def parseEntity(r: Reader): RtFeedEntity = {
    var id: Option[String] = None
    var tu: Option[RtTripUpdate] = None
    var vp: Option[RtVehiclePosition] = None
    while (r.hasNext) r.readTag() match {
      case (1, WireLen) => id = Some(r.readString())
      case (3, WireLen) => tu = Some(parseTripUpdate(r.readMessage()))
      case (4, WireLen) => vp = Some(parseVehicle(r.readMessage()))
      case (_, wt) => r.skip(wt)
    }
    RtFeedEntity(id, tu, vp)
  }

  private def parseTripUpdate(r: Reader): RtTripUpdate = {
    var trip: Option[RtTripDescriptor] = None
    val stus = ArrayBuffer.empty[RtStopTimeUpdate]
    while (r.hasNext) r.readTag() match {
      case (1, WireLen) => trip = Some(parseTripDescriptor(r.readMessage()))
      case (2, WireLen) => stus += parseStopTimeUpdate(r.readMessage())
      case (_, wt) => r.skip(wt)
    }
    RtTripUpdate(trip, stus.toSeq)
  }

  private def parseTripDescriptor(r: Reader): RtTripDescriptor = {
    var tripId: Option[String] = None
    var routeId: Option[String] = None
    var dirId: Option[Long] = None
    while (r.hasNext) r.readTag() match {
      case (1, WireLen) => tripId = Some(r.readString())
      case (5, WireLen) => routeId = Some(r.readString())
      case (6, WireVarint) => dirId = Some(r.readVarint())
      case (_, wt) => r.skip(wt)
    }
    RtTripDescriptor(tripId, routeId, dirId)
  }

  private def parseStopTimeUpdate(r: Reader): RtStopTimeUpdate = {
    var seq: Option[Long] = None
    var arr: Option[RtStopTimeEvent] = None
    var dep: Option[RtStopTimeEvent] = None
    var stopId: Option[String] = None
    while (r.hasNext) r.readTag() match {
      case (1, WireVarint) => seq = Some(r.readVarint())
      case (2, WireLen) => arr = Some(parseStopTimeEvent(r.readMessage()))
      case (3, WireLen) => dep = Some(parseStopTimeEvent(r.readMessage()))
      case (4, WireLen) => stopId = Some(r.readString())
      case (_, wt) => r.skip(wt)
    }
    RtStopTimeUpdate(seq, arr, dep, stopId)
  }

  private def parseStopTimeEvent(r: Reader): RtStopTimeEvent = {
    var time: Option[Long] = None
    while (r.hasNext) r.readTag() match {
      case (2, WireVarint) => time = Some(r.readVarint())
      case (_, wt) => r.skip(wt)
    }
    RtStopTimeEvent(time)
  }

  private def parseVehicle(r: Reader): RtVehiclePosition = {
    var trip: Option[RtTripDescriptor] = None
    var pos: Option[RtPosition] = None
    var ts: Option[Long] = None
    var stopId: Option[String] = None
    var veh: Option[RtVehicleDescriptor] = None
    while (r.hasNext) r.readTag() match {
      case (1, WireLen) => trip = Some(parseTripDescriptor(r.readMessage()))
      case (2, WireLen) => pos = Some(parsePosition(r.readMessage()))
      case (5, WireVarint) => ts = Some(r.readVarint())
      case (7, WireLen) => stopId = Some(r.readString())
      case (8, WireLen) => veh = Some(parseVehicleDescriptor(r.readMessage()))
      case (_, wt) => r.skip(wt)
    }
    RtVehiclePosition(trip, pos, ts, stopId, veh)
  }

  private def parsePosition(r: Reader): RtPosition = {
    var lat: Option[Float] = None
    var lon: Option[Float] = None
    var bearing: Option[Float] = None
    while (r.hasNext) r.readTag() match {
      case (1, WireFixed32) => lat = Some(r.readFloat())
      case (2, WireFixed32) => lon = Some(r.readFloat())
      case (3, WireFixed32) => bearing = Some(r.readFloat())
      case (_, wt) => r.skip(wt)
    }
    RtPosition(lat, lon, bearing)
  }

  private def parseVehicleDescriptor(r: Reader): RtVehicleDescriptor = {
    var id: Option[String] = None
    while (r.hasNext) r.readTag() match {
      case (1, WireLen) => id = Some(r.readString())
      case (_, wt) => r.skip(wt)
    }
    RtVehicleDescriptor(id)
  }
}
