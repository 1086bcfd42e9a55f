package graft.gtfs

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One observed (vehicle, stop, ts) step. */
case class VehicleStep(vehicle_id: String, stop_id: String, ts_epoch: Long)

/** Emitted when a vehicle moves to a new stop. */
case class StopTransition(
    vehicle_id: String, from_stop: String, to_stop: String,
    ts_epoch: Long, n_stops_seen: Int)

/** Per-vehicle progress carried between micro-batches. */
case class VehicleState(lastStop: String, lastTs: Long, nStops: Int)

/** Stateful streaming beyond windowed aggs (the
  * `flatMapGroupsWithState` surface): track each vehicle's progress
  * across micro-batches and emit a row per stop-to-stop transition —
  * the streaming-native "parcours réel" feed (README.md:126) that the
  * reference can only reconstruct after the fact with batch windows.
  *
  * Scale design: state is keyed by vehicle_id (high cardinality →
  * even shard distribution), one tiny VehicleState per key, and rows
  * within a key arrive together per micro-batch — no shuffle beyond
  * the groupByKey hash partitioning the state store already needs.
  */
object RtStateful {

  private def updateVehicle(
      vehicleId: String, steps: Iterator[VehicleStep],
      state: GroupState[VehicleState]): Iterator[StopTransition] = {
    // Events inside a micro-batch are not ordered — sort the (small)
    // per-vehicle group by event time before folding into state.
    val ordered = steps.toSeq.sortBy(s => (s.ts_epoch, s.stop_id))
    var st = state.getOption.getOrElse(VehicleState(null, Long.MinValue, 0))
    val out = Seq.newBuilder[StopTransition]
    for (s <- ordered if s.stop_id != null && s.ts_epoch >= st.lastTs) {
      if (st.lastStop != null && s.stop_id != st.lastStop)
        out += StopTransition(vehicleId, st.lastStop, s.stop_id, s.ts_epoch, st.nStops + 1)
      if (st.lastStop == null || s.stop_id != st.lastStop)
        st = VehicleState(s.stop_id, s.ts_epoch, st.nStops + 1)
      else st = st.copy(lastTs = s.ts_epoch)
    }
    state.update(st)
    out.result().iterator
  }

  /** vehicle position steps → stop-transition stream. */
  def trackTransitions(steps: Dataset[VehicleStep]): Dataset[StopTransition] = {
    import steps.sparkSession.implicits._
    steps.groupByKey(_.vehicle_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(updateVehicle)
  }

  /** Watermarked event-time windowed delay aggregation (T8 + the
    * "retard moyen dans le temps" KPI as a native streaming query):
    * 15-minute tumbling windows, 10-minute lateness tolerance,
    * append-mode (windows finalize when the watermark passes). The
    * aggregate is [[Kpi.avgDelayPer]], the batch panel's own.
    */
  def delayPerWindow(observations: DataFrame,
                     window_ : String = "15 minutes",
                     lateness: String = "10 minutes"): DataFrame =
    Kpi.avgDelayPer(observations.withWatermark("obs_ts", lateness), window_, window_)
}
