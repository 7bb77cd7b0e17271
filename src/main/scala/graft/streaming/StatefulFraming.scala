package graft.streaming

import graft.telemetry.Telemetry
import org.apache.spark.TaskContext
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-connection framing state: the unframed tail after the last EOT
  * (the reference carries this in the proxy's connection state and
  * prepends it to the next packet — lib/trike/proxy.ex:154
  * `extract(buffer <> data)`), plus the last-activity time driving the
  * stale timeout (proxy.ex:125-131, 232-240). */
final case class ConnState(buffer: String, lastSeenMs: Long)

/** One completed frame of the stateful pipeline. Carries
  * MICROseconds since epoch so the CloudEvent id/time derived
  * downstream is bit-identical to the stateless path's full-precision
  * timestamp. */
final case class FrameEvent(connId: String, sourceIp: String,
  receiveMicros: Long, message: String, pos: Long = 0L)

/** The stateful depth of the OCS pipeline that the stateless
  * `OcsPipeline.frames` can't express: EOT framing with the partial
  * tail carried ACROSS packets per connection, and event-time
  * stale-session detection, both via flatMapGroupsWithState keyed by
  * connection.
  *
  * Scale posture: state per key is one small string + a long; the
  * stream shuffles once on connId (the same key the sink partitions
  * by); timeouts ride the engine's watermark, no driver timers.
  */
object StatefulFraming {

  val EOT: String = OcsPipeline.EOT

  /** packets (already `.withWatermark("receiveTs", …)`) → frames with
    * cross-packet buffer carry. A connection idle for `staleTimeoutMs`
    * of event time is dropped from state and logged as one
    * `stale_connection` line from the executor — the reference closes
    * and logs an idle socket inside its own proxy (proxy.ex:125-131);
    * nothing about it travels the put path. */
  def frames(packets: Dataset[RawPacket], staleTimeoutMs: Long): Dataset[FrameEvent] = {
    import packets.sparkSession.implicits._
    packets
      .groupByKey(_.connId)
      .flatMapGroupsWithState[ConnState, FrameEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (connId: String, it: Iterator[RawPacket], state: GroupState[ConnState]) =>
          if (state.hasTimedOut) {
            val batchId = TaskContext.get().getLocalProperty("streaming.sql.batchId")
            Telemetry.info(s"stale_connection conn=$connId batch=$batchId")
            state.remove()
            Iterator.empty
          } else {
            // One extract() per packet in ARRIVAL order, buffer carried
            // between packets exactly like proxy.ex:154. The seq
            // tiebreak matters: two packets in the same millisecond
            // must apply in arrival order, not payload order, or the
            // carried buffer splices frames from the wrong packet.
            val sorted = it.toVector.sortBy(p => (p.receiveTs.getTime, p.seq))
            var buf = state.getOption.map(_.buffer).getOrElse("")
            val out = Vector.newBuilder[FrameEvent]
            var lastMs = state.getOption.map(_.lastSeenMs).getOrElse(0L)
            // Emission index: a total within-(key, batch) order for the
            // keyed sink's deterministic sort. Frames split from one
            // packet share receiveMicros, so the timestamp alone can't
            // order them; pos is arrival order by construction, and a
            // replay of the same micro-batch reproduces it exactly
            // (sorted input → same split → same indices).
            var pos = 0L
            for (p <- sorted) {
              val micros =
                p.receiveTs.getTime / 1000L * 1000000L + p.receiveTs.getNanos / 1000L
              val statements = (buf + p.payload).split(EOT, -1)
              statements.dropRight(1).foreach { m =>
                out += FrameEvent(connId, p.sourceIp, micros, m, pos)
                pos += 1
              }
              buf = statements.last
              lastMs = math.max(lastMs, p.receiveTs.getTime)
            }
            state.update(ConnState(buf, lastMs))
            // A late packet can put lastMs+timeout behind the current
            // watermark, which setTimeoutTimestamp rejects (query
            // crash) — clamp so the key times out on the next advance.
            val wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(math.max(lastMs + staleTimeoutMs, wm + 1))
            out.result().iterator
          }
      }
  }
}
