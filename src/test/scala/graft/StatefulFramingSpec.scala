package graft

import graft.streaming.{RawPacket, StatefulFraming}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Stateful framing: partial tails carried across packets per
  * connection (proxy.ex:154) and event-time stale-session detection,
  * logged from the executor (proxy.ex:125-131). */
class StatefulFramingSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.test
  private val EOT = StatefulFraming.EOT

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("buffer carry across packets and stale timeout") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    val input = MemoryStream[RawPacket]
    val out = StatefulFraming.frames(
      input.toDS().withWatermark("receiveTs", "10 minutes"),
      staleTimeoutMs = 3600 * 1000L)
    val query = out.writeStream
      .outputMode("append")
      .format("memory").queryName("stateful_frames")
      .start()

    val lines = TelemetryCapture {
      try {
        // conn-a: frame m1 completes; "par" stays buffered.
        // conn-b: one complete frame, then goes idle.
        input.addData(
          RawPacket("conn-a", "10.0.0.1", ts("2026-01-01 10:00:00"), s"m1${EOT}par"),
          RawPacket("conn-b", "10.0.0.2", ts("2026-01-01 10:00:00"), s"b1${EOT}"))
        query.processAllAvailable()
        // conn-a: the buffered "par" completes into "partial".
        input.addData(
          RawPacket("conn-a", "10.0.0.1", ts("2026-01-01 10:10:00"), s"tial${EOT}m2${EOT}"))
        query.processAllAvailable()
        // advance the watermark far past conn-b's timeout…
        input.addData(
          RawPacket("conn-a", "10.0.0.1", ts("2026-01-01 13:00:00"), s"m3${EOT}"))
        query.processAllAvailable()
        // …and once more so the timed-out state fires.
        input.addData(
          RawPacket("conn-a", "10.0.0.1", ts("2026-01-01 13:30:00"), s"m4${EOT}"))
        query.processAllAvailable()
      } finally query.stop()
    }

    val rows = spark.table("stateful_frames")
      .as[graft.streaming.FrameEvent].collect()
    val aFrames = rows.filter(_.connId == "conn-a")
      .sortBy(_.receiveMicros).map(_.message).toSeq
    assert(aFrames == Seq("m1", "partial", "m2", "m3", "m4"),
      s"cross-packet carry reassembles the split frame; got $aFrames")
    val stale = TelemetryCapture.stale(lines)
    assert(stale.size == 1 && stale.head.matches(
      "stale_connection conn=conn-b batch=\\d+"),
      s"idle conn-b logs exactly one stale line with its batch id; got $stale")
    assert(rows.filter(_.connId == "conn-b").map(_.message).toSeq == Seq("b1"),
      "the timeout emits no row")
  }

  test("equal-timestamp packets apply in arrival (seq) order, not payload order") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    val input = MemoryStream[RawPacket]
    val query = StatefulFraming.frames(
      input.toDS().withWatermark("receiveTs", "10 minutes"),
      staleTimeoutMs = 3600 * 1000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("seq_order_frames")
      .start()

    try {
      // Same connection, same millisecond. Applied in seq order the
      // buffer carry yields "x1" then "prefix"; payload-alphabetical
      // order ("fix…" < "x1…") would instead splice "fix" and "x1pre".
      val t = ts("2026-01-01 10:00:00")
      input.addData(
        RawPacket("conn-a", "10.0.0.1", t, s"x1${EOT}pre", seq = 1),
        RawPacket("conn-a", "10.0.0.1", t, s"fix${EOT}", seq = 2))
      query.processAllAvailable()
    } finally query.stop()

    val msgs = spark.table("seq_order_frames")
      .as[graft.streaming.FrameEvent].collect()
      .map(_.message).toSeq
    assert(msgs == Seq("x1", "prefix"),
      s"strict arrival order (proxy.ex:154); got $msgs")
  }
}
