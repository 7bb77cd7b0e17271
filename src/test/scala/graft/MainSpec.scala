package graft

import graft.streaming.{KinesisLikeSink, OcsPipeline, RawPacket}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The deployable entrypoint (graft.Main — application.ex twin):
  * drives Main.start's exact production wiring — watermark → stateful
  * framing → CloudEvent JSON → keyed ordered puts, with a real
  * checkpointLocation — from a MemoryStream into the in-memory Kinesis
  * twin. */
class MainSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.test
  private val EOT = OcsPipeline.EOT

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("Main.start runs the wired pipeline end-to-end with ordered JSON puts") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-main-ckpt").toString
    MainSpec.sharedSink = new KinesisLikeSink
    val cfg = Main.Config(
      staleTimeoutMs = 3600 * 1000L, checkpointDir = ckpt,
      queryName = "graft-main-spec")

    val input = MemoryStream[RawPacket]
    val query = Main.start(input.toDS(), cfg, () => MainSpec.sharedSink)
    val lines = TelemetryCapture {
      try {
        assert(query.name == "graft-main-spec")
        // Two frames + a heartbeat + a carried partial for conn-a, one
        // frame for conn-b.
        input.addData(
          RawPacket("conn-a", "10.0.0.1", ts("2026-01-01 10:00:00"),
            s"m1${EOT}HEARTBEAT${EOT}m2${EOT}par"),
          RawPacket("conn-b", "10.0.0.2", ts("2026-01-01 10:00:00"), s"b1${EOT}"))
        query.processAllAvailable()
        input.addData(
          RawPacket("conn-a", "10.0.0.1", ts("2026-01-01 10:10:00"), s"tial${EOT}"))
        query.processAllAvailable()
        // Advance the watermark far enough for conn-b (idle since
        // 10:00) to cross the 1h stale timeout.
        input.addData(
          RawPacket("conn-a", "10.0.0.1", ts("2026-01-01 13:00:00"), s"m3${EOT}"))
        query.processAllAvailable()
        input.addData(
          RawPacket("conn-a", "10.0.0.1", ts("2026-01-01 13:30:00"), s"m4${EOT}"))
        query.processAllAvailable()
      } finally query.stop()
    }

    val sink = MainSpec.sharedSink
    val a = sink.byKey("conn-a")
    // Heartbeat dropped, split frame reassembled, arrival order kept,
    // sequence chain strictly increasing.
    assert(a.map(_.seq) == a.map(_.seq).sorted)
    val raws = a.map(r =>
      ujsonField(r.data, "\"data\":{\"raw\":\"", "\""))
    assert(raws == Seq("m1", "m2", "partial", "m3", "m4"))
    // The payload is the canonical CloudEvent JSON (alphabetical keys,
    // type field present), not a bare message.
    assert(a.head.data.contains("\"type\":\"com.mbta.ocs.raw_message\""))
    assert(a.head.data.startsWith("{\"data\":"))
    assert(sink.byKey("conn-b").map(r =>
      ujsonField(r.data, "\"data\":{\"raw\":\"", "\"")) == Seq("b1"))
    // conn-b went idle → exactly one stale_connection line logged, and
    // nothing but frames was ever put to the sink.
    val staleLines = TelemetryCapture.stale(lines)
    assert(staleLines.size == 1 && staleLines.head.contains("conn=conn-b"),
      staleLines)
    assert(sink.all.size == 6 && sink.all.forall(_.data.contains("\"raw\"")))
  }

  /** Tiny extractor: substring between `pre` and the next `post`. */
  private def ujsonField(s: String, pre: String, post: String): String = {
    val i = s.indexOf(pre) + pre.length
    s.substring(i, s.indexOf(post, i))
  }

  test("Config resolves from env with reference-shaped keys") {
    val cfg = Main.fromEnv(Map(
      "GRAFT_PORT" -> "9099", "GRAFT_STALE_TIMEOUT_MS" -> "1234",
      "GRAFT_CHECKPOINT_DIR" -> "/tmp/x", "GRAFT_TRIGGER_MS" -> "250"))
    assert(cfg.port == 9099 && cfg.triggerMs == 250L)
    assert(cfg.staleTimeoutMs == 1234L && cfg.checkpointDir == "/tmp/x")
    // Unset keys keep deployable defaults (proxy.ex's 5 min stale
    // timeout, the reference's listen port).
    assert(Main.fromEnv(Map.empty) == Main.Config())
    assert(Main.Config().port == 8001 && Main.Config().staleTimeoutMs == 300000L)
  }
}

object MainSpec {
  /** Static holder (see KeyedOrderedSink.PutClient docs): executor
    * closures resolve the shared sink instead of serializing it. */
  @volatile var sharedSink: KinesisLikeSink = _
}
