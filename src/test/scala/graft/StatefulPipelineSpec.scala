package graft

import graft.streaming.{OcsPipeline, RawPacket}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one-call composed pipeline: stateful framing → heartbeat
  * filter → CloudEvent projection; idle connections are logged, never
  * emitted. */
class StatefulPipelineSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.test
  private val EOT = OcsPipeline.EOT

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("statefulCloudEvents frames across packets and surfaces stale conns") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    val input = MemoryStream[RawPacket]
    val query = OcsPipeline.statefulCloudEvents(
      input.toDS().withWatermark("receiveTs", "10 minutes"),
      staleTimeoutMs = 3600 * 1000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("stateful_ce")
      .start()

    val lines = TelemetryCapture {
      try {
        input.addData(
          RawPacket("conn-a", "10.0.0.1", ts("2026-01-01 10:00:00"),
            s"m1${EOT}HEARTBEAT${EOT}par"),
          RawPacket("conn-b", "10.0.0.2", ts("2026-01-01 10:00:00"), s"b1${EOT}"))
        query.processAllAvailable()
        input.addData(
          RawPacket("conn-a", "10.0.0.1", ts("2026-01-01 10:10:00"), s"tial${EOT}"))
        query.processAllAvailable()
        input.addData(
          RawPacket("conn-a", "10.0.0.1", ts("2026-01-01 13:00:00"), s"m2${EOT}"))
        query.processAllAvailable()
        input.addData(
          RawPacket("conn-a", "10.0.0.1", ts("2026-01-01 13:30:00"), s"m3${EOT}"))
        query.processAllAvailable()
      } finally query.stop()
    }

    val out = spark.table("stateful_ce")
    assert(!out.columns.contains("kind"), s"no marker column: ${out.columns.toSeq}")
    val aRaw = out.filter(col("partitionkey") === "conn-a")
      .orderBy(col("receiveTs")).select("raw").as[String].collect().toSeq
    assert(aRaw == Seq("m1", "partial", "m2", "m3"),
      "heartbeat dropped, split frame reassembled, CloudEvents in order")
    assert(out.filter(col("id").isNull).count() == 0,
      "every row is a frame with a content-addressed id")
    assert(out.filter(col("partitionkey") === "conn-b")
      .select("raw").as[String].collect().toSeq == Seq("b1"),
      "idle conn-b contributes its frame and nothing else")
    val stale = TelemetryCapture.stale(lines)
    assert(stale.size == 1 && stale.head.startsWith("stale_connection conn=conn-b "),
      s"idle conn-b surfaces as exactly one stale line; got $stale")
  }

  test("stateful and stateless pipelines derive identical CloudEvent ids") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext

    // Microsecond-precision timestamps: the id is content-addressed
    // over the formatted time, so any truncation in the stateful path
    // would fork the ids between the two variants.
    val packets = Seq(
      RawPacket("conn-a", "10.0.0.1",
        ts("2026-01-01 10:00:00.123456"), s"m1${EOT}", seq = 1),
      RawPacket("conn-a", "10.0.0.1",
        ts("2026-01-01 10:00:00.987654"), s"m2${EOT}HEARTBEAT${EOT}", seq = 2),
      RawPacket("conn-b", "10.0.0.2",
        ts("2026-01-01 10:00:01.000001"), s"b1${EOT}", seq = 3))

    val statelessIds = OcsPipeline.cloudEvents(packets.toDF())
      .select("id").as[String].collect().toSet

    val input = MemoryStream[RawPacket]
    val query = OcsPipeline.statefulCloudEvents(
      input.toDS().withWatermark("receiveTs", "10 minutes"),
      staleTimeoutMs = 3600 * 1000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("id_parity_ce")
      .start()
    try {
      input.addData(packets: _*)
      query.processAllAvailable()
    } finally query.stop()

    val statefulIds = spark.table("id_parity_ce")
      .select("id").as[String].collect().toSet

    assert(statelessIds.nonEmpty && statefulIds == statelessIds,
      s"same packets must yield the same content-addressed ids; " +
        s"stateless $statelessIds vs stateful $statefulIds")
  }
}
