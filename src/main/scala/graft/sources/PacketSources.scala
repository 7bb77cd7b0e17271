package graft.sources

import graft.streaming.RawPacket
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Packet sources for driving the OCS pipeline without a live
  * listener (production ingests through `graft-multisocket`, see
  * `MultiSocketSource`):
  *
  *  - `fake`: deterministic synthetic packet generator (the
  *    reference's mix task lib/mix/tasks/fake_source.ex — canned
  *    messages, optional heartbeats every 30th message, EOT-joined)
  *    built on the rate source, so it scales its event rate with the
  *    trigger and needs no external process.
  *  - `replay`: the testdata-derived packet fixture as a static frame.
  *
  * Both produce the RawPacket shape `OcsPipeline.cloudEvents` and
  * `StatefulFraming.frames` consume.
  */
object PacketSources {

  private val EOT = graft.streaming.OcsPipeline.EOT

  /** Synthetic OCS traffic: `rowsPerSecond` packets/s spread over
    * `nConns` connections; every 30th message per the heartbeat cadence
    * of fake_source.ex, deterministic payloads otherwise. */
  def fake(spark: SparkSession, rowsPerSecond: Int = 100,
    nConns: Int = 8, heartbeats: Boolean = true): Dataset[RawPacket] = {
    import spark.implicits._
    // Cadence per CONNECTION (value DIV nConns is the per-conn message
    // index): a global value % 30 would starve the connections whose
    // id never lands on a multiple of 30 mod nConns.
    val msg =
      if (heartbeats)
        when((col("value") / nConns).cast("long") % 30 === 0, lit("HEARTBEAT"))
          .otherwise(concat(lit("4,050,TMOV,msg-"), col("value")))
      else concat(lit("4,050,TMOV,msg-"), col("value"))
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .load() // (timestamp: Timestamp, value: Long)
      .select(
        concat(lit("conn-"), pmod(col("value"), lit(nConns))).as("connId"),
        concat(lit("10.0.0."), pmod(col("value"), lit(nConns))).as("sourceIp"),
        col("timestamp").as("receiveTs"),
        concat(msg, lit(EOT)).as("payload"),
        col("value").as("seq")) // rate-source value: globally monotonic
      .as[RawPacket]
  }

  /** Batch replay of the testdata-derived packet fixture (the same
    * construction the Trike batch operators use) as a static frame for
    * pipeline testing at any SF. */
  def replay(spark: SparkSession, dir: String): DataFrame =
    graft.Tables(spark, dir).events
      .select(
        concat(lit("conn-"), col("user_id")).as("connId"),
        concat(lit("10.0.0."), pmod(col("user_id"), lit(250))).as("sourceIp"),
        col("ts").as("receiveTs"),
        concat(
          when(col("event_id") % 7 === 0, lit("HEARTBEAT"))
            .otherwise(concat(col("event_type"), lit(","), col("event_id"))),
          lit(EOT)).as("payload"),
        col("event_id").as("seq"))
}
