package perfbench

import java.io.{File, PrintWriter}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Spans recorded from the benchmark's side of each layer boundary, one
  * trace per micro-batch: the trigger, its phases laid end to end from
  * the query's `durationMs` (latestOffset, walCommit, getBatch,
  * queryPlanning, addBatch, commitOffsets — the engine's order), and the
  * sink tasks under `addBatch`, each from the put-client factory call to
  * its last put. Put counts and time are span counts, not spans. */
object Trace {
  val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
    "commitOffsets")

  final case class Span(trace: Long, id: Int, parent: Int, name: String, startUs: Long,
    endUs: Long, puts: Long = 0L, putUs: Long = 0L) {
    def durUs: Long = endUs - startUs
    def json: String = Json.obj(Seq(
      "trace" -> trace.toString, "id" -> id.toString, "parent" -> parent.toString,
      "name" -> Json.str(name), "start_us" -> startUs.toString, "end_us" -> endUs.toString,
      "puts" -> puts.toString, "put_us" -> putUs.toString))
  }

  def epochUs(iso: String): Long = {
    val i = java.time.Instant.parse(iso)
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Length of the union of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      val from = math.max(s, end)
      if (e > from) { total += e - from; end = e }
    }
    total
  }

  def spans(ps: Seq[StreamingQueryProgress], tasks: Seq[TimedClient]): Seq[Span] = {
    val byBatch = tasks.groupBy(_.batchId)
    ps.flatMap { p =>
      val start = epochUs(p.timestamp)
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue * 1000L }
      val trigger = Span(p.batchId, 0, -1, "trigger", start,
        start + d.getOrElse("triggerExecution", 0L))
      var at = start
      val phases = Phases.filter(d.contains).zipWithIndex.map { case (k, i) =>
        val s = Span(p.batchId, i + 1, 0, k, at, at + d(k))
        at += d(k)
        s
      }
      val addId = phases.find(_.name == "addBatch").map(_.id).getOrElse(0)
      val sink = byBatch.getOrElse(p.batchId, Nil).zipWithIndex.map { case (t, i) =>
        Span(p.batchId, 100 + i, addId, "sink.task", t.startUs, t.endUs, t.puts, t.putNs / 1000)
      }
      trigger +: (phases ++ sink)
    }
  }

  /** Per-batch self time of each layer, as medians over batches: the
    * trigger minus its phases, addBatch minus the time some sink task
    * ran, and sink tasks minus their puts. */
  def selfTimes(all: Seq[Span]): Seq[(String, (Double, String))] = {
    val perBatch = all.groupBy(_.trace).values.toSeq.map { ss =>
      val trigger = ss.find(_.name == "trigger").map(_.durUs).getOrElse(0L)
      val phases = ss.filter(s => s.parent == 0)
      val add = ss.find(_.name == "addBatch").map(_.durUs).getOrElse(0L)
      val tasks = ss.filter(_.name == "sink.task")
      (trigger - phases.map(_.durUs).sum,
        math.max(0L, add - covered(tasks.map(t => (t.startUs, t.endUs)))),
        tasks.map(t => t.durUs - t.putUs).sum,
        tasks.map(_.putUs).sum)
    }
    def med(f: ((Long, Long, Long, Long)) => Long) = Stats.median(perBatch.map(f(_) / 1000.0))
    Seq(
      "trace.self_ms.trigger_p50" -> (med(_._1), "ms"),
      "trace.self_ms.addBatch_p50" -> (med(_._2), "ms"),
      "trace.self_ms.sink_task_p50" -> (med(_._3), "ms"),
      "trace.self_ms.put_p50" -> (med(_._4), "ms"))
  }

  /** Write every span of the run as JSON lines under `dir`. */
  def write(dir: String, file: String, all: Seq[Span]): Unit = {
    new File(dir).mkdirs()
    val out = new PrintWriter(new File(dir, file), "UTF-8")
    try all.foreach(s => out.println(s.json)) finally out.close()
  }
}
