package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

object Stats {
  def quantile(sorted: Array[Float], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.length - 1, math.max(0, math.ceil(q * sorted.length).toInt - 1))).toDouble

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
}

/** Minimal JSON rendering for the result line and trace files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Collects the progress of every micro-batch of one query. */
final class ProgressLog extends StreamingQueryListener {
  val all = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = all.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
    all.asScala.filter(_.id == id).toSeq.sortBy(_.batchId)
}

/** Executor-side totals from task metrics of tasks ending inside
  * `window` (epoch us), plus per-stage task-time skew (slowest task over
  * the median task, stages of two or more tasks). */
final class ExecLog extends SparkListener {
  @volatile var window: (Long, Long) = (0L, Long.MaxValue)
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  private val stageTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Double]]
  val skews = mutable.ArrayBuffer.empty[Double]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val t = Clock.nowUs
    if (m != null && t >= window._1 && t < window._2) {
      tasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      stageTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        m.executorRunTime.toDouble
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    stageTimes.remove(key).filter(_.size >= 2).foreach { ts =>
      val med = Stats.median(ts.toSeq)
      if (med > 0) skews += ts.max / med
    }
  }
}

/** Host and process readings: process CPU, peak RSS, steal time. */
object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  def processCpuNs: Long = os.getProcessCpuTime
  def threadCpuNs(t: Thread): Long = threads.getThreadCpuTime(t.getId)

  def rssPeakMb: Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).get
    finally src.close()
  }.getOrElse(Double.NaN)

  /** Cumulative steal jiffies over all CPUs, or None when /proc/stat
    * can't be read. */
  def stealJiffies: Option[Long] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+")(8).toLong).get
    finally src.close()
  }.toOption

  /** Jiffies per second from `getconf CLK_TCK`, or None. */
  lazy val clkTck: Option[Long] = scala.util.Try {
    val p = new ProcessBuilder("getconf", "CLK_TCK").redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes()).trim
    p.waitFor()
    out.toLong
  }.toOption.filter(_ > 0)

  /** Seconds of steal between two samples; None unless both samples and
    * the tick rate are known. */
  def stealSeconds(a: Option[Long], b: Option[Long]): Option[Double] =
    for (x <- a; y <- b; hz <- clkTck) yield (y - x).toDouble / hz
}
