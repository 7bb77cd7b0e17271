package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Base64
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import graft.streaming.{KeyedOrderedSink, KinesisWireClient}
import graft.streaming.KinesisWireClient.{PutRecordRequest, PutRecordResponse, WireError}

/** Wall clock in epoch microseconds, read through the monotonic clock so
  * it never steps during a run. The generator stamps frames with
  * CLOCK_REALTIME microseconds; both sides share the host clock. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  def us(nanoTime: Long): Long = baseUs + (nanoTime - baseNs) / 1000
  def nowUs: Long = us(System.nanoTime())
  def sleepUntilUs(t: Long): Unit = {
    val d = t - nowUs
    if (d > 0) Thread.sleep(d / 1000, ((d % 1000) * 1000).toInt)
  }
}

/** Fixed-resolution histogram of non-negative values, safe to update from
  * many threads. Values past the last bucket land in the last one. */
final class Histogram(resolution: Double, buckets: Int) {
  private val counts = new AtomicLongArray(buckets)
  def add(v: Double): Unit =
    counts.incrementAndGet(math.min(buckets - 1, math.max(0, (v / resolution).toInt)))
  def total: Long = (0 until buckets).map(counts.get).sum
  def quantile(q: Double): Double = {
    val n = total
    if (n == 0) return 0.0
    val target = math.ceil(q * n).toLong.max(1L)
    var acc = 0L
    var i = 0
    while (i < buckets) {
      acc += counts.get(i)
      if (acc >= target) return (i + 0.5) * resolution
      i += 1
    }
    buckets * resolution
  }
}

/** A put the fake service accepted: key, accept time, encoded payload. */
final case class Landed(key: String, acceptUs: Long, dataB64: String)

/** The fake Kinesis `PutRecord` endpoint behind `KinesisWireClient`'s
  * transport seam. Like the service, it rejects a stale
  * `SequenceNumberForOrdering` and an unknown stream; it answers at once
  * (no modelled network). Accepted puts go to `landed` for the checker,
  * or are only counted when `landed` is null (set-up cycles). */
final class FakeKinesis(val stream: String,
    landed: LinkedBlockingQueue[Landed], serviceUs: Option[Histogram]) {
  private final class KeyState { var last: Option[String] = None }
  private val keys = new ConcurrentHashMap[String, KeyState]()
  private val nextSeq = new AtomicLong(49000000000L)
  val accepted = new AtomicLong(0L)
  @volatile var firstAcceptUs: Long = 0L

  val transport: KinesisWireClient.Transport = (req: PutRecordRequest) => {
    val t0 = System.nanoTime()
    val st = keys.computeIfAbsent(req.partitionKey, _ => new KeyState)
    val res = st.synchronized {
      if (req.streamName != stream)
        Left(WireError("ResourceNotFoundException", s"no stream ${req.streamName}",
          retryable = false))
      else if (req.sequenceNumberForOrdering != st.last)
        Left(WireError("InvalidArgumentException",
          s"stale SequenceNumberForOrdering for ${req.partitionKey}", retryable = false))
      else {
        val seq = nextSeq.incrementAndGet().toString
        st.last = Some(seq)
        Right(PutRecordResponse("shardId-000000000000", seq))
      }
    }
    if (res.isRight) {
      val t1 = System.nanoTime()
      if (accepted.getAndIncrement() == 0L) firstAcceptUs = Clock.us(t1)
      if (landed != null) landed.add(Landed(req.partitionKey, Clock.us(t1), req.dataB64))
      if (Sink.inWindow(t1)) serviceUs.foreach(_.add((t1 - t0) / 1000.0))
    }
    res
  }
}

/** Statics the executor-side put-client factory resolves, so the task
  * closure captures nothing. */
object Sink {
  @volatile var client: KeyedOrderedSink.PutClient = _
  @volatile var traced: Boolean = false
  val tasks = new ConcurrentLinkedQueue[TimedClient]()
  @volatile var putUs = new Histogram(0.1, 20000)
  /** Put and service times are sampled only inside this window (epoch us). */
  @volatile var window: (Long, Long) = (0L, 0L)
  def inWindow(nanoTime: Long): Boolean = {
    val t = Clock.us(nanoTime)
    t >= window._1 && t < window._2
  }
  val factory: () => KeyedOrderedSink.PutClient = () =>
    if (traced) { val c = new TimedClient(client); tasks.add(c); c } else client
}

/** Per-task wrapper (one per factory call) recording the task's span —
  * factory call to last put — its put count and time, and throttle
  * retries. */
final class TimedClient(inner: KeyedOrderedSink.PutClient)
    extends KeyedOrderedSink.PutClient {
  val batchId: Long = Option(org.apache.spark.TaskContext.get())
    .flatMap(tc => Option(tc.getLocalProperty("streaming.sql.batchId")))
    .map(_.toLong).getOrElse(-1L)
  val startUs: Long = Clock.nowUs
  @volatile var endUs: Long = startUs
  @volatile var puts = 0L
  @volatile var putNs = 0L
  @volatile var retries = 0L

  override def put(partitionKey: String, data: String, seqForOrdering: Option[Long],
      batchId: Long): Long = {
    val t0 = System.nanoTime()
    try {
      val r = inner.put(partitionKey, data, seqForOrdering, batchId)
      val t1 = System.nanoTime()
      puts += 1
      putNs += t1 - t0
      if (Sink.inWindow(t1)) Sink.putUs.add((t1 - t0) / 1000.0)
      endUs = Clock.us(t1)
      r
    } catch {
      case e: KeyedOrderedSink.TransientPutFailure => retries += 1; throw e
    }
  }
  override def lastSequence(partitionKey: String): Option[Long] =
    inner.lastSequence(partitionKey)
  override def putsInBatch(partitionKey: String, batchId: Long): Long =
    inner.putsInBatch(partitionKey, batchId)
}

/** Checks every landed put off the put path, on its own thread, and
  * records its latency.
  *
  *  - the JSON has the canonical key order and `id` is
  *    base64(sha1(time ++ raw));
  *  - the frame belongs to the connection its partition key names;
  *  - no heartbeat lands, and each connection's frames land once, in the
  *    order they were sent.
  *
  * Latency is accept time minus the frame's scheduled send time, binned
  * by the phase its scheduled time falls in. `schedHist`/`acceptHist`
  * count frames per 10 ms bucket from `t0Us` by scheduled and by accept
  * time; their running difference is the unlanded backlog. */
final class Checker(nConns: Int, val t0Us: Long, phaseEndsUs: Array[Long],
    maxSeconds: Int) extends Thread("bench-checker") {
  setDaemon(true)
  val queue = new LinkedBlockingQueue[Landed]()
  @volatile private var closing = false

  private val Canon = ("""\{"data":\{"raw":"([^"\\]*)"\},"id":"([^"\\]*)",""" +
    """"partitionkey":"([^"\\]*)","source":"[^"\\]*","sourceip":"[^"\\]*",""" +
    """"specversion":"1\.0","time":"([^"\\]*)","type":"com\.mbta\.ocs\.raw_message"\}""").r
  private val sha1 = MessageDigest.getInstance("SHA-1")
  private val dec = Base64.getDecoder
  private val enc = Base64.getEncoder

  private val seen = Array.fill(nConns)(new java.util.BitSet())
  private val maxSeen = Array.fill(nConns)(-1L)
  private val keyOf = new Array[String](nConns)
  var duplicates = 0L
  var outOfOrder = 0L
  var heartbeats = 0L
  var malformed = 0L
  var landedFrames = 0L

  val bucketUs = 10000L
  val schedHist = new Array[Int](maxSeconds * 100)
  val acceptHist = new Array[Int](maxSeconds * 100)
  val latencies: Array[FloatBuf] = Array.fill(phaseEndsUs.length + 1)(new FloatBuf)

  def phaseOf(schedUs: Long): Int = {
    var p = 0
    while (p < phaseEndsUs.length && schedUs >= phaseEndsUs(p)) p += 1
    p
  }

  private def bucket(us: Long): Int =
    math.min(schedHist.length - 1, math.max(0, ((us - t0Us) / bucketUs).toInt))

  private def check(l: Landed): Unit = {
    val json = new String(dec.decode(l.dataB64), UTF_8)
    json match {
      case Canon(raw, id, key, time) =>
        val want = enc.encodeToString(sha1.digest((time + raw).getBytes(UTF_8)))
        if (id != want || key != l.key) { malformed += 1; return }
        if (raw == "HEARTBEAT") { heartbeats += 1; return }
        val f = raw.split(',')
        if (f.length < 4 || f(1) != "TMOV") { malformed += 1; return }
        val (i, c, schedUs) = (f(0).toInt, f(2).toInt, f(3).toLong)
        if (c < 0 || c >= nConns) { malformed += 1; return }
        if (keyOf(c) == null) keyOf(c) = key
        else if (keyOf(c) != key) { malformed += 1; return }
        if (seen(c).get(i)) { duplicates += 1; return }
        seen(c).set(i)
        if (i < maxSeen(c)) outOfOrder += 1
        maxSeen(c) = math.max(maxSeen(c), i.toLong)
        landedFrames += 1
        latencies(phaseOf(schedUs)).add((l.acceptUs - schedUs) / 1000f)
        schedHist(bucket(schedUs)) += 1
        acceptHist(bucket(l.acceptUs)) += 1
      case _ => malformed += 1
    }
  }

  override def run(): Unit =
    while (!(closing && queue.isEmpty)) {
      val l = queue.poll(20, TimeUnit.MILLISECONDS)
      if (l != null) synchronized(check(l))
    }

  def finish(): Unit = { closing = true; join() }

  /** Non-heartbeat frames among the first `sent(c)` messages of each
    * connection that never landed. */
  def missing(sent: Seq[Long], heartbeatEvery: Int): Long = synchronized {
    sent.zipWithIndex.map { case (n, c) =>
      var miss = 0L
      var i = 0
      while (i < n) {
        if ((i + 1) % heartbeatEvery != 0 && !seen(c).get(i)) miss += 1
        i += 1
      }
      miss
    }.sum
  }

}

/** Growable float array. */
final class FloatBuf {
  private var a = new Array[Float](1024)
  var size = 0
  def add(v: Float): Unit = {
    if (size == a.length) a = java.util.Arrays.copyOf(a, size * 2)
    a(size) = v
    size += 1
  }
  def sorted: Array[Float] = { val s = java.util.Arrays.copyOf(a, size); java.util.Arrays.sort(s); s }
}
