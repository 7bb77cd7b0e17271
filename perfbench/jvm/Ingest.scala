package perfbench

import java.io.{BufferedReader, File, InputStreamReader, OutputStreamWriter, PrintWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GraftSession, Main}
import graft.sources.MultiSocketSource
import graft.streaming.{HealthListener, KinesisWireClient, RawPacket}
import graft.telemetry.Telemetry
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{hash, lit, pmod}
import org.apache.spark.sql.streaming.StreamingQuery

/** Ingest-path benchmark: boots the pipeline the way `graft.Main.main`
  * does (session, telemetry, HealthListener, `Main.start` on a
  * `graft-multisocket` source with production trigger, watermark and
  * stale timeout), feeds it from the open-loop generator process
  * (`gen.py`) and lands every put in a fake Kinesis service.
  *
  * Usage: Ingest --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *          --work <scratch dir> --out <trace dir> --gen <gen.py> [--python python3]
  *
  * Prints per-run diagnostics on stderr and one JSON result line last on
  * stdout. */
object Ingest {

  /** `fixedRate` (msgs/s over all connections) runs for `--seconds`. The
    * ladder's rungs are `fixedRate * Step^k` for k from `firstRung` up:
    * rungs far below capacity pass on every run and only cost time. */
  final case class Workload(name: String, fpp: Int, straddle: Boolean,
    fixedRate: Double, firstRung: Int) {
    def ladderStart: Double = fixedRate * math.pow(Step, firstRung)
  }

  val Step = 1.08
  val Workloads: Map[String, Workload] = Seq(
    Workload("ingest_steady", fpp = 1, straddle = false, fixedRate = 8000, firstRung = 9),
    Workload("ingest_bulk", fpp = 20, straddle = true, fixedRate = 40000, firstRung = 4)
  ).map(w => w.name -> w).toMap

  /** Seconds of traffic in the unmeasured pass that warms the JIT before
    * anything is timed: until then a fresh JVM runs the per-frame code
    * cold, and the backlog it builds took several seconds to drain. */
  val JitWarmSeconds = 8
  /** Seconds at the fixed rate before measuring: the first batches of a
    * fresh query pay one-off costs a long-running stream does not. */
  val WarmupSeconds = 3
  val RungSeconds = 3
  val MaxRungs = 16
  val FitRungs = 4
  val LatencyLimitMs = 2500.0
  /** A rung fails when the unlanded backlog, averaged per trigger
    * interval, grows faster than this share of the input rate (the
    * least-squares slope over the rung's seconds, skipping the first,
    * which still carries the previous rate's backlog). */
  val BacklogGrowth = 0.3
  val HeartbeatEvery = 30
  val Stream = "graft-stream"

  private def log(s: String): Unit = Console.err.println(s"[bench] $s")

  final case class Args(workload: Workload, seed: Long, seconds: Int, trace: Boolean,
    work: String, out: String, gen: String, python: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(Workloads.getOrElse(m("workload"),
      throw new IllegalArgumentException(s"unknown workload ${m("workload")}")),
      m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m("out"), m("gen"), m.getOrElse("python", "python3"))
  }

  def main(argv: Array[String]): Unit =
    try measure(parse(argv)) catch {
      case e: Throwable =>
        e.printStackTrace()
        // Spark's non-daemon threads would otherwise keep the JVM alive.
        sys.exit(1)
    }

  def measure(args: Args): Unit = {
    val procStartUs = ProcessHandle.current().info().startInstant().get().toEpochMilli * 1000L
    val cores = Runtime.getRuntime.availableProcessors()
    val conns = math.min(4, cores)
    val steal0 = Host.stealJiffies

    Telemetry.configure()
    val telemetryEvents = new java.util.concurrent.atomic.AtomicLong()
    if (args.trace)
      Telemetry.install(Telemetry.installed :+ new Telemetry.LogBackend {
        val minLevel: Telemetry.Level = Telemetry.Debug
        def emit(e: Telemetry.LogEvent): Unit = telemetryEvents.incrementAndGet()
      })
    var spark = boot(cores)
    val bootS = (Clock.nowUs - procStartUs) / 1e6
    log(f"boot ${bootS}%.3f s (cores=$cores)")

    val w = args.workload
    val jitWarm = run(spark, args, w, "jitwarm", conns, w.fixedRate, 1, None, traced = false,
      warmupSeconds = JitWarmSeconds)
    val setups = (1 to 3).map(k => setupCycle(spark, args, s"setup$k"))
    val setupS = bootS + Stats.median(setups)
    log(s"setup cycles ${setups.map(s => f"$s%.3f").mkString(" ")} -> setup_s ${f"$setupS%.3f"}")

    val untraced = if (args.trace)
      Some(run(spark, args, w, "untraced", conns, w.fixedRate, args.seconds, None, traced = false))
    else None
    // The ladder runs only in the traced run: its result spread too much
    // between seeds to gate on (see README), and it would double the run.
    val main = run(spark, args, w, "main", conns, w.fixedRate, args.seconds,
      if (args.trace) Some(w.ladderStart) else None, traced = args.trace)
    // Single-core baseline: ingest_bulk's ladder under local[1], its
    // fixed-rate phase shortened to one rung.
    val single = if (args.trace) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      spark = boot(1)
      val bulk = Workloads("ingest_bulk")
      Some(run(spark, args, bulk, "local1", conns, bulk.fixedRate, RungSeconds,
        Some(bulk.ladderStart), traced = false))
    } else None
    spark.stop()
    val steal1 = Host.stealJiffies
    val runs = Seq(jitWarm, main) ++ untraced ++ single

    val attempted = runs.map(_.attempted).sum
    val failed = runs.map(_.failed).sum
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!args.trace) {
      metrics("latency_p50_ms") = (main.p50, "ms")
      metrics("latency_p99_ms") = (main.p99, "ms")
      metrics("cpu_s_per_1M_msgs") = (main.cpuPer1M, "s")
      metrics("setup_s") = (setupS, "s")
    } else {
      metrics ++= main.layers
      metrics("sustained_msgs_per_s") = (main.sustained, "msgs/s")
      metrics("check.failed_frac") = (failed.toDouble / math.max(1L, attempted), "ratio")
      metrics("telemetry.events") = (telemetryEvents.get().toDouble, "count")
      metrics("proc.rss_peak_mb") = (Host.rssPeakMb, "MB")
      metrics("proc.cpu_s") = (Host.processCpuNs / 1e9, "s")
      Host.stealSeconds(steal0, steal1).foreach(s => metrics("host.steal_s") = (s, "s"))
      metrics("setup.boot_s") = (bootS, "s")
      metrics("setup.query_start_s") = (Stats.median(setups), "s")
      val u = untraced.get
      metrics("trace.overhead.latency_p50_ms") = (main.p50 - u.p50, "ms")
      metrics("trace.overhead.latency_p99_ms") = (main.p99 - u.p99, "ms")
      metrics("trace.overhead.cpu_s_per_1M_msgs") = (main.cpuPer1M - u.cpuPer1M, "s")
      metrics("scaling.sustained_msgs_per_s_1core") = (single.get.sustained, "msgs/s")
    }
    val steal = Host.stealSeconds(steal0, steal1)
    log(s"env cores=$cores conns=$conns host.steal_s=${steal.map(Json.num).getOrElse("null")}")
    println("# stamp " + Json.obj(Seq(
      "cores" -> cores.toString,
      "host.steal_s" -> steal.map(Json.num).getOrElse("null"))))
    val line = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    println(line)
    System.out.flush()
    sys.exit(0)
  }

  def boot(cores: Int): SparkSession = {
    val spark = GraftSession.builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.streams.addListener(new HealthListener())
    spark
  }

  def packets(spark: SparkSession, name: String): Dataset[RawPacket] = {
    import spark.implicits._
    spark.readStream.format("graft-multisocket")
      .option("port", "0").option("name", name).load().as[RawPacket]
  }

  def config(args: Args, name: String): Main.Config =
    Main.Config(checkpointDir = new File(args.work, s"ckpt-$name").getPath,
      queryName = s"graft-trike-$name")

  def waitPort(q: StreamingQuery, name: String): Int = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!MultiSocketSource.boundPorts.containsKey(name)) {
      q.exception.foreach(e => throw e)
      if (System.nanoTime() > deadline) throw new IllegalStateException(s"$name never bound")
      Thread.sleep(2)
    }
    MultiSocketSource.boundPorts.get(name).intValue()
  }

  /** Start a query at a fixed offset into the wall-clock second, so its
    * first trigger ticks sit the same way against the processing-time
    * schedule (which fires on whole seconds) in every cycle. */
  def alignedStart(offsetMs: Long): Unit = {
    val now = Clock.nowUs
    val at = now / 1000000L * 1000000L + offsetMs * 1000L
    Clock.sleepUntilUs(if (at > now) at else at + 1000000L)
  }

  /** One set-up: query start to the first put landing, fed by a trickle
    * of valid frames from this process. */
  def setupCycle(spark: SparkSession, args: Args, name: String): Double = {
    val svc = new FakeKinesis(Stream, null, None)
    Sink.client = new KinesisWireClient(Stream, svc.transport)
    Sink.traced = false
    alignedStart(700)
    val t0 = Clock.nowUs
    val q = Main.start(packets(spark, name), config(args, name), Sink.factory)
    val sock = new Socket("127.0.0.1", waitPort(q, name))
    val out = sock.getOutputStream
    try {
      var i = 0
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (svc.accepted.get() == 0L) {
        q.exception.foreach(e => throw e)
        if (System.nanoTime() > deadline) throw new IllegalStateException(s"$name: nothing landed")
        out.write(s"$i,TMOV,0,${Clock.nowUs},PRIME\u0004\n".getBytes(UTF_8))
        out.flush()
        i += 1
        Thread.sleep(20)
      }
      (svc.firstAcceptUs - t0) / 1e6
    } finally {
      q.stop()
      sock.close()
    }
  }

  final case class Rung(rate: Double, startUs: Long, endUs: Long)

  final case class RunResult(attempted: Long, failed: Long, p50: Double, p99: Double,
    sustained: Double, cpuPer1M: Double, layers: Seq[(String, (Double, String))])

  /** One measured query. Phase 0 is a warm-up at `fixedRate`; phase 1
    * runs `fixedRate` for `fixedSeconds` and gives the latency and CPU
    * figures. With `ladderFrom`, rungs of `RungSeconds` follow, rising by
    * `Step` from that rate. Every phase after the warm-up is a rung of the
    * sustained-throughput ladder. The generator is stopped after two rungs
    * in a row fail: near capacity a single rung's p99 rests on three
    * batches, and one slow batch must not end the ladder. */
  def run(spark: SparkSession, args: Args, w: Workload, name: String, conns: Int,
      fixedRate: Double, fixedSeconds: Int, ladderFrom: Option[Double],
      traced: Boolean, warmupSeconds: Int = WarmupSeconds): RunResult = {
    val rates = Seq(fixedRate, fixedRate) ++ ladderFrom.toSeq.flatMap(s =>
      (0 until MaxRungs).map(k => s * math.pow(Step, k)))
    val durations = Seq(warmupSeconds, fixedSeconds) ++ Seq.fill(rates.size - 2)(RungSeconds)

    val progress = new ProgressLog
    val exec = new ExecLog
    if (traced) {
      spark.streams.addListener(progress)
      spark.sparkContext.addSparkListener(exec)
      Sink.tasks.clear()
      Sink.putUs = new Histogram(0.1, 20000)
    }
    Sink.traced = traced
    alignedStart(100)
    val q = Main.start(packets(spark, name), config(args, name), Sink.factory)
    val port = waitPort(q, name)
    val probe = MultiSocketSource.activeStreams.get(name)

    // The schedule starts on a whole second, at least 0.5 s away so the
    // generator has started and connected.
    val t0Us = ((Clock.nowUs + 500000L) / 1000000L + 1) * 1000000L
    val ends = durations.scanLeft(t0Us)(_ + _ * 1000000L).tail.toArray
    val rungs = rates.indices.map(k => Rung(rates(k), if (k == 0) t0Us else ends(k - 1), ends(k)))
    // Latency, CPU and per-layer figures come from phase 1.
    val window = (ends(0), ends(1))
    Sink.window = window
    exec.window = window
    val checker = new Checker(conns, t0Us, ends, durations.sum + 120)
    checker.start()
    val serviceUs = new Histogram(0.1, 20000)
    val svc = new FakeKinesis(Stream, checker.queue, if (traced) Some(serviceUs) else None)
    Sink.client = new KinesisWireClient(Stream, svc.transport)

    val gen = new ProcessBuilder((Seq(args.python, args.gen,
      "--port", port.toString, "--conns", conns.toString, "--seed", args.seed.toString,
      "--partitions", spark.conf.get("spark.sql.shuffle.partitions"),
      "--fpp", w.fpp.toString, "--t0-ns", (t0Us * 1000L).toString,
      "--phases", rates.zip(durations).map { case (r, d) => f"$r%.3f:$d" }.mkString(",")) ++
      (if (w.straddle) Seq("--straddle") else Nil)).asJava)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val genOut = new BufferedReader(new InputStreamReader(gen.getInputStream, UTF_8))
    val genIn = new PrintWriter(new OutputStreamWriter(gen.getOutputStream, UTF_8), true)

    val backlog = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    @volatile var sampling = traced
    val sampler = new Thread(() => while (sampling) {
      val t = Clock.nowUs
      if (t >= window._1 && t < window._2) backlog.add(probe.bufferedRows.toDouble)
      Thread.sleep(50)
    })
    sampler.setDaemon(true)
    if (traced) sampler.start()

    try {
      val ready = genOut.readLine()
      if (ready == null || !ready.startsWith("READY"))
        throw new IllegalStateException(s"generator failed to start: $ready")
      val keys = ready.stripPrefix("READY ").split(',').map(p => s"127.0.0.1:$p").toSeq
      // CPU of the program only: process CPU minus the checker thread.
      def cpuAt(tUs: Long): (Long, Long) = {
        Clock.sleepUntilUs(tUs)
        (Clock.nowUs, Host.processCpuNs - Host.threadCpuNs(checker))
      }
      val cpu = Seq(cpuAt(window._1), cpuAt(window._2))
      // Judge each rung once its frames are due to have landed.
      var k = 1
      var failedInRow = 0
      while (failedInRow < 2 && k < rungs.size && ladderFrom.isDefined) {
        Clock.sleepUntilUs(rungs(k).endUs + (LatencyLimitMs * 1000).toLong)
        q.exception.foreach(e => throw e)
        val ok = judge(checker, rungs(k), k, expected = Some(expectedFrames(rungs(k)))).held
        failedInRow = if (ok) 0 else failedInRow + 1
        log(f"$name rung $k ${rungs(k).rate}%.0f msgs/s online ${if (ok) "pass" else "fail"}")
        k += 1
      }
      if (ladderFrom.isEmpty) Clock.sleepUntilUs(ends.last)
      genIn.println("stop")
      val genSummary = parseFlat(genOut.readLine())
      gen.waitFor()
      val sent = genSummary("sent").asInstanceOf[Seq[Double]].map(_.toLong)
      val expected = sent.map(n => n - n / HeartbeatEvery).sum
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (checker.synchronized(checker.landedFrames) < expected &&
        System.nanoTime() < deadline && q.exception.isEmpty) Thread.sleep(20)
      q.exception.foreach(e => throw e)
      Thread.sleep(300) // room for a stray duplicate to show
      q.stop()
      sampling = false
      checker.finish()
      if (traced) {
        spark.streams.removeListener(progress)
        spark.sparkContext.removeSparkListener(exec)
      }

      val missing = checker.missing(sent, HeartbeatEvery)
      val failed = missing + checker.duplicates + checker.outOfOrder +
        checker.heartbeats + checker.malformed
      log(s"$name sent=${sent.sum} landed=${checker.landedFrames} missing=$missing " +
        s"dup=${checker.duplicates} ooo=${checker.outOfOrder} hb=${checker.heartbeats} " +
        s"bad=${checker.malformed} gen=$genSummary")

      val lat1 = checker.latencies(1).sorted
      // Final verdicts, on everything that landed, over the rungs the
      // generator ran to the end.
      val lastSched = lastScheduledUs(checker)
      val ran = rungs.indices.drop(1).filter(i => rungs(i).endUs <= lastSched)
      val verdicts = ran.map(i => rungs(i).rate -> judge(checker, rungs(i), i, expected = None))
      // When no rung held, report what phase 1 delivered.
      val sustained = sustainedRate(verdicts, ladderRungsFrom = if (ladderFrom.isDefined) 1 else 0)
        .getOrElse(lat1.length.toDouble / durations(1))
      val ((c0t, c0), (c1t, c1)) = (cpu(0), cpu(1))
      val landedInWindow = landedBetween(checker, c0t, c1t)
      val res = RunResult(sent.sum, failed, Stats.quantile(lat1, 0.5), Stats.quantile(lat1, 0.99),
        sustained, (c1 - c0) / 1e9 / math.max(1L, landedInWindow) * 1e6,
        if (traced) layerMetrics(spark, args, name, q, progress, exec,
          backlog.asScala.toSeq, genSummary, keys, serviceUs, window)
        else Nil)
      log(f"$name p50=${res.p50}%.1f p99=${res.p99}%.1f ms sustained=${res.sustained}%.0f " +
        f"cpu/1M=${res.cpuPer1M}%.3f s (window $landedInWindow frames)")
      res
    } finally {
      scala.util.Try(genIn.println("stop"))
      if (!gen.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)) {
        gen.destroyForcibly(); gen.waitFor()
      }
      sampling = false
      if (q.isActive) q.stop()
      Sink.traced = false
    }
  }

  /** Frames (heartbeats excluded) the generator schedules inside a rung. */
  def expectedFrames(r: Rung): Long = {
    val msgs = r.rate * (r.endUs - r.startUs) / 1e6
    (msgs - msgs / HeartbeatEvery).toLong
  }

  def lastScheduledUs(c: Checker): Long = c.synchronized {
    val h = c.schedHist
    var i = h.length - 1
    while (i > 0 && h(i) == 0) i -= 1
    c.t0Us + (i + 1) * c.bucketUs
  }

  def landedBetween(c: Checker, fromUs: Long, toUs: Long): Long = c.synchronized {
    val a = ((fromUs - c.t0Us) / c.bucketUs).toInt
    val b = ((toUs - c.t0Us) / c.bucketUs).toInt
    (a until b).map(i => c.acceptHist(i).toLong).sum
  }

  /** A rung's p99 latency (frames not yet landed count as over the
    * limit) and whether the unlanded backlog grew across it. */
  final case class Verdict(p99: Double, growing: Boolean) {
    def held: Boolean = p99 <= LatencyLimitMs && !growing
  }

  /** Judge a rung. Backlog is averaged over each whole second, the
    * trigger interval, so the per-batch sawtooth cancels out. */
  def judge(c: Checker, r: Rung, k: Int, expected: Option[Long]): Verdict = c.synchronized {
    val lat = c.latencies(k).sorted
    val n = math.max(expected.getOrElse(0L), lat.length.toLong)
    if (n == 0) return Verdict(Double.PositiveInfinity, growing = false)
    val idx = math.ceil(0.99 * n).toLong - 1
    val p99 = if (idx >= lat.length) Double.PositiveInfinity else lat(idx.toInt).toDouble
    val perSec = 1000000L / c.bucketUs
    val first = ((r.startUs - c.t0Us) / c.bucketUs).toInt + perSec.toInt
    val last = ((r.endUs - c.t0Us) / c.bucketUs).toInt
    var s = 0L
    var a = 0L
    var i = 0
    val means = mutable.ArrayBuffer.empty[Double]
    var acc = 0.0
    while (i < last) {
      s += c.schedHist(i)
      a += c.acceptHist(i)
      if (i >= first) {
        acc += (s - a)
        if ((i - first + 1) % perSec == 0) { means += acc / perSec; acc = 0.0 }
      }
      i += 1
    }
    val v = Verdict(p99, slope(means.toSeq) > BacklogGrowth * r.rate)
    log(f"  rung ${r.rate}%.0f p99=$p99%.0f ms backlog/s=${means.map(m => f"$m%.0f").mkString(",")} -> ${v.held}")
    v
  }

  /** Latency-limited throughput: the offered rate at which a least-squares
    * line through (rate, p99) reaches the latency limit. One rung's p99
    * rests on three batches, so the rung where it first crosses the limit
    * swings by several rungs between runs; the line averages that noise
    * over `FitRungs` rungs. They are the last ladder rungs (from index
    * `ladderRungsFrom` of `verdicts`; all rungs if fewer than two) before
    * the first whose backlog grew or whose p99 is unbounded: p99 is flat
    * well below capacity, and a line through that flat part would place
    * the crossing past rungs that failed. The crossing is kept between the
    * lowest rate run and one step past the last rung fitted. None when no
    * rung held. */
  def sustainedRate(verdicts: Seq[(Double, Verdict)], ladderRungsFrom: Int): Option[Double] = {
    if (!verdicts.exists(_._2.held)) return None
    val usable = verdicts.takeWhile { case (_, v) => !v.growing && !v.p99.isInfinite }
    val pts = (if (usable.drop(ladderRungsFrom).size >= 2) usable.drop(ladderRungsFrom) else usable)
      .takeRight(FitRungs)
    val highestHeld = verdicts.filter(_._2.held).map(_._1).max
    if (pts.size < 2) return Some(highestHeld)
    val xs = pts.map(_._1)
    val ys = pts.map(_._2.p99)
    val xm = xs.sum / xs.size
    val ym = ys.sum / ys.size
    val b = xs.zip(ys).map { case (x, y) => (x - xm) * (y - ym) }.sum / xs.map(x => (x - xm) * (x - xm)).sum
    if (b <= 0) return Some(highestHeld)
    val crossing = xm + (LatencyLimitMs - ym) / b
    Some(math.min(math.max(crossing, verdicts.head._1), xs.last * Step))
  }

  /** Least-squares slope of evenly spaced samples, per sample step. */
  def slope(ys: Seq[Double]): Double =
    if (ys.size < 2) 0.0 else {
      val xm = (ys.size - 1) / 2.0
      val ym = ys.sum / ys.size
      ys.indices.map(i => (i - xm) * (ys(i) - ym)).sum / ys.indices.map(i => (i - xm) * (i - xm)).sum
    }

  /** Parse the generator's flat JSON summary (numbers and number lists). */
  def parseFlat(line: String): Map[String, Any] = {
    if (line == null) throw new IllegalStateException("generator printed no summary")
    val Entry = """"([^"]+)":\s*(\[[^\]]*\]|[-0-9.eE+]+)""".r
    Entry.findAllMatchIn(line).map { m =>
      val v = m.group(2)
      m.group(1) -> (if (v.startsWith("["))
        v.stripPrefix("[").stripSuffix("]").split(',').filter(_.trim.nonEmpty).map(_.trim.toDouble).toSeq
      else v.toDouble)
    }.toMap
  }

  def layerMetrics(spark: SparkSession, args: Args, name: String, q: StreamingQuery,
      progress: ProgressLog, exec: ExecLog, backlog: Seq[Double], gen: Map[String, Any],
      keys: Seq[String], serviceUs: Histogram,
      window: (Long, Long)): Seq[(String, (Double, String))] = {
    val all = progress.of(q.id)
    val ps = all.filter { p =>
      val t = Trace.epochUs(p.timestamp)
      p.numInputRows > 0 && t >= window._1 && t < window._2
    }
    def dur(k: String): Seq[Double] =
      ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    val trig = dur("triggerExecution")
    val ops = ps.flatMap(_.stateOperators.headOption)
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val placement = keys.map(k =>
      spark.range(1).select(pmod(hash(lit(k)), lit(parts))).head().getInt(0))
    val batches = ps.map(_.batchId).toSet
    val allTasks = Sink.tasks.asScala.toSeq
    val tasks = allTasks.filter(t => batches(t.batchId))
    val active = tasks.filter(_.puts > 0)
    val tasksPerBatch = tasks.groupBy(_.batchId).values.map(_.size.toDouble).toSeq
    Trace.write(args.out, s"${args.workload.name}-seed${args.seed}-$name.jsonl",
      Trace.spans(all, allTasks))
    val measuredSeconds = (window._2 - window._1) / 1e6
    Seq(
      "gen.late_ms_p99" -> (gen("late_ms_p99").asInstanceOf[Double], "ms"),
      "gen.late_ms_max" -> (gen("late_ms_max").asInstanceOf[Double], "ms"),
      "sources.backlog_rows_p50" -> (Stats.median(backlog), "rows"),
      "sources.backlog_rows_max" -> (if (backlog.isEmpty) 0.0 else backlog.max, "rows"),
      "sources.latestOffset_ms_p50" -> (Stats.median(dur("latestOffset")), "ms"),
      "sources.getBatch_ms_p50" -> (Stats.median(dur("getBatch")), "ms"),
      "streaming.batches" -> (ps.size.toDouble, "count"),
      "streaming.rows_per_batch_p50" -> (Stats.median(ps.map(_.numInputRows.toDouble)), "rows"),
      "streaming.trigger_ms_p50" -> (Stats.median(trig), "ms"),
      "streaming.trigger_ms_p99" -> (Stats.quantile(trig, 0.99), "ms"),
      "streaming.busy_frac" -> (trig.sum / 1000.0 / measuredSeconds, "ratio"),
      "streaming.queryPlanning_ms_p50" -> (Stats.median(dur("queryPlanning")), "ms"),
      "streaming.walCommit_ms_p50" -> (Stats.median(dur("walCommit")), "ms"),
      "streaming.commitOffsets_ms_p50" -> (Stats.median(dur("commitOffsets")), "ms"),
      "streaming.addBatch_ms_p50" -> (Stats.median(dur("addBatch")), "ms"),
      "framing.commit_ms_p50" -> (Stats.median(ops.map(_.commitTimeMs.toDouble)), "ms"),
      "framing.update_ms_p50" -> (Stats.median(ops.map(_.allUpdatesTimeMs.toDouble)), "ms"),
      "framing.state_rows" -> (ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "rows"),
      "framing.state_bytes" -> (ops.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0), "bytes"),
      "framing.max_keys_per_partition" ->
        (placement.groupBy(identity).values.map(_.size).max.toDouble, "count"),
      "sink.puts" -> (active.map(_.puts).sum.toDouble, "count"),
      "sink.tasks_per_batch_p50" -> (Stats.median(tasksPerBatch), "count"),
      "sink.task_ms_p50" -> (Stats.median(active.map(t => (t.endUs - t.startUs) / 1000.0)), "ms"),
      "sink.task_ms_max" -> (active.map(t => (t.endUs - t.startUs) / 1000.0).maxOption.getOrElse(0.0), "ms"),
      "sink.client_put_us_p50" -> (Sink.putUs.quantile(0.5), "us"),
      "sink.service_us_p50" -> (serviceUs.quantile(0.5), "us"),
      "sink.retries" -> (tasks.map(_.retries).sum.toDouble, "count"),
      "exec.tasks" -> (exec.tasks.toDouble, "count"),
      "exec.run_s" -> (exec.runMs / 1e3, "s"),
      "exec.cpu_s" -> (exec.cpuNs / 1e9, "s"),
      "exec.gc_s" -> (exec.gcMs / 1e3, "s"),
      "exec.shuffle_write_mb" -> (exec.shuffleWrite / 1048576.0, "MB"),
      "exec.shuffle_read_mb" -> (exec.shuffleRead / 1048576.0, "MB"),
      "exec.spill_mb" -> (exec.spill / 1048576.0, "MB"),
      "exec.task_skew_p50" -> (Stats.median(exec.skews.toSeq), "ratio")
    ) ++ Trace.selfTimes(Trace.spans(ps, tasks))
  }
}
