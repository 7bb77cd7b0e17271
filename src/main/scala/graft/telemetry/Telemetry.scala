package graft.telemetry

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.atomic.AtomicLong

/** Structured, pluggable telemetry — the twin of the reference's
  * logger-backend stack (/root/reference/config/runtime.exs:17-49:
  * console always; a Splunk HEC backend at info level iff prod AND a
  * token is set; a Sentry backend at error level iff dsn AND env are
  * set) and its per-event metadata discipline
  * (/root/reference/lib/trike/proxy.ex:75,152,207: a `socket` tag for
  * the connection lifetime, a fresh `request_id` around each data
  * event, cleared afterwards).
  *
  * Spark-first rendition: [[Telemetry]] is a JVM-static fan-out — on
  * the driver it carries pipeline lifecycle lines (health checks),
  * and because executor code resolves the same module statically,
  * per-task lines (put runs, stale closes) land in each executor's own
  * local backend exactly like any production Spark log4j topology;
  * nothing is shipped through the driver. Metadata rides a ThreadLocal so
  * concurrent tasks never interleave tags.
  *
  * The Splunk twin ships events through a `transport` port (HEC is an
  * HTTP POST of a JSON envelope; this container has zero egress, so
  * the default transport spools the same JSON lines to a local file a
  * forwarder would tail — swap the function for a real HTTP client).
  * The Sentry twin captures only error-and-above, carries the
  * configured environment tag plus recent breadcrumbs, and hands the
  * structured capture to a `capture` port.
  */
object Telemetry {

  /** Severity, ordered. The reference's backends filter by level
    * (runtime.exs:21 `level: :info`, :40 `level: :error`). */
  sealed abstract class Level(val rank: Int, val name: String)
  case object Debug extends Level(0, "debug")
  case object Info extends Level(1, "info")
  case object Warn extends Level(2, "warn")
  case object Error extends Level(3, "error")

  /** One structured log event: timestamp, severity, free-form
    * message, and the metadata tags in scope when it was emitted. */
  final case class LogEvent(epochMs: Long, level: Level, message: String,
    metadata: Map[String, String])

  /** A log backend: level-filtered sink for [[LogEvent]]s. The fan-out
    * applies `minLevel` BEFORE calling emit, so implementations only
    * see events they asked for. */
  trait LogBackend {
    def minLevel: Level
    def emit(e: LogEvent): Unit
    def close(): Unit = ()
  }

  /** Console backend — always installed (runtime.exs:43 `:console`).
    * Format mirrors the reference's Splunk line format string
    * (runtime.exs:20 `"$dateT$time $metadata[$level] node=$node
    * $message"`): ISO instant, metadata, level, node, message. */
  final class ConsoleBackend(out: String => Unit = Console.err.println,
    val minLevel: Level = Debug, node: String = "local") extends LogBackend {
    override def emit(e: LogEvent): Unit = {
      val meta = if (e.metadata.isEmpty) ""
      else e.metadata.toSeq.sorted.map { case (k, v) => s"$k=$v" }
        .mkString(" ", " ", "")
      out(s"${Instant.ofEpochMilli(e.epochMs)}$meta [${e.level.name}] " +
        s"node=$node ${e.message}")
    }
  }

  /** Splunk-HEC twin (runtime.exs:18-23): info-and-above, each event
    * wrapped in the HEC JSON envelope `{"time":…,"event":…,
    * "fields":{…}}` with the token as an `Authorization: Splunk <tok>`
    * header — here the header travels as the first spool line so the
    * transport stays a plain `String => Unit`. Default transport
    * appends to `spoolPath` (what a universal forwarder would tail);
    * swap it for an HTTP POST in a deployment. */
  final class SplunkLikeBackend(token: String,
    transport: String => Unit, val minLevel: Level = Info)
    extends LogBackend {
    @volatile private var sentAuth = false
    private def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
    override def emit(e: LogEvent): Unit = {
      if (!sentAuth) { transport(s"""{"authorization":"Splunk ${esc(token)}"}"""); sentAuth = true }
      val fields = (e.metadata + ("level" -> e.level.name)).toSeq.sorted
        .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString(",")
      transport(s"""{"time":${e.epochMs / 1000.0},"event":"${esc(e.message)}","fields":{$fields}}""")
    }
  }

  /** A captured error with context — what the Sentry twin hands to
    * its `capture` port: the event plus the environment tag and the
    * most recent lower-level events (breadcrumbs) from this thread's
    * recent history. */
  final case class CapturedError(event: LogEvent, environment: String,
    breadcrumbs: Seq[LogEvent])

  /** Sentry twin (runtime.exs:26-41): error-and-above only
    * (`level: :error`), tagged with the configured environment, with
    * `capture_log_messages: true` rendered as breadcrumb capture of
    * the recent sub-error events. */
  final class SentryLikeBackend(environment: String,
    capture: CapturedError => Unit, breadcrumbLimit: Int = 16)
    extends LogBackend {
    val minLevel: Level = Error
    private val crumbs = new java.util.ArrayDeque[LogEvent]()
    /** Sub-error events arrive here (the fan-out routes them) to feed
      * the breadcrumb ring; bounded, oldest dropped. */
    private[telemetry] def breadcrumb(e: LogEvent): Unit = crumbs.synchronized {
      crumbs.addLast(e)
      while (crumbs.size > breadcrumbLimit) crumbs.removeFirst()
    }
    override def emit(e: LogEvent): Unit = {
      val bc = crumbs.synchronized {
        val a = new scala.collection.mutable.ArrayBuffer[LogEvent](crumbs.size)
        crumbs.forEach(x => a += x); a.toSeq
      }
      capture(CapturedError(e, environment, bc))
    }
  }

  /** File spool used by the default Splunk transport. Append-only,
    * line-buffered; one JSON object per line. */
  final class FileSpool(path: String) extends (String => Unit) {
    Option(Paths.get(path).getParent).foreach(Files.createDirectories(_))
    private val w = new BufferedWriter(new FileWriter(path, true))
    override def apply(line: String): Unit =
      synchronized { w.write(line); w.newLine(); w.flush() }
  }

  // ---------------------------------------------------------------------------

  @volatile private var backends: Seq[LogBackend] = Seq(new ConsoleBackend())
  private val meta = new ThreadLocal[Map[String, String]] {
    override def initialValue(): Map[String, String] = Map.empty
  }
  private val requestIds = new AtomicLong(0L)

  /** Install a backend list, closing the previous one. Tests inject
    * collectors; `configure` builds the production set. */
  def install(bs: Seq[LogBackend]): Unit = synchronized {
    val old = backends
    backends = bs
    old.foreach(b => try b.close() catch { case _: Exception => () })
  }
  def installed: Seq[LogBackend] = backends

  /** The reference's backend truth table (runtime.exs:42-49), keyed by
    * the same shape of env: console always; Splunk iff prod mode AND
    * GRAFT_SPLUNK_TOKEN set; Sentry iff GRAFT_SENTRY_DSN AND
    * GRAFT_SENTRY_ENV set (in any mode). Returns the installed set. */
  def configure(env: Map[String, String] = sys.env, mode: String = "prod",
    splunkTransport: Option[String => Unit] = None,
    sentryCapture: CapturedError => Unit = defaultCapture): Seq[LogBackend] = {
    val token = env.getOrElse("GRAFT_SPLUNK_TOKEN", "")
    val dsn = env.getOrElse("GRAFT_SENTRY_DSN", "")
    val sentryEnv = env.getOrElse("GRAFT_SENTRY_ENV", "")
    val bs = Seq.newBuilder[LogBackend]
    bs += new ConsoleBackend()
    if (dsn.nonEmpty && sentryEnv.nonEmpty)
      bs += new SentryLikeBackend(sentryEnv, sentryCapture)
    if (mode == "prod" && token.nonEmpty)
      bs += new SplunkLikeBackend(token, splunkTransport.getOrElse(
        new FileSpool(env.getOrElse("GRAFT_SPLUNK_SPOOL",
          "/tmp/graft-telemetry/splunk-spool.jsonl"))))
    val built = bs.result()
    install(built)
    built
  }
  /** Default error capture: render to stderr (a deployment swaps in
    * its Sentry client). */
  private def defaultCapture(c: CapturedError): Unit =
    Console.err.println(s"captured_error env=${c.environment} " +
      s"msg=${c.event.message} breadcrumbs=${c.breadcrumbs.size}")

  /** Run `f` with extra metadata tags in scope on this thread — the
    * `Logger.metadata(socket:/request_id:)` discipline (proxy.ex:75,
    * 152): tags attach to every event emitted inside, and are restored
    * (not just cleared) on exit so scopes nest. */
  def withMetadata[T](kv: (String, String)*)(f: => T): T = {
    val saved = meta.get()
    meta.set(saved ++ kv)
    try f finally meta.set(saved)
  }

  /** A fresh positive request id (proxy.ex:152 uses
    * `:erlang.unique_integer([:positive])`) scoped around `f`. */
  def withRequestId[T](f: => T): T =
    withMetadata("request_id" -> requestIds.incrementAndGet().toString)(f)

  def log(level: Level, message: String, extra: (String, String)*): Unit = {
    val e = LogEvent(System.currentTimeMillis(), level,
      message, meta.get() ++ extra)
    val bs = backends
    bs.foreach {
      case s: SentryLikeBackend if level.rank < s.minLevel.rank =>
        s.breadcrumb(e) // capture_log_messages: sub-error context
      case b if level.rank >= b.minLevel.rank => b.emit(e)
      case _ => ()
    }
  }
  def debug(m: String, extra: (String, String)*): Unit = log(Debug, m, extra: _*)
  def info(m: String, extra: (String, String)*): Unit = log(Info, m, extra: _*)
  def warn(m: String, extra: (String, String)*): Unit = log(Warn, m, extra: _*)
  def error(m: String, extra: (String, String)*): Unit = log(Error, m, extra: _*)
}
