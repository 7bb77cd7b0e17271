package graft

import graft.telemetry.Telemetry

/** Collects the messages of every Telemetry event emitted while `f`
  * runs — on the driver or on the executor threads of a local-mode
  * session — then puts the previous backends back. */
object TelemetryCapture {
  def apply(f: => Unit): Seq[String] = {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val prev = Telemetry.installed
    Telemetry.install(Seq(new Telemetry.LogBackend {
      val minLevel: Telemetry.Level = Telemetry.Debug
      def emit(e: Telemetry.LogEvent): Unit = lines.add(e.message)
    }))
    try {
      f
      lines.toArray(Array.empty[String]).toSeq
    } finally Telemetry.install(prev)
  }

  /** The `stale_connection` lines among `lines`. */
  def stale(lines: Seq[String]): Seq[String] =
    lines.filter(_.startsWith("stale_connection "))
}
