package graft

import scala.util.control.NonFatal

/** Failure policy shared by the Bench, Verify and PlanAudit CLIs. A
  * query that throws a non-fatal exception is recorded as failed and
  * the run moves on. A fatal error (one `NonFatal` rejects: out of
  * memory, a linkage error, an interrupt) leaves a JVM whose later
  * walls and results mean nothing, so the CLI writes the partial record
  * it has, naming the query, and exits with [[FatalExit]]. */
object Harness {
  final val FatalExit = 3

  /** Reports the fatal error `e` raised by query `name`, runs
    * `writePartial` and exits with [[FatalExit]]. */
  def abort(tool: String, name: String, e: Throwable)(
      writePartial: => Unit): Nothing = {
    System.err.println(s"[$tool] fatal error in $name, stopping: $e")
    try writePartial
    catch { case NonFatal(w) =>
      System.err.println(s"[$tool] partial record not written: $w") }
    sys.exit(FatalExit)
  }

  /** JSON string literal: escapes backslash, quote and ALL control
    * chars (< 0x20), so a tab or CR in the text cannot break a reader's
    * json.load. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
