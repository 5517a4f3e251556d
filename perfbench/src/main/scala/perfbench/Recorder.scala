package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One traced call into a layer: `parent` is the span that caused it (0 for
  * an op's root span) and `op` the root span's id, shared by every span of
  * one operation. Times are epoch milliseconds with sub-millisecond digits,
  * on the same clock Spark stamps its listener events with. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
                 val t0: Double) {
  var t1: Double = Double.NaN
}

/** Everything one run records: timed operations, and in a traced run the
  * spans, Spark events and store counters beneath them. Single-threaded by
  * design (one closed-loop client); only [[Listeners]] is written to from
  * Spark's listener thread. All of it stays in memory until [[dump]]. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val listeners = new Listeners(spark)
  private val ops = ArrayBuffer[Map[String, Any]]()
  private val spans = ArrayBuffer[Span]()
  private val counters = ArrayBuffer[Map[String, Any]]()
  private val failures = ArrayBuffer[String]()
  private val setupReps = ArrayBuffer[Double]()
  private var attempted = 0
  private var failed = 0

  private var stack = List.empty[Span]
  private var nextId = 0
  private var opFailed = false
  private var opRows = 0L
  private var cycle = -1

  /** Whether the current op records spans and Spark events. A traced run
    * alternates it per op, so it can report its own overhead. */
  private var tracing = false

  /** Ops recorded from here on belong to cycle `c` (-1: to none). */
  def inCycle(c: Int): Unit = cycle = c

  def setup[T](f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    setupReps += (System.nanoTime() - t0) / 1e9
    r
  }

  /** Time one closed-loop operation. It fails if it throws or if any
    * [[check]] inside it fails; either way it is counted as attempted. */
  def op[T](kind: String, key: String = null, trace: Boolean = traced)(f: => T): Option[T] = {
    setTracing(trace)
    attempted += 1
    opFailed = false
    opRows = 0L
    val t0 = now
    val n0 = System.nanoTime()
    val rootId = nextId + 1
    val r = try Some(span(kind)(f)) catch {
      case e: Throwable =>
        note(s"$kind${Option(key).fold("")(k => s"[$k]")}: $e"); None
    }
    val ms = (System.nanoTime() - n0) / 1e6
    if (opFailed) failed += 1
    ops += Map("kind" -> kind, "key" -> Option(key).getOrElse(kind),
      "cycle" -> cycle, "t0" -> t0, "ms" -> ms, "ok" -> !opFailed,
      "rows" -> opRows, "traced" -> tracing,
      "span" -> (if (tracing) rootId else 0))
    r
  }

  /** Rows the current op processed (rows committed, or input rows read). */
  def rows(n: Long): Unit = opRows += n

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) note(what)

  private def note(what: String): Unit = {
    opFailed = true
    if (failures.size < 40) failures += what
  }

  /** Record a span around a call into a layer, and tag the Spark jobs the
    * call starts with the span's id as their job group. */
  def span[T](name: String)(f: => T): T =
    if (!tracing) f
    else {
      nextId += 1
      val parent = stack.headOption
      val s = new Span(nextId, name, parent.fold(0)(_.id),
        parent.fold(nextId)(_.op), now)
      spans += s
      stack = s :: stack
      spark.sparkContext.setJobGroup(s"pb-${s.id}", name, interruptOnCancel = false)
      try f
      finally {
        s.t1 = now
        stack = stack.tail
        stack.headOption match {
          case Some(p) =>
            spark.sparkContext.setJobGroup(s"pb-${p.id}", p.name, interruptOnCancel = false)
          case None => spark.sparkContext.clearJobGroup()
        }
      }
    }

  /** A counter measured at the current span (ignored when not tracing). */
  def count(name: String, value: Double): Unit =
    if (tracing) counters += Map("span" -> stack.headOption.fold(0)(_.id),
      "name" -> name, "value" -> value)

  def isTracing: Boolean = tracing

  private def setTracing(on: Boolean): Unit = if (on != tracing) {
    // events of the previous op are still queued on the listener bus;
    // drain them before the listeners detach, outside any op's timing
    listeners.drain()
    if (on) listeners.attach() else listeners.detach()
    tracing = on
  }

  def fail(what: String, e: Throwable): Unit = {
    attempted += 1; failed += 1
    failures += s"$what: $e"
  }

  def dump(extra: Map[String, Any]): Map[String, Any] = {
    setTracing(false)
    extra ++ Map(
      "traced" -> traced,
      "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.toList,
      "setup_reps_s" -> setupReps.toList,
      "ops" -> ops.toList,
      "spans" -> spans.toList.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "t0" -> s.t0, "t1" -> s.t1)),
      "counters" -> counters.toList) ++ listeners.events
  }
}
