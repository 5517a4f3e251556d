package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.sinks.Sinks

/** `query_suite`: a fixed list of the costliest one-shot entries of
  * `SparkEntry.queries` from the ops, llm and streaming modules, each
  * materialized to `noop` over the seeded tables. One untimed pass first
  * writes every entry's result for the DuckDB oracle check, and
  * [[QuerySuite.WarmPasses]] more warm the JVM; timed passes follow. */
final class QuerySuite(spark: SparkSession, rec: Recorder, seed: Long, work: String) {
  import QuerySuite._

  private val dir = s"$work/tables"
  private val outDir = s"$work/results"
  private val tableRows = Gen.rows(Sf)

  def setup(): Unit = {
    Sinks.deleteRec(dir)
    Gen.write(spark, dir, seed, Sf, Entries.values.flatten.toSet)
  }

  private def run(entry: String, save: org.apache.spark.sql.DataFrame => Unit): Unit =
    rec.span(s"${layerOf(entry)}.query") {
      save(SparkEntry.queries(entry)(spark, dir))
      rec.rows(Entries(entry).map(tableRows).sum)
    }

  /** Untimed: write each entry's result where the oracle check reads it. */
  def results(): Unit = {
    Sinks.deleteRec(outDir)
    Entries.keys.toSeq.sorted.foreach { e =>
      rec.op("result", key = e, trace = false)(
        run(e, _.write.mode("overwrite").parquet(s"$outDir/$e")))
    }
  }

  /** One pass over the entries, each materialized to `noop`. */
  private def pass(trace: Int => Boolean): Unit =
    Entries.keys.toSeq.sorted.zipWithIndex.foreach { case (e, i) =>
      rec.op("query", key = e, trace = trace(i))(
        run(e, _.write.format("noop").mode("overwrite").save()))
    }

  /** Untimed passes after [[results]], so the timed passes start with the
    * entries' code already compiled by the JIT. */
  def warmup(): Unit = (1 to WarmPasses).foreach(_ => pass(_ => false))

  def run(seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var p = 0
    while (p < MinPasses || System.nanoTime() < deadline) {
      p += 1
      rec.inCycle(p)
      // traced runs alternate entries with and without tracing, so each
      // entry is measured both ways over two passes
      pass(i => rec.traced && (i + p) % 2 == 0)
    }
    rec.inCycle(-1)
  }

  def oracle: Map[String, Any] = Map(
    "tables" -> dir,
    "checks" -> Entries.keys.toSeq.sorted.map(e => Map(
      "name" -> e, "result" -> s"$outDir/$e", "sql" -> SparkEntry.oracleSql(e))))
}

object QuerySuite {
  val Sf = 0.005
  val MinPasses = 4
  val WarmPasses = 1

  /** Entry -> the tables it reads (its input rows count toward rows/s).
    * One entry per layer, each among the costliest of its module on four
    * cores, chosen so one pass takes about five seconds. */
  val Entries: Map[String, Seq[String]] = Map(
    "q9_snowflake_profit" -> Seq("lineitem", "part", "supplier", "nation", "orders"),
    "q_llm_dedup_substrings" -> Seq("documents"),
    "stream_session_window" -> Seq("events"))

  def layerOf(entry: String): String =
    if (entry.startsWith("stream_")) "streaming"
    else if (entry.startsWith("q_llm_")) "llm"
    else "ops"
}
