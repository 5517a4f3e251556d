package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's view of Spark, taken from outside the program: a
  * SparkListener (jobs, and per-stage task time, shuffle, spill and input
  * records), a QueryExecutionListener (Catalyst phase times from
  * `QueryExecution.tracker`, and rows emitted by commit-source scans) and a
  * StreamingQueryListener (per-trigger durations). Events carry the job
  * group the [[Recorder]] set, when Spark passes it on, and a time, so
  * each can be attributed to the span that caused it. */
final class Listeners(spark: SparkSession) {
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageMeta = new ConcurrentHashMap[Int, (String, Long)]()
  // taskMs, shuffleWriteBytes, diskSpillBytes, recordsRead, tasks
  private val stageSums = new ConcurrentHashMap[Int, Array[Double]]()
  private val phases = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val scans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val triggers = new ConcurrentLinkedQueue[Map[String, Any]]()

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).orNull

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, (groupOf(e.properties), e.time))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
        jobs.add(Map("group" -> g, "t0" -> t0, "t1" -> e.time))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageMeta.put(e.stageInfo.stageId, (groupOf(e.properties),
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        val a = stageSums.computeIfAbsent(e.stageId, _ => new Array[Double](5))
        a.synchronized {
          a(0) += m.executorRunTime
          a(1) += m.shuffleWriteMetrics.bytesWritten
          a(2) += m.diskBytesSpilled
          a(3) += m.inputMetrics.recordsRead
          a(4) += 1
        }
      }
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    private val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())

    /** Rows emitted by commit-source scans, looking through AQE stages and
      * into the plans of cached relations. A cached scan runs once but is
      * reachable from every query that reads the cache: count it once. */
    def commitScanRows(p: SparkPlan): Long = collect(p) {
      case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.CommitScan] &&
          seen.synchronized(seen.add(b)) =>
        b.metrics.get("numOutputRows").fold(0L)(_.value)
      case i: InMemoryTableScanExec => commitScanRows(i.relation.cachedPlan)
    }.sum
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(Map("phase" -> name, "t0" -> p.startTimeMs, "ms" -> p.durationMs))
      }
      val rows = Plans.commitScanRows(qe.executedPlan)
      if (rows > 0) {
        val t0 = qe.tracker.phases.values.map(_.startTimeMs).maxOption
          .getOrElse(System.currentTimeMillis())
        scans.add(Map("t0" -> t0, "rows" -> rows))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala
      triggers.add(Map(
        "t0" -> java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
        "trigger_ms" -> d.get("triggerExecution").fold(0L)(_.longValue),
        "addbatch_ms" -> d.get("addBatch").fold(0L)(_.longValue)))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def events: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toList,
    "stages" -> stageSums.asScala.toList.sortBy(_._1).map { case (id, a) =>
      val (g, t0) = Option(stageMeta.get(id)).getOrElse((null, 0L))
      Map("stage" -> id, "group" -> g, "t0" -> t0, "task_ms" -> a(0),
        "shuffle_write_bytes" -> a(1), "spill_bytes" -> a(2),
        "records_read" -> a(3), "tasks" -> a(4))
    },
    "phases" -> phases.asScala.toList,
    "scans" -> scans.asScala.toList,
    "triggers" -> triggers.asScala.toList)
}
