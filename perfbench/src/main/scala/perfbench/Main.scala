package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: build the session, set the workload up
  * [[SetupReps]] times (the last set-up is the one measured against), run
  * one untimed warm-up cycle, then closed-loop cycles until `--seconds`
  * have passed, then the correctness checks. Writes every raw sample to
  * `--out` as JSON; `run.py` turns them into metrics.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <scratch dir> --out <json>` */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val work = Paths.get(o("work")).toAbsolutePath.toString
    Files.createDirectories(Paths.get(work))
    redirectProgramScratch(s"$work/qtmp")
    val spark = session(work)
    val rec = new Recorder(spark, o("trace") == "1")
    val ready = System.currentTimeMillis()
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    var extra: Map[String, Any] = Map("workload" -> workload, "seed" -> seed,
      "session_ready_ms" -> ready, "cores" -> spark.sparkContext.defaultParallelism)
    def measure(warmup: => Unit, loop: => Unit): Unit = {
      rec.inCycle(0); warmup; rec.inCycle(-1)
      heap.foreach(_.resetPeakUsage())
      loop
    }
    try workload match {
      case "commit_sync" =>
        val w = new CommitSync(spark, rec, seed, work)
        (1 to SetupReps).foreach(_ => rec.setup(w.setup()))
        measure(w.warmup(), w.run(seconds))
        extra += "sizes" -> Map("history_rows" -> CommitSync.History,
          "tick_s" -> CommitSync.TickSeconds, "buckets" -> CommitSync.Buckets)
      case "store_serve" =>
        val w = new StoreServe(spark, rec, seed, work)
        (1 to SetupReps).foreach(_ => rec.setup(w.setup()))
        measure(w.warmup(), w.run(seconds))
        extra += "sizes" -> Map("keys" -> StoreServe.Keys, "tick_s" -> CommitSync.TickSeconds)
      case "query_suite" =>
        val w = new QuerySuite(spark, rec, seed, work)
        (1 to SetupReps).foreach(_ => rec.setup(w.setup()))
        measure({ w.results(); w.warmup() }, w.run(seconds))
        extra += "oracle" -> w.oracle
        extra += "sizes" -> Map("sf" -> QuerySuite.Sf)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        rec.fail("workload", e)
        e.printStackTrace()
    }
    extra += "heap_peak_mb" -> heap.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    val out = rec.dump(extra)
    spark.stop()
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(
      new java.io.File(o("out")), toJava(out))
  }

  /** The program writes its sink and stream scratch under the fixed path
    * `graft.sinks.Sinks.tmpBase`, outside any checkout but the one it was
    * written in (README, defect c). Point it into this run's work dir.
    * Scala compiles the object's val to a static final field, which
    * reflection cannot set, so this writes it through Unsafe, before any
    * code has read it. */
  private def redirectProgramScratch(dir: String): Unit = {
    val field = graft.sinks.Sinks.getClass.getDeclaredField("tmpBase")
    val theUnsafe = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    theUnsafe.setAccessible(true)
    val u = theUnsafe.get(null).asInstanceOf[sun.misc.Unsafe]
    u.putObject(u.staticFieldBase(field), u.staticFieldOffset(field), dir)
    require(graft.sinks.Sinks.tmpBase == dir, "could not redirect Sinks.tmpBase")
  }

  private def session(work: String): SparkSession = {
    val b = SparkSession.builder().master("local[4]").appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.local.dir", s"$work/spark-local")
    graft.sources.Tables.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    // the program's warehouse dir is a fixed path too (defect c)
    b.config("spark.sql.warehouse.dir", s"$work/warehouse")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def toJava(v: Any): AnyRef = v match {
    case m: collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] =>
      val j = new java.util.ArrayList[AnyRef]()
      s.foreach(x => j.add(toJava(x)))
      j
    case d: Double if d.isNaN || d.isInfinite => null
    case null => null
    case x => x.asInstanceOf[AnyRef]
  }
}
