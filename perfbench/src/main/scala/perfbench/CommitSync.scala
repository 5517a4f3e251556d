package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.CommitEtl
import graft.sinks.Sinks
import graft.sources.CommitSource

/** `commit_sync`: the paper's own loop. A bucket store holding a commit
  * history much larger than one tick's batch; each tick takes the store's
  * watermark, fetches the newer commits from the commit source with the
  * bound pushed into the scan, adds one re-delivered (amended) older
  * commit, parses the GitHub-shaped nested records and upserts them by
  * key. Point lookups by key follow each tick.
  *
  * Traffic follows the reference's clock: one tick per 5 simulated
  * minutes, and the source publishes one commit per 137 s, so a tick
  * fetches the 2 or 3 commits published since the last one (see
  * [[CommitSync.publishedBy]]). The full-history write is the set-up.
  *
  * The store is keyed by a BIGINT commit id derived from the sha, not by
  * the sha itself: `Sinks.mergeByKeyBucket` buckets with `pmod(key, n)`,
  * which fails on a string key under ANSI casts (see README, defect a).
  *
  * Expected contents are modelled on the driver from the generator alone:
  * which fields of the nested record are absent or null is arithmetic in
  * (row index, seed), the same in the Spark shaping below and in
  * [[expected]]. */
final class CommitSync(spark: SparkSession, rec: Recorder, seed: Long, work: String) {
  import CommitSync._

  private val store = s"$work/commit_store"
  private val rng = new scala.util.Random(seed)
  private var apiRows = History
  /** Ticks run so far, on the simulated 5-minute clock. */
  private var ticks = 0
  /** Commits the last tick fetched as new. */
  private var fresh = 1L
  /** Commit index -> tick of its latest amended re-delivery. */
  private val amended = mutable.HashMap[Long, Int]()

  private def api(rows: Long): DataFrame =
    spark.read.format("graft.sources.CommitSource").option("rows", rows).load()

  private val personT = StructType(Seq(
    StructField("email", StringType), StructField("date", StringType)))

  /** Flat commit-source rows -> GitHub-API-shaped nested records. */
  private def nested(flat: DataFrame, amendTick: Option[Int]): DataFrame = {
    val i = expr("cast(substring(sha, 2) as bigint)")
    val s = lit(seed)
    val date = date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    val base = concat(col("message"), lit(" fix #"), ((i + s) % 1000).cast("string"))
    val msg = amendTick.fold(base)(t => concat(base, lit(s" (amended t$t)")))
    def person(prefix: String, absent: org.apache.spark.sql.Column,
               dateNull: org.apache.spark.sql.Column) =
      when(absent, lit(null).cast(personT)).otherwise(struct(
        concat(lit(prefix), col("email")).as("email"),
        when(dateNull, lit(null).cast(StringType)).otherwise(date).as("date")))
    flat.select(col("sha"), struct(
      msg.as("message"),
      person("a.", (i + s) % 7 === 0, (i + s * 2) % 5 === 0).as("author"),
      person("c.", (i + s * 3) % 11 === 0, (i + s * 5) % 13 === 0).as("committer"))
      .as("commit"))
  }

  private def parse(page: DataFrame): DataFrame =
    CommitEtl.parseCommits(page)
      .withColumn("commit_id", expr("cast(substring(commit_hash, 2) as bigint)"))

  private def merge(batch: DataFrame): Unit =
    Sinks.mergeByKeyBucket(spark, store, batch, "commit_id", Seq("commit_ts"), Buckets)

  /** Initial sync: the whole history, fetched as one page per core. The
    * commit source plans one partition per 100 rows, and the store's
    * first write keeps one file per input partition and bucket (README,
    * defect d), so the history is coalesced before it is merged. */
  def setup(): Unit = {
    Sinks.truncate(store)
    merge(parse(nested(api(History), None).coalesce(4)))
  }

  /** The re-delivered page: amended copies of older commits, rebuilt with
    * the commit source's own row formulas. */
  private def redelivered(ids: Seq[Long]): DataFrame = {
    val rows = ids.map(i => Row(CommitSource.shaOf(i),
      new Timestamp(CommitSource.tsMicrosOf(i) / 1000),
      CommitSource.emailOf(i), CommitSource.messageOf(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), CommitSource.schema)
  }

  def tick(trace: Boolean): Unit = rec.op("tick", trace = trace) {
    val before = if (rec.isTracing) StoreListing.of(store) else null
    val wm: Timestamp = rec.span("ingest.watermark") {
      CommitEtl.watermark(spark.read.parquet(store), "commit_ts").collect()(0).getTimestamp(0)
    }
    ticks += 1
    apiRows = publishedBy(ticks)
    val bound = new Timestamp(wm.getTime + 1000)
    val first = CommitSource.firstRowFor(bound.getTime * 1000)
    fresh = apiRows - first
    val ids = Seq.fill(Redelivered)((rng.nextDouble() * (first - 100)).toLong).distinct
    val page = rec.span("sources.fetch") {
      val wmDf = spark.range(1).select(lit(wm).as("wm"))
      val newer = CommitEtl.incrementalSlice(
        api(apiRows).where(col("ts") >= lit(bound)), wmDf, "ts")
      val p = nested(newer, None).unionByName(nested(redelivered(ids), Some(ticks))).cache()
      val n = p.count()
      rec.check(n == fresh + ids.size, s"fetched $n rows, expected ${fresh + ids.size}")
      // rows brought in new or changed: the newly published commits and the
      // re-delivered ones, not the undated commits that a watermark older
      // than the newest commit fetches again unchanged
      rec.rows(publishedBy(ticks) - publishedBy(ticks - 1) + ids.size)
      rec.count("sources.newer_rows", (apiRows - first).toDouble)
      p
    }
    val batch = rec.span("ingest.parse")(parse(page))
    rec.span("sinks.merge")(merge(batch))
    page.unpersist()
    // the fresh range replaces any earlier amendment; then this tick's own
    (first until apiRows).foreach(amended.remove)
    ids.foreach(amended(_) = ticks)
    if (rec.isTracing) {
      val after = StoreListing.of(store)
      val written = after.writtenSince(before)
      rec.count("sinks.bytes_written", written.bytes.toDouble)
      rec.count("sinks.buckets_rewritten", written.dirs.size.toDouble)
      rec.count("sinks.store_files", after.dataFiles.toDouble)
      rec.count("sinks.store_bytes_before", before.bytes.toDouble)
      rec.count("sinks.store_rows_before", publishedBy(ticks - 1).toDouble)
      rec.count("sinks.store_bytes", after.bytes.toDouble)
      rec.count("sinks.store_rows", apiRows.toDouble)
    }
  }

  /** Index of a commit to look up: this tick's, an amended one, or any. */
  def lookupKey(k: Int): Long = k % 3 match {
    case 0 => apiRows - 1 - rng.nextInt(fresh.toInt max 1)
    case 1 if amended.nonEmpty => amended.keysIterator.drop(rng.nextInt(amended.size)).next()
    case _ => (rng.nextDouble() * apiRows).toLong
  }

  def lookup(i: Long, trace: Boolean): Unit = rec.op("lookup", trace = trace) {
    // the store's own pruned keyed read: only the key's bucket directory
    val rows = rec.span("store.lookup") {
      val bucket = Math.floorMod(i, Sinks.storedBucketCount(store).getOrElse(Buckets).toLong)
      spark.read.parquet(Sinks.bucketDirs(store, Seq(bucket.toInt)): _*)
        .where(col("commit_id") === i)
        .select("commit_id", "commit_ts", "commit_email", "commit_message").collect()
    }
    rec.check(rows.length == 1, s"lookup $i: ${rows.length} rows")
    rows.headOption.foreach(r => rec.check(same(r, expected(i)), s"lookup $i: $r"))
  }

  /** The row the store must hold for commit `i`: the author's date and
    * email when the author record has a date, else the committer's. */
  def expected(i: Long): Row = {
    val aPresent = (i + seed) % 7 != 0
    val aDate = aPresent && (i + seed * 2) % 5 != 0
    val cDate = (i + seed * 3) % 11 != 0 && (i + seed * 5) % 13 != 0
    val email = CommitSource.emailOf(i)
    val msg = s"${CommitSource.messageOf(i)} fix #${(i + seed) % 1000}" +
      amended.get(i).fold("")(t => s" (amended t$t)")
    Row(i,
      if (aDate || cDate) new Timestamp(CommitSource.tsMicrosOf(i) / 1000) else null,
      if (aDate) s"a.$email" else if (cDate) s"c.$email" else if (aPresent) s"a.$email" else null,
      msg)
  }

  private def same(r: Row, e: Row): Boolean =
    (0 until 4).forall(j => r.get(j) == e.get(j))

  /** The whole store: one row per commit the source has published, each
    * with its latest payload. */
  def verify(): Unit = rec.op("verify", trace = false) {
    val rows = spark.read.parquet(store)
      .select("commit_id", "commit_ts", "commit_email", "commit_message").collect()
    rec.check(rows.length == apiRows, s"store holds ${rows.length} rows, expected $apiRows")
    val ids = rows.map(_.getLong(0))
    rec.check(ids.distinct.length == ids.length, "store holds duplicate keys")
    val bad = rows.filterNot(r => same(r, expected(r.getLong(0))))
    rec.check(bad.isEmpty, s"${bad.length} store rows differ, e.g. ${bad.headOption.orNull}")
    rec.check(ids.forall(i => i >= 0 && i < apiRows), "store holds unknown keys")
  }

  private def cycle(c: Int, trace: Boolean): Unit = {
    rec.inCycle(c)
    tick(trace)
    (0 until Lookups).foreach(k => lookup(lookupKey(k), trace))
    rec.inCycle(-1)
  }

  def warmup(): Unit = (1 to WarmTicks).foreach(_ => cycle(0, trace = false))

  /** Ticks until `seconds` have passed; traced runs alternate ticks with
    * and without tracing. Then the whole-store check. */
  def run(seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var t = 0
    while (t < MinTicks || System.nanoTime() < deadline) {
      t += 1
      cycle(t, rec.traced && t % 2 == 1)
    }
    verify()
  }
}

object CommitSync {
  /** Commits in the store before the first tick: 158 days at the
    * source's rate. */
  val History = 100000L
  /** The reference's default schedule: every 5 minutes (git_etl.ts:267). */
  val TickSeconds = 300L
  /** Amended older commits each tick re-delivers. The reference gives no
    * rate; one is the smallest share that exercises the update path. */
  val Redelivered = 1
  val Lookups = 6
  val Buckets = 16
  /** Untimed cycles before the timed ones: the JIT is still speeding the
    * tick up over the first few. */
  val WarmTicks = 3
  val MinTicks = 5

  /** Commits the source has published after `t` ticks of [[TickSeconds]]
    * each: the history plus one commit per `CommitSource.StepMicros`
    * (137 s), so 2.19 new commits a tick on average. */
  def publishedBy(t: Int): Long =
    History + t * TickSeconds * 1000000L / CommitSource.StepMicros
}
