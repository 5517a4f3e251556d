package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sinks.Sinks

/** `store_serve`: the versioned store read beside its writes. Each round
  * is one tick of `commit_sync`'s clock: it commits that tick's delta (the
  * 2 or 3 newly published keys, plus one re-delivered existing key as an
  * update), serves keyed lookups at the latest version and the change feed
  * of that version; every few rounds the store is compacted up to the
  * previous version, as background maintenance would. Expected values are
  * tracked on the driver: a key's payload is a function of (key, seed,
  * version that last wrote it). */
final class StoreServe(spark: SparkSession, rec: Recorder, seed: Long, work: String) {
  import StoreServe._

  private val store = s"$work/versioned_store"
  private val rng = new scala.util.Random(seed)
  /** key -> version that last wrote it. */
  private val written = mutable.LongMap[Int]()
  private var nKeys = Keys
  private var version = 0

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("payload", StringType),
    StructField("amount", LongType)))

  private def row(k: Long, v: Int): Row =
    Row(k, s"p$k-$v-${(k * 31 + seed) % 997}", (k * 7919 + seed * 13 + v) % 100000)

  def setup(): Unit = {
    Sinks.deleteRec(store)
    written.clear()
    val v = Sinks.commitVersion(spark, store, spark.range(Keys).select(
      col("id").as("k"),
      concat(lit("p"), col("id"), lit("-0-"), ((col("id") * 31 + seed) % 997).cast("string"))
        .as("payload"),
      ((col("id") * 7919 + seed * 13) % 100000).as("amount")), "k")
    require(v == 0, s"fresh store committed version $v")
    (0L until Keys).foreach(written(_) = 0)
    nKeys = Keys
    version = 0
  }

  private def local(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  def commit(trace: Boolean): Option[(Seq[Long], Seq[Long])] = rec.op("commit", trace = trace) {
    val v = version + 1
    val inserts = CommitSync.publishedBy(v) - CommitSync.publishedBy(v - 1)
    val fresh = (nKeys until nKeys + inserts).toSeq
    val updated = Seq.fill(CommitSync.Redelivered)((rng.nextDouble() * nKeys).toLong).distinct
    val before = if (rec.isTracing) StoreListing.of(store) else null
    val got = rec.span("sinks.commit_version") {
      Sinks.commitVersion(spark, store, local((fresh ++ updated).map(row(_, v))), "k")
    }
    rec.check(got == v, s"commit returned version $got, expected $v")
    rec.rows(fresh.size + updated.size)
    version = v
    nKeys += inserts
    (fresh ++ updated).foreach(written(_) = v)
    if (rec.isTracing) {
      val after = StoreListing.of(store)
      rec.count("sinks.bytes_written", after.writtenSince(before).bytes.toDouble)
      rec.count("sinks.store_files", after.dataFiles.toDouble)
      rec.count("sinks.store_bytes", after.bytes.toDouble)
      rec.count("sinks.store_rows", nKeys.toDouble)
    }
    (fresh, updated)
  }

  def lookup(trace: Boolean): Unit = rec.op("lookup", trace = trace) {
    val k = (rng.nextDouble() * nKeys).toLong
    if (rec.isTracing) {
      val l = StoreListing.of(store)
      rec.count("sinks.read_fanin", l.dirs.count(d =>
        d.startsWith("delta_v=") || d.startsWith("base_v=")).toDouble)
    }
    val rows = rec.span("sinks.snapshot") {
      Sinks.snapshotAt(spark, store, version, "k",
        onlyKeys = Some(spark.range(k, k + 1).select(col("id").as("k"))))
        .select("k", "payload", "amount").collect()
    }
    rec.check(rows.length == 1, s"lookup $k@$version: ${rows.length} rows")
    rows.headOption.foreach(r =>
      rec.check(r == row(k, written(k)), s"lookup $k@$version: $r"))
  }

  def feed(fresh: Seq[Long], updated: Seq[Long], trace: Boolean): Unit =
    rec.op("feed", trace = trace) {
      val v = version
      val rows = rec.span("sinks.changes") {
        Sinks.changesBetween(spark, store, v - 1, v, "k")
          .select("change_type", "k", "payload", "amount").collect()
      }
      val want = fresh.map(k => Row("insert", k) -> row(k, v)) ++
        updated.map(k => Row("update", k) -> row(k, v))
      val got = rows.map(r => Row(r.getString(0), r.getLong(1)) ->
        Row(r.getLong(1), r.getString(2), r.getLong(3)))
      rec.check(got.length == want.length, s"feed $v: ${got.length} rows, expected ${want.length}")
      rec.check(got.toSet == want.toSet, s"feed $v differs from the committed delta")
    }

  def compact(trace: Boolean): Unit = rec.op("compact", trace = trace) {
    rec.span("sinks.compact")(Sinks.compactVersions(spark, store, version - 1, "k"))
  }

  private def round(r: Int, trace: Boolean): Unit = {
    rec.inCycle(r)
    commit(trace).foreach { case (fresh, updated) =>
      (0 until Lookups).foreach(_ => lookup(trace))
      feed(fresh, updated, trace)
    }
    // a traced run traces every compaction: they are too few to alternate
    if (version % CompactEvery == 0) compact(rec.traced)
    rec.inCycle(-1)
  }

  def warmup(): Unit = (1 to WarmRounds).foreach(_ => round(0, trace = false))

  /** Rounds until `seconds` have passed; traced runs alternate rounds with
    * and without tracing. */
  def run(seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var r = 0
    while (r < MinRounds || System.nanoTime() < deadline) {
      r += 1
      round(r, rec.traced && r % 2 == 1)
    }
  }
}

object StoreServe {
  val Keys = 200000L
  /** Reads are not in the reference's traffic. Eight a round puts at least
    * ten lookups beyond the tail percentile in a run. */
  val Lookups = 8
  /** Every 15 simulated minutes (every 3rd version): a lookup reads three
    * to five version dirs, and every run holds a compaction. */
  val CompactEvery = 3
  /** Untimed rounds before the timed ones, as on `commit_sync`. */
  val WarmRounds = 1
  val MinRounds = 3
}
