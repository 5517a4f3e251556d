package graft

import graft.sinks.Sinks
import graft.sources.KvStoreSink
import graft.util.Fs

/** The file-system layer's rename contract, the crash windows of the
  * manifest commit built on it, and the bucket law for keys that are not
  * integral. */
class FsSpec extends SparkSpec {

  private val base = Sinks.tmpBase + "/spec/fs"

  test("Fs.move refuses an existing destination directory instead of nesting into it") {
    Sinks.truncate(base)
    Fs.writeString(s"$base/s2/x", "x")
    Fs.writeString(s"$base/d2/y", "y")
    intercept[java.io.IOException](Fs.move(s"$base/s2", s"$base/d2"))
    assert(!Fs.exists(s"$base/d2/s2"), "the source must not be nested inside")
    assert(Fs.names(s"$base/d2").filterNot(_.startsWith(".")) === Seq("y"))
    assert(Fs.exists(s"$base/s2/x"), "a refused move leaves the source in place")
    // onto a free name it moves
    Fs.move(s"$base/s2", s"$base/s3")
    assert(!Fs.exists(s"$base/s2") && Fs.readString(s"$base/s3/x") === "x")
  }

  test("Fs.replace overwrites an existing file") {
    Sinks.truncate(base)
    Fs.writeString(s"$base/part-0.jsonl", "1")
    Fs.writeString(s"$base/.staging-0", "2")
    Fs.replace(s"$base/.staging-0", s"$base/part-0.jsonl")
    assert(Fs.readString(s"$base/part-0.jsonl") === "2")
    assert(!Fs.exists(s"$base/.staging-0"))
    // and onto a name that does not exist yet
    Fs.writeString(s"$base/.staging-0", "3")
    Fs.replace(s"$base/.staging-0", s"$base/part-1.jsonl")
    assert(Fs.readString(s"$base/part-1.jsonl") === "3")
  }

  test("manifest commit: a crash on either side of the rename loses no committed rows") {
    import spark.implicits._
    val dest = s"$base/kv_crash"
    Sinks.truncate(dest)
    def append(r: Range): Unit =
      r.map(i => (i.toLong, "v", 1L)).toDF("k", "v", "cents").repartition(2)
        .write.format("graft.sources.KvStoreSink").option("path", dest)
        .mode("append").save()
    def keys = spark.read.schema(KvStoreSink.schema)
      .json(KvStoreSink.committedFiles(dest): _*).as[(Long, String, Long)]
      .collect().map(_._1).sorted.toSeq
    append(1 to 10)
    val v1 = Sinks.readManifest(dest).get._1
    // crash BEFORE the rename: a complete manifest.tmp naming a file that
    // never published is not a commit — readers stay on v1
    Fs.writeString(s"$dest/MANIFEST.tmp", "part-lost.jsonl")
    assert(keys === (1L to 10L))
    // crash AFTER the rename, before superseded versions are deleted:
    // a stale lower version on disk is ignored, the highest one is live
    Fs.writeString(s"$dest/MANIFEST.${v1 - 1}", "")
    assert(keys === (1L to 10L))
    // the next append builds on the committed v1 and clears both leftovers
    append(11 to 15)
    assert(keys === (1L to 15L))
    assert(Fs.names(dest).filter(_.startsWith("MANIFEST")) === Seq(s"MANIFEST.${v1 + 1}"))
  }

  test("publishSet: a crashed manifest commit neither rolls back nor loses the live set") {
    import spark.implicits._
    val dest = s"$base/set_crash"
    Sinks.truncate(dest)
    Sinks.publishSet(spark, dest, 5L, Map("a" -> Seq(1).toDF("x")))
    Fs.writeString(s"$dest/MANIFEST.tmp", "6") // crashed v6 publish, never renamed
    assert(Sinks.manifestVersion(dest) === 5L)
    Sinks.publishSet(spark, dest, 4L, Map("a" -> Seq(4).toDF("x"))) // delayed replay
    assert(Sinks.manifestVersion(dest) === 5L)
    assert(Sinks.readSet(spark, dest, "a").as[Int].collect().toSeq === Seq(1))
    Sinks.publishSet(spark, dest, 6L, Map("a" -> Seq(6).toDF("x")))
    assert(Sinks.readSet(spark, dest, "a").as[Int].collect().toSeq === Seq(6))
  }

  test("mergeByKeyBucket on a 40-hex sha key: one row per key, latest payload wins") {
    import spark.implicits._
    val dest = s"$base/sha_store"
    Sinks.truncate(dest)
    def sha(i: Int) = java.security.MessageDigest.getInstance("SHA-1")
      .digest(s"commit-$i".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val b1 = (1 to 40).map(i => (sha(i), s"a$i", 1L)).toDF("sha", "payload", "ts")
    // second batch: 10 new keys plus one re-delivered key with a newer payload
    val b2 = ((41 to 50).map(i => (sha(i), s"b$i", 2L)) :+ ((sha(7), "b7", 2L)))
      .toDF("sha", "payload", "ts")
    Sinks.mergeByKeyBucket(spark, dest, b1, "sha", Seq("ts"), nBuckets = 4)
    Sinks.mergeByKeyBucket(spark, dest, b2, "sha", Seq("ts"), nBuckets = 4)
    val got = spark.read.parquet(dest).select("sha", "payload").as[(String, String)]
      .collect()
    assert(got.length === 50)
    assert(got.map(_._1).distinct.length === 50, "one row per key")
    val byKey = got.toMap
    assert(byKey(sha(7)) === "b7", "the re-delivered key keeps the latest payload")
    assert(byKey(sha(8)) === "a8")
    assert(byKey(sha(45)) === "b45")
    // every row sits in the bucket the law assigns it
    val laid = spark.read.parquet(dest)
    val misplaced = laid.where(Sinks.bucketOf(laid, "sha", 4) =!= laid("_bucket")).count()
    assert(misplaced === 0)
  }
}
