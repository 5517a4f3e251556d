package graft.sinks

import java.io.FileNotFoundException

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.ingest.CommitEtl
import graft.sources.Tables
import graft.util.Exact._
import graft.util.Fs

/** Durable sink surface: crash-safe atomic overwrite, partitioned tables
  * with pruned reads (reference O7, the KV prefix scan `git_etl.ts:142`),
  * truncate/reset (O11, `git_etl.ts:293-308`), a `foreachBatch` merge sink
  * (O8 made durable, `git_etl.ts:127-132`), and `observe()` row-count
  * metrics (O13, `git_etl.ts:67-71`).
  *
  * Atomicity model (SURVEY §7.4): write to `<dest>.inprogress`, then swap
  * via filesystem rename — readers see either the old table or the new one,
  * never a partial batch. This strictly improves on the reference's
  * row-at-a-time non-transactional writes (`git_etl.ts:128-131`), which can
  * leave half a batch on crash. On a real deployment the same pattern is a
  * table-format transaction; the rename swap is its minimal file-system
  * expression.
  *
  * COMMITTER CONTRACT (r15, binding on every sink added here): the engine
  * runs FileOutputCommitter v2 session-wide ([[graft.sources.Tables
  * .sessionConfs]]) — task commits rename output into the destination
  * directly, so a Spark-level write is NOT atomic mid-job. That is safe
  * only because every sink in this file layers its OWN staged-publish
  * atomicity on top (writeAtomic's two-rename swap, per-bucket staged
  * swaps in [[mergeByKeyBucket]]/[[rewriteBuckets]], versioned staged-dir
  * renames in [[commitVersion]], the versioned manifest of
  * [[commitManifest]]). A new sink MUST do the same: write to an
  * invisible staging path (dot/underscore prefix or a sidecar dir) and
  * publish with a non-overwriting rename ([[graft.util.Fs.move]]) —
  * never point readers at a directory a Spark job is writing into. Every
  * file mutation (rename, delete, mkdirs, metadata write) goes through
  * [[graft.util.Fs]], the one place they happen; its rename contract
  * (`move` never overwrites and is the only commit-point rename,
  * `replace` overwrites a file a replay re-derives) is what the swaps
  * below are built from. */
object Sinks {

  /** All sink queries write beneath the build dir — never outside the repo. */
  val tmpBase = "/root/repo/target/qtmp"

  def deleteRec(p: String): Unit = Fs.delete(p)

  /** THE bucket law of every bucket store: integral keys bucket by
    * `pmod(key, n)` (the layout SPJ co-bucketing and the oracles rely
    * on), any other key type by `pmod(xxhash64(key), n)`. Int-typed so it
    * round-trips partition discovery with a stable type. Takes the frame
    * the key column belongs to because the law depends on its type. */
  def bucketOf(df: DataFrame, c: String, n: Int): Column = {
    val k = df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => col(c)
      case _ => xxhash64(col(c))
    }
    pmod(k, lit(n)).cast("int")
  }

  /** O11: truncate/reset a table directory (the reference clears its KV
    * store + WAL sidecars on startup when configured; `git_etl.ts:293-308`).
    * Also clears the atomic-swap sidecars so a fresh store never resurrects
    * a stale `.old` copy. */
  def truncate(dest: String): Unit = {
    deleteRec(dest); deleteRec(dest + ".old"); deleteRec(dest + ".inprogress")
  }

  /** Recover from a crash BETWEEN writeAtomic's two renames: in that
    * window `dest` is missing but `dest.old` holds the complete previous
    * table, so the old-or-new guarantee is restored by renaming it back.
    * Called on every writeAtomic (startup-equivalent) and safe to call any
    * time — a no-op unless exactly that crash window is on disk. */
  def recover(dest: String): Unit = {
    val old = dest + ".old"
    if (!Fs.exists(dest) && Fs.exists(old)) Fs.move(old, dest)
  }

  /** THE commit point of every manifest-gated store ([[publishSet]] and
    * `KvBatchWrite.commit`): the manifest text is written whole to
    * `dir/MANIFEST.tmp`, then MOVED onto the fresh name `dir/MANIFEST.<v>`
    * — one non-overwriting rename, so the store never passes through a
    * state without a complete manifest (an overwriting rename is
    * delete-then-rename on Hadoop's local file system). Readers take the
    * highest version ([[readManifest]]). A crash before the move leaves a
    * stray `MANIFEST.tmp` that the next commit overwrites; one after it
    * leaves superseded versions that the next commit deletes. A second
    * writer racing for the same version fails its move instead of
    * silently replacing the first. */
  def commitManifest(dir: String, v: Long, text: String): Unit = {
    Fs.writeString(s"$dir/MANIFEST.tmp", text)
    Fs.move(s"$dir/MANIFEST.tmp", s"$dir/MANIFEST.$v")
    manifestVersions(dir).filter(_ < v).foreach(o => Fs.delete(s"$dir/MANIFEST.$o"))
  }

  private val ManifestName = """MANIFEST\.(-?\d+)""".r

  private def manifestVersions(dir: String): Seq[Long] =
    Fs.names(dir).collect { case ManifestName(v) => v.toLong }

  /** The newest committed manifest of `dir` as (version, text); None when
    * the store never committed. */
  def readManifest(dir: String): Option[(Long, String)] =
    manifestVersions(dir).maxOption.flatMap { v =>
      try Some(v -> Fs.readString(s"$dir/MANIFEST.$v"))
      catch { // superseded and deleted between the listing and the read
        case _: FileNotFoundException => readManifest(dir)
      }
    }

  /** Publish a SET of tables as one atomic unit: every table's data lands
    * under `base/tables/<name>/v_<version>` first, then the manifest
    * commits ([[commitManifest]]). A crash anywhere before that leaves
    * readers on the previous complete set; after it, on the new complete
    * set — never a cross-version mix (the guarantee per-table
    * [[writeAtomic]] cannot give across tables).
    *
    * Replay-safe: a crash-recovery re-run of an already-committed version
    * is a no-op — readers are LIVE on those `v_<version>` dirs, so
    * rewriting them in place would break the never-partial guarantee. An
    * uncommitted version's dirs (crash before the manifest commit) are
    * invisible to readers and are staged + atomically renamed per table. */
  def publishSet(s: SparkSession, base: String, version: Long,
                 tables: Map[String, DataFrame]): Unit = {
    val committed = readManifest(base).fold(Long.MinValue)(_._1)
    // <= not ==: a delayed replay of an OLDER committed publish must not
    // roll readers back to stale data (versions are monotone by contract)
    if (version <= committed) return // replay of a committed publish
    tables.foreach { case (name, df) =>
      val dest = s"$base/tables/$name/v_$version"
      val staging = dest + ".staging"
      deleteRec(staging)
      df.write.mode("overwrite").parquet(staging)
      deleteRec(dest) // uncommitted leftovers only — version != committed
      Fs.move(staging, dest)
    }
    commitManifest(base, version, version.toString)
  }

  /** Current committed version of a [[publishSet]] store. */
  def manifestVersion(base: String): Long = readManifest(base).map(_._1)
    .getOrElse(throw new FileNotFoundException(s"no committed manifest under $base"))

  /** Read one table of the committed set — always the manifest's version. */
  def readSet(s: SparkSession, base: String, name: String): DataFrame =
    s.read.parquet(s"$base/tables/$name/v_${manifestVersion(base)}")

  /** Crash-safe atomic overwrite: stage into `dest.inprogress`, rename into
    * place. Optional `partitionBy` produces a layout whose reads prune.
    * Readers see the old table or the new one, never a partial batch; a
    * crash between the two renames is healed by [[recover]] on the next
    * write (or by any caller invoking it at startup). */
  def writeAtomic(df: DataFrame, dest: String, partitionCols: Seq[String] = Nil): Unit = {
    recover(dest) // heal a leftover .old BEFORE deleting sidecars
    val tmp = dest + ".inprogress"
    val old = dest + ".old"
    deleteRec(tmp); deleteRec(old)
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(tmp)
    if (Fs.exists(dest)) Fs.move(dest, old)
    Fs.move(tmp, dest)
    deleteRec(old)
  }

  /** Partition-scoped keyed merge (the 100 TB fix for rewrite-the-world
    * upserts): the store is partitioned by a STABLE hash bucket of the key
    * (never by event time — an update with a changed timestamp would land
    * in a different partition and leave its stale twin behind). Each merge
    * reads ONLY the buckets the incoming batch touches, upserts, and
    * rewrites ONLY those buckets. A batch touching 1% of buckets rewrites
    * 1% of the table.
    *
    * Crash safety (per bucket, like [[writeAtomic]] per table): merged
    * buckets are staged under `dest/_merge_staging` (underscore prefix —
    * invisible to Spark readers), then swapped in with the two-rename
    * pattern (`live → .old_bucket_N → delete`); [[healBuckets]] restores
    * any bucket whose live dir vanished mid-swap before the next merge
    * reads the store, so a replayed tick never merges against a damaged
    * store (callers reading the store OUTSIDE a merge after a possible
    * crash should call [[healBuckets]] first). Readers never see a
    * partial FILE SET for a bucket — but a reader racing the swap itself
    * can observe a bucket briefly ABSENT between the two renames, and
    * may see some buckets updated before others. Per-key (within-bucket)
    * consistency always holds, and the ETL's own sequential ticks resume
    * correctly because the keyed upsert is idempotent. True
    * reader-concurrent snapshot atomicity is a table-format transaction
    * log's job, out of scope for the filesystem expression. */
  def mergeByKeyBucket(s: SparkSession, dest: String, batch: DataFrame,
                       key: String, orderCols: Seq[String],
                       nBuckets: Int = 16,
                       bucketCol: String = null): Unit = {
    // bucketCol (default: the key) lets a store physically cluster by a
    // DIFFERENT column than its merge key — e.g. a denormalized join view
    // keyed by fact id but bucketed by the dimension FK, so dim-driven
    // backfills prune to the changed keys' buckets. The caller's contract:
    // bucketCol is functionally dependent on the key and IMMUTABLE for a
    // given key (otherwise an update could land beside a stale twin it
    // never reads).
    val bCol = Option(bucketCol).getOrElse(key)
    if (!Fs.exists(dest)) {
      // first write: stage + single rename, so readers never see a
      // half-written initial store. The chosen bucket count is persisted
      // as `_graft_buckets` INSIDE the staged dir (underscore-prefixed —
      // invisible to Spark readers), so it is atomic with the data and
      // every later merge buckets against the store's true layout.
      val bucketed = batch.withColumn("_bucket", bucketOf(batch, bCol, nBuckets))
      val init = dest + ".init"
      deleteRec(init)
      bucketed.write.partitionBy("_bucket").parquet(init)
      Fs.writeString(s"$init/_graft_buckets", nBuckets.toString)
      // persist the bucketing column too: a later delete/merge must bucket
      // by the store's TRUE layout column, not assume the merge key
      Fs.writeString(s"$init/_graft_bucket_col", bCol)
      Fs.move(init, dest)
    } else {
      healBuckets(dest)
      // merge against the STORE's bucket count, not the caller's: a
      // mismatched nBuckets would assign a key's new row to a different
      // bucket than its stored twin, and the upsert (which only reads
      // touched buckets) would leave the stale twin alive — silent
      // duplicate keys. The metadata file makes the layout self-describing;
      // pre-metadata stores fall back to the caller's value.
      val n = storedBucketCount(dest).getOrElse(nBuckets)
      // same self-describing discipline for the bucketing COLUMN: a later
      // merge that omits bucketCol must still bucket by the store's true
      // layout, or the upsert reads the wrong buckets and leaves stale
      // twins alive (exactly the mismatched-nBuckets failure mode)
      val storeBCol = storedBucketCol(dest).getOrElse(bCol)
      val bucketed = batch.withColumn("_bucket", bucketOf(batch, storeBCol, n))
      // touched-bucket list is partition METADATA (<= nBuckets values)
      val touched = bucketed.select(col("_bucket")).distinct()
        .collect().map(_.getInt(0)).toIndexedSeq
      val existing = s.read.parquet(dest)
        .where(col("_bucket").isin(touched: _*))
      val merged = CommitEtl.upsert(existing, bucketed, key, orderCols)
      stageAndSwap(s, dest, merged, touched)
    }
  }

  /** Keyed DELETE from a [[mergeByKeyBucket]] store: remove every row whose
    * `key` appears in `keys`, rewriting only the touched buckets (same
    * crash-safe two-rename swap as the merge). The GDPR / right-to-be-
    * forgotten primitive: at 100 TB a delete list of any size costs only
    * the buckets it hashes into, never a full-table rewrite. Idempotent —
    * replaying a delete finds no matching keys and rewrites the same
    * (already-clean) buckets. A bucket whose rows are all deleted is
    * dropped from the store (readers of `dest` see the remaining buckets;
    * partition discovery needs no placeholder). */
  def deleteByKeyBucket(s: SparkSession, dest: String, keys: DataFrame,
                        key: String): Unit = {
    if (!Fs.exists(dest)) return
    healBuckets(dest)
    val n = storedBucketCount(dest).getOrElse(16)
    // Bucket by the store's TRUE layout column (persisted at init), not by
    // the merge key: a bucketCol store (e.g. the FK-bucketed join MV) hashes
    // rows by the FK, so pmod(key) would read buckets the rows do NOT live
    // in and the delete would silently remove nothing.
    val bCol = storedBucketCol(dest).getOrElse(key)
    val canPrune = bCol == key || keys.columns.contains(bCol)
    val del = keys.select((col(key) +: (if (bCol == key) Nil
      else if (canPrune) Seq(col(bCol)) else Nil)): _*).distinct()
    val touched =
      if (canPrune)
        del.select(bucketOf(del, bCol, n).as("_bucket"))
          .distinct().collect().map(_.getInt(0)).toIndexedSeq
      else
        // delete list lacks the bucketing column: correct-but-unpruned
        // fallback — anti-join every existing bucket (the caller should
        // supply bCol in `keys` to keep the 100 TB pruning property)
        existingBuckets(dest)
    if (touched.isEmpty) return
    val remaining = s.read.parquet(dest)
      .where(col("_bucket").isin(touched: _*))
      .join(del.select(col(key)), Seq(key), "left_anti")
    stageAndSwap(s, dest, remaining, touched, dropMissing = true)
  }

  /** Merge-on-read keyed DELETE — the cheap tier [[deleteByKeyBucket]]'s
    * copy-on-write rewrite pairs with (the standard lakehouse split:
    * Delta/Iceberg deletion vectors vs rewrite). A 100-key GDPR delete on
    * a 100 TB store should not rewrite ~100 multi-hundred-MB buckets at
    * request time; it appends the keys to an underscore-prefixed sidecar
    * (`dest/_deletes/` — invisible to plain parquet readers of `dest`),
    * [[readWithDeletes]] anti-joins the sidecar at read time, and
    * [[compactDeletes]] later folds the log into the data buckets with
    * the same crash-safe swap as the CoW path. The delete itself moves
    * O(delete-list) bytes and touches ZERO data buckets (spec-asserted).
    *
    * Replay-idempotent via `tag`: a replayed tick first clears its own
    * `del_<tag>_*` files, so re-shipping a delete list never duplicates
    * sidecar rows (harmless anyway — the anti-join is set-semantics —
    * but unbounded sidecar growth isn't).
    *
    * Sidecar schema: (key, `_del_bucket` int) where `_del_bucket` is the
    * target data bucket when derivable from the store's persisted layout
    * column (bCol == key, or `keys` carries bCol) — compaction prunes to
    * those buckets; a null `_del_bucket` row falls back to an all-bucket
    * anti-join at compaction (still correct, just unpruned — same
    * contract as [[deleteByKeyBucket]]'s missing-bucketCol fallback).
    *
    * CONTRACT: the sidecar masks by KEY until compacted, with no
    * sequence numbers — re-upserting a key whose delete is still pending
    * would leave the new row masked. Callers that resurrect keys must
    * [[compactDeletes]] first (the incremental-store orchestration does
    * exactly this ordering). */
  def deleteByKeyMoR(s: SparkSession, dest: String, keys: DataFrame,
                     key: String, tag: String): Unit = {
    if (!Fs.exists(dest)) return
    val n = storedBucketCount(dest).getOrElse(16)
    val bCol = storedBucketCol(dest).getOrElse(key)
    val withBucket =
      if (bCol == key) {
        val ks = keys.select(col(key)).distinct()
        ks.withColumn("_del_bucket", bucketOf(ks, key, n))
      } else if (keys.columns.contains(bCol)) {
        val ks = keys.select(col(key), col(bCol)).distinct()
        ks.select(col(key), bucketOf(ks, bCol, n).as("_del_bucket"))
      } else
        keys.select(col(key)).distinct()
          .withColumn("_del_bucket", lit(null).cast("int"))
    val delDir = s"$dest/_deletes"
    // stage then move under deterministic per-tag names (dot-prefixed
    // staging dir: invisible to the sidecar reader if a crash strands it)
    val staging = s"$delDir/.staging_$tag"
    deleteRec(staging)
    withBucket.write.mode("overwrite").parquet(staging)
    Fs.names(delDir).filter(_.startsWith(s"del_${tag}_"))
      .foreach(f => Fs.delete(s"$delDir/$f"))
    Fs.listFiles(staging, ".parquet").zipWithIndex.foreach { case (p, i) =>
      Fs.replace(p, s"$delDir/del_${tag}_$i.parquet")
    }
    deleteRec(staging)
  }

  /** The store's pending (un-compacted) delete keys, or None if the
    * sidecar is absent/empty. Bounded by the delete traffic since the
    * last compaction, not by store size. */
  def pendingDeleteKeys(s: SparkSession, dest: String): Option[DataFrame] = {
    val delDir = s"$dest/_deletes"
    if (Fs.names(delDir).exists(_.endsWith(".parquet"))) Some(s.read.parquet(delDir))
    else None
  }

  /** Read a bucketed store with pending MoR deletes applied: base scan
    * anti-joined against the sidecar keys. No broadcast hint — the
    * sidecar is usually tiny (AQE broadcasts it), but nothing bounds it
    * between compactions, so forcing a broadcast would be the 100 TB
    * OOM; AQE picks per the sidecar's actual size. A store with no
    * sidecar reads with zero overhead (no join in the plan at all). */
  def readWithDeletes(s: SparkSession, dest: String, key: String): DataFrame = {
    val base = s.read.parquet(dest)
    pendingDeleteKeys(s, dest) match {
      case None => base
      case Some(d) =>
        base.join(d.select(col(key)).distinct(), Seq(key), "left_anti")
    }
  }

  /** Fold the pending delete sidecar into the data buckets (the
    * compaction half of the MoR contract): anti-join ONLY the buckets
    * the sidecar names (all-bucket fallback when any row lacks a
    * recorded bucket), swap them with the crash-safe two-rename, then
    * clear the sidecar. Crash anywhere = still correct: before the swap
    * loop the sidecar masks at read; between swap and sidecar clear the
    * keys are gone from the data AND the anti-join of already-deleted
    * keys is a no-op, so a replayed compaction converges. The result is
    * row-identical to having taken [[deleteByKeyBucket]] directly
    * (spec-asserted). */
  def compactDeletes(s: SparkSession, dest: String, key: String): Unit = {
    pendingDeleteKeys(s, dest).foreach { d =>
      val buckets = d.select(col("_del_bucket")).distinct().collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
      val touched: Seq[Int] =
        if (buckets.nonEmpty && buckets.forall(_.isDefined))
          buckets.flatten.toIndexedSeq.intersect(existingBuckets(dest))
        else existingBuckets(dest)
      if (touched.nonEmpty) {
        val remaining = s.read.parquet(dest)
          .where(col("_bucket").isin(touched: _*))
          .join(d.select(col(key)).distinct(), Seq(key), "left_anti")
        stageAndSwap(s, dest, remaining, touched, dropMissing = true)
      }
    }
    deleteRec(s"$dest/_deletes")
  }

  /** Write `df` (which carries an int `_bucket` column) to the store's
    * staging dir, then swap each touched bucket live with the crash-safe
    * two-rename pattern (see [[mergeByKeyBucket]]'s scaladoc).
    * `dropMissing`: a touched bucket with NO staged output (every row
    * deleted) is removed from the live store instead of left stale —
    * the delete path sets it; merge/compact paths never shrink a bucket
    * to zero rows, so for them a missing staged dir means untouched. */
  private def stageAndSwap(s: SparkSession, dest: String, df: DataFrame,
                           touched: Seq[Int], dropMissing: Boolean = false): Unit = {
    val staging = s"$dest/_merge_staging"
    deleteRec(staging)
    df.write.mode("overwrite").partitionBy("_bucket").parquet(staging)
    touched.foreach { b =>
      val live = s"$dest/_bucket=$b"
      val old = s"$dest/.old_bucket_$b"
      val staged = s"$staging/_bucket=$b"
      if (Fs.exists(staged)) {
        deleteRec(old)
        if (Fs.exists(live)) Fs.move(live, old)
        Fs.move(staged, live)
        deleteRec(old)
      } else if (dropMissing) {
        deleteRec(live)
      }
    }
    deleteRec(staging)
  }

  /** Create an empty bucketed store: just the directory plus the
    * self-describing `_graft_buckets` metadata (callers then populate it
    * with [[rewriteBuckets]]). No-op if the store already exists. Serves
    * MULTISET bucket stores — rows bucketed by some derived column with
    * no unique merge key — which [[mergeByKeyBucket]]'s keyed init path
    * can't host (its upsert would collapse same-key rows). */
  def initBucketStore(dest: String, nBuckets: Int): Unit =
    if (!Fs.exists(dest)) Fs.writeString(s"$dest/_graft_buckets", nBuckets.toString)

  /** Replace the `touched` buckets of a bucketed store with `df`'s rows
    * (`df` carries an int `_bucket` column and holds rows ONLY for
    * touched buckets) — the crash-safe per-bucket staged swap exposed
    * for multiset stores like the CC edge log. `dropMissing = true`
    * removes a touched bucket whose staged output is empty (every row
    * deleted or moved elsewhere). */
  def rewriteBuckets(s: SparkSession, dest: String, df: DataFrame,
                     touched: Seq[Int], dropMissing: Boolean = false): Unit =
    stageAndSwap(s, dest, df, touched, dropMissing)

  /** The EXISTING partition directories of the given buckets — handed to
    * a parquet read, this is file-level pruning: no other bucket's files
    * are ever listed, let alone read. */
  def bucketDirs(dest: String, buckets: Seq[Int]): Seq[String] =
    Fs.existing(buckets.map(b => s"$dest/_bucket=$b"))

  /** The store's bucket count from its `_graft_buckets` metadata file;
    * None for stores predating the metadata (callers then supply it). */
  def storedBucketCount(dest: String): Option[Int] =
    storedMeta(dest, "_graft_buckets").map(_.toInt)

  /** The store's bucketing COLUMN from its `_graft_bucket_col` metadata;
    * None for stores predating it (which always bucketed by the key). */
  def storedBucketCol(dest: String): Option[String] =
    storedMeta(dest, "_graft_bucket_col")

  private def storedMeta(dest: String, name: String): Option[String] = {
    val meta = s"$dest/$name"
    if (Fs.exists(meta)) Some(Fs.readString(meta).trim) else None
  }

  /** The bucket ids that physically exist in the store right now —
    * parsed from the `_bucket=N` partition dirs. */
  def existingBuckets(dest: String): Seq[Int] =
    Fs.names(dest).filter(_.startsWith("_bucket="))
      .map(_.stripPrefix("_bucket=").toInt).toIndexedSeq

  /** Bucket count sized from expected store rows: one bucket per
    * `targetRowsPerBucket` (default 4M — a ~100-500 MB bucket rewrite at
    * typical row widths), rounded up to a power of two (stable pmod
    * distribution under doubling) and clamped to [16, 65536]. At 100 TB
    * this yields thousands of buckets, so a touched-bucket rewrite stays
    * ~GBs instead of the table/16 (~6 TB) a fixed 16 would cost. */
  def bucketCountFor(nRows: Long, targetRowsPerBucket: Long = 4L << 20): Int = {
    val want = math.max(1L, (nRows + targetRowsPerBucket - 1) / targetRowsPerBucket)
    val pow = java.lang.Long.highestOneBit(math.max(1L, want - 1)) << 1
    math.min(65536L, math.max(16L, pow)).toInt
  }

  /** Append `df`'s rows (carrying an int `_bucket` column) to a bucketed
    * MULTISET store without reading or rewriting existing bucket content:
    * rows are staged partitioned-by-bucket (repartitioned on `_bucket`, so
    * each bucket's rows land in one task → one staged file), then each
    * staged file moves into the live bucket dir under a DETERMINISTIC
    * per-(tag, bucket) name with REPLACE_EXISTING — a replayed tick
    * overwrites its own file instead of duplicating rows. This is what
    * makes a merge-free edge-log tick O(batch): no existing bucket is
    * listed, read, or swapped. [[compactBuckets]] later folds the
    * accumulated per-tick files. Only valid for multiset stores — a keyed
    * store's upsert must go through [[mergeByKeyBucket]]. */
  def appendBuckets(s: SparkSession, dest: String, df: DataFrame, tag: String): Unit = {
    val staging = s"$dest/_append_staging_$tag"
    deleteRec(staging)
    df.repartition(col("_bucket")).write.mode("overwrite")
      .partitionBy("_bucket").parquet(staging)
    Fs.names(staging).filter(_.startsWith("_bucket=")).foreach { bd =>
      val live = s"$dest/$bd"
      Fs.mkdirs(live)
      // Replay idempotence must not depend on the replay staging the
      // SAME file count as the first attempt: clear every file this tag
      // previously moved into the bucket before laying down the new
      // set, so a replay that stages fewer files cannot leave a stale
      // higher-index file (= duplicated rows) behind.
      Fs.names(live).filter(_.startsWith(s"append_${tag}_"))
        .foreach(f => Fs.delete(s"$live/$f"))
      Fs.listFiles(s"$staging/$bd", ".parquet").zipWithIndex.foreach { case (p, i) =>
        Fs.replace(p, s"$live/append_${tag}_$i.parquet")
      }
    }
    deleteRec(staging)
  }

  /** Coalesce each bucket holding more than `maxFilesPerBucket` parquet
    * files down to at most that many — the maintenance pass that stops
    * small files accumulating across merges (each merge rewrites a
    * touched bucket with up to `spark.sql.shuffle.partitions` files).
    * Oversized buckets are rewritten via `repartition(_bucket)` (each
    * bucket lands wholly in one task → one file) and swapped live with
    * the same crash-safe two-rename pattern as the merge; untouched
    * buckets are never read. Contents are byte-identical (spec-asserted),
    * so compaction can run any time between merges. */
  def compactBuckets(s: SparkSession, dest: String,
                     maxFilesPerBucket: Int = 1): Unit = {
    healBuckets(dest)
    val oversized = existingBuckets(dest)
      .filter(b => Fs.listFiles(s"$dest/_bucket=$b", ".parquet").size > maxFilesPerBucket)
    if (oversized.nonEmpty) {
      val df = s.read.parquet(dest)
        .where(col("_bucket").isin(oversized: _*))
        .repartition(math.max(1, oversized.size / math.max(1, maxFilesPerBucket)),
          col("_bucket"))
      stageAndSwap(s, dest, df, oversized)
    }
  }

  // ---------------------------------------------------------------------
  // Versioned commit-log store (time travel). The reference's store keeps
  // only the latest row per key (`git_etl.ts:127-132`); a training-data
  // pipeline also needs "what did the table look like at version V" —
  // reproducing the exact corpus a model was trained on. Merge-on-read:
  // each commit is an immutable keyed delta dir `delta_v=N` (staged +
  // atomic rename = the commit point), and a snapshot read resolves each
  // key to its highest version <= V. Version listing is directory
  // METADATA (one fs listing, never a data scan), so pruning newer
  // versions costs nothing at 100 TB; periodic [[compactVersions]] folds
  // old deltas into a materialized `base_v=N` snapshot so read fan-in
  // stays bounded (the retention horizon moves up to N).
  // ---------------------------------------------------------------------

  private def versionsOf(store: String, prefix: String): Seq[Long] =
    Fs.names(store).filter(_.startsWith(prefix + "="))
      .map(_.stripPrefix(prefix + "=").toLong)

  /** Highest committed version, or None for an empty store. */
  def latestVersion(store: String): Option[Long] =
    (versionsOf(store, "delta_v") ++ versionsOf(store, "base_v"))
      .maxOption

  /** Append `batch` (keyed by `key`; duplicate keys within the batch are
    * collapsed arbitrarily-last) as the next version. The staged-dir
    * rename IS the commit: a crash before it leaves only an invisible
    * `.staging` dir (cleaned on the next commit attempt), never a
    * half-visible version. Returns the committed version number. */
  def commitVersion(s: SparkSession, store: String, batch: DataFrame,
                    key: String): Long = {
    val v = latestVersion(store).map(_ + 1).getOrElse(0L)
    val stage = s"$store/.staging_delta_$v"
    deleteRec(stage)
    batch.dropDuplicates(key).withColumn("_tombstone", lit(false))
      .withColumn("_v", lit(v)).write.parquet(stage)
    Fs.move(stage, s"$store/delta_v=$v")
    v
  }

  /** Commit a DELETE wave as the next version: a tombstone delta holding
    * only (key, _tombstone=true). Snapshot reads resolve each key to its
    * highest version as usual and then drop tombstone winners, so a delete
    * costs O(|deleted keys|) on write and nothing extra on read — never a
    * rewrite of live data (the versioned-store counterpart of
    * [[deleteByKeyBucket]]). Deleting an absent key is a harmless no-op
    * row. Same staged-rename commit point as [[commitVersion]]. */
  def commitDeletes(s: SparkSession, store: String, keys: DataFrame,
                    key: String): Long = {
    val v = latestVersion(store).map(_ + 1).getOrElse(0L)
    val stage = s"$store/.staging_delta_$v"
    deleteRec(stage)
    keys.select(col(key)).dropDuplicates(key)
      .withColumn("_tombstone", lit(true)).withColumn("_v", lit(v))
      .write.parquet(stage)
    Fs.move(stage, s"$store/delta_v=$v")
    v
  }

  /** The table as of version `v`: union the base snapshot at or below `v`
    * (if compaction produced one) with every delta in scope, then resolve
    * each key to its highest `_v`. Tolerates compaction crash leftovers
    * by construction: a delta at or below the base's version only
    * re-offers rows the base's winners already supersede, so including it
    * changes nothing (resolution is idempotent) — no repair step needed
    * before reads. Versions below the compaction horizon are gone;
    * asking for one is an error, not a silently-wrong answer.
    *
    * `onlyKeys`: restrict resolution to the given keys BEFORE the
    * per-key window — a keyed point lookup then costs O(those keys'
    * rows), never a full-store winner resolution (the 100 TB contract
    * [[changesBetween]]'s scaladoc promises; the semi-join runs below
    * the window, which is row-identical because the window partitions
    * by exactly that key). */
  def snapshotAt(s: SparkSession, store: String, v: Long, key: String,
                 onlyKeys: Option[DataFrame] = None): DataFrame =
    snapshotRawAt(s, store, v, key, onlyKeys)
      .where(!col("_tombstone")).drop("_tombstone")

  /** Winner rows at version `v` INCLUDING tombstone markers. Compaction
    * materializes THIS (not the tombstone-filtered view) into the base:
    * if a deleted key's marker were dropped from the base, a delta below
    * the base version lingering from a compaction crash would have no
    * higher-version winner to supersede it and the deleted row would
    * resurrect. Keeping the marker (O(|deleted keys|) rows) preserves the
    * "lingering deltas are harmless" invariant unconditionally.
    * Tombstone deltas carry only (key, _tombstone, _v), so the read is
    * schema-merged and payload columns of markers are null. */
  private def snapshotRawAt(s: SparkSession, store: String, v: Long,
                            key: String,
                            onlyKeys: Option[DataFrame] = None): DataFrame = {
    val baseV = versionsOf(store, "base_v").filter(_ <= v).maxOption
    val deltas = versionsOf(store, "delta_v").filter(_ <= v)
    require(baseV.nonEmpty || deltas.contains(0L),
      s"version $v predates the compaction horizon of $store")
    val paths = baseV.map(b => s"$store/base_v=$b").toSeq ++
      deltas.map(d => s"$store/delta_v=$d")
    if (paths.isEmpty) throw new IllegalArgumentException(s"empty store $store")
    val all0 = s.read.option("mergeSchema", "true").parquet(paths: _*)
    // keyed-lookup pruning: filter to the requested keys BELOW the
    // window — winners per key are unchanged (the window partitions by
    // the same key), only un-requested keys' partitions disappear
    val all = onlyKeys.fold(all0)(ks =>
      all0.join(ks.select(col(key)).distinct(), Seq(key), "left_semi"))
    val tomb = // stores written before tombstone support lack the column
      if (all.columns.contains("_tombstone"))
        coalesce(col("_tombstone"), lit(false))
      else lit(false)
    // single key-unique source (one delta, or one compacted base): every
    // row already is its key's winner — the per-key window would assign
    // _rn = 1 to every row, so skip it (both source kinds are key-unique
    // by construction: commitVersion/commitDeletes dropDuplicates(key),
    // compaction materializes resolved winners)
    if (paths.size == 1) all.withColumn("_tombstone", tomb)
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(key)).orderBy(col("_v").desc)
      all.withColumn("_tombstone", tomb)
        .withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1).drop("_rn")
    }
  }

  /** Change feed (CDC) of the versioned store over `(vFrom, vTo]`: one row
    * per key whose winner changed in the window, classified as
    * insert / update / delete against the snapshot at `vFrom`. Cost is
    * O(rows in the window's deltas) plus one keyed lookup into the old
    * snapshot that is semi-join-pruned to touched keys — NEVER a diff of
    * two full snapshots, which is what makes the feed serveable off a
    * 100 TB store whose daily delta is ~0.1%. Notes: a re-upsert with an
    * unchanged payload still reports as `update` (delta semantics, not
    * value-diff semantics); a delete of a key absent at `vFrom` that was
    * not inserted in-window is dropped (it changed nothing); payload
    * columns of `delete` rows are null. */
  def changesBetween(s: SparkSession, store: String, vFrom: Long, vTo: Long,
                     key: String): DataFrame = {
    val ds = versionsOf(store, "delta_v").filter(d => d > vFrom && d <= vTo)
    require(ds.nonEmpty, s"no deltas in ($vFrom, $vTo] of $store")
    val all = s.read.option("mergeSchema", "true")
      .parquet(ds.map(d => s"$store/delta_v=$d"): _*)
      .withColumn("_tombstone", coalesce(col("_tombstone"), lit(false)))
    // single-delta window (the common feed cadence): each delta is
    // key-unique by the commit contract, so every row already is its
    // key's in-window winner — skip the per-key window
    val winners =
      if (ds.size == 1) all.drop("_v")
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(key)).orderBy(col("_v").desc)
        all.withColumn("_rn", row_number().over(w))
          .where(col("_rn") === 1).drop("_rn", "_v")
      }
    // the old-snapshot lookup is PRUNED to the window's touched keys
    // below its winner window (see snapshotAt) — the scaladoc's "never
    // a diff of two full snapshots" now holds in the plan, not just in
    // the join above it
    val before = snapshotAt(s, store, vFrom, key,
      onlyKeys = Some(winners.select(col(key))))
    val existed = before
      .join(winners.select(col(key)), Seq(key), "left_semi")
      .select(col(key), lit(true).as("_existed"))
    // payload schema is STABLE across windows: the union of the store's
    // columns at vFrom and the window's — a tombstone-only window (whose
    // deltas carry no payload at all) still emits every payload column,
    // null-typed from the snapshot's schema
    val winTypes = winners.schema.map(f => f.name -> f.dataType).toMap
    val befTypes = before.schema.map(f => f.name -> f.dataType).toMap
    val payload = (winners.columns ++ before.columns).distinct
      .filter(c => c != key && c != "_tombstone" && c != "_v")
      .map(c => if (winTypes.contains(c)) col(c)
                else lit(null).cast(befTypes(c)).as(c))
    winners.join(existed, Seq(key), "left")
      .withColumn("_existed", coalesce(col("_existed"), lit(false)))
      .withColumn("change_type",
        when(col("_tombstone") && col("_existed"), lit("delete"))
          .when(col("_tombstone"), lit(null))
          .when(col("_existed"), lit("update"))
          .otherwise(lit("insert")))
      .where(col("change_type").isNotNull)
      .select((col("change_type") +: col(key) +: payload.toIndexedSeq): _*)
  }

  /** Fold every delta at or below `upTo` into a materialized base
    * snapshot `base_v=upTo`, then drop the folded deltas and any older
    * base. Reads at versions > `upTo` are unaffected (they resolve
    * base + remaining deltas); versions < `upTo` become unreadable —
    * compaction IS the retention policy. Crash-safe: the base rename
    * lands before any delta is deleted, and until the deletes finish a
    * lingering delta is harmless to [[snapshotAt]] (see its scaladoc),
    * so the next compaction simply finishes the cleanup. */
  def compactVersions(s: SparkSession, store: String, upTo: Long,
                      key: String): Unit = {
    // raw winners: tombstone markers MUST survive into the base (see
    // snapshotRawAt's scaladoc for the crash-window resurrection argument)
    val snap = snapshotRawAt(s, store, upTo, key)
    val stage = s"$store/.staging_base_$upTo"
    deleteRec(stage)
    snap.write.parquet(stage)
    val dest = s"$store/base_v=$upTo"
    deleteRec(dest)
    Fs.move(stage, dest)
    versionsOf(store, "delta_v").filter(_ <= upTo)
      .foreach(d => deleteRec(s"$store/delta_v=$d"))
    versionsOf(store, "base_v").filter(_ < upTo)
      .foreach(b => deleteRec(s"$store/base_v=$b"))
  }

  /** Restore any bucket whose live dir vanished between mergeByKeyBucket's
    * two renames (crash window); discard `.old_bucket_*` leftovers whose
    * swap completed. Safe to call any time; a no-op on a healthy store. */
  def healBuckets(dest: String): Unit =
    Fs.names(dest).filter(_.startsWith(".old_bucket_")).foreach { o =>
      val old = s"$dest/$o"
      val live = s"$dest/_bucket=${o.stripPrefix(".old_bucket_")}"
      if (!Fs.exists(live)) Fs.move(old, live) else deleteRec(old)
    }

  /** SCD2 transition over the customer dimension (see q_sink_scd2):
    * base versions effective from `init`, hash-derived change batch
    * applied at `change` — changed keys (key % 10 = 3) move segment,
    * new keys (key % 97 = 0, +1e7) insert. Exposed so both the apply
    * entry and the point-in-time join build the same dimension. */
  private[graft] def scd2Of(s: SparkSession, dir: String,
                            change: String): DataFrame = {
    // Base versions open at a sentinel low epoch (not the fixture's min
    // date): [1900-01-01, eff_to) must cover ALL history so the interval
    // partition-of-time invariant — every fact date matches exactly one
    // version — holds for any regenerated fixture, not just ones whose
    // earliest fact lands at-or-after an arbitrary base epoch.
    val base = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        lit(java.sql.Date.valueOf("1900-01-01")).as("eff_from"),
        lit(java.sql.Date.valueOf("9999-12-31")).as("eff_to"),
        lit(true).as("is_current"))
    val changed = base.where(col("c_custkey") % 10 === 3)
      .select(col("c_custkey"),
        concat(lit("MOVED_"), (col("c_custkey") % 5).cast("string")).as("new_seg"))
    val fresh = base.where(col("c_custkey") % 97 === 0)
      .select((col("c_custkey") + 10000000L).as("c_custkey"),
        lit("NEWSEG").as("new_seg"))
    val batch = changed.unionByName(fresh)
    // close current rows of changed keys; untouched rows pass through
    val closed = base.join(batch.select(col("c_custkey"), lit(1).as("hit")),
        Seq("c_custkey"), "left")
      .select(col("c_custkey"), col("c_mktsegment"), col("eff_from"),
        when(col("hit") === 1, lit(java.sql.Date.valueOf(change)))
          .otherwise(col("eff_to")).as("eff_to"),
        when(col("hit") === 1, lit(false)).otherwise(col("is_current"))
          .as("is_current"))
    // open rows: new versions of changed keys + brand-new keys
    val opened = batch.select(col("c_custkey"),
      col("new_seg").as("c_mktsegment"),
      lit(java.sql.Date.valueOf(change)).as("eff_from"),
      lit(java.sql.Date.valueOf("9999-12-31")).as("eff_to"),
      lit(true).as("is_current"))
    closed.unionByName(opened)
  }

  /** DuckDB CTE block mirroring [[scd2Of]]; yields a `scd` relation. */
  private def scd2Ctes(change: String): String = s"""
      base AS (
        SELECT c_custkey, c_mktsegment,
               DATE '1900-01-01' AS eff_from,
               DATE '9999-12-31' AS eff_to,
               TRUE AS is_current
        FROM customer),
      batch AS (
        SELECT c_custkey, 'MOVED_' || CAST(c_custkey % 5 AS VARCHAR) AS new_seg
        FROM customer WHERE c_custkey % 10 = 3
        UNION ALL
        SELECT c_custkey + 10000000, 'NEWSEG'
        FROM customer WHERE c_custkey % 97 = 0),
      closed AS (
        SELECT b.c_custkey, b.c_mktsegment, b.eff_from,
               CASE WHEN t.c_custkey IS NOT NULL
                    THEN DATE '$change' ELSE b.eff_to END AS eff_to,
               CASE WHEN t.c_custkey IS NOT NULL
                    THEN FALSE ELSE b.is_current END AS is_current
        FROM base b LEFT JOIN batch t ON b.c_custkey = t.c_custkey),
      opened AS (
        SELECT c_custkey, new_seg AS c_mktsegment,
               DATE '$change' AS eff_from,
               DATE '9999-12-31' AS eff_to,
               TRUE AS is_current
        FROM batch),
      scd AS (SELECT * FROM closed UNION ALL SELECT * FROM opened)"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The partition-scoped merge exercised with the reference's
    // overlapping-redelivery scenario (same semantics as ingest_upsert,
    // but durable and bucket-scoped instead of rewrite-the-world).
    "q_sink_partition_merge" -> { (s, dir) =>
      val dest = s"$tmpBase/events_bucketed_store"
      truncate(dest)
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val b1 = ev.where(col("ts") < lit("2024-01-20").cast(org.apache.spark.sql.types.TimestampType))
      val b2 = ev.where(col("ts") >= lit("2024-01-10").cast(org.apache.spark.sql.types.TimestampType))
        .withColumn("value", col("value") + 1)
      mergeByKeyBucket(s, dest, b1, "event_id", Seq("ts"))
      mergeByKeyBucket(s, dest, b2, "event_id", Seq("ts"))
      s.read.parquet(dest)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sumFix(col("value"), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },

    // Merge-on-read delete tier: the delete request itself writes only a
    // key sidecar (ZERO data buckets rewritten — SinksSpec asserts the
    // bucket files byte-identical), readers anti-join the sidecar, and
    // compaction folds it in via the same crash-safe swap as the CoW
    // path. The entry exposes all three visibility states in one result:
    // a raw reader pre-compaction still sees the rows (a_pre_raw), the
    // MoR reader already doesn't (b_pre_mor), and after compaction the
    // raw reader agrees (c_post_raw) — rows physically gone, sidecar
    // cleared. The two pre-compaction aggregates are materialized to a
    // phase snapshot BEFORE compactDeletes mutates the store (DataFrames
    // are lazy; executing them afterwards would read the compacted data).
    "q_sink_delete_mor" -> { (s, dir) =>
      val dest = s"$tmpBase/orders_mor"
      val snap = s"$tmpBase/orders_mor_phases"
      truncate(dest); truncate(snap)
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      mergeByKeyBucket(s, dest, orders, "o_orderkey", Seq("o_totalprice"))
      val delKeys = orders.where(col("o_custkey") % 97 === 0)
        .select(col("o_orderkey"))
      deleteByKeyMoR(s, dest, delKeys, "o_orderkey", tag = "gdpr1")
      def agg(df: DataFrame, phase: String) =
        df.agg(count(lit(1)).as("n"), sumFix(col("o_totalprice"), 2).as("total"))
          .select(lit(phase).as("phase"), col("n"), col("total"))
      writeAtomic(agg(s.read.parquet(dest), "a_pre_raw")
        .union(agg(readWithDeletes(s, dest, "o_orderkey"), "b_pre_mor")), snap)
      compactDeletes(s, dest, "o_orderkey")
      s.read.parquet(snap)
        .unionByName(agg(s.read.parquet(dest), "c_post_raw"))
        .orderBy(col("phase"))
    },

    // O7: write events partitioned by event_type, read back with a
    // partition filter — the scan touches only the matching directory
    // (PartitionFilters in .explain), exactly the reference's prefix scan.
    "q_sink_partitioned_prune" -> { (s, dir) =>
      val dest = s"$tmpBase/events_by_type"
      writeAtomic(Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"), col("event_type")),
        dest, partitionCols = Seq("event_type"))
      s.read.parquet(dest)
        .where(col("event_type") === "click")
        .groupBy((col("user_id") % 10).as("cohort"))
        .agg(count(lit(1)).as("n"), sumFix(col("value"), 2).as("sum_value"))
        .orderBy(col("cohort"))
    },

    // Dynamic partition pruning: the filter lives on the DIM side (its
    // `cat` column doesn't exist on the fact table, so no static pushdown
    // is possible); Catalyst turns the dim's surviving join keys into a
    // runtime subquery filter on the fact's PARTITION column, so the scan
    // reads only the matching directories. This is THE mechanism that
    // makes star-schema joins survive 100 TB fact tables — without DPP
    // this plan reads every partition; with it, 2 of 5. PlanShapeSpec
    // asserts `dynamicpruning` actually appears in the scan.
    "q_sink_dpp" -> { (s, dir) =>
      val dest = s"$tmpBase/events_dpp"
      writeAtomic(Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"), col("event_type")),
        dest, partitionCols = Seq("event_type"))
      val dim = Tables.load(s, dir, "events").select(col("event_type")).distinct()
        .withColumn("cat", expr(
          "CASE WHEN event_type IN ('click', 'view') THEN 'web' ELSE 'other' END"))
      s.read.parquet(dest)
        .join(dim.where(col("cat") === "web"), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sumFix(col("value"), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },

    // Atomic overwrite: write a v1 snapshot, overwrite with v2; the read
    // must see ONLY v2 (no partial/mixed state).
    "q_sink_atomic_overwrite" -> { (s, dir) =>
      val dest = s"$tmpBase/orders_snapshot"
      val orders = Tables.load(s, dir, "orders")
      writeAtomic(orders.where(col("o_orderstatus") === "F"), dest)
      writeAtomic(orders.where(col("o_orderstatus") =!= "F"), dest)
      s.read.parquet(dest)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sumFix(col("o_totalprice"), 2).as("total"))
        .orderBy(col("o_orderstatus"))
    },

    // Multi-table ATOMIC publish: two summary tables committed as ONE
    // versioned set behind a manifest pointer — the cross-table
    // consistency writeAtomic can't give (two independent table swaps
    // have a window where readers see new A with old B; a report joining
    // them silently mixes versions). Publish writes every table's
    // v_<N> directory FIRST and commits the next MANIFEST.<N> last, so
    // readers resolve the pointer and see either the complete old set or
    // the complete new set — never a mix. The entry publishes v1 and v2,
    // then simulates a CRASHED v3 (one table's data written, manifest
    // never updated): the read-through still serves the consistent v2
    // set, which is exactly what the oracle expects. Orphaned version
    // dirs are garbage, not corruption — a janitor deletes dirs above
    // the manifest pointer.
    "q_sink_multi_atomic" -> { (s, dir) =>
      val base = s"$tmpBase/multi_atomic"
      truncate(base)
      val or = Tables.load(s, dir, "orders")
      def stats(src: org.apache.spark.sql.DataFrame, key: String) =
        src.groupBy(col(key).as("k"))
          .agg(count(lit(1)).as("n"), sumFix(col("o_totalprice"), 2).as("total"))
      publishSet(s, base, 1L, Map(
        "by_status" -> stats(or.where(year(col("o_orderdate")) < 1997), "o_orderstatus"),
        "by_prio" -> stats(or.where(year(col("o_orderdate")) < 1997), "o_orderpriority")))
      publishSet(s, base, 2L, Map(
        "by_status" -> stats(or, "o_orderstatus"),
        "by_prio" -> stats(or, "o_orderpriority")))
      // crashed v3: one table written, manifest never committed
      stats(or.where(col("o_totalprice") > 200000), "o_orderstatus")
        .write.mode("overwrite").parquet(s"$base/tables/by_status/v_3")
      val v = manifestVersion(base)
      readSet(s, base, "by_status").selectExpr("'by_status' AS tbl", "k", "n", "total")
        .unionByName(readSet(s, base, "by_prio")
          .selectExpr("'by_prio' AS tbl", "k", "n", "total"))
        .withColumn("v", lit(v))
        .orderBy(col("tbl"), col("k"))
    },

    // O11: write, truncate, re-write a subset; result reflects only the
    // post-truncate state.
    "q_sink_truncate" -> { (s, dir) =>
      val dest = s"$tmpBase/customer_store"
      val cust = Tables.load(s, dir, "customer")
      writeAtomic(cust, dest)
      truncate(dest)
      writeAtomic(cust.where(col("c_mktsegment").isin("BUILDING", "MACHINERY")), dest)
      s.read.parquet(dest)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sumFix(col("c_acctbal"), 2).as("bal"))
        .orderBy(col("c_mktsegment"))
    },

    // O8+O10 durable: a real streaming query whose sink is a foreachBatch
    // keyed merge into a parquet store (read existing ∪ batch → dedup by
    // key → atomic overwrite), with a checkpoint dir. The scale path the
    // memory sink can't offer: state lives in the store, not the driver.
    "q_sink_foreachbatch_upsert" -> { (s, dir) =>
      val dest = s"$tmpBase/events_merged"
      val ckpt = s"$tmpBase/events_merged.ckpt"
      truncate(dest); truncate(ckpt)
      val stream = graft.streaming.StreamOps.eventsStream(s, dir)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val q = stream.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val existing =
            if (Fs.exists(dest)) s.read.parquet(dest)
            else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
          writeAtomic(CommitEtl.upsert(existing, batch, "event_id", Seq("ts", "value")), dest)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(dest)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sumFix(col("value"), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },

    // O13: observe() metrics — the engine's row-count observability
    // (reference logs batch cardinality, git_etl.ts:67-71). Metrics are
    // collected ON the executors during the pass, surfaced post-action;
    // O(1) driver data, no extra scan.
    "q_sink_observe_metrics" -> { (s, dir) =>
      val obs = org.apache.spark.sql.Observation("etl_metrics")
      val observed = Tables.load(s, dir, "events")
        .observe(obs,
          count(lit(1)).as("n_rows"),
          min(col("ts")).as("min_ts"),
          max(col("ts")).as("max_ts"),
          // observe() forbids DISTINCT aggregates; exact scaled-long sum
          sumFix(col("value"), 2).as("sum_value"))
      observed.write.format("noop").mode("overwrite").save()
      val m = obs.get // collected on executors during the pass; O(1) here
      val row = org.apache.spark.sql.Row(
        m("n_rows"), m("min_ts"), m("max_ts"), m("sum_value"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_rows", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("min_ts", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("max_ts", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("sum_value", org.apache.spark.sql.types.DoubleType)))
      s.createDataFrame(java.util.Arrays.asList(row), schema)
    },

    // Z-order clustered layout: interleave the bits of two join/filter
    // dimensions into one clustering key, range-partition + sort the
    // write on it, and the stored files become locality-preserving in
    // BOTH dimensions at once — the data-layout optimization that makes
    // min/max (or partition) pruning work for 2-D predicates at 100 TB,
    // where clustering by either single key leaves the other unprunable.
    // The result audits the property the layout promises: each z-range
    // bucket spans a narrow window of orderkey AND partkey (sum of spans
    // << the full domain), all in exact integer arithmetic the oracle
    // reproduces.
    "q_sink_zorder" -> { (s, dir) =>
      val dest = s"$tmpBase/lineitem_zorder"
      truncate(dest)
      val zbits = (0 until 6)
        .map(i => s"(((bx >> $i) & 1) << ${2 * i + 1}) + (((by >> $i) & 1) << ${2 * i})")
        .mkString(" + ")
      val clustered = Tables.load(s, dir, "lineitem")
        .selectExpr("l_orderkey", "l_partkey", "l_quantity",
          "least(l_orderkey DIV 256, 63) AS bx", "least(l_partkey DIV 64, 63) AS by")
        .selectExpr("l_orderkey", "l_partkey", "l_quantity", s"$zbits AS z")
      clustered.repartitionByRange(8, col("z"))
        .sortWithinPartitions(col("z"))
        .write.parquet(dest)
      s.read.parquet(dest)
        .groupBy(expr("CAST(z DIV 512 AS INT)").as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("l_orderkey")).as("ok_min"), max(col("l_orderkey")).as("ok_max"),
          min(col("l_partkey")).as("pk_min"), max(col("l_partkey")).as("pk_max"))
        .orderBy(col("zbucket"))
    },

    // Time travel: three commits (full load, then two keyed update
    // waves), compaction folding v0+v1 into a base snapshot, then reads
    // at v1 (served by the base alone) and v2 (base + one delta) — the
    // "reproduce the corpus a model was trained on" read. Both snapshots
    // are aggregated with a literal `version` tag so one result exercises
    // both read paths; the oracle replays the update waves relationally.
    "q_sink_time_travel" -> { (s, dir) =>
      val store = s"$tmpBase/orders_versioned"
      deleteRec(store)
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_custkey").as("val"))
      commitVersion(s, store, orders, "o_orderkey")                     // v0
      commitVersion(s, store, orders.where(col("o_orderkey") % 3 === 0) // v1
        .withColumn("val", col("val") + 1000000L), "o_orderkey")
      commitVersion(s, store, orders.where(col("o_orderkey") % 5 === 0) // v2
        .withColumn("val", lit(-1L)), "o_orderkey")
      compactVersions(s, store, upTo = 1L, key = "o_orderkey")
      def agg(v: Long) = snapshotAt(s, store, v, "o_orderkey")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("val")).as("sum_val"))
        .withColumn("version", lit(v).cast("int"))
      agg(1L).unionByName(agg(2L))
        .orderBy(col("version"), col("o_orderstatus"))
    },

    // CDC over the versioned store: v0 full load, v1 an update wave (%3,
    // value bump) plus an insert wave (%11, shifted keys), v2 a tombstone
    // delete wave (%7). The feed over (v0, v2] must classify every touched
    // key — including %21 keys whose in-window update is superseded by the
    // delete — and costs only the window's deltas + a pruned lookup at v0.
    // SCD Type-2 dimension maintenance: apply a change batch to a
    // history-keeping dimension — current rows for changed keys CLOSE
    // (eff_to = change date, is_current = false), the new versions and
    // brand-new keys INSERT open rows. The whole transition is ONE
    // left join on the key (hash, co-partitionable/bucketable at scale)
    // plus a union — no window over the dimension, no full-history
    // rewrite beyond the required row updates; at 100 TB the store
    // would be key-bucketed so the join is exchange-free. Change batch
    // is hash-derived from the dimension itself (deterministic, no
    // fixtures): every key % 10 = 3 moves segment, every key % 97 = 0
    // spawns a new key. Result persists via the atomic staged swap and
    // reads back — the durable dimension a downstream join would see.
    "q_sink_scd2" -> { (s, dir) =>
      val store = s"$tmpBase/customer_scd2"
      truncate(store)
      writeAtomic(scd2Of(s, dir, "2024-06-01"), store)
      s.read.parquet(store).orderBy(col("c_custkey"), col("eff_from"))
    },

    // Point-in-time (as-of-date) join over the SCD2 dimension — the
    // query SCD2 exists FOR: each order joins the dimension VERSION
    // valid at its order date ([eff_from, eff_to) intervals partition
    // time per key, so every fact matches exactly one version —
    // spec-asserted). The join is a key equi-join plus an interval
    // residual: a hash join at any scale (bucketable on the key), never
    // a range/theta join. Dimension epoch is parameterized to straddle
    // the order-date range, so pre-change orders resolve historical
    // segments and post-change orders the moved ones.
    "q_sink_scd2_pit" -> { (s, dir) =>
      val dim = scd2Of(s, dir, "1998-01-01")
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          to_date(col("o_orderdate")).as("odate"))
      o.join(dim, o("o_custkey") === dim("c_custkey") &&
          col("odate") >= col("eff_from") && col("odate") < col("eff_to"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_keys"),
          min(col("odate")).as("first_order"),
          max(col("odate")).as("last_order"))
        .orderBy(col("c_mktsegment"))
    },

    // Dead-letter quarantine routing (the poison-pill stage every real
    // ingest needs): payloads that fail JSON validation route to a
    // quarantine store, clean rows to the main store — ONE scan, one
    // disposition projection, two filtered atomic writes; no row is
    // dropped silently and the quarantine store preserves the original
    // broken payload for replay after a parser fix. Corruption is
    // hash-derived (every 13th event's payload truncated), so both
    // engines see the same bad set; disposition = from_json returning
    // NULL (Spark) ≡ NOT json_valid (DuckDB) on this corpus. Output is
    // the reconciliation report: per-type clean/quarantined counts and
    // the clean-side payload sum — counts that must add up to the
    // source, spec-asserted.
    "q_sink_quarantine" -> { (s, dir) =>
      val clean = s"$tmpBase/events_clean"
      val dlq = s"$tmpBase/events_dlq"
      truncate(clean); truncate(dlq)
      // the canonical Spark dead-letter pattern: PERMISSIVE parse with a
      // corrupt-record column — malformed payloads land verbatim in
      // `_bad` instead of silently nulling out (from_json never returns
      // a null struct in PERMISSIVE mode, so `parsed IS NULL` cannot
      // detect corruption)
      val parseSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("_bad",
          org.apache.spark.sql.types.StringType)))
      val ev = Tables.load(s, dir, "events")
        .selectExpr("event_id", "event_type",
          "IF(event_id % 13 = 0, substring(props, 1, length(props) - 3), props) AS props")
        .withColumn("parsed", from_json(col("props"), parseSchema,
          Map("columnNameOfCorruptRecord" -> "_bad")))
        .withColumn("bad", col("parsed._bad").isNotNull)
        .localCheckpoint() // parse ONCE; both filtered writes read the parsed set
      writeAtomic(ev.where(!col("bad"))
        .select(col("event_id"), col("event_type"),
          col("parsed.k").as("k")), clean)
      writeAtomic(ev.where(col("bad"))
        .select(col("event_id"), col("event_type"), col("props")), dlq)
      val c = s.read.parquet(clean).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_clean"), sum(col("k")).as("sum_k"))
      val q = s.read.parquet(dlq).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_quarantined"))
      c.join(q, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          coalesce(col("n_clean"), lit(0L)).as("n_clean"),
          coalesce(col("n_quarantined"), lit(0L)).as("n_quarantined"),
          coalesce(col("sum_k"), lit(0L)).as("sum_k"))
        .orderBy(col("event_type"))
    },

    "q_sink_changefeed" -> { (s, dir) =>
      val store = s"$tmpBase/orders_cdc"
      deleteRec(store)
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_custkey").as("val"))
      commitVersion(s, store, base, "o_orderkey")                         // v0
      val upd = base.where(col("o_orderkey") % 3 === 0)
        .withColumn("val", col("val") + 1000000L)
      val ins = base.where(col("o_orderkey") % 11 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      commitVersion(s, store, upd.unionByName(ins), "o_orderkey")         // v1
      commitDeletes(s, store,
        base.where(col("o_orderkey") % 7 === 0).select(col("o_orderkey")),
        "o_orderkey")                                                     // v2
      changesBetween(s, store, vFrom = 0L, vTo = 2L, key = "o_orderkey")
        .orderBy(col("change_type"), col("o_orderkey"))
    },

    // CDC APPLY — the consumer half of q_sink_changefeed's producer: a
    // downstream keyed replica is maintained purely from the change feed,
    // never by re-reading the source of truth. Seed from the v0 snapshot,
    // then fold each feed window: insert/update rows upsert
    // ([[mergeByKeyBucket]], touched buckets only), delete rows purge
    // ([[deleteByKeyBucket]]) — per window the replica pays O(changed
    // keys + touched buckets), the contract that holds when the source
    // is 100 TB and a window touches 0.1% of keys. The oracle states the
    // source's FINAL state declaratively: apply ≡ recompute.
    "q_sink_cdc_apply" -> { (s, dir) =>
      val src = s"$tmpBase/cdc_apply_src"
      val rep = s"$tmpBase/cdc_apply_replica"
      deleteRec(src); truncate(rep)
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_custkey").as("val"))
      commitVersion(s, src, base, "o_orderkey")                         // v0
      val upd = base.where(col("o_orderkey") % 3 === 0)
        .withColumn("val", col("val") + 1000000L)
      val ins = base.where(col("o_orderkey") % 11 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      commitVersion(s, src, upd.unionByName(ins), "o_orderkey")         // v1
      commitDeletes(s, src,
        base.where(col("o_orderkey") % 7 === 0).select(col("o_orderkey")),
        "o_orderkey")                                                   // v2
      // Overlap the three independent jobs (guide §2.6): the replica
      // seed merge and the two feed-window materializations share no
      // outputs — the feeds only read the committed src deltas and land
      // in executor blocks, the seed writes the replica store. The
      // APPLY of each window stays strictly sequential after its
      // predecessor (every apply mutates the replica).
      val feeds = new Array[DataFrame](2)
      graft.util.Jobs.inPool(3)(Seq(
        () => mergeByKeyBucket(s, rep,
          snapshotAt(s, src, 0L, "o_orderkey")
            .select(col("o_orderkey"), col("o_orderstatus"), col("val"))
            .withColumn("_ord", lit(0L)),
          "o_orderkey", Seq("_ord")),
        () => feeds(0) = changesBetween(s, src, 0L, 1L, "o_orderkey").localCheckpoint(),
        () => feeds(1) = changesBetween(s, src, 1L, 2L, "o_orderkey").localCheckpoint()))
      Seq((feeds(0), 1L), (feeds(1), 2L)).foreach { case (ch, t) =>
        val ups = ch.where(col("change_type").isin("insert", "update"))
          .select(col("o_orderkey"), col("o_orderstatus"), col("val"))
          .withColumn("_ord", lit(t))
        if (!ups.isEmpty) mergeByKeyBucket(s, rep, ups, "o_orderkey", Seq("_ord"))
        deleteByKeyBucket(s, rep,
          ch.where(col("change_type") === "delete").select(col("o_orderkey")),
          "o_orderkey")
      }
      s.read.parquet(rep)
        .select(col("o_orderkey"), col("o_orderstatus"), col("val"))
        .orderBy(col("o_orderkey"))
    },

    // Incrementally-maintained DENORMALIZED JOIN VIEW (orders ⨝ customer)
    // — the materialization every serving layer wants and a naive
    // pipeline rebuilds nightly. Both maintenance directions stay pruned:
    // fact appends join ONLY the batch against the broadcast current dim
    // (O(batch) upsert); dim updates backfill ONLY the affected
    // customers' rows — the view is KEYED by o_orderkey but BUCKETED by
    // o_custkey (mergeByKeyBucket's bucketCol contract: the FK is
    // immutable per order), so the backfill reads just the changed keys'
    // buckets, never the view. Oracle: the one-shot join against the
    // updated dim (maintenance ≡ recompute).
    "q_sink_join_mv" -> { (s, dir) =>
      val store = s"$tmpBase/join_mv"
      truncate(store)
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate"))
      def mvRows(o: DataFrame) =
        o.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("c_name"), col("c_mktsegment"))
      mergeByKeyBucket(s, store,                       // tick 0: seed
        mvRows(ord.where(year(col("o_orderdate")) < 1996))
          .withColumn("_ord", lit(0L)),
        "o_orderkey", Seq("_ord"), bucketCol = "o_custkey")
      mergeByKeyBucket(s, store,                       // tick 1: fact append
        mvRows(ord.where(year(col("o_orderdate")) >= 1996))
          .withColumn("_ord", lit(1L)),
        "o_orderkey", Seq("_ord"), bucketCol = "o_custkey")
      // tick 2: dim update — backfill reads ONLY the changed keys' buckets
      val dimChange = cust.where(col("c_custkey") % 10 === 0)
        .withColumn("c_mktsegment", lit("CHANGED"))
      val n = storedBucketCount(store).getOrElse(16)
      val touched = dimChange
        .select(bucketOf(dimChange, "c_custkey", n).as("_b"))
        .distinct().collect().map(_.getInt(0)).toIndexedSeq
      val affected = s.read.parquet(bucketDirs(store, touched): _*)
      val backfill = affected
        .join(broadcast(dimChange.select(col("c_custkey").as("o_custkey"),
          col("c_name").as("new_name"), col("c_mktsegment").as("new_seg"))),
          "o_custkey")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("new_name").as("c_name"), col("new_seg").as("c_mktsegment"))
        .withColumn("_ord", lit(2L))
      mergeByKeyBucket(s, store, backfill, "o_orderkey", Seq("_ord"),
        bucketCol = "o_custkey")
      s.read.parquet(store)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("c_name"), col("c_mktsegment"))
        .orderBy(col("o_orderkey"))
    },

    // Incrementally-maintained materialized aggregate: the streaming
    // groupBy holds running (n, cents) per (event_type, day) in the state
    // store; update-mode emits ONLY keys whose aggregate changed each
    // tick, and the keyed bucket merge upserts those rows — tick cost is
    // O(changed keys + touched buckets), never O(history), the
    // materialized-view generalization of the reference's persisted
    // watermark (git_etl.ts:141-153, which recomputes its one aggregate
    // from the full store every tick). Replays are safe: counts only
    // grow, so max-n upsert resolution is idempotent under re-delivery.
    // Oracle = the one-shot GROUP BY (maintenance ≡ recompute).
    "q_sink_incremental_agg" -> { (s, dir) =>
      val src = s"$tmpBase/events_mv_src"
      val store = s"$tmpBase/events_mv_store"
      val ckpt = store + ".ckpt"
      truncate(src); truncate(store); truncate(ckpt)
      val ev = Tables.load(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"),
          graft.util.Exact.scaled(col("value"), 2).as("cents"))
      // 3 arrival ticks — the suite-wide incremental convention; the MV
      // semantics need multi-tick maintenance, not a specific tick count,
      // and each tick costs a full stream trigger + bucket merge
      ev.repartitionByRange(3, col("day")).write.parquet(src)
      val agg = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("mv_key", xxhash64(col("event_type"), col("day")))
      // state partitioning sized from the stream's input volume, not
      // the session's core count (graft.util.Streams scaladoc: pinned
      // at first batch, AQE-exempt, fixed per-partition per-tick cost —
      // this entry was the r15 bench's worst anti-scaler at 0.37)
      graft.util.Streams.withShufflePartitions(s,
          graft.util.Streams.statePartitionsFor(Fs.sizeBytes(src))) {
        val q = agg.writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: DataFrame, _: Long) =>
            mergeByKeyBucket(s, store, b, "mv_key", Seq("n"))
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.read.parquet(store)
        .select(col("event_type"), col("day"), col("n"),
          (col("cents") / lit(100.0)).as("sum_value"))
        .orderBy(col("event_type"), col("day"))
    })

  def oracleSql: Map[String, String] = Map(
    // identical semantics to ingest_upsert's scenario, now durable:
    // batch2 re-ships everything >= 01-10 with bumped values and wins
    "q_sink_partition_merge" -> s"""
      SELECT event_type, count(*) AS n,
             ${sqlSumFix("CASE WHEN ts >= TIMESTAMP '2024-01-10' THEN value + 1 ELSE value END", 2)} AS sum_value
      FROM events WHERE ts < TIMESTAMP '2024-01-20' OR ts >= TIMESTAMP '2024-01-10'
      GROUP BY event_type ORDER BY event_type""",
    // three visibility states of the MoR delete: raw-pre sees everything,
    // MoR-pre and raw-post both see the kept set
    "q_sink_delete_mor" -> s"""
      WITH mor_kept AS (
        SELECT * FROM orders WHERE o_orderkey NOT IN
          (SELECT o_orderkey FROM orders WHERE o_custkey % 97 = 0))
      SELECT * FROM (
        SELECT 'a_pre_raw' AS phase, count(*) AS n,
               ${sqlSumFix("o_totalprice", 2)} AS total FROM orders
        UNION ALL
        SELECT 'b_pre_mor', count(*), ${sqlSumFix("o_totalprice", 2)} FROM mor_kept
        UNION ALL
        SELECT 'c_post_raw', count(*), ${sqlSumFix("o_totalprice", 2)} FROM mor_kept)
      ORDER BY phase""",

    "q_sink_partitioned_prune" -> s"""
      SELECT user_id % 10 AS cohort, count(*) AS n,
             ${sqlSumFix("value", 2)} AS sum_value
      FROM events WHERE event_type = 'click'
      GROUP BY cohort ORDER BY cohort""",

    "q_sink_dpp" -> s"""
      SELECT event_type, count(*) AS n, ${sqlSumFix("value", 2)} AS sum_value
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY event_type ORDER BY event_type""",

    // the consistent v2 set: both tables over ALL orders, version 2 —
    // the crashed partial v3 must be invisible
    "q_sink_multi_atomic" -> s"""
      SELECT * FROM (
        SELECT 'by_prio' AS tbl, o_orderpriority AS k, count(*) AS n,
               ${sqlSumFix("o_totalprice", 2)} AS total, CAST(2 AS BIGINT) AS v
        FROM orders GROUP BY o_orderpriority
        UNION ALL
        SELECT 'by_status', o_orderstatus, count(*),
               ${sqlSumFix("o_totalprice", 2)}, CAST(2 AS BIGINT)
        FROM orders GROUP BY o_orderstatus)
      ORDER BY tbl, k""",

    "q_sink_atomic_overwrite" -> s"""
      SELECT o_orderstatus, count(*) AS n, ${sqlSumFix("o_totalprice", 2)} AS total
      FROM orders WHERE o_orderstatus <> 'F'
      GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q_sink_truncate" -> s"""
      SELECT c_mktsegment, count(*) AS n, ${sqlSumFix("c_acctbal", 2)} AS bal
      FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q_sink_foreachbatch_upsert" -> s"""
      WITH keyed AS (
        SELECT event_id, ts, event_type, value,
               row_number() OVER (PARTITION BY event_id
                                  ORDER BY ts DESC, value DESC) AS rn
        FROM events)
      SELECT event_type, count(*) AS n, ${sqlSumFix("value", 2)} AS sum_value
      FROM keyed WHERE rn = 1
      GROUP BY event_type ORDER BY event_type""",

    "q_sink_observe_metrics" -> s"""
      SELECT count(*) AS n_rows, min(ts) AS min_ts, max(ts) AS max_ts,
             ${sqlSumFix("value", 2)} AS sum_value
      FROM events""",

    "q_sink_zorder" -> {
      val zbits = (0 until 6)
        .map(i => s"(((bx >> $i) & 1) << ${2 * i + 1}) + (((by >> $i) & 1) << ${2 * i})")
        .mkString(" + ")
      s"""
      WITH b AS (
        SELECT l_orderkey, l_partkey,
               least(l_orderkey // 256, 63) AS bx,
               least(l_partkey // 64, 63) AS by
        FROM lineitem),
      zt AS (SELECT l_orderkey, l_partkey, $zbits AS z FROM b)
      SELECT CAST(z // 512 AS INT) AS zbucket, count(*) AS n,
             min(l_orderkey) AS ok_min, max(l_orderkey) AS ok_max,
             min(l_partkey) AS pk_min, max(l_partkey) AS pk_max
      FROM zt GROUP BY 1 ORDER BY zbucket"""
    },

    // v1 = base load with the %3 update wave applied; v2 additionally
    // applies the %5 wave (which wins over %3 on keys divisible by 15 —
    // higher version per key)
    "q_sink_time_travel" -> """
      WITH v1 AS (
        SELECT o_orderstatus,
               CASE WHEN o_orderkey % 3 = 0 THEN o_custkey + 1000000
                    ELSE o_custkey END AS val
        FROM orders),
      v2 AS (
        SELECT o_orderstatus,
               CASE WHEN o_orderkey % 5 = 0 THEN -1
                    WHEN o_orderkey % 3 = 0 THEN o_custkey + 1000000
                    ELSE o_custkey END AS val
        FROM orders)
      SELECT o_orderstatus, count(*) AS n,
             CAST(sum(val) AS BIGINT) AS sum_val, 1 AS version
      FROM v1 GROUP BY o_orderstatus
      UNION ALL
      SELECT o_orderstatus, count(*) AS n,
             CAST(sum(val) AS BIGINT) AS sum_val, 2 AS version
      FROM v2 GROUP BY o_orderstatus
      ORDER BY version, o_orderstatus""",

    // inserts: the shifted %11 keys (never in the v0 keyspace); updates:
    // %3 keys except those the later %7 delete supersedes; deletes: every
    // %7 key (all existed at v0), payload null
    // mirror of q_sink_scd2: identical change derivation + transition
    "q_sink_scd2" -> s"""
      WITH ${scd2Ctes("2024-06-01")}
      SELECT * FROM scd ORDER BY c_custkey, eff_from""",

    // mirror of q_sink_scd2_pit: same dimension CTEs at the order-era
    // epoch, key equi-join + interval residual, per-segment rollup
    "q_sink_scd2_pit" -> s"""
      WITH ${scd2Ctes("1998-01-01")},
      o AS (
        SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS odate
        FROM orders)
      SELECT c_mktsegment, count(*) AS n_orders,
             count(DISTINCT o_custkey) AS n_keys,
             min(odate) AS first_order, max(odate) AS last_order
      FROM o JOIN scd ON o.o_custkey = scd.c_custkey
        AND o.odate >= scd.eff_from AND o.odate < scd.eff_to
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    // mirror of q_sink_quarantine: same hash-derived corruption; NOT
    // json_valid() ≡ Spark's from_json -> NULL on this corpus
    "q_sink_quarantine" -> """
      WITH ev AS (
        SELECT event_id, event_type,
               CASE WHEN event_id % 13 = 0
                    THEN substr(props, 1, length(props) - 3)
                    ELSE props END AS props
        FROM events),
      d AS (
        SELECT event_type,
               NOT json_valid(props) AS bad,
               CASE WHEN json_valid(props)
                    THEN CAST(props->>'k' AS INT) END AS k
        FROM ev)
      SELECT event_type,
             CAST(sum(CASE WHEN bad THEN 0 ELSE 1 END) AS BIGINT) AS n_clean,
             CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
             CAST(coalesce(sum(CASE WHEN NOT bad THEN k END), 0) AS BIGINT) AS sum_k
      FROM d GROUP BY event_type ORDER BY event_type""",

    "q_sink_changefeed" -> """
      WITH base AS (
        SELECT o_orderkey AS k, o_orderstatus, o_custkey AS val FROM orders)
      SELECT 'insert' AS change_type, k + 10000000 AS o_orderkey,
             o_orderstatus, CAST(val AS BIGINT) AS val
      FROM base WHERE k % 11 = 0
      UNION ALL
      SELECT 'update', k, o_orderstatus, CAST(val + 1000000 AS BIGINT)
      FROM base WHERE k % 3 = 0 AND k % 7 <> 0
      UNION ALL
      SELECT 'delete', k, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
      FROM base WHERE k % 7 = 0
      ORDER BY change_type, o_orderkey""",

    "q_sink_incremental_agg" -> s"""
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
             ${sqlSumFix("value", 2)} AS sum_value
      FROM events GROUP BY event_type, day
      ORDER BY event_type, day""",

    // maintenance ≡ recompute: the one-shot join against the updated dim
    "q_sink_join_mv" -> """
      SELECT o_orderkey, o_custkey, o_totalprice, c_name,
             CASE WHEN c_custkey % 10 = 0 THEN 'CHANGED'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM orders JOIN customer ON o_custkey = c_custkey
      ORDER BY o_orderkey""",

    // final state after applying the whole feed = source of truth with
    // every change folded in (apply ≡ recompute)
    "q_sink_cdc_apply" -> """
      WITH base AS (
        SELECT o_orderkey AS k, o_orderstatus, o_custkey AS val FROM orders)
      SELECT k AS o_orderkey, o_orderstatus,
             CAST(CASE WHEN k % 3 = 0 THEN val + 1000000 ELSE val END
                  AS BIGINT) AS val
      FROM base WHERE k % 7 <> 0
      UNION ALL
      SELECT k + 10000000, o_orderstatus, CAST(val AS BIGINT)
      FROM base WHERE k % 11 = 0
      ORDER BY o_orderkey""")
}
