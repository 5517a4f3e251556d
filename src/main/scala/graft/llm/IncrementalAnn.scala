package graft.llm


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.sinks.Sinks
import graft.sources.Tables
import graft.llm.XHash._
import graft.util.Exact

/** Persisted, incrementally-maintained ANN index — the reference's
  * persisted-store identity (`git_etl.ts:127-132`, `:319-326`) applied to
  * the embedding IVF index, closing the one component that q_llm_knn_ivf
  * still rebuilt per query.
  *
  * The index is three bucket/atomic stores:
  *  - `vecs`:   vec_id → scaled-long embedding (keyed upsert store — a
  *              re-ingested vector replaces its old version);
  *  - `cents`:  the corpus-relative isqrt(N)-row trained centroid table;
  *  - `assign`: vec_id → trained cell.
  *
  * Maintenance has two tiers, exactly the production IVF pattern:
  *
  *  - **Fold tick** (every arrival batch, cheap): scale the batch, assign
  *    ONLY the batch against the CURRENT stored centroids (an O(batch ×
  *    n_cells) broadcast pass — the corpus is not touched), and keyed-merge
  *    batch vectors + assignments into the stores. Between re-trains the
  *    centroids are stale-but-useful — new vectors are searchable
  *    immediately, at slightly degraded cell quality. The first batch
  *    bootstraps the centroids by training on itself.
  *  - **Re-train tick** (periodic): deterministic k-means
  *    ([[Similarity.kmeansCentroids]] — seeded init + Lloyd rounds as
  *    exact integer aggregations, so training is arrival-order- and
  *    partition-independent) over a deterministic hash-SAMPLE of the
  *    vector store (~TrainPerCell·cells rows — O(√N·c), the k-means
  *    coreset bound; sampling lives inside kmeansCentroids and is
  *    mirrored in the oracle), then ONE full re-assignment pass,
  *    atomically swapping `cents` and `assign`. The store is scanned
  *    once per re-train — training no longer multiplies the corpus
  *    scan by the Lloyd round count, which was the measured α_sf10 =
  *    1.19 term in the r12 scale table.
  *
  * **Serving never trains**: [[serve]] reads the three stores, assigns
  *    query vectors to their nprobe nearest STORED centroids, and
  *    re-ranks by exact cosine inside the probed cells.
  *
  * Equivalence contract (what makes the one-shot SQL the oracle): after
  * the last re-train tick, `vecs` holds exactly the corpus (keyed upsert;
  * append-only in the registered entry), so the re-trained centroids,
  * assignments, and served results are BIT-IDENTICAL to the one-shot
  * q_llm_knn_ivf pipeline on the same corpus — deterministic training has
  * no memory of arrival order. Crash-resume and replay idempotence are
  * spec-tested ([[graft.IncrementalAnnSpec]]): every store write is a
  * keyed upsert or an atomic swap, so at-least-once foreachBatch replays
  * converge to the same state.
  */
object IncrementalAnn {

  /** Wipe all per-entry state (stream source, stores, checkpoint).
    * Wipes the dir itself: both index variants (IVF and LSH band-table)
    * keep all state under their own base. */
  private[graft] def reset(base: String): Unit = Sinks.truncate(base)

  private def scaled(batch: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(batch.sparkSession)
    batch.selectExpr("vec_id", s"${sparkScaledEmb("embedding")} AS se")
  }

  private def withNrm(se: DataFrame): DataFrame =
    se.selectExpr("vec_id", "se",
      "sqrt(CAST(graft_dot(se, se) AS DOUBLE)) AS nrm")

  /** Fold one arrival batch into the persisted index. Idempotent per
    * (batch, batchId): both merges are keyed upserts and the bootstrap
    * train is an atomic overwrite. */
  private[graft] def tick(s: SparkSession, batch: DataFrame, batchId: Long,
                          base: String): Unit = {
    // register on BOTH sessions: the micro-batch clone (scaled() does it)
    // and the outer session whose reads feed assignCells/kmeansCentroids
    graft.functions.GraftFunctions.register(s)
    val se = scaled(batch.select(col("vec_id"), col("embedding"))).localCheckpoint()
    val centsPath = s"$base/cents"
    // bootstrap: the first batch trains the initial quantizer on itself
    // (there is nothing else to train on); later batches fold against the
    // stored centroids untouched
    if (!graft.util.Fs.exists(centsPath))
      Sinks.writeAtomic(Similarity.kmeansCentroids(se), centsPath)
    val cents = s.read.parquet(centsPath)
    // assign ONLY the batch: O(batch x n_cells) against the stored-centroid broadcast
    val assigned = Similarity.assignCells(se, cents, 1)
      .select(col("vec_id"), col("cent_id").as("cell"))
    // keyed upserts, latest tick wins — a re-ingested vector replaces its
    // old embedding AND its old cell in one maintenance pass. The two
    // stores are disjoint trees fed by checkpointed/broadcast inputs, so
    // the merges run concurrently (r15); replay is keyed-idempotent
    // under any crash subset.
    graft.util.Jobs.inPool(2)(Seq(
      () => Sinks.mergeByKeyBucket(s, s"$base/vecs",
        se.withColumn("_tick", lit(batchId)), "vec_id", Seq("_tick")),
      () => Sinks.mergeByKeyBucket(s, s"$base/assign",
        assigned.withColumn("_tick", lit(batchId)), "vec_id", Seq("_tick"))))
  }

  /** Periodic re-train: sample-bounded deterministic k-means over the
    * vector store (the sampling is inside [[Similarity.kmeansCentroids]]
    * — O(√N·c) training rows, corpus-relative, oracle-mirrored), one
    * full re-assignment pass, atomic swap of both derived stores. After
    * this tick the index is bit-identical to a from-scratch build on the
    * store's current contents. */
  private[graft] def retrain(s: SparkSession, base: String): Unit = {
    graft.functions.GraftFunctions.register(s)
    Sinks.healBuckets(s"$base/vecs")
    val all = s.read.parquet(s"$base/vecs")
      .select(col("vec_id"), col("se")).localCheckpoint()
    val cents = Similarity.kmeansCentroids(all)
    Sinks.writeAtomic(cents, s"$base/cents")
    val assigned = Similarity.assignCells(all, s.read.parquet(s"$base/cents"), 1)
      .select(col("vec_id"), col("cent_id").as("cell"))
      .withColumn("_tick", lit(Long.MaxValue))
    // atomic overwrite (not a merge): a re-train re-derives EVERY row
    Sinks.truncate(s"$base/assign")
    Sinks.mergeByKeyBucket(s, s"$base/assign", assigned, "vec_id", Seq("_tick"))
  }

  /** Serve top-k probes from the STORES — no training, no corpus-wide
    * argmin: queries assign to their `nprobe` nearest stored centroids
    * (broadcast of the stored isqrt(N)-row table), candidates come from the cell
    * equi-join against the stored assignment, exact cosine re-ranks.
    * Output shape/typing matches q_llm_knn_ivf exactly. */
  private[graft] def serve(s: SparkSession, base: String,
                           queryPred: String = "vec_id < 10",
                           nProbe: Int = 2, topK: Int = 3): DataFrame = {
    Seq("vecs", "assign").foreach(p => Sinks.healBuckets(s"$base/$p"))
    graft.functions.GraftFunctions.register(s)
    val vecs = withNrm(s.read.parquet(s"$base/vecs").select(col("vec_id"), col("se")))
      .localCheckpoint() // corpus side AND query side read it
    val cents = s.read.parquet(s"$base/cents")
    val corpus = vecs.join(
      s.read.parquet(s"$base/assign").select(col("vec_id"), col("cell")), "vec_id")
    val probes = Similarity.assignCells(vecs.where(expr(queryPred)), cents, nProbe)
      .select(col("vec_id").as("q_id"), col("se").as("qse"),
        col("nrm").as("qnrm"), col("cent_id").as("cell"))
    val scored = corpus.join(probes, Seq("cell"))
      .where(col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "vec_id AS neighbor_id",
        "CAST(graft_dot(qse, se) AS DOUBLE) / (qnrm * nrm) AS cos_raw")
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos_raw").desc, col("neighbor_id"))))
      .where(col("rank") <= topK)
      .withColumn("cos", Exact.fix(col("cos_raw"), 6))
      .select(col("q_id"), col("rank"), col("neighbor_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Drain the file-stream of vector batches through `tickFn`; resumes
    * from the checkpoint after a crash, processing only unseen batches. */
  private[graft] def runTicks(s: SparkSession, base: String, schema: StructType,
                              tickFn: (SparkSession, DataFrame, Long, String) => Unit = tick)
      : Unit = {
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
    val q = stream.writeStream.outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch((b: DataFrame, id: Long) => tickFn(s, Tables.spread(b), id, base))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  // --- LSH band-table store ----------------------------------------------
  // The hyperplane-LSH variant of the persisted index. Unlike IVF, the
  // "model" (the 32 Weyl-derived planes) is a CONSTANT: a vector's sign
  // bucket never depends on the rest of the corpus, so the incremental
  // story needs NO re-train tick at all — fold ticks are the whole
  // maintenance surface, and the store equals the one-shot's bucketed
  // corpus after any arrival order (the same corpus-independence argument
  // as the MinHash band index, `IncrementalDedup`).

  /** Sign-bit bucket over planes 0..3 — the same expression the one-shot
    * q_llm_knn_lsh computes inline. */
  private def withBucket(se: DataFrame): DataFrame =
    se.selectExpr(Seq("vec_id", "se") ++
        (0 until 4).map(p => s"IF(${sparkPlaneDot("se", p)} > 0L, 1, 0) AS bit$p"): _*)
      .selectExpr("vec_id", "se", "concat_ws('', bit0, bit1, bit2, bit3) AS bucket")

  /** Fold one arrival batch into the band-table store: bucket the batch
    * (per-row compiled kernel work, corpus untouched) and keyed-merge.
    * Idempotent per (batch, batchId). */
  private[graft] def tickLsh(s: SparkSession, batch: DataFrame, batchId: Long,
                             base: String): Unit = {
    graft.functions.GraftFunctions.register(s)
    val se = scaled(batch.select(col("vec_id"), col("embedding")))
    Sinks.mergeByKeyBucket(s, s"$base/vecs",
      withBucket(se).withColumn("_tick", lit(batchId)), "vec_id", Seq("_tick"))
  }

  /** Serve top-k from the band-table store: bucket equi-join of stored
    * queries against the stored corpus, exact cosine re-rank. No model to
    * load — the planes are compiled into the kernel. */
  private[graft] def serveLsh(s: SparkSession, base: String,
                              queryPred: String = "vec_id < 10",
                              topK: Int = 3): DataFrame = {
    Sinks.healBuckets(s"$base/vecs")
    graft.functions.GraftFunctions.register(s)
    val bucketed = s.read.parquet(s"$base/vecs")
      .selectExpr("vec_id", "se", "bucket",
        "sqrt(CAST(graft_dot(se, se) AS DOUBLE)) AS nrm")
    val qs = bucketed.where(expr(queryPred))
      .select(col("vec_id").as("q_id"), col("se").as("qse"),
        col("nrm").as("qnrm"), col("bucket"))
    val scored = bucketed.join(broadcast(qs), Seq("bucket"))
      .where(col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "vec_id AS neighbor_id",
        "CAST(graft_dot(qse, se) AS DOUBLE) / (qnrm * nrm) AS cos_raw")
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos_raw").desc, col("neighbor_id"))))
      .where(col("rank") <= topK)
      .withColumn("cos", Exact.fix(col("cos_raw"), 6))
      .select(col("q_id"), col("rank"), col("neighbor_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  // --- PQ code-table store -----------------------------------------------
  // The product-quantization variant of the persisted index: stores are
  // the exploded sub-vector table (`subs`, keyed by vec_id·PqM + m), the
  // trained codebooks (`cb`, a PqM × PqKs atomic-swap table), and the
  // encoded code table (`codes`, same key as subs). Like IVF, the model
  // is corpus-trained, so maintenance has both tiers: cheap fold ticks
  // (encode ONLY the batch against the stored codebooks) and a periodic
  // re-train tick (codebooks + full re-encode, atomic swap) after which
  // the index is bit-identical to a from-scratch build — the serve path
  // reads the code table and never touches corpus embeddings.

  private def subsOf(se: DataFrame): DataFrame = {
    val subDim = EmbDim / Similarity.PqM
    se.selectExpr("vec_id",
        s"explode(transform(sequence(0, ${Similarity.PqM - 1}), m -> named_struct(" +
          s"'m', m, 'sub', slice(se, m * $subDim + 1, $subDim)))) AS z")
      .selectExpr("vec_id", "z.m AS m", "z.sub AS sub")
  }

  /** Fold one arrival batch into the PQ stores. Idempotent per batch. */
  private[graft] def tickPq(s: SparkSession, batch: DataFrame, batchId: Long,
                            base: String): Unit = {
    graft.functions.GraftFunctions.register(s)
    val subs = subsOf(scaled(batch.select(col("vec_id"), col("embedding"))))
      .localCheckpoint()
    val cbPath = s"$base/cb"
    if (!graft.util.Fs.exists(cbPath))
      Sinks.writeAtomic(Similarity.pqCodebooks(subs), cbPath)
    val cb = s.read.parquet(cbPath)
    val codes = Similarity.pqEncode(subs, cb)
      .select(col("vec_id"), col("m"), col("code"))
    val key = expr(s"vec_id * ${Similarity.PqM} + m")
    // disjoint stores (sub-vectors vs codes): concurrent merges (r15)
    graft.util.Jobs.inPool(2)(Seq(
      () => Sinks.mergeByKeyBucket(s, s"$base/subs",
        subs.withColumn("k", key).withColumn("_tick", lit(batchId)), "k", Seq("_tick")),
      () => Sinks.mergeByKeyBucket(s, s"$base/codes",
        codes.withColumn("k", key).withColumn("_tick", lit(batchId)), "k", Seq("_tick"))))
  }

  /** Periodic re-train: codebooks over the FULL sub-vector store, full
    * re-encode, atomic swap of both derived stores. */
  private[graft] def retrainPq(s: SparkSession, base: String): Unit = {
    graft.functions.GraftFunctions.register(s)
    Sinks.healBuckets(s"$base/subs")
    val subs = s.read.parquet(s"$base/subs")
      .select(col("vec_id"), col("m"), col("sub")).localCheckpoint()
    Sinks.writeAtomic(Similarity.pqCodebooks(subs), s"$base/cb")
    val codes = Similarity.pqEncode(subs, s.read.parquet(s"$base/cb"))
      .select(col("vec_id"), col("m"), col("code"))
      .withColumn("k", expr(s"vec_id * ${Similarity.PqM} + m"))
      .withColumn("_tick", lit(Long.MaxValue))
    Sinks.truncate(s"$base/codes")
    Sinks.mergeByKeyBucket(s, s"$base/codes", codes, "k", Seq("_tick"))
  }

  /** Serve ADC top-k from the stores: per-query LUT against the stored
    * codebooks, joined to the stored code table — corpus sub-vectors are
    * read only for the QUERY rows. Output matches q_llm_knn_pq. */
  private[graft] def servePq(s: SparkSession, base: String,
                             queryPred: String = "vec_id < 10",
                             topK: Int = 3): DataFrame = {
    Seq("subs", "codes").foreach(p => Sinks.healBuckets(s"$base/$p"))
    graft.functions.GraftFunctions.register(s)
    val cb = s.read.parquet(s"$base/cb")
    val lut = s.read.parquet(s"$base/subs").where(expr(queryPred))
      .join(broadcast(cb), Seq("m"))
      .selectExpr("vec_id AS q_id", "m", "code",
        "cn2 - 2L * graft_dot(sub, cse) AS d")
    val scored = s.read.parquet(s"$base/codes")
      .join(broadcast(lut), Seq("m", "code"))
      .where(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("d")).as("adc"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adc"), col("neighbor_id"))))
      .where(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("neighbor_id"), col("adc"))
      .orderBy(col("q_id"), col("rank"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The reference's runtime shape (multi-tick incremental sync) applied
    // to the ANN index: 3 arrival batches fold into the persisted stores
    // (assign-only-the-batch), a re-train tick runs after the last one
    // (the periodic maintenance a production IVF schedules), and probes
    // are SERVED from the stores without any training. The oracle is the
    // one-shot IVF SQL — rebuild equivalence is the driver-checked
    // contract, exactly the IncrementalDedup pattern.
    "q_llm_knn_ivf_incremental" -> { (s, dir) =>
      val base = s"${Sinks.tmpBase}/ann_inc"
      reset(base)
      val e = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      e.repartitionByRange(3, col("vec_id")).write.parquet(s"$base/src")
      runTicks(s, base, e.schema)
      // bound the per-bucket file sets the fold ticks accumulated (one
      // file set per touched bucket per tick) before the corpus-sized
      // re-train reads the store; results unaffected (spec-asserted).
      // Disjoint stores -> concurrent compactions (r15).
      graft.util.Jobs.inPool(2)(Seq("vecs", "assign").map(p =>
        () => Sinks.compactBuckets(s, s"$base/$p")))
      retrain(s, base)
      serve(s, base)
    },

    // GDPR delete through the ANN index: build incrementally, purge a
    // deterministic delete list from BOTH stores (vector + assignment —
    // touched-bucket rewrites, [[Sinks.deleteByKeyBucket]]), then the
    // periodic re-train rebuilds centroids on the kept corpus. After the
    // re-train the index is bit-identical to a from-scratch build on the
    // kept vectors — the oracle is the one-shot IVF SQL over a kept CTE,
    // so the driver checks that the deletion propagated through
    // training, assignment, candidate generation, and serving (not just
    // the vector store). Without the re-train, stale centroids would
    // still carry the deleted vectors' mass — that's WHY delete + swap
    // is a two-step maintenance pass in production too.
    "q_llm_knn_ivf_forget" -> { (s, dir) =>
      val base = s"${Sinks.tmpBase}/ann_forget"
      reset(base)
      val e = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      e.repartitionByRange(2, col("vec_id")).write.parquet(s"$base/src")
      runTicks(s, base, e.schema)
      val del = e.select(col("vec_id"))
        .where(expr("vec_id % 9 = 4 AND vec_id >= 10")) // queries stay live
        .localCheckpoint() // both concurrent deletes read it
      graft.util.Jobs.inPool(2)(Seq(
        () => Sinks.deleteByKeyBucket(s, s"$base/vecs", del, "vec_id"),
        () => Sinks.deleteByKeyBucket(s, s"$base/assign", del, "vec_id")))
      retrain(s, base)
      serve(s, base)
    },

    // The band-table variant: same arrival stream, but the persisted
    // index is the hyperplane-LSH bucket table — no re-train tick exists
    // because the planes are constants (per-vector buckets are
    // corpus-independent), so fold ticks alone maintain an index that is
    // bit-identical to the one-shot bucketed corpus under any arrival
    // order. Oracle = the one-shot LSH SQL.
    "q_llm_knn_lsh_incremental" -> { (s, dir) =>
      val base = s"${Sinks.tmpBase}/ann_lsh_inc"
      reset(base)
      val e = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      e.repartitionByRange(3, col("vec_id")).write.parquet(s"$base/src")
      runTicks(s, base, e.schema, tickLsh)
      // store maintenance between merge windows: bound per-bucket file
      // counts accumulated across the fold ticks (results unaffected —
      // spec-asserted; the same pass q_llm_dedup_incremental runs)
      Sinks.compactBuckets(s, s"$base/vecs")
      serveLsh(s, base)
    },

    // GDPR delete through the LSH band-table index — the last cell of the
    // forget matrix (MinHash: q_llm_forget; IVF: q_llm_knn_ivf_forget;
    // PQ: q_llm_knn_pq_forget). The planes are corpus-independent
    // constants, so deletion needs NO re-train tick: purging the
    // forgotten vectors' rows from the keyed bucket store
    // ([[Sinks.deleteByKeyBucket]] — touched-bucket rewrites only) fully
    // removes them from candidate generation AND scoring, and the served
    // index is immediately bit-identical to a from-scratch build on the
    // kept corpus. Oracle = the one-shot LSH SQL over a kept CTE, so the
    // driver checks the deletion propagated through bucketing, candidate
    // join, and serving.
    "q_llm_knn_lsh_forget" -> { (s, dir) =>
      val base = s"${Sinks.tmpBase}/ann_lsh_forget"
      reset(base)
      val e = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      e.repartitionByRange(2, col("vec_id")).write.parquet(s"$base/src")
      runTicks(s, base, e.schema, tickLsh)
      val del = e.select(col("vec_id"))
        .where(expr("vec_id % 9 = 4 AND vec_id >= 10")) // queries stay live
      Sinks.deleteByKeyBucket(s, s"$base/vecs", del, "vec_id")
      serveLsh(s, base)
    },

    // The PQ variant: fold ticks encode only the batch against stored
    // codebooks; a re-train tick after the last arrival rebuilds
    // codebooks + code table (the periodic maintenance a production PQ
    // schedules); serving reads the code table only. Oracle = the
    // one-shot PQ SQL — rebuild equivalence, driver-checked.
    "q_llm_knn_pq_incremental" -> { (s, dir) =>
      val base = s"${Sinks.tmpBase}/ann_pq_inc"
      reset(base)
      val e = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      e.repartitionByRange(2, col("vec_id")).write.parquet(s"$base/src")
      runTicks(s, base, e.schema, tickPq)
      // small-file pass over both keyed stores before the re-train scan
      // (disjoint stores -> concurrent, r15)
      graft.util.Jobs.inPool(2)(Seq("subs", "codes").map(p =>
        () => Sinks.compactBuckets(s, s"$base/$p")))
      retrainPq(s, base)
      servePq(s, base)
    },

    // GDPR delete through the PQ index (the q_llm_knn_ivf_forget pattern
    // on the code-table store): purge the (vec, subspace) rows from both
    // keyed stores, re-train codebooks + re-encode on the kept corpus;
    // oracle = one-shot PQ SQL over the kept CTE.
    "q_llm_knn_pq_forget" -> pqForgetEntry)

  private val pqForgetEntry: (SparkSession, String) => DataFrame = { (s, dir) =>
    val base = s"${Sinks.tmpBase}/ann_pq_forget"
    reset(base)
    val e = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    e.repartitionByRange(2, col("vec_id")).write.parquet(s"$base/src")
    runTicks(s, base, e.schema, tickPq)
    // delete keys are (vec, subspace) pairs — PqM rows per forgotten vector
    val delKeys = e.select(col("vec_id"))
      .where(expr("vec_id % 9 = 4 AND vec_id >= 10")) // queries stay live
      .selectExpr(s"explode(transform(sequence(0, ${Similarity.PqM - 1}), " +
        s"m -> vec_id * ${Similarity.PqM} + m)) AS k")
    val delK = delKeys.localCheckpoint() // both concurrent deletes read it
    graft.util.Jobs.inPool(2)(Seq(
      () => Sinks.deleteByKeyBucket(s, s"$base/subs", delK, "k"),
      () => Sinks.deleteByKeyBucket(s, s"$base/codes", delK, "k")))
    retrainPq(s, base)
    servePq(s, base)
  }

  /** Identical to the one-shot entries' SQL by design (rebuild
    * equivalence after the re-train tick, driver-checked). */
  def oracleSql: Map[String, String] = Map(
    "q_llm_knn_ivf_incremental" -> Similarity.oracleSql("q_llm_knn_ivf"),
    // one-shot IVF over the KEPT corpus — rebuild equivalence after the
    // delete + re-train maintenance pass
    "q_llm_knn_ivf_forget" -> s"""
      WITH kept AS (
        SELECT * FROM embeddings WHERE NOT (vec_id % 9 = 4 AND vec_id >= 10)),
      ${Similarity.duckIvfSql("kept").trim.stripPrefix("WITH")}""",
    "q_llm_knn_lsh_incremental" -> Similarity.oracleSql("q_llm_knn_lsh"),
    // one-shot LSH over the KEPT corpus — no re-train tier exists to wait
    // for: bucket membership is per-vector, so the delete alone restores
    // from-scratch equivalence
    "q_llm_knn_lsh_forget" -> s"""
      WITH kept AS (
        SELECT * FROM embeddings WHERE NOT (vec_id % 9 = 4 AND vec_id >= 10)),
      ${Similarity.duckLshSql("kept").trim.stripPrefix("WITH")}""",
    "q_llm_knn_pq_incremental" -> Similarity.oracleSql("q_llm_knn_pq"),
    "q_llm_knn_pq_forget" -> s"""
      WITH kept AS (
        SELECT * FROM embeddings WHERE NOT (vec_id % 9 = 4 AND vec_id >= 10)),
      ${Similarity.duckPqSql("kept").trim.stripPrefix("WITH")}""")
}
