package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.llm.XHash._

/** Deduplication suite over `documents` (north-star LLM-pipeline operators):
  * exact (hash), MinHash+LSH (shingle → signature → banded buckets →
  * candidate pairs), SimHash fingerprints, and blocked n-gram Jaccard.
  *
  * Scale design (the part that must survive 100 TB):
  *  - NO all-pairs self-join anywhere. Candidate pairs come only from
  *    equi-joins on LSH band buckets (MinHash bands, hyperplane-sign bands)
  *    or bounded blocking keys — each is a plain hash shuffle whose cost is
  *    O(candidates), not O(N²).
  *  - Signatures/fingerprints are one narrow shuffle-free projection per
  *    doc; the band explode multiplies rows by a small constant (4).
  *  - Exact-Jaccard verification runs only on LSH candidates (the standard
  *    filter-verify shape), so false positives are pruned without a second
  *    scan.
  *
  * Reference anchor: generalizes keyed idempotent dedup (`git_etl.ts:127-132`,
  * key = commit hash) to content keys (sha256) and fuzzy keys (MinHash/
  * SimHash). All hashing is cross-engine deterministic — see [[XHash]].
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Corpus-size ceiling (bytes, optimizer estimate) under which
    * q_llm_dedup_family_recall pins its reused intermediates with
    * localCheckpoint instead of parquet-round-tripping them through the
    * tmp store. Measured anchors: the sf0.1 fixture (~0.6 MB corpus)
    * runs Local comfortably, while the generated sf1 corpus (~58 MB,
    * whose positional shingle stream is ~20 M pinned rows) OOM'd under
    * Local twice (PERF r12) — the threshold sits between the two with
    * ~25× margin on the safe side. Deliberately NOT heap-proportional:
    * the sf1 failure was a unified-pool interaction (pinned blocks vs
    * 32 concurrent hash aggregates), not a linear heap shortfall, so a
    * fixed measured bound is the honest rule until a bigger corpus is
    * measured safe. */
  val FamilyRecallLocalMaxBytes = 16L << 20

  /** Exact-substring gram width (characters) for q_llm_dedup_substrings —
    * the minimum duplicated-run length the operator can certify. 20 chars
    * ≈ 4 words on the test corpus; production exact-substr dedup uses
    * ~50 tokens, which is only this constant scaled up (the plan is
    * length-independent). */
  val SubK = 20

  /** (doc_id, sg): one row per DISTINCT word-3-gram shingle hash, docs with
    * >= 3 tokens only (shingling is undefined below that — both engines
    * agree). The exploded stream is the base of every MinHash computation:
    * signatures become plain map-side-combining aggregations over it
    * (min((A·sg+B) % P)). Generation is the custom UDTF
    * [[graft.functions.ShingleHashes]] — one compiled loop per doc instead
    * of three interpreted HOF passes, and immune to the
    * InferFiltersFromGenerate inlining trap by construction (see its
    * scaladoc and the note on q_llm_dedup_ngram_jaccard). */
  private[graft] def shingleStreamOf(corpus: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    corpus
      .selectExpr("doc_id", s"${sparkWordHashes("text")} AS wh")
      .where(expr("size(wh) >= 3"))
      .selectExpr("doc_id", "graft_shingles(wh) AS sg")
  }

  private def shingleStream(s: SparkSession, dir: String): DataFrame =
    shingleStreamOf(docs(s, dir))

  /** Asymmetric containment pairs C(A→B) = |S(A)∩S(B)| / |S(A)| over the
    * capped word-3-gram shingle universe (q_llm_dedup_containment body;
    * factored out so specs can drive it over fixture corpora). Keeps the
    * inverted-index pair-generation shape: pairs exist only for docs
    * sharing a capped shingle, never all pairs. */
  private[graft] def containmentPairsOf(corpus: DataFrame): DataFrame = {
    val raw = shingleStreamOf(corpus).localCheckpoint()
    val dfreq = raw.groupBy(col("sg")).agg(count(lit(1)).as("f"))
    val ex = raw.join(cappedDfreq(dfreq, corpusCountOf(corpus)), "sg")
      .select(col("doc_id"), col("sg")).localCheckpoint()
    // capped per-doc set sizes; the aggregation is also the pushdown
    // barrier that keeps the threshold filter out of the scan
    val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val co = ex.alias("a").join(ex.alias("b"),
        col("a.sg") === col("b.sg") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    co.join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      // exact integer thresholds: >= 80% of either side's shingles
      // shared, with a 5-shingle floor so trivial snippets don't pair
      .where(expr("i >= 5 AND (10 * i >= 8 * na OR 10 * i >= 8 * nb)"))
      .selectExpr("doc_a", "doc_b", "i", "na", "nb",
        "CAST(i AS DOUBLE) / na AS cont_a_in_b",
        "CAST(i AS DOUBLE) / nb AS cont_b_in_a",
        "CASE WHEN 10 * i >= 8 * na AND 10 * i >= 8 * nb THEN 'mutual' " +
          "WHEN 10 * i >= 8 * na THEN 'a_in_b' ELSE 'b_in_a' END AS relation")
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Winnowing window (hashes per selection window, w in the MOSS paper):
    * a shared run of >= WinnowW consecutive shingle positions (= WinnowW+2
    * words) containing a full selection window in both docs shares its
    * window-min fingerprint — the MOSS detection guarantee. */
  val WinnowW = 4

  /** Winnowed fingerprints (doc_id, fh): the w=4 windowed minimum of the
    * positional shingle-hash stream, rightmost-min tie-break folded into
    * enc = h·2^20 + (2^20−1−pos) (orders by hash then DESCENDING
    * position; pos < 2^20 bounds docs at ~1M shingles, h·2^20 < 2^50
    * stays in BIGINT). Full windows only, distinct per doc. */
  private[graft] def winnowFingerprintsOf(corpus: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    // One compiled pass per doc (the graft_winnowfps kernel, fed by the
    // graft_wordhashes kernel — shingles are built IN-kernel, see its
    // scaladoc for why the interpreted HOF shingle form must not sit
    // under the explode): winnowing is a per-document fold, so selecting
    // inside the scan projection avoids what the windowed-SQL form paid
    // — a (doc_id, pos) sort-shuffle of the FULL exploded position
    // stream plus a distinct shuffle (62 s of the family-recall profile
    // at generated sf1 → 12 s; r12). Bit-identical to that form (kept
    // below as [[winnowFingerprintsWindowed]]; LlmSpec pins row-set
    // equality) and the DuckDB oracle keeps the windowed mirror, so
    // every consumer's hash gate is unchanged. No size() pre-filter: the
    // kernel returns an empty array below 3 tokens / w shingles and
    // explode drops the row — a filter here would re-evaluate the
    // word-hash chain per row.
    corpus
      .selectExpr("doc_id", s"${sparkWordHashes("text")} AS wh")
      .selectExpr("doc_id", s"explode(graft_winnowfps(wh, $WinnowW)) AS fh")
  }

  /** The pre-kernel windowed-SQL winnowing selection — retained as the
    * independent model the parity spec checks [[winnowFingerprintsOf]]
    * against (same role as sparkWordHashesHof for the word-hash kernel). */
  private[graft] def winnowFingerprintsWindowed(corpus: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    // materialize the shingle ARRAYS before the generator: posexplode
    // over the raw HOF projection would invite the
    // InferFiltersFromGenerate inlining trap (see q_llm_dedup_ngram_jaccard)
    val sharr = corpus
      .selectExpr("doc_id", s"${sparkWordHashes("text")} AS wh")
      .where(expr("size(wh) >= 3"))
      .selectExpr("doc_id", s"${sparkShingles("wh")} AS sgs")
      .localCheckpoint()
    val wv = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(WinnowW - 1), 0)
    sharr
      .selectExpr("doc_id", "posexplode(sgs) AS (pos, h)")
      .withColumn("enc", expr("h * 1048576 + (1048575 - pos)"))
      .withColumn("wmin", min(col("enc")).over(wv))
      // full windows only (standard winnowing ignores the w-1 prefix)
      .where(col("pos") >= WinnowW - 1)
      .selectExpr("doc_id", "wmin DIV 1048576 AS fh")
      .distinct()
  }

  /** df-cap an already-materialized (doc_id, fh) fingerprint set against
    * a one-row `n_corpus` frame — shared by the one-shot chain and the
    * incremental store's serve path ([[IncrementalDedup]]'s winnow tier,
    * which reads fingerprints from a keyed store instead of re-scanning
    * text; the cap verdict is corpus-relative, so it can only ever be
    * taken against FINAL counts — exactly what serve time provides). */
  private[llm] def winnowCapFps(fp: DataFrame, nCorpus: DataFrame): DataFrame = {
    val dffp = fp.groupBy(col("fh")).agg(count(lit(1)).as("f"))
    fp.join(dffp.crossJoin(broadcast(nCorpus))
        .where(expr(s"f <= greatest(${MaxDf}L, n_corpus DIV ${MaxDfRatio}L)"))
        .select(col("fh")), "fh")
  }

  /** Corpus-relative df cap over the winnowed fingerprints — the capped
    * (doc_id, fh) universe every winnow consumer joins on. */
  private[llm] def winnowCappedFps(corpus: DataFrame): DataFrame =
    winnowCapFps(winnowFingerprintsOf(corpus).localCheckpoint(),
      corpusCountOf(corpus))

  /** Winnow-family CANDIDATE pairs: docs sharing any capped fingerprint —
    * the pre-verdict pair generator the family-recall audit scores
    * (bounded by the df cap exactly like the MinHash band join). */
  private[llm] def winnowCandidatesOf(corpus: DataFrame): DataFrame = {
    val fpc = winnowCappedFps(corpus).localCheckpoint()
    fpc.alias("a").join(fpc.alias("b"),
        col("a.fh") === col("b.fh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Winnowing near-dup pairs (q_llm_winnow_dedup body): selected
    * fingerprints drive the usual bounded pair join — corpus-relative df
    * cap, shared-fingerprint counting, overlap vs the smaller doc's set.
    * At 100 TB the winnowed stream is the artifact you can afford to
    * index — ~2/(w+1) of the full shingle stream before any capping. */
  private[graft] def winnowPairsOf(corpus: DataFrame): DataFrame =
    winnowPairsFromCapped(winnowCappedFps(corpus).localCheckpoint())

  /** Pair join + overlap verdict from an already-capped fingerprint
    * universe — the tail both the one-shot entry and the incremental
    * store's serve path share. */
  private[llm] def winnowPairsFromCapped(fpc: DataFrame): DataFrame = {
    val sizes = fpc.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val co = fpc.alias("a").join(fpc.alias("b"),
        col("a.fh") === col("b.fh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    co.join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      // >= 50% of the smaller doc's fingerprints shared, 2-fp floor
      .where(expr("shared >= 2 AND 10 * shared >= 5 * least(na, nb)"))
      .selectExpr("doc_a", "doc_b", "shared", "na", "nb",
        "CAST(shared AS DOUBLE) / least(na, nb) AS overlap")
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** MinHash signatures as one hash aggregation: doc_id, m0..m15, n_shingles. */
  private[llm] def minhashSigsOf(corpus: DataFrame): DataFrame =
    sigsFromShingles(shingleStreamOf(corpus))

  /** Signatures from an already-materialized (doc_id, sg) stream — lets a
    * caller that needs BOTH the shingle stream and the signatures (the
    * incremental tick) pay for shingle generation once. */
  private[llm] def sigsFromShingles(sgStream: DataFrame): DataFrame = {
    val aggs = (0 until K).map(k =>
      expr(s"min((${A(k)} * sg + ${B(k)}) % $P)").as(s"m$k")) :+
      count(lit(1)).as("n_shingles")
    sgStream.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  private def minhashSigs(s: SparkSession, dir: String): DataFrame =
    minhashSigsOf(docs(s, dir))

  /** Candidate near-dup pairs from the MinHash band-bucket equi-join —
    * the reusable bounded pair generator (O(candidates), never O(N²)).
    * Also gates the edit-distance entry. The band table feeds a self-join:
    * checkpointed once instead of recomputing the hash pipeline per side. */
  private[graft] def minhashCandidatesOf(corpus: DataFrame): DataFrame =
    candidatesFromBands(minhashBandsOf(corpus).localCheckpoint())

  /** Band-bucket self-join over an already-materialized band table. */
  private[llm] def candidatesFromBands(bands: DataFrame): DataFrame =
    bands.alias("a").join(bands.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** LSH candidates verified by exact Jaccard >= 0.5, with the intersection
    * and set sizes kept: (doc_a, doc_b, i, na, nb). Candidates come ONLY
    * from band-bucket equi-joins; verification is inverted-index
    * co-occurrence counting (no arrays cross any join; a pair with
    * J >= 0.5 necessarily shares shingles, so the inner join against
    * co-counts loses nothing). */
  private[graft] def minhashVerifiedPairsOf(corpus: DataFrame,
                                            floor: Long = MaxDf,
                                            ratio: Long = MaxDfRatio,
                                            ckpt: graft.util.Checkpointer =
                                              graft.util.Checkpointer.Local): DataFrame = {
    // Stop-shingle cap (doc frequency > greatest(MaxDf, N/MaxDfRatio)
    // dropped) BEFORE the pair-generating equi-join: kills the quadratic
    // hot key a boilerplate shingle shared by 1M docs would otherwise
    // create. Jaccard below is over the capped universe — the oracle
    // computes the same. The df counts MUST come from the full stream
    // (they define the capped universe), so they are aggregated before any
    // candidate gating.
    // ONE shingle-generation scan: the checkpointed stream feeds df
    // counts, the signature/band/candidate pipeline, AND verification
    // (candidate generation from the corpus directly would re-run the
    // wordhash+shingle scan — the suite's measured scan bottleneck).
    val raw = ckpt(shingleStreamOf(corpus))
    val dfreq = raw.groupBy(col("sg")).agg(count(lit(1)).as("f"))
    val cand = candidatesFromBands(
      ckpt(bandsFromSigs(sigsFromShingles(raw))))
    verifiedPairsFrom(cand, raw, dfreq, corpusCountOf(corpus), floor, ratio, ckpt)
  }

  /** 1-row (n_corpus BIGINT) count aggregate — the corpus size N that the
    * relative df cap is derived from, kept IN the plan (broadcast into the
    * df filter) rather than collected: no extra driver action, and Spark
    * runs the count as its own tiny stage feeding a 1-row broadcast. */
  private[llm] def corpusCountOf(corpus: DataFrame): DataFrame =
    corpus.agg(count(lit(1)).as("n_corpus"))

  /** Relative stop-shingle cap applied to a (sg, f) df table: keep shingles
    * with `f <= greatest(floor, n_corpus DIV ratio)`. `nCorpus` is a 1-row
    * broadcast (see [[corpusCountOf]]); both engines embed the identical
    * arithmetic (DuckDB mirrors with a scalar subquery + `//`, which also
    * truncates toward zero on the non-negative count). */
  private[llm] def cappedDfreq(dfreq: DataFrame, nCorpus: DataFrame,
                               floor: Long = MaxDf,
                               ratio: Long = MaxDfRatio): DataFrame =
    dfreq.crossJoin(broadcast(nCorpus))
      .where(expr(s"f <= greatest(${floor}L, n_corpus DIV ${ratio}L)"))
      .select(col("sg"), col("f"))

  /** The verification tail shared by the one-shot pipeline and the
    * incremental index ([[IncrementalDedup]]): exact capped Jaccard over
    * candidate pairs, from (cand0: doc_a/doc_b), a per-doc distinct
    * shingle stream (doc_id, sg), corpus-wide doc frequencies (sg, f),
    * and the 1-row corpus count the relative df cap derives from. Same
    * inputs → bit-identical output, which is what makes the incremental
    * entry's one-shot equivalence provable. `floor`/`ratio` default to
    * the production cap; specs override `ratio` to fire the relative arm
    * at test scale. */
  private[llm] def verifiedPairsFrom(cand0: DataFrame, sgStream: DataFrame,
                                     dfreq: DataFrame, nCorpus: DataFrame,
                                     floor: Long = MaxDf,
                                     ratio: Long = MaxDfRatio,
                                     ckpt: graft.util.Checkpointer =
                                       graft.util.Checkpointer.Local): DataFrame = {
    // checkpointed: referenced by the semi-join gate AND the final join
    val cand = ckpt(cand0)
    // Candidate gate: only docs that appear in some LSH candidate pair can
    // contribute to verification, so the exploded stream is semi-joined
    // down to candidate docs BEFORE the heaviest aggregation (the
    // co-occurrence self-join). Non-candidate docs' sizes are unused (the
    // final join against `cand` is inner), so shrinking here changes
    // nothing semantically and cuts the co-count shuffle to
    // O(candidate-doc shingles) instead of O(corpus shingles).
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val ex = ckpt(sgStream.join(cappedDfreq(dfreq, nCorpus, floor, ratio), "sg")
      .join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("sg")))
    val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val co = ex.alias("a").join(ex.alias("b"),
        col("a.sg") === col("b.sg") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    // sizes is O(N) rows — no broadcast hint: AQE broadcasts it at test
    // scale and degrades to a shuffle join at corpus scale (a forced
    // broadcast of a per-doc table is a driver/executor OOM at 10B docs)
    cand.join(co, Seq("doc_a", "doc_b"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .where(expr("2 * i >= na + nb - i"))
  }

  private def minhashVerifiedPairs(s: SparkSession, dir: String): DataFrame =
    minhashVerifiedPairsOf(docs(s, dir))

  /** Run-scoped cache of the DEFAULT-parameter verified-pairs artifact per
    * sf dir — the materialized upstream table a production pipeline would
    * publish once and feed to every downstream consumer (CC grouping,
    * PageRank centrality, triangles, leakage-safe splits). The pipeline is
    * fully deterministic (hash shingles, no RNG), so cached vs recomputed
    * results are identical; `localCheckpoint` (eager) pins the blocks for
    * the life of the session, which is the life of a Bench/Verify run. */
  private val pairsCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (org.apache.spark.SparkContext, DataFrame)]()
  /** Full-width (doc_a, doc_b, i, na, nb) cached artifact — consumers that
    * only need the edge list project it down. Keyed by (context, dir):
    * a localCheckpoint-backed DataFrame is bound to ONE SparkContext, so
    * a later session in the same JVM must rebuild, not inherit blocks of
    * a possibly-stopped context. Eviction checks the owning context's
    * OWN liveness (`isStopped`), not identity with the caller's context —
    * two concurrent live sessions in one JVM keep their pins; only
    * genuinely dead contexts' entries are dropped. */
  private[graft] def verifiedPairsFullCached(s: SparkSession, dir: String): DataFrame = {
    val ctx = s.sparkContext
    pairsCache.entrySet.removeIf(e => e.getValue._1.isStopped)
    pairsCache.computeIfAbsent((ctx.applicationId, dir), _ =>
      // pinned: the suite-level block-manager sweep (RunCache.sweep) must
      // not unpersist this — a swept localCheckpoint cannot recompute.
      // Timed as a shared build: Bench re-attributes these seconds to a
      // `shared_build_verified_pairs` pseudo-entry so the first consumer
      // (alphabetically) isn't charged for the whole artifact.
      (ctx, graft.util.SharedBuilds.timed("verified_pairs")(
        graft.util.RunCache.pin(
          minhashVerifiedPairsOf(docs(s, dir)).localCheckpoint()))))._2
  }
  /** Edge-list view of [[verifiedPairsFullCached]]. */
  private[graft] def verifiedPairsCached(s: SparkSession, dir: String): DataFrame =
    verifiedPairsFullCached(s, dir).select(col("doc_a"), col("doc_b"))

  /** Connected components over an undirected pair graph (doc_a, doc_b) by
    * min-label propagation with ADAPTIVE pointer jumping, run to FIXPOINT.
    * Every round: propagate — join labels to edges, per-node min (1 hop).
    * From round `jumpAfter` on, the same min-aggregation MAY also union a
    * shortcut term `label(x) ← label(label(x))` (a self-join of the
    * checkpointed label table on label = doc), which doubles the distance
    * a minimum travels per round.
    *
    * Adaptivity is the cost model: real near-dup graphs are almost always
    * shallow (dup clusters are cliques-ish; diameter ≤ a few hops), and
    * there the jump join is pure per-round overhead — shallow graphs
    * converge before `jumpAfter` and never pay for it. But a
    * template-drift CHAIN can be arbitrarily deep, and 1-hop propagation
    * alone is O(diameter) rounds — the silent-scale risk. So shallow
    * graphs never pay for the jump; deep graphs switch to O(log diameter)
    * rounds after round `jumpAfter` (total bound ~ jumpAfter +
    * log2(diameter): a 1M-hop chain converges in ~30 rounds).
    *
    * `jumpAfter` tuning evidence (r16): on the ER fixture graph (18-deep
    * chains) every engagement point from 0 to 8 converges in the SAME 12
    * rounds — 1-hop progress during the warmup rounds substitutes 1:1
    * for early doublings — so earlier engagement buys no rounds and only
    * adds per-round labels⋈labels joins. Measured 3 warm passes × {32, 8}
    * cores: jumpAfter=8 4.1-4.6 s, =2 4.6-5.1 s, =0 4.4-4.8 s, and a
    * volume-gated no-jump arm (18 one-hop rounds) 5.6-6.6 s — r15's
    * jumpAfter=2 for ER was strictly dominated and is reverted; a
    * changed-volume gate was prototyped and measured WORSE everywhere
    * (rounds dominate; the jump join at low volume costs ~0.1 s against
    * the ~0.35 s a saved round recovers), so it was not kept. Labels only
    * decrease and never leave the component (every label is a member's
    * id), so the fixpoint is the component minimum — matching the
    * oracle's recursive transitive closure; WHEN the jump engages changes
    * round count only, never the fixpoint.
    * The per-round materialization goes through `ckpt` (a
    * [[graft.util.Checkpointer]]): `Local` for bench/test speed (the
    * default), `Reliable(dir)` for executor-loss safety on a cluster,
    * `Store(dir)` for driver-restart resumability — same results under
    * all three (spec-asserted), so the knob is purely availability/cost.
    * `maxIters` is only a runaway guard and hitting it FAILS LOUDLY
    * instead of returning truncated labels. */
  private[graft] def connectedComponents(pairs: DataFrame, maxIters: Int = 60,
                                         jumpAfter: Int = 8,
                                         ckpt: graft.util.Checkpointer =
                                           graft.util.Checkpointer.Local): DataFrame = {
    // test hooks (single-flight, like lastStoreEmission: written by every
    // run on this process — specs read them right after a call they own)
    lastCcRounds = 0
    lastCcJumpRounds = 0
    // materialize the pair pipeline ONCE, then derive the reverse
    // direction lazily from the materialized half: a union of two selects
    // over the raw `pairs` would evaluate the (often expensive) upstream
    // pipeline twice inside one job — measured as the whole cost of
    // q_entity_resolution's CC stage (~2x a 3.8 s levenshtein self-join)
    val p0 = ckpt(pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val edges = p0.union(p0.select(col("dst").as("src"), col("src").as("dst")))
    var labels = ckpt(edges.select(col("src").as("doc")).distinct()
      .withColumn("label", col("doc")))
    var changed = 1L
    var iters = 0
    while (changed > 0 && iters < maxIters) {
      val viaNeighbor = edges.join(labels, edges("src") === labels("doc"))
        .select(col("dst").as("doc"), col("label"))
      val sources =
        if (iters < jumpAfter) Seq(viaNeighbor)
        else {
          lastCcJumpRounds += 1
          val viaJump = labels.alias("x").join(
              labels.select(col("doc").as("ldoc"), col("label").as("llabel")).alias("p"),
              col("x.label") === col("p.ldoc"))
            .select(col("x.doc").as("doc"), col("p.llabel").as("label"))
          Seq(viaNeighbor, viaJump)
        }
      val merged = sources.foldLeft(labels.select(col("doc"), col("label")))(_ union _)
        .groupBy(col("doc")).agg(min(col("label")).as("label"))
      if (ckpt == graft.util.Checkpointer.Local) {
        // fold the convergence test into the SAME job that materializes
        // the round: labels only decrease, so joining the (small,
        // already-materialized) previous labels in-plan and observing the
        // decrease count replaces a whole per-round count job — measured
        // ~0.11 s/round at sf0.1, and CC graphs with chains run 10+
        // rounds. Only the Local strategy takes this path: localCheckpoint
        // is a tracked action (listener verified), while the
        // Reliable/Store paths keep the explicit count and stay
        // provably non-blocking.
        val obs = org.apache.spark.sql.Observation()
        val next = ckpt(merged
          .join(labels.select(col("doc"), col("label").as("prev")), "doc")
          .observe(obs, sum(when(col("label") < col("prev"), lit(1L))
            .otherwise(lit(0L))).as("chg"))
          .select(col("doc"), col("label")))
        // bounded wait: metrics surfacing through the checkpoint action is
        // listener behavior (empirically reliable, probe-verified — but not
        // a documented contract), so never block the driver on it forever;
        // if they don't arrive, fall back to the explicit count join the
        // Reliable/Store path uses (next is already materialized, so the
        // fallback costs one small join job, not a pipeline re-run)
        val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
        var m = org.apache.spark.sql.GraftSqlShims.observedOrEmpty(obs)
        while (m.isEmpty && System.nanoTime < deadline) {
          Thread.sleep(50)
          m = org.apache.spark.sql.GraftSqlShims.observedOrEmpty(obs)
        }
        changed =
          if (m.nonEmpty) m.get("chg") match {
            case Some(n: Number) => n.longValue
            case _ => 0L // empty graph: zero rows observed
          } else next.alias("n").join(labels.alias("o"), "doc")
            .where(col("n.label") =!= col("o.label")).count()
        labels = next
      } else {
        val next = ckpt(merged)
        changed = next.alias("n").join(labels.alias("o"), "doc")
          .where(col("n.label") =!= col("o.label")).count()
        labels = next
      }
      iters += 1
      lastCcRounds = iters
    }
    if (changed > 0) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIters rounds; " +
        "raise maxIters (the bound is ~jumpAfter + log2(diameter), so " +
        "this is a bug or a pathological input, not normal growth)")
    labels.select(col("doc").as("doc_id"), col("label").as("canonical"))
  }

  /** MinHash band table: (doc_id, band_idx, band_key) — slim, agg-backed.
    * Per-doc and corpus-independent, which is what makes the band table
    * INCREMENTALLY maintainable (see [[IncrementalDedup]]). */
  private[llm] def minhashBandsOf(corpus: DataFrame): DataFrame =
    bandsFromSigs(minhashSigsOf(corpus))

  /** Band explode from a signature table (see [[sigsFromShingles]]). */
  private[llm] def bandsFromSigs(sigs: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map { bd =>
      val ms = (0 until RowsPerBand).map(r => s"m${bd * RowsPerBand + r}").mkString(", ")
      s"named_struct('band_idx', $bd, 'band_key', concat_ws('_', $ms))"
    }.mkString(", ")
    sigs
      .selectExpr("doc_id", s"explode(array($bandStructs)) AS band")
      .selectExpr("doc_id", "band.band_idx AS band_idx", "band.band_key AS band_key")
  }

  /** 32-bit SimHash per doc via the codegen kernel
    * [[graft.functions.SimHash32]]: the per-bit majority vote is a
    * per-document fold, so it runs as ONE compiled pass over the word-hash
    * array inside the scan projection — no row explosion and no 32-column
    * aggregation shuffle (the previous explode + 32-sum form measured ~2x
    * this plan's cost; the DuckDB oracle keeps the relational unnest+sum
    * mirror, which computes the identical majority). */
  private def simhashOf(corpus: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    corpus.selectExpr("doc_id", s"graft_simhash(${sparkWordHashes("text")}) AS simhash")
  }

  // Shared DuckDB CTE prefix: tokens -> shingles -> distinct shingles.
  private def duckShingleCtes(src: String = "documents"): String = s"""
      toks AS (
        SELECT doc_id, ${duckWordHashes("text")} AS wh FROM $src),
      shing AS (
        SELECT doc_id, ${duckShingles("wh")} AS sh,
               list_distinct(${duckShingles("wh")}) AS shd
        FROM toks WHERE len(wh) >= 3)"""

  /** Passage-level dedup with document RECONSTRUCTION: split into
    * 10-word segments, drop segments whose hash repeats anywhere in the
    * corpus, reassemble the survivors in order (deterministic sort_array
    * over collected (index, segment) structs). Output carries rebuilt
    * fingerprints, not text. See the q_llm_dedup_passages entry note. */
  private[graft] def passagesOf(d: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(d.sparkSession)
    val segs = d.selectExpr("doc_id", "split(text, ' ') AS t")
      .selectExpr("doc_id",
        "explode(transform(sequence(0, (size(t) - 1) DIV 10), i -> " +
          "named_struct('i', i, 'seg', array_join(slice(t, i * 10 + 1, 10), ' ')))) AS z")
      .selectExpr("doc_id", "z.i AS i", "z.seg AS seg")
      .withColumn("h", expr("graft_charhash(seg)"))
      .localCheckpoint() // feeds the freq agg, the kept join, and n_seg
    val f = segs.groupBy(col("h")).agg(count(lit(1)).as("f"))
    val kept = segs.join(f, "h").where(col("f") < 2)
    val nseg = segs.groupBy(col("doc_id")).agg(count(lit(1)).as("n_seg"))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(sort_array(collect_list(struct(i, seg)))," +
          " x -> x.seg), ' ')").as("nt"))
    nseg.join(rebuilt, Seq("doc_id"), "left")
      .selectExpr("doc_id", "n_seg",
        "coalesce(n_kept, CAST(0 AS BIGINT)) AS n_kept",
        "graft_charhash(coalesce(nt, '')) AS new_fp",
        "length(coalesce(nt, '')) AS n_chars_new")
      .orderBy(col("doc_id"))
  }

  /** Plan-switch threshold for exact-substring dedup: corpora up to one
    * budget's worth of text (every driver fixture, generated sf0.1)
    * keep the original single count-window plan — outputs bit-unchanged
    * at driver scales (the capSimBands no-op pattern); larger corpora
    * (generated sf1/sf10) take the bucketed occurrence-store plan. */
  private[graft] val SubShardChars = 256L * 1024 * 1024

  /** Baseline bucket fan-out for the occurrence store. The effective
    * bucket count grows with the corpus (see substringCoverageOf:
    * ~[[SubBucketBytes]] of occurrence rows per bucket, capped at 65536
    * directories), so one merge job's input is bounded at ANY corpus
    * size — the store's `pmod(h, B)` layout plays the role the
    * monolithic plan's 45 GB hash exchange played, at 1/B the footprint
    * per job. */
  private[graft] val SubMergeBuckets = 32

  /** Target bytes of occurrence rows per merge bucket (~12 B per corpus
    * char lands ~1.6 GB buckets at 4 GB of text; at 100 TB the cap
    * yields 65536 buckets of ~18 GB — still one bounded job each). */
  private[graft] val SubBucketBytes = 2L * 1024 * 1024 * 1024

  /** Width of the bounded driver-side job pool for the per-bucket merge
    * loop: the in-flight footprint is (per-bucket bound × this),
    * independent of how many buckets the corpus fans out to. */
  private[graft] val SubPoolWidth = 8

  /** Test/forensics introspection only: which emission arm the LAST
    * store-plan [[substringCoverageOf]] run chose ("clean" or
    * "repeated") — the spec asserts the mostly-unique fixture actually
    * exercises the repeated arm rather than passing through the clean
    * one. Never read by the engine. SINGLE-FLIGHT assumption: a
    * process-global written by every run, so overlapped/concurrent
    * invocations (none exist today — MultiIndex overlaps store WRITES,
    * not coverage runs) would clobber it; specs own the only call in
    * flight when they read it. */
  @volatile private[graft] var lastStoreEmission: String = ""

  /** Test/forensics introspection only (same single-flight contract as
    * [[lastStoreEmission]]): total rounds the LAST [[connectedComponents]]
    * run took, and how many of them engaged the pointer-jump join — the
    * spec hooks that pin the adaptive-jump cost model (shallow graphs
    * never jump; deep graphs converge in far fewer rounds than their
    * diameter) without timing anything. */
  @volatile private[graft] var lastCcRounds: Int = -1
  @volatile private[graft] var lastCcJumpRounds: Int = -1

  /** The gram stream: one O(n) compiled rolling-hash pass per doc
    * (posexplode of the codegen'd hash array) — bit-identical to the
    * explode(sequence)+charhash(substring) form it replaced, which did
    * O(n·K) fold work per doc; the ExpressionsSpec gramhashes test pins
    * the row-set equality, the oracle keeps the substr() form. Cheap to
    * produce, so callers recompute it rather than pin it. */
  private def gramOcc(d: DataFrame): DataFrame =
    d.where(length(col("text")) >= SubK)
      .selectExpr("doc_id", s"posexplode(graft_gramhashes(text, $SubK)) AS (i, h)")
      .selectExpr("doc_id", "CAST(i + 1 AS INT) AS p", "h")

  /** Islands-of-repeats over (doc_id, p) REPEATED positions → one slim
    * row per implicated doc (dup_chars, n_spans). Per-doc windows:
    * callers may run this monolithically (small corpus) or per
    * doc-bucket of a position store (each doc lives in exactly one
    * bucket, so a union of per-bucket results is identical). */
  private def islandsOf(repPos: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    repPos
      .withColumn("brk", when(col("p") - lag(col("p"), 1).over(w) > SubK, 1).otherwise(0))
      .withColumn("isl", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg((max(col("p")) - min(col("p")) + lit(SubK)).as("span"))
      .groupBy(col("doc_id"))
      .agg(sum(col("span")).as("dup_chars"), count(lit(1)).as("n_spans"))
  }

  /** EXACT reconstruction of the repeat-islands from the CLEAN
    * positions (grams whose hash is globally unique) plus per-doc gram
    * count N = n_chars - SubK + 1. Why the complement: on the corpora
    * this operator exists for — raw crawl shards; the generated
    * fixtures measure 99% duplicated chars — repeated positions are
    * nearly the WHOLE stream, so emitting them from the merge moves
    * ~12 B per corpus char twice more, while clean positions are the
    * sliver. The algebra (all integer, engine-agnostic):
    *
    *  - maximal clean runs [lo_j, hi_j] come from gaps-and-islands over
    *    the clean positions (window per doc — bounded: clean rows only);
    *  - the maximal REPEATED intervals are the complement:
    *    [hi_(j-1)+1, lo_j - 1] per run plus a sentinel tail
    *    [hi_t + 1, N] (empty edge intervals drop; interior ones cannot
    *    be empty — maximal runs are separated by >=1 repeated position);
    *  - two adjacent repeated intervals merge into one island iff the
    *    clean run between them is shorter than SubK — exactly the
    *    `gap > K breaks` rule on repeated positions, because successive
    *    repeated positions p, q around a clean run of length g satisfy
    *    q - p = g + 1;
    *  - island span = maxP - minP + SubK over its merged intervals.
    *
    * Emits one row per doc in `lens` — (doc_id, n_chars) for docs with
    * n_chars >= SubK: explicit zeros for all-clean docs, and docs with
    * ZERO clean positions (fully repeated) fall out naturally — their
    * lone sentinel row yields the single island [1, N], span
    * N - 1 + SubK = n_chars. */
  private def islandsFromClean(clean: DataFrame, lens: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    val runs = clean
      .withColumn("nr", when(col("p") - lag(col("p"), 1).over(w) > 1, 1).otherwise(0))
      .withColumn("rid", sum(col("nr")).over(w))
      .groupBy(col("doc_id"), col("rid"))
      .agg(min(col("p")).as("lo"), max(col("p")).as("hi"),
        count(lit(1)).cast("int").as("len"))
      .select(col("doc_id"), col("lo"), col("hi"), col("len"))
    // sentinel run at N+1 turns the tail repeated interval into a
    // regular "interval before a run"; its own len is never read
    val sent = lens
      .select(col("doc_id"),
        (col("n_chars") - lit(SubK - 1)).cast("int").as("np1lo"))
      .select(col("doc_id"), (col("np1lo") + 1).as("lo"),
        (col("np1lo") + 1).as("hi"), lit(0).as("len"))
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("lo"))
    val intervals = runs.unionByName(sent)
      .withColumn("ilo", lag(col("hi"), 1, 0).over(wl) + lit(1))
      .withColumn("ihi", col("lo") - 1)
      .withColumn("seplen", lag(col("len"), 1).over(wl))
      .where(col("ihi") >= col("ilo")) // drop empty EDGE intervals
    val wi = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("ilo"))
    val islands = intervals
      .withColumn("brk",
        when(lag(col("ilo"), 1).over(wi).isNull, 1)
          .when(col("seplen") >= SubK, 1).otherwise(0))
      .withColumn("grp", sum(col("brk")).over(wi))
      .groupBy(col("doc_id"), col("grp"))
      .agg((max(col("ihi")) - min(col("ilo")) + lit(SubK)).as("span"))
      .groupBy(col("doc_id"))
      .agg(sum(col("span")).as("dup_chars"), count(lit(1)).as("n_spans"))
    lens.select(col("doc_id"))
      .join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"))
  }

  /** Verdict assembly over the slim per-doc island rows (O(docs), the
    * same class as the output itself). Shared tail of both plans. */
  private def coverageOf(d: DataFrame, spans: DataFrame): DataFrame = {
    d.select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        graft.util.Exact.fix(
          coalesce(col("dup_chars"), lit(0L)).cast("double") * 100 / col("n_chars"), 6)
          .as("dup_pct"),
        expr("CASE WHEN 2 * coalesce(dup_chars, 0) >= n_chars THEN 'drop' " +
          "WHEN 5 * coalesce(dup_chars, 0) >= n_chars THEN 'trim' " +
          "ELSE 'keep' END").as("verdict"))
      .orderBy(col("doc_id"))
  }

  /** See the `q_llm_dedup_substrings` entry comment. Input: (doc_id, text).
    *
    * Two plans, switched on a deterministic corpus stat (total chars —
    * one bounded 1-row collect), IDENTICAL output either way:
    *
    * **Small corpus** (total chars <= [[SubShardChars]] — every driver
    * fixture): corpus-repeated positions via a count window over the
    * gram hash — the stream is touched once and shuffled once. The
    * window has no partial aggregation (ADVICE r11's skew caveat: a hot
    * gram's occurrences buffer in one WindowExec task — hottest observed
    * ~1e4, fine at this size), but it measured 2.3x faster than the
    * agg+join shape at fixture scale (PERF #62), so it stays the
    * small-corpus plan.
    *
    * **Occurrence-store** (PERF #79; the third shape after r12's
    * monolithic window — 827 s at sf10 but one 45 GB exchange — and
    * r13's doc-range sharding, whose per-shard count aggregations +
    * position recovery measured SLOWER than the monolith, 1112-1123 s,
    * because every shard paid a 250M-distinct-key hash aggregation, a
    * gram-stream persist, and a second read for within-shard repeat
    * positions). The insight: the repeat test needs the gram stream
    * GROUPED BY HASH, and a bucket-partitioned store gives exactly that
    * grouping for a linear write with NO exchange at all:
    *
    *  1. stream the grams straight into a store partitioned by
    *     `b = pmod(h, B)` — one corpus read, one O(chars) write, no
    *     gram-sized exchange (the only shuffle is a corpus-sized
    *     repartition to set write parallelism: 1x corpus bytes, NOT 12x
    *     gram bytes; on a real cluster the scan has enough native
    *     splits and it is a cheap balance). Concurrent partition
    *     writers (8 MB parquet blocks) skip the per-task partition sort
    *     — profiled at most of a 439 s write. The hash column is the
    *     rolling hash mod 1e9+7, stored as INT: it is the
    *     incompressible column, so the cast nearly halves the store.
    *     B = max([[SubMergeBuckets]], min(65536, 12*chars /
    *     [[SubBucketBytes]])) — per-bucket input stays ~2 GB at ANY
    *     corpus size. A slim (doc_id, n_chars) table partitioned by
    *     doc-bucket rides along for step 3.
    *  2. merge per bucket (a directory-pruned read of 1/B of the
    *     store): ONE fused hash aggregation per bucket —
    *     `groupBy(h).agg(count, first(doc_id), first(p))` filtered to
    *     count = 1. GLOBALLY exact, `pmod(h, B)` puts a hash's every
    *     occurrence in one bucket, and a count-1 group has exactly one
    *     input row, so first() recovers the occurrence
    *     deterministically. Emits the CLEAN positions, partitioned by
    *     doc-bucket. The complement, because on the target corpora
    *     (raw crawl shards; the generated fixtures measure 99%
    *     duplicated chars) repeated positions are nearly the whole
    *     stream — the clean sliver is what is small. (r15: this fused
    *     the r14 count-agg + anti-join pair, which read each bucket
    *     twice.) One bucket job shuffles at most ~[[SubBucketBytes]]/12
    *     gram rows; the bounded pool keeps a few such jobs in flight.
    *  3. reconstruct the repeat islands exactly from the clean
    *     positions + per-doc gram counts ([[islandsFromClean]] has the
    *     algebra), one bounded job per doc-bucket; verdict assembly on
    *     the O(docs) union.
    *
    * The corpus text is decoded once for stats, once for the gram
    * kernel, once for the lengths table — never per shard, and no
    * stage anywhere holds more than ~1/B of the gram stream in a
    * shuffle. Scratch lives under a per-invocation unique
    * directory and is deleted before returning; the returned frame is
    * eagerly materialized (localCheckpoint — the slim per-doc
    * verdicts), so a later call can never invalidate an earlier result
    * and no corpus-sized staging outlives the query (ADVICE r13). */
  private[graft] def substringCoverageOf(d: DataFrame,
                                         shardChars: Long = SubShardChars)
      : DataFrame = {
    graft.functions.GraftFunctions.register(d.sparkSession)
    val s = d.sparkSession
    // phase timing to stderr when SPARK_GRAFT_SUBPROF is set (perf
    // forensics only; no plan impact)
    val prof = sys.env.contains("SPARK_GRAFT_SUBPROF")
    def ph[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      if (prof) System.err.println(
        f"[subprof] $tag%-18s ${(System.nanoTime() - t0) / 1e9}%8.1f s")
      r
    }
    // bounded 1-row stats collect (the sanctioned metadata-collect
    // idiom): total chars picks the plan and sizes the bucket fan-out
    val st = ph("stats")(d.agg(sum(length(col("text"))).as("tc")).collect()(0))
    val totalChars = if (st.isNullAt(0)) 0L else st.getLong(0)
    if (totalChars <= shardChars) {
      val wh = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
      val repPos = gramOcc(d)
        .withColumn("c", count(lit(1)).over(wh))
        .where(col("c") > 1).select(col("doc_id"), col("p"))
      return coverageOf(d, islandsOf(repPos))
    }
    val buckets = math.max(SubMergeBuckets.toLong,
      math.min(65536L, 12L * totalChars / SubBucketBytes)).toInt
    val base =
      s"${graft.sinks.Sinks.tmpBase}/sub_occ/${java.util.UUID.randomUUID().toString.take(8)}"
    // dynamic-partition writes below fan one task across `buckets`
    // directories; concurrent writers skip the per-task partition SORT
    // the default path inserts (profiled: the sort+spill of the 1.66e9-row
    // occurrence stream was ~2/3 of a 439 s write at sf10). Writer
    // memory is writers × 8 MB parquet blocks per task, so the writer
    // count is capped INDEPENDENTLY of the bucket fan-out (ADVICE r14:
    // buckets+8 writers at the 65536-bucket cap implied 512 GB/task) —
    // past the cap Spark falls back to sorting the residual partitions,
    // which is the bounded-memory behaviour we want at that scale.
    // Session-conf note: this override is visible to concurrent queries
    // on the same session until the finally restores it; the operator
    // is single-flight per session by contract (bench/verify run
    // queries sequentially), and the setting is harmless to reads.
    val cw = "spark.sql.maxConcurrentOutputFileWriters"
    val cwPrev = s.conf.getOption(cw)
    s.conf.set(cw, math.min(512, math.max(128, buckets + 8)).toString)
    try {
      // 1. the occurrence store. repartition by doc_id so write
      //    parallelism tracks the cluster, not the input file count
      //    (generated corpora arrive as a handful of >=128 MB splits),
      //    and each doc stays whole in one task so (doc_id, p) runs
      //    delta-encode. h is the 63-bit-safe rolling hash mod 1e9+7 —
      //    it FITS IN AN INT, and h is the incompressible column, so the
      //    cast nearly halves the store and the merge scans.
      val par = s.sparkContext.defaultParallelism * 2
      ph("occ store")(gramOcc(d.repartition(par, col("doc_id")))
        .select(col("doc_id"), col("p"), col("h").cast("int").as("h"),
          pmod(col("h"), lit(buckets)).cast("int").as("b"))
        .write.partitionBy("b")
        .option("parquet.block.size", (8L * 1024 * 1024).toString)
        .parquet(s"$base/occ"))
      // 1c. EMISSION DECISION (r15; VERDICT r14 next-1): the complement
      //    emission below is optimal only when repeated positions
      //    dominate (the operator's target corpora — raw crawl shards;
      //    the generated fixtures measure 99% duplicated chars). On a
      //    mostly-unique corpus the asymmetry INVERTS: clean positions
      //    are ~the whole stream and emitting them pays ~12 B per corpus
      //    char of writes the repeated side would never pay. The merge's
      //    count aggregation knows both sides' sizes, so choose the arm
      //    GLOBALLY from one bounded probe: aggregate ONE store bucket
      //    (pmod(h, B) buckets are unbiased hash-samples of the gram
      //    stream, so either side's share in one bucket estimates its
      //    global share; the choice only steers COST — both arms emit
      //    row-identical verdicts, spec-pinned — so estimator error near
      //    50/50 is harmless). Probe cost: one extra ~1/B bucket read.
      //    Deterministic: the probed bucket is the lowest existing id.
      val emitClean: Boolean = ph("emit probe") {
        val probeBucket = (0 until buckets)
          .find(m => graft.util.Fs.exists(s"$base/occ/b=$m"))
        probeBucket.forall { m =>
          val r = s.read.parquet(s"$base/occ/b=$m")
            .groupBy(col("h")).agg(count(lit(1)).as("n"))
            .agg(sum(when(col("n") === 1, 1L).otherwise(0L)).as("clean"),
              sum(when(col("n") > 1, col("n")).otherwise(0L)).as("rep"))
            .collect()(0)
          val (cl, rep) = (if (r.isNullAt(0)) 0L else r.getLong(0),
            if (r.isNullAt(1)) 0L else r.getLong(1))
          if (prof) System.err.println(
            s"[subprof] emit probe bucket=$m clean=$cl rep=$rep -> " +
              (if (cl <= rep) "clean (complement)" else "repeated"))
          cl <= rep
        }
      }
      lastStoreEmission = if (emitClean) "clean" else "repeated"
      // 1b. slim per-doc gram-count table, partitioned the same way the
      //     islands stage is (one corpus length-scan, O(docs) rows) —
      //     only the CLEAN arm needs it: the complement islands need N
      //     per doc, and fully-repeated docs exist ONLY here. The
      //     repeated arm reconstructs islands from the repeated
      //     positions directly (islandsOf), where all-clean docs simply
      //     emit no rows and the verdict tail's left join zero-fills.
      if (emitClean) ph("lens store")(d
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
        .where(col("n_chars") >= SubK)
        .withColumn("db", pmod(col("doc_id"), lit(buckets)).cast("int"))
        .write.partitionBy("db").parquet(s"$base/lens"))
      // 2. bounded per-bucket merges (disjoint outputs — two Spark jobs
      //    must never append into one tree: committer _temporary races).
      //
      //    CLEAN arm — FUSED single scan (r15; PERF #82 named the r14
      //    double read): a clean position IS the sole occurrence of a
      //    hash with global count 1 — globally exact because pmod(h, B)
      //    puts a hash's every occurrence in one bucket — and a count-1
      //    group has exactly one input row, so first(doc_id), first(p)
      //    filtered to n = 1 recovers that occurrence deterministically
      //    under any partial-aggregation merge order. One hash
      //    aggregation (partial map-side, skew-safe), each ~2 GB bucket
      //    read ONCE.
      //
      //    REPEATED arm (r15): positions of hashes with count > 1 need
      //    EVERY occurrence back, which no single aggregation returns
      //    without buffering a hot hash's whole occurrence list — so it
      //    is the agg + self-join shape (count > 1 hashes joined back to
      //    the bucket rows), ~2 scans of the bucket, still bounded at
      //    ~2x [[SubBucketBytes]] per job. That is exactly the cost the
      //    clean arm's fusion removed — paid only where the CLEAN side
      //    is the bigger write, so each arm pays the smaller total.
      //    Either arm lands positions partitioned by DOC bucket so the
      //    islands stage runs bounded per-db jobs.
      val posDir = if (emitClean) "clean" else "rep"
      ph("bucket merges")(graft.util.Jobs.inPool(SubPoolWidth)((0 until buckets).map(m => () => {
        val bp = s"$base/occ/b=$m"
        if (graft.util.Fs.exists(bp)) {
          val rows = s.read.parquet(bp)
          val pos =
            if (emitClean)
              rows.groupBy(col("h"))
                .agg(count(lit(1)).as("n"),
                  first(col("doc_id")).as("doc_id"), first(col("p")).as("p"))
                .where(col("n") === 1)
            else
              rows.join(
                rows.groupBy(col("h")).agg(count(lit(1)).as("n"))
                  .where(col("n") > 1).select(col("h")),
                "h")
          pos.select(col("doc_id"), col("p"),
              pmod(col("doc_id"), lit(buckets)).cast("int").as("db"))
            .write.partitionBy("db")
            .option("parquet.block.size", (8L * 1024 * 1024).toString)
            .parquet(s"$base/$posDir/m$m")
        }
      })))
      // 3. islands per doc-bucket (each doc lives in exactly one db, so
      //    the union of per-db rows is identical to a monolithic pass),
      //    one bounded job per db, slim per-doc outputs. Clean arm:
      //    complement reconstruction over the db's clean sliver + its
      //    lens slice ([[islandsFromClean]]). Repeated arm: the direct
      //    gaps-and-islands window over the db's repeated positions
      //    ([[islandsOf]] — the same algebra the small-corpus plan
      //    runs), no lens table needed. Discovery is one listStatus per
      //    parent directory (ADVICE r14: per-path exists probes cost
      //    buckets² RPCs at the 65536-bucket cap).
      val posByDb: Map[Int, Seq[String]] = (0 until buckets)
        .flatMap { m =>
          graft.util.Fs.listDirs(s"$base/$posDir/m$m").collect {
            case n if n.startsWith("db=") =>
              (n.stripPrefix("db=").toInt, s"$base/$posDir/m$m/$n")
          }
        }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val islandDbs: Set[Int] =
        if (emitClean)
          graft.util.Fs.listDirs(s"$base/lens")
            .collect { case n if n.startsWith("db=") => n.stripPrefix("db=").toInt }
            .toSet
        else posByDb.keySet
      ph("islands")(graft.util.Jobs.inPool(SubPoolWidth)((0 until buckets).map(k => () => {
        if (islandDbs.contains(k)) {
          val ins = posByDb.getOrElse(k, Seq.empty)
          val posK =
            if (ins.nonEmpty) s.read.parquet(ins: _*).select(col("doc_id"), col("p"))
            else s.range(0).selectExpr("id AS doc_id", "CAST(id AS INT) AS p")
          val isl =
            if (emitClean) islandsFromClean(posK, s.read.parquet(s"$base/lens/db=$k"))
            else islandsOf(posK)
          isl.write.parquet(s"$base/cov/db$k")
        }
      })))
      // 4. verdict assembly on O(docs) slim rows; EAGER
      val covPaths = graft.util.Fs.listDirs(s"$base/cov")
        .collect { case n if n.startsWith("db") => s"$base/cov/$n" }
      val spans =
        if (covPaths.nonEmpty) s.read.parquet(covPaths: _*)
        else s.range(0).selectExpr("id AS doc_id", "id AS dup_chars", "id AS n_spans")
      ph("coverage tail")(coverageOf(d, spans).localCheckpoint())
    } finally {
      cwPrev match {
        case Some(v) => s.conf.set(cw, v)
        case None => s.conf.unset(cw)
      }
      graft.util.Fs.delete(base)
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Passage-level dedup with document RECONSTRUCTION (the CCNet /
    // Common Crawl "remove duplicated paragraphs, keep the rest" stage —
    // q_llm_dedup_chunks only SCORES duplication; this one rewrites the
    // corpus): docs split into 10-word segments, segments whose hash
    // repeats anywhere in the corpus are dropped, survivors reassemble in
    // order. The reassembly is a per-doc sort_array over collected
    // (index, segment) structs — deterministic under any partitioning —
    // and the output carries the rebuilt text's fingerprint, not the
    // text, so the result stays slim. Scale shape: one segment explode
    // (O(tokens/10) rows), one hash-count agg, one per-doc regroup; no
    // joins wider than the segment stream.
    "q_llm_dedup_passages" -> ((s, dir) => passagesOf(docs(s, dir))),

    // Dedup threshold-sensitivity sweep: before committing to a Jaccard
    // cutoff, measure what each candidate threshold WOULD do — pairs
    // surviving, distinct docs implicated, min-id-greedy drop count —
    // all from ONE pass of the run-cached verified-pairs artifact (the
    // banded candidates already bound the work; the sweep itself is a
    // 5-row broadcast fan-out, never a re-shingle of the corpus). The
    // cut predicate is the exact integer cross-multiply
    // 100·i ≥ t·(na+nb−i), so both engines agree bit-for-bit; the
    // 50-row reproduces the cached artifact's own J ≥ 0.5 base cut.
    "q_llm_dedup_threshold_sweep" -> { (s, dir) =>
      import s.implicits._
      val vp = verifiedPairsFullCached(s, dir)
      val thr = Seq(50, 60, 70, 80, 90).toDF("threshold_pct")
      vp.crossJoin(broadcast(thr))
        .where(col("i") * lit(100L) >=
               col("threshold_pct") * (col("na") + col("nb") - col("i")))
        .select(col("threshold_pct"), col("doc_a"), col("doc_b"))
        .withColumn("d", explode(array(col("doc_a"), col("doc_b"))))
        .groupBy(col("threshold_pct"))
        .agg(
          count(when(col("d") === col("doc_a"), lit(1))).as("n_pairs"),
          countDistinct(col("d")).as("n_docs"),
          countDistinct(when(col("d") === col("doc_b"), col("doc_b")))
            .as("n_dropped"))
        .orderBy(col("threshold_pct"))
    },

    // Corpus novelty curve: per ingestion decile (doc_id order = arrival
    // order in these fixtures), what fraction of each doc's distinct
    // word-3-gram shingles is seen here FIRST (min-owner = this doc)?
    // The longitudinal dedup-effectiveness audit: a healthy crawl's
    // novelty decays smoothly; a cliff to ~0 means a slice re-crawls
    // content the corpus already has and should be dropped before
    // tokenization. Shapes: one shingle scan → distinct → one min-agg
    // keyed on the gram, one same-key join back, one decile hash-agg —
    // all linear, the decile bound is corpus-relative (broadcast 1-row
    // max), and no pairwise anything.
    "q_llm_novelty_curve" -> { (s, dir) =>
      val g = shingleStream(s, dir)
        .selectExpr("doc_id", "sg AS g").distinct()
        .localCheckpoint()
      val firsts = g.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
      val mx = g.agg(max(col("doc_id")).as("max_id"))
      g.join(firsts, "g")
        .crossJoin(broadcast(mx))
        .selectExpr("doc_id", "first_doc",
          "CAST(least(9, doc_id * 10 DIV (max_id + 1)) AS INT) AS decile")
        .groupBy(col("decile"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty_ppm", expr("n_novel * 1000000 DIV n_grams"))
        .orderBy(col("decile"))
    },

    // EXACT-SUBSTRING dedup (the "deduplicating training data" repeated-
    // span semantic): every character position opens a k-char gram
    // (k = SubK, stride 1); grams whose hash repeats ANYWHERE in the
    // corpus — across docs or within one — mark their [p, p+k-1] span
    // duplicated, overlapping/adjacent spans merge per doc (gaps-and-
    // islands over position order), and each doc reports exact
    // duplicated-char coverage + a keep/trim/drop verdict on integer
    // cross-multiplied thresholds. This is finer than passage/chunk dedup
    // (word-segment granularity, alignment-sensitive): a duplicated span
    // is caught at ANY offset. Scale shape: the position explode is
    // linear in corpus characters (the same fan-out class as
    // tokenization — the published exact-substr algorithm's suffix array
    // is also O(chars)); the repeat test is char-budget-SHARDED above one
    // shard's worth of text (see substringCoverageOf — per-shard compact
    // summary aggs carrying singleton positions inline + a bucketed
    // cross-shard merge that emits repeated positions directly), so no
    // single stage ever shuffles more than ~SubShardChars of gram rows
    // AND the corpus is decoded+shingled exactly once; the island merge is a
    // per-doc window (hash exchange on doc_id). No pairwise join
    // anywhere — cost is O(chars + duplicated positions), never
    // O(N^2). Hash collisions (P = 1e9+7) can over-mark a span; the rate
    // is ~(positions^2 / 2P) corpus-wide, both engines share the same
    // hash so the oracle still matches, and a production run widens to a
    // 63-bit double hash with the same plan.
    "q_llm_dedup_substrings" -> ((s, dir) => substringCoverageOf(docs(s, dir))),

    // End-to-end training-data prep: the operators composed the way a real
    // corpus pipeline runs them — language filter -> quality gate -> exact
    // dedup (keep min doc_id per content hash) -> near-dup removal (drop
    // the larger id of each verified MinHash-LSH pair, computed over the
    // SURVIVING corpus) -> per-source stats. One declarative plan: Catalyst
    // pipelines the filters into the scan, and each dedup stage reuses the
    // scale shapes proven by its standalone entry.
    "q_llm_pipeline_e2e" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(sha2(lower(trim(col("text"))), 256)).orderBy(col("doc_id"))
      val base = docs(s, dir)
        .where(col("lang") === "en")
        .where(expr("size(split(text, ' ')) >= 20"))
      val exactDeduped = base
        .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1).drop("_rn")
      val dropIds = minhashVerifiedPairsOf(exactDeduped.select(col("doc_id"), col("text")))
        .select(col("doc_b").as("doc_id")).distinct()
      exactDeduped.join(dropIds, Seq("doc_id"), "left_anti")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("size(split(text, ' '))")).as("ws_tokens"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))
    },

    // Chunk-level dedup (CCNet-style paragraph dedup): docs split into
    // 10-word chunks (graft_chunks UDTF — one compiled rolling-hash loop
    // per doc, no interpreted transform/aggregate/slice passes), chunk
    // hashes counted globally, and each doc scored by its
    // duplicated-chunk ratio. Generate -> two hash aggs -> join — the
    // shuffle-only shape that holds at corpus scale, and every agg is a
    // pushdown barrier (see the ngram query's inlining note).
    "q_llm_dedup_chunks" -> { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val ch = docs(s, dir)
        .selectExpr("doc_id", s"${sparkWordHashes("text")} AS wh")
        .where(expr("size(wh) >= 1"))
        .selectExpr("doc_id", "graft_chunks(wh, 10) AS ch")
      val freq = ch.groupBy(col("ch")).agg(count(lit(1)).as("f"))
      ch.join(freq, "ch")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(expr("IF(f >= 2, 1, 0)")).as("n_dup"))
        .selectExpr("doc_id", "n_chunks", "n_dup",
          "CAST(n_dup AS DOUBLE) / n_chunks AS ratio_raw")
        .select(col("doc_id"), col("n_chunks"), col("n_dup"),
          graft.util.Exact.fix(col("ratio_raw"), 6).as("dup_ratio"),
          expr("CASE WHEN ratio_raw >= 0.5 THEN 'drop' ELSE 'keep' END").as("verdict"))
        .orderBy(col("doc_id"))
    },

    // Exact content dedup: normalize -> sha256 -> group; canonical row =
    // min doc_id per content hash (deterministic keep rule).
    "q_llm_dedup_exact" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), sha2(lower(trim(col("text"))), 256).as("h"))
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"), col("h"))
        .orderBy(col("doc_id"))),

    // Per-doc MinHash signature (K=16) — the cross-engine-exact primitive
    // that LSH banding is built from; also a compact near-dup sketch a user
    // can persist and diff across snapshots.
    "q_llm_minhash_sig" -> { (s, dir) =>
      minhashSigs(s, dir)
        .selectExpr("doc_id", "CAST(n_shingles AS INT) AS n_shingles",
          s"concat_ws('-', ${(0 until K).map("m" + _).mkString(", ")}) AS sig")
        .orderBy("doc_id")
    },

    // Banded MinHash-LSH near-dup: candidates only from band-bucket
    // equi-joins (4 bands x 4 rows), then exact-Jaccard verify >= 0.5 via
    // inverted-index co-occurrence counts (no arrays cross any join; a
    // candidate with J >= 0.5 necessarily shares shingles, so the inner
    // join against co-counts loses nothing).
    "q_llm_dedup_minhash_lsh" -> ((s, dir) =>
      minhashVerifiedPairs(s, dir)
        .selectExpr("doc_a", "doc_b", "CAST(i AS DOUBLE) / (na + nb - i) AS jaccard")
        .orderBy(col("doc_a"), col("doc_b"))),

    // Cross-corpus near-dup: dedup an incoming corpus AGAINST an existing
    // one (the "does the new crawl overlap my training set" question).
    // Same MinHash machinery, but the band join is BIPARTITE — side A
    // (single-digit sources) only ever joins side B, so within-corpus
    // pairs are never generated and the candidate volume is bounded by
    // cross-corpus bucket overlap, not either corpus's own duplication.
    // df counts and the relative cap stay corpus-wide (the Jaccard
    // universe is the union — the same universe the one-shot pipeline
    // uses, so verdicts agree between the two entries).
    "q_llm_dedup_crosscorpus" -> { (s, dir) =>
      val d = docs(s, dir)
      val raw = shingleStreamOf(d).localCheckpoint()
      val dfreq = raw.groupBy(col("sg")).agg(count(lit(1)).as("f"))
      val bands = bandsFromSigs(sigsFromShingles(raw)).localCheckpoint()
      val sides = d.selectExpr("doc_id", "length(source) = 4 AS in_a")
      val ba = bands.join(sides.where(col("in_a")).select("doc_id"), "doc_id")
      val bb = bands.join(sides.where(!col("in_a")).select("doc_id"), "doc_id")
      val cand = ba.alias("a").join(bb.alias("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_key") === col("b.band_key"))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
        .distinct()
      verifiedPairsFrom(cand, raw, dfreq, corpusCountOf(d))
        .join(d.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
        .join(d.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
        .selectExpr("doc_a", "doc_b", "src_a", "src_b",
          "CAST(i AS DOUBLE) / (na + nb - i) AS jaccard")
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // Global "most similar pairs" report: the LSH-verified pairs ranked by
    // similarity — the audit view a dedup operator ships with.
    "q_llm_top_similar_pairs" -> ((s, dir) =>
      minhashVerifiedPairs(s, dir)
        .selectExpr("doc_a", "doc_b", "CAST(i AS DOUBLE) / (na + nb - i) AS jaccard")
        .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
        .limit(20)),

    // Cross-source duplication matrix: the verified near-dup pairs
    // aggregated by (source_a, source_b) — the "which sources duplicate
    // which" audit that drives crawl-dedup priorities and licensing
    // review (a heavy cross diagonal means two feeds mirror each other;
    // a heavy intra diagonal means one feed re-posts itself). Pair
    // sources are least/greatest-normalized so the matrix is
    // upper-triangular. Cost on top of the standing verified-pair
    // pipeline: two slim (doc_id, source) joins + one matrix-sized agg;
    // n_docs counts DISTINCT docs involved per cell (a doc in many pairs
    // counts once).
    "q_llm_dedup_source_matrix" -> { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"), col("source"))
      val sp = minhashVerifiedPairs(s, dir)
        .select(col("doc_a"), col("doc_b"))
        .join(d.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
        .join(d.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
        .selectExpr("doc_a", "doc_b",
          "least(sa, sb) AS source_a", "greatest(sa, sb) AS source_b")
        .localCheckpoint() // feeds the pair count AND the distinct-doc count
      val m = sp.groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
      val dc = sp.selectExpr("source_a", "source_b",
          "explode(array(doc_a, doc_b)) AS d")
        .groupBy(col("source_a"), col("source_b"))
        .agg(countDistinct(col("d")).as("n_docs"))
      m.join(dc, Seq("source_a", "source_b"))
        .withColumn("kind",
          expr("CASE WHEN source_a = source_b THEN 'intra' ELSE 'cross' END"))
        .orderBy(col("source_a"), col("source_b"))
    },

    // Near-dup CLUSTERING: connected components over the verified pair
    // graph (see [[connectedComponents]] — min-label propagation to
    // FIXPOINT, diameter-bounded, loud failure on non-convergence).
    // Canonical doc = component minimum — the fuzzy generalization of the
    // reference's keyed dedup choosing one winner per key
    // (git_etl.ts:127-132).
    "q_llm_dedup_groups" -> { (s, dir) =>
      val pairs = minhashVerifiedPairs(s, dir).select(col("doc_a"), col("doc_b"))
      connectedComponents(pairs)
        .withColumn("cluster_size", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("canonical"))))
        .orderBy(col("doc_id"))
    },

    // The SAME pipeline run end-to-end under Checkpointer.Store — every
    // iterative materialization (shingle stream, band/candidate tables,
    // each CC round) becomes an addressable parquet step table, the
    // driver-restart-resumable strategy a 1000-executor run would pass
    // (util/Checkpointer.scala). Registered under the driver's oracle so
    // the fault-tolerant path is gate-checked, not just spec-equal: the
    // oracle IS q_llm_dedup_groups', since strategy choice is
    // availability/cost, never semantics.
    "q_llm_dedup_groups_store" -> { (s, dir) =>
      val ckDir = s"${graft.sinks.Sinks.tmpBase}/groups_store_ckpt"
      graft.sinks.Sinks.truncate(ckDir)
      val ck = graft.util.Checkpointer.Store(ckDir)
      val pairs = minhashVerifiedPairsOf(docs(s, dir), ckpt = ck)
        .select(col("doc_a"), col("doc_b"))
      connectedComponents(pairs, ckpt = ck)
        .withColumn("cluster_size", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("canonical"))))
        .orderBy(col("doc_id"))
    },

    // Cluster-size distribution: the histogram of near-dup family sizes
    // including singletons — the power-law audit behind dedup planning
    // (a corpus whose mass sits in a few giant template families deflates
    // very differently from one with many pairs; the tail also sizes the
    // CC working set). Rides the standing verified-pair CC labels; the
    // singleton count is one anti join, never a per-doc subquery.
    "q_llm_cluster_sizes" -> { (s, dir) =>
      val d = docs(s, dir)
      val cc = connectedComponents(
        minhashVerifiedPairs(s, dir).select(col("doc_a"), col("doc_b")))
        .localCheckpoint()
      val hist = cc.groupBy(col("canonical")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      val singles = d.join(cc.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_clusters"))
        .selectExpr("CAST(1 AS BIGINT) AS cluster_size", "n_clusters")
      val total = d.agg(count(lit(1)).as("n_total"))
      hist.unionByName(singles)
        .groupBy(col("cluster_size"))
        .agg(sum(col("n_clusters")).as("n_clusters"))
        .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
        .crossJoin(broadcast(total))
        .selectExpr("cluster_size", "n_clusters", "n_docs",
          "n_docs * 1000000 DIV n_total AS doc_share_ppm")
        .orderBy(col("cluster_size"))
    },

    // Token-weighted duplication inflation per source: total tokens vs
    // tokens surviving near-dup collapse (min-id canonicals + all
    // unclustered docs) — the "effective dataset size" a mixture planner
    // must weight by, where doc-count dedup stats hide that duplicated
    // docs may be systematically longer. Exact integer ppm both ways
    // (inflation over kept, duplicated share over all).
    "q_llm_dup_inflation" -> { (s, dir) =>
      val d = docs(s, dir)
        .selectExpr("doc_id", "source",
          "CAST(size(split(text, ' ')) AS BIGINT) AS n_tok")
      val cc = connectedComponents(
        minhashVerifiedPairs(s, dir).select(col("doc_a"), col("doc_b")))
      d.join(cc, Seq("doc_id"), "left")
        .selectExpr("source", "n_tok",
          "canonical IS NULL OR canonical = doc_id AS kept")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(col("n_tok")).as("tok_all"),
          sum(when(col("kept"), col("n_tok")).otherwise(0L)).as("tok_kept"))
        .selectExpr("source", "n_docs", "n_kept", "tok_all", "tok_kept",
          "tok_all * 1000000 DIV tok_kept AS inflation_ppm",
          "(tok_all - tok_kept) * 1000000 DIV tok_all AS dup_tok_share_ppm")
        .orderBy(col("source"))
    },

    // Quality-aware canonical election: production dedup keeps the BEST
    // copy of each near-dup group, not the lowest id — rank every cluster
    // member by the shared quality score (scaled to a long, so the
    // argmax is exact and tie-broken by id identically in both engines)
    // and flag the winner. Same CC substrate as q_llm_dedup_groups; the
    // score join is one O(members) hash join, never corpus-wide.
    "q_llm_dedup_keep_best" -> { (s, dir) =>
      val stops = TextAnalysis.markers.flatMap(_._2).distinct
        .map("'" + _ + "'").mkString("array(", ", ", ")")
      val pairs = minhashVerifiedPairs(s, dir).select(col("doc_a"), col("doc_b"))
      val cc = connectedComponents(pairs)
      val scored = docs(s, dir)
        .selectExpr("doc_id", "split(text, ' ') AS t")
        .selectExpr("doc_id", "size(t) AS n_tok",
          "size(array_distinct(t)) AS n_uniq",
          s"size(filter(t, w -> array_contains($stops, w))) AS n_stop")
        .selectExpr("doc_id",
          "CAST(n_uniq AS DOUBLE) / n_tok AS ttr",
          "CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio",
          "least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) AS len_term")
        .select(col("doc_id"), graft.util.Exact.scaled(
          expr("0.4 * ttr + 0.3 * stop_ratio + 0.3 * len_term"), 6).as("s6"))
      cc.join(scored, "doc_id")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("canonical"))
            .orderBy(col("s6").desc, col("doc_id"))))
        .select(col("doc_id"), col("canonical"),
          (col("s6").cast("double") / lit(1000000.0)).as("score"),
          (col("rn") === 1).as("keep"))
        .orderBy(col("doc_id"))
    },

    // SOFT dedup (sampling-weight dedup): instead of dropping near-dup
    // copies, every doc gets a training sampling weight inversely
    // proportional to its near-dup cluster size — the D4-style middle
    // ground that keeps natural-distribution coverage while flattening
    // duplicated content's effective epoch count. Weights are exact
    // integer ppm (1e6 DIV cluster_size), so downstream samplers and the
    // oracle agree bit-for-bit; singletons (docs in no verified pair)
    // keep weight 1e6 via the left join + coalesce. Same CC substrate as
    // q_llm_dedup_groups, plus one corpus-wide left join keyed on doc_id
    // — O(corpus) rows, no new shuffle class.
    "q_llm_soft_dedup" -> { (s, dir) =>
      val pairs = minhashVerifiedPairs(s, dir).select(col("doc_a"), col("doc_b"))
      val cc = connectedComponents(pairs)
      docs(s, dir).select(col("doc_id"))
        .join(cc.select(col("doc_id"), col("canonical")), Seq("doc_id"), "left")
        .withColumn("canonical", coalesce(col("canonical"), col("doc_id")))
        .withColumn("cluster_size", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("canonical"))))
        .selectExpr("doc_id", "canonical", "cluster_size",
          "CAST(1000000 AS BIGINT) DIV cluster_size AS weight_ppm")
        .orderBy(col("doc_id"))
    },

    // PROMPT-prefix dedup (instruction-data curation): near-dup on the
    // first K tokens only — the shape that catches shared-prompt
    // duplicates (same instruction, different completions), which
    // full-document Jaccard dilutes past the threshold. The corpus has
    // no prompt structure, so a 3-token prompt is seeded from doc_id
    // arithmetic (the q_llm_pii_redact dirtyExpr convention — identical
    // SQL text in both engines; production swaps K=3 for 32-64). Groups
    // key on the compiled charhash of the prefix slice; each group
    // reports its completion diversity — 1 distinct completion = a pure
    // duplicate to drop, many = a prompt whose completions are worth
    // keeping (dedup at the pair level, not the doc level). One scan +
    // one hash agg — the exact-dedup cost class.
    "q_llm_dedup_prefix" -> { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      docs(s, dir)
        .selectExpr("doc_id",
          "concat('p', doc_id % 40, ' u', doc_id % 8, ' v', doc_id % 5, ' ', text) AS pt")
        .selectExpr("doc_id", "split(pt, ' ') AS t")
        .selectExpr("doc_id",
          "graft_charhash(array_join(slice(t, 1, 3), ' ')) AS prompt_fp",
          "graft_charhash(array_join(t, ' ')) AS full_fp")
        .groupBy(col("prompt_fp"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("full_fp")).as("n_completions"),
          min(col("doc_id")).as("keeper"))
        .where(col("n_docs") >= 2)
        .select(col("prompt_fp"), col("n_docs"), col("n_completions"),
          col("keeper"),
          expr("CASE WHEN n_completions = 1 THEN 'exact_dup' " +
            "ELSE 'shared_prompt' END").as("verdict"))
        .orderBy(col("keeper"))
    },

    // 32-bit SimHash fingerprint: explode word hashes -> per-bit majority
    // vote as a partial+final hash agg (map-side combine; one shuffle of 32
    // small longs per doc). Duplicate-fingerprint count rides along.
    "q_llm_dedup_simhash" -> ((s, dir) =>
      simhashOf(docs(s, dir))
        .withColumn("n_same_fp", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("simhash"))))
        .orderBy(col("doc_id"))),

    // SimHash hamming-ball near-dup: candidates from 8-bit band equality
    // (pigeonhole: hamming <= 3 over 32 bits guarantees at least one of 4
    // bands matches exactly), verified by bit_count(xor) <= 3. Same slim
    // banded-LSH join shape as MinHash — no all-pairs comparison.
    "q_llm_dedup_simhash_pairs" -> { (s, dir) =>
      // materialize the fingerprints once — referenced 4x (band self-join
      // sides + two re-attach joins); without the checkpoint each reference
      // re-runs the explode + 32-aggregation pipeline
      val fp = simhashOf(docs(s, dir)).localCheckpoint()
      val bandStructs = (0 until 4).map(bd =>
        s"named_struct('band_idx', $bd, 'band_key', shiftright(simhash, ${bd * graft.functions.GraftKernels.SimBandBits}) & ${graft.functions.GraftKernels.SimBandMask}L)")
        .mkString(", ")
      val bands = fp.selectExpr("doc_id", s"explode(array($bandStructs)) AS band")
        .selectExpr("doc_id", "band.band_idx AS band_idx", "band.band_key AS band_key")
      // stop-bucket cap BEFORE the pair join (see capSimBands): a hot
      // band bucket is a quadratic candidate generator at corpus scale
      val kept = capSimBands(bands, corpusCountOf(docs(s, dir))).localCheckpoint()
      val cand = kept.alias("a").join(kept.alias("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_key") === col("b.band_key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      // fp is O(N) rows — no broadcast hint (AQE's choice at each scale)
      cand
        .join(fp.select(col("doc_id").as("doc_a"), col("simhash").as("fa")), "doc_a")
        .join(fp.select(col("doc_id").as("doc_b"), col("simhash").as("fb")), "doc_b")
        .selectExpr("doc_a", "doc_b", "CAST(bit_count(fa ^ fb) AS INT) AS hamming")
        .where(col("hamming") <= 3)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // Blocked exact n-gram Jaccard: hashed word-3-gram shingles (long
    // compares beat string compares ~10x in the pair loop; both engines
    // hash identically so any collision collapses identically), candidate
    // pairs only within a bounded (lang, source) block. The exact
    // complement to MinHash-LSH: full precision/recall inside each block.
    "q_llm_dedup_ngram_jaccard" -> { (s, dir) =>
      // Inverted-index set-similarity join (PPJoin-style): explode distinct
      // shingles, equi-join on (block, shingle) so co-occurrence counts come
      // from a plain shuffle + hash agg, and |A∪B| = |A|+|B|-|A∩B| from
      // broadcast per-doc sizes. No array crosses a join; pairs exist only
      // for docs sharing at least one shingle. This is the shape that holds
      // at 100 TB — per-pair array intersections do not.
      // Shingle generation via the custom UDTF (one compiled loop per doc;
      // see ShingleHashes). Historical note: with built-in explode,
      // Catalyst inferred a `size(shd) > 0` filter and pushed it below the
      // projections, INLINING the whole shingle pipeline into the scan
      // filter where element_at(transform(...), i) recomputed the full
      // word-hash array per element — measured 10x the entire query's
      // cost. InferFiltersFromGenerate skips custom generators, so the
      // trap cannot re-arm.
      graft.functions.GraftFunctions.register(s)
      val ex0 = docs(s, dir)
        .selectExpr("doc_id", "lang", "source", s"${sparkWordHashes("text")} AS wh")
        .where(expr("size(wh) >= 3"))
        .selectExpr("doc_id", "lang", "source", "graft_shingles(wh) AS sg")
        .localCheckpoint()
      // stop-shingle cap (corpus-relative, see XHash.MaxDf): boilerplate
      // shingles are dropped before the pair join, removing the quadratic
      // hot-key risk (one shared shingle across 1M docs = 10^12 join
      // rows). Jaccard is over the capped universe in both engines.
      val dfreq = ex0.groupBy(col("sg")).agg(count(lit(1)).as("f"))
      val ex = ex0.join(cappedDfreq(dfreq, corpusCountOf(docs(s, dir))), "sg")
        .select(col("doc_id"), col("lang"), col("source"), col("sg"))
        .localCheckpoint()
      // per-doc CAPPED set sizes from the exploded stream: an aggregation
      // is a predicate-pushdown BARRIER, so the final threshold filter's
      // inferred isnotnull(n) cannot inline size(<shingle expr>) into the
      // scan (same quadratic re-evaluation disease as above — measured at
      // 45 of the query's 47 seconds before this shape)
      val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val co = ex.alias("a").join(ex.alias("b"),
          col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
            col("a.sg") === col("b.sg") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.lang").as("lang"), col("a.source").as("source"),
          col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("i"))
      // sizes is O(N) rows — no broadcast hint (AQE's choice at each scale)
      co.join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .where(expr("10 * i >= 3 * (na + nb - i)"))
        .selectExpr("lang", "source", "doc_a", "doc_b",
          "CAST(i AS DOUBLE) / (na + nb - i) AS jaccard")
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // Edit-distance near-dup: levenshtein over 40-char prefixes, gated by
    // the MinHash band candidates — the character-level complement to
    // token-level Jaccard (catches small in-word edits shingles miss).
    // Pair count is O(LSH candidates), never O(block²): a (lang, source)
    // block self-join would be ~the whole corpus squared once one block is
    // (en, common-crawl). Cost: O(candidates × 40²) verify only.
    "q_llm_dedup_editdist" -> { (s, dir) =>
      val d = docs(s, dir)
      val heads = d.selectExpr("doc_id", "left(text, 40) AS head")
      minhashCandidatesOf(d)
        .join(heads.select(col("doc_id").as("doc_a"), col("head").as("ha")), "doc_a")
        .join(heads.select(col("doc_id").as("doc_b"), col("head").as("hb")), "doc_b")
        // bounded form: banded DP bails past the threshold (returns -1,
        // dropped by the BETWEEN) — same survivors/dist values as the
        // oracle's unbounded `levenshtein <= 10`, ~2x cheaper per pair
        .select(col("doc_a"), col("doc_b"),
          expr("levenshtein(ha, hb, 10)").as("dist"))
        .where(col("dist").between(0, 10))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // Embedding-cosine near-dup: banded hyperplane LSH (4 bands x 8 sign
    // bits) -> candidate pairs -> exact scaled-long cosine >= 0.25.
    // 8 bits/band keeps candidates at O(N·bucket_load); recall is the
    // documented LSH tradeoff (high for true near-dups at cos ~0.9+).
    "q_llm_dedup_embed" -> { (s, dir) =>
      // norms precomputed per vector (pre-join): keeps the pair stage to a
      // single unrolled dot (under the 64 KB codegen method limit) and does
      // O(N) norm work instead of O(candidates)
      graft.functions.GraftFunctions.register(s)
      val se = Tables.load(s, dir, "embeddings")
        .selectExpr("vec_id", s"${sparkScaledEmb("embedding")} AS se")
        .selectExpr("vec_id", "se",
          "sqrt(CAST(graft_dot(se, se) AS DOUBLE)) AS nrm")
      // All 32 plane dots in ONE compiled pass per vector via the
      // graft_planedots kernel (weights computed inline from the Weyl
      // formula — no plane table exists). History: a 32x64-term unrolled
      // PROJECTION overflows the 64 KB codegen method limit (measured
      // 2.5x slower end-to-end interpreted), which forced a
      // matrix-multiply-by-join (posexplode x broadcast weight table +
      // two aggregations); the compiled loop has no method-size problem
      // and removes the explode and both aggregation shuffles.
      val bandKey = (bd: Int) => (0 until 8)
        .map(r => s"IF(element_at(dots, ${bd * 8 + r + 1}) > 0L, ${1L << r}L, 0L)")
        .mkString(" + ")
      val bandStructs = (0 until 4)
        .map(bd => s"named_struct('band_idx', $bd, 'band_key', ${bandKey(bd)})")
        .mkString(", ")
      val bands = se.selectExpr("vec_id", "graft_planedots(se) AS dots")
        .selectExpr("vec_id", s"explode(array($bandStructs)) AS band")
        .selectExpr("vec_id", "band.band_idx AS band_idx", "band.band_key AS band_key")
      // stop-bucket cap BEFORE the self-join (capSimBands, vec-keyed):
      // an embedding corpus with dense semantic clusters (boilerplate,
      // template mass) concentrates whole clusters into single (band,
      // key) buckets — measured 14.9e9 candidate pairs at a generated
      // 500k-vector corpus with 10 clusters (51k-vector hottest bucket)
      // vs 99k pairs on the diffuse sf0.1 fixtures. The sqrt-law cap
      // bounds Σbn² at O(N^1.5) worst case; a bucket holding >√N vectors
      // is a CLUSTER, not a near-dup pair source (SemDeDup is the
      // cluster-level entry), the documented stop-shingle trade.
      val kept = capSimBands(bands, corpusCountOf(se), key = "vec_id")
      // band table and pair-dedup stay SLIM (ids only): the distinct then
      // shuffles 2 longs per candidate instead of two 64-long arrays; the
      // vectors re-attach afterwards via unhinted joins — AQE broadcasts
      // them at test scale, key-partitioned shuffle join at 100 TB.
      val pairIds = kept.alias("a").join(kept.alias("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_key") === col("b.band_key") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
        .distinct()
      val sideA = se.select(col("vec_id").as("vec_a"), col("se").as("sa"), col("nrm").as("na"))
      val sideB = se.select(col("vec_id").as("vec_b"), col("se").as("sb"), col("nrm").as("nb"))
      pairIds
        .join(sideA, "vec_a")
        .join(sideB, "vec_b")
        .selectExpr("vec_a", "vec_b",
          "CAST(graft_dot(sa, sb) AS DOUBLE) / (na * nb) AS cos_raw")
        .where(col("cos_raw") >= 0.25)
        .withColumn("cos", graft.util.Exact.fix(col("cos_raw"), 6))
        .select(col("vec_a"), col("vec_b"), col("cos"))
        .orderBy(col("vec_a"), col("vec_b"))
    },

    // SimHash near-dup bucketing rides on q_llm_dedup_simhash's fingerprint;
    // MinHash-LSH above is the generic fuzzy-pair generator.

    // Asymmetric containment dedup (the quote/wrapper-page detector):
    // C(A→B) = |S(A)∩S(B)| / |S(A)| over the capped word-3-gram shingle
    // universe. Near-total containment of a SMALL doc in a much larger one
    // has low Jaccard (i/(na+nb-i) shrinks with the size gap), so the
    // symmetric families systematically miss exactly the duplication mode
    // crawled corpora are full of — articles quoted inside aggregator
    // pages, docs re-wrapped in boilerplate (Broder's original
    // resemblance/containment pair; only resemblance got an LSH family).
    // Pair generation is the same inverted-index equi-join as the Jaccard
    // entry — pairs exist only for docs sharing a capped shingle, never
    // all pairs — and the corpus-relative df cap bounds per-shingle
    // fan-out at any corpus size. Ratios are single divisions of exact
    // integers, bit-identical cross-engine without rounding.
    "q_llm_dedup_containment" -> ((s, dir) => containmentPairsOf(docs(s, dir))),

    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken's MOSS algorithm):
    // slide a w=4 window over the positional shingle-hash stream and keep
    // each window's minimum — guaranteeing every match of length
    // >= w+k-1 words is caught while storing only ~2/(w+1) of the hashes,
    // the classic guarantee/compression trade plagiarism detectors run.
    // The rightmost-min tie-break is folded into integer arithmetic: the
    // windowed min is taken over enc = h*2^20 + (2^20-1-pos), which orders
    // by hash then by DESCENDING position — one window aggregate, no
    // argmax gymnastics, identical in both engines (pos < 2^20 bounds
    // docs at ~1M shingles; h*2^20 < 2^50 stays safely in BIGINT).
    // Selected fingerprints then drive the usual bounded pair join:
    // corpus-relative df cap, shared-fingerprint counting, overlap vs the
    // smaller doc's fingerprint set. At 100 TB the winnowed stream is the
    // artifact you can afford to index — ~3x smaller than the full
    // shingle stream before any capping.
    "q_llm_winnow_dedup" -> ((s, dir) => winnowPairsOf(docs(s, dir))),

    // Dedup-family recall audit (the q_llm_knn_recall analog for the
    // dedup suite): truth = exact capped Jaccard >= 0.5 verified over the
    // UNION of both families' banded candidates; each family is then
    // scored by how many truth pairs its own candidate scheme surfaces
    // (MinHash bands) or its own verdict confirms (SimHash hamming <= 3).
    // Verification is a pure per-pair predicate (df cap and sizes come
    // from the full corpus stream), so truth restricted to a family's
    // candidates IS that family's verified output — one verification
    // chain scores every family. Still no all-pairs anywhere: truth is
    // only ever evaluated on banded candidates.
    // MinHash estimator calibration: for every banded candidate pair,
    // compare the K-signature agreement ESTIMATE (agree/K — what the
    // incremental gate and dedup-at-ingest verdicts actually use) against
    // the EXACT capped Jaccard, and report the absolute-error histogram in
    // 0.1-wide bands. The audit that justifies K: a fat error tail means
    // the K=16 estimator misclassifies near the 0.5 boundary and the
    // banded gate needs either more rows or exact re-verification. Truth
    // is evaluated ONLY on banded candidates (the family-recall caveat —
    // never all-pairs); pairs sharing no capped shingle stay in-band with
    // i = 0 via the left joins.
    "q_llm_minhash_estimate" -> { (s, dir) =>
      estimatorPairsOf(s, dir)
        .selectExpr(s"agree * 1000000 DIV $K AS est_ppm",
          "CASE WHEN u > 0 THEN i * 1000000 DIV u ELSE CAST(0 AS BIGINT) END AS true_ppm")
        .selectExpr("est_ppm", "true_ppm", "abs(est_ppm - true_ppm) AS err_ppm")
        .selectExpr("least(9L, err_ppm DIV 100000) AS err_band",
          "est_ppm", "true_ppm")
        .groupBy(col("err_band"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(est_ppm) DIV count(*)").as("avg_est_ppm"),
          expr("sum(true_ppm) DIV count(*)").as("avg_true_ppm"))
        .orderBy(col("err_band"))
    },

    // b-bit MinHash (Li & König '10): store only the lowest b bits of
    // each of the K hash values — 1/32nd the signature bytes at b=2 —
    // and correct the inflated collision rate analytically:
    // E[agree_b/K] = J + (1−J)/2^b ⇒ Ĵ_b = (2^b·agree_b − K) /
    // ((2^b − 1)·K). The space-accuracy audit run before shrinking a
    // planet-scale signature store: per banded candidate pair, the
    // absolute error of the full-width, b=2, and b=1 estimators against
    // exact capped Jaccard, in exact integer ppm (truncating division
    // agrees on negatives in both engines). One pairs table feeds all
    // three estimators; candidates only ever come from bands.
    "q_llm_minhash_bbit" -> { (s, dir) =>
      estimatorPairsOf(s, dir)
        .selectExpr(
          "CASE WHEN u > 0 THEN i * 1000000 DIV u ELSE CAST(0 AS BIGINT) END AS true_ppm",
          s"agree * 1000000 DIV $K AS est_full",
          s"(4 * agree_b2 - $K) * 1000000 DIV (3 * $K) AS est_b2",
          s"(2 * agree_b1 - $K) * 1000000 DIV $K AS est_b1")
        .selectExpr("true_ppm",
          "stack(3, 'full', CAST(30 AS INT), est_full, " +
            "'b2', CAST(2 AS INT), est_b2, " +
            "'b1', CAST(1 AS INT), est_b1) AS (estimator, bits, est_ppm)")
        .selectExpr("estimator", "bits", "abs(est_ppm - true_ppm) AS err_ppm")
        .groupBy(col("estimator"), col("bits"))
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(err_ppm) DIV count(*)").as("avg_err_ppm"),
          max(col("err_ppm")).as("max_err_ppm"))
        .orderBy(col("estimator"))
    },

    "q_llm_dedup_family_recall" -> { (s, dir) =>
      val d = docs(s, dir)
      // MEMBERSHIP-INVERTED audit (r12). The previous form materialized
      // every family's candidate PAIR SET and verified their union — at
      // generated sf1 (500 k docs) that meant 39 M simhash band pairs
      // (79 s), a winnow pair join measured at 198.6 s, and a 41 M-row
      // union distinct (21 s), of which verification then killed 99.9%
      // (truth = 50 k rows; PERF.md r12).
      // Verification is a pure per-pair predicate over the capped
      // shingle universe, so for ANY candidate set C:
      //   verify(C) = C ∩ P,  P = all pairs sharing ≥1 capped shingle
      //                           with exact Jaccard ≥ 0.5.
      // P's inverted-index co-count is the same co join the old truth
      // already ran (the candidate-doc gate kept ~100% of docs at sf1 —
      // every doc was in SOME junk candidate pair), minus the junk: it
      // costs ~30 s standalone. So compute P once, then test MEMBERSHIP
      // of P's pairs in each family by joining back to that family's
      // KEYED table (band table, fingerprint universe) — no candidate
      // pair set is ever materialized. Per-family results and the oracle
      // are bit-identical. Scale: the co join is bounded by the
      // corpus-relative df cap (≤ max(50, N/ratio) docs per shingle) and
      // memberships are |P| × keys-per-doc joins — nothing quadratic in
      // bucket sizes survives.
      // Reused intermediates round-trip SIZE-ADAPTIVELY (r16, VERDICT
      // r15 next-7): the Store (parquet) strategy exists because at sf1
      // localCheckpoint's pinned deserialized rows (the O(total tokens)
      // positional shingle stream, ~20 M rows) + 32 concurrent hash
      // aggregates exhausted the unified pool twice (heap OOM, then
      // UNABLE_TO_ACQUIRE_MEMORY; PERF r12) — and at 100 TB these are
      // exactly the tables a production audit would publish, not pin.
      // But below that regime the 11 parquet write+read round-trips are
      // pure driver/commit overhead, so the strategy is chosen from the
      // corpus' size estimate (driver-only plan stats, no job): Local
      // under [[FamilyRecallLocalMaxBytes]], Store above. Both
      // strategies are contents-identical by the Checkpointer contract
      // (spec-asserted there); the oracle hash pins this entry either way.
      val ckBase = s"${graft.sinks.Sinks.tmpBase}/family_recall_ck"
      graft.sinks.Sinks.truncate(ckBase)
      val ck: graft.util.Checkpointer =
        if (d.queryExecution.optimizedPlan.stats.sizeInBytes
            <= FamilyRecallLocalMaxBytes) graft.util.Checkpointer.Local
        else graft.util.Checkpointer.Store(ckBase)
      val raw = ck(shingleStreamOf(d))
      val dfreq = raw.groupBy(col("sg")).agg(count(lit(1)).as("f"))
      val nC = corpusCountOf(d)
      // P: the verified universe — capped stream, inverted-index
      // co-count, exact Jaccard ≥ 0.5 (same arithmetic as
      // verifiedPairsFrom, with no candidate gate)
      val ex = ck(raw.join(cappedDfreq(dfreq, nC), "sg")
        .select(col("doc_id"), col("sg")))
      val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val co = ex.alias("a").join(ex.alias("b"),
          col("a.sg") === col("b.sg") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("i"))
      val p = ck(co
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .where(expr("2 * i >= na + nb - i"))
        .select(col("doc_a"), col("doc_b")))
      // minhash family: the banded candidate set is small (bands agree on
      // 4 consecutive minima), so it IS materialized — famEval scores it
      // directly, membership is a semi-join
      val mhCand = ck(candidatesFromBands(ck(bandsFromSigs(sigsFromShingles(raw)))))
      val tMh = p.join(mhCand, Seq("doc_a", "doc_b"), "left_semi")
      // simhash family: membership = the pair shares a capped band bucket
      val fp = ck(simhashOf(d))
      val bandStructs = (0 until 4).map(bd =>
        s"named_struct('band_idx', $bd, 'band_key', shiftright(simhash, ${bd * graft.functions.GraftKernels.SimBandBits}) & ${graft.functions.GraftKernels.SimBandMask}L)")
        .mkString(", ")
      val shBands = fp.selectExpr("doc_id", s"explode(array($bandStructs)) AS band")
        .selectExpr("doc_id", "band.band_idx AS band_idx", "band.band_key AS band_key")
      val shKept = ck(capSimBands(shBands, nC))
      val tSh = ck(p.alias("p")
        .join(shKept.alias("x"), col("p.doc_a") === col("x.doc_id"))
        .join(shKept.alias("y"), col("p.doc_b") === col("y.doc_id") &&
          col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key"))
        .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
        .distinct())
      // the family's VERDICT (hamming ≤ 3) applied to its truth-side
      // members — famEval only counts found ∩ truth, so restricting the
      // found set to P first changes nothing
      val shFound = tSh
        .join(fp.select(col("doc_id").as("doc_a"), col("simhash").as("fa")), "doc_a")
        .join(fp.select(col("doc_id").as("doc_b"), col("simhash").as("fb")), "doc_b")
        .where(expr("bit_count(fa ^ fb) <= 3"))
        .select(col("doc_a"), col("doc_b"))
      // winnow family: membership = the pair shares a capped fingerprint
      val fpc = ck(winnowCappedFps(d))
      val tW = ck(p.alias("p")
        .join(fpc.alias("x"), col("p.doc_a") === col("x.doc_id"))
        .join(fpc.alias("y"), col("p.doc_b") === col("y.doc_id") &&
          col("x.fh") === col("y.fh"))
        .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
        .distinct())
      val truth = ck(tMh.union(tSh).union(tW).distinct())
      def famEval(name: String, found: DataFrame): DataFrame =
        truth.join(found.select(col("doc_a"), col("doc_b"))
            .withColumn("_hit", lit(1)), Seq("doc_a", "doc_b"), "left")
          .agg(count(lit(1)).as("n_true"),
            sum(coalesce(col("_hit"), lit(0))).as("n_found"))
          .selectExpr(s"'$name' AS family", "n_true", "n_found",
            "CASE WHEN n_true = 0 THEN CAST(0.0 AS DOUBLE) " +
              "ELSE CAST(n_found AS DOUBLE) / n_true END AS recall")
      famEval("minhash", mhCand).unionByName(famEval("simhash", shFound))
        .unionByName(famEval("winnow", tW))
        .orderBy(col("family"))
    })

  private val sigExprs =
    (0 until K).map(k => s"${duckMinhash("sh", k)} AS m$k").mkString(",\n               ")
  private val bandUnion = (0 until Bands).map { bd =>
    val ms = (0 until RowsPerBand).map(r => s"m${bd * RowsPerBand + r}").mkString(", ")
    s"SELECT doc_id, $bd AS band_idx, concat_ws('_', $ms) AS band_key FROM sig"
  }.mkString("\n        UNION ALL ")

  // Mirror of minhashCandidatesOf: distinct band-bucket candidate pairs.
  // Object-level (not local to oracleSql) so [[IncrementalDedup]] can build
  // its equivalence oracles over a filtered corpus CTE.
  private[llm] def candCtes(src: String): String = s"""
      ${duckShingleCtes(src)},
      sig AS (
        SELECT doc_id, $sigExprs
        FROM shing),
      bands AS (
        $bandUnion),
      cpairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id)"""

  // Mirror of minhashVerifiedPairsOf: candidates verified by exact
  // Jaccard >= 0.5 over the stop-shingle-capped universe (doc frequency
  // <= greatest(MaxDf, N // MaxDfRatio), the same corpus-relative cap
  // the Spark side computes — the scalar subquery mirrors
  // corpusCountOf, and DuckDB's `//` truncates toward zero on the
  // non-negative count exactly like Spark's DIV).
  private[llm] def verifiedPairCtes(src: String): String =
    verifiedPairCtesFrom(candCtes(src), src)

  /** The ex/dfreq/exc/szs/co/vpairs verification chain over an arbitrary
    * candidate-CTE prefix (must define `shing` and `cpairs`) — lets the
    * cross-corpus entry swap in a bipartite candidate join while keeping
    * verification identical to the one-shot pipeline. */
  private[llm] def verifiedPairCtesFrom(candSql: String, src: String): String = s"""
      $candSql,
      ex AS (SELECT doc_id, unnest(shd) AS sg FROM shing),
      dfreq AS (SELECT sg, count(*) AS f FROM ex GROUP BY sg),
      exc AS (SELECT doc_id, sg FROM ex JOIN dfreq USING (sg)
              WHERE f <= greatest($MaxDf, (SELECT count(*) FROM $src) // $MaxDfRatio)),
      szs AS (SELECT doc_id, count(*) AS n FROM exc GROUP BY doc_id),
      co AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM exc a JOIN exc b ON a.sg = b.sg AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      vpairs AS (
        SELECT c.doc_a, c.doc_b, co.i, sa.n AS na, sb.n AS nb
        FROM cpairs c
        JOIN co ON co.doc_a = c.doc_a AND co.doc_b = c.doc_b
        JOIN szs sa ON sa.doc_id = c.doc_a
        JOIN szs sb ON sb.doc_id = c.doc_b
        WHERE 2 * co.i >= sa.n + sb.n - co.i)"""

  // SimHash bit-j vote = parity of (h·A_j + B_j) mod P (the debiased form
  // — see GraftKernels.simA's scaladoc for why raw bits of a < 2^30 hash
  // degenerate the high band into an all-pairs generator)
  private[llm] val simhashSums = (0 until graft.functions.GraftKernels.SimBits)
    .map(j => s"sum((((h * ${graft.functions.GraftKernels.simA(j)} + " +
      s"${graft.functions.GraftKernels.simB(j)}) % $P) & 1) * 2 - 1) AS s$j")
    .mkString(",\n               ")
  private[llm] val simhashVal = (0 until graft.functions.GraftKernels.SimBits)
    .map(j => s"CASE WHEN s$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
    .mkString(" + ")

  /** Corpus-relative stop-bucket cap for SimHash-family band joins: a
    * band bucket holding more than `greatest(BandCapFloor, floor(sqrt(N)))`
    * docs is non-discriminative geometry (convergent language statistics,
    * template mass) and is dropped from CANDIDATE GENERATION — the
    * [[XHash.MaxDf]] stop-shingle pattern applied to fingerprint buckets.
    *
    * The cap law matters as much as its existence. With band rows summing
    * to `SimBands·N` and every kept bucket at size ≤ cap, candidate pairs
    * are bounded by `Σ bn²/2 ≤ SimBands·N·cap/2` — so a LINEAR cap
    * (`N DIV 100`, the pre-r11 law) only bounds candidates QUADRATICALLY,
    * and the sf1 scale run measured exactly that on the byte-3-gram media
    * kernel: 731M kept pairs at 500k docs (95× growth for 10× docs; char
    * statistics converge to the corpus mean, so mid-size hot buckets
    * dominate and a cap of N/100 never binds on them). `floor(sqrt(N))`
    * makes the worst case O(N^1.5) while still dominating the
    * uniform-geometry average load N/65536 until N ≈ 4.3e9 docs per
    * dedup scope — past that, capping average buckets is the correct
    * behavior anyway (the 16-bit key space is exhausted).
    *
    * Cross-engine determinism: IEEE-754 `sqrt` is correctly rounded and
    * bit-identical in Spark and DuckDB; `floor` yields an integer-valued
    * double, so the engines' differing double→int cast conventions
    * (truncate vs round — the round-7 trap) cannot diverge. Both engines
    * embed the identical arithmetic, so results stay hash-equal; the
    * recall cost (pairs reachable ONLY via stop buckets) is the
    * documented LSH trade, exactly like stop shingles. */
  val BandCapFloor = 50L

  /** Keep only bands in buckets at or under the corpus-relative cap.
    * `nCorpus` is the 1-row [[corpusCountOf]] broadcast. `key` is the
    * row-identity column the bands are keyed by (`doc_id` for the text
    * fingerprint families, `vec_id` for the hyperplane-LSH embedding
    * families — the r12 full-sf1 gate caught the embedding band
    * self-joins WITHOUT this cap at 14.9e9 candidate pairs on a
    * 500k-vector clustered corpus: 10 dense clusters → 51k-vector
    * buckets → Σbn² quadratic; same disease, same cure). */
  private[llm] def capSimBands(bands: DataFrame, nCorpus: DataFrame,
                               key: String = "doc_id"): DataFrame = {
    val bc = bands.groupBy(col("band_idx"), col("band_key")).agg(count(lit(1)).as("bn"))
    bands.join(bc, Seq("band_idx", "band_key"))
      .crossJoin(broadcast(nCorpus))
      .where(expr(s"bn <= greatest(${BandCapFloor}L, CAST(floor(sqrt(CAST(n_corpus AS DOUBLE))) AS BIGINT))"))
      .select(col(key), col("band_idx"), col("band_key"))
  }

  /** The capped-bucket filter as DuckDB CTEs: `bkept` from a `bands` CTE. */
  private[llm] def duckCapBandCtes(src: String, bandsCte: String = "bands",
                                   key: String = "doc_id"): String = s"""
      bc AS (
        SELECT band_idx, band_key, count(*) AS bn FROM $bandsCte GROUP BY 1, 2),
      bkept AS (
        SELECT b.$key, b.band_idx, b.band_key
        FROM $bandsCte b JOIN bc USING (band_idx, band_key)
        WHERE bc.bn <= greatest($BandCapFloor, CAST(floor(sqrt((SELECT count(*) FROM $src))) AS BIGINT)))"""

  /** DuckDB mirror of the winnowing fingerprint chain ([[winnowCappedFps]]):
    * CTEs ending in `wfpc (doc_id, fh)` — the capped fingerprint universe.
    * `w`-prefixed names so the family-recall oracle can splice it next to
    * the shingle/simhash chains without collisions. */
  private def duckWinnowCtes(src: String): String = s"""
      wt3 AS (
        SELECT doc_id, ${duckShingles("wh")} AS sgs
        FROM (SELECT doc_id, ${duckWordHashes("text")} AS wh FROM $src)
        WHERE len(wh) >= 3),
      wposx AS (
        SELECT doc_id, unnest(sgs) AS h,
               unnest(range(0, len(sgs))) AS pos
        FROM wt3),
      wwm AS (
        SELECT doc_id, pos,
               min(h * 1048576 + (1048575 - pos)) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
        FROM wposx),
      wfp0 AS (
        SELECT DISTINCT doc_id, wmin // 1048576 AS fh
        FROM wwm WHERE pos >= 3),
      wdff AS (SELECT fh, count(*) AS f FROM wfp0 GROUP BY fh),
      wfpc AS (
        SELECT doc_id, fh
        FROM wfp0 JOIN wdff USING (fh)
        WHERE f <= greatest($MaxDf, (SELECT count(*) FROM $src) // $MaxDfRatio))"""

  /** DuckDB mirror of q_llm_winnow_dedup, source-parameterized so the
    * incremental/forget variants can run it over a kept CTE: positional
    * shingles via parallel unnest, the same enc = h*2^20 + (2^20-1-pos)
    * windowed min, full windows only, capped fingerprint pair join. */
  private[llm] def duckWinnowPairsSql(src: String = "documents"): String = s"""
      WITH ${duckWinnowCtes(src)},
      szs AS (SELECT doc_id, count(*) AS n FROM wfpc GROUP BY doc_id),
      co AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        FROM wfpc a JOIN wfpc b ON a.fh = b.fh AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, shared, sa.n AS na, sb.n AS nb,
             CAST(shared AS DOUBLE) / least(sa.n, sb.n) AS overlap
      FROM co
      JOIN szs sa ON sa.doc_id = doc_a
      JOIN szs sb ON sb.doc_id = doc_b
      WHERE shared >= 2 AND 10 * shared >= 5 * least(sa.n, sb.n)
      ORDER BY doc_a, doc_b"""

  /** DuckDB mirror of q_llm_dedup_simhash_pairs, source-parameterized so
    * the incremental/forget variants run it over a kept CTE. Candidates
    * come only from capped buckets (see [[BandCapFloor]]). */
  private[llm] def duckSimhashPairsSql(src: String = "documents"): String = s"""
      WITH toks AS (
        SELECT doc_id, ${duckWordHashes("text")} AS wh FROM $src),
      ex AS (SELECT doc_id, unnest(wh) AS h FROM toks),
      bitsums AS (
        SELECT doc_id,
               $simhashSums
        FROM ex GROUP BY doc_id),
      fp AS (SELECT doc_id, $simhashVal AS simhash FROM bitsums),
      bands AS (
        ${(0 until 4).map(bd =>
          s"SELECT doc_id, $bd AS band_idx, (simhash >> ${bd * graft.functions.GraftKernels.SimBandBits}) & ${graft.functions.GraftKernels.SimBandMask} AS band_key FROM fp")
          .mkString("\n        UNION ALL ")}),
      ${duckCapBandCtes(src)},
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bkept a JOIN bkept b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id)
      SELECT doc_a, doc_b,
             CAST(bit_count(xor(fa.simhash, fb.simhash)) AS INT) AS hamming
      FROM cand
      JOIN fp fa ON fa.doc_id = doc_a
      JOIN fp fb ON fb.doc_id = doc_b
      WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 3
      ORDER BY doc_a, doc_b"""

  def oracleSql: Map[String, String] = {
    val m = oracleSqlBase
    // the Store-checkpointed variant computes the identical result —
    // strategy is availability/cost, never semantics
    m + ("q_llm_dedup_groups_store" -> m("q_llm_dedup_groups")) +
      ("q_llm_dedup_family_recall" -> familyRecallSql) +
      ("q_llm_minhash_estimate" -> minhashEstimateSql) +
      ("q_llm_minhash_bbit" -> minhashBbitSql)
  }

  /** Shared base of the estimator-calibration entries: every banded
    * candidate pair with exact intersection/union sizes over the capped
    * shingle universe (NO ≥ 0.5 threshold — truth on every candidate)
    * and the K-component agreement counts at full width, b = 2, and
    * b = 1. Pairs sharing no capped shingle stay in-band (i = 0). */
  private def estimatorPairsOf(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val raw = shingleStreamOf(d).localCheckpoint()
    val dfreq = raw.groupBy(col("sg")).agg(count(lit(1)).as("f"))
    val sigs = sigsFromShingles(raw).localCheckpoint()
    val cand = candidatesFromBands(bandsFromSigs(sigs).localCheckpoint())
      .localCheckpoint()
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val ex = raw.join(cappedDfreq(dfreq, corpusCountOf(d)), "sg")
      .join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("sg")).localCheckpoint()
    val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val co = ex.alias("a").join(ex.alias("b"),
        col("a.sg") === col("b.sg") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    val sa = sigs.select(
      col("doc_id").as("doc_a") +: (0 until K).map(k => col(s"m$k").as(s"a$k")): _*)
    val sb = sigs.select(
      col("doc_id").as("doc_b") +: (0 until K).map(k => col(s"m$k").as(s"b$k")): _*)
    def agreeOf(mask: String): String = (0 until K)
      .map(k => s"IF((a$k$mask) = (b$k$mask), 1L, 0L)").mkString(" + ")
    cand
      .join(co, Seq("doc_a", "doc_b"), "left")
      .join(sizes.selectExpr("doc_id AS doc_a", "n AS na"), Seq("doc_a"), "left")
      .join(sizes.selectExpr("doc_id AS doc_b", "n AS nb"), Seq("doc_b"), "left")
      .join(sa, "doc_a").join(sb, "doc_b")
      .selectExpr("coalesce(i, 0L) AS i",
        "coalesce(na, 0L) + coalesce(nb, 0L) - coalesce(i, 0L) AS u",
        s"CAST(${agreeOf("")} AS BIGINT) AS agree",
        s"CAST(${agreeOf(" & 3")} AS BIGINT) AS agree_b2",
        s"CAST(${agreeOf(" & 1")} AS BIGINT) AS agree_b1")
  }

  // Mirror of q_llm_minhash_estimate: the candidate/verification chain
  // WITHOUT the >= 0.5 vpairs threshold (truth on every banded candidate),
  // K-signature agreement from two sig self-joins, identical integer ppm
  // and band arithmetic.
  /** The estimator entries' shared oracle prefix: candidate pairs with
    * exact i/u and the three agreement counts — mirror of
    * [[estimatorPairsOf]]. Ends with the `base` CTE. */
  private def estimatorBaseCtes: String = {
    def agreeSum(mask: String) = (0 until K)
      .map(k => s"(CASE WHEN (x.m$k$mask) = (y.m$k$mask) THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""${candCtes("documents")},
      ex AS (SELECT doc_id, unnest(shd) AS sg FROM shing),
      dfreq AS (SELECT sg, count(*) AS f FROM ex GROUP BY sg),
      exc AS (SELECT doc_id, sg FROM ex JOIN dfreq USING (sg)
              WHERE f <= greatest($MaxDf,
                (SELECT count(*) FROM documents) // $MaxDfRatio)),
      szs AS (SELECT doc_id, count(*) AS n FROM exc GROUP BY doc_id),
      co AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM exc a JOIN exc b ON a.sg = b.sg AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      base AS (
        SELECT CAST(coalesce(co.i, 0) AS BIGINT) AS i,
               CAST(coalesce(sa.n, 0) + coalesce(sb.n, 0)
                 - coalesce(co.i, 0) AS BIGINT) AS u,
               CAST(${agreeSum("")} AS BIGINT) AS agree,
               CAST(${agreeSum(" & 3")} AS BIGINT) AS agree_b2,
               CAST(${agreeSum(" & 1")} AS BIGINT) AS agree_b1
        FROM cpairs c
        LEFT JOIN co ON co.doc_a = c.doc_a AND co.doc_b = c.doc_b
        LEFT JOIN szs sa ON sa.doc_id = c.doc_a
        LEFT JOIN szs sb ON sb.doc_id = c.doc_b
        JOIN sig x ON x.doc_id = c.doc_a
        JOIN sig y ON y.doc_id = c.doc_b)"""
  }

  // Mirror of q_llm_minhash_bbit: same base, the three estimators'
  // absolute errors vs exact Jaccard, stacked and aggregated.
  private def minhashBbitSql: String = s"""
      WITH $estimatorBaseCtes,
      per AS (
        SELECT CASE WHEN u > 0 THEN i * 1000000 // u
                    ELSE CAST(0 AS BIGINT) END AS true_ppm,
               agree * 1000000 // $K AS est_full,
               (4 * agree_b2 - $K) * 1000000 // (3 * $K) AS est_b2,
               (2 * agree_b1 - $K) * 1000000 // $K AS est_b1
        FROM base),
      stacked AS (
        SELECT 'full' AS estimator, CAST(30 AS INT) AS bits,
               abs(est_full - true_ppm) AS err_ppm FROM per
        UNION ALL
        SELECT 'b2', CAST(2 AS INT), abs(est_b2 - true_ppm) FROM per
        UNION ALL
        SELECT 'b1', CAST(1 AS INT), abs(est_b1 - true_ppm) FROM per)
      SELECT estimator, bits, count(*) AS n_pairs,
             CAST(sum(err_ppm) AS BIGINT) // count(*) AS avg_err_ppm,
             max(err_ppm) AS max_err_ppm
      FROM stacked GROUP BY estimator, bits ORDER BY estimator"""

  private def minhashEstimateSql: String = {
    s"""
      WITH $estimatorBaseCtes,
      ppm AS (
        SELECT agree * 1000000 // $K AS est_ppm,
               CASE WHEN u > 0 THEN i * 1000000 // u
                    ELSE CAST(0 AS BIGINT) END AS true_ppm
        FROM base),
      e2 AS (
        SELECT est_ppm, true_ppm, abs(est_ppm - true_ppm) AS err FROM ppm)
      SELECT least(9, err // 100000) AS err_band, count(*) AS n_pairs,
             CAST(sum(est_ppm) AS BIGINT) // count(*) AS avg_est_ppm,
             CAST(sum(true_ppm) AS BIGINT) // count(*) AS avg_true_ppm
      FROM e2 GROUP BY err_band ORDER BY err_band"""
  }

  // Mirror of q_llm_dedup_family_recall: one verification chain over the
  // UNION candidate set (cpairs), family scoring by left joins from the
  // truth pairs. The simhash CTEs use suffixed names (toksf/exf/...) to
  // avoid colliding with the shingle chain's toks.
  private def familyRecallSql: String = {
    val sbandUnion = (0 until 4).map(bd =>
      s"SELECT doc_id, $bd AS band_idx, (simhash >> ${bd * graft.functions.GraftKernels.SimBandBits}) & ${graft.functions.GraftKernels.SimBandMask} AS band_key FROM sfp")
      .mkString("\n        UNION ALL ")
    val famCand = s"""
      ${duckShingleCtes("documents")},
      sig AS (
        SELECT doc_id, $sigExprs
        FROM shing),
      bands AS (
        $bandUnion),
      mhcand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id),
      toksf AS (
        SELECT doc_id, ${duckWordHashes("text")} AS wh FROM documents),
      exf AS (SELECT doc_id, unnest(wh) AS h FROM toksf),
      bitsumsf AS (
        SELECT doc_id,
               $simhashSums
        FROM exf GROUP BY doc_id),
      sfp AS (SELECT doc_id, $simhashVal AS simhash FROM bitsumsf),
      sbands AS (
        $sbandUnion),
      ${duckCapBandCtes("documents", "sbands")},
      scand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bkept a JOIN bkept b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id),
      ${duckWinnowCtes("documents")},
      wcand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM wfpc a JOIN wfpc b ON a.fh = b.fh AND a.doc_id < b.doc_id),
      cpairs AS (
        SELECT doc_a, doc_b FROM mhcand
        UNION
        SELECT doc_a, doc_b FROM scand
        UNION
        SELECT doc_a, doc_b FROM wcand)"""
    s"""
      WITH ${verifiedPairCtesFrom(famCand, "documents")},
      truthp AS (SELECT doc_a, doc_b FROM vpairs),
      shpairs AS (
        SELECT c.doc_a, c.doc_b
        FROM scand c
        JOIN sfp fa ON fa.doc_id = c.doc_a
        JOIN sfp fb ON fb.doc_id = c.doc_b
        WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 3),
      fam AS (
        SELECT 'minhash' AS family, count(*) AS n_true,
               CAST(sum(CASE WHEN m.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found
        FROM truthp t LEFT JOIN mhcand m
          ON m.doc_a = t.doc_a AND m.doc_b = t.doc_b
        UNION ALL
        SELECT 'simhash' AS family, count(*) AS n_true,
               CAST(sum(CASE WHEN sp.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found
        FROM truthp t LEFT JOIN shpairs sp
          ON sp.doc_a = t.doc_a AND sp.doc_b = t.doc_b
        UNION ALL
        SELECT 'winnow' AS family, count(*) AS n_true,
               CAST(sum(CASE WHEN w.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found
        FROM truthp t LEFT JOIN wcand w
          ON w.doc_a = t.doc_a AND w.doc_b = t.doc_b)
      SELECT family, n_true, n_found,
             CASE WHEN n_true = 0 THEN CAST(0.0 AS DOUBLE)
                  ELSE CAST(n_found AS DOUBLE) / n_true END AS recall
      FROM fam ORDER BY family"""
  }

  private def oracleSqlBase: Map[String, String] = {
    val embBits = (0 until NPlanes)
      .map(p => s"CASE WHEN ${duckPlaneDot("se", p)} > 0 THEN 1 ELSE 0 END AS bit$p")
      .mkString(",\n               ")
    val embBandUnion = (0 until 4).map { bd =>
      val bs = (0 until 8).map(r => s"bit${bd * 8 + r} * ${1L << r}").mkString(" + ")
      s"SELECT vec_id, se, nrm, $bd AS band_idx, CAST($bs AS BIGINT) AS band_key FROM bits"
    }.mkString("\n        UNION ALL ")

    Map(
      "q_llm_dedup_threshold_sweep" -> s"""
      WITH ${verifiedPairCtes("documents")},
      tsw_thr AS (SELECT unnest([50, 60, 70, 80, 90]) AS threshold_pct),
      tsw_surv AS (
        SELECT t.threshold_pct, v.doc_a, v.doc_b
        FROM vpairs v CROSS JOIN tsw_thr t
        WHERE v.i * 100 >= t.threshold_pct * (v.na + v.nb - v.i)),
      tsw_ex AS (
        SELECT threshold_pct, doc_a AS d, doc_a, doc_b FROM tsw_surv
        UNION ALL
        SELECT threshold_pct, doc_b, doc_a, doc_b FROM tsw_surv)
      SELECT threshold_pct,
             count(*) FILTER (WHERE d = doc_a) AS n_pairs,
             count(DISTINCT d) AS n_docs,
             count(DISTINCT d) FILTER (WHERE d = doc_b) AS n_dropped
      FROM tsw_ex GROUP BY threshold_pct ORDER BY threshold_pct""",

      "q_llm_pipeline_e2e" -> s"""
      WITH base AS (
        SELECT * FROM documents
        WHERE lang = 'en' AND len(string_split(text, ' ')) >= 20),
      ed AS (
        SELECT doc_id, text, source, n_chars FROM (
          SELECT *, row_number() OVER (PARTITION BY sha256(lower(trim(text)))
                                       ORDER BY doc_id) AS rn
          FROM base) WHERE rn = 1),
      ${verifiedPairCtes("ed")},
      dropids AS (SELECT DISTINCT doc_b FROM vpairs),
      kept AS (
        SELECT * FROM ed WHERE doc_id NOT IN (SELECT doc_b FROM dropids))
      SELECT source, count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM kept GROUP BY source ORDER BY source""",

      "q_llm_novelty_curve" -> s"""
      WITH ${duckShingleCtes()},
      g AS (
        SELECT DISTINCT doc_id, g FROM (
          SELECT doc_id, unnest(shd) AS g FROM shing)),
      firsts AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY g),
      mx AS (SELECT max(doc_id) AS max_id FROM g),
      agg AS (
        SELECT CAST(least(9, doc_id * 10 // (max_id + 1)) AS INT) AS decile,
               count(DISTINCT doc_id) AS n_docs, count(*) AS n_grams,
               CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_novel
        FROM g JOIN firsts USING (g), mx
        GROUP BY decile)
      SELECT decile, n_docs, n_grams, n_novel,
             n_novel * 1000000 // n_grams AS novelty_ppm
      FROM agg ORDER BY decile""",

      "q_llm_dedup_chunks" -> s"""
      WITH toks AS (
        SELECT doc_id, ${duckWordHashes("text")} AS wh FROM documents),
      chunks AS (
        SELECT doc_id,
               unnest(list_transform(range(0, ((len(wh) - 1) // 10) + 1),
                 c -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                        wh[c * 10 + 1 : c * 10 + 10]),
                      (a, h) -> (a * 131 + h) % $P))) AS ch
        FROM toks WHERE len(wh) >= 1),
      freq AS (SELECT ch, count(*) AS f FROM chunks GROUP BY ch),
      per AS (
        SELECT doc_id, count(*) AS n_chunks,
               CAST(sum(CASE WHEN f >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        FROM chunks JOIN freq USING (ch) GROUP BY doc_id)
      SELECT doc_id, n_chunks, n_dup,
             ${graft.util.Exact.sqlFix("CAST(n_dup AS DOUBLE) / n_chunks", 6)} AS dup_ratio,
             CASE WHEN CAST(n_dup AS DOUBLE) / n_chunks >= 0.5 THEN 'drop' ELSE 'keep' END AS verdict
      FROM per ORDER BY doc_id""",

      "q_llm_dedup_exact" -> """
      SELECT min(doc_id) AS doc_id, count(*) AS n_copies,
             sha256(lower(trim(text))) AS h
      FROM documents GROUP BY h ORDER BY doc_id""",

      "q_llm_dedup_passages" -> s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      ix AS (
        SELECT doc_id, t, unnest(range(0, ((len(t) - 1) // 10) + 1)) AS i FROM t),
      segs AS (
        SELECT doc_id, CAST(i AS INT) AS i,
               array_to_string(t[i * 10 + 1 : i * 10 + 10], ' ') AS seg
        FROM ix),
      h AS (SELECT doc_id, i, seg, ${duckCharHash("seg")} AS h FROM segs),
      f AS (SELECT h, count(*) AS f FROM h GROUP BY h),
      kept AS (SELECT doc_id, i, seg FROM h JOIN f USING (h) WHERE f < 2),
      nseg AS (SELECT doc_id, count(*) AS n_seg FROM h GROUP BY doc_id),
      rebuilt AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
               array_to_string(list(seg ORDER BY i), ' ') AS nt
        FROM kept GROUP BY doc_id)
      SELECT n.doc_id, n.n_seg,
             coalesce(r.n_kept, 0) AS n_kept,
             ${duckCharHash("coalesce(r.nt, '')")} AS new_fp,
             CAST(length(coalesce(r.nt, '')) AS INT) AS n_chars_new
      FROM nseg n LEFT JOIN rebuilt r USING (doc_id) ORDER BY n.doc_id""",

      // mirror of q_llm_dedup_substrings: identical gram hash (char-poly),
      // identical island merge (lag > SubK breaks), identical verdicts
      "q_llm_dedup_substrings" -> s"""
      WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n FROM documents),
      pos AS (
        SELECT doc_id, text, unnest(range(1, n - ${SubK - 2})) AS p
        FROM d WHERE n >= $SubK),
      occ AS (
        SELECT doc_id, p, ${duckCharHash(s"substr(text, CAST(p AS INT), $SubK)")} AS h
        FROM pos),
      rep AS (SELECT h FROM occ GROUP BY h HAVING count(*) > 1),
      dup AS (SELECT doc_id, p FROM occ WHERE h IN (SELECT h FROM rep)),
      brk AS (
        SELECT doc_id, p,
               CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > $SubK
                    THEN 1 ELSE 0 END AS brk
        FROM dup),
      isl AS (
        SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS isl
        FROM brk),
      sp AS (
        SELECT doc_id, isl, max(p) - min(p) + $SubK AS span
        FROM isl GROUP BY doc_id, isl),
      per AS (
        SELECT doc_id, CAST(sum(span) AS BIGINT) AS dup_chars,
               count(*) AS n_spans
        FROM sp GROUP BY doc_id)
      SELECT d.doc_id, d.n AS n_chars,
             coalesce(dup_chars, 0) AS dup_chars,
             coalesce(n_spans, 0) AS n_spans,
             ${graft.util.Exact.sqlFix("coalesce(dup_chars, 0) * 100.0 / d.n", 6)} AS dup_pct,
             CASE WHEN 2 * coalesce(dup_chars, 0) >= d.n THEN 'drop'
                  WHEN 5 * coalesce(dup_chars, 0) >= d.n THEN 'trim'
                  ELSE 'keep' END AS verdict
      FROM d LEFT JOIN per USING (doc_id) ORDER BY d.doc_id""",

      "q_llm_minhash_sig" -> s"""
      WITH ${duckShingleCtes()},
      sig AS (
        SELECT doc_id, CAST(len(shd) AS INT) AS n_shingles,
               $sigExprs
        FROM shing)
      SELECT doc_id, n_shingles,
             concat_ws('-', ${(0 until K).map("m" + _).mkString(", ")}) AS sig
      FROM sig ORDER BY doc_id""",

      "q_llm_dedup_minhash_lsh" -> s"""
      WITH ${verifiedPairCtes("documents")}
      SELECT doc_a, doc_b,
             CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
      FROM vpairs
      ORDER BY doc_a, doc_b""",

      "q_llm_dedup_crosscorpus" -> s"""
      WITH ${verifiedPairCtesFrom(s"""
      ${duckShingleCtes("documents")},
      sig AS (
        SELECT doc_id, $sigExprs
        FROM shing),
      bands AS (
        $bandUnion),
      srcs AS (SELECT doc_id, length(source) = 4 AS in_a FROM documents),
      cpairs AS (
        SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
               greatest(a.doc_id, b.doc_id) AS doc_b
        FROM bands a
        JOIN srcs sa ON sa.doc_id = a.doc_id AND sa.in_a
        JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        JOIN srcs sb ON sb.doc_id = b.doc_id AND NOT sb.in_a)""", "documents")}
      SELECT v.doc_a, v.doc_b, da.source AS src_a, db.source AS src_b,
             CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
      FROM vpairs v
      JOIN documents da ON da.doc_id = v.doc_a
      JOIN documents db ON db.doc_id = v.doc_b
      ORDER BY v.doc_a, v.doc_b""",

      "q_llm_top_similar_pairs" -> s"""
      WITH ${verifiedPairCtes("documents")}
      SELECT doc_a, doc_b,
             CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
      FROM vpairs
      ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20""",

      "q_llm_dedup_source_matrix" -> s"""
      WITH ${verifiedPairCtes("documents")},
      sp AS (
        SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b,
               v.doc_a, v.doc_b
        FROM vpairs v
        JOIN documents da ON da.doc_id = v.doc_a
        JOIN documents db ON db.doc_id = v.doc_b),
      m AS (
        SELECT source_a, source_b, count(*) AS n_pairs
        FROM sp GROUP BY 1, 2),
      dc AS (
        SELECT source_a, source_b, count(DISTINCT d) AS n_docs
        FROM (SELECT source_a, source_b, unnest([doc_a, doc_b]) AS d FROM sp)
        GROUP BY 1, 2)
      SELECT source_a, source_b, n_pairs, n_docs,
             CASE WHEN source_a = source_b THEN 'intra' ELSE 'cross' END AS kind
      FROM m JOIN dc USING (source_a, source_b)
      ORDER BY source_a, source_b""",

      "q_llm_dedup_groups" -> s"""
      WITH RECURSIVE ${verifiedPairCtes("documents")},
      edges AS (
        SELECT doc_a AS a, doc_b AS b FROM vpairs
        UNION SELECT doc_b, doc_a FROM vpairs),
      reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      canon AS (
        SELECT a AS doc_id, least(a, min(b)) AS canonical
        FROM reach GROUP BY a)
      SELECT doc_id, canonical,
             count(*) OVER (PARTITION BY canonical) AS cluster_size
      FROM canon ORDER BY doc_id""",

      // mirror of q_llm_cluster_sizes: same closure canon, singleton arm
      // via anti-semantics NOT IN over matched docs
      "q_llm_cluster_sizes" -> s"""
      WITH RECURSIVE ${verifiedPairCtes("documents")},
      edges AS (
        SELECT doc_a AS a, doc_b AS b FROM vpairs
        UNION SELECT doc_b, doc_a FROM vpairs),
      reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      canon AS (
        SELECT a AS doc_id, least(a, min(b)) AS canonical
        FROM reach GROUP BY a),
      hist AS (
        SELECT cluster_size, count(*) AS n_clusters FROM (
          SELECT canonical, count(*) AS cluster_size
          FROM canon GROUP BY canonical)
        GROUP BY cluster_size),
      singles AS (
        SELECT CAST(1 AS BIGINT) AS cluster_size, count(*) AS n_clusters
        FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM canon c WHERE c.doc_id = d.doc_id)),
      merged AS (
        SELECT cluster_size, CAST(sum(n_clusters) AS BIGINT) AS n_clusters
        FROM (SELECT * FROM hist UNION ALL SELECT * FROM singles)
        GROUP BY cluster_size),
      tot AS (SELECT count(*) AS n_total FROM documents)
      SELECT cluster_size, n_clusters,
             cluster_size * n_clusters AS n_docs,
             cluster_size * n_clusters * 1000000 // n_total AS doc_share_ppm
      FROM merged, tot ORDER BY cluster_size""",

      // mirror of q_llm_dup_inflation: same canon + min-id keep rule,
      // token sums as BIGINT before the ppm divisions
      "q_llm_dup_inflation" -> s"""
      WITH RECURSIVE ${verifiedPairCtes("documents")},
      edges AS (
        SELECT doc_a AS a, doc_b AS b FROM vpairs
        UNION SELECT doc_b, doc_a FROM vpairs),
      reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      canon AS (
        SELECT a AS doc_id, least(a, min(b)) AS canonical
        FROM reach GROUP BY a),
      base AS (
        SELECT d.source,
               CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
               c.canonical IS NULL OR c.canonical = d.doc_id AS kept
        FROM documents d LEFT JOIN canon c ON c.doc_id = d.doc_id),
      agg AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(n_tok) AS BIGINT) AS tok_all,
               CAST(sum(CASE WHEN kept THEN n_tok ELSE 0 END) AS BIGINT)
                 AS tok_kept
        FROM base GROUP BY source)
      SELECT source, n_docs, n_kept, tok_all, tok_kept,
             tok_all * 1000000 // tok_kept AS inflation_ppm,
             (tok_all - tok_kept) * 1000000 // tok_all AS dup_tok_share_ppm
      FROM agg ORDER BY source""",

      // mirror of q_llm_dedup_prefix: identical prompt seeding, prefix
      // slice, char-poly fingerprints, completion-diversity verdicts
      "q_llm_dedup_prefix" -> s"""
      WITH seeded AS (
        SELECT doc_id,
               concat('p', doc_id % 40, ' u', doc_id % 8, ' v', doc_id % 5,
                      ' ', text) AS pt
        FROM documents),
      t AS (SELECT doc_id, string_split(pt, ' ') AS t FROM seeded),
      fp AS (
        SELECT doc_id,
               ${duckCharHash("array_to_string(t[1:3], ' ')")} AS prompt_fp,
               ${duckCharHash("array_to_string(t, ' ')")} AS full_fp
        FROM t),
      g AS (
        SELECT prompt_fp, count(*) AS n_docs,
               count(DISTINCT full_fp) AS n_completions,
               min(doc_id) AS keeper
        FROM fp GROUP BY prompt_fp)
      SELECT prompt_fp, n_docs, n_completions, keeper,
             CASE WHEN n_completions = 1 THEN 'exact_dup'
                  ELSE 'shared_prompt' END AS verdict
      FROM g WHERE n_docs >= 2 ORDER BY keeper""",

      // q_llm_dedup_groups' component CTEs + a corpus-wide left join so
      // singletons carry weight 1e6; integer-ppm division in both engines
      "q_llm_soft_dedup" -> s"""
      WITH RECURSIVE ${verifiedPairCtes("documents")},
      edges AS (
        SELECT doc_a AS a, doc_b AS b FROM vpairs
        UNION SELECT doc_b, doc_a FROM vpairs),
      reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      canon AS (
        SELECT a AS doc_id, least(a, min(b)) AS canonical
        FROM reach GROUP BY a),
      allc AS (
        SELECT d.doc_id, coalesce(c.canonical, d.doc_id) AS canonical
        FROM documents d LEFT JOIN canon c USING (doc_id))
      SELECT doc_id, canonical,
             count(*) OVER (PARTITION BY canonical) AS cluster_size,
             CAST(1000000 AS BIGINT) // count(*) OVER (PARTITION BY canonical)
               AS weight_ppm
      FROM allc ORDER BY doc_id""",

      "q_llm_dedup_keep_best" -> {
        val stops = TextAnalysis.markers.flatMap(_._2).distinct
          .map("'" + _ + "'").mkString("[", ", ", "]")
        s"""
      WITH RECURSIVE ${verifiedPairCtes("documents")},
      edges AS (
        SELECT doc_a AS a, doc_b AS b FROM vpairs
        UNION SELECT doc_b, doc_a FROM vpairs),
      reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      canon AS (
        SELECT a AS doc_id, least(a, min(b)) AS canonical
        FROM reach GROUP BY a),
      base AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      feats AS (
        SELECT doc_id, CAST(len(t) AS INT) AS n_tok,
               CAST(len(list_distinct(t)) AS INT) AS n_uniq,
               CAST(len(list_filter(t, w -> list_contains($stops, w))) AS INT) AS n_stop
        FROM base),
      q AS (
        SELECT doc_id, ${graft.util.Exact.sqlScaled(
          "0.4 * (CAST(n_uniq AS DOUBLE) / n_tok) + " +
            "0.3 * (CAST(n_stop AS DOUBLE) / n_tok) + " +
            "0.3 * least(CAST(n_tok AS DOUBLE) / 100.0, 1.0)", 6)} AS s6
        FROM feats),
      r AS (
        SELECT c.doc_id, c.canonical, q.s6,
               row_number() OVER (PARTITION BY c.canonical
                 ORDER BY q.s6 DESC, c.doc_id) AS rn
        FROM canon c JOIN q ON q.doc_id = c.doc_id)
      SELECT doc_id, canonical,
             CAST(s6 AS DOUBLE) / 1000000.0 AS score,
             rn = 1 AS keep
      FROM r ORDER BY doc_id"""
      },

      "q_llm_dedup_simhash_pairs" -> duckSimhashPairsSql(),

      "q_llm_dedup_simhash" -> s"""
      WITH toks AS (
        SELECT doc_id, ${duckWordHashes("text")} AS wh FROM documents),
      ex AS (SELECT doc_id, unnest(wh) AS h FROM toks),
      bitsums AS (
        SELECT doc_id,
               $simhashSums
        FROM ex GROUP BY doc_id),
      fp AS (SELECT doc_id, $simhashVal AS simhash FROM bitsums)
      SELECT doc_id, simhash, count(*) OVER (PARTITION BY simhash) AS n_same_fp
      FROM fp ORDER BY doc_id""",

      "q_llm_dedup_ngram_jaccard" -> s"""
      WITH sh AS (
        SELECT doc_id, lang, source, list_distinct(${duckShingles("wh")}) AS shd
        FROM (SELECT doc_id, lang, source, ${duckWordHashes("text")} AS wh FROM documents)
        WHERE len(wh) >= 3),
      ex AS (SELECT doc_id, lang, source, unnest(shd) AS sg FROM sh),
      dfreq AS (SELECT sg, count(*) AS f FROM ex GROUP BY sg),
      exc AS (
        SELECT doc_id, lang, source, sg
        FROM ex JOIN dfreq USING (sg)
        WHERE f <= greatest($MaxDf, (SELECT count(*) FROM documents) // $MaxDfRatio)),
      szs AS (SELECT doc_id, count(*) AS n FROM exc GROUP BY doc_id),
      co AS (
        SELECT a.lang AS lang, a.source AS source,
               a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM exc a JOIN exc b
          ON a.lang = b.lang AND a.source = b.source
         AND a.sg = b.sg AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4)
      SELECT lang, source, doc_a, doc_b,
             CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
      FROM co
      JOIN szs sa ON sa.doc_id = doc_a
      JOIN szs sb ON sb.doc_id = doc_b
      WHERE 10 * i >= 3 * (sa.n + sb.n - i)
      ORDER BY doc_a, doc_b""",

      // mirror of q_llm_dedup_containment: same capped shingle universe
      // as the Jaccard mirror, asymmetric thresholds in exact integers
      "q_llm_dedup_containment" -> s"""
      WITH sh AS (
        SELECT doc_id, list_distinct(${duckShingles("wh")}) AS shd
        FROM (SELECT doc_id, ${duckWordHashes("text")} AS wh FROM documents)
        WHERE len(wh) >= 3),
      ex AS (SELECT doc_id, unnest(shd) AS sg FROM sh),
      dfreq AS (SELECT sg, count(*) AS f FROM ex GROUP BY sg),
      exc AS (
        SELECT doc_id, sg
        FROM ex JOIN dfreq USING (sg)
        WHERE f <= greatest($MaxDf, (SELECT count(*) FROM documents) // $MaxDfRatio)),
      szs AS (SELECT doc_id, count(*) AS n FROM exc GROUP BY doc_id),
      co AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM exc a JOIN exc b ON a.sg = b.sg AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, i, sa.n AS na, sb.n AS nb,
             CAST(i AS DOUBLE) / sa.n AS cont_a_in_b,
             CAST(i AS DOUBLE) / sb.n AS cont_b_in_a,
             CASE WHEN 10 * i >= 8 * sa.n AND 10 * i >= 8 * sb.n THEN 'mutual'
                  WHEN 10 * i >= 8 * sa.n THEN 'a_in_b' ELSE 'b_in_a' END AS relation
      FROM co
      JOIN szs sa ON sa.doc_id = doc_a
      JOIN szs sb ON sb.doc_id = doc_b
      WHERE i >= 5 AND (10 * i >= 8 * sa.n OR 10 * i >= 8 * sb.n)
      ORDER BY doc_a, doc_b""",

      "q_llm_winnow_dedup" -> duckWinnowPairsSql(),

      "q_llm_dedup_editdist" -> s"""
      WITH ${candCtes("documents")},
      d AS (SELECT doc_id, left(text, 40) AS head FROM documents)
      SELECT doc_a, doc_b,
             CAST(levenshtein(da.head, db.head) AS INT) AS dist
      FROM cpairs
      JOIN d da ON da.doc_id = doc_a
      JOIN d db ON db.doc_id = doc_b
      WHERE levenshtein(da.head, db.head) <= 10
      ORDER BY doc_a, doc_b""",

      "q_llm_dedup_embed" -> s"""
      WITH e0 AS (
        SELECT vec_id, ${duckScaledEmb("embedding")} AS se FROM embeddings),
      e AS (
        SELECT vec_id, se, sqrt(CAST(${duckPairDot("se", "se")} AS DOUBLE)) AS nrm FROM e0),
      bits AS (
        SELECT vec_id, se, nrm,
               $embBits
        FROM e),
      bands AS (
        $embBandUnion),${duckCapBandCtes("embeddings", "bands", "vec_id")},
      pairs AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM bkept a JOIN bkept b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.vec_id < b.vec_id),
      scored AS (
        SELECT vec_a, vec_b,
               CAST(${duckPairDot("sa", "sb")} AS DOUBLE) / (na * nb) AS cos_raw
        FROM pairs
        JOIN (SELECT vec_id AS vec_a, se AS sa, nrm AS na FROM e) USING (vec_a)
        JOIN (SELECT vec_id AS vec_b, se AS sb, nrm AS nb FROM e) USING (vec_b))
      SELECT vec_a, vec_b, ${graft.util.Exact.sqlFix("cos_raw", 6)} AS cos
      FROM scored WHERE cos_raw >= 0.25
      ORDER BY vec_a, vec_b""")
  }
}
