package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.llm.XHash._
import graft.util.Exact

/** Safety/compliance curation operators (north-star suite): the two
  * passes every real training-data pipeline runs between dedup and
  * training that the dedup suite itself doesn't cover —
  *
  *  - benchmark DECONTAMINATION: flag training documents whose n-gram
  *    content overlaps a held-out evaluation slice (a contaminated doc
  *    inflates eval scores without improving the model);
  *  - PII REDACTION: strip emails / phone numbers / IPv4 addresses
  *    before text reaches a training shard.
  *
  * Both are built from cross-engine-exact primitives: the shared shingle
  * machinery ([[XHash]]) for decontamination, and pure `regexp_replace` /
  * `regexp_extract_all` built-ins (codegen'd, no UDFs) for redaction, so
  * the DuckDB oracle matches bit-for-bit.
  *
  * Reference anchor: the reference pipeline normalizes and filters every
  * record before upsert (`git_etl.ts:160-190` field mapping); these ops
  * are that per-record hygiene stage generalized to corpus curation.
  */
object Safety {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Eval-slice selector: every 97th doc id. Deterministic (no RNG — the
    * same property q_llm_split_assign documents) and engine-portable. */
  val EvalMod = 97L

  /** Verdict threshold: contaminated when >= 1/4 of a doc's distinct
    * shingles appear in the eval set. Compared in integer arithmetic
    * (4*hits >= n) — no float threshold to diverge on. */
  val ContamFrac = 4L

  /** Memorization-audit gram width (words): verbatim overlap is measured
    * in contiguous word-5-gram runs. 5 is wide enough that a single match
    * is already a non-trivial phrase, narrow enough that a long verbatim
    * span yields many overlapping matched positions for the island merge
    * to fuse into one run. */
  val MemW = 5

  /** Positional word-`MemW`-gram hash over a word-hash array column —
    * same polynomial fold as the shingle hash ([[XHash.sparkShingles]])
    * widened to 5 words, evaluated at one explicit position `p` so both
    * engines hash identical windows. */
  def memGramSpark(wh: String, p: String): String =
    s"((((element_at($wh, $p) * 131 + element_at($wh, $p + 1)) % $P * 131 " +
      s"+ element_at($wh, $p + 2)) % $P * 131 " +
      s"+ element_at($wh, $p + 3)) % $P * 131 " +
      s"+ element_at($wh, $p + 4)) % $P"
  def memGramDuck(wh: String, p: String): String =
    s"(((($wh[$p] * 131 + $wh[$p + 1]) % $P * 131 " +
      s"+ $wh[$p + 2]) % $P * 131 " +
      s"+ $wh[$p + 3]) % $P * 131 " +
      s"+ $wh[$p + 4]) % $P"

  /** Benchmark suites for the multi-suite decontamination matrix:
    * (name, doc_id modulus) — three deterministic held-out slices
    * standing in for three eval benchmarks. Slices may overlap (a real
    * doc can appear in two benchmarks); training docs are everything in
    * NO suite. */
  val Suites: Seq[(String, Long)] =
    Seq(("suite_a", 97L), ("suite_b", 89L), ("suite_c", 83L))

  // --- PII patterns ------------------------------------------------------
  // One pattern string per PII class, valid VERBATIM in both engines'
  // regex dialects (Java util.regex and DuckDB's RE2) AND in both SQL
  // string parsers: `[.]` is used for literal dots because Spark's SQL
  // parser eats lone backslashes in string literals while DuckDB's does
  // not — a `\.` pattern would silently become "any char" on the Spark
  // side only. No backslash appears in any pattern for this reason.
  val EmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
  val PhonePat = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val Ipv4Pat = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"

  /** Deterministic PII injection: the synthetic corpus contains no PII
    * (verified: zero rows match `[0-9@]`), so the registered entry seeds
    * a derived `dirty` column from doc_id arithmetic — identical SQL text
    * in both engines — and redacts THAT. This keeps the regex pipeline
    * oracle-checked with non-zero counts instead of trivially passing on
    * an all-clean corpus; redaction of genuinely dirty text is additionally
    * spec-tested on handcrafted fixtures (LlmSpec). */
  def dirtyExpr(text: String): String = s"""concat($text,
      CASE WHEN doc_id % 3 = 0 THEN concat(' reach me at user', CAST(doc_id AS STRING), '@example.com') ELSE '' END,
      CASE WHEN doc_id % 4 = 0 THEN concat(' call 415-555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0')) ELSE '' END,
      CASE WHEN doc_id % 5 = 0 THEN concat(' from 10.0.', CAST(doc_id % 256 AS STRING), '.', CAST(doc_id % 100 AS STRING)) ELSE '' END)"""

  /** Redaction chain over a text expression — email first (its pattern
    * can contain dotted digit runs an IPv4 scan would claim), then phone,
    * then IP. Spark's regexp_replace is replace-all by default; the
    * oracle passes RE2's 'g' flag for the same semantics. */
  def cleanExprSpark(dirty: String): String =
    s"regexp_replace(regexp_replace(regexp_replace($dirty, '$EmailPat', '<EMAIL>'), '$PhonePat', '<PHONE>'), '$Ipv4Pat', '<IP>')"
  def cleanExprDuck(dirty: String): String =
    s"regexp_replace(regexp_replace(regexp_replace($dirty, '$EmailPat', '<EMAIL>', 'g'), '$PhonePat', '<PHONE>', 'g'), '$Ipv4Pat', '<IP>', 'g')"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Benchmark decontamination: per-doc overlap of distinct word-3-gram
    // shingle hashes against the eval slice's shingle universe. Scale
    // shape: ONE shingle-generation scan (the compiled graft_shingles
    // UDTF) feeds both sides via a cheap doc_id % filter; the eval
    // shingle set is a distinct-agg of a ~1% slice; the overlap is a
    // LEFT join on the shingle hash + one hash agg — no per-pair work,
    // no arrays crossing joins, and no broadcast hint (the eval universe
    // is small relative to the corpus but still O(corpus/100) — AQE
    // broadcasts it while it fits and degrades to shuffle when it
    // doesn't, the same deliberate non-hint as the dedup sizes table).
    "q_llm_decontaminate" -> { (s, dir) =>
      val sg = Dedup.shingleStreamOf(docs(s, dir).select(col("doc_id"), col("text")))
        .localCheckpoint() // one UDTF scan feeds eval set AND train side
      val evalSet = sg.where(col("doc_id") % EvalMod === 0)
        .select(col("sg")).distinct().withColumn("hit", lit(1L))
      val train = sg.where(col("doc_id") % EvalMod =!= 0)
      train.join(evalSet, Seq("sg"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_ngrams"),
          coalesce(sum(col("hit")), lit(0L)).as("n_contaminated"))
        .select(col("doc_id"), col("n_ngrams"), col("n_contaminated"),
          Exact.fix(col("n_contaminated").cast("double") / col("n_ngrams"), 6).as("ratio"),
          expr(s"CASE WHEN $ContamFrac * n_contaminated >= n_ngrams THEN 'contaminated' " +
            "WHEN n_contaminated > 0 THEN 'flagged' ELSE 'clean' END").as("verdict"))
        .orderBy(col("doc_id"))
    },

    // Decontamination AT INGEST: the eval suite's distinct shingle set is
    // STATIC state (benchmarks change rarely; at 100 TB it is a broadcast-
    // sized or bucket-stored table built once), and newly crawled docs
    // stream through a per-batch overlap gate — the screen a production
    // ingest runs so contaminated documents never reach the training
    // corpus instead of being hunted down later. Two real micro-batches
    // (maxFilesPerTrigger=1); per batch: the batch's distinct shingles
    // left-join the eval set (keyed equi-join — the batch side is small,
    // the eval side never rescans raw eval text), per-doc hit counts,
    // the q_llm_decontaminate verdict boundary (ContamFrac cross-
    // multiply), docs too short to shingle stay in-band as clean/0 rows.
    // batchId-keyed output paths ⇒ replay-idempotent. Oracle = the same
    // overlap SQL one-shot over all streamed docs: batch boundaries
    // provably cannot change any verdict.
    "stream_llm_decontam_gate" -> { (s, dir) =>
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val evalSet = Dedup.shingleStreamOf(d.where(col("doc_id") % EvalMod === 0))
        .select(col("sg")).distinct().withColumn("hit", lit(1L))
        .localCheckpoint()
      val base = s"${graft.sinks.Sinks.tmpBase}/stream_decontam_gate"
      graft.sinks.Sinks.truncate(base)
      val newDocs = d.where(col("doc_id") % EvalMod =!= 0)
      (0 to 1).foreach { t =>
        val tmp = s"$base/src_stage_$t"
        newDocs.where(expr(s"doc_id % 2 = $t")).coalesce(1).write.parquet(tmp)
        val part = graft.util.Fs.listFiles(tmp, ".parquet").head
        graft.util.Fs.mkdirs(s"$base/src")
        val dest = s"$base/src/t$t.parquet"
        graft.util.Fs.move(part, dest)
        graft.sinks.Sinks.deleteRec(tmp)
        graft.util.Fs.setMtime(dest, 1700000000000L + t * 60000L)
      }
      val stream = s.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType))))
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = stream.writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (rawBatch: DataFrame, bid: Long) =>
          val batch = Tables.spread(rawBatch)
          val bSg = Dedup.shingleStreamOf(batch)
            .select(col("doc_id"), col("sg")).distinct()
          val per = bSg.join(evalSet, Seq("sg"), "left")
            .groupBy(col("doc_id"))
            .agg(count(lit(1)).as("n_ngrams"),
              coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
          batch.select(col("doc_id")).join(per, Seq("doc_id"), "left")
            .selectExpr("doc_id",
              "coalesce(n_ngrams, 0L) AS n_ngrams",
              "coalesce(n_hit, 0L) AS n_hit")
            .selectExpr("doc_id", "n_ngrams", "n_hit",
              "CASE WHEN n_ngrams = 0 THEN 0L " +
                "ELSE n_hit * 1000000 DIV n_ngrams END AS overlap_ppm",
              s"CASE WHEN n_ngrams > 0 AND $ContamFrac * n_hit >= n_ngrams " +
                "THEN 'contaminated' WHEN n_hit > 0 THEN 'flagged' " +
                "ELSE 'clean' END AS verdict")
            .write.mode("overwrite").parquet(s"$base/out/batch_$bid")
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.option("recursiveFileLookup", "true").parquet(s"$base/out")
        .orderBy(col("doc_id"))
    },

    // Multi-suite decontamination matrix: a real pipeline screens
    // against MANY benchmarks at once, and the report that matters is
    // per-suite — how many training docs touch each benchmark, how many
    // cross the contamination threshold, and the worst per-doc overlap
    // ratio — so eval owners can veto a corpus release suite by suite.
    // ONE shingle scan feeds all suites: the eval side is a union of
    // per-suite distinct shingle sets (tagged rows, not N pipelines),
    // the train side is every doc in NO suite, and the overlap is one
    // equi-join + two tiny aggs. Suites with zero hits still report
    // (left join + coalesce). Same exact-integer discipline as
    // q_llm_decontaminate; worst_ratio is a max over per-doc
    // 6-decimal scaled longs, so the max is exact.
    "q_llm_decontaminate_multi" -> { (s, dir) =>
      val sg = Dedup.shingleStreamOf(docs(s, dir).select(col("doc_id"), col("text")))
        .localCheckpoint() // one UDTF scan feeds every suite AND the train side
      val evals = Suites.map { case (nm, m) =>
        sg.where(col("doc_id") % m === 0)
          .select(lit(nm).as("suite"), col("sg")).distinct()
      }.reduce(_ unionByName _)
      val inAnySuite = Suites.map { case (_, m) => s"doc_id % $m = 0" }.mkString(" OR ")
      val train = sg.where(expr(s"NOT ($inAnySuite)"))
      val docTotals = train.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val perDocSuite = train.join(evals, Seq("sg"))
        .groupBy(col("doc_id"), col("suite"))
        .agg(count(lit(1)).as("hits"))
        .join(docTotals, "doc_id")
        .withColumn("r6", Exact.scaled(col("hits").cast("double") / col("n"), 6))
      val agg = perDocSuite.groupBy(col("suite"))
        .agg(count(lit(1)).as("n_docs_hit"),
          sum(expr(s"IF($ContamFrac * hits >= n, 1, 0)")).as("n_contaminated"),
          max(col("r6")).as("w6"))
      evals.groupBy(col("suite")).agg(count(lit(1)).as("n_eval_shingles"))
        .join(agg, Seq("suite"), "left")
        .select(col("suite"), col("n_eval_shingles"),
          coalesce(col("n_docs_hit"), lit(0L)).as("n_docs_hit"),
          coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
          (coalesce(col("w6"), lit(0L)).cast("double") / lit(1000000.0)).as("worst_ratio"))
        .orderBy(col("suite"))
    },

    // Semantic (embedding-space) decontamination: the n-gram pass above
    // misses paraphrased eval leakage; this one flags training vectors
    // whose embedding is close to ANY held-out eval vector. Bipartite
    // hyperplane-LSH (the q_llm_dedup_embed geometry, crosscorpus join
    // shape): both sides band once, candidates come only from shared
    // (band, key) buckets — never |train| × |eval| — then exact
    // scaled-long cosine scores the survivors and every training vector
    // reports its worst-case eval similarity. Verdicts are LSH-gated by
    // construction (documented recall tradeoff); the oracle mirrors the
    // identical pipeline, so both engines see the same candidates.
    "q_llm_decontaminate_embed" -> { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val se = Tables.load(s, dir, "embeddings")
        .selectExpr("vec_id", s"${sparkScaledEmb("embedding")} AS se")
        .selectExpr("vec_id", "se",
          "sqrt(CAST(graft_dot(se, se) AS DOUBLE)) AS nrm")
        .localCheckpoint() // feeds bands + both score-side re-attaches
      val bandKey = (bd: Int) => (0 until 8)
        .map(r => s"IF(element_at(dots, ${bd * 8 + r + 1}) > 0L, ${1L << r}L, 0L)")
        .mkString(" + ")
      val bandStructs = (0 until 4)
        .map(bd => s"named_struct('band_idx', $bd, 'band_key', ${bandKey(bd)})")
        .mkString(", ")
      val bands = se.selectExpr("vec_id", "graft_planedots(se) AS dots")
        .selectExpr("vec_id", s"explode(array($bandStructs)) AS band")
        .selectExpr("vec_id", "band.band_idx AS band_idx", "band.band_key AS band_key")
      // stop-bucket cap before the bipartite join (Dedup.capSimBands,
      // vec-keyed, counted over the FULL corpus): a dense semantic
      // cluster puts ~all its train vectors AND its eval vectors in one
      // (band, key) bucket, so the train×eval product inside it is
      // quadratic in cluster size (the r12 sf1 gate measured the
      // self-join twin at 14.9e9 candidates on a clustered 500k corpus).
      // A >√N bucket is non-discriminative geometry; its members get no
      // LSH-gated verdict — the same documented recall trade as stop
      // shingles, mirrored exactly in the oracle.
      val kept = Dedup.capSimBands(bands, Dedup.corpusCountOf(se), key = "vec_id")
      val cand = kept.where(col("vec_id") % EvalMod =!= 0).alias("a")
        .join(kept.where(col("vec_id") % EvalMod === 0).alias("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_key") === col("b.band_key"))
        .select(col("a.vec_id").as("vec"), col("b.vec_id").as("ev"))
        .distinct()
      val scored = cand
        .join(se.select(col("vec_id").as("vec"), col("se").as("sa"), col("nrm").as("na")), "vec")
        .join(se.select(col("vec_id").as("ev"), col("se").as("sb"), col("nrm").as("nb")), "ev")
        .selectExpr("vec", "CAST(graft_dot(sa, sb) AS DOUBLE) / (na * nb) AS cos_raw")
        .groupBy(col("vec"))
        .agg(count(lit(1)).as("n_cand"), max(col("cos_raw")).as("max_raw"))
      se.where(col("vec_id") % EvalMod =!= 0).select(col("vec_id"))
        .join(scored, col("vec_id") === col("vec"), "left")
        .select(col("vec_id"),
          coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          Exact.fix(col("max_raw"), 6).as("max_cos"),
          expr("CASE WHEN max_raw >= 0.4 THEN 'contaminated' " +
            "WHEN n_cand IS NOT NULL THEN 'reviewed' ELSE 'clean' END").as("verdict"))
        .orderBy(col("vec_id"))
    },

    // Memorization / extraction-risk audit: decontamination counts WHAT
    // fraction of a doc's n-grams overlap the eval slice; extraction risk
    // is measured differently — by the LONGEST CONTIGUOUS verbatim token
    // run a probe document shares with the training corpus (published
    // extraction audits report "k verbatim tokens", not overlap ratios).
    // Probe slice = the EvalMod docs, standing in for sampled model
    // generations; train = everything else. Positional word-5-grams are
    // matched against the train gram set (left-semi on the gram hash —
    // the train side is a distinct-agg, never a pairwise join), matched
    // positions fuse into maximal runs with the gaps-and-islands window
    // (adjacent matched positions => one run; run of R positions = R+4
    // verbatim tokens), and each probe doc reports its longest run +
    // verdict at published-audit-style thresholds (>= 30 verbatim tokens
    // = extractable, >= 10 = partial). Scale shape: one positional
    // explode linear in probe+train tokens, one distinct-agg, one
    // left-semi join keyed by gram hash, one per-doc window — the
    // q_llm_dedup_substrings cost class, cross-set instead of
    // corpus-wide, and the probe side is ~1% of the corpus so the
    // windowed stage is tiny.
    "q_llm_memorization" -> { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("p"))
      val wh = docs(s, dir)
        .selectExpr("doc_id", s"${sparkWordHashes("text")} AS wh")
        .where(expr(s"size(wh) >= $MemW"))
        .localCheckpoint() // wh evaluated once; no projection re-inline into the 5 element_at refs
      val grams = wh
        .selectExpr("doc_id", "wh",
          s"explode(sequence(1, size(wh) - ${MemW - 1})) AS p")
        .selectExpr("doc_id", "p", s"${memGramSpark("wh", "p")} AS g")
        .localCheckpoint() // one gram scan feeds the train set AND the probe side
      val trainSet = grams.where(col("doc_id") % EvalMod =!= 0).select(col("g")).distinct()
      val probe = grams.where(col("doc_id") % EvalMod === 0)
      val runs = probe.join(trainSet, Seq("g"), "left_semi")
        .withColumn("brk",
          when(col("p") - lag(col("p"), 1).over(w) > 1, 1).otherwise(0))
        .withColumn("isl", sum(col("brk")).over(w))
        .groupBy(col("doc_id"), col("isl"))
        .agg(count(lit(1)).as("npos"),
          (max(col("p")) - min(col("p")) + lit(MemW)).as("span"))
        .groupBy(col("doc_id"))
        .agg(sum(col("npos")).as("n_matched"),
          count(lit(1)).as("n_spans"),
          max(col("span")).cast("long").as("longest_span"))
      probe.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
        .join(runs, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_matched"), lit(0L)).as("n_matched"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("longest_span"), lit(0L)).as("longest_span"),
          expr("CASE WHEN coalesce(longest_span, 0) >= 30 THEN 'extractable' " +
            "WHEN coalesce(longest_span, 0) >= 10 THEN 'partial' " +
            "WHEN coalesce(n_matched, 0) > 0 THEN 'incidental' " +
            "ELSE 'none' END").as("verdict"))
        .orderBy(col("doc_id"))
    },

    // PII redaction: seed deterministic PII, redact with the three-stage
    // regexp_replace chain, report per-source counts + exact chars
    // removed. Pure codegen built-ins over one scan + one hash agg — the
    // cheapest possible shape at 100 TB (same class as token_stats).
    "q_llm_pii_redact" -> { (s, dir) =>
      docs(s, dir)
        .selectExpr("source", "doc_id", s"${dirtyExpr("text")} AS dirty")
        .selectExpr("source",
          s"size(regexp_extract_all(dirty, '$EmailPat', 0)) AS n_email",
          s"size(regexp_extract_all(dirty, '$PhonePat', 0)) AS n_phone",
          s"size(regexp_extract_all(dirty, '$Ipv4Pat', 0)) AS n_ip",
          s"length(dirty) - length(${cleanExprSpark("dirty")}) AS delta")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_email")).as("emails_redacted"),
          sum(col("n_phone")).as("phones_redacted"),
          sum(col("n_ip")).as("ips_redacted"),
          sum(col("delta")).as("chars_removed"))
        .orderBy(col("source"))
    })

  def oracleSql: Map[String, String] = Map(
    // one-shot mirror of the streaming gate: per-doc DISTINCT shingles
    // (both sides declare the distinct explicitly), eval set from the
    // % EvalMod slice, left-join overlap, shingle-less docs clean/0
    "stream_llm_decontam_gate" -> s"""
      WITH toks AS (
        SELECT doc_id, ${duckWordHashes("text")} AS wh FROM documents),
      shing AS (
        SELECT doc_id, list_distinct(${duckShingles("wh")}) AS shd
        FROM toks WHERE len(wh) >= 3),
      ex AS (SELECT DISTINCT doc_id, unnest(shd) AS sg FROM shing),
      ev AS (SELECT DISTINCT sg FROM ex WHERE doc_id % $EvalMod = 0),
      tr AS (SELECT doc_id, sg FROM ex WHERE doc_id % $EvalMod <> 0),
      sc AS (
        SELECT t.doc_id, count(*) AS n_ngrams, count(e.sg) AS n_hit
        FROM tr t LEFT JOIN ev e ON t.sg = e.sg
        GROUP BY t.doc_id),
      final AS (
        SELECT d.doc_id,
               CAST(coalesce(s.n_ngrams, 0) AS BIGINT) AS n_ngrams,
               CAST(coalesce(s.n_hit, 0) AS BIGINT) AS n_hit
        FROM (SELECT doc_id FROM documents WHERE doc_id % $EvalMod <> 0) d
        LEFT JOIN sc s ON s.doc_id = d.doc_id)
      SELECT doc_id, n_ngrams, n_hit,
             CASE WHEN n_ngrams = 0 THEN CAST(0 AS BIGINT)
                  ELSE n_hit * 1000000 // n_ngrams END AS overlap_ppm,
             CASE WHEN n_ngrams > 0 AND $ContamFrac * n_hit >= n_ngrams
                  THEN 'contaminated'
                  WHEN n_hit > 0 THEN 'flagged' ELSE 'clean' END AS verdict
      FROM final ORDER BY doc_id""",

    "q_llm_decontaminate" -> s"""
      WITH toks AS (
        SELECT doc_id, ${duckWordHashes("text")} AS wh FROM documents),
      shing AS (
        SELECT doc_id, list_distinct(${duckShingles("wh")}) AS shd
        FROM toks WHERE len(wh) >= 3),
      ex AS (SELECT doc_id, unnest(shd) AS sg FROM shing),
      ev AS (SELECT DISTINCT sg FROM ex WHERE doc_id % $EvalMod = 0),
      tr AS (SELECT doc_id, sg FROM ex WHERE doc_id % $EvalMod <> 0),
      sc AS (
        SELECT t.doc_id, count(*) AS n_ngrams, count(e.sg) AS n_contaminated
        FROM tr t LEFT JOIN ev e ON t.sg = e.sg
        GROUP BY t.doc_id)
      SELECT doc_id, n_ngrams, n_contaminated,
             ${Exact.sqlFix("CAST(n_contaminated AS DOUBLE) / n_ngrams", 6)} AS ratio,
             CASE WHEN $ContamFrac * n_contaminated >= n_ngrams THEN 'contaminated'
                  WHEN n_contaminated > 0 THEN 'flagged' ELSE 'clean' END AS verdict
      FROM sc ORDER BY doc_id""",

    "q_llm_decontaminate_multi" -> {
      val evBranches = Suites.map { case (nm, m) =>
        s"SELECT DISTINCT '$nm' AS suite, sg FROM ex WHERE doc_id % $m = 0"
      }.mkString("\n        UNION ALL ")
      val inAnySuite = Suites.map { case (_, m) => s"doc_id % $m = 0" }.mkString(" OR ")
      s"""
      WITH toks AS (
        SELECT doc_id, ${duckWordHashes("text")} AS wh FROM documents),
      shing AS (
        SELECT doc_id, list_distinct(${duckShingles("wh")}) AS shd
        FROM toks WHERE len(wh) >= 3),
      ex AS (SELECT doc_id, unnest(shd) AS sg FROM shing),
      ev AS (
        $evBranches),
      tr AS (SELECT doc_id, sg FROM ex WHERE NOT ($inAnySuite)),
      tot AS (SELECT doc_id, count(*) AS n FROM tr GROUP BY 1),
      pds AS (
        SELECT t.doc_id, e.suite, count(*) AS hits
        FROM tr t JOIN ev e ON t.sg = e.sg
        GROUP BY 1, 2),
      x AS (
        SELECT p.suite, p.hits, t.n,
               ${Exact.sqlScaled("CAST(p.hits AS DOUBLE) / t.n", 6)} AS r6
        FROM pds p JOIN tot t USING (doc_id)),
      agg AS (
        SELECT suite, count(*) AS n_docs_hit,
               CAST(sum(CASE WHEN $ContamFrac * hits >= n THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
               max(r6) AS w6
        FROM x GROUP BY suite),
      sized AS (SELECT suite, count(*) AS n_eval_shingles FROM ev GROUP BY suite)
      SELECT s.suite, s.n_eval_shingles,
             COALESCE(a.n_docs_hit, 0) AS n_docs_hit,
             COALESCE(a.n_contaminated, 0) AS n_contaminated,
             COALESCE(a.w6, 0) / 1000000.0 AS worst_ratio
      FROM sized s LEFT JOIN agg a USING (suite)
      ORDER BY s.suite"""
    },

    "q_llm_decontaminate_embed" -> {
      val embBits = (0 until NPlanes)
        .map(p => s"CASE WHEN ${duckPlaneDot("se", p)} > 0 THEN 1 ELSE 0 END AS bit$p")
        .mkString(",\n               ")
      val bandUnion = (0 until 4).map { bd =>
        val bs = (0 until 8).map(r => s"bit${bd * 8 + r} * ${1L << r}").mkString(" + ")
        s"SELECT vec_id, $bd AS band_idx, CAST($bs AS BIGINT) AS band_key FROM bits"
      }.mkString("\n        UNION ALL ")
      s"""
      WITH e0 AS (
        SELECT vec_id, ${duckScaledEmb("embedding")} AS se FROM embeddings),
      e AS (
        SELECT vec_id, se, sqrt(CAST(${duckPairDot("se", "se")} AS DOUBLE)) AS nrm FROM e0),
      bits AS (
        SELECT vec_id, se, nrm,
               $embBits
        FROM e),
      bands AS (
        $bandUnion),${Dedup.duckCapBandCtes("embeddings", "bands", "vec_id")},
      cand AS (
        SELECT DISTINCT a.vec_id AS vec, b.vec_id AS ev
        FROM bkept a JOIN bkept b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
        WHERE a.vec_id % $EvalMod <> 0 AND b.vec_id % $EvalMod = 0),
      scored AS (
        SELECT vec, count(*) AS n_cand,
               max(CAST(${duckPairDot("sa", "sb")} AS DOUBLE) / (na * nb)) AS max_raw
        FROM cand
        JOIN (SELECT vec_id AS vec, se AS sa, nrm AS na FROM e) ta USING (vec)
        JOIN (SELECT vec_id AS ev, se AS sb, nrm AS nb FROM e) tb USING (ev)
        GROUP BY vec)
      SELECT t.vec_id, CAST(coalesce(n_cand, 0) AS BIGINT) AS n_cand,
             ${Exact.sqlFix("max_raw", 6)} AS max_cos,
             CASE WHEN max_raw >= 0.4 THEN 'contaminated'
                  WHEN n_cand IS NOT NULL THEN 'reviewed' ELSE 'clean' END AS verdict
      FROM (SELECT vec_id FROM e WHERE vec_id % $EvalMod <> 0) t
      LEFT JOIN scored ON t.vec_id = scored.vec
      ORDER BY t.vec_id"""
    },

    // mirror of q_llm_memorization: identical positional 5-gram hash,
    // identical island merge (gap > 1 breaks), identical verdict bands
    "q_llm_memorization" -> s"""
      WITH toks AS (
        SELECT doc_id, ${duckWordHashes("text")} AS wh FROM documents),
      big AS (SELECT doc_id, wh FROM toks WHERE len(wh) >= $MemW),
      pos AS (
        SELECT doc_id, wh, unnest(range(1, len(wh) - ${MemW - 2})) AS p
        FROM big),
      grams AS (
        SELECT doc_id, p, ${memGramDuck("wh", "p")} AS g FROM pos),
      tr AS (SELECT DISTINCT g FROM grams WHERE doc_id % $EvalMod <> 0),
      pr AS (SELECT doc_id, p, g FROM grams WHERE doc_id % $EvalMod = 0),
      hit AS (SELECT doc_id, p FROM pr WHERE g IN (SELECT g FROM tr)),
      brk AS (
        SELECT doc_id, p,
               CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 1
                    THEN 1 ELSE 0 END AS brk
        FROM hit),
      isl AS (
        SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS isl
        FROM brk),
      sp AS (
        SELECT doc_id, isl, count(*) AS npos,
               max(p) - min(p) + $MemW AS span
        FROM isl GROUP BY doc_id, isl),
      per AS (
        SELECT doc_id, CAST(sum(npos) AS BIGINT) AS n_matched,
               count(*) AS n_spans, CAST(max(span) AS BIGINT) AS longest_span
        FROM sp GROUP BY doc_id),
      tot AS (SELECT doc_id, count(*) AS n_grams FROM pr GROUP BY doc_id)
      SELECT t.doc_id, t.n_grams,
             coalesce(n_matched, 0) AS n_matched,
             coalesce(n_spans, 0) AS n_spans,
             coalesce(longest_span, 0) AS longest_span,
             CASE WHEN coalesce(longest_span, 0) >= 30 THEN 'extractable'
                  WHEN coalesce(longest_span, 0) >= 10 THEN 'partial'
                  WHEN coalesce(n_matched, 0) > 0 THEN 'incidental'
                  ELSE 'none' END AS verdict
      FROM tot t LEFT JOIN per USING (doc_id) ORDER BY t.doc_id""",

    "q_llm_pii_redact" -> s"""
      WITH dirty AS (
        SELECT source, doc_id, ${dirtyExpr("text")} AS dirty
        FROM documents),
      c AS (
        SELECT source,
               CAST(len(regexp_extract_all(dirty, '$EmailPat')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(dirty, '$PhonePat')) AS BIGINT) AS n_phone,
               CAST(len(regexp_extract_all(dirty, '$Ipv4Pat')) AS BIGINT) AS n_ip,
               CAST(length(dirty) - length(${cleanExprDuck("dirty")}) AS BIGINT) AS delta
        FROM dirty)
      SELECT source, count(*) AS n_docs,
             CAST(sum(n_email) AS BIGINT) AS emails_redacted,
             CAST(sum(n_phone) AS BIGINT) AS phones_redacted,
             CAST(sum(n_ip) AS BIGINT) AS ips_redacted,
             CAST(sum(delta) AS BIGINT) AS chars_removed
      FROM c GROUP BY source ORDER BY source""")
}
