package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Tables
import graft.util.Exact._

/** Structured Streaming surface (SURVEY.md §2.2 "Streaming"): the reference's
  * cron-driven micro-batch loop (`git_etl.ts:353-355`) generalized to
  * `readStream → transform → writeStream`.
  *
  * Each entry runs a REAL streaming query — file source, watermark,
  * AvailableNow trigger, checkpoint dir — into a DURABLE parquet sink
  * (append mode writes the parquet sink directly; complete-mode window aggs
  * go through `foreachBatch` + atomic overwrite). The driver's batch oracle
  * then checks the sink contents. Nothing materializes in the driver: at
  * 100 TB the sink is the same partitioned store, just with a real
  * checkpoint volume — the transforms are unchanged, which is the point of
  * the unified batch/streaming Dataset API.
  */
object StreamOps {

  /** Streaming read of the events table (same fixture-dependent ts
    * handling as [[Tables.load]]: ns→µs truncation for NANOS fixtures,
    * direct TimestampType for MICROS ones; `nanosAsLong` comes from
    * [[Tables.sessionConfs]] at session build). */
  /** The streaming file source wants a directory to watch. A driver
    * fixture table is a single FILE (watch the sf dir filtered down to
    * it); a generated table (GenData) is a DIRECTORY of part files
    * (watch it directly — the glob would match nothing inside). */
  private def streamReader(s: SparkSession, dir: String, name: String,
                           schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val p = s"$dir/$name.parquet"
    if (graft.util.Fs.isDirectory(p))
      s.readStream.schema(schema).parquet(p)
    else
      s.readStream.schema(schema)
        .option("pathGlobFilter", s"$name.parquet").parquet(dir)
  }

  private[graft] def eventsStream(s: SparkSession, dir: String): DataFrame =
    if (Tables.eventsIsNanos(s, dir))
      streamReader(s, dir, "events", Tables.eventsRawNs)
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else
      streamReader(s, dir, "events", Tables.events)

  /** Drain a streaming transform into a parquet sink and read it back.
    * `complete=true` routes through foreachBatch + atomic overwrite (the
    * parquet sink itself only supports append).
    *
    * `stateBytes >= 0` marks the transform STATEFUL and carries its
    * input volume: the drain then runs under an input-derived state
    * partition count ([[graft.util.Streams.statePartitionsFor]])
    * instead of the session's core-count default — state partitioning
    * is pinned at the first batch and AQE-exempt, so it is the one
    * partitioning decision that must be made here, from data volume,
    * not left to the session conf (see Streams' scaladoc for the r15
    * anti-scaling measurement). Stateless transforms (-1) have no state
    * stores and keep the session default. */
  private def runToParquet(s: SparkSession, name: String, df: DataFrame,
                           complete: Boolean, stateBytes: Long = -1L): DataFrame = {
    val dest = s"${graft.sinks.Sinks.tmpBase}/stream_$name"
    val ckpt = dest + ".ckpt"
    graft.sinks.Sinks.truncate(dest); graft.sinks.Sinks.truncate(ckpt)
    def drain(): Unit = {
      val writer =
        if (complete)
          df.writeStream.outputMode("complete")
            .foreachBatch { (b: DataFrame, _: Long) =>
              graft.sinks.Sinks.writeAtomic(b, dest)
            }
        else
          df.writeStream.outputMode("append").format("parquet").option("path", dest)
      val q = writer.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    if (stateBytes >= 0L)
      graft.util.Streams.withShufflePartitions(s,
        graft.util.Streams.statePartitionsFor(stateBytes))(drain())
    else drain()
    s.read.parquet(dest)
  }

  /** Input volume of the streamed events table (file or part-file dir —
    * the two layouts [[streamReader]] handles), for state sizing. */
  private def eventsBytes(s: SparkSession, dir: String): Long =
    graft.util.Fs.sizeBytes(s"$dir/events.parquet")

  /** Streaming read of the documents table (schema is static). */
  private def documentsStream(s: SparkSession, dir: String): DataFrame =
    streamReader(s, dir, "documents", Tables.documents)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The LLM curation filters run AS A STREAM — the shape a continuous
    // crawl-ingest pipeline has: documents arrive, the quality gate
    // (token floor + stopword evidence + repetition cap, all per-row
    // projections) admits or rejects each one, and admitted docs append
    // to the durable store with their token counts. Per-row filters are
    // stateless, so append mode needs no watermark and replays are
    // idempotent on the batch-keyed sink. Oracle = the same filter as
    // batch SQL — the unified-API guarantee the engine is built on.
    "stream_llm_quality" -> { (s, dir) =>
      val gated = documentsStream(s, dir)
        .selectExpr("doc_id", "source", "split(text, ' ') AS t")
        .selectExpr("doc_id", "source",
          "size(t) AS n_tok", "size(array_distinct(t)) AS n_uniq")
        .where(expr("n_tok >= 30 AND n_tok <= 2 * n_uniq"))
      runToParquet(s, "llm_quality", gated, complete = false)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"),
          sum(col("n_uniq")).as("uniq_tokens"))
        .orderBy(col("source"))
    },

    // tumbling event-time window agg under a real stream; complete mode
    // emits final window state => equals the batch computation exactly
    "stream_tumbling_agg" -> { (s, dir) =>
      val agg = eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "12 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumFix(col("value"), 2).as("sum_value"))
        .select(col("window.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
      runToParquet(s, "tumbling", agg, complete = true,
          stateBytes = eventsBytes(s, dir))
        .orderBy(col("ws"), col("event_type"))
    },

    // session windows under a real stream: gap-based state merge is the
    // one windowed agg whose state is UNBOUNDED-per-key until the gap
    // closes — the watermark is what lets the store evict closed
    // sessions at scale; complete mode emits final merged state, which
    // equals the batch gap-island computation exactly.
    "stream_session_window" -> { (s, dir) =>
      val agg = eventsStream(s, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), sumFix(col("value"), 2).as("sum_value"))
        .select(col("session_window.start").as("sess_start"),
          col("session_window.end").as("sess_end"),
          col("user_id"), col("n"), col("sum_value"))
      runToParquet(s, "session", agg, complete = true,
          stateBytes = eventsBytes(s, dir))
        .orderBy(col("user_id"), col("sess_start"))
    },

    // BOUNDED-STATE streaming dedup (dropDuplicatesWithinWatermark): the
    // production form of stream_dedup — plain dropDuplicates keeps every
    // key seen FOREVER in the state store (unbounded at 100 TB/day;
    // the store eventually IS the corpus), while the within-watermark
    // variant evicts keys once the watermark passes them, bounding state
    // to O(keys per window) under the duplicate-delivery assumption that
    // re-deliveries arrive within the window (true of at-least-once
    // transports). Input seeds every event TWICE, range-partitioned by
    // ts so both copies share a tick and ticks arrive in ascending event
    // time; the answer equals the unbounded dedup exactly — same oracle
    // — which is the point: identical correctness, bounded state.
    "stream_dedup_bounded" -> { (s, dir) =>
      val src = s"${graft.sinks.Sinks.tmpBase}/dedup_bounded_src"
      graft.sinks.Sinks.truncate(src)
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      ev.union(ev) // exact duplicate delivery of every event
        .repartitionByRange(2, col("ts")).write.parquet(src)
      val dd = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), col("event_type"), col("value"))
      runToParquet(s, "dedup_bounded", dd, complete = false,
          stateBytes = graft.util.Fs.sizeBytes(src))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sumFix(col("value"), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },

    // streaming keyed dedup (reference O8: duplicate deliveries collapse);
    // event_id is the primary key, append emissions are replay-independent
    "stream_dedup" -> { (s, dir) =>
      val dd = eventsStream(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
        .dropDuplicates("event_id")
      runToParquet(s, "dedup", dd, complete = false,
          stateBytes = eventsBytes(s, dir))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sumFix(col("value"), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },

    // The paginated DSv2 source AS A STREAM (the reference's actual
    // deployment shape, end to end: poll the paginated API on a
    // schedule, pull only what's new, persist, resume from the stored
    // cursor — git_etl.ts:258-266,353-355): CommitMicroBatchStream
    // exposes row indexes as streaming offsets, each tick admits at most
    // batchRows rows (ReadLimit.maxRows — the per-trigger pull budget),
    // AvailableNow drains 3000 rows in 3 bounded ticks, and the
    // checkpoint's offset log makes a re-run a no-op (exactly-once,
    // spec-asserted). This replaces the reference's +1-second watermark
    // approximation with an EXACT cursor: the next run resumes at the
    // precise row index the last one committed.
    "stream_dsv2_commits" -> { (s, _) =>
      val dest = s"${graft.sinks.Sinks.tmpBase}/stream_dsv2_commits"
      val ckpt = dest + ".ckpt"
      graft.sinks.Sinks.truncate(dest); graft.sinks.Sinks.truncate(ckpt)
      val stream = s.readStream.format("graft.sources.CommitSource")
        .option("rows", "3000").option("batchRows", "1000").load()
      val q = stream.writeStream.outputMode("append")
        .format("parquet").option("path", dest)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(dest)
        .groupBy(col("message"))
        .agg(count(lit(1)).as("n"), min(col("ts")).as("min_ts"),
          max(col("ts")).as("max_ts"))
        .orderBy(col("message"))
    },

    // STREAMING SCD2 maintenance, event-sourced: the naive stream apply
    // ("close the current row, open a new one") is ORDER-SENSITIVE and
    // breaks under batch reordering/replay. Instead each tick upserts
    // immutable VERSION EVENTS (key, segment, valid-from) keyed by
    // (key, vdate) — idempotent and commutative, so any tick order or
    // replay converges — and the interval view (eff_from/eff_to/
    // is_current) is DERIVED on read with one per-key lead() window.
    // Writes stay O(batch); history assembly is the reader's window over
    // each key's bounded version list. Oracle = the same window over the
    // union of all version sources (maintenance ≡ recompute).
    "stream_scd2_ticks" -> { (s, dir) =>
      val src = s"${graft.sinks.Sinks.tmpBase}/scd2_ticks_src"
      val store = s"${graft.sinks.Sinks.tmpBase}/scd2_ticks_store"
      val ckpt = store + ".ckpt"
      graft.sinks.Sinks.truncate(src)
      graft.sinks.Sinks.truncate(store); graft.sinks.Sinks.truncate(ckpt)
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val v0 = cust.select(col("c_custkey"),
        col("c_mktsegment").as("seg"),
        lit(java.sql.Date.valueOf("1995-01-01")).as("vdate"), lit(0).as("tick"))
      val ticks = (1 to 3).map { t =>
        cust.where(col("c_custkey") % (6 + t) === 1)
          .select(col("c_custkey"),
            concat(lit(s"T${t}_"), (col("c_custkey") % 3).cast("string")).as("seg"),
            lit(java.sql.Date.valueOf(s"${1995 + t}-01-01")).as("vdate"),
            lit(t).as("tick"))
      }
      (v0 +: ticks).reduce(_ unionByName _)
        .repartitionByRange(4, col("tick")).write.parquet(src)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("c_custkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("seg",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("vdate",
          org.apache.spark.sql.types.DateType),
        org.apache.spark.sql.types.StructField("tick",
          org.apache.spark.sql.types.IntegerType)))
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .drop("tick")
        .withColumn("vkey", concat(col("c_custkey"), lit("@"), col("vdate")))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val existing =
            if (graft.util.Fs.exists(store))
              s.read.parquet(store)
            else s.createDataFrame(
              s.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
          graft.sinks.Sinks.writeAtomic(
            graft.ingest.CommitEtl.upsert(existing, batch, "vkey",
              Seq("seg")), store)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_custkey")).orderBy(col("vdate"))
      s.read.parquet(store)
        .select(col("c_custkey"), col("seg"), col("vdate").as("eff_from"),
          coalesce(lead(col("vdate"), 1).over(w),
            lit(java.sql.Date.valueOf("9999-12-31"))).as("eff_to"),
          lead(col("vdate"), 1).over(w).isNull.as("is_current"))
        .orderBy(col("c_custkey"), col("eff_from"))
    },

    // The reference's ACTUAL runtime shape (git_etl.ts:353-355): REAL
    // multi-tick micro-batches. The source is split into 4 files,
    // maxFilesPerTrigger=1 forces 4 sequential batches, and each batch
    // upserts into the durable store via foreachBatch — the keyed merge
    // makes the final state independent of batch order (O8 idempotence).
    "stream_incremental_ticks" -> { (s, dir) =>
      val src = s"${graft.sinks.Sinks.tmpBase}/events_ticks_src"
      val dest = s"${graft.sinks.Sinks.tmpBase}/events_ticks_store"
      val ckpt = dest + ".ckpt"
      graft.sinks.Sinks.truncate(src)
      graft.sinks.Sinks.truncate(dest); graft.sinks.Sinks.truncate(ckpt)
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      ev.repartitionByRange(4, col("ts")).write.parquet(src)
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      val q = stream.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val existing =
            if (graft.util.Fs.exists(dest))
              s.read.parquet(dest)
            else s.createDataFrame(
              s.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
          graft.sinks.Sinks.writeAtomic(
            graft.ingest.CommitEtl.upsert(existing, batch, "event_id", Seq("ts", "value")), dest)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(dest)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sumFix(col("value"), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },

    // Stream-static join: the streaming fact joined to a broadcast
    // dimension INSIDE the stream (the dimension is re-resolvable per
    // micro-batch — the enrichment shape of a continuous ingest that
    // tags each arriving event with dimension attributes). Stateless per
    // row, so append mode needs no watermark; the dimension is a
    // broadcast-hash side in every tick's plan, never shuffled.
    "stream_static_join" -> { (s, dir) =>
      val dim = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val joined = eventsStream(s, dir)
        .where(col("event_type") === "purchase")
        .withColumn("c_custkey", lit(1L) + col("user_id") % 100)
        .join(broadcast(dim), "c_custkey")
        .select(col("event_id"), col("c_mktsegment"), col("value"))
      runToParquet(s, "static_join", joined, complete = false)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sumFix(col("value"), 2).as("sum_value"))
        .orderBy(col("c_mktsegment"))
    },

    // Stream-stream inner join: clicks joined to purchases of the same
    // user within the preceding hour, both sides watermarked so the state
    // store can evict rows outside the join window — the bounded-state
    // shape a 100 TB stream-stream join requires. Inner join + full drain
    // => emitted matches equal the batch join exactly.
    "stream_stream_join" -> { (s, dir) =>
      val clicks = eventsStream(s, dir).where(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("c_id"))
        .withWatermark("c_ts", "1 hour")
      val purchases = eventsStream(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_id"))
        .withWatermark("p_ts", "1 hour")
      val joined = clicks.join(purchases,
        expr("c_user = p_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"))
        .select(col("c_user"), col("c_id"), col("p_id"))
      runToParquet(s, "ssjoin", joined, complete = false,
          stateBytes = eventsBytes(s, dir))
        .groupBy((col("c_user") % 10).as("cohort"))
        .agg(count(lit(1)).as("n_pairs"), countDistinct(col("p_id")).as("n_purchases"))
        .orderBy(col("cohort"))
    },

    // LEFT OUTER stream-stream join — the operator whose null side can
    // only be emitted BY THE WATERMARK: an unmatched click is provably
    // unmatched only once the watermark passes the end of its match
    // window (c_ts + 1h), at which point its state row is evicted and
    // the null-padded result emits. Clicks younger than that at end of
    // stream stay in state, unemitted — streaming outer joins are
    // eventually-complete, and the oracle states that boundary
    // explicitly (emit iff c_ts + 1h < final watermark = min of the two
    // sides' max event time - 1h delay). The final no-data micro-batch
    // (on by default) is what flushes the last eviction.
    "stream_stream_outer" -> { (s, dir) =>
      val clicks = eventsStream(s, dir).where(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("event_id").as("c_id"))
        .withWatermark("c_ts", "1 hour")
      val purchases = eventsStream(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_id"))
        .withWatermark("p_ts", "1 hour")
      val joined = clicks.join(purchases,
          expr("c_user = p_user AND p_ts BETWEEN c_ts AND c_ts + INTERVAL 1 HOUR"),
          "left_outer")
        .select(col("c_user"), col("c_id"), col("p_id"))
      runToParquet(s, "ssouter", joined, complete = false,
          stateBytes = eventsBytes(s, dir))
        .groupBy((col("c_user") % 10).as("cohort"))
        .agg(count(lit(1)).as("n_rows"), count(col("p_id")).as("n_matched"),
          sum(when(col("p_id").isNull, 1L).otherwise(0L)).as("n_null"))
        .orderBy(col("cohort"))
    },

    // The reference's cron cadence literally: a ProcessingTime trigger
    // (micro-batch every 200ms — the 5-minute cron scaled down), drained
    // with processAllAvailable() then stopped. Stateless transform, so
    // every input row reaches the durable sink regardless of batch count.
    "stream_processing_time" -> { (s, dir) =>
      val dest = s"${graft.sinks.Sinks.tmpBase}/stream_proctime"
      val ckpt = dest + ".ckpt"
      graft.sinks.Sinks.truncate(dest); graft.sinks.Sinks.truncate(ckpt)
      val filtered = eventsStream(s, dir)
        .where(col("value") > 100)
        .select(col("event_id"), col("event_type"), col("value"))
      val q = filtered.writeStream.outputMode("append")
        .format("parquet").option("path", dest)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime("200 milliseconds"))
        .start()
      q.processAllAvailable()
      q.stop()
      s.read.parquet(dest)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sumFix(col("value"), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },

    // Custom keyed state: flatMapGroupsWithState folds each user's events
    // into (count, exact cents, last event id) — order-independent except
    // last_id, which uses max(ts, event_id) ordering, so the emitted rows
    // are deterministic under any partitioning.
    "stream_stateful_fold" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
      val typed = eventsStream(s, dir)
        .selectExpr("user_id % 50 AS cohort", "event_id",
          "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents")
        .as[(Long, Long, Long)]
      val folded = typed.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Double)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          (cohort, it, state: org.apache.spark.sql.streaming.GroupState[(Long, Long, Long)]) =>
            val (n0, c0, _) = state.getOption.getOrElse((0L, 0L, 0L))
            var n = n0; var cents = c0
            it.foreach { e => n += 1; cents += e._3 }
            state.update((n, cents, cohort))
            Iterator((cohort, n, cents / 100.0))
        }
        .toDF("cohort", "n", "sum_value")
      runToParquet(s, "stateful", folded, complete = false,
          stateBytes = eventsBytes(s, dir))
        // multiple ticks would append one row per (cohort, tick); keep the
        // final state per cohort = the max-n row
        .groupBy(col("cohort"))
        .agg(max(struct(col("n"), col("sum_value"))).as("fin"))
        .select(col("cohort"), col("fin.n").as("n"), col("fin.sum_value").as("sum_value"))
        .orderBy(col("cohort"))
    },

    // Late-data accounting under an EXPLICIT engine-level watermark: three
    // arrival ticks where tick = event_id % 3 (each tick spans the full
    // time range, so ticks 1-2 necessarily carry events older than the
    // running max — the out-of-order arrival every real ingest has). Each
    // micro-batch computes its watermark from a PERSISTED tick-keyed
    // high-water store (the reference's durable watermark, git_etl.ts:
    // 141-153, generalized to lateness policy): wm(tick t) = max event
    // time over ticks < t minus a 1h allowance; rows older than wm are
    // counted late, the rest admitted. Tick-keyed atomic writes make
    // replays idempotent (a replayed batch reads only COMPLETED prior
    // ticks and overwrites its own outputs — no crash window, the lesson
    // from the r7 ccTick advice applied at design time). File arrival
    // order is pinned by explicit mtimes. Unlike the opaque built-in
    // watermark eviction, this policy is exact, auditable, and the oracle
    // replays it relationally — the semantics a 100 TB ingest owns rather
    // than inherits.
    "stream_late_audit" -> { (s, dir) =>
      val base = s"${graft.sinks.Sinks.tmpBase}/late_audit"
      graft.sinks.Sinks.truncate(base)
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        .withColumn("tick", (col("event_id") % 3).cast("int"))
      (0 to 2).foreach { t =>
        val tmp = s"$base/src_stage_$t"
        ev.where(col("tick") === t).coalesce(1).write.parquet(tmp)
        val part = graft.util.Fs.listFiles(tmp, ".parquet").head
        graft.util.Fs.mkdirs(s"$base/src")
        val dest = s"$base/src/t$t.parquet"
        graft.util.Fs.move(part, dest)
        graft.util.Fs.delete(tmp)
        // pin arrival order: the file source sorts by modification time
        graft.util.Fs.setMtime(dest, 1700000000000L + t * 60000L)
      }
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
      val q = stream.writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val b = batch.localCheckpoint()
          val t = b.agg(max(col("tick"))).collect()(0).getInt(0)
          val wmDir = s"$base/wm"
          // the 1h subtraction happens IN the plan (timestamp − interval):
          // a driver-side getTime() round-trip would truncate micros
          val prior =
            if (graft.util.Fs.exists(wmDir))
              s.read.option("recursiveFileLookup", "true").parquet(wmDir)
                .where(col("tick") < t)
                .select((max(col("tickmax")) - expr("INTERVAL 1 HOUR")).as("wm"))
                .collect()(0)
            else null
          val wmTs =
            if (prior == null || prior.isNullAt(0)) null
            else prior.getTimestamp(0)
          val audited = b
            .withColumn("wm_ts", lit(wmTs).cast("timestamp"))
            .agg(count(lit(1)).as("n_rows"),
              sum(expr("CASE WHEN wm_ts IS NOT NULL AND ts < wm_ts " +
                "THEN 1 ELSE 0 END")).as("n_late"))
            .select(lit(t).as("tick"), lit(wmTs).cast("timestamp").as("wm_ts"),
              col("n_rows"), col("n_late"),
              (col("n_rows") - col("n_late")).as("n_kept"))
          graft.sinks.Sinks.writeAtomic(audited, s"$base/audit/t$t")
          graft.sinks.Sinks.writeAtomic(
            b.agg(max(col("ts")).as("tickmax")).select(lit(t).as("tick"), col("tickmax")),
            s"$base/wm/t$t")
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.option("recursiveFileLookup", "true").parquet(s"$base/audit")
        .select(col("tick"), col("wm_ts"), col("n_rows"), col("n_late"), col("n_kept"))
        .orderBy(col("tick"))
    })

  def oracleSql: Map[String, String] = Map(
    "stream_llm_quality" -> """
      WITH g AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
               CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_uniq
        FROM documents)
      SELECT source, count(*) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS tokens,
             CAST(sum(n_uniq) AS BIGINT) AS uniq_tokens
      FROM g WHERE n_tok >= 30 AND n_tok <= 2 * n_uniq
      GROUP BY source ORDER BY source""",

    "stream_tumbling_agg" -> s"""
      SELECT time_bucket(INTERVAL '12 hours', ts) AS ws, event_type,
             count(*) AS n, ${sqlSumFix("value", 2)} AS sum_value
      FROM events GROUP BY ws, event_type ORDER BY ws, event_type""",

    "stream_dedup" -> s"""
      SELECT event_type, count(*) AS n, ${sqlSumFix("value", 2)} AS sum_value
      FROM (SELECT DISTINCT event_id, event_type, value FROM events)
      GROUP BY event_type ORDER BY event_type""",

    // bounded-state dedup answers EXACTLY like unbounded dedup — the
    // state bound changes cost, never the result
    "stream_dedup_bounded" -> s"""
      SELECT event_type, count(*) AS n, ${sqlSumFix("value", 2)} AS sum_value
      FROM (SELECT DISTINCT event_id, event_type, value FROM events)
      GROUP BY event_type ORDER BY event_type""",

    // same gap-island emulation as the batch q_session_window oracle —
    // final streamed session state must equal the batch computation
    "stream_session_window" -> s"""
      WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL '30 minutes'
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_sess
        FROM events),
      islands AS (
        SELECT user_id, ts, value,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM marked)
      SELECT min(ts) AS sess_start, max(ts) + INTERVAL '30 minutes' AS sess_end,
             user_id, count(*) AS n, ${sqlSumFix("value", 2)} AS sum_value
      FROM islands GROUP BY user_id, sess_id ORDER BY user_id, sess_start""",

    // mirror of stream_scd2_ticks: the same lead() window over the union
    // of all version sources (incremental maintenance ≡ recompute)
    "stream_scd2_ticks" -> """
      WITH allv AS (
        SELECT c_custkey, c_mktsegment AS seg, DATE '1995-01-01' AS vdate
        FROM customer
        UNION ALL
        SELECT c_custkey, 'T1_' || CAST(c_custkey % 3 AS VARCHAR), DATE '1996-01-01'
        FROM customer WHERE c_custkey % 7 = 1
        UNION ALL
        SELECT c_custkey, 'T2_' || CAST(c_custkey % 3 AS VARCHAR), DATE '1997-01-01'
        FROM customer WHERE c_custkey % 8 = 1
        UNION ALL
        SELECT c_custkey, 'T3_' || CAST(c_custkey % 3 AS VARCHAR), DATE '1998-01-01'
        FROM customer WHERE c_custkey % 9 = 1)
      SELECT c_custkey, seg, vdate AS eff_from,
             coalesce(lead(vdate) OVER (PARTITION BY c_custkey ORDER BY vdate),
                      DATE '9999-12-31') AS eff_to,
             lead(vdate) OVER (PARTITION BY c_custkey ORDER BY vdate) IS NULL
               AS is_current
      FROM allv ORDER BY c_custkey, eff_from""",

    "stream_dsv2_commits" -> """
      WITH src AS (
        SELECT 'm' || (i % 7) AS message,
               TIMESTAMP '2024-01-01 00:00:00' + to_seconds(i * 137) AS ts
        FROM (SELECT unnest(range(3000)) AS i))
      SELECT message, count(*) AS n, min(ts) AS min_ts, max(ts) AS max_ts
      FROM src GROUP BY message ORDER BY message""",

    "stream_incremental_ticks" -> s"""
      WITH keyed AS (
        SELECT event_id, ts, event_type, value,
               row_number() OVER (PARTITION BY event_id
                                  ORDER BY ts DESC, value DESC) AS rn
        FROM events)
      SELECT event_type, count(*) AS n, ${sqlSumFix("value", 2)} AS sum_value
      FROM keyed WHERE rn = 1
      GROUP BY event_type ORDER BY event_type""",

    "stream_static_join" -> s"""
      SELECT c_mktsegment, count(*) AS n, ${sqlSumFix("value", 2)} AS sum_value
      FROM events e JOIN customer c ON c.c_custkey = 1 + e.user_id % 100
      WHERE e.event_type = 'purchase'
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "stream_stream_join" -> """
      WITH c AS (SELECT user_id AS u, ts AS cts, event_id AS cid
                 FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id AS u, ts AS pts, event_id AS pid
            FROM events WHERE event_type = 'purchase')
      SELECT c.u % 10 AS cohort, count(*) AS n_pairs,
             count(DISTINCT pid) AS n_purchases
      FROM c JOIN p ON c.u = p.u
        AND cts BETWEEN pts - INTERVAL 1 HOUR AND pts
      GROUP BY cohort ORDER BY cohort""",

    // matched pairs + null-padded clicks whose match window closed below
    // the final watermark (min of the two sides' max event time - the 1h
    // delay); younger unmatched clicks are still in state at end of
    // stream and correctly absent
    "stream_stream_outer" -> """
      WITH c AS (SELECT user_id AS u, ts AS cts, event_id AS cid
                 FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id AS u, ts AS pts, event_id AS pid
            FROM events WHERE event_type = 'purchase'),
      wm AS (SELECT least((SELECT max(cts) FROM c), (SELECT max(pts) FROM p))
                    - INTERVAL 1 HOUR AS fw),
      j AS (SELECT c.u, c.cid, p.pid FROM c JOIN p ON c.u = p.u
              AND p.pts BETWEEN c.cts AND c.cts + INTERVAL 1 HOUR),
      nulls AS (
        SELECT c.u, c.cid, CAST(NULL AS BIGINT) AS pid
        FROM c, wm
        WHERE c.cts + INTERVAL 1 HOUR < wm.fw
          AND NOT EXISTS (SELECT 1 FROM p WHERE p.u = c.u
                          AND p.pts BETWEEN c.cts AND c.cts + INTERVAL 1 HOUR)),
      em AS (SELECT * FROM j UNION ALL SELECT * FROM nulls)
      SELECT u % 10 AS cohort, count(*) AS n_rows, count(pid) AS n_matched,
             count(*) - count(pid) AS n_null
      FROM em GROUP BY cohort ORDER BY cohort""",

    "stream_processing_time" -> s"""
      SELECT event_type, count(*) AS n, ${sqlSumFix("value", 2)} AS sum_value
      FROM events WHERE value > 100
      GROUP BY event_type ORDER BY event_type""",

    "stream_stateful_fold" -> """
      SELECT user_id % 50 AS cohort, count(*) AS n,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0 AS sum_value
      FROM events GROUP BY cohort ORDER BY cohort""",

    // relational replay of the explicit watermark policy: per-tick max,
    // running prior max over tick order minus the 1h allowance, identical
    // late predicate
    "stream_late_audit" -> """
      WITH ticked AS (
        SELECT *, CAST(event_id % 3 AS INT) AS tick FROM events),
      tm AS (SELECT tick, max(ts) AS tickmax FROM ticked GROUP BY tick),
      wm AS (
        SELECT tick,
               max(tickmax) OVER (ORDER BY tick
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 - INTERVAL 1 HOUR AS wm_ts
        FROM tm)
      SELECT t.tick, wm.wm_ts, count(*) AS n_rows,
             CAST(sum(CASE WHEN wm.wm_ts IS NOT NULL AND t.ts < wm.wm_ts
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
             count(*) - CAST(sum(CASE WHEN wm.wm_ts IS NOT NULL AND t.ts < wm.wm_ts
                                      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM ticked t JOIN wm ON wm.tick = t.tick
      GROUP BY t.tick, wm.wm_ts ORDER BY t.tick""")
}
