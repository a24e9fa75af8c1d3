package graft

import graft.core.Schema
import graft.ext.{Dedup, Events, Pipeline, Quality, Similarity, TextAnalysis}
import graft.index.IndexJob
import org.apache.spark.sql.functions._
/** Structured-Streaming family: 22 streaming twins checked against
  * their batch oracles — custom per-key state (user-state, dedup,
  * sessions, threads, rolling, funnel, as-of, top-k), the built-in
  * stateful classes (windowed agg in exact cents, streaming DISTINCT
  * both unbounded and watermark-bounded, stream-stream interval join,
  * complete-mode count-min sketch), the stateless ingest screens
  * (contamination, IVF assignment, near-dup and containment probes of
  * persisted corpus indexes), the composed ingest curation screen
  * (quality/language gates + artifact probe + stateful exact dedup),
  * the weighted-sampling reservoir, and the batch-as-stream merge.
  * Oracle-checked via CORRECTNESS_r* (see SURVEY §7.5).
  */
private[graft] object ExtStreamQueries {
  import ExtShared._

  /** State-partition sizing (VERDICT r10 item 4): a stateful
    * micro-batch commits EVERY state-store partition per trigger
    * (delta file + CRC + commit marker, fsync'd), so the per-trigger
    * floor scales with the shuffle-partition count, not the data —
    * 32 partitions × 4 AvailableNow triggers of KB-sized state is
    * pure commit overhead at bench SFs. Size the stream's state
    * partitioning to the workload the way maxPartitionBytes sizes
    * scans (production sizes it to sustained load; every twin's
    * semantics are partition-count-invariant — group-keyed state,
    * fold-order-exact arithmetic, total ORDER BY). The session's
    * setting is restored after the run so batch queries keep their
    * width.
    */
  private def withStreamShuffle[T](
      spark: org.apache.spark.sql.SparkSession)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.get(key)
    val prevNoData = spark.conf.get(noData, "true")
    spark.conf.set(key, "8")
    // The trailing NO-DATA micro-batch exists to advance the watermark
    // and flush append-mode final results. Every twin here emits in
    // DATA batches (update/complete-mode state folds, stream-stream
    // INNER join match-time emission, stateless foreachBatch), so the
    // extra batch is one more full state-commit round (delta + CRC +
    // commit marker per partition) that changes no output — the
    // per-trigger floor VERDICT r11 item 1 targets. Restored after.
    spark.conf.set(noData, "false")
    try f finally {
      spark.conf.set(key, prev)
      spark.conf.set(noData, prevNoData)
    }
  }

  val defs: Seq[QueryDef] = rawDefs.map(d =>
    d.copy(fn = (spark, sfDir) => withStreamShuffle(spark)(d.fn(spark, sfDir)),
      streaming = true))

  private lazy val rawDefs: Seq[QueryDef] = Seq(

    // Incremental indexing as sequential REPLACE merges of time-sliced
    // batches (the foreachBatch loop of graft.streaming.IncrementalIndexer
    // run as a batch): final state = latest event per user.
    QueryDef("x_stream_merge",
      (spark, sfDir) => {
        Corpus.registerSources(spark, sfDir)
        def slice(lo: String, hi: String) = Schema.conform(spark.sql(
          s"""select cast(user_id as string) as key,
             |       concat(event_type, ' by user ', cast(user_id as string)) as title,
             |       date_format(ts, 'yyyy-MM-dd HH:mm:ss') as timestamp,
             |       props as search_1
             |from events
             |where ts >= timestamp'$lo' and ts < timestamp'$hi'""".stripMargin)
          .withColumn("type", lit("events.db/userstate")))
        val batches = Seq(
          slice("2024-01-01 00:00:00", "2024-01-11 00:00:00"),
          slice("2024-01-11 00:00:00", "2024-01-21 00:00:00"),
          slice("2024-01-21 00:00:00", "2024-02-01 00:00:00"))
        batches.reduce((state, b) => IndexJob.merge(state, b))
          .select("type", "key", "title", "timestamp", "search_1")
          .orderBy("key")
      },
      Some(
        """WITH ev AS (
          |  SELECT 'events.db/userstate' AS "type",
          |         CAST(user_id AS VARCHAR) AS "key",
          |         event_type || ' by user ' || CAST(user_id AS VARCHAR) AS title,
          |         strftime(ts, '%Y-%m-%d %H:%M:%S') AS "timestamp",
          |         props AS search_1,
          |         CASE WHEN ts < TIMESTAMP '2024-01-11 00:00:00' THEN 0
          |              WHEN ts < TIMESTAMP '2024-01-21 00:00:00' THEN 1
          |              ELSE 2 END AS batch_idx
          |  FROM events
          |)
          |SELECT "type", "key", title, "timestamp", search_1 FROM (
          |  SELECT *, row_number() OVER (
          |    PARTITION BY "key"
          |    ORDER BY batch_idx DESC, "timestamp" DESC, title ASC, search_1 ASC) AS rn
          |  FROM ev
          |) t WHERE rn = 1
          |ORDER BY "key"""".stripMargin)),

    // Custom per-key streaming state via mapGroupsWithState: a REAL
    // Structured Streaming run (parquet source → AvailableNow → memory
    // sink) evolving one state row per user; the fold is order-
    // independent (count + argmax by (ts, event_id)), so the final
    // state is batch-SQL-expressible and fully oracle-checked.
    QueryDef("x_stream_user_state",
      (spark, sfDir) => {
        Corpus.registerSources(spark, sfDir)
        // the streaming file source wants a DIRECTORY; testdata ships a
        // single parquet file → expose it through a temp-dir symlink.
        // eventsStream probes the footer and normalizes BOTH testdata ts
        // layouts (raw INT64 nanos vs timestamp[us]) — the r7 driver reds
        // came from hardcoding the nanos layout here.
        val stream = eventsStream(spark, streamSourceDir(spark, sfDir, "events.parquet"))
        val q = graft.streaming.IncrementalIndexer.userStates(spark, stream)
          .writeStream.outputMode("update")
          .format("memory").queryName("x_stream_user_state_sink")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // final state per user = the emission with the highest count
        // (update-mode sinks keep one row per state update per batch)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("n_events").desc)
        spark.table("x_stream_user_state_sink")
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .select("user_id", "n_events", "last_ts", "last_type", "last_event_id")
          .orderBy("user_id")
      },
      Some(
        """WITH latest AS (
          |  SELECT user_id, event_type, ts, event_id,
          |         row_number() OVER (
          |           PARTITION BY user_id
          |           ORDER BY strftime(ts, '%Y-%m-%d %H:%M:%S') DESC, event_id DESC) AS rn
          |  FROM events
          |),
          |counts AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id)
          |SELECT c.user_id, c.n_events,
          |       strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
          |       l.event_type AS last_type,
          |       l.event_id AS last_event_id
          |FROM counts c JOIN latest l ON l.user_id = c.user_id AND l.rn = 1
          |ORDER BY c.user_id""".stripMargin)),

    // Streaming as-of join: the stream-enrichment twin — each click is
    // joined to the user's latest preceding view from ONE ref row of
    // state per user; refs sort before queries at the same ts so the
    // batch tie rule (ref at query ts matches) holds. Checked against
    // the BATCH as-of oracle.
    QueryDef("x_stream_asof",
      (spark, sfDir) => {
        Corpus.registerSources(spark, sfDir)
        // dual-layout-safe ts_us via the footer-probing shared adapter
        val stream = eventsStream(spark, streamSourceDir(spark, sfDir, "events.parquet"))
        val q = graft.streaming.IncrementalIndexer
          .asofStream(spark, stream, refType = "view", queryType = "click")
          .writeStream.outputMode("update")
          .format("memory").queryName("x_stream_asof_sink")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // emissions only improve (a tie-split ref re-emits its queries):
        // final row per query = max (ref_ts, ref_id), nulls last
        val wa = org.apache.spark.sql.expressions.Window
          .partitionBy("event_id")
          .orderBy(col("ref_ts_us").desc_nulls_last,
            col("ref_event_id").desc_nulls_last)
        spark.table("x_stream_asof_sink")
          .withColumn("__rn", row_number().over(wa)).filter(col("__rn") === 1)
          .select("event_id", "user_id", "ts_us", "value",
            "ref_event_id", "ref_ts_us", "ref_value")
          .orderBy("event_id")
      },
      defsAsofOracle),

    // Streaming ordered funnel: a REAL Structured Streaming run checked
    // against the BATCH funnel oracle — state is ONE k-slot timestamp
    // array per user; ts-tie groups apply steps in order so same-ts
    // chains match the batch `>=` window conditions.
    QueryDef("x_stream_funnel",
      (spark, sfDir) => {
        Corpus.registerSources(spark, sfDir)
        // dual-layout-safe ts_us via the footer-probing shared adapter
        val stream = eventsStream(spark, streamSourceDir(spark, sfDir, "events.parquet"))
        val q = graft.streaming.IncrementalIndexer
          .funnelStream(spark, stream, Seq("view", "click", "purchase"))
          .writeStream.outputMode("update")
          .format("memory").queryName("x_stream_funnel_sink")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // emissions only refine (a set tₛ never changes): final value =
        // per-column max, -1 sentinel → NULL, then the conversion gate
        def tCol(i: Int) = {
          val m = max(element_at(col("steps"), i + 1))
          when(m === -1L, lit(null).cast("long")).otherwise(m)
        }
        spark.table("x_stream_funnel_sink")
          .groupBy("user_id")
          .agg(tCol(0).as("t0"), tCol(1).as("t1"), tCol(2).as("t2"))
          .withColumn("converted",
            col("t2").isNotNull && col("t2") - col("t0") <= 604800000000L)
          .orderBy("user_id")
      },
      defsFunnelOracle),

    // Streaming exact-dedup screen: a REAL Structured Streaming run
    // (parquet source → AvailableNow → flatMapGroupsWithState keyed on
    // content digest → memory sink). The per-digest fold is order-
    // independent (min id, total count), so the final state equals the
    // batch keep-first answer and is fully oracle-checked.
    QueryDef("x_stream_dedup",
      (spark, sfDir) => {
        Corpus.registerSources(spark, sfDir)
        import org.apache.spark.sql.types._
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType)))
        val srcDir = streamSourceDir(spark, sfDir, "documents.parquet")
        val stream = spark.readStream.schema(schema).parquet(srcDir)
        val q = graft.streaming.IncrementalIndexer.dedupStream(spark, stream)
          .writeStream.outputMode("update")
          .format("memory").queryName("x_stream_dedup_sink")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // final state per digest = the emission with the highest count
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("digest").orderBy(col("n_copies").desc)
        spark.table("x_stream_dedup_sink")
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .select("digest", "keep_id", "n_copies")
          .orderBy("digest")
      },
      Some(
        """SELECT md5(coalesce(text, '')) AS digest,
          |       CAST(min(doc_id) AS BIGINT) AS keep_id,
          |       CAST(count(*) AS BIGINT) AS n_copies
          |FROM documents
          |GROUP BY 1
          |ORDER BY digest""".stripMargin)),

    // Streaming gap sessionization: a REAL Structured Streaming run
    // (parquet source → AvailableNow → flatMapGroupsWithState keyed on
    // user → memory sink), checked against the BATCH sessionization
    // oracle — state is one open-session carry per user, completed
    // sessions leave state. Same 4 h gap as x_evt_sessions.
    QueryDef("x_stream_sessions",
      (spark, sfDir) => {
        Corpus.registerSources(spark, sfDir)
        // dual-layout-safe ts_us via the footer-probing shared adapter
        val stream = eventsStream(spark, streamSourceDir(spark, sfDir, "events.parquet"))
        val q = graft.streaming.IncrementalIndexer
          .sessionStream(spark, stream, gapUs = 4L * 3600 * 1000000)
          .writeStream.outputMode("update")
          .format("memory").queryName("x_stream_sessions_sink")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // final value of a session = its emission with the most events
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "session_seq").orderBy(col("n_events").desc)
        spark.table("x_stream_sessions_sink")
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .select("user_id", "session_seq", "n_events", "start_us", "end_us",
            "duration_us")
          .orderBy("user_id", "session_seq")
      },
      defsSessionOracle),

    // Streaming rolling 24 h event rates: a REAL Structured Streaming
    // run (parquet source → AvailableNow → flatMapGroupsWithState keyed
    // on user → memory sink), checked against the BATCH rolling oracle.
    // State = the in-window (ts, cents) buffer + running sum per user —
    // bounded by window span, not history; ts-tie groups buffered
    // together to match the RANGE frame's all-peers semantics.
    QueryDef("x_stream_rolling",
      (spark, sfDir) => {
        Corpus.registerSources(spark, sfDir)
        // dual-layout-safe ts_us via the footer-probing shared adapter
        val stream = eventsStream(spark, streamSourceDir(spark, sfDir, "events.parquet"))
        val q = graft.streaming.IncrementalIndexer
          .rollingStream(spark, stream, windowUs = 86400L * 1000000)
          .writeStream.outputMode("update")
          .format("memory").queryName("x_stream_rolling_sink")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // emissions only refine (tie peers arriving in later batches
        // re-emit with a larger frame): final value per event = the
        // emission with max n_trailing
        val wr = org.apache.spark.sql.expressions.Window
          .partitionBy("event_id").orderBy(col("n_trailing").desc)
        spark.table("x_stream_rolling_sink")
          .withColumn("__rn", row_number().over(wr)).filter(col("__rn") === 1)
          .select("event_id", "user_id", "ts_us", "n_trailing",
            "sum_trailing_cents")
          .orderBy("event_id")
      },
      defsRollingOracle),

    // Streaming windowed aggregation — the BUILT-IN stateful-agg class
    // (the one twin with NO custom state code): watermark + 10-minute
    // tumbling window + count/sum, state managed entirely by the state
    // store as one row per open (window, type) group. A REAL multi-
    // batch run (maxFilesPerTrigger=2 over the 4-file source → 2
    // micro-batches: cross-batch state merge is exercised at half the
    // per-trigger commit floor, VERDICT r11 item 1); values quantize to integer
    // cents BEFORE the sum (the x_evt_rolling recipe) so the result is
    // fold-order-exact; update-mode emissions only grow per group, so
    // the final state (max n_events per key) equals the batch window
    // aggregate and the driver oracle checks it.
    QueryDef("x_stream_windowed",
      (spark, sfDir) => {
        Corpus.registerSources(spark, sfDir)
        // 4-file copy for a REAL multi-batch run; eventsStream probes the
        // copy's footer, so whichever ts layout the copy preserved from
        // the source testdata is normalized the same way as batch
        val srcDir = multiFileSourceDir(spark, sfDir, "events.parquet")
        val stream = eventsStream(spark, srcDir, maxFilesPerTrigger = 2)
          .select("ts", "event_type", "value")
        val q = graft.streaming.IncrementalIndexer.windowedCents(stream)
          .writeStream.outputMode("update")
          .format("memory").queryName("x_stream_windowed_sink")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // counts only grow: final value per (window, type) = max-n emission
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("win_start_us", "event_type")
          .orderBy(col("n_events").desc)
        spark.table("x_stream_windowed_sink")
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .select("win_start_us", "event_type", "n_events", "sum_cents")
          .orderBy("win_start_us", "event_type")
      },
      Some(
        """SELECT CAST(epoch_us(ts) // 600000000 AS BIGINT) * 600000000 AS win_start_us,
          |       event_type,
          |       CAST(count(*) AS BIGINT) AS n_events,
          |       CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
          |FROM events
          |GROUP BY 1, 2
          |ORDER BY win_start_us, event_type""".stripMargin)),

    // Watermarked stream-stream interval join — the symmetric-hash-join
    // state class (the last built-in stateful class without a twin):
    // clicks join same-user views within a 1-hour horizon, both sides
    // buffered in the state store and evicted by watermark. A REAL
    // multi-batch run (2 micro-batches — cross-batch symmetric-hash
    // state is exercised at half the commit floor); inner-join output
    // is a SET (each pair emitted exactly once, append mode), so it is
    // batch-equal under any batching — checked against the plain batch
    // interval join.
    QueryDef("x_stream_join",
      (spark, sfDir) => {
        Corpus.registerSources(spark, sfDir)
        val srcDir = multiFileSourceDir(spark, sfDir, "events.parquet")
        val stream = eventsStream(spark, srcDir, maxFilesPerTrigger = 2)
          .select("event_id", "user_id", "ts", "event_type")
        val q = graft.streaming.IncrementalIndexer
          .streamIntervalJoin(stream, refType = "view", queryType = "click")
          .writeStream.outputMode("append")
          .format("memory").queryName("x_stream_join_sink")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.table("x_stream_join_sink")
          .select("user_id", "ref_id", "query_id", "ref_ts_us", "query_ts_us")
          .orderBy("ref_id", "query_id")
      },
      Some(
        """SELECT v.user_id,
          |       v.event_id AS ref_id,
          |       c.event_id AS query_id,
          |       CAST(epoch_us(v.ts) AS BIGINT) AS ref_ts_us,
          |       CAST(epoch_us(c.ts) AS BIGINT) AS query_ts_us
          |FROM events v JOIN events c
          |  ON c.user_id = v.user_id
          | AND v.event_type = 'view' AND c.event_type = 'click'
          | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
          |ORDER BY ref_id, query_id""".stripMargin)),

    // Streaming contamination screen — the STATELESS twin class: the
    // 13-gram screen is per-document (a doc's grams never leave its
    // row before the broadcast semi-join against the fixed benchmark
    // set), so it runs per micro-batch with NO state store and is
    // batch-equal under ANY batching; foreachBatch appends each
    // batch's flagged docs and the result is hash-identical to the
    // batch operator's oracle. Every per-doc screen in the
    // library (quality, langid, gopher, PII, blocklist) streams this
    // same way for free — this entry pins the pattern. Single
    // trigger (VERDICT r11 item 1): a stateless screen is batch-equal
    // under ANY batching, so the bench entry reads the whole source in
    // one micro-batch; the REAL multi-batch execution of this class
    // stays pinned by StreamBatchParitySpec.
    QueryDef("x_stream_contam",
      (spark, sfDir) => {
        Corpus.registerSources(spark, sfDir)
        import org.apache.spark.sql.types._
        val benchGrams = Dedup.shingleHashes(
            spark.table("documents").filter(col("doc_id") % 97 === 0),
            "text", "doc_id", 13)
          .select(col("shingle")).distinct().persist()
        benchGrams.count() // the fixed benchmark artifact, built once
        val srcDir = multiFileSourceDir(spark, sfDir, "documents.parquet")
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType)))
        val outDir = java.nio.file.Files
          .createTempDirectory("graft-stream-contam")
        outDir.toFile.deleteOnExit()
        val q = spark.readStream.schema(schema)
          .parquet(srcDir)
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            Pipeline.contaminationNgramAgainst(batch, benchGrams,
                "text", n = 13, minShared = 1)
              .write.mode("append").parquet(outDir.toString): Unit
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.read.parquet(outDir.toString).orderBy("doc_id")
      },
      Some(
        s"""WITH ${shinglesCte(13)},
           |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
           |SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_shared_ngrams
           |FROM sh f JOIN bench b ON b.shingle = f.shingle
           |GROUP BY f.doc_id
           |HAVING count(*) >= 1
           |ORDER BY f.doc_id""".stripMargin)),

    // Built-in streaming DISTINCT — the state-store dedup class with
    // NO custom state code (`dropDuplicates` on the stream; the custom
    // flatMapGroupsWithState twin is x_stream_dedup): state is one row
    // per distinct digest, exactly the relation the batch DISTINCT
    // shuffles. Emitting only the digest makes the result a SET —
    // batch-equal under any batching/arrival order, so the REAL
    // multi-batch run checks against the plain batch DISTINCT.
    // Production bounds state with dropDuplicatesWithinWatermark; the
    // unbounded form here IS the batch-equality contract. 2
    // micro-batches: cross-batch suppression is exercised at half the
    // per-trigger commit floor (VERDICT r11 item 1).
    QueryDef("x_stream_distinct",
      (spark, sfDir) => {
        Corpus.registerSources(spark, sfDir)
        import org.apache.spark.sql.types._
        val srcDir = multiFileSourceDir(spark, sfDir, "documents.parquet")
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType)))
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "2").parquet(srcDir)
          .select(md5(col("text").cast("binary")).as("content_md5"))
          .dropDuplicates("content_md5")
          .writeStream.outputMode("append")
          .format("memory").queryName("x_stream_distinct_sink")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.table("x_stream_distinct_sink").orderBy("content_md5")
      },
      Some(
        """SELECT DISTINCT md5(text) AS content_md5
          |FROM documents ORDER BY content_md5""".stripMargin)),

    // The PRODUCTION form of streaming distinct (VERDICT r12 item 6b:
    // x_stream_distinct's unbounded-state note) —
    // dropDuplicatesWithinWatermark: state is evicted once the
    // watermark passes a row's event time + delay, so the state store
    // holds only the delay window's distinct keys however long the
    // stream runs. Emission is first-sight (it is NOT an aggregation),
    // so append mode emits immediately and needs no flushing no-data
    // batch. The batch-equality contract: when every duplicate of a
    // key arrives within the delay of its first occurrence, the
    // emitted set == batch DISTINCT — the fixture's whole time range
    // sits inside the delay, so the REAL 2-micro-batch run (state
    // never evicted mid-run) checks against the plain batch DISTINCT
    // oracle; production tunes the delay down and pays only the
    // within-window guarantee.
    QueryDef("x_stream_distinct_wm",
      (spark, sfDir) => {
        Corpus.registerSources(spark, sfDir)
        val stream = eventsStream(spark,
          multiFileSourceDir(spark, sfDir, "events.parquet"),
          maxFilesPerTrigger = 2)
        val q = stream
          .withWatermark("ts", "3650 days")
          .dropDuplicatesWithinWatermark("user_id", "event_type")
          .select(col("user_id"), col("event_type"))
          .writeStream.outputMode("append")
          .format("memory").queryName("x_stream_distinct_wm_sink")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.table("x_stream_distinct_wm_sink")
          .orderBy("user_id", "event_type")
      },
      Some(
        """SELECT DISTINCT user_id, event_type
          |FROM events ORDER BY user_id, event_type""".stripMargin)),

    // Streaming ingest CURATION screen — the composed streaming twin
    // of x_pipeline_curation_v2's gate chain (VERDICT r13 item 7's
    // candidate: compose the stream twins the way v2 composed the
    // batch board). Arriving documents pass the quality + language
    // gates IN THE STREAM (stateless projections — a doc's verdict
    // depends only on itself), probe the corpus's PREBUILT near-dup
    // component artifact with a stream-static left join (zero
    // streaming state: the serving model, same as x_stream_neardup /
    // x_stream_contam), and fold cross-batch EXACT dedup in per-digest
    // state (the dedupStream min-id fold — arrival-order-free, so the
    // REAL 2-micro-batch run converges to the batch answer). Output =
    // the release-candidate relation: one row per surviving content
    // digest with its keeper id and gate-surviving copy count. The
    // corpus-level tail of v2 (k-anon verdict over the COMPLETE
    // survivor population, weighted draw, packing) is deliberately
    // batch-only — a verdict over a half-arrived population is not the
    // population's verdict; this twin is the production ingest path
    // that FEEDS that batch release job.
    QueryDef("x_stream_curation",
      (spark, sfDir) => {
        Corpus.registerSources(spark, sfDir)
        import org.apache.spark.sql.types._
        val comps = dupComponentsArtifact(spark, sfDir)
          .withColumnRenamed("component", "__comp")
        val srcDir = multiFileSourceDir(spark, sfDir, "documents.parquet")
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType)))
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "2").parquet(srcDir)
        // r15: the fused one-kernel-pass gate (TextAnalysis.curationGate)
        // — identical predicted_lang/quality_score expressions, one
        // text_gate_e pass instead of two (OPTIMIZATION_r15.md: gates
        // were 12.4 s of the 14.6 s sf1 stream)
        val gated = TextAnalysis.curationGate(stream, "text")
          .filter(col("quality_score") >= 0.5 &&
            col("predicted_lang") === col("lang"))
          .join(comps, Seq("doc_id"), "left_outer")
          .filter(col("__comp").isNull || col("__comp") === col("doc_id"))
        val q = graft.streaming.IncrementalIndexer.dedupStream(spark, gated)
          .writeStream.outputMode("update")
          .format("memory").queryName("x_stream_curation_sink")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // final value per digest = the emission with the highest count
        // (n_copies only grows), the x_stream_dedup convention
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("digest").orderBy(col("n_copies").desc)
        spark.table("x_stream_curation_sink")
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .select("digest", "keep_id", "n_copies")
          .orderBy("digest")
      },
      Some(
        s"""WITH RECURSIVE ${shinglesCte(3)},
           |$minhashSigsCte,
           |$bandsCte,
           |$minhashComponentsCtes,
           |${ExtPipeQueries.curationScoredCtes},
           |gated AS (
           |  SELECT s.doc_id
           |  FROM scored s LEFT JOIN comp c ON c.doc_id = s.doc_id
           |  WHERE s.quality_score >= 0.5 AND s.predicted_lang = s.lang
           |    AND (c.doc_id IS NULL OR c.component = s.doc_id)
           |)
           |SELECT md5(coalesce(d.text, '')) AS digest,
           |       CAST(min(d.doc_id) AS BIGINT) AS keep_id,
           |       CAST(count(*) AS BIGINT) AS n_copies
           |FROM documents d JOIN gated g ON g.doc_id = d.doc_id
           |GROUP BY 1
           |ORDER BY digest""".stripMargin)),

    // Streaming per-user top-k leaderboard — the streaming twin of
    // the TopKDesc bounded aggregate (x_evt_topk): state per user is
    // EXACTLY the aggregate's buffer, k (event_id, value) slots kept
    // best-first. The fold is a set fold (max-k by (value DESC, id
    // ASC)) — order-independent, so the REAL AvailableNow run
    // converges to the batch answer and all three implementations
    // (window oracle, batch aggregate, streaming state) share one
    // contract. Final value per (user, rank) = its max-n_seen
    // emission (n_seen only grows).
    QueryDef("x_stream_topk",
      (spark, sfDir) => {
        Corpus.registerSources(spark, sfDir)
        // dual-layout-safe via the footer-probing shared adapter
        val stream = eventsStream(spark, streamSourceDir(spark, sfDir, "events.parquet"))
        val q = graft.streaming.IncrementalIndexer.topkStream(spark, stream, k = 3)
          .writeStream.outputMode("update")
          .format("memory").queryName("x_stream_topk_sink")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "topk_rank").orderBy(col("n_seen").desc)
        spark.table("x_stream_topk_sink")
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .select("user_id", "topk_rank", "event_id", "value")
          .orderBy("user_id", "topk_rank")
      },
      defsTopkOracle),

    // Streaming session action paths — the threadPaths twin: the
    // sessionStream carry plus a BOUNDED first-20-action buffer per
    // open session (the same cap the batch operator applies before
    // its collect — per-user state is ≤ maxSteps entries no matter
    // how long a session runs). Completed sessions emit and leave
    // state; the final value per session is its max-n_events
    // emission.
    QueryDef("x_stream_threads",
      (spark, sfDir) => {
        Corpus.registerSources(spark, sfDir)
        // dual-layout-safe ts_us via the footer-probing shared adapter
        val stream = eventsStream(spark, streamSourceDir(spark, sfDir, "events.parquet"))
        val q = graft.streaming.IncrementalIndexer
          .threadStream(spark, stream, gapUs = 4L * 3600 * 1000000,
            maxSteps = 20)
          .writeStream.outputMode("update")
          .format("memory").queryName("x_stream_threads_sink")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "session_seq").orderBy(col("n_events").desc)
        spark.table("x_stream_threads_sink")
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .select("user_id", "session_seq", "n_events", "start_us", "path")
          .orderBy("user_id", "session_seq")
      },
      defsThreadsOracle),

    // Streaming IVF index maintenance: the coarse quantizer trains
    // ONCE as a batch job and freezes; new vectors then route to
    // cells STATELESSLY — broadcast centroids + per-row argmax — so
    // assignment streams for free: each micro-batch runs the same
    // map-side pass and appends. Identical arithmetic to the batch
    // assignment (float dot, 6 dp round, cell_id tie-break), so the
    // streamed result lands on the batch oracle bit-for-bit. Single
    // trigger: stateless assignment is batch-equal under any batching
    // (VERDICT r11 item 1).
    QueryDef("x_stream_ivf_assign",
      (spark, sfDir) => {
        Corpus.registerSources(spark, sfDir)
        import org.apache.spark.sql.types._
        val centroids = Corpus.ivfIndex(spark, sfDir).centroids
        val srcDir = multiFileSourceDir(spark, sfDir, "embeddings.parquet")
        val schema = StructType(Seq(
          StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)),
          StructField("label", IntegerType)))
        val outDir = java.nio.file.Files
          .createTempDirectory("graft-stream-ivf")
        outDir.toFile.deleteOnExit()
        val q = spark.readStream.schema(schema)
          .parquet(srcDir)
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            Similarity.assignToCentroids(batch, centroids)
              .write.mode("append").parquet(outDir.toString): Unit
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.read.parquet(outDir.toString)
          .select(col("vec_id"), col("cell_id").cast("long").as("cell_id"))
          .orderBy("vec_id")
      },
      Some(
        s"""WITH $exCte,
           |cx AS (
           |  SELECT vec_id AS cell_id, unnest(embedding) AS cv,
           |         unnest(range(len(embedding))) AS i
           |  FROM embeddings WHERE vec_id % $ivfStrideSql = 0
           |),
           |norms AS (SELECT vec_id, sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)) AS nn
           |          FROM ex GROUP BY vec_id),
           |cnorms AS (SELECT cell_id, sum(CAST(cv AS DOUBLE) * CAST(cv AS DOUBLE)) AS cn
           |           FROM cx GROUP BY cell_id),
           |allsims AS (
           |  SELECT e.vec_id, c.cell_id,
           |         round(sum(CAST(e.v AS DOUBLE) * CAST(c.cv AS DOUBLE))
           |               / (sqrt(n.nn) * sqrt(cn.cn)), 6) AS sim
           |  FROM ex e JOIN cx c ON e.i = c.i
           |  JOIN norms n ON n.vec_id = e.vec_id
           |  JOIN cnorms cn ON cn.cell_id = c.cell_id
           |  GROUP BY e.vec_id, c.cell_id, n.nn, cn.cn
           |)
           |SELECT vec_id, CAST(cell_id AS BIGINT) AS cell_id FROM (
           |  SELECT vec_id, cell_id,
           |         row_number() OVER (PARTITION BY vec_id
           |                            ORDER BY sim DESC, cell_id) AS rn
           |  FROM allsims
           |) r WHERE rn = 1
           |ORDER BY vec_id""".stripMargin)),

    // Streaming count–min sketch: the mergeable-sketch property
    // EXECUTING as an ordinary complete-mode streaming aggregation —
    // per-occurrence (row, bucket) updates stream in over 4
    // micro-batches (2 — cross-batch cellwise merge is the
    // mergeability proof and survives any batching, so the bench form
    // pays half the r10 commit floor), the state store holds exactly
    // the d·w counter cells (bounded state by construction, the
    // sketch's whole point), and cellwise addition across batches
    // lands on the batch sketch bit-for-bit. Oracle is the batch
    // cells SQL; hash parity IS the mergeability proof.
    QueryDef("x_stream_cms",
      (spark, sfDir) => {
        Corpus.registerSources(spark, sfDir)
        import org.apache.spark.sql.types._
        val srcDir = multiFileSourceDir(spark, sfDir, "documents.parquet")
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType)))
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "2").parquet(srcDir)
        val q = Pipeline.cmsCellUpdates(stream, "text", depth = 2, width = 16)
          .groupBy("rw", "bucket")
          .agg(count(lit(1)).as("cell"))
          .writeStream.outputMode("complete")
          .format("memory").queryName("x_stream_cms")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.table("x_stream_cms").orderBy("rw", "bucket")
      },
      Some(
        """WITH toks AS (
          |  SELECT unnest(list_filter(string_split_regex(coalesce(text, ''), '\s+'),
          |                x -> x <> '')) AS token
          |  FROM documents
          |),
          |cells AS (
          |  SELECT rs.r AS rw,
          |         CAST('0x' || substr(md5(rs.r || ':' || token), 1, 15) AS BIGINT) % 16 AS bucket
          |  FROM toks CROSS JOIN (SELECT unnest(range(2)) AS r) rs
          |)
          |SELECT rw, bucket, CAST(count(*) AS BIGINT) AS cell
          |FROM cells GROUP BY 1, 2
          |ORDER BY rw, bucket""".stripMargin)),

    // Streaming delta-vs-corpus near-dup screen: the production
    // ingestion path RUN AS A STREAM — arriving docs (doc_id % 5 = 0,
    // the same delta convention as x_dedup_delta) shingle/sign/band
    // in-row, probe the corpus's banded index via stream-static
    // joins, verify exact Jaccard with the compiled sorted-merge.
    // ZERO streaming state, append-only emissions; shares
    // x_dedup_delta's oracle verbatim (one contract, three
    // implementations: batch artifacts, stream-static join, SQL).
    // Single trigger — stateless, batch-equal under any batching; the
    // multi-batch form stays pinned by StreamBatchParitySpec.
    QueryDef("x_stream_neardup",
      (spark, sfDir) => {
        Corpus.registerSources(spark, sfDir)
        import org.apache.spark.sql.types._
        val sigs = minhashSigs(spark, sfDir)
        val corpusBanded = graft.ext.Dedup
          .bandedKeys(sigs.filter(col("doc_id") % 5 =!= 0), K, BANDS)
          .select(col("doc_id").as("corpus_id"), col("band"), col("band_key"))
        // per-side filter of the persisted per-doc array artifact (r15)
        // — identical content to the former per-query groupBy rollup
        // (grouping is per doc, so filter and rollup commute)
        val corpusArrs = docShingleArrs(spark, sfDir)
          .filter(col("doc_id") % 5 =!= 0)
          .select(col("doc_id").as("corpus_id"), col("__arr").as("__hc"),
            col("n_sh").as("n_c"))
        val srcDir = multiFileSourceDir(spark, sfDir, "documents.parquet")
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType)))
        val stream = spark.readStream.schema(schema)
          .parquet(srcDir)
          .filter(col("doc_id") % 5 === 0)
        val q = graft.streaming.IncrementalIndexer
          .neardupStream(spark, stream, corpusBanded, corpusArrs,
            k = K, bands = BANDS, threshold = 0.4)
          .writeStream.outputMode("append")
          .format("memory").queryName("x_stream_neardup_sink")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // the operator's return contract: one row per (pair, matching
        // band) — project the band away and dedup to the batch row set
        spark.table("x_stream_neardup_sink")
          .drop("band")
          .distinct()
          .orderBy("delta_id", "corpus_id")
      },
      Some(deltaNearDupOracle)),

    // Streaming containment ingest screen (r11): the asymmetric
    // sibling of x_stream_neardup — arriving docs (doc_id % 5 = 0)
    // probe the corpus's RARE-shingle posting index (df ≤ 8 on the
    // corpus side, an index probe with dfMax-bounded fan-out) and
    // verify exact containment shared·1000 DIV n_delta with the
    // compiled sorted-merge. ZERO streaming state; the oracle is the
    // same blocking + verify as relational SQL (blocking is part of
    // the operator contract — a delta doc contained ONLY via
    // corpus-common shingles is out of scope by design, the
    // boilerplate miner's territory). Single trigger — stateless,
    // batch-equal under any batching; multi-batch pinned by the
    // planted-superset parity case.
    QueryDef("x_stream_containment",
      (spark, sfDir) => {
        Corpus.registerSources(spark, sfDir)
        import org.apache.spark.sql.types._
        val sh = docShingles(spark, sfDir)
        val shC = sh.filter(col("doc_id") % 5 =!= 0)
        val rarePostings = shC
          .join(shC.groupBy("shingle").agg(count(lit(1)).as("__df"))
            .filter(col("__df") <= 8).select("shingle"), "shingle")
          .select(col("shingle"), col("doc_id").as("corpus_id"))
        // per-side filter of the persisted per-doc array artifact (r15)
        val corpusArrs = docShingleArrs(spark, sfDir)
          .filter(col("doc_id") % 5 =!= 0)
          .select(col("doc_id").as("corpus_id"), col("__arr").as("__hc"),
            col("n_sh").as("n_c"))
        val srcDir = multiFileSourceDir(spark, sfDir, "documents.parquet")
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType)))
        val stream = spark.readStream.schema(schema)
          .parquet(srcDir)
          .filter(col("doc_id") % 5 === 0)
        val q = graft.streaming.IncrementalIndexer
          .containmentStream(spark, stream, rarePostings, corpusArrs,
            minShingles = 10, thresholdPermille = 800)
          .writeStream.outputMode("append")
          .format("memory").queryName("x_stream_containment_sink")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // contract: one row per (pair, matching rare shingle) —
        // project the blocking shingle away, dedup to the pair set
        spark.table("x_stream_containment_sink")
          .drop("shingle")
          .distinct()
          .orderBy("delta_id", "corpus_id")
      },
      Some(
        s"""WITH ${shinglesCte(3)},
           |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
           |dfsC AS (
           |  SELECT shingle, count(*) AS df FROM sh
           |  WHERE doc_id % 5 <> 0 GROUP BY shingle
           |),
           |rare AS (SELECT shingle FROM dfsC WHERE df <= 8),
           |cands AS (
           |  SELECT DISTINCT d.doc_id AS delta_id, c.doc_id AS corpus_id
           |  FROM sh d
           |  JOIN rare r ON r.shingle = d.shingle
           |  JOIN sh c ON c.shingle = d.shingle AND c.doc_id % 5 <> 0
           |  WHERE d.doc_id % 5 = 0
           |),
           |shr AS (
           |  SELECT cd.delta_id, cd.corpus_id, count(*) AS shared
           |  FROM cands cd
           |  JOIN sh x ON x.doc_id = cd.delta_id
           |  JOIN sh y ON y.doc_id = cd.corpus_id AND y.shingle = x.shingle
           |  GROUP BY 1, 2
           |)
           |SELECT delta_id, corpus_id,
           |       CAST(sd.n_sh AS BIGINT) AS n_d,
           |       CAST(sc.n_sh AS BIGINT) AS n_c,
           |       CAST(shared AS BIGINT) AS shared,
           |       CAST(shared * 1000 // sd.n_sh AS BIGINT) AS containment_permille
           |FROM shr
           |JOIN sizes sd ON sd.doc_id = delta_id
           |JOIN sizes sc ON sc.doc_id = corpus_id
           |WHERE sd.n_sh >= 10 AND shared * 1000 // sd.n_sh >= 800
           |ORDER BY delta_id, corpus_id""".stripMargin)),

    // Streaming weighted sampling without replacement — the RESERVOIR
    // twin of x_pipe_weighted_sample (the A-ES family's classic
    // streaming use): hold a fixed-size weighted draw of an unbounded
    // ingest with state bounded by shards·k slots, not history. The
    // deterministic rank (portable-hash DIV weight) makes the fold a
    // SET fold — order/batching-independent — so the 2-micro-batch
    // run converges to the batch draw and shares its oracle VERBATIM
    // (one contract, three implementations: batch aggregate,
    // streaming reservoir, SQL). Global bottom-k assembled from the
    // ≤ shards·k final slots — the two-level distributed reservoir.
    QueryDef("x_stream_weighted_sample",
      (spark, sfDir) => {
        Corpus.registerSources(spark, sfDir)
        import org.apache.spark.sql.types._
        val srcDir = multiFileSourceDir(spark, sfDir, "documents.parquet")
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType)))
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "2").parquet(srcDir)
          .select(col("doc_id"),
            greatest(col("n_chars"), lit(1L)).as("weight"))
        val q = graft.streaming.IncrementalIndexer
          .weightedSampleStream(spark, stream, k = 200, shards = 64)
          .writeStream.outputMode("update")
          .format("memory").queryName("x_stream_weighted_sample_sink")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // ONE assembly contract (shared with the parity spec):
        // max-n_seen snapshot per (shard, slot) → global bottom-k
        graft.streaming.IncrementalIndexer
          .weightedSampleFinalize(
            spark.table("x_stream_weighted_sample_sink"), k = 200)
          .orderBy("sample_rank")
      },
      Some(
        """WITH h AS (
          |  SELECT doc_id, GREATEST(n_chars, 1) AS w,
          |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
          |           % 1099511627776 AS hh
          |  FROM documents
          |),
          |ranked AS (
          |  SELECT doc_id, w,
          |         row_number() OVER (ORDER BY hh // w, doc_id) AS sample_rank
          |  FROM h
          |)
          |SELECT doc_id, CAST(w AS BIGINT) AS weight,
          |       CAST(sample_rank AS BIGINT) AS sample_rank
          |FROM ranked WHERE sample_rank <= 200
          |ORDER BY sample_rank""".stripMargin)),

    // Streaming CUSUM drift monitor — the production form of
    // x_evt_cpd: the day histogram EXECUTES as an ordinary
    // complete-mode streaming count over 2 micro-batches (cross-batch
    // count merge is the state-class proof; state is the bounded
    // calendar-day relation by construction), then the IDENTICAL
    // batch window algebra (Events.cusumFromDaily) closes over the
    // final state. Shares x_evt_cpd's oracle VERBATIM (one contract,
    // three implementations: batch scan, streamed histogram, SQL).
    QueryDef("x_stream_cusum",
      (spark, sfDir) => {
        Corpus.registerSources(spark, sfDir)
        val srcDir = multiFileSourceDir(spark, sfDir, "events.parquet")
        val stream = eventsStream(spark, srcDir, maxFilesPerTrigger = 2)
        val q = stream
          .groupBy(expr("ts_us DIV 86400000000").as("day"))
          .agg(count(lit(1)).as("x"))
          .writeStream.outputMode("complete")
          .format("memory").queryName("x_stream_cusum_sink")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        graft.ext.Events.cusumFromDaily(
            spark.table("x_stream_cusum_sink").select("day", "x"))
          .orderBy("day")
      },
      defsCpdOracle)
  )
}
