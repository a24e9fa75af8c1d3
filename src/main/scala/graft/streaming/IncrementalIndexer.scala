package graft.streaming

import graft.core.Schema
import graft.index.IndexJob
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery, Trigger}

/** Incremental indexing via Structured Streaming — the extension the
  * reference lacks entirely (its indexer is a full-rebuild batch CLI,
  * reference dogsheep_beta/cli.py:33-41; SURVEY §2.7/§7.5).
  *
  * Shape: `readStream` → per-batch document extraction → `foreachBatch`
  * REPLACE-merge into the same parquet index the batch indexer writes.
  * Because the merge is an idempotent last-writer-wins upsert on
  * (type, key) (SURVEY §1.4), replayed/late micro-batches are safe —
  * exactly-once effects without transactional sinks.
  *
  * At scale: the index is partitioned by `type` and merged with dynamic
  * partition overwrite ([[IndexJob.replaceInto]]), so each micro-batch
  * rewrites only the partitions it touches; watermarking bounds state
  * for the aggregating variant.
  */
object IncrementalIndexer {

  /** Transform a micro-batch of raw events into conformed index docs —
    * same contract as a batch rule (one doc per event, keyed by
    * event_id).
    */
  def eventDocs(events: DataFrame): DataFrame =
    Schema.conform(events.select(
      col("event_id").cast("string").as("key"),
      concat(col("event_type"), lit(" by user "), col("user_id").cast("string")).as("title"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("timestamp"),
      col("props").as("search_1")
    ).withColumn("type", lit("events.db/events")))

  /** Start the incremental indexer on a streaming events source,
    * merging each micro-batch into `indexPath`. Default trigger keeps
    * the query live for continuous ingest; pass
    * `Trigger.AvailableNow()` for a drain-and-stop backfill run.
    */
  def start(spark: SparkSession, events: DataFrame, indexPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    events.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        IndexJob.replaceInto(spark, indexPath, eventDocs(batch))
      }
      .start()

  /** Watermarked rolling aggregate over the stream (the windowed-agg
    * surface: event counts + value sums per 10-minute window and type).
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))

  /** [[windowedCounts]] in exact integer arithmetic — the oracle-checkable
    * form: values quantize ONCE to integer cents (the x_evt_rolling
    * recipe — a DOUBLE sum's fold order varies across engines, a BIGINT
    * sum cannot), window starts emit as epoch-µs BIGINTs. This pins the
    * BUILT-IN streaming-aggregation state class the custom twins
    * deliberately avoid: state lives in the state store (one row per
    * open (window, type) group — bounded by the watermark horizon ×
    * group cardinality, not history), updates are the engine's own
    * partial aggregates, and no user state code exists at all.
    * `watermarkDelay` must cover the source's disorder bound for the
    * final state to equal the batch aggregate (the batch-equivalence
    * contract; a production deployment sets it to the real ingest
    * disorder and trades the tail for bounded state).
    */
  def windowedCents(events: DataFrame, windowDur: String = "10 minutes",
      watermarkDelay: String = "60 days"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .withColumn("__cents",
        floor(col("value").cast("double") * 100 + lit(0.5)).cast("long"))
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("__cents")).as("sum_cents"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n_events"), col("sum_cents"))

  /** Watermarked stream-stream interval join — the symmetric-hash-join
    * state class (the ONE built-in stateful operator class the other
    * twins don't touch): each `queryType` event joins every `refType`
    * event of the same user whose ts lies within `[ref.ts, ref.ts +
    * horizon]`. Both sides buffer rows in the state store; the
    * event-time range condition plus the two watermarks let the engine
    * evict a buffered row once the opposite watermark passes its join
    * horizon — state is bounded by (rate × horizon + disorder), not
    * history, which is what makes the operator run forever at 100 TB
    * ingest.
    *
    * Inner joins emit each matched pair exactly once, eagerly, in
    * append mode — a join output is a SET, so the result is
    * batch-equal under ANY batching with no fold-order caveats, as
    * long as `watermarkDelay` covers the source's disorder (the
    * repo-wide batch-equivalence contract; production sets it to the
    * real ingest disorder). Self-joining one source stream by filtering
    * it two ways is the canonical Spark shape for same-table temporal
    * correlation.
    */
  def streamIntervalJoin(events: DataFrame, refType: String = "view",
      queryType: String = "click", horizon: String = "1 hour",
      watermarkDelay: String = "60 days"): DataFrame = {
    val refs = events.filter(col("event_type") === refType)
      .select(col("event_id").as("ref_id"), col("user_id"),
        col("ts").as("ref_ts"))
      .withWatermark("ref_ts", watermarkDelay)
    val queries = events.filter(col("event_type") === queryType)
      .select(col("event_id").as("query_id"),
        col("user_id").as("__q_user_id"), col("ts").as("query_ts"))
      .withWatermark("query_ts", watermarkDelay)
    refs.join(queries,
        col("user_id") === col("__q_user_id") &&
          col("query_ts") >= col("ref_ts") &&
          col("query_ts") <= col("ref_ts") + expr(s"INTERVAL $horizon"))
      .select(col("user_id"), col("ref_id"), col("query_id"),
        unix_micros(col("ref_ts")).as("ref_ts_us"),
        unix_micros(col("query_ts")).as("query_ts_us"))
  }

  /** Arbitrary per-key state, evolved with `mapGroupsWithState` — the
    * custom-state surface (SURVEY §2.7 extension): one state row per
    * user carrying the event count and the latest event, updated
    * incrementally per micro-batch. The fold is ORDER-INDEPENDENT
    * (count + argmax by (ts, event_id)), so results are deterministic
    * under any batching/shuffling of the stream — the property that
    * makes the operator safe under replay and lets a batch SQL oracle
    * check it.
    */
  final case class UserEventState(
      user_id: Long,
      n_events: Long,
      last_ts: String,
      last_type: String,
      last_event_id: Long
  )

  /** Streaming exact-dedup screen: one state row per content digest,
    * evolved with `flatMapGroupsWithState` — the streaming equivalent
    * of keep-first exact dedup (an arriving document is a duplicate iff
    * its digest was ever seen). The fold is ORDER-INDEPENDENT
    * (keep_id = min doc_id seen, n_copies = total seen), so any
    * batching/replay of the stream converges to the batch answer and a
    * batch SQL oracle checks it. State is one (digest, long, long) row
    * per DISTINCT content — bounded by unique-content count, the same
    * bound the batch digest-groupBy shuffles.
    */
  final case class DedupState(digest: String, keep_id: Long, n_copies: Long)

  def dedupStream(spark: SparkSession, docs: DataFrame): Dataset[DedupState] = {
    import spark.implicits._
    docs
      .select(md5(coalesce(col("text"), lit("")).cast("binary")).as("digest"),
        col("doc_id").cast("long").as("doc_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[DedupState, DedupState](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) { case (dig, rows, state) =>
        val ids = rows.map(_._2)
        var minId = Long.MaxValue
        var n = 0L
        ids.foreach { id => if (id < minId) minId = id; n += 1 }
        val prev = state.getOption
        val s = DedupState(dig,
          math.min(prev.map(_.keep_id).getOrElse(Long.MaxValue), minId),
          prev.map(_.n_copies).getOrElse(0L) + n)
        state.update(s)
        Iterator.single(s)
      }
  }

  /** Streaming delta-vs-corpus NEAR-dup screen — the ingestion path of
    * [[graft.ext.Dedup.deltaNearDupsFromArtifacts]] run as a stream:
    * arriving docs shingle, sign, and band IN-ROW (pure projections —
    * a doc's signature depends only on itself, no stateful agg), probe
    * the corpus's persisted banded index with a stream-static join,
    * and verify exact Jaccard against the corpus's per-doc sorted
    * shingle arrays with the compiled two-pointer merge — ZERO
    * streaming state (stream-static joins keep none), append-only
    * emissions, no watermark needed.
    *
    * RETURN CONTRACT (ADVICE r10): one row per (delta_id, corpus_id,
    * band) — a pair that matches in SEVERAL LSH bands is emitted once
    * PER MATCHING BAND (the `band` column makes the multiplicity
    * self-explaining), because collapsing across bands would need a
    * streaming aggregation and this operator is deliberately
    * zero-state. Consumers that want the batch screen's one-row-per-
    * pair relation MUST project the band away and dedup
    * (`.drop("band").distinct()` — what the batch twin
    * [[graft.ext.Dedup.deltaNearDupsFromArtifacts]] does internally
    * before verification).
    *
    * Parity with the batch screen: in-row signatures share the batch
    * aggregate's arithmetic ([[graft.ext.Dedup.inRowSignature]]), band
    * keys share [[graft.ext.Dedup.bandedKeys]]'s derivation, and
    * `shared` counted by sorted-merge over full arrays equals the
    * batch's shingle-join count — so emissions, deduped per the
    * contract above, equal the batch operator's rows and the two
    * share one oracle.
    *
    * At 100 TB: the corpus side is the persisted dedup index read in
    * place; per arriving doc the work is (bands × bucket hits) lookups
    * plus one merge per candidate — the shape a production ingest
    * screen needs.
    */
  def neardupStream(spark: SparkSession, docs: DataFrame,
      corpusBanded: DataFrame, corpusArrs: DataFrame, k: Int, bands: Int,
      threshold: Double): DataFrame = {
    graft.functions.ShingleFunctions.register(spark)
    val rowsPerBand = k / bands
    val withSh = docs
      .select(col("doc_id").as("delta_id"),
        sort_array(graft.functions.ShingleFunctions.shingle_hashes_e(
          lower(col("text")), 3)).as("__sh"))
      .filter(size(col("__sh")) > 0)
    val withSig = withSh.select(
      col("delta_id") +: col("__sh") +:
        graft.ext.Dedup.inRowSignature(col("__sh"), k): _*)
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => col(s"mh_$i"))
      struct(lit(b).as("band"), concat_ws("_", cols: _*).as("band_key"))
    }
    withSig
      .select(col("delta_id"), col("__sh"),
        explode(array(bandStructs: _*)).as("__b"))
      .select(col("delta_id"), col("__sh"),
        col("__b.band").as("band"), col("__b.band_key").as("band_key"))
      .join(corpusBanded, Seq("band", "band_key"))
      .join(corpusArrs, Seq("corpus_id"))
      .withColumn("shared",
        size(graft.functions.IntersectFunctions.sorted_intersect(
          col("__sh"), col("__hc"))).cast("long"))
      .withColumn("n_d", size(col("__sh")).cast("long"))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("n_d") + col("n_c") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("delta_id", "corpus_id", "band", "shared", "n_d", "n_c", "jaccard")
  }

  /** Streaming CONTAINMENT ingest screen — "is this arriving doc
    * already (mostly) inside something the corpus holds?" — the
    * asymmetric sibling of [[neardupStream]]: Jaccard misses a short
    * doc sitting verbatim inside a much larger corpus doc; containment
    * `shared·1000 DIV n_delta` is ~1000 there
    * ([[graft.ext.Dedup.containmentPairs]] is the batch self-join
    * form; this is the delta-vs-corpus direction run at ingest).
    *
    * ZERO streaming state, same recipe as the near-dup screen:
    * arriving docs shingle IN-ROW (the same compiled kernel / sorted
    * arrays), probe the corpus's RARE-shingle posting index
    * (df ≤ dfMax on the STATIC side — an index probe with fan-out
    * bounded by dfMax per shingle) via a stream-static join, and
    * verify with the compiled sorted-merge against the corpus doc's
    * full shingle array.
    *
    * RETURN CONTRACT (the [[neardupStream]] band precedent): one row
    * per (pair, matching rare shingle) — the `shingle` column makes
    * the multiplicity self-explaining, because collapsing it would
    * need a streaming aggregation and this operator is deliberately
    * stateless. Consumers wanting one row per pair MUST
    * `.drop("shingle").distinct()`.
    *
    * At 100 TB: the rare-posting index and per-doc array table are
    * the persisted dedup index read in place; per arriving doc the
    * work is (rare shingles × ≤ dfMax hits) probes + one merge per
    * candidate row.
    */
  def containmentStream(spark: SparkSession, docs: DataFrame,
      rarePostings: DataFrame, corpusArrs: DataFrame,
      minShingles: Int, thresholdPermille: Int): DataFrame = {
    graft.functions.ShingleFunctions.register(spark)
    val withSh = docs
      .select(col("doc_id").as("delta_id"),
        sort_array(graft.functions.ShingleFunctions.shingle_hashes_e(
          lower(col("text")), 3)).as("__sh"))
      .filter(size(col("__sh")) > 0)
    withSh
      .select(col("delta_id"), col("__sh"), explode(col("__sh")).as("shingle"))
      .join(rarePostings, Seq("shingle"))
      .join(corpusArrs, Seq("corpus_id"))
      .withColumn("shared",
        size(graft.functions.IntersectFunctions.sorted_intersect(
          col("__sh"), col("__hc"))).cast("long"))
      .withColumn("n_d", size(col("__sh")).cast("long"))
      .withColumn("containment_permille", expr("shared * 1000 DIV n_d"))
      .filter(col("n_d") >= minShingles &&
        col("containment_permille") >= thresholdPermille)
      .select("delta_id", "corpus_id", "shingle", "n_d", "n_c", "shared",
        "containment_permille")
  }

  /** Streaming gap sessionization — [[graft.ext.Events.sessions]] as
    * incremental state. State per user is ONE open-session carry
    * (last ts, seq, size, start): completed sessions are emitted and
    * leave state, so memory is bounded by active users, not history.
    * Each batch's events are sorted in-group by (ts, id) — in-batch
    * arrival order never matters; across batches the output equals the
    * batch operator whenever batches respect event-time order per key
    * (the standard streaming-sessionization contract — a watermark
    * bounds the violation window in production). Update-mode sinks see
    * one row per session per batch it changed in; the final value of a
    * session is its emission with the highest n_events.
    */
  final case class SessionRow(user_id: Long, session_seq: Long,
      n_events: Long, start_us: Long, end_us: Long, duration_us: Long)
  final case class SessionCarry(last_ts: Long, seq: Long,
      n: Long, start: Long)

  def sessionStream(spark: SparkSession, events: DataFrame,
      gapUs: Long): Dataset[SessionRow] = {
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts_us").cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionCarry, SessionRow](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) { case (uid, rows, state) =>
        val sorted = rows.toArray.sortBy(r => (r._3, r._2))
        val out = scala.collection.mutable.ArrayBuffer.empty[SessionRow]
        var s = state.getOption.orNull
        sorted.foreach { case (_, _, ts) =>
          if (s == null) s = SessionCarry(ts, 1L, 1L, ts)
          else if (ts - s.last_ts > gapUs) {
            out += SessionRow(uid, s.seq, s.n, s.start, s.last_ts,
              s.last_ts - s.start) // close the previous session
            s = SessionCarry(ts, s.seq + 1, 1L, ts)
          } else s = SessionCarry(ts, s.seq, s.n + 1, s.start)
        }
        if (s != null) {
          state.update(s)
          // provisional row for the still-open session
          out += SessionRow(uid, s.seq, s.n, s.start, s.last_ts,
            s.last_ts - s.start)
        }
        out.iterator
      }
  }

  /** Streaming session action paths — [[graft.ext.Events.threadPaths]]
    * as incremental state: the [[sessionStream]] carry plus a BOUNDED
    * action buffer (first `maxSteps` (ts, id, action) triples of the
    * open session — the same cap the batch operator applies BEFORE
    * its collect, so state per user is ≤ maxSteps entries no matter
    * how long a session runs). Completed sessions emit their joined
    * path and leave state; the still-open session emits a provisional
    * row each batch, and n_events only grows, so the final value per
    * session is its emission with max n_events (the declared query's
    * pick). Same cross-batch contract as sessionStream: equals the
    * batch operator whenever batches respect per-key event-time
    * order.
    */
  final case class ThreadRow(user_id: Long, session_seq: Long,
      n_events: Long, start_us: Long, path: String)
  final case class ThreadCarry(last_ts: Long, seq: Long, n: Long,
      start: Long, acts: Array[String])

  def threadStream(spark: SparkSession, events: DataFrame,
      gapUs: Long, maxSteps: Int): Dataset[ThreadRow] = {
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts_us").cast("long"), col("event_type").cast("string"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[ThreadCarry, ThreadRow](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) { case (uid, rows, state) =>
        val sorted = rows.toArray.sortBy(r => (r._3, r._2))
        val out = scala.collection.mutable.ArrayBuffer.empty[ThreadRow]
        def row(s: ThreadCarry): ThreadRow =
          ThreadRow(uid, s.seq, s.n, s.start, s.acts.mkString(">"))
        var s = state.getOption.orNull
        sorted.foreach { case (_, _, ts, act) =>
          if (s == null) s = ThreadCarry(ts, 1L, 1L, ts, Array(act))
          else if (ts - s.last_ts > gapUs) {
            out += row(s) // close the previous session
            s = ThreadCarry(ts, s.seq + 1, 1L, ts, Array(act))
          } else s = ThreadCarry(ts, s.seq, s.n + 1, s.start,
            if (s.acts.length < maxSteps) s.acts :+ act else s.acts)
        }
        if (s != null) {
          state.update(s)
          out += row(s) // provisional row for the still-open session
        }
        out.iterator
      }
  }

  /** Streaming rolling event rates — [[graft.ext.Events.rollingCounts]]
    * as incremental state: for every event, the count and integer-cents
    * value sum of the SAME user's events in the trailing `windowUs`
    * (event included). State per user is the in-window event buffer
    * (ts, cents) plus its running sum — bounded by window span × peak
    * per-user event rate, NOT history: everything older than
    * `max_ts - windowUs` is evicted as events arrive. Each batch's
    * group is sorted by (ts, id) and processed in TS-TIE GROUPS: the
    * batch operator's RANGE frame counts all equal-ts peers in every
    * peer's frame, so tied events are buffered together before any of
    * them emits. Tie groups SPLIT ACROSS BATCHES (equal-ts events in
    * consecutive micro-batches — routine in real streams) are handled
    * by re-emission: state remembers the event ids at the newest
    * buffered instant, and when more peers arrive at that same ts the
    * earlier peers re-emit with the corrected frame. Counts only grow
    * for a given event, so the FINAL value per event is its emission
    * with max n_trailing (the declared query's pick). Equals the batch
    * operator whenever batches respect per-key event-time order, ties
    * allowed to straddle boundaries.
    */
  final case class RollingRow(event_id: Long, user_id: Long, ts_us: Long,
      n_trailing: Long, sum_trailing_cents: Long)
  final case class RollingCarry(ts: Array[Long], cents: Array[Long],
      running: Long, tieTs: Long, tieIds: Array[Long])

  def rollingStream(spark: SparkSession, events: DataFrame,
      windowUs: Long): Dataset[RollingRow] = {
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts_us").cast("long"),
        floor(col("value").cast("double") * 100 + 0.5).cast("long"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[RollingCarry, RollingRow](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) { case (uid, rows, state) =>
        val sorted = rows.toArray.sortBy(r => (r._3, r._2))
        val buf = scala.collection.mutable.ArrayDeque.empty[(Long, Long)]
        var running = 0L
        var tieTs = Long.MinValue
        var tieIds = Array.empty[Long]
        state.getOption.foreach { s =>
          var i = 0
          while (i < s.ts.length) { buf += ((s.ts(i), s.cents(i))); i += 1 }
          running = s.running; tieTs = s.tieTs; tieIds = s.tieIds
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[RollingRow]
        var i = 0
        while (i < sorted.length) {
          // tie group: all events sharing this ts enter the frame together
          val ts = sorted(i)._3
          var j = i
          while (j < sorted.length && sorted(j)._3 == ts) {
            buf += ((ts, sorted(j)._4)); running += sorted(j)._4; j += 1
          }
          while (buf.nonEmpty && buf.head._1 < ts - windowUs) {
            running -= buf.head._2; buf.removeHead()
          }
          if (ts == tieTs) {
            // earlier batches' peers at this instant gain new frame
            // members: re-emit them corrected (n only grows)
            tieIds.foreach { id =>
              out += RollingRow(id, uid, ts, buf.length, running)
            }
            tieIds = tieIds ++ sorted.slice(i, j).map(_._2)
          } else {
            tieTs = ts
            tieIds = sorted.slice(i, j).map(_._2)
          }
          while (i < j) {
            out += RollingRow(sorted(i)._2, uid, ts, buf.length, running)
            i += 1
          }
        }
        state.update(RollingCarry(buf.map(_._1).toArray,
          buf.map(_._2).toArray, running, tieTs, tieIds))
        out.iterator
      }
  }

  /** Streaming ordered funnel — [[graft.ext.Events.funnel]] as
    * incremental state: per user, the earliest in-sequence completion
    * timestamps of `steps` (t₀ = first step-0 event; tₛ = first step-s
    * event at or after tₛ₋₁). State is ONE fixed-size array of k
    * timestamps per user (-1 = not reached) — O(k) regardless of
    * history. Each batch's group is processed sorted by (ts, id) in
    * TS-TIE GROUPS with steps applied in order inside a group, so a
    * step-s and step-(s+1) event at the SAME timestamp chain exactly
    * like the batch operator's `>=` window conditions. Tie groups
    * SPLIT ACROSS BATCHES are handled by remembering the step set seen
    * at the newest instant: when more events arrive at that same ts,
    * the chain re-evaluates over the merged set (a click@t in batch n
    * chains behind a view@t arriving in batch n+1, as in batch). Once
    * set, a tₛ never changes (first-qualifying = min under per-key
    * event-time-ordered arrival, ties allowed to straddle boundaries).
    * Emissions only refine: the final value per user is the per-column
    * max over its emissions (-1 sentinel sorts below every real ts).
    */
  final case class FunnelEmit(user_id: Long, steps: Array[Long])
  final case class FunnelCarry(steps: Array[Long], tieTs: Long,
      tieSteps: Array[Int])

  def funnelStream(spark: SparkSession, events: DataFrame,
      steps: Seq[String]): Dataset[FunnelEmit] = {
    import spark.implicits._
    val k = steps.size
    val stepIdx = steps.zipWithIndex.toMap
    events
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts_us").cast("long"), col("event_type").cast("string"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelCarry, FunnelEmit](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) { case (uid, rows, state) =>
        val carry = state.getOption
        val t = carry.map(_.steps.clone()).getOrElse(Array.fill(k)(-1L))
        var tieTs = carry.map(_.tieTs).getOrElse(Long.MinValue)
        var tieSteps = carry.map(_.tieSteps).getOrElse(Array.empty[Int])
        val sorted = rows.toArray.sortBy(r => (r._3, r._2))
        var i = 0
        while (i < sorted.length) {
          val ts = sorted(i)._3
          var j = i
          while (j < sorted.length && sorted(j)._3 == ts) j += 1
          val groupSteps = sorted.slice(i, j)
            .flatMap(r => stepIdx.get(r._4))
          // merge with remembered same-instant steps from prior batches
          val present: Set[Int] =
            if (ts == tieTs) (tieSteps ++ groupSteps).toSet
            else groupSteps.toSet
          var s = 0
          while (s < k) {
            if (t(s) == -1L && present.contains(s) &&
                (s == 0 || (t(s - 1) != -1L && ts >= t(s - 1)))) t(s) = ts
            s += 1
          }
          if (ts == tieTs) tieSteps = present.toArray
          else { tieTs = ts; tieSteps = present.toArray }
          i = j
        }
        state.update(FunnelCarry(t, tieTs, tieSteps))
        Iterator.single(FunnelEmit(uid, t))
      }
  }

  /** Streaming as-of join — [[graft.ext.Events.asofJoin]] as
    * incremental state: each query-side event is enriched with the most
    * recent ref-side event of the same user (`ref.ts <= query.ts`, ties
    * on ts → highest id). State per user is ONE ref row — the classic
    * stream-enrichment state (latest profile/price/location) — plus the
    * query ids at the newest instant, O(1 + ties) regardless of
    * history. Each batch's group is sorted by (ts, side, id) with refs
    * BEFORE queries at the same timestamp, so a ref exactly at the
    * query's timestamp matches — the batch operator's tie rule. Tie
    * groups SPLIT ACROSS BATCHES are handled by re-emission: a ref
    * arriving at the SAME instant as already-emitted queries (from an
    * earlier batch) re-emits those queries with the better ref.
    * Emissions only improve (null → ref, or a same-ts higher-id ref),
    * so the FINAL row per query is its emission with the max
    * (ref_ts, ref_id), nulls last — the declared query's pick. The ref
    * carry updates by (ts, id) max-compare, so in-batch arrival order
    * never matters; across batches the contract is per-key event-time
    * order, ties allowed to straddle boundaries.
    */
  final case class AsofRow(event_id: Long, user_id: Long, ts_us: Long,
      value: Double, ref_event_id: Option[Long], ref_ts_us: Option[Long],
      ref_value: Option[Double])
  final case class AsofCarry(ref_id: Long, ref_ts: Long, ref_value: Double,
      hasRef: Boolean, tieTs: Long, tieQIds: Array[Long],
      tieQVals: Array[Double])

  def asofStream(spark: SparkSession, events: DataFrame,
      refType: String, queryType: String): Dataset[AsofRow] = {
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts_us").cast("long"), col("value").cast("double"),
        col("event_type").cast("string"))
      .filter(col("event_type").isin(refType, queryType))
      .as[(Long, Long, Long, Double, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AsofCarry, AsofRow](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) { case (uid, rows, state) =>
        // refs sort before queries at the same ts (side 0 < 1)
        val sorted = rows.toArray.sortBy(r =>
          (r._3, if (r._5 == refType) 0 else 1, r._2))
        var carry = state.getOption.getOrElse(
          AsofCarry(0L, 0L, 0.0, hasRef = false, Long.MinValue,
            Array.empty, Array.empty))
        val out = scala.collection.mutable.ArrayBuffer.empty[AsofRow]
        def emit(eid: Long, ts: Long, v: Double): Unit =
          out += (if (!carry.hasRef)
            AsofRow(eid, uid, ts, v, None, None, None)
          else
            AsofRow(eid, uid, ts, v, Some(carry.ref_id),
              Some(carry.ref_ts), Some(carry.ref_value)))
        sorted.foreach { case (_, eid, ts, v, typ) =>
          if (typ == refType) {
            if (!carry.hasRef || ts > carry.ref_ts ||
                (ts == carry.ref_ts && eid > carry.ref_id)) {
              carry = carry.copy(ref_id = eid, ref_ts = ts, ref_value = v,
                hasRef = true)
              // tie split across batches: queries already emitted at
              // this SAME instant gain this ref — re-emit them improved
              if (ts == carry.tieTs && carry.tieQIds.nonEmpty) {
                var q = 0
                while (q < carry.tieQIds.length) {
                  emit(carry.tieQIds(q), ts, carry.tieQVals(q)); q += 1
                }
              }
            }
          } else {
            emit(eid, ts, v)
            carry =
              if (ts == carry.tieTs)
                carry.copy(tieQIds = carry.tieQIds :+ eid,
                  tieQVals = carry.tieQVals :+ v)
              else
                carry.copy(tieTs = ts, tieQIds = Array(eid),
                  tieQVals = Array(v))
          }
        }
        state.update(carry)
        out.iterator
      }
  }

  /** Streaming per-key top-k leaderboard — the streaming twin of the
    * [[graft.functions.TopKDesc]] bounded aggregate: per user, the k
    * highest-value events seen so far. State per user is EXACTLY the
    * aggregate's buffer — k (event_id, value) slots, kept best-first
    * — so memory is k rows per active key no matter how much history
    * streams past (the same O(k) bound the batch aggregate holds per
    * group). The fold is a SET fold (max-k by (value DESC, id ASC)):
    * order-independent, so any batching/replay converges to the batch
    * answer and the batch window SQL is the oracle. Each batch emits
    * the current top-k with a monotone `n_seen` marker; the final
    * value per (user, rank) is its emission with max n_seen.
    */
  final case class TopKRow(user_id: Long, topk_rank: Long, event_id: Long,
      value: Double, n_seen: Long)
  final case class TopKCarry(ids: Array[Long], values: Array[Double],
      n_seen: Long)

  def topkStream(spark: SparkSession, events: DataFrame,
      k: Int): Dataset[TopKRow] = {
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("value").cast("double"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TopKCarry, TopKRow](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) { case (uid, rows, state) =>
        val prev = state.getOption
        // best-first working list, never longer than k
        var top = prev.map(p => p.ids.zip(p.values).toList).getOrElse(Nil)
        var n = prev.map(_.n_seen).getOrElse(0L)
        def beats(a: (Long, Double), b: (Long, Double)): Boolean =
          a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)
        rows.foreach { case (_, eid, v) =>
          n += 1
          val it = (eid, v)
          if (top.size < k || beats(it, top.last)) {
            val (better, worse) = top.span(beats(_, it))
            top = (better ::: it :: worse).take(k)
          }
        }
        val arr = top.toArray
        state.update(TopKCarry(arr.map(_._1), arr.map(_._2), n))
        arr.iterator.zipWithIndex.map { case ((eid, v), i) =>
          TopKRow(uid, i + 1L, eid, v, n)
        }
      }
  }

  /** Streaming weighted sampling without replacement — the RESERVOIR
    * form of [[graft.ext.Pipeline.weightedSample]], the classic A-ES
    * streaming use: hold a fixed-size weighted sample of an unbounded
    * ingest with state bounded by k, not history. Same deterministic
    * rank contract as the batch operator (rank = portable-hash(id) on
    * [0,2^40) DIV weight, bottom-k by (rank, id)); the rank depends
    * only on (id, weight), so the fold is a SET fold — order- and
    * batching-independent — and the streamed reservoir converges to
    * the batch draw exactly (the oracle is the batch SQL verbatim).
    *
    * Distributed shape: docs shard by `id % shards`; each shard's
    * state is its local bottom-k (≤ k (rank, id, weight) slots — the
    * shard-local reservoir), and the global bottom-k is assembled
    * from the ≤ shards·k final slots in the consumer — the standard
    * two-level distributed reservoir; no single task ever sees the
    * stream, and state is shards·k rows however long it runs. Each
    * batch re-emits a shard's current slots with a monotone `n_seen`
    * marker; final value per (shard, slot) = its max-n_seen emission.
    */
  final case class WSampleRow(shard: Long, slot: Long, rank_key: Long,
      doc_id: Long, weight: Long, n_seen: Long)
  final case class WSampleCarry(ranks: Array[Long], ids: Array[Long],
      ws: Array[Long], n_seen: Long)

  def weightedSampleStream(spark: SparkSession, docs: DataFrame,
      k: Int, shards: Int = 64): Dataset[WSampleRow] = {
    import spark.implicits._
    val h = pmod(graft.ext.Dedup.portableHash(col("doc_id").cast("string")),
      lit(1099511627776L)) // 2^40 — the batch operator's exact hash
    docs
      .select(col("doc_id").cast("long"),
        greatest(col("weight").cast("long"), lit(1L)).as("weight"))
      .withColumn("__h", h)
      .select(col("doc_id"), col("weight"),
        expr("__h DIV weight").as("rank_key"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1 % shards)
      .flatMapGroupsWithState[WSampleCarry, WSampleRow](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) { case (shard, rows, state) =>
        val prev = state.getOption
        // ascending (rank, id) working list, never longer than k;
        // size and the current worst tracked in vars so the common
        // REJECT path (heap full, candidate loses) is O(1) per row —
        // only accepted rows pay the O(k) ordered insert, and
        // acceptance decays as the reservoir hardens
        var keep = prev.map(p => p.ranks.lazyZip(p.ids).lazyZip(p.ws).toList)
          .getOrElse(List.empty[(Long, Long, Long)])
        var size = keep.size
        var worst = if (keep.isEmpty) null else keep.last
        var n = prev.map(_.n_seen).getOrElse(0L)
        def beats(a: (Long, Long, Long), b: (Long, Long, Long)): Boolean =
          a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
        rows.foreach { case (id, w, r) =>
          n += 1
          val it = (r, id, w)
          if (size < k || beats(it, worst)) {
            val (better, worse) = keep.span(beats(_, it))
            keep = (better ::: it :: worse).take(k)
            size = math.min(size + 1, k)
            worst = keep.last
          }
        }
        val arr = keep.toArray
        state.update(WSampleCarry(arr.map(_._1), arr.map(_._2),
          arr.map(_._3), n))
        arr.iterator.zipWithIndex.map { case ((r, id, w), i) =>
          WSampleRow(shard, i + 1L, r, id, w, n)
        }
      }
  }

  /** Assemble the FINAL global draw from a [[weightedSampleStream]]
    * update-mode sink: final value per (shard, slot) = its max-n_seen
    * emission (n_seen strictly increases and every invocation re-emits
    * all current slots), then the global bottom-k over the ≤ shards·k
    * final slots by the batch operator's exact order (rank_key, id).
    * Lives HERE so the bench query and the parity spec consume ONE
    * assembly contract instead of two copies.
    */
  def weightedSampleFinalize(sink: DataFrame, k: Int): DataFrame = {
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy("shard", "slot").orderBy(col("n_seen").desc)
    val wg = org.apache.spark.sql.expressions.Window
      .orderBy(col("rank_key"), col("doc_id"))
    sink
      .withColumn("__rn",
        org.apache.spark.sql.functions.row_number().over(wf))
      .filter(col("__rn") === 1)
      .withColumn("sample_rank",
        org.apache.spark.sql.functions.row_number().over(wg).cast("long"))
      .filter(col("sample_rank") <= k)
      .select("doc_id", "weight", "sample_rank")
  }

  def userStates(spark: SparkSession, events: DataFrame): Dataset[UserEventState] = {
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("event_id").cast("long"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("event_type"))
      .as[(Long, Long, String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserEventState, UserEventState](
        GroupStateTimeout.NoTimeout()) { case (uid, rows, state) =>
        var s = state.getOption.getOrElse(UserEventState(uid, 0L, "", "", -1L))
        rows.foreach { case (_, eid, ts, typ) =>
          val newer = ts > s.last_ts || (ts == s.last_ts && eid > s.last_event_id)
          s = UserEventState(uid, s.n_events + 1,
            if (newer) ts else s.last_ts,
            if (newer) typ else s.last_type,
            if (newer) eid else s.last_event_id)
        }
        state.update(s)
        s
      }
  }
}
