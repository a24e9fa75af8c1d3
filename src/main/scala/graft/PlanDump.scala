package graft

import graft.query.{Enrich, SearchEngine}
import graft.text.{FtsQuery, Tokenize}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Prints the physical plans of the scale-critical query paths — the
  * evidence base for PLANS_r{N}.md. Run:
  * `sbt "runMain graft.PlanDump /root/testdata/sf0.001"`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def dump(name: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n===== $name =====")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }

    val index = Corpus.searchIndex(spark, sfDir)
    val arts = Corpus.textArtifacts(spark, sfDir, Tokenize.None_)

    // 1. enrichment: detail scan must be pruned by a broadcast
    //    semi-join on the page keys BEFORE the first-row window
    val page = index.filter(col("type") === "tpch.db/orders")
      .orderBy(col("timestamp").desc, col("key")).limit(40)
    dump("enrich_display (J3)")(
      Enrich.enrichType(spark, Corpus.rules.find(_.db == "tpch.db").get, page, "q"))

    // 2. prefix match: postings term-range prune, no token-array scan
    dump("p4_fts_prefix (urg*)")(
      SearchEngine.matchSet(arts, FtsQuery.parse("urg*", Tokenize.None_)))

    // 3. pure-OR match: union of posting sets, no token-array scan
    dump("p4_fts_or (signup OR purchase)")(
      SearchEngine.matchSet(arts, FtsQuery.parse("signup OR purchase", Tokenize.None_)))

    // 4. phrase: exact predicate over the postings candidate set only
    dump("p4_fts_phrase (\"slow fast\")")(
      SearchEngine.matchSet(arts, FtsQuery.parse("\"slow fast\"", Tokenize.None_)))

    // 5. IVF search against the prebuilt index
    val idx = Corpus.ivfIndex(spark, sfDir)
    val q = graft.ext.Similarity.vectorOf(spark.table("embeddings"), "vec_id", 0L)
    dump("x_sim_ivf (indexed search)")(
      graft.ext.Similarity.ivfSearchIndexed(idx, q, nprobe = 3, k = 10))

    // ---- round-4 evidence ------------------------------------------

    // 6. LSH ANN against the prebuilt in-memory index: bucket-isin
    //    filter over prebuilt signatures, NO signature recompute
    val lsh = Corpus.lshIndex(spark, sfDir)
    val qv = q
    dump("x_sim_lsh_ann (indexed probe)")(
      graft.ext.Similarity.lshSearchIndexed(lsh, qv, k = 10, probes = 3))

    // 7. LSH ANN against the PERSISTED bucket-partitioned layout:
    //    probe buckets must appear as PartitionFilters on lsh_bucket
    val lshDir = "target/plandump/lsh_index"
    graft.ext.Similarity.writeLshIndex(lsh, lshDir)
    dump("x_sim_lsh_ann (persisted, partition-pruned)")(
      graft.ext.Similarity.lshSearchPersisted(spark, lshDir, qv, k = 10, probes = 3))

    // 8. term-partitioned postings: a query's terms must appear as a
    //    static PartitionFilters IN on tb (the term-bucket column)
    val postDir = "target/plandump/postings"
    graft.index.TextIndex.writeTermPartitioned(arts.postings, postDir)
    val partArts = SearchEngine.TextArtifacts(
      arts.docTokens, spark.read.parquet(postDir), arts.positions)
    dump("p4 match on term-partitioned postings")(
      SearchEngine.matchSet(partArts, FtsQuery.parse("signup OR purchase", Tokenize.None_)))

    // 9. df-capped n-gram Jaccard (the declared path — see
    //    ExtDedupQueries for the measured capped-vs-prefix decision),
    //    plus the exact prefix-filter variant for natural-vocab corpora
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    dump("x_dedup_ngram (df-capped blocking join)")(
      graft.ext.Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        n = 3, threshold = 0.4, maxShingleDf = Some(50)))
    dump("ngram Jaccard prefix-filter variant (exact; for unsaturated universes)")(
      graft.ext.Dedup.ngramJaccardPairsPrefix(
        graft.ext.Dedup.shingles(docs, "text", "doc_id", 3), threshold = 0.4))

    // 10. in-row winnowing: must be a single map-side stage (no
    //     Exchange, no Window) — compare with the explode+window plan
    dump("x_text_winnow_native (compiled kernel, zero-shuffle)")(
      graft.ext.TextAnalysis.winnowFingerprintsNative(docs, "text", "doc_id"))
    dump("x_text_winnow_inrow (relational zero-shuffle variant)")(
      graft.ext.TextAnalysis.winnowFingerprintsInRow(docs, "text", "doc_id"))
    dump("x_text_winnow (explode+window variant)")(
      graft.ext.TextAnalysis.winnowFingerprints(docs, "text", "doc_id"))

    // ---- round-5 evidence: corpus pipeline operators ----------------

    // 11. split must be a bare map over the scan (no exchange at all)
    dump("x_pipe_split (pure map)")(
      graft.ext.Pipeline.split(docs))

    // 12. chunk: scan → generate (posexplode) → project; no exchange
    dump("x_pipe_chunk (zero-shuffle explode)")(
      graft.ext.Pipeline.chunk(docs, "text"))

    // 13. OOV: the vocab side must broadcast (vocabSize rows)
    dump("x_pipe_oov (broadcast vocab join)")(
      graft.ext.Pipeline.oovProfile(docs, "text"))

    // 13b. vocabulary: top-k must be TakeOrderedAndProject (per-
    //      partition heap + tiny merge), NOT a single-partition window
    //      over ALL distinct corpus tokens; the rank window then runs
    //      over the ≤ vocabSize-row take result, whose SinglePartition
    //      sorted output needs no further Exchange
    dump("x_pipe_vocab (TakeOrderedAndProject top-k)")(
      graft.ext.Pipeline.vocabulary(docs, "text"))

    // 14. contamination: benchmark fp set broadcast; corpus side one
    //     fingerprint scan + LeftSemi + agg, no pair join
    dump("x_pipe_contam (broadcast benchmark fps)")(
      graft.ext.Pipeline.contamination(docs,
        docs.filter(col("doc_id") % 97 === 0), "text"))

    // ---- round-6 evidence: quality + compliance screens -------------

    // 15. gopher profile and PII screen: pure maps (scan → project,
    //     zero Exchange at any corpus size)
    dump("x_quality_gopher (zero-shuffle map)")(
      graft.ext.Quality.gopherProfile(docs, "text"))
    dump("x_text_pii (zero-shuffle map)")(
      graft.ext.Quality.piiScreen(docs, "text"))

    // 16. ngram repetition: (doc, gram)-keyed aggregation tree — the
    //     only exchanges are hash-partitioned on doc/gram keys
    dump("x_quality_ngram_rep_relational (keyed agg tree)")(
      graft.ext.Quality.ngramRepetition(docs, "text"))

    // 17. url hosts: host-keyed agg + TakeOrderedAndProject top-k (no
    //     global sort, no single-partition window)
    dump("x_text_urlhosts (TakeOrderedAndProject top-k)")(
      graft.ext.Quality.urlHostProfile(docs, "text"))

    // 18. tfidf: tf/df keyed aggs, corpus count broadcast (1 row),
    //     top-k per doc via doc-partitioned window
    dump("x_text_tfidf (keyed aggs + broadcast count)")(
      graft.ext.Quality.tfidfTopTerms(docs, "text"))

    // ---- round-6 evidence ------------------------------------------

    // 15. exact quantiles: corpus work = one (group, len) count agg;
    //     the rank-selection window sees distinct lengths only
    dump("x_stats_length_quantiles (histogram ranks)")(
      graft.ext.Quality.lengthQuantiles(docs, "text"))

    // 16. boilerplate strip: hot set is a TakeOrderedAndProject capped
    //     agg; the clean pass is Scan → Project — text never exchanged
    dump("x_quality_boilerplate (pure-map clean pass)")(
      graft.ext.Quality.removeBoilerplate(docs, "text", minDocs = 2))

    // 17. compiled n-gram repetition kernel vs the keyed agg tree:
    //     zero Exchange, one Project
    dump("x_quality_ngram_rep (compiled kernel, the declared default)")(
      graft.ext.Quality.ngramRepetitionNative(docs, "text"))

    // 18. as-of join: ONE user_id Exchange + sort, no join operator in
    //     the plan at all
    Corpus.registerSources(spark, sfDir)
    val ev = spark.table("events")
      .withColumn("ts_us", unix_micros(col("ts")))
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts_us", "value")
    val views = ev.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts_us", "value")
    dump("x_evt_asof (union+window, zero joins)")(
      graft.ext.Events.asofJoin(clicks, views))

    // 19. funnel: k chained conditional-min windows sharing ONE
    //     exchange (consecutive Window nodes, single Exchange below)
    dump("x_evt_funnel (chained windows, one exchange)")(
      graft.ext.Events.funnel(
        ev.select("event_id", "user_id", "ts_us", "event_type"),
        Seq("view", "click", "purchase")))

    // 20. retention: distinct-first (partial-agg map side), min window
    //     in the distinct relation's exchange
    dump("x_evt_retention (distinct-first)")(
      graft.ext.Events.retention(ev))

    // 21. curation pipeline: scores computed BELOW the dedup window's
    //     exchange; exchanged row = (digest, id, scores), not text
    dump("x_pipeline_curation (narrow-shuffle composition)")(
      SparkEntry.queries("x_pipeline_curation")(spark, sfDir))

    // ---- round-7 evidence ------------------------------------------

    // 22. duplicate spans: gram-keyed agg + join on the 8-byte hash,
    //     doc-keyed window — NO pair join anywhere in the plan
    dump("x_dedup_spans (gram-keyed, no pair join)")(
      graft.ext.Dedup.duplicateSpans(docs, "text", "doc_id"))

    // 23. more-like-this: query vector broadcast (posting-list probe),
    //     doc-keyed agg, TakeOrderedAndProject top-k
    dump("x_text_mlt (broadcast posting probe)")(
      graft.ext.Quality.moreLikeThis(docs, "text", queryId = 1L))

    // 24. span cutting: span rollup (already doc-keyed) + ONE doc-keyed
    //     LEFT join against in-row token counts — no corpus-sized term
    //     beyond span detection itself
    val spans = graft.ext.Dedup.duplicateSpans(docs, "text", "doc_id")
    dump("x_dedup_spans_cut (doc-keyed rollup + left join)")(
      graft.ext.Dedup.spanCutStatsFromSpans(spans, docs, "text", "doc_id"))

    // 25. paragraph self-dup: pure in-row map — Scan → Project, zero
    //     Exchange at any corpus size
    dump("x_quality_para_dup (zero-shuffle map)")(
      graft.ext.Quality.paragraphDupStats(docs, "text"))

    // 26. rolling rates: ONE user_id Exchange + sort; the RANGE-frame
    //     window maintains a sliding aggregate (O(1) state per key);
    //     integer-cents quantization is a Project below the window
    dump("x_evt_rolling (one exchange, sliding RANGE frame)")(
      graft.ext.Events.rollingCounts(
        ev.select("event_id", "user_id", "ts_us", "value")))

    // 27. dedup-method overlap: both inputs are the methods' own
    //     bounded pair outputs; the overlap adds one pair-keyed
    //     full-outer join + a tiny agg — no new quadratic term
    val mhPairs = graft.ext.Dedup.minhashNearDups(docs, "text", "doc_id",
      shingleN = 3, k = 16, bands = 4, threshold = 0.4)
    val shPairs = graft.ext.Dedup.simhashNearDups(docs, "text", "doc_id",
      bits = 60, bands = 4, maxHamming = 8)
    dump("x_dedup_method_overlap (pair-keyed full-outer)")(
      mhPairs.select(col("id_a"), col("id_b")).withColumn("m", lit(1))
        .join(shPairs.select(col("id_a"), col("id_b")).withColumn("s", lit(1)),
          Seq("id_a", "id_b"), "full_outer")
        .select(coalesce(col("m"), lit(0)).cast("long").as("in_minhash"),
          coalesce(col("s"), lit(0)).cast("long").as("in_simhash"))
        .groupBy("in_minhash", "in_simhash").agg(count(lit(1)).as("n_pairs")))

    // 28. inter-arrival stats: two sorts (arrival order, then gap
    //     order for the median rank-selection) over ONE user exchange
    dump("x_evt_interarrival (two sorts, one exchange)")(
      graft.ext.Events.interArrival(
        ev.select("event_id", "user_id", "ts_us")))

    // ---- round-7 late evidence: FTS5 NEAR/^/group + sim scale fixes --

    // 29. NEAR: per-phrase occurrence sets from term-pruned positional
    //     postings, joined per (doc, field), distance filter — pure
    //     postings algebra, no token-array scan
    dump("p4_fts_near (positional occurrence join)")(
      SearchEngine.matchSet(arts,
        FtsQuery.parse("NEAR(urgent customer, 4)", Tokenize.None_)))

    // 30. ^ first-token: the phrase adjacency join filtered to
    //     occurrence start 0 — again postings-only
    dump("p4_fts_first (position-0 filter)")(
      SearchEngine.matchSet(arts, FtsQuery.parse("^view", Tokenize.None_)))

    // 31. grouping: (a OR b) c — OR = union+distinct of posting sets,
    //     juxtaposition AND = semi-join; all index-resolved
    dump("p4_fts_group ((urgent OR automobile) building)")(
      SearchEngine.matchSet(arts,
        FtsQuery.parse("(urgent OR automobile) building", Tokenize.None_)))

    // 32. cell-blocked near-dup (the SemDeDup shape): pairs join runs
    //     within the PREBUILT assignment's cell_id blocks — shuffle on
    //     cell_id, no label-cardinality bottleneck, no extra build
    dump("x_sim_neardup_cells (cell-blocked pairs)")(
      graft.ext.Similarity.cosineNearDupPairs(
        Corpus.ivfIndex(spark, sfDir).assigned, "cell_id", 0.4))

    // ---- round-7 continuation: FTS5 closure + derived porter build --

    // 33. phrase-prefix "order for buil"*: adjacency join whose LAST
    //     leg is a term-RANGE prune (buil <= term < buil+U+FFFF) on the
    //     positions relation — same file/row-group skip as prefixSet;
    //     still zero token-array scans
    dump("p4_fts_phrase_prefix (range-pruned last leg)")(
      SearchEngine.matchSet(arts,
        FtsQuery.parse("\"order for buil\"* NOT automobile", Tokenize.None_)))

    // 34. colsets: -title: / {search_1}: resolve at PARSE time to the
    //     single-field Field node — the plan is identical to a plain
    //     col: filter (field=1 postings legs), no new operator shape
    dump("p4_fts_colset (parse-time field-set resolution)")(
      SearchEngine.matchSet(arts,
        FtsQuery.parse("-title: customer {search_1} : urgent", Tokenize.None_)))

    // 35. derived porter positions (ASCII fast path): stem map over the
    //     ALREADY-BUILT default positions + one term re-cluster — the
    //     plan shows InMemoryTableScan (base artifact) → Project(stem)
    //     → Exchange, instead of source scan → regex split → posexplode
    dump("porter positions (derived from default artifacts)")(
      graft.index.TextIndex.stemPositions(arts.positions.get))

    // 36. bucketized range join: the BETWEEN containment join planned
    //     as a hash EQUI-join on (key, ts DIV bucket) — the plan must
    //     show SortMergeJoin/BroadcastHashJoin on the bucket keys with
    //     the exact start<=ts<=end as a post-join Filter, and NO
    //     BroadcastNestedLoopJoin (what the naive inequality join
    //     becomes)
    {
      val ev = spark.table("events")
        .withColumn("ts_us", unix_micros(col("ts")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us")
      val sess = graft.ext.Events.sessions(
        ev.select("event_id", "user_id", "ts_us"),
        gapUs = 4L * 3600 * 1000000)
        .select("user_id", "session_seq", "start_us", "end_us")
      dump("x_evt_range_join (bucketized containment)")(
        graft.ext.Events.rangeJoin(purchases, sess,
          bucketUs = 6L * 3600 * 1000000))

      // 37. keyless variant: bucket is the ONLY join key — the global
      //     interval side is dimension-sized, so expect AQE to turn
      //     the bucket shuffle into a broadcast hash join
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "ts_us")
      val windows = ev
        .filter(col("event_type") === "purchase" && col("user_id") % 50 === 0)
        .select(col("event_id").as("anchor_id"),
          (col("ts_us") - 1800000000L).as("start_us"),
          (col("ts_us") + 1800000000L).as("end_us"))
      dump("x_evt_range_join_global (keyless, bucket-only)")(
        graft.ext.Events.rangeJoinGlobal(clicks, windows,
          bucketUs = 3600L * 1000000))

      // 38. 13-gram contamination: benchmark gram set broadcast into a
      //     semi-join over ONE corpus shingle scan — no pair join
      val docs = spark.table("documents")
      dump("x_pipe_contam_ngram (broadcast benchmark grams)")(
        graft.ext.Pipeline.contaminationNgram(docs,
          docs.filter(col("doc_id") % 97 === 0), "text"))

      // 39. collocations: bigrams in-row (no positional join), pair agg
      //     map-side combined, unigram joins broadcast the FILTERED
      //     pair side, top-k is TakeOrderedAndProject
      dump("x_text_collocations (lift top-k)")(
        graft.ext.TextAnalysis.collocations(docs, "text"))

      // 40. keep-longest representative: narrow (doc_id, n_tokens)
      //     projection joined to the pair-derived components; ONE
      //     component-partitioned Exchange feeds row_number + count
      val pairs = graft.ext.Dedup.minhashNearDups(
        docs, "text", "doc_id", shingleN = 3, k = 16, bands = 4,
        threshold = 0.4)
      dump("x_dedup_keep_longest (component argmax)")(
        graft.ext.Dedup.keepRepresentative(
          graft.ext.Dedup.duplicateComponents(pairs.select("id_a", "id_b")),
          docs, "text"))

      // 41. z-ordered box probe: both dimension predicates reach the
      //     parquet scan as PushedFilters — min/max stats skip files
      //     whose boxes miss; no rewrite, no index structure
      val zdir = java.nio.file.Files.createTempDirectory("graft-zdump")
      zdir.toFile.deleteOnExit()
      graft.ext.Layout.writeZOrdered(
        spark.table("events")
          .withColumn("ts_us", unix_micros(col("ts")))
          .select("event_id", "user_id", "ts_us", "value", "event_type"),
        "user_id", "ts_us", zdir.resolve("ev").toString)
      dump("x_layout_zorder_box (pushed 2-D box over z-layout)")(
        spark.read.parquet(zdir.resolve("ev").toString)
          .filter(col("user_id").between(30, 60) &&
            col("ts_us").between(1704067200000000L, 1704672000000000L)))

      // 42. PQ ADC search over a PERSISTED index: the compressed-codes
      //     scan + in-row LUT adds + TakeOrderedAndProject — zero
      //     Exchange, no join; the scan IS the whole search
      val vecs = spark.table("embeddings")
      val pqDir = java.nio.file.Files.createTempDirectory("graft-pqdump")
      pqDir.toFile.deleteOnExit()
      graft.ext.Similarity.writePqIndex(
        graft.ext.Similarity.pqBuild(vecs, Corpus.PqSubspaces, Corpus.PqCodes),
        pqDir.toString)
      val pqIdx = graft.ext.Similarity.readPqIndex(spark, pqDir.toString)
      val q0 = graft.ext.Similarity.vectorOf(vecs, "vec_id", 0L)
      dump("x_sim_pq_adc (in-row LUT scan over persisted codes)")(
        graft.ext.Similarity.pqSearchIndexed(pqIdx, q0, 10))

      // 43. snapshot diff: each side reduces to (id, digest) BEFORE the
      //     full-outer join — 40-byte rows on the wire, text never
      //     crosses an exchange
      dump("x_pipe_snapshot_diff (digest-only full-outer join)")(
        graft.ext.Pipeline.snapshotDiff(docs,
          docs.filter(col("doc_id") % 17 =!= 0), Seq("text", "lang", "source")))

      // 44. SQ8 level-space search: codes scan + in-row integer
      //     squared-diff fold + TakeOrderedAndProject — zero Exchange,
      //     no join (the PQ shape at the 4×-compression point)
      val sqIdx = graft.ext.Similarity.sqBuild(vecs)
      dump("x_sim_sq8 (in-row level-space scan over codes)")(
        graft.ext.Similarity.sqSearchIndexed(sqIdx, q0, 10))

      // 45. bigram-LM scoring: vocab-bounded model aggs feed BROADCAST
      //     joins; the only corpus-keyed exchanges are the bigram-count
      //     agg and the final doc-keyed agg
      dump("x_quality_lm_score (broadcast LM model joins)")(
        graft.ext.Quality.bigramLmScore(docs, "text"))

      // 46. per-source KL: one (source,word) shuffle, then vocab-bounded
      dump("x_stats_source_kl (vocab-bounded drift agg)")(
        graft.ext.Quality.sourceUnigramKl(docs, "text"))

      // 47. NB classifier: vocab-bounded LLR model broadcast into the
      //     scoring join; corpus-keyed exchanges = token agg + doc agg
      dump("x_quality_nb_score (broadcast NB model scoring)")(
        graft.ext.Quality.nbScore(docs, "text", col("lang") === lit("en")))
    }

    spark.stop()
  }
}
