package graft

import graft.text.Tokenize

/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. The one-time artifact builds (search index,
  * both tokenizer text indexes, both IVF indexes) are materialized and
  * timed FIRST as a separate `setup` phase, then each query runs
  * against the persisted artifacts — mirroring the reference's serving
  * model, where indexing is a batch CLI and queries hit the prebuilt
  * index (reference dogsheep_beta/cli.py:33-41). `value`/`queries`
  * therefore measure QUERY latency; build cost is reported separately
  * under `setup` so round-over-round comparisons track the serving
  * path, not rebuild noise (VERDICT r2 item 4).
  *
  * Each query runs TWICE and reports the MIN (VERDICT r5 item 3): the
  * r5 driver artifact showed 15 entries >2× slower on byte-identical
  * code paths — single-shot timings in a contended sandbox measure the
  * sandbox, not the plan. Min-of-2 rejects one-off contention spikes
  * while still timing the real warm path; `setup` entries stay
  * single-run (they materialize state, a second run would measure the
  * cache) and are labeled as such via `setup_runs`.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession("graft-bench")

    // Host load average at cut START (VERDICT r13 item 4): the end-only
    // stamp measured the bench's OWN 32-thread load and contradicted
    // "quiet-window" prose on an artifact whose host really was idle at
    // launch. Both stamps go in the regime block; "quiet window" is a
    // DERIVED property (start load <= 4.0), never a prose label.
    val loadAvgStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }

    // SPARK_GRAFT_ONLY=name1,name2 runs just those queries and skips the
    // setup phase (iteration aid — e.g. measuring one query's sf0.1→sf1
    // slope without paying every artifact build). Artifacts a named
    // query needs build lazily inside run 1; min-of-2 reports the warm
    // run, so per-query numbers stay comparable with a full cut.
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // SPARK_GRAFT_RUNS (default 2): per-query run count for the min.
    // >2 is a diagnostic regime (JIT warm-up curves via
    // SPARK_GRAFT_TRACE); committed cuts use the default so
    // round-over-round numbers stay comparable. Stamped in `regime`.
    val runs = sys.env.get("SPARK_GRAFT_RUNS").map { s =>
      val n = try s.toInt catch {
        case _: NumberFormatException =>
          sys.error(s"SPARK_GRAFT_RUNS must be a positive integer, got '$s'")
      }
      require(n >= 1, s"SPARK_GRAFT_RUNS must be >= 1, got $n")
      n
    }.getOrElse(2)

    val setup = scala.collection.mutable.LinkedHashMap[String, Double]()
    if (only.isEmpty) {
    setup("index_build") = time { Corpus.searchIndex(spark, sfDir).count() }
    setup("text_index_build") = time {
      for (mode <- Seq(Tokenize.None_, Tokenize.Porter)) {
        val arts = Corpus.textArtifacts(spark, sfDir, mode)
        arts.postings.count()
        arts.positions.foreach(_.count())
      }
    }
    setup("ivf_build") = time {
      Corpus.ivfIndex(spark, sfDir).assigned.count()
      Corpus.kmeansIvfIndex(spark, sfDir).assigned.count()
    }
    setup("knn_build") = time {
      // the cell-blocked kNN-graph edge artifact (r14): consumed by
      // x_sim_clusters; x_sim_knn_graph still times the build itself
      ExtShared.knnGraphArtifact(spark, sfDir).count(): Unit
    }
    setup("lsh_build") = time {
      Corpus.lshIndex(spark, sfDir).signatures.count()
    }
    setup("pq_build") = time {
      Corpus.pqIndex(spark, sfDir).codes.count()
    }
    setup("sq_build") = time {
      Corpus.sqIndex(spark, sfDir).codes.count()
    }
    setup("dedup_build") = time {
      // the shared dedup artifacts, so the dedup queries time probes,
      // not builds (the TextIndex/IvfIndex model)
      Corpus.registerSources(spark, sfDir)
      Seq(ExtShared.docShingles, ExtShared.docShingleArrs, ExtShared.minhashSigs,
        ExtShared.dupSpans, ExtShared.simhashPairs, ExtShared.dupComponentsArtifact)
        .foreach(_(spark, sfDir).count())
    }
    setup("augment_build") = time {
      // oracle-augmentation fixture columns (VERDICT r7 item 6): built
      // here so the augmented-text queries time the operator only
      ExtShared.augDocs(spark, sfDir).count(): Unit
    }
    setup("tokenizer_build") = time {
      // train the BPE / unigram-LM / WordPiece models once — the
      // shipped-artifact serving model: encode/fertility queries time
      // ENCODING against the prebuilt model; the training queries
      // (x_pipe_bpe_merges, x_pipe_unigram_lm) still time training
      Seq(ExtShared.bpeMergesArtifact, ExtShared.unigramModelArtifact,
        ExtShared.wordpieceVocabArtifact).foreach(_(spark, sfDir).count())
    }
    setup("pca_build") = time {
      // the top-PC artifact (same shipped-model contract): x_sim_abtt
      // times the residual transform; x_sim_pca_power still times
      // the power-iteration training itself
      ExtShared.pcaArtifact(spark, sfDir): Unit
    }
    setup("graph_build") = time {
      // the co-purchase edge artifact (x_graph_kcore, x_graph_bfs) and
      // the triangle closure shared by x_graph_triangles and
      // x_graph_edgesim (r11): the enumeration is a build product —
      // the two consumers time their rollups, the build cost lands
      // here (the text-index / IVF / dedup-artifact contract).
      // NOTE for round-over-round reads: before r11 x_graph_triangles'
      // query timing INCLUDED the enumeration; from r11 on it does not.
      ExtShared.copurchaseEdges(spark, sfDir).count(): Unit
      ExtShared.copurchaseTriangleClosure(spark, sfDir).tri.count(): Unit
    }
    setup("layout_build") = time {
      // write-side layouts: bucketed orders/lineitem (the pre-paid
      // shuffle) + hive-partitioned events — queries time the READ
      ExtShared.bucketedTables(spark, sfDir): Unit
      ExtShared.eventsByTypeDir(spark, sfDir): Unit
    }
    // Storage-pool accounting (the r9 eviction post-mortem): when the
    // persisted-artifact working set outgrows the unified-memory pool,
    // artifact consumers silently pay rebuild/GC and WHICH query pays
    // depends on eviction order — the bench must report the footprint
    // so an undersized heap is visible in the artifact, not guessed.
    val st = spark.sparkContext.getRDDStorageInfo
    System.err.println(f"[bench] cached: ${st.length} rdds, " +
      f"mem=${st.map(_.memSize).sum / 1e9}%.2f GB, " +
      f"disk=${st.map(_.diskSize).sum / 1e9}%.2f GB, " +
      f"heap=${Runtime.getRuntime.maxMemory / 1e9}%.2f GB")
    }

    // Per-run success is tracked so the min is taken over SUCCESSFUL runs
    // only (ADVICE r6): a fast transient failure must not report as the
    // query's latency. Queries whose every run failed are listed under
    // "errors" in the JSON instead of contributing a bogus timing.
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val contrastResults = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.ArrayBuffer[String]()
    // Deliberate teaching contrasts (QueryDef.contrast) leave the timed
    // artifact (VERDICT r7 item 4): they exist to document a trade, not
    // to measure the engine, and their N² shapes dominate totals at sf1.
    // They stay oracle-checked in Verify; set SPARK_GRAFT_CONTRAST=1 to
    // time them too (reported SEPARATELY, never in the headline total).
    val timeContrast = sys.env.get("SPARK_GRAFT_CONTRAST").contains("1")
    SparkEntry.allDefs.foreach { d =>
      if (only.forall(_.contains(d.name))) {
      def once: (Double, Boolean) = {
        val t0 = System.nanoTime()
        val ok =
          try { d.fn(spark, sfDir).collect(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] ${d.name} failed: ${e.getMessage}")
            false
          }
        val t = (System.nanoTime() - t0) / 1e9
        // per-run trace (stderr, never the JSON line): run-to-run
        // deltas are the cold/warm split the min hides
        if (sys.env.get("SPARK_GRAFT_TRACE").contains("1"))
          System.err.println(f"[bench-trace] ${d.name} t=$t%.2f ok=$ok")
        (t, ok)
      }
      if (!d.contrast || timeContrast || only.exists(_.contains(d.name))) {
        val good = Seq.fill(runs)(once).collect { case (t, true) => t }
        if (good.isEmpty) errors += d.name
        else if (d.contrast) contrastResults(d.name) = good.min
        else results(d.name) = good.min
      }
      }
    }
    def toJson(m: scala.collection.Map[String, Double]): String =
      m.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    // Regime stamp (VERDICT r10 item 2): every bench JSON carries the
    // knobs that made r9/r10 cuts non-comparable — heap size (the 8g
    // eviction lottery / 32g compressed-oops cliff axis), parallelism,
    // scan-split sizing, and the post-run cached-artifact footprint —
    // so a cut is interpretable as an artifact, not via prose context.
    val stEnd = spark.sparkContext.getRDDStorageInfo
    val regimeJson = {
      val onlyJson = only.map(_.toSeq.sorted.map("\"" + _ + "\"")
        .mkString("[", ",", "]")).getOrElse("null")
      // quoted (ADVICE r11): Spark accepts byte-suffixed settings
      // ("512k") which are valid config but not valid bare JSON
      val mpb = "\"" + spark.conf.get("spark.sql.files.maxPartitionBytes") + "\""
      val openCost = "\"" + spark.conf.get("spark.sql.files.openCostInBytes") + "\""
      // host load average at cut START and END (VERDICT r11 item 2 +
      // r13 item 4): start is the ambient-contention axis (the cut's
      // admission state), end mostly measures the bench's own 32-thread
      // run; `load_avg` keeps the legacy end-stamp name so prior-round
      // artifacts stay comparable. -1.0 when the platform doesn't
      // expose it. `quiet_window` is derived from the START stamp.
      val loadAvgEnd = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      val quiet = loadAvgStart >= 0 && loadAvgStart <= 4.0
      f"""{"heap_gb":${Runtime.getRuntime.maxMemory / 1e9}%.2f,"cpus":$cpus,"tmpdir":"${System.getProperty("java.io.tmpdir")}","max_partition_bytes":$mpb,"open_cost_in_bytes":$openCost,"load_avg":$loadAvgEnd%.2f,"load_avg_start":$loadAvgStart%.2f,"load_avg_end":$loadAvgEnd%.2f,"quiet_window":$quiet,"cached_rdds":${stEnd.length},"cached_mem_gb":${stEnd.map(_.memSize).sum / 1e9}%.2f,"cached_disk_gb":${stEnd.map(_.diskSize).sum / 1e9}%.2f,"only":$onlyJson}"""
    }
    val total = results.values.sum
    val contrastTotal = contrastResults.values.sum
    val totalWith = total + contrastTotal
    val setupTotal = setup.values.sum
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val skippedJson = SparkEntry.allDefs.filter(d => d.contrast && !timeContrast)
      .map("\"" + _.name + "\"").mkString("[", ",", "]")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${toJson(results)},"runs_per_query":$runs,"agg":"min","errors":$errJson,"contrast_queries":${toJson(contrastResults)},"contrast_total":$contrastTotal%.3f,"total_with_contrast":$totalWith%.3f,"contrast_skipped":$skippedJson,"setup":${toJson(setup)},"setup_runs":1,"setup_total":$setupTotal%.3f,"regime":$regimeJson,"sf":"$sfDir"}""")
    // Compact summary as the LAST stdout line (VERDICT r14 item 2): the
    // driver stores only a ~2000-char tail of stdout, so the full
    // per-query line above (~8 KB for 250+ queries) has NEVER parsed —
    // PERF_*.json carried parsed:null since r01. This line (~400 B)
    // always fits any tail window; the full line stays first so local
    // tooling (tools/bench_history.py, A/B scripts) keeps its per-query
    // data. Same "metric":"total" contract: `value` and regime fields
    // are byte-identical to the full line's.
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},"runs_per_query":$runs,"agg":"min","n_errors":${errors.size},"contrast_total":$contrastTotal%.3f,"total_with_contrast":$totalWith%.3f,"setup_total":$setupTotal%.3f,"compact":true,"regime":$regimeJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
