package graft

import graft.ext.{Dedup, Pipeline, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared infrastructure for the extension-query families (split from
  * the 2,846-line ExtQueries in r7 — VERDICT r6 item 5): the build-once
  * [[Artifact]]s (shingles / minhash signatures / near-dup pairs /
  * simhash pairs / duplicate spans — one persisted materialization per
  * scale dir, consumed by several queries), the streaming source dirs,
  * and the DuckDB oracle CTE builders every family interpolates.
  */
private[graft] object ExtShared {

  private[graft] def ducktokens(x: String) = OracleGen.tokensSql(x)
  private[graft] val duckHash = // mirrors Dedup.portableHash
    (x: String) => s"CAST('0x' || substr(md5($x), 1, 15) AS BIGINT)"

  // ---- shared oracle CTEs -------------------------------------------

  private[graft] val P = Dedup.MersennePrime
  private[graft] val K = 16
  private[graft] val BANDS = 4

  // verified near-dup pairs per sfDir: the dedup stage's output is the
  // clustering stage's input — one materialization feeds both
  // x_dedup_minhash and x_dedup_components (the artifact pattern).
  private[graft] val minhashPairs = Artifact[String, DataFrame] { (spark, sfDir) =>
    Dedup.minhashNearDupsFromDocArrs(docShingleArrs(spark, sfDir),
      minhashSigs(spark, sfDir), k = K, bands = BANDS, threshold = 0.4).persist()
  }

  // the dedup artifact pair (VERDICT r3: deliberate sharing, not the
  // accidental cache-manager reuse the r3 persists leaked into): ONE
  // 3-shingle explode and ONE minhash-signature build per scale dir,
  // persisted, feeding x_dedup_ngram, x_dedup_minhash{,_salted} and
  // x_dedup_components.
  private[graft] val docShingles = Artifact[String, DataFrame] { (spark, _) =>
    // narrow form: (doc_id, shingle BIGINT) from the compiled kernel
    Dedup.shingleHashes(spark.table("documents"), "text", "doc_id", 3).persist()
  }
  // The PER-DOC array form of the shingle artifact: (doc_id, __arr
  // sorted array<bigint>, n_sh) — one rollup of the exploded relation,
  // persisted beside it (r15, VERDICT item 4). Feeds the minhash
  // SIGNATURE build (in-row kernel — no aggregation) and the pair
  // VERIFY (two 1:1 array joins + compiled two-pointer merge instead
  // of re-joining the exploded relation per candidate pair). The
  // exploded form stays persisted for the consumers whose operators
  // are row-shaped (ngram blocking, containment, delta, the CTE
  // mirrors); at 100 TB both are views of ONE on-disk dedup index,
  // and the verify/signature paths reading the doc-level layout move
  // one row per doc instead of one per shingle.
  private[graft] val docShingleArrs = Artifact[String, DataFrame] { (spark, sfDir) =>
    docShingles(spark, sfDir).groupBy("doc_id")
      .agg(sort_array(collect_list(col("shingle"))).as("__arr"),
        count(lit(1)).as("n_sh")).persist()
  }
  private[graft] val minhashSigs = Artifact[String, DataFrame] { (spark, sfDir) =>
    // in-row kernel over the per-doc arrays: a signature depends only
    // on its own doc's shingles, so the former groupBy over the
    // exploded relation (one exchange + k min-aggregates per shingle
    // row) is a pure projection here — bit-identical mins
    // (MinhashSigsSpec pins kernel == relational aggregate)
    graft.functions.MinhashFunctions.register(spark)
    val mh = graft.functions.MinhashFunctions.minhash_sigs_e(col("__arr"), K)
    docShingleArrs(spark, sfDir)
      .select(col("doc_id"), mh.as("__mh"))
      // an empty shingle array yields a null signature: drop the row,
      // as the relational aggregate did
      .filter(col("__mh").isNotNull)
      .select(col("doc_id") +:
        (0 until K).map(i => col("__mh")(i).as(s"mh_$i")): _*)
      .persist()
  }

  // Near-dup component artifact — the pointer-doubled (doc_id,
  // component) relation over the verified pair artifact: the composed
  // curation pipeline consumes the CLUSTERS, not the pairs, and a
  // 100 TB run computes components once and reuses them across every
  // downstream release step. persist() (not localCheckpoint) so the
  // consuming plan shows the InMemoryTableScan the PlanSpec pin
  // asserts. x_dedup_components deliberately does NOT read this
  // artifact — it TIMES the component computation itself.
  private[graft] val dupComponentsArtifact = Artifact[String, DataFrame] { (spark, sfDir) =>
    Dedup.duplicateComponents(minhashPairs(spark, sfDir).select("id_a", "id_b")).persist()
  }

  // Cell-blocked kNN-graph artifact (k=3 over the persisted IVF
  // assignment) — the edge relation graph-based curation consumes
  // (r14 OPTIMIZATION): the N^1.5 within-cell join runs once per scale
  // dir; x_sim_knn_graph deliberately does NOT read this artifact — it
  // TIMES the graph build itself (the x_dedup_components convention),
  // while x_sim_clusters times thresholding + components + rollup over
  // the artifact.
  private[graft] val knnGraphArtifact = Artifact[String, DataFrame] { (spark, sfDir) =>
    Similarity.knnGraph(Corpus.ivfIndex(spark, sfDir).assigned, k = 3).persist()
  }

  // SimHash near-dup pair artifact (60-bit, 4 bands, hamming ≤ 8):
  // consumed by both the pair listing and the method-overlap matrix —
  // one signature build + banded candidate pass per scale dir.
  private[graft] val simhashPairs = Artifact[String, DataFrame] { (spark, _) =>
    Dedup.simhashNearDups(spark.table("documents"), "text", "doc_id",
      bits = 60, bands = 4, maxHamming = 8).persist()
  }

  // Duplicated-span artifact (k=8, minDf=2 over documents): span
  // detection is the corpus-sized term; the span LIST and the per-doc
  // cut budgets both derive from it, so compute once per scale dir and
  // persist.
  private[graft] val dupSpans = Artifact[String, DataFrame] { (spark, _) =>
    Dedup.duplicateSpans(spark.table("documents"), "text", "doc_id",
      k = 8, minDf = 2).persist()
  }

  // The streaming parquet source wants a DIRECTORY; testdata ships one
  // file per table — expose it through a symlink dir, made once and
  // deleted on exit, so repeated x_stream_* runs leave no temp dirs.
  private val streamSrc = Artifact[(String, String), String] { case (_, (sfDir, file)) =>
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-src")
    dir.toFile.deleteOnExit() // registered first → deleted last
    // absolutize: a RELATIVE sfDir would otherwise produce a symlink
    // whose target resolves against the temp dir — dangling, which
    // streams silently as an empty source
    val target = java.nio.file.Paths.get(s"$sfDir/$file")
      .toAbsolutePath.normalize()
    val link = dir.resolve(file)
    try java.nio.file.Files.createSymbolicLink(link, target)
    catch { case _: Exception => java.nio.file.Files.copy(target, link): Unit }
    link.toFile.deleteOnExit()
    dir.toString
  }
  private[graft] def streamSourceDir(spark: SparkSession, sfDir: String,
      file: String): String = streamSrc(spark, (sfDir, file))

  // Multi-file copy (4 parts) of a single-file testdata table, so
  // AvailableNow streaming runs with maxFilesPerTrigger=1 see REAL
  // multi-batch execution (a one-file source is a single batch —
  // batch-equality would be vacuous). deleteOnExit.
  private val multiFileSrc = Artifact[(String, String), String] { case (spark, (sfDir, file)) =>
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-multisrc")
    dir.toFile.deleteOnExit()
    spark.read.parquet(s"$sfDir/$file")
      .repartition(4)
      .write.mode("overwrite").parquet(dir.toString)
    dir.toString
  }
  private[graft] def multiFileSourceDir(spark: SparkSession, sfDir: String,
      file: String): String = multiFileSrc(spark, (sfDir, file))

  /** Streaming reader over an events parquet dir, normalized across the
    * two testdata ts layouts (raw INT64 nanos vs timestamp[us] — see
    * Corpus.registerSources). Streaming sources need an explicit static
    * schema, so the batch reader probes the footer once; the returned
    * stream always carries `ts` (µs TimestampType, UTC session zone) and
    * `ts_us` (BIGINT µs) alongside the remaining event columns.
    */
  private[graft] def eventsStream(spark: org.apache.spark.sql.SparkSession,
      srcDir: String, maxFilesPerTrigger: Int = 0): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    // self-contained: the footer probe itself needs nanosAsLong when the
    // testdata ships raw INT64-nanos ts; don't rely on a prior
    // Corpus.registerSources having set it on the shared session
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the stream schema IS the probed batch schema — whatever type the
    // batch reader resolves ts to (LongType raw nanos, TIMESTAMP_NTZ,
    // or UTC-adjusted TimestampType), the stream declares the same, so
    // the two paths can never diverge on layout
    val batchSchema = spark.read.parquet(srcDir).schema
    val tsIsLong = batchSchema("ts").dataType == LongType
    val reader0 = spark.readStream.schema(batchSchema)
    val reader = if (maxFilesPerTrigger > 0)
      reader0.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
    else reader0
    // mirrors Corpus.registerSources' dual-layout normalize exactly
    val tsCol = if (tsIsLong)
      org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)")
    else org.apache.spark.sql.functions.col("ts").cast("timestamp")
    reader.parquet(srcDir)
      .withColumn("ts", tsCol)
      .withColumn("ts_us", org.apache.spark.sql.functions.unix_micros(
        org.apache.spark.sql.functions.col("ts")))
  }

  // The full verified-minhash-pair CTE chain (shingles → signatures →
  // bands → candidates → Jaccard verify ≥ 0.4) — the oracle twin of
  // minhashPairs, shared by every oracle that consumes the pair
  // artifact (x_dedup_editdist, x_pipe_split_leakproof; the older
  // x_dedup_minhash / x_dedup_components inline the same text).
  private[graft] def minhashPairsCtes: String =
    s"""${shinglesCte(3)},
       |$minhashSigsCte,
       |$bandsCte,
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |verified AS (
       |  SELECT c.id_a, c.id_b, count(*) AS shared
       |  FROM cands c
       |  JOIN sh x ON x.doc_id = c.id_a
       |  JOIN sh y ON y.doc_id = c.id_b AND y.shingle = x.shingle
       |  GROUP BY 1, 2
       |),
       |pairs AS (
       |  SELECT id_a, id_b FROM verified
       |  JOIN sizes sa ON sa.doc_id = id_a
       |  JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared) >= 0.4
       |)""".stripMargin

  // Part co-purchase graph (parts sharing an order in lineitem) —
  // the market-basket graph, with genuine overlapping-clique
  // structure (every k-item order is a k-clique): the fixture for
  // triangle counting / k-core, where the bipartite host graph is
  // degenerate (zero triangles by construction). Built ONCE per
  // scale dir and persisted — both x_graph_triangles and
  // x_graph_kcore consume it. The per-order self-join is bounded by
  // ≤7 items per order, not the corpus.
  private[graft] val copurchaseEdges = Artifact[String, DataFrame] { (spark, sfDir) =>
    Corpus.registerSources(spark, sfDir)
    graft.ext.Graph.cooccurrenceEdges(
      spark.table("lineitem").select("l_orderkey", "l_partkey"),
      "l_orderkey", "l_partkey").persist()
  }

  // The triangle closure over the co-purchase graph — the shared
  // build artifact behind x_graph_triangles AND x_graph_edgesim (one
  // degree-oriented enumeration per scale dir, eagerly checkpointed
  // inside triangleClosure).
  private[graft] val copurchaseTriangleClosure =
    Artifact[String, graft.ext.Graph.TriangleClosure] { (spark, sfDir) =>
      graft.ext.Graph.triangleClosure(copurchaseEdges(spark, sfDir),
        edgesDistinct = true)
    }

  // shared oracle CTE for the same graph
  private[graft] val copurchaseCte: String =
    """li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |edges AS (
      |  SELECT DISTINCT a.pk AS src, b.pk AS dst
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
      |)""".stripMargin

  // Z-ordered events layout, written ONCE per scale dir (the layout is
  // a build-side product; queries measure reads). Temp dir with
  // deleteOnExit, like streamSourceDir.
  private[graft] val zorderDir = Artifact[String, String] { (spark, sfDir) =>
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder")
    dir.toFile.deleteOnExit()
    val out = dir.resolve("events_z").toString
    Corpus.registerSources(spark, sfDir)
    graft.ext.Layout.writeZOrdered(
      spark.table("events")
        .withColumn("ts_us", unix_micros(col("ts")))
        .select("event_id", "user_id", "ts_us", "value", "event_type"),
      "user_id", "ts_us", out)
    out
  }

  // Bucketed orders/lineitem tables, written ONCE per scale dir:
  // bucketing is the PRE-PAID shuffle — the bucketed-join query then
  // runs with zero runtime Exchange. Tables live in the session catalog
  // (bucket metadata is a table property); names carry a per-dir tag so
  // two scale dirs never collide in one JVM.
  private[graft] val bucketedTables = Artifact[String, (String, String)] { (spark, sfDir) =>
    Corpus.registerSources(spark, sfDir)
    // md5 of the FULL path, not String.hashCode: a 32-bit collision
    // between two scale dirs in one JVM would silently overwrite the
    // other dir's bucketed tables (writeBucketed force-deletes).
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(12)
    val o = s"graft_buck_orders_$tag"
    val l = s"graft_buck_lineitem_$tag"
    graft.ext.Layout.writeBucketed(
      spark.table("orders").select("o_orderkey", "o_orderdate", "o_totalprice"),
      "o_orderkey", o)
    graft.ext.Layout.writeBucketed(
      spark.table("lineitem").select("l_orderkey", "l_extendedprice", "l_discount"),
      "l_orderkey", l)
    (o, l)
  }

  // Hive-style partitioned events layout (dir per event_type), written
  // ONCE per scale dir: the third pruning axis beside z-order min/max
  // stats and bucketing — a partition-column predicate eliminates
  // whole DIRECTORIES at planning time, before any file is opened.
  private[graft] val eventsByTypeDir = Artifact[String, String] { (spark, sfDir) =>
    val dir = java.nio.file.Files.createTempDirectory("graft-hivepart")
    dir.toFile.deleteOnExit()
    val out = dir.resolve("events_by_type").toString
    Corpus.registerSources(spark, sfDir)
    spark.table("events")
      .withColumn("ts_us", unix_micros(col("ts")))
      .select("event_id", "user_id", "ts_us", "value", "event_type")
      .write.partitionBy("event_type").parquet(out)
    out
  }

  // Small-file → compacted events layout, built ONCE per scale dir:
  // the fixture first manufactures the small-file problem (64 tiny
  // files) and then compacts to 8 range-partitioned, event_id-sorted
  // files; the declared query reads the COMPACTED copy and must be
  // content-identical to the source table.
  private[graft] val compactedEventsDir = Artifact[String, String] { (spark, sfDir) =>
    val dir = java.nio.file.Files.createTempDirectory("graft-compact")
    dir.toFile.deleteOnExit()
    val small = dir.resolve("small").toString
    val out = dir.resolve("compacted").toString
    Corpus.registerSources(spark, sfDir)
    spark.table("events")
      .withColumn("ts_us", unix_micros(col("ts")))
      .select("event_id", "user_id", "ts_us", "value", "event_type")
      .repartition(64)
      .write.parquet(small)
    graft.ext.Layout.compact(spark.read.parquet(small), "event_id", out, 8)
    out
  }

  // Schema-evolution fixture: two parquet generations under one root
  // (gen=1 lacks the lang column), written ONCE per scale dir — the
  // decade-of-data reality a 100 TB corpus always has. Readers union
  // the generations with mergeSchema; missing columns surface as
  // NULLs, never as failures.
  private[graft] val schemaEvoDir = Artifact[String, String] { (spark, sfDir) =>
    val dir = java.nio.file.Files.createTempDirectory("graft-schemaevo")
    dir.toFile.deleteOnExit()
    val root = dir.resolve("docs_gen").toString
    Corpus.registerSources(spark, sfDir)
    val d = spark.table("documents")
    d.filter(col("doc_id") % 2 === 0).select("doc_id", "source")
      .write.parquet(s"$root/gen=1")
    d.filter(col("doc_id") % 2 === 1).select("doc_id", "source", "lang")
      .write.parquet(s"$root/gen=2")
    root
  }

  // Deterministic oracle-augmentation fixtures, materialized ONCE per
  // scale dir as extra columns beside documents (VERDICT r7 item 6):
  // the corpus is clean single-line word soup, so the PII / URL /
  // normalization / paragraph / boilerplate screens need synthetic
  // signal — but deriving it INSIDE the declared query makes the timed
  // entry measure test scaffolding. The derivations live here, run at
  // setup time, and the queries consume prebuilt persisted columns;
  // the DuckDB oracles keep the identical derivations as CTEs.
  private[graft] val augDocs = Artifact[String, DataFrame] { (spark, sfDir) =>
    Corpus.registerSources(spark, sfDir)
    val id = col("doc_id").cast("string")
    val body = coalesce(col("text"), lit(""))
    spark.table("documents").select(
      col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"),
      // x_text_pii: every 7th doc gains email + IP + phone
      concat(body, when(col("doc_id") % 7 === 0,
        concat(lit(" contact user"), id,
          lit("@example.com 10.0."), (col("doc_id") % 200).cast("string"),
          lit(".1 call 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit(""))).as("text_pii"),
      // x_text_urlhosts / x_graph_pagerank: every 3rd doc links 2 hosts
      concat(body, when(col("doc_id") % 3 === 0,
        concat(lit(" see https://www.site"), (col("doc_id") % 11).cast("string"),
          lit(".example.com/page/"), id,
          lit(" and http://cdn"), (col("doc_id") % 5).cast("string"),
          lit(".example.net/x")))
        .otherwise(lit(""))).as("text_urls"),
      // x_text_normalize: every 4th doc gains decomposed accent (e +
      // U+0301), a BEL control, and tab/space runs
      concat(body, when(col("doc_id") % 4 === 0,
        concat(lit("  cafe\u0301 \u0007drink"), lit("\t\t x ")))
        .otherwise(lit(""))).as("text_dirty"),
      // x_text_url_dedup: every 3rd doc links ONE page in 4 spellings
      concat(body, when(col("doc_id") % 3 === 0, concat(
        lit(" https://WWW.site"), (col("doc_id") % 7).cast("string"),
        lit(".example.com/p/"), id, lit("/"),
        lit(" http://site"), (col("doc_id") % 7).cast("string"),
        lit(".example.com/p/"), id, lit("?utm_source=feed"),
        lit(" https://site"), (col("doc_id") % 7).cast("string"),
        lit(".example.com/p/"), id, lit("#sec"),
        lit(" https://SITE"), (col("doc_id") % 7).cast("string"),
        lit(".EXAMPLE.com/p/"), id)).otherwise(lit(""))).as("text_url4"),
      // x_quality_para_dup: shared footer + repeated body for %3 docs
      concat(body,
        lit("\n\nshared footer "), (col("doc_id") % 5).cast("string"),
        lit("\n\n"),
        when(col("doc_id") % 3 === 0, body)
          .otherwise(concat(lit("unique tail "), id))).as("text_para"),
      // x_quality_boilerplate: unique uid line + hot footer lines
      concat(body,
        lit("\nuid "), id,
        when(col("doc_id") % 2 === 0,
          lit("\n(c) example corp all rights reserved")).otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          lit("\ngenerated page footer")).otherwise(lit("")))
        .as("text_lines"),
      // x_text_html: every 2nd doc wrapped in markup with entities;
      // odd docs stay raw, so the stripper must be a no-op on them
      when(col("doc_id") % 2 === 0, concat(
        lit("<html><head><title>Doc "), id,
        lit("</title></head><body><p>"), body,
        lit("</p><div class=\"nav\">menu &amp; links &lt;here&gt;</div>" +
          "<br>&nbsp;&quot;end&quot;</body></html>")))
        .otherwise(body).as("text_html")
    ).persist()
  }

  // Trained tokenizer models per sfDir — the serving model: a tokenizer
  // trains ONCE and ships as an artifact; the encode / fertility
  // queries consume it (the index/IVF/PQ setup contract, so their
  // timings measure encoding, not re-training per query). The TRAINING
  // queries (x_pipe_bpe_merges, x_pipe_unigram_lm) still time training
  // itself. localCheckpoint(true) materializes.
  private[graft] val bpeMergesArtifact = Artifact[String, DataFrame] { (spark, sfDir) =>
    Corpus.registerSources(spark, sfDir)
    Pipeline.bpeMerges(spark.table("documents"), "text", steps = 5).localCheckpoint(true)
  }
  private[graft] val unigramModelArtifact = Artifact[String, DataFrame] { (spark, sfDir) =>
    Corpus.registerSources(spark, sfDir)
    Pipeline.unigramLm(spark.table("documents"), "text").localCheckpoint(true)
  }
  private[graft] val wordpieceVocabArtifact = Artifact[String, DataFrame] { (spark, sfDir) =>
    Corpus.registerSources(spark, sfDir)
    Pipeline.wordpieceVocab(spark.table("documents"), "text").localCheckpoint(true)
  }

  /** The sh relation mirrors Dedup.shingleHashes: DISTINCT portable
    * hashes of the space-joined token n-grams (BIGINT — the engine
    * never materializes shingle strings either).
    */
  private[graft] def shinglesCte(n: Int): String =
    s"""toks AS (SELECT doc_id, ${ducktokens("text")} AS ts FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |         ${duckHash("shingle_str")} AS shingle
       |  FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(ts) - ${n - 2}),
       |                  i -> ${(0 until n).map(j => s"ts[i+$j]").mkString(" || ' ' || ")})) AS shingle_str
       |    FROM toks
       |  ) raw
       |)""".stripMargin

  private[graft] def minhashSigsCte: String = {
    val mins = Dedup.minhashParams(K).zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * h + $b) % $P) AS mh_$i"
    }.mkString(",\n         ")
    s"""hashed AS (
       |  SELECT doc_id, shingle % $P AS h FROM sh
       |),
       |sigs AS (
       |  SELECT doc_id,
       |         $mins
       |  FROM hashed GROUP BY doc_id
       |)""".stripMargin
  }

  private[graft] def bandsCte: String = {
    val rows = K / BANDS
    val branches = (0 until BANDS).map { b =>
      val key = (b * rows until (b + 1) * rows)
        .map(i => s"CAST(mh_$i AS VARCHAR)").mkString(" || '_' || ")
      s"""SELECT doc_id, $b AS band, $key AS band_key FROM sigs"""
    }
    s"banded AS (\n${branches.mkString("\nUNION ALL\n")}\n)"
  }

  /** bandsCte + the salt row (first row of the NEXT band, wrapping) —
    * mirrors Dedup.lshCandidates(saltOversized = true).
    */
  private[graft] def saltedBandsCte: String = {
    val rows = K / BANDS
    val branches = (0 until BANDS).map { b =>
      val key = (b * rows until (b + 1) * rows)
        .map(i => s"CAST(mh_$i AS VARCHAR)").mkString(" || '_' || ")
      val saltIdx = ((b + 1) * rows) % K
      s"""SELECT doc_id, $b AS band, $key AS band_key,
         |       CAST(mh_$saltIdx AS VARCHAR) AS salt FROM sigs""".stripMargin
    }
    s"banded AS (\n${branches.mkString("\nUNION ALL\n")}\n)"
  }

  /** The banded-candidate → verified-pair → connected-component CTE
    * chain (cands/sizes/verified/pairs/edges/reach/comp), mirroring
    * Dedup.minhashNearDupsFromArtifacts + Dedup.duplicateComponents —
    * requires shinglesCte(3), minhashSigsCte and bandsCte before it,
    * and WITH RECURSIVE for `reach`. Shared by the composed curation
    * pipeline's oracles (the x_dedup_components oracle predates this
    * helper and carries its own verbatim copy).
    */
  private[graft] def minhashComponentsCtes: String =
    """cands AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
      |),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |verified AS (
      |  SELECT c.id_a, c.id_b, count(*) AS shared
      |  FROM cands c
      |  JOIN sh x ON x.doc_id = c.id_a
      |  JOIN sh y ON y.doc_id = c.id_b AND y.shingle = x.shingle
      |  GROUP BY 1, 2
      |),
      |pairs AS (
      |  SELECT id_a, id_b FROM verified
      |  JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared) >= 0.4
      |),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL
      |  SELECT id_b, id_a FROM pairs
      |),
      |reach AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
      |),
      |comp AS (
      |  SELECT src AS doc_id, least(src, min(dst)) AS component
      |  FROM reach GROUP BY src
      |)""".stripMargin

  /** The delta-vs-corpus near-dup oracle, shared VERBATIM by the batch
    * screen (x_dedup_delta) and its streaming twin (x_stream_neardup):
    * the full self-join restricted to cross pairs — one contract,
    * three implementations (batch artifacts, stream-static join, SQL).
    */
  private[graft] def deltaNearDupOracle: String =
    s"""WITH ${shinglesCte(3)},
       |$minhashSigsCte,
       |$bandsCte,
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |verified AS (
       |  SELECT c.id_a, c.id_b, count(*) AS shared
       |  FROM cands c
       |  JOIN sh x ON x.doc_id = c.id_a
       |  JOIN sh y ON y.doc_id = c.id_b AND y.shingle = x.shingle
       |  GROUP BY 1, 2
       |)
       |SELECT CASE WHEN id_a % 5 = 0 THEN id_a ELSE id_b END AS delta_id,
       |       CASE WHEN id_a % 5 = 0 THEN id_b ELSE id_a END AS corpus_id,
       |       shared,
       |       CASE WHEN id_a % 5 = 0 THEN sa.n_sh ELSE sb.n_sh END AS n_d,
       |       CASE WHEN id_a % 5 = 0 THEN sb.n_sh ELSE sa.n_sh END AS n_c,
       |       CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared) AS jaccard
       |FROM verified
       |JOIN sizes sa ON sa.doc_id = id_a
       |JOIN sizes sb ON sb.doc_id = id_b
       |WHERE (id_a % 5 = 0) <> (id_b % 5 = 0)
       |  AND CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared) >= 0.4
       |ORDER BY delta_id, corpus_id""".stripMargin

  // ---- embedding helpers (unnest-with-index formulation) ------------

  private[graft] val exCte =
    """ex AS (
      |  SELECT label, vec_id, unnest(embedding) AS v,
      |         unnest(range(len(embedding))) AS i
      |  FROM embeddings
      |)""".stripMargin

  private[graft] val qxCte =
    """qx AS (
      |  SELECT unnest(embedding) AS qv, unnest(range(len(embedding))) AS i
      |  FROM embeddings WHERE vec_id = 0
      |)""".stripMargin

  /** Scalar-subquery mirror of Corpus.ivfSampleEveryFor — the oracle
    * computes max(IvfSampleEvery, ⌊√N⌋) from the embeddings table
    * itself instead of interpolating the gate-scale constant, so the
    * IVF-family oracles stay exact at ANY scale (the r6 ADVICE
    * hardcoded-constant item, generalized: at sf1 the adaptive stride
    * is 223, not 40, and a constant oracle would silently diverge).
    * floor() matches Scala's `.toInt` truncation for positive sqrt.
    */
  private[graft] val ivfStrideSql =
    s"(SELECT greatest(${Corpus.IvfSampleEvery}, " +
      "CAST(floor(sqrt(count(*))) AS BIGINT)) FROM embeddings)"

  /** DuckDB mirror of Pipeline.bpeMerges with `steps` rounds unrolled
    * as CTE chains (the kmeansIvfOracle precedent). The greedy
    * non-overlapping merge is expressed as mark/run/even-offset
    * selection — provably the same picks as the engine's sequential
    * fold: overlapping marks only occur in runs of one repeated
    * symbol, where the fold merges at even offsets from the run start.
    */
  /** Unigram-LM CTE chain (mirrors Pipeline.unigramLm): seed from
    * capped frequent substrings + chars, then per round a RECURSIVE
    * path enumeration over the word relation (every segmentation whose
    * pieces are in the round's cost table — words are short, so the
    * path count is bounded per word), the 1-best pick by (cost,
    * reversed-length-list) lexicographic order — provably the DP's
    * (cost, last-piece-len) tie rule composed through the backtrace —
    * then usage counts, add-one char smoothing, and re-costing.
    * MATERIALIZED per the BPE lesson (iteration chains inline
    * exponentially otherwise). The caller prepends WITH RECURSIVE.
    */
  private[graft] def unigramCtes(rounds: Int, maxLen: Int = 4,
      seedSize: Int = 1000): String = {
    val base =
      s"""utok AS (
         |  SELECT unnest(list_filter(string_split_regex(coalesce(text, ''), '\\s+'), t -> t <> '')) AS word
         |  FROM documents
         |),
         |uwords AS MATERIALIZED (SELECT word, count(*) AS cnt FROM utok GROUP BY 1),
         |usub AS MATERIALIZED (
         |  SELECT piece, sum(cnt) AS c FROM (
         |    SELECT cnt, substr(word, s, l) AS piece
         |    FROM uwords,
         |         unnest(range(1, len(word) + 1)) t1(s),
         |         unnest(range(1, ${maxLen + 1})) t2(l)
         |    WHERE s + l <= len(word) + 1
         |  ) q GROUP BY 1
         |),
         |uranked AS (SELECT piece, c,
         |                   row_number() OVER (ORDER BY c DESC, piece) AS rk
         |            FROM usub),
         |useed AS MATERIALIZED (
         |  SELECT piece, c FROM uranked WHERE len(piece) = 1 OR rk <= $seedSize),
         |uchars AS (SELECT piece FROM useed WHERE len(piece) = 1),
         |ucost0 AS MATERIALIZED (
         |  SELECT piece,
         |         CAST(floor(ln(CAST(t.tot AS DOUBLE) / CAST(s.c AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS cost_e6
         |  FROM useed s CROSS JOIN (SELECT sum(c) AS tot FROM useed) t
         |)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      s""",
         |up$r AS (
         |  SELECT word, cnt, 0 AS pos, CAST(0 AS BIGINT) AS cost,
         |         CAST([] AS VARCHAR[]) AS ps, CAST([] AS BIGINT[]) AS rl
         |  FROM uwords
         |  UNION ALL
         |  SELECT p.word, p.cnt, p.pos + ll.l, p.cost + c.cost_e6,
         |         list_append(p.ps, substr(p.word, p.pos + 1, ll.l)),
         |         list_append(p.rl, ll.l)
         |  FROM up$r p
         |  CROSS JOIN (SELECT unnest(range(1, ${maxLen + 1})) AS l) ll
         |  JOIN ucost${r - 1} c ON c.piece = substr(p.word, p.pos + 1, ll.l)
         |  WHERE p.pos + ll.l <= len(p.word)
         |),
         |ub$r AS MATERIALIZED (
         |  SELECT word, cnt, ps FROM (
         |    SELECT word, cnt, ps,
         |           row_number() OVER (PARTITION BY word
         |                              ORDER BY cost, list_reverse(rl)) AS rn
         |    FROM up$r WHERE pos = len(word)) q
         |  WHERE rn = 1
         |),
         |uu$r AS MATERIALIZED (
         |  SELECT piece, sum(cnt) AS c
         |  FROM (SELECT cnt, unnest(ps) AS piece FROM ub$r) q GROUP BY 1),
         |uv$r AS MATERIALIZED (
         |  SELECT coalesce(u.piece, ch.piece) AS piece,
         |         coalesce(u.c, 0) + CASE WHEN ch.piece IS NULL THEN 0 ELSE 1 END AS c
         |  FROM uu$r u FULL JOIN uchars ch ON ch.piece = u.piece
         |),
         |ucost$r AS MATERIALIZED (
         |  SELECT piece,
         |         CAST(floor(ln(CAST(t.tot AS DOUBLE) / CAST(v.c AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS cost_e6
         |  FROM uv$r v CROSS JOIN (SELECT sum(c) AS tot FROM uv$r) t
         |)""".stripMargin
    }.mkString
    base + roundCtes
  }

  private[graft] def bpeOracle(steps: Int): String = {
    val out = (1 to steps).map(n =>
      s"SELECT CAST($n AS BIGINT) AS step, l AS left_sym, r AS right_sym, " +
        s"pc AS pair_count FROM t$n")
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeCtes(steps)}
       |$out
       |ORDER BY step""".stripMargin
  }

  /** Encode oracle: the final symbol state s`steps` of the same CTE
    * chain IS the corpus encoded with the learned merges (training
    * applies each merge cumulatively right when learned — identical
    * to rank-order encode on the training corpus), so the token
    * histogram is one unnest + weighted sum over it.
    */
  private[graft] def bpeEncodeOracle(steps: Int): String =
    s"""WITH ${bpeCtes(steps)}
       |SELECT token, CAST(sum(cnt) AS BIGINT) AS n_occurrences
       |FROM (SELECT cnt, unnest(syms) AS token FROM s$steps) q
       |GROUP BY token
       |ORDER BY n_occurrences DESC, token""".stripMargin

  /** Per-source fertility under the `steps`-merge training chain: the
    * final symbol state s{steps} gives each DISTINCT word's piece
    * count; joined to per-(source, word) occurrence counts.
    */
  private[graft] def bpeFertilityOracle(steps: Int): String =
    s"""WITH ${bpeCtes(steps)},
       |swords AS (
       |  SELECT source, t AS word, count(*) AS cnt
       |  FROM (SELECT source,
       |               unnest(list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
       |                      x -> x <> '')) AS t
       |        FROM documents) q
       |  GROUP BY 1, 2
       |)
       |SELECT source, CAST(sum(sw.cnt) AS BIGINT) AS n_words,
       |       CAST(sum(sw.cnt * len(s.syms)) AS BIGINT) AS n_pieces,
       |       CAST(sum(sw.cnt * len(s.syms)) * 1000 // sum(sw.cnt) AS BIGINT)
       |         AS fertility_milli
       |FROM swords sw JOIN s$steps s USING (word)
       |GROUP BY source
       |ORDER BY source""".stripMargin

  private def bpeCtes(steps: Int): String = {
    val stepCtes = (1 to steps).map { n =>
      val prev = s"s${n - 1}"
      // every step CTE is MATERIALIZED: DuckDB inlines CTEs by
      // default, and each step references its predecessor from
      // several places — inlining would re-evaluate the whole chain
      // exponentially in the step count (observed: a 5-step oracle
      // that never finished; materialized it's milliseconds)
      s"""p$n AS MATERIALIZED (
         |  SELECT syms[i] AS l, syms[i + 1] AS r, CAST(sum(cnt) AS BIGINT) AS pc
         |  FROM (SELECT cnt, syms, unnest(range(1, len(syms))) AS i
         |        FROM $prev WHERE len(syms) >= 2) q
         |  GROUP BY 1, 2
         |),
         |t$n AS MATERIALIZED (SELECT l, r, pc FROM p$n ORDER BY pc DESC, l, r LIMIT 1),
         |m$n AS MATERIALIZED (
         |  SELECT word, cnt, syms, i,
         |         coalesce(syms[i] = (SELECT l FROM t$n)
         |                  AND syms[i + 1] = (SELECT r FROM t$n), FALSE) AS mk
         |  FROM (SELECT word, cnt, syms, unnest(range(1, len(syms) + 1)) AS i
         |        FROM $prev) q
         |),
         |r$n AS MATERIALIZED (
         |  SELECT word, i FROM (
         |    SELECT word, i, min(i) OVER (PARTITION BY word, grp) AS rs
         |    FROM (SELECT word, i,
         |                 i - row_number() OVER (PARTITION BY word ORDER BY i) AS grp
         |          FROM m$n WHERE mk) q1
         |  ) q2 WHERE (i - rs) % 2 = 0
         |),
         |s$n AS MATERIALIZED (
         |  SELECT m.word, m.cnt,
         |         list(CASE WHEN k.i IS NOT NULL THEN m.syms[m.i] || m.syms[m.i + 1]
         |                   ELSE m.syms[m.i] END ORDER BY m.i) AS syms
         |  FROM m$n m
         |  LEFT JOIN r$n k ON k.word = m.word AND k.i = m.i
         |  LEFT JOIN r$n kp ON kp.word = m.word AND kp.i = m.i - 1
         |  WHERE kp.i IS NULL
         |  GROUP BY m.word, m.cnt
         |)""".stripMargin
    }.mkString(",\n")
    s"""toks AS (
       |  SELECT list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
       |                     x -> x <> '') AS ts
       |  FROM documents
       |),
       |words AS MATERIALIZED (
       |  SELECT t AS word, count(*) AS cnt
       |  FROM (SELECT unnest(ts) AS t FROM toks) q GROUP BY t
       |),
       |s0 AS MATERIALIZED (
       |  SELECT word, cnt,
       |         list_transform(range(1, len(word) + 1),
       |                        i -> word[CAST(i AS INTEGER)]) AS syms
       |  FROM words
       |),
       |$stepCtes""".stripMargin
  }

  /** Shared PQ oracle CTEs — mirror Similarity.pqBuild bit-for-bit:
    * e6 quantization, components split into PqSubspaces contiguous
    * blocks, per-subspace exact-BIGINT squared distances to the
    * PqCodes codebook entries (the first PqCodes vectors), argmin codes
    * with smaller-code tie-break. `pqd2` doubles as the ADC lookup
    * table for any query id (its rows WHERE vec_id = qid are exactly
    * the driver-computed LUT). Scale-independent by construction: the
    * codebook ids and subspace geometry don't depend on N.
    */
  private[graft] val pqCtes = {
    val m = Corpus.PqSubspaces
    val ks = Corpus.PqCodes
    s"""e6 AS (
       |  SELECT vec_id, list_transform(embedding,
       |           v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS e
       |  FROM embeddings
       |),
       |comp AS (
       |  SELECT vec_id, i // (len(e) // $m) AS s, i % (len(e) // $m) AS j, e[i + 1] AS v
       |  FROM (SELECT vec_id, e, unnest(range(len(e))) AS i FROM e6) q
       |),
       |cb AS (SELECT vec_id AS code, s, j, v AS cv FROM comp WHERE vec_id < $ks),
       |pqd2 AS (
       |  SELECT c.vec_id, c.s, b.code,
       |         CAST(sum((c.v - b.cv) * (c.v - b.cv)) AS BIGINT) AS d2
       |  FROM comp c JOIN cb b ON b.s = c.s AND b.j = c.j
       |  GROUP BY 1, 2, 3
       |),
       |codes AS (
       |  SELECT vec_id, s, code FROM (
       |    SELECT vec_id, s, code,
       |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
       |    FROM pqd2) r WHERE rn = 1
       |)""".stripMargin
  }

  /** Shared LSH oracle CTEs — INTEGER FIXED-POINT (r4 verdict #1):
    * embeddings quantized ONCE to BIGINT micro-units
    * (floor(v·1e6 + 0.5) — floor is a single exact IEEE op; round()'s
    * tie mode varies by engine), hyperplane components kept as the raw
    * md5-derived integers in [-1000, 1000] (Similarity.hyperplanes).
    * Every dot/norm is then an integer-product sum — associative, so no
    * fold order, DuckDB version, or rounding mode can change it. This
    * replaces the r3/r4 ordered-list_sum-of-doubles contract that the
    * driver's DuckDB build broke while the local one passed.
    */
  private[graft] val lshOracleCtes =
    """hp AS (
      |  SELECT p,
      |         list_transform(range(0, (SELECT len(embedding) FROM embeddings WHERE vec_id = 0)),
      |           i -> (CAST('0x' || substr(md5('hp_' || CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 14) AS BIGINT)
      |                 % 2001) - 1000) AS hs
      |  FROM range(6) t(p)
      |),
      |qemb AS (
      |  SELECT vec_id,
      |         list_transform(embedding,
      |           v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS e
      |  FROM embeddings
      |),
      |dots AS (
      |  SELECT e.vec_id, h.p,
      |         CAST(list_sum(list_transform(range(1, len(e.e) + 1),
      |               i -> e.e[i] * h.hs[i])) AS BIGINT) AS d
      |  FROM qemb e CROSS JOIN hp h
      |),
      |buckets AS (
      |  SELECT vec_id,
      |         CAST(sum(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << p)
      |                  ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS lsh_bucket
      |  FROM dots GROUP BY vec_id
      |),
      |qb AS (SELECT lsh_bucket FROM buckets WHERE vec_id = 0),
      |norms AS (
      |  SELECT vec_id,
      |         CAST(list_sum(list_transform(e, v -> v * v)) AS BIGINT) AS nn
      |  FROM qemb
      |),
      |qe AS (SELECT e AS qemb FROM qemb WHERE vec_id = 0)""".stripMargin

  /** Final SELECT of the LSH oracles: exact integer cosine numerator
    * and norms over `cand`; the single double-precision step
    * (num / (√na·√nq) · 1e6, floor(+0.5)) is a chain of correctly-
    * rounded IEEE ops on identical integers in any engine, and the
    * emitted `cos_sim_e6` BIGINT hashes identically under any
    * float-formatting scheme.
    */
  private[graft] def lshOracleSelect(k: Int): String =
    s"""SELECT c.vec_id, c.lsh_bucket,
       |       CAST(floor(CAST(list_sum(list_transform(range(1, len(e.e) + 1),
       |                i -> e.e[i] * q.qemb[i])) AS DOUBLE)
       |             / (sqrt(CAST(n.nn AS DOUBLE)) * sqrt(CAST(qn.nn AS DOUBLE)))
       |             * 1000000 + 0.5) AS BIGINT) AS cos_sim_e6
       |FROM cand c
       |JOIN qemb e ON e.vec_id = c.vec_id
       |CROSS JOIN qe q
       |JOIN norms n ON n.vec_id = c.vec_id
       |JOIN norms qn ON qn.vec_id = 0
       |ORDER BY cos_sim_e6 DESC, c.vec_id
       |LIMIT $k""".stripMargin

  /** DuckDB mirror of Similarity.topPrincipalComponent: the e6 Pearson
    * matrix from exact integer sufficient statistics (the
    * dimCorrelation tree with floor-e6 instead of round-6), mirrored
    * to the full symmetric matrix, then `iters` power-iteration
    * rounds unrolled as CTEs. Normalization divides POSITIVE integers
    * only (|raw| // max(max|raw| // 1e6, 1), sign re-applied), so
    * DuckDB's flooring `//` and Spark's truncating DIV agree on every
    * operand pair.
    */
  private[graft] def pcaPowerOracle(iters: Int): String =
    s"""${pcaPowerCtes(iters)}
       |SELECT dim, v AS pc_e6 FROM p$iters ORDER BY dim""".stripMargin

  /** The ABTT oracle: the same power-iteration chain, then per-vector
    * projection removal with the engine's sign-split truncating
    * division (positive operands only reach `//`).
    */
  private[graft] def abttOracle(iters: Int): String =
    s"""${pcaPowerCtes(iters)},
       |uu AS (SELECT sum(v * v) AS uu FROM p$iters),
       |cn AS (
       |  SELECT e.vec_id, sum(e.ve * p.v) AS c, sum(e.ve * e.ve) AS n2
       |  FROM ex6 e JOIN p$iters p ON p.dim = e.i GROUP BY 1
       |),
       |kk AS (
       |  SELECT vec_id,
       |         CAST(floor(CAST(c AS DOUBLE) / CAST(u.uu AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS k_e6,
       |         n2
       |  FROM cn CROSS JOIN uu u
       |),
       |res AS (
       |  SELECT e.vec_id,
       |         e.ve - (CASE WHEN k.k_e6 * p.v < 0
       |                      THEN -((-(k.k_e6 * p.v)) // 1000000)
       |                      ELSE (k.k_e6 * p.v) // 1000000 END) AS r
       |  FROM ex6 e
       |  JOIN p$iters p ON p.dim = e.i
       |  JOIN kk k ON k.vec_id = e.vec_id
       |),
       |ra AS (SELECT vec_id, CAST(sum(r * r) AS BIGINT) AS norm2_after FROM res GROUP BY 1)
       |SELECT k.vec_id, k.k_e6, CAST(k.n2 AS BIGINT) AS norm2_before, ra.norm2_after
       |FROM kk k JOIN ra USING (vec_id)
       |ORDER BY vec_id""".stripMargin

  private def pcaPowerCtes(iters: Int): String = {
    val rounds = (1 to iters).map { r =>
      s""",
         |w$r AS (SELECT m.dim_i AS dim, CAST(sum(m.corr_e6 * p.v) AS BIGINT) AS raw
         |        FROM mat m JOIN p${r - 1} p ON p.dim = m.dim_j GROUP BY 1),
         |mx$r AS (SELECT greatest(max(abs(raw)) // 1000000, 1) AS mxd FROM w$r),
         |p$r AS (SELECT dim,
         |               CAST(CASE WHEN raw < 0 THEN -(abs(raw) // x.mxd)
         |                         ELSE abs(raw) // x.mxd END AS BIGINT) AS v
         |        FROM w$r CROSS JOIN mx$r x)""".stripMargin
    }.mkString
    s"""WITH ex6 AS (
       |  SELECT vec_id,
       |         unnest(list_transform(embedding,
       |           v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT))) AS ve,
       |         unnest(range(len(embedding))) AS i
       |  FROM embeddings
       |),
       |mom AS (
       |  SELECT i, sum(ve) AS s1, sum(ve * ve) AS s2, count(*) AS n
       |  FROM ex6 GROUP BY i
       |),
       |pairs AS (
       |  SELECT a.i AS dim_i, b.i AS dim_j, sum(a.ve * b.ve) AS sij
       |  FROM ex6 a JOIN ex6 b ON a.vec_id = b.vec_id AND a.i <= b.i
       |  GROUP BY 1, 2
       |),
       |upper_ AS (
       |  SELECT p.dim_i, p.dim_j,
       |         CASE WHEN (CAST(mi.n AS DOUBLE) * mi.s2 - CAST(mi.s1 AS DOUBLE) * mi.s1) <= 0
       |                OR (CAST(mj.n AS DOUBLE) * mj.s2 - CAST(mj.s1 AS DOUBLE) * mj.s1) <= 0
       |              THEN CAST(0 AS BIGINT)
       |              ELSE CAST(floor(
       |                (CAST(mi.n AS DOUBLE) * p.sij - CAST(mi.s1 AS DOUBLE) * mj.s1)
       |                / (sqrt(CAST(mi.n AS DOUBLE) * mi.s2 - CAST(mi.s1 AS DOUBLE) * mi.s1)
       |                   * sqrt(CAST(mj.n AS DOUBLE) * mj.s2 - CAST(mj.s1 AS DOUBLE) * mj.s1))
       |                * 1e6 + 0.5) AS BIGINT) END AS corr_e6
       |  FROM pairs p JOIN mom mi ON mi.i = p.dim_i JOIN mom mj ON mj.i = p.dim_j
       |),
       |mat AS MATERIALIZED (
       |  SELECT dim_i, dim_j, corr_e6 FROM upper_
       |  UNION ALL
       |  SELECT dim_j AS dim_i, dim_i AS dim_j, corr_e6 FROM upper_
       |  WHERE dim_i <> dim_j
       |),
       |p0 AS (SELECT DISTINCT dim_i AS dim, CAST(1000000 AS BIGINT) AS v FROM mat)
       |$rounds""".stripMargin
  }

  // The d-value top-PC artifact per sfDir (the PQ-codebook
  // bounded-collect contract): trained once, consumed by the ABTT
  // transform query as a literal broadcast model.
  private[graft] val pcaArtifact = Artifact[String, Seq[Long]] { (spark, sfDir) =>
    Corpus.registerSources(spark, sfDir)
    Similarity.topPrincipalComponent(spark.table("embeddings"), iters = 8)
      .orderBy("dim").collect().map(_.getLong(1)).toSeq
  }

  /** DuckDB mirror of Similarity.kmeansIvfSearch: the same Lloyd rounds
    * unrolled as CTE chains (c0 → a1 → c1 → a2 → c2 → final assign +
    * probe + exact cosine).
    */
  private[graft] def kmeansIvfOracle(sampleEverySql: String, iters: Int, nprobe: Int,
      k: Int): String = {
    def simCte(n: Int, prev: String): String =
      s"""nc_$n AS (SELECT cell_id, sum(cv * cv) AS nc FROM $prev GROUP BY cell_id),
         |sim_$n AS (
         |  SELECT e.vec_id, c.cell_id,
         |         round(sum(e.v * c.cv) / (sqrt(n.nv) * sqrt(m.nc)), 6) AS sim
         |  FROM exd e
         |  JOIN $prev c ON c.i = e.i
         |  JOIN nv n ON n.vec_id = e.vec_id
         |  JOIN nc_$n m ON m.cell_id = c.cell_id
         |  GROUP BY e.vec_id, c.cell_id, n.nv, m.nc
         |),
         |a_$n AS (
         |  SELECT vec_id, cell_id FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS rn
         |    FROM sim_$n
         |  ) r WHERE rn = 1
         |)""".stripMargin
    def updateCte(n: Int): String =
      s"""c_$n AS (
         |  SELECT a.cell_id, e.i, round(avg(e.v), 6) AS cv
         |  FROM exd e JOIN a_$n a ON a.vec_id = e.vec_id
         |  GROUP BY a.cell_id, e.i
         |)""".stripMargin
    val rounds = (1 to iters).map { n =>
      val prev = if (n == 1) "c_0" else s"c_${n - 1}"
      simCte(n, prev) + ",\n" + updateCte(n)
    }.mkString(",\n")
    val fin = iters + 1 // final assignment against the trained centroids
    s"""WITH ex AS (
       |  SELECT vec_id, unnest(embedding) AS v,
       |         unnest(range(len(embedding))) AS i
       |  FROM embeddings
       |),
       |exd AS (SELECT vec_id, CAST(v AS DOUBLE) AS v, i FROM ex),
       |nv AS (SELECT vec_id, sum(v * v) AS nv FROM exd GROUP BY vec_id),
       |c_0 AS (SELECT vec_id AS cell_id, v AS cv, i FROM exd
       |        WHERE vec_id % $sampleEverySql = 0),
       |$rounds,
       |${simCte(fin, s"c_$iters")},
       |qsim AS (SELECT cell_id, sim FROM sim_$fin WHERE vec_id = 0),
       |probes AS (SELECT cell_id FROM qsim ORDER BY sim DESC, cell_id LIMIT $nprobe),
       |cand AS (
       |  SELECT a.vec_id, a.cell_id
       |  FROM a_$fin a JOIN probes p ON p.cell_id = a.cell_id
       |)
       |SELECT c.vec_id AS vec_id, c.cell_id AS cell_id,
       |       round(sum(e.v * q.v) / (sqrt(n.nv) * sqrt(qn.nv)), 6) AS cos_sim
       |FROM cand c
       |JOIN exd e ON e.vec_id = c.vec_id
       |JOIN exd q ON q.i = e.i AND q.vec_id = 0
       |JOIN nv n ON n.vec_id = c.vec_id
       |JOIN nv qn ON qn.vec_id = 0
       |GROUP BY c.vec_id, c.cell_id, n.nv, qn.nv
       |ORDER BY cos_sim DESC, c.vec_id
       |LIMIT $k""".stripMargin
  }

  /** Shared CTE chain computing the 60-bit simhash per doc (mirrors
    * Dedup.simhash bit-for-bit).
    */
  private[graft] def simhashSigCtes: String = simhashSigCtesPrefixed("")

  /** The simhash CTE chain with a name prefix, so it can coexist with
    * the minhash chain (whose `hashed`/`sigs` names collide) inside one
    * oracle — used by the method-overlap query.
    */
  private[graft] def simhashSigCtesPrefixed(pre: String): String = {
    val bitSums = (0 until 60).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN w ELSE -w END) AS b_$j")
      .mkString(",\n         ")
    val sig = (0 until 60).map(j =>
      s"(CASE WHEN b_$j > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END)")
      .mkString(" | ")
    s"""${pre}tokw AS (
       |  SELECT doc_id, token, count(*) AS w
       |  FROM (SELECT doc_id, unnest(${ducktokens("text")}) AS token FROM documents) u
       |  GROUP BY doc_id, token
       |),
       |${pre}hashed AS (SELECT doc_id, w, ${duckHash("token")} AS h FROM ${pre}tokw),
       |${pre}sums AS (
       |  SELECT doc_id,
       |         $bitSums
       |  FROM ${pre}hashed GROUP BY doc_id
       |),
       |${pre}sigs AS (SELECT doc_id, $sig AS simhash FROM ${pre}sums)""".stripMargin
  }

  /** Shared by the relational and compiled-kernel n-gram repetition
    * entries — identical contract, two physical shapes. */
  private[graft] val NgramRepOracle: String =
    """WITH toks AS (
          |  SELECT doc_id,
          |         list_filter(string_split_regex(coalesce(text, ''), '\s+'), x -> x <> '') AS ts
          |  FROM documents
          |),
          |bi AS (
          |  SELECT doc_id, ts[i] || ' ' || ts[i+1] AS gram
          |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i
          |        FROM toks WHERE len(ts) >= 2) q
          |),
          |bic AS (SELECT doc_id, gram, count(*) AS cnt FROM bi GROUP BY 1, 2),
          |bitop AS (
          |  SELECT doc_id, CAST(cnt AS BIGINT) AS top_bigram_count
          |  FROM (SELECT doc_id, cnt, row_number() OVER (
          |          PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn
          |        FROM bic) q WHERE rn = 1
          |),
          |bisum AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams FROM bic GROUP BY 1),
          |tri AS (
          |  SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS gram
          |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
          |        FROM toks WHERE len(ts) >= 3) q
          |),
          |tric AS (SELECT doc_id, gram, count(*) AS cnt FROM tri GROUP BY 1, 2),
          |tris AS (
          |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_trigrams,
          |         CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS rep
          |  FROM tric GROUP BY 1
          |)
          |SELECT b.doc_id, b.n_bigrams, p.top_bigram_count,
          |       CAST(p.top_bigram_count AS DOUBLE) / b.n_bigrams AS top_bigram_frac,
          |       t.n_trigrams,
          |       CAST(t.rep AS DOUBLE) / t.n_trigrams AS rep_trigram_frac
          |FROM bisum b JOIN bitop p USING (doc_id) LEFT JOIN tris t USING (doc_id)
          |ORDER BY doc_id""".stripMargin

  private[graft] def defsRollingOracle: Option[String] = Some(
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |         CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events
      |)
      |SELECT event_id, user_id, ts_us,
      |       CAST(count(*) OVER w AS BIGINT) AS n_trailing,
      |       CAST(sum(cents) OVER w AS BIGINT) AS sum_trailing_cents
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
      |             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin)

  /** The batch as-of oracle, shared by `x_evt_asof` and
    * `x_stream_asof` — the streaming operator's contract IS batch
    * equivalence. A `def` (not a val): referenced from `defs`.
    */
  private[graft] def defsAsofOracle: Option[String] = Some(
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value, event_type
      |  FROM events
      |),
      |q AS (SELECT event_id, user_id, ts_us, value FROM e WHERE event_type = 'click'),
      |r AS (SELECT event_id, user_id, ts_us, value FROM e WHERE event_type = 'view')
      |SELECT q.event_id, q.user_id, q.ts_us, q.value,
      |       l.ref_event_id, l.ref_ts_us, l.ref_value
      |FROM q LEFT JOIN LATERAL (
      |  SELECT r.event_id AS ref_event_id, r.ts_us AS ref_ts_us,
      |         r.value AS ref_value
      |  FROM r WHERE r.user_id = q.user_id AND r.ts_us <= q.ts_us
      |  ORDER BY r.ts_us DESC, r.event_id DESC LIMIT 1
      |) l ON TRUE
      |ORDER BY q.event_id""".stripMargin)

  /** The per-user top-k-by-value oracle, shared by `x_evt_topk` (the
    * `TopKDesc` bounded aggregate) and `x_stream_topk` (the k-slot
    * streaming state twin) — three implementations, one contract:
    * rank by (value DESC, event_id ASC), keep k.
    */
  private[graft] def defsTopkOracle: Option[String] = Some(
    """WITH ranked AS (
      |  SELECT user_id, event_id, value,
      |         row_number() OVER (
      |           PARTITION BY user_id
      |           ORDER BY value DESC, event_id) AS topk_rank
      |  FROM events
      |)
      |SELECT user_id, CAST(topk_rank AS BIGINT) AS topk_rank, event_id, value
      |FROM ranked WHERE topk_rank <= 3
      |ORDER BY user_id, topk_rank""".stripMargin)

  /** The batch funnel oracle, shared by `x_evt_funnel` and
    * `x_stream_funnel` — the streaming operator's contract IS batch
    * equivalence. A `def` (not a val): referenced from `defs`.
    */
  private[graft] def defsFunnelOracle: Option[String] = Some(
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
      |),
      |u AS (SELECT DISTINCT user_id FROM e),
      |s0 AS (SELECT user_id, min(ts_us) AS t0 FROM e
      |       WHERE event_type = 'view' GROUP BY user_id),
      |s1 AS (SELECT e.user_id, min(ts_us) AS t1 FROM e JOIN s0 USING (user_id)
      |       WHERE event_type = 'click' AND ts_us >= t0 GROUP BY e.user_id),
      |s2 AS (SELECT e.user_id, min(ts_us) AS t2 FROM e JOIN s1 USING (user_id)
      |       WHERE event_type = 'purchase' AND ts_us >= t1 GROUP BY e.user_id)
      |SELECT u.user_id, s0.t0, s1.t1, s2.t2,
      |       coalesce(s2.t2 - s0.t0 <= 604800000000, FALSE) AS converted
      |FROM u
      |LEFT JOIN s0 USING (user_id)
      |LEFT JOIN s1 USING (user_id)
      |LEFT JOIN s2 USING (user_id)
      |ORDER BY u.user_id""".stripMargin)

  /** The batch-sessionization oracle, shared by the batch and streaming
    * entries — the streaming operator's contract IS batch equivalence.
    * A `def` (not a val): it is referenced from the `defs` initializer.
    */
  // shared by x_evt_threads (batch) and x_stream_threads (streaming
  // twin): the 4 h-session first-20-action path assembly
  private[graft] def defsThreadsOracle: Option[String] = Some(
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events
      |),
      |s AS (
      |  SELECT user_id, event_id, ts_us, event_type,
      |         CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
      |                OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
      |                   > 14400000000
      |              THEN 1 ELSE 0 END AS st
      |  FROM e
      |),
      |x AS (
      |  SELECT user_id, event_id, ts_us, event_type,
      |         sum(st) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                       ROWS UNBOUNDED PRECEDING) AS session_seq
      |  FROM s
      |),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, session_seq
      |                               ORDER BY ts_us, event_id) AS rn
      |  FROM x
      |),
      |g AS (
      |  SELECT user_id, session_seq, CAST(count(*) AS BIGINT) AS n_events,
      |         CAST(min(ts_us) AS BIGINT) AS start_us
      |  FROM r GROUP BY 1, 2
      |),
      |p AS (
      |  SELECT user_id, session_seq,
      |         string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
      |  FROM r WHERE rn <= 20 GROUP BY 1, 2
      |)
      |SELECT g.user_id, CAST(g.session_seq AS BIGINT) AS session_seq,
      |       g.n_events, g.start_us, p.path
      |FROM g JOIN p ON p.user_id = g.user_id AND p.session_seq = g.session_seq
      |ORDER BY g.user_id, g.session_seq""".stripMargin)

  private[graft] def defsSessionOracle: Option[String] = Some(
    """WITH e AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
      |),
      |s AS (
      |  SELECT user_id, event_id, ts_us,
      |         CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
      |                OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
      |                   > 14400000000
      |              THEN 1 ELSE 0 END AS st
      |  FROM e
      |),
      |g AS (
      |  SELECT user_id, ts_us,
      |         sum(st) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                       ROWS UNBOUNDED PRECEDING) AS session_seq
      |  FROM s
      |)
      |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(min(ts_us) AS BIGINT) AS start_us,
      |       CAST(max(ts_us) AS BIGINT) AS end_us,
      |       CAST(max(ts_us) - min(ts_us) AS BIGINT) AS duration_us
      |FROM g GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin)

  /** CUSUM change-point oracle — shared VERBATIM by `x_evt_cpd` and
    * its streaming twin `x_stream_cusum` (one contract, three
    * implementations: batch scan, complete-mode streamed histogram,
    * SQL). Mirrors Events.cusumChangePoint / cusumFromDaily.
    */
  private[graft] def defsCpdOracle: Option[String] = Some(
    """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day FROM events),
      |d AS (SELECT day, count(*) AS x FROM e GROUP BY day),
      |t AS (SELECT count(*) AS n, sum(x) AS s FROM d),
      |v AS (SELECT day, x, CAST(t.n * d.x - t.s AS BIGINT) AS dd FROM d, t),
      |p AS (SELECT day, x, dd,
      |        sum(dd) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS p
      |      FROM v),
      |c AS (SELECT day, x, dd,
      |        p - LEAST(min(p) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING), 0) AS cusum_pos,
      |        GREATEST(max(p) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING), 0) - p AS cusum_neg
      |      FROM p),
      |m AS (SELECT *, GREATEST(cusum_pos, cusum_neg) AS m FROM c),
      |mx AS (SELECT max(m) AS mx FROM m),
      |pk AS (SELECT min(day) AS peak_day FROM m, mx WHERE m.m = mx.mx)
      |SELECT day, CAST(x AS BIGINT) AS x, dd,
      |       CAST(cusum_pos AS BIGINT) AS cusum_pos,
      |       CAST(cusum_neg AS BIGINT) AS cusum_neg,
      |       day = pk.peak_day AS is_peak
      |FROM m, pk
      |ORDER BY day""".stripMargin)
}
