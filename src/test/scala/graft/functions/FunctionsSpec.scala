package graft.functions

import graft.TestSpark
import graft.text.PorterStemmer
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Native expressions + session-extension registration: callable from
  * SQL, correct against the Scala implementations they wrap.
  */
class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val extSpark: SparkSession = {
    val s = TestSpark.spark
    // builder extensions only apply to fresh sessions; live-session path:
    graft.GraftExtensions.register(s)
    s
  }

  test("GraftExtensions installs into SparkSessionExtensions without error") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext) // builder-time injection path
  }

  test("dot_product_f matches a hand-computed double fold") {
    import spark.implicits._
    val df = Seq((Array(1f, 2f, 3f), Array(0.5f, -1f, 2f))).toDF("a", "b")
    val got = df.select(VectorFunctions.dot_f($"a", $"b")).collect()(0).getDouble(0)
    val want = 1.0 * 0.5 + 2.0 * -1.0 + 3.0 * 2.0
    assert(got == want)
  }

  test("dot_product_f rejects non-float-array inputs at analysis") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0), Array(1.0, 2.0))).toDF("a", "b")
    intercept[Exception](df.select(VectorFunctions.dot_f($"a", $"b")).collect())
  }

  test("porter_stem usable from SQL via GraftExtensions") {
    val got = extSpark.sql(
      "SELECT porter_stem('running') AS s, porter_stem('relational') AS r")
      .collect()(0)
    assert(got.getString(0) == "run" && got.getString(1) == "relat")
    assert(got.getString(0) == PorterStemmer.stem("running"))
  }

  test("dot_product_f usable from SQL via GraftExtensions") {
    val got = extSpark.sql(
      "SELECT dot_product_f(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .collect()(0).getDouble(0)
    assert(got == 11.0)
  }

  test("fts_match predicate + RewriteFtsMatch optimizer rule agree") {
    graft.GraftExtensions.register(extSpark)
    import extSpark.implicits._
    val df = Seq(
      (1, "urgent order", "building segment"),
      (2, "slow order", "automobile segment"),
      (3, null.asInstanceOf[String], "urgent thing"),
      (4, "the urgentness", null.asInstanceOf[String]) // 'urgent' is not a token here
    ).toDF("id", "title", "search_1")
    df.createOrReplaceTempView("fm_docs")
    val sql =
      """SELECT id FROM fm_docs
        |WHERE fts_match(title, search_1, 'urgent NOT automobile')
        |ORDER BY id""".stripMargin

    val interpreted = extSpark.sql(sql).collect().map(_.getInt(0)).toSeq
    assert(interpreted == Seq(1, 3)) // 4: 'urgentness' ≠ token 'urgent'

    // install the rule on the live session and confirm both the rewrite
    // and unchanged results. (Over a local relation Catalyst constant-
    // folds the rewritten RLIKEs away entirely — itself proof the
    // rewrite produced evaluable native expressions — so the plan-shape
    // assertion uses a parquet source.)
    extSpark.experimental.extraOptimizations =
      extSpark.experimental.extraOptimizations :+ graft.plans.RewriteFtsMatch
    try {
      val opt = extSpark.sql(sql)
      val plan = opt.queryExecution.executedPlan.toString
      assert(!plan.contains("fts_match"), s"rule did not rewrite:\n$plan")
      assert(opt.collect().map(_.getInt(0)).toSeq == interpreted)

      val docs = extSpark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      docs.createOrReplaceTempView("fm_parquet")
      val pq = extSpark.sql(
        "SELECT doc_id FROM fm_parquet WHERE fts_match(text, text, 'slow fast')")
      val pplan = pq.queryExecution.executedPlan.toString
      assert(!pplan.contains("fts_match") && pplan.contains("RLIKE"),
        s"expected native RLIKE scan:\n$pplan")
      assert(pq.count() > 0)
    } finally {
      extSpark.experimental.extraOptimizations =
        extSpark.experimental.extraOptimizations
          .filterNot(_ == graft.plans.RewriteFtsMatch)
    }
  }

  test("fts_match: group/^ compile to RLIKE; NEAR stays interpreted but correct") {
    graft.GraftExtensions.register(extSpark)
    import extSpark.implicits._
    Seq(
      (1, "urgent order", "f 1 urgent order for building customer"),
      (2, "slow order", "p 5 low order for automobile customer"),
      (3, "view by user", "view k 91")
    ).toDF("id", "title", "search_1").createOrReplaceTempView("fm_near")
    def run(q: String): Seq[Int] = extSpark.sql(
      s"SELECT id FROM fm_near WHERE fts_match(title, search_1, '$q') ORDER BY id"
    ).collect().map(_.getInt(0)).toSeq

    assert(run("(urgent OR automobile) order") == Seq(1, 2))
    assert(run("^view") == Seq(3))
    // urgent@2..2, building@5..5 in doc 1's search_1: 2 tokens between
    // (FTS5 boundary: matches at N = 2, not at N = 1)
    assert(run("NEAR(urgent building, 3)") == Seq(1))
    assert(run("NEAR(urgent building, 2)") == Seq(1))
    assert(run("NEAR(urgent building, 1)") == Seq.empty)

    extSpark.experimental.extraOptimizations =
      extSpark.experimental.extraOptimizations :+ graft.plans.RewriteFtsMatch
    try {
      val docs = extSpark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      docs.createOrReplaceTempView("fm_near_pq")
      // group + caret rewrite away from the interpreted predicate...
      val g = extSpark.sql(
        "SELECT doc_id FROM fm_near_pq WHERE fts_match(text, text, '(slow OR fast) ^the')")
      assert(!g.queryExecution.executedPlan.toString.contains("fts_match"))
      g.collect()
      // ...NEAR trees are deliberately NOT rewritten (token-distance
      // counting is not a regex) and still evaluate
      val nr = extSpark.sql(
        "SELECT doc_id FROM fm_near_pq WHERE fts_match(text, text, 'NEAR(slow fast, 4)')")
      assert(nr.queryExecution.executedPlan.toString.contains("fts_match"))
      assert(nr.count() >= 0)
      // rule-on NEAR results equal rule-off results
      assert(run("NEAR(urgent building, 3)") == Seq(1))
    } finally {
      extSpark.experimental.extraOptimizations =
        extSpark.experimental.extraOptimizations
          .filterNot(_ == graft.plans.RewriteFtsMatch)
    }
  }

  test("porter_stem composes inside transform() over token arrays") {
    val got = extSpark.sql(
      "SELECT transform(array('running', 'chasing'), t -> porter_stem(t)) AS ts")
      .collect()(0).getSeq[String](0)
    assert(got == Seq("run", "chase"))
  }

  test("char_trigrams_e: distinct codepoint-encoded trigrams, ascii-formula parity") {
    graft.functions.TrigramFunctions.register(extSpark)
    // kernel output must equal the relational ascii()-encoding formula
    // (the DuckDB oracle's formulation), minus duplicates, in first-
    // occurrence order — including CJK and supplementary codepoints
    for (s <- Seq("abcab", "abcabc", "中文字中文", "a😀b😀c", "ab", "")) {
      val kernel = extSpark.sql(
        s"SELECT char_trigrams_e('$s') AS t").collect()(0).getSeq[Long](0)
      val cps = s.codePoints().toArray
      val expected = cps.sliding(3).filter(_.length == 3)
        .map(w => w(0).toLong * 4398046511104L + w(1).toLong * 2097152L + w(2).toLong)
        .toSeq.distinct
      assert(kernel == expected, s"input '$s'")
    }
    // parity with SQL ascii()/substr() on a multibyte string
    val viaSql = extSpark.sql(
      """SELECT CAST(ascii(tg) AS BIGINT) * 4398046511104 +
        |       CAST(ascii(substr(tg, 2, 1)) AS BIGINT) * 2097152 +
        |       CAST(ascii(substr(tg, 3, 1)) AS BIGINT) AS h
        |FROM (SELECT explode(transform(sequence(1, char_length('中文字中') - 2),
        |                     i -> substr('中文字中', i, 3))) AS tg)""".stripMargin)
      .collect().map(_.getLong(0)).toSeq.distinct
    val kernel = extSpark.sql("SELECT char_trigrams_e('中文字中') AS t")
      .collect()(0).getSeq[Long](0)
    assert(kernel == viaSql)
  }

  test("cdc_bounds: kernel equals the relational boundary formula, ascii and multibyte") {
    graft.functions.CdcFunctions.register(extSpark)
    val (w, m) = (8, 64)
    // the pre-kernel relational formulation — the DuckDB oracle's rule
    def viaSql(s: String): Seq[Long] = extSpark.sql(
      s"""SELECT concat(array(CAST(0 AS BIGINT)),
         |  filter(
         |    CASE WHEN length('$s') > $w
         |         THEN sequence(CAST($w AS BIGINT), CAST(length('$s') - 1 AS BIGINT))
         |         ELSE CAST(array() AS ARRAY<BIGINT>) END,
         |    i -> CAST(conv(substring(md5(CAST(
         |           substring('$s', CAST(i AS INT) - ${w - 1}, $w)
         |         AS BINARY)), 1, 15), 16, 10) AS BIGINT) % $m = 0),
         |  array(CAST(length('$s') AS BIGINT))) AS b""".stripMargin)
      .collect()(0).getSeq[Long](0)
    def viaKernel(s: String): Seq[Long] = extSpark.sql(
      s"SELECT cdc_bounds('$s', $w, $m) AS b").collect()(0).getSeq[Long](0)
    val ascii = "the quick brown fox jumps over the lazy dog and then " +
      "wanders far away to chase a very distant rabbit through fields"
    // multibyte exercises the non-fast path: numBytes != numChars
    val multibyte = "中文字符串内容很长需要分块处理" * 8 + " mixed ascii tail " + ascii
    for (s <- Seq(ascii, multibyte, "short", "exactly8", "exactly9!", "")) {
      assert(viaKernel(s) == viaSql(s), s"input '${s.take(20)}…'")
    }
    // the two code paths agree where both apply: an ascii string and
    // its multibyte-prefixed twin share the re-synchronized suffix cuts
    val k1 = viaKernel(ascii)
    val k2 = viaKernel("中" + ascii)
    assert(k1.drop(1).dropRight(1).nonEmpty)
    assert(k1.drop(1).dropRight(1).map(_ + 1).toSet
      .subsetOf(k2.drop(1).dropRight(1).toSet))
  }

  test("unigram_segment: kernel equals the relational Viterbi fold, incl. tie rule") {
    graft.functions.UnigramFunctions.register(extSpark)
    import org.apache.spark.sql.functions.{col, typedLit}
    import extSpark.implicits._
    val INF = 1000000000000L
    val maxLen = 4
    // ab/cd vs abc/d tie shapes, missing-piece INF pricing, multibyte
    val costs = Map("a" -> 50L, "b" -> 50L, "c" -> 50L, "d" -> 50L,
      "ab" -> 60L, "cd" -> 40L, "abc" -> 60L, "bcd" -> 39L, "abcd" -> 100L,
      "中" -> 10L, "文" -> 10L, "中文" -> 15L, "x" -> 5L)
    // no empty word: the relational fold's sequence(1, 0) descends —
    // production words are non-empty by construction (filtered tokens);
    // the kernel's empty-input behavior is asserted separately below
    val words = Seq("abcd", "abcdabcd", "dcba", "ax", "中文中", "q").toDF("word")
    // the pre-kernel relational formulation (the oracle's DP rule)
    val viaSql = words.withColumn("__m", typedLit(costs)).withColumn("ps",
      org.apache.spark.sql.functions.expr(
        s"""aggregate(
           |  sequence(1, length(word)),
           |  struct(CAST(array(struct(CAST(0 AS BIGINT) AS c, 0 AS l))
           |           AS ARRAY<STRUCT<c: BIGINT, l: INT>>) AS dp, 0 AS z),
           |  (st, i) -> struct(array_append(st.dp,
           |    array_min(transform(sequence(1, least($maxLen, i)),
           |      l -> struct(element_at(st.dp, i - l + 1).c +
           |                    coalesce(try_element_at(__m, substring(word, i - l + 1, l)),
           |                             CAST($INF AS BIGINT)) AS c,
           |                  l AS l)))) AS dp, 0 AS z),
           |  st -> aggregate(
           |    sequence(1, length(word)),
           |    struct(length(word) AS pos, CAST(array() AS ARRAY<STRING>) AS ps),
           |    (bt, x) -> if(bt.pos > 0,
           |      struct(bt.pos - element_at(st.dp, bt.pos + 1).l AS pos,
           |             array_append(bt.ps, substring(word,
           |               bt.pos - element_at(st.dp, bt.pos + 1).l + 1,
           |               element_at(st.dp, bt.pos + 1).l)) AS ps),
           |      bt),
           |    bt -> bt.ps))""".stripMargin))
      .select("word", "ps").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val viaKernel = words.withColumn("ps",
      graft.functions.UnigramFunctions.unigram_segment(col("word"), costs, maxLen))
      .select("word", "ps").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(viaKernel == viaSql)
    // spot-check semantics: cheapest split of abcd is a+bcd (50+39)
    assert(viaKernel("abcd") == Seq("bcd", "a"))
    // unknown char prices at INF but still segments
    assert(viaKernel("q") == Seq("q"))
    // empty input → empty piece list (no crash)
    val empty = Seq("").toDF("word").withColumn("ps",
      graft.functions.UnigramFunctions.unigram_segment(col("word"), costs, maxLen))
      .select("ps").collect()(0).getSeq[String](0)
    assert(empty.isEmpty)
  }

  test("topk_desc: equals row_number window, heap merge across partitions, null skip") {
    graft.functions.TopKFunctions.register(extSpark)
    import extSpark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, explode, posexplode, row_number, struct}
    // 3 groups × 40 rows; score = i % 13 puts only 3 rows per group at
    // the max score, so each top-5 SPANS two score levels (a uniform
    // top score would mask a reversed score sort — the tie-break alone
    // would order it) AND still exercises the tie string; spread over
    // 8 partitions so partial heaps MERGE (exercising
    // serialize/deserialize through the exchange)
    val rows = (0 until 120).map { i =>
      (s"g${i % 3}", (i % 13).toDouble, f"t$i%03d", i.toLong)
    }.toDF("key", "score", "tie", "payload").repartition(8)
    val viaAgg = rows.groupBy("key")
      .agg(graft.functions.TopKFunctions.topk_desc(
        col("score"), col("tie"),
        struct(col("tie"), col("payload")), 5).as("top"))
      .select(col("key"), posexplode(col("top")).as(Seq("r", "s")))
      .select(col("key"), (col("r") + 1).as("rank"),
        col("s.tie").as("tie"), col("s.payload").as("payload"))
      .orderBy("key", "rank")
      .collect().map(x => (x.getString(0), x.getInt(1), x.getString(2), x.getLong(3)))
    val viaWin = rows.withColumn("rank", row_number().over(
        Window.partitionBy("key").orderBy(col("score").desc, col("tie"))))
      .filter(col("rank") <= 5)
      .select("key", "rank", "tie", "payload")
      .orderBy("key", "rank")
      .collect().map(x => (x.getString(0), x.getInt(1), x.getString(2), x.getLong(3)))
    assert(viaAgg.toSeq == viaWin.toSeq)
    // k larger than the group: every non-null row survives, sorted;
    // null scores/ties are skipped, not ranked
    val small = Seq(
      ("a", Some(2.0), Some("x"), 1L), ("a", Some(1.0), Some("y"), 2L),
      ("a", None, Some("z"), 3L), ("a", Some(3.0), None, 4L)
    ).toDF("key", "score", "tie", "payload")
    val out = small.groupBy("key")
      .agg(graft.functions.TopKFunctions.topk_desc(col("score"), col("tie"),
        col("payload"), 10).as("top"))
      .select(explode(col("top")).as("p")).collect().map(_.getLong(0))
    assert(out.toSeq == Seq(1L, 2L))
  }

  test("minhash_sigs_e/simhash_e: a column k or bits gets the literal error") {
    graft.functions.MinhashFunctions.register(extSpark)
    graft.functions.SimhashFunctions.register(extSpark)
    import extSpark.implicits._
    val df = Seq((Seq(1L, 2L), "a b c", 4)).toDF("h", "s", "n")
    val mh = intercept[IllegalArgumentException](
      df.selectExpr("minhash_sigs_e(h, n)").collect())
    assert(mh.getMessage.startsWith("minhash_sigs_e: k must be an integer literal"), mh.getMessage)
    val sh = intercept[IllegalArgumentException](
      df.selectExpr("simhash_e(s, n)").collect())
    assert(sh.getMessage.startsWith("simhash_e: bits must be an integer literal"), sh.getMessage)
  }

  test("sorted_intersect: equals array_intersect on sorted dup-free arrays, both types") {
    graft.GraftExtensions.register(extSpark)
    import org.apache.spark.sql.functions.{array_intersect, col, sort_array}
    import extSpark.implicits._
    val longs = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 9L, 11L)),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(4L, 7L), Seq.empty[Long]),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),
      (Seq(1L, 2L), Seq(5L, 6L))
    ).toDF("a", "b")
    val gotL = longs.select(
      graft.functions.IntersectFunctions.sorted_intersect(col("a"), col("b")).as("k"),
      sort_array(array_intersect(col("a"), col("b"))).as("ref")).collect()
    gotL.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString))
    val strs = Seq(
      (Seq("a", "c", "x"), Seq("b", "c", "x", "z")),
      (Seq("中", "文"), Seq("中", "字"))
    ).toDF("a", "b")
    val gotS = strs.select(
      graft.functions.IntersectFunctions.sorted_intersect(
        sort_array(col("a")), sort_array(col("b"))).as("k"),
      sort_array(array_intersect(col("a"), col("b"))).as("ref")).collect()
    gotS.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString))
    // type guard: mismatched / unsupported element types fail analysis
    intercept[Exception] {
      Seq((Seq(1L), Seq("a"))).toDF("a", "b").select(
        graft.functions.IntersectFunctions.sorted_intersect(col("a"), col("b")))
        .collect()
    }
  }

  test("MattrImpl: kernel == brute-force window distincts on random arrays") {
    // unit-level randomized check against the DEFINITION (per-window
    // array-distinct), independent of Spark plans: 300 random token
    // arrays over a small alphabet (heavy repeats), windows 1..12,
    // lengths 0..60 — covers n < w, n == w, empty, and all-same runs.
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(20260815L)
    val alphabet = Vector("a", "b", "c", "ab", "x")
    for (_ <- 1 to 300) {
      val n = rnd.nextInt(61)
      val w = 1 + rnd.nextInt(12)
      val toks = Vector.fill(n)(alphabet(rnd.nextInt(alphabet.size)))
      val arr = new GenericArrayData(
        toks.map(t => UTF8String.fromString(t)).toArray[Any])
      val row = graft.functions.MattrImpl.compute(arr, w)
      if (n == 0) {
        assert(row.getLong(0) == 0L && row.getLong(1) == 0L &&
          row.getLong(2) == 0L && row.getLong(3) == 0L)
      } else {
        val wl = math.min(w, n)
        val windows = toks.sliding(wl).filter(_.size == wl).toVector
        val dsum = windows.map(_.distinct.size.toLong).sum
        assert(row.getLong(0) == n.toLong, s"n: $row")
        assert(row.getLong(1) == windows.size.toLong, s"nw: n=$n w=$w $row")
        assert(row.getLong(2) == dsum, s"dsum: n=$n w=$w toks=$toks $row")
        assert(row.getLong(3) == toks.distinct.size.toLong, s"ndist: $row")
      }
    }
  }
}
