package perfbench

import graft.IndexCli
import graft.query.{Enrich, SearchEngine}
import graft.serve.{BetaHtml, SearchPage}
import graft.text.{FtsQuery, Tokenize}
import java.nio.file.{Files, Paths}

/** The traced run: spans around each public call of the index, text, query
  * and serve layers, with the Spark work each one caused, and the per-layer
  * metrics derived from them. Each request is sent once and then replayed
  * step by step, so jobs can be attributed to steps by time.
  */
object Traced {

  /** Mix requests replayed step by step, besides the two named pages. */
  val Replayed = 4
  /** Pages whose split between top-k, facets, enrich and render is printed. */
  val Named: Seq[Req] = Seq(Req(Mix.Term, Seq("q" -> "urgent")),
    Req(Mix.Positional, Seq("q" -> "\"order for\"")))

  def request(r: Req): SearchEngine.Request = SearchEngine.Request(q = r.get("q"),
    typeFilter = r.get("type"), category = r.get("category"), isPublic = r.get("is_public"),
    timestampDate = r.get("timestamp__date"), sort = r.get("sort"))

  /** One `IndexCli.run` call as span `index.build`, split into steps by the
    * call sites of its Spark jobs. A job belongs to the line of
    * `IndexCli.run` it was started from, and to a step by the program
    * function called there: `IndexJob.replaceInto` is `index.upsert` (the
    * extraction and dedupe run lazily inside it), the first and the second
    * line calling `TextIndex.writeTermPartitioned` are `index.postings` and
    * `index.positions`, and the `parquet` write in `IndexCli.run` itself is
    * `index.doc_tokens`; the rest (reading parquet, the final count) is
    * `index.other`. A run of jobs of one step lasts from the end of the run
    * before to the end of its last job, so planning time between jobs
    * counts to the step that follows. `index.extract` is the part of the upsert
    * before its write: on a refresh, the jobs that materialize the delta.
    * Returns each step's seconds and jobs; the runs go to the trace as
    * child spans.
    */
  private def index(b: Bench, tr: Trace, rid: String, sources: Map[String, String],
      dbs: Option[Set[String]]): Map[String, (Double, Seq[Job])] = {
    val (_, root) = tr.span("index.build", rid)(_ =>
      IndexCli.run(b.spark, b.indexDir, b.configPath, sources, Tokenize.Porter, dbs))
    tr.drain(b.spark.sparkContext)
    val jobs = tr.jobsIn(root)
    val cli = """IndexCli\.scala:(\d+)""".r
    def frames(j: Job) = j.stack.split("\n").toSeq
    // the IndexCli.run line of each job and the frame it calls
    val sites = jobs.map { j =>
      val fs = frames(j)
      val i = fs.indexWhere(f => cli.findFirstIn(f).isDefined)
      if (i < 0) ("", "") else (cli.findFirstMatchIn(fs(i)).get.group(1), if (i > 0) fs(i - 1) else "")
    }
    val termLines = sites.collect { case (l, c) if c.contains("writeTermPartitioned") => l }.distinct
    val names = sites.map { case (l, c) =>
      if (c.contains("IndexJob")) "index.upsert"
      else if (c.contains("writeTermPartitioned"))
        if (termLines.indexOf(l) == 0) "index.postings" else "index.positions"
      else if (c.contains("DataFrameWriter.parquet")) "index.doc_tokens"
      else "index.other"
    }
    def end(js: Seq[Job]) = js.map(j => math.min(j.end, root.endMs)).max
    // consecutive jobs of one step, each run a child span of the build
    val runs = names.zip(jobs).foldLeft(Vector.empty[(String, Vector[Job])]) {
      case (acc, (n, j)) if acc.nonEmpty && acc.last._1 == n => acc.init :+ (n -> (acc.last._2 :+ j))
      case (acc, (n, j)) => acc :+ (n -> Vector(j))
    }
    var from = root.startMs
    val spans = runs.map { case (n, js) =>
      val sp = tr.derived(n, rid, root.id, from, math.max(from, end(js)))
      from = sp.endMs
      (n, sp, js)
    }
    val steps = spans.groupBy(_._1).map { case (n, rs) => n -> (rs.map(_._2.seconds).sum, rs.flatMap(_._3)) }
    val extract = spans.find(_._1 == "index.upsert").map { case (_, up, _) =>
      val upJobs = steps("index.upsert")._2
      // the upsert's last job is its write: the jobs before the write's call site
      def site(j: Job) = frames(j).find(_.contains("IndexJob"))
      val before = upJobs.takeWhile(j => site(j) != site(upJobs.last))
      val sp = tr.derived("index.extract", rid, up.id, up.startMs,
        if (before.isEmpty) up.startMs else end(before))
      sp.seconds -> before
    }
    Seq("index.upsert", "index.doc_tokens", "index.postings", "index.positions")
      .filterNot(steps.contains).foreach(n => println(s"no Spark jobs found for $n"))
    steps ++ extract.map("index.extract" -> _) + ("index.build" -> (root.seconds -> jobs))
  }

  /** Send `reqs` once from `clients` closed-loop clients; latency by request. */
  private def pass(b: Bench, reqs: IndexedSeq[Req], clients: Int): Seq[Page] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
    try reqs.map(r => pool.submit(() => Http.get(b.serving.port, r))).map(_.get())
    finally pool.shutdown()
  }

  final case class Steps(page: Page, http: Span, parse: Span, matched: Option[(Span, Long)],
      bm25: Option[Span], topk: Span, results: Int, enrich: Seq[Span], assemble: Span,
      render: Span)

  private def replay(b: Bench, tr: Trace, rid: String, r: Req): Steps = {
    val spark = b.spark
    val s = b.serving
    val req = request(r)
    tr.span("page", rid) { root =>
      val (page, http) = tr.span("serve.http", rid, root)(_ => Http.get(s.port, r))
      val (node, parse) = tr.span("text.parse", rid, root)(_ =>
        req.q.flatMap(FtsQuery.parseRequest(_, req.tokenize, req.rawMode)))
      val matched = node.map { n =>
        val (rows, sp) = tr.span("query.match", rid, root)(_ => SearchEngine.matchSet(s.arts, n).count())
        (sp, rows)
      }
      val bm25 = node.map(n => FtsQuery.positiveTerms(n).distinct).filter(_.nonEmpty).map { terms =>
        tr.span("query.bm25", rid, root)(_ =>
          SearchEngine.bm25Scores(spark, s.arts.postings, s.arts.docTokens, terms).collect())._2
      }
      val results = SearchEngine.search(spark, s.index, req, Some(s.arts))
      val (rows, topk) = tr.span("query.topk", rid, root)(_ => results.collect())
      val present = rows.map(_.getAs[String]("type")).toSet
      val q = req.q.getOrElse("").trim
      val enrich = b.rules.filter(rule => present(rule.typeTag) && rule.displaySql.isDefined).map { rule =>
        tr.span("query.enrich", rid, root)(_ => Enrich.enrichType(spark, rule, results, q).collect())._2
      }
      val (pg, assemble) = tr.span("serve.assemble", rid, root)(_ =>
        SearchPage.assemble(spark, s.index, b.rules, req, Some(s.arts)))
      val (_, render) = tr.span("serve.render", rid, root)(_ => BetaHtml.render(pg))
      Steps(page, http, parse, matched, bm25, topk, rows.length, enrich, assemble, render)
    }._1
  }

  def run(b: Bench, workload: String, cpus: Int): Result = {
    val spark = b.spark
    val sc = spark.sparkContext
    val tr = new Trace
    sc.addSparkListener(tr)

    index(b, tr, "build", b.sources, None)
    tr.span("serve.open", "build")(_ => b.open())
    b.docs = b.loadDocs().map(d => d.id -> d).toMap

    // one refresh cycle, traced: the delta is upserted, the FTS tables rebuilt
    val d = Mix.delta(b.seed, 0, b.corpus.events)
    val path = s"${b.work}/events_0.parquet"
    Sources.writeEvents(spark, d.events, path)
    val refresh = index(b, tr, "refresh", b.sources + ("events" -> path), Some(Set("events.db")))
    val (_, reopen) = tr.span("serve.open", "refresh")(_ => b.open())
    val fresh = Http.get(b.serving.port, Req(Mix.Term, Seq("q" -> d.marker)))
    b.docs ++= b.loadDocs(Some(Mix.EventsType -> (d.updated ++ d.inserted).map(_.id.toString).toSet))
      .map(doc => doc.id -> doc)

    val reqs = Mix.plan(b.seed, b.corpus, 1).take(Replayed) ++ Named
    // a warm-up pass, a traced pass at the workload's own concurrency, then
    // request by request an untraced page and the traced replay, in turns
    // first, so that traced and untraced latency compare equally warm pages
    sc.removeSparkListener(tr)
    val warm = pass(b, reqs, 1)
    sc.addSparkListener(tr)
    val clients = if (workload == "search_concurrent") cpus else 1
    val loadFrom = System.currentTimeMillis()
    val loaded = pass(b, reqs, clients)
    val loadTo = System.currentTimeMillis()
    def untraced(r: Req): Page = {
      sc.removeSparkListener(tr)
      try Http.get(b.serving.port, r) finally sc.addSparkListener(tr)
    }
    val (serial, steps) = reqs.zipWithIndex.map { case (r, i) =>
      if (i % 2 == 0) { val u = untraced(r); (u, replay(b, tr, s"r$i", r)) }
      else { val st = replay(b, tr, s"r$i", r); (untraced(r), st) }
    }.unzip
    tr.drain(sc)
    sc.removeSparkListener(tr)
    Files.writeString(Paths.get(b.work, "trace.json"), tr.json)

    val failures =
      (warm ++ loaded ++ serial ++ steps.map(_.page)).flatMap(p => b.check(p).map(w => s"${p.req}: $w")) ++
        (if (fresh.status != 200) Some(s"status ${fresh.status}") else Check.verifyExact(fresh.body, d.keys))

    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def stepS(n: String) = refresh.get(n).fold(0.0)(_._1)
    val idx = tr.jobCounts(refresh("index.build")._2)
    val upsertRows = refresh.get("index.upsert").fold(0L)(s => tr.jobCounts(s._2).recordsWritten)
    val httpCounts = steps.map(st => tr.counts(Seq(st.http)))
    val topkCounts = steps.map(st => tr.counts(Seq(st.topk)))
    val ok = steps.filter(_.page.status == 200)

    // how much of one page of each class no span accounts for: the HTTP
    // round-trip minus the time Spark jobs ran, the render and the parse
    val unexplained = Mix.Classes.map { c =>
      val st = ok.find(_.page.req.cls == c).getOrElse(ok.head)
      val (busy, _) = tr.jobTime(st.http)
      c -> (st.http.seconds - busy - st.render.seconds - st.parse.seconds) / st.http.seconds
    }.toMap
    steps.foreach { st =>
      val (busy, bySite) = tr.jobTime(st.http)
      println(f"page ${st.page.req}: http ${st.http.seconds}%.3f s, jobs busy $busy%.3f s, " +
        f"topk ${st.topk.seconds}%.3f, enrich ${st.enrich.map(_.seconds).sum}%.3f, " +
        f"facets ${st.assemble.seconds - st.topk.seconds - st.enrich.map(_.seconds).sum}%.3f, " +
        f"render ${st.render.seconds}%.4f")
      if (Named.contains(st.page.req))
        bySite.toSeq.sortBy(-_._2).foreach { case (site, s) => println(f"    $s%.3f s in jobs at $site") }
    }
    Mix.Classes.foreach(c => println(f"unexplained share of a $c page: ${unexplained(c)}%.3f"))

    val byReq = (serial zip loaded).map { case (s, l) => l.seconds - s.seconds }
    val overhead = med(ok.map(_.http.seconds)) - med(serial.map(_.seconds))
    refresh.toSeq.sortBy(_._1).foreach { case (n, (secs, js)) =>
      println(f"refresh $n: $secs%.3f s, ${js.size} jobs")
    }
    println(f"tracing overhead: $overhead%.4f s on the page median")
    Result(warm.size + serial.size + loaded.size + steps.size + 1, failures, Seq(
      Metric("index.extract_s", stepS("index.extract"), "s"),
      Metric("index.upsert_s", stepS("index.upsert"), "s"),
      Metric("index.rewritten_rows_per_delta_row", upsertRows.toDouble / (d.updated.size + d.inserted.size), "rows/row"),
      Metric("index.doc_tokens_s", stepS("index.doc_tokens"), "s"),
      Metric("index.postings_s", stepS("index.postings"), "s"),
      Metric("index.positions_s", stepS("index.positions"), "s"),
      Metric("index.shuffle_mb", idx.shuffleMb, "MB"),
      Metric("index.spill_mb", idx.spillMb, "MB"),
      Metric("index.cpu_s", idx.cpuS, "s"),
      Metric("index.task_skew", idx.skew, "ratio"),
      Metric("index.written_mb", idx.writtenMb, "MB"),
      Metric("text.parse_s", med(ok.map(_.parse.seconds)), "s"),
      Metric("query.match_s", med(ok.flatMap(_.matched.map(_._1.seconds))), "s"),
      Metric("query.match_rows", med(ok.flatMap(_.matched.map(_._2.toDouble))), "count"),
      Metric("query.bm25_s", med(ok.flatMap(_.bm25.map(_.seconds))), "s"),
      Metric("query.topk_s", med(ok.map(_.topk.seconds)), "s"),
      Metric("query.records_per_result", med(steps.zip(topkCounts).filter(_._1.results > 0)
        .map { case (st, c) => c.inputRecords.toDouble / st.results }), "records/result"),
      Metric("query.shuffle_mb", med(topkCounts.map(_.shuffleMb)), "MB"),
      Metric("query.cpu_s", med(topkCounts.map(_.cpuS)), "s"),
      Metric("query.enrich_s", med(ok.filter(_.enrich.nonEmpty).map(_.enrich.map(_.seconds).sum)), "s"),
      Metric("serve.assemble_s", med(ok.map(_.assemble.seconds)), "s"),
      Metric("serve.facets_s", med(ok.map(st =>
        st.assemble.seconds - st.topk.seconds - st.enrich.map(_.seconds).sum)), "s"),
      Metric("serve.render_s", med(ok.map(_.render.seconds)), "s"),
      Metric("serve.http_s", med(ok.map(st => st.http.seconds - st.assemble.seconds - st.render.seconds)), "s"),
      Metric("serve.jobs_per_page", med(httpCounts.map(_.jobs.toDouble)), "count"),
      Metric("serve.cpu_s_per_page", med(httpCounts.map(_.cpuS)), "s"),
      Metric("serve.shuffle_mb_per_page", med(httpCounts.map(_.shuffleMb)), "MB"),
      Metric("serve.active_jobs", tr.activeJobs(loadFrom, loadTo), "count"),
      Metric("serve.queue_s", med(byReq), "s"),
      Metric("serve.open_s", reopen.seconds, "s"),
      Metric("serve.unexplained_timeline", unexplained(Mix.Timeline), "ratio"),
      Metric("serve.unexplained_term", unexplained(Mix.Term), "ratio"),
      Metric("serve.unexplained_positional", unexplained(Mix.Positional), "ratio"),
      Metric("trace.overhead_s", overhead, "s")))
  }
}
