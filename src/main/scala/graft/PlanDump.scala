package graft

import org.apache.spark.sql.execution.ExplainMode

/** Prints or writes `explain("formatted")` for declared queries, planned
  * on the [[GraftSession]] that [[Bench]] times them on — the evidence
  * base for PLANS_r{N}.md and `plans/`. Run:
  *
  *   sbt "runMain graft.PlanDump <sfDir> [q1,q2,...] [--out <dir> --suffix <s>]"
  *
  * With no names it dumps [[Default]]. Without `--out` the plans go to
  * stdout; with it, each goes to `<dir>/<query>_<suffix>.txt`. Each plan
  * starts with a header line naming the session's width and scan-split
  * size. The plan is captured from the DataFrame the declared query
  * constructs; for streaming twins the construction RUNS the stream and
  * the captured plan is the final sink-table rollup, the micro-batch
  * plan being per-trigger and not a single static artifact.
  */
object PlanDump {

  /** The scale-critical paths whose plans the PLANS_r{N}.md audits
    * recorded: enrichment, the FTS match shapes, the vector indexes,
    * the dedup, text, pipeline and quality kernels, and the event joins.
    */
  val Default: Seq[String] = Seq(
    "j3_enrich_display",
    "p4_fts_prefix", "p4_fts_or", "p4_fts_phrase", "p4_fts_near",
    "p4_fts_first", "p4_fts_group", "p4_fts_phrase_prefix", "p4_fts_colset",
    "x_sim_ivf", "x_sim_lsh_ann", "x_sim_neardup_cells", "x_sim_pq_adc",
    "x_sim_sq8",
    "x_dedup_ngram", "x_dedup_spans", "x_dedup_spans_cut",
    "x_dedup_method_overlap", "x_dedup_keep_longest",
    "x_text_winnow_native", "x_text_winnow", "x_text_pii", "x_text_urlhosts",
    "x_text_tfidf", "x_text_mlt", "x_text_collocations",
    "x_pipe_split", "x_pipe_chunk", "x_pipe_oov", "x_pipe_vocab",
    "x_pipe_contam", "x_pipe_contam_ngram", "x_pipe_snapshot_diff",
    "x_pipeline_curation",
    "x_quality_gopher", "x_quality_ngram_rep", "x_quality_ngram_rep_relational",
    "x_quality_boilerplate", "x_quality_para_dup", "x_quality_lm_score",
    "x_quality_nb_score", "x_stats_length_quantiles", "x_stats_source_kl",
    "x_evt_asof", "x_evt_funnel", "x_evt_retention", "x_evt_rolling",
    "x_evt_interarrival", "x_evt_range_join", "x_evt_range_join_global",
    "x_layout_zorder_box")

  private val Usage =
    "usage: PlanDump <sfDir> [q1,q2,...] [--out <dir> --suffix <s>]"

  def main(args: Array[String]): Unit = {
    var out: Option[String] = None
    var suffix: Option[String] = None
    val positional = Seq.newBuilder[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--out" if i + 1 < args.length => out = Some(args(i + 1)); i += 2
        case "--suffix" if i + 1 < args.length => suffix = Some(args(i + 1)); i += 2
        case a => positional += a; i += 1
      }
    }
    val (sfDir, names) = positional.result() match {
      case Seq(sf) => (sf, Default)
      case Seq(sf, rest @ _*) =>
        (sf, rest.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
      case _ => sys.error(Usage)
    }
    require(out.isDefined == suffix.isDefined, Usage)
    val defs = SparkEntry.allDefs.map(d => d.name -> d).toMap
    names.foreach(n => require(defs.contains(n), s"unknown query: $n"))

    val spark = GraftSession("graft-plandump")
    try {
      val header =
        s"(cpus=${GraftSession.cpus}, " +
          s"shuffle.partitions=${spark.conf.get("spark.sql.shuffle.partitions")}, " +
          s"maxPartitionBytes=${spark.conf.get("spark.sql.files.maxPartitionBytes")}, " +
          s"openCostInBytes=${spark.conf.get("spark.sql.files.openCostInBytes")})"
      out.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
      names.foreach { n =>
        val plan = defs(n).fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        val txt = s"== $n @ $sfDir $header ==\n$plan"
        out match {
          case Some(d) =>
            val f = java.nio.file.Paths.get(d, s"${n}_${suffix.get}.txt")
            java.nio.file.Files.writeString(f, txt)
            println(s"[plandump] wrote $f")
          case None => println(s"\n$txt")
        }
      }
    } finally spark.stop()
  }
}
