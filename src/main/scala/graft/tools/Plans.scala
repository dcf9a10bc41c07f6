package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool over the physical plans of the registered queries. Modes
  * (each ends with the sfDir the queries read):
  *   dump <out.md> <sfDir>                   — formatted plans of the
  *                                             headline queries and the key
  *                                             scale-path operators (PLANS.md);
  *   snap <outDir> <suffix> <n1,n2…> <sfDir> — one `<name>_<suffix>.txt`
  *                                             formatted plan per named query
  *                                             (before/after evidence of an
  *                                             optimization);
  *   audit <sfDir>                           — one `AUDIT` line of red flags
  *                                             per registered query. */
object Plans {
  private val picks = Seq(
    "q_scan_filter", "q_proj_arith", "q_groupby_agg", "q_join_3way",
    "q_window", "q_topk", "q_distinct", "q_events_hourly", "q_emb_norm",
    "q_nested_filter", "q_join_asof", "q_join_asof_merge",
    "q_join_range_part", "q_sim_topk", "q_minhash_lsh",
    "q_ann_ivf", "q_pipeline_corpus",
    "q_doc_chunks", "q_decontam", "q_bm25", "q_simhash_dedup",
    "q_emb_quant", "q_pii_scrub", "q_bpe_merges", "q_stream_asof",
    "q_stream_join",
    "q_bloom_decontam", "q_cms_freq", "q_hll_est", "q_quantile_sample",
    "q_split", "q_shuffle_shards", "q_ppl_buckets", "q_emb_outliers",
    "q_pagerank", "q_train_prep",
    "q_contam_span", "q_winnow", "q_novelty",
    "q_incr_dedup_idx", "q_span_dedup_any", "q_ann_pq", "q_ann_ivfpq",
    "q_span_strip", "q_incr_dedup_stream", "q_skew_join",
    "q_ngram_jaccard", "q_dedup_cosine", "q_kmeans", "q_span_dedup_short",
    "q_tx_merge", "q_tx_delete", "q_tx_cdf", "q_tx_dv", "q_tx_zorder",
    "q_tx_count_rule", "q_tx_minmax_rule", "q_dsir",
    "q_dedup_semantic", "q_sql_tx", "q_sql_tx_latest", "q_sql_tx_delete",
    "q_sql_tx_update", "q_sql_tx_merge", "q_sql_tx_evolve",
    "q_sql_tx_overwrite", "q_tx_read_stream",
    "q_quantile_sketch", "q_tx_cdf_stream",
    "q_sql_tx_merge_full", "q_sql_tx_rename",
    "q_knn_graph", "q_ann_graph", "q_knn_graph_incr", "q_ann_graph_incr",
    "q_tx_bucket_compact", "q_ann_recall",
    "q_hybrid_rrf", "q_ann_filtered", "q_tx_upsert_stream",
    "q_mmr_rerank",
    "q_ann_recall_tiers", "q_ann_graph_filtered", "q_ann_refresh_stream",
    "q_ann_recall_pq", "q_ann_ivfpq_idx", "q_stream_ann",
    "q_mm_phash_dedup",
    "q_ann_recall_curve", "q_mm_phash_near", "q_pack_bins_bpe",
    "q_ann_ivf_kmeans",
    "q_bpe_apply_fast", "q_ann_graph_deleted", "q_incr_dedup_del",
    "q_knn_graph_sharded", "q_ann_ivfpq_del",
    "q_incr_hll", "q_incr_qsketch", "q_incr_cms",
    "q_sql_q6", "q_sql_q16", "q_sql_q17", "q_sql_q21",
    "q_sql_q2", "q_sql_q11", "q_sql_q20",
    "q_incr_phash", "q_incr_phash_del", "q_retract_e2e",
    "q_ingest_e2e",
    "q_incr_bm25", "q_incr_bm25_del", "q_sql_q9",
    "q_hybrid_rrf_idx", "q_bm25_multi", "q_sim_topk_multi")

  def main(args: Array[String]): Unit = {
    val sfAt = Map("dump" -> 2, "snap" -> 4, "audit" -> 1)
    val sfDir = args.headOption.flatMap(sfAt.get).flatMap(args.lift).getOrElse(sys.error(
      "usage: Plans dump <out.md> <sfDir> | snap <outDir> <suffix> <n1,n2,...> <sfDir> | audit <sfDir>"))
    val b = graft.Sessions.builder(4)
    // AQE defers WholeStageCodegen insertion to stage materialization,
    // so the pre-execution plan string would always read codegen=0;
    // audit the statically-prepared plan instead (the audit is about
    // plan SHAPE — production runs keep AQE on)
    if (args(0) == "audit") b.config("spark.sql.adaptive.enabled", "false")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def formatted(name: String): String = graft.SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(FormattedMode)
    args(0) match {
      case "dump" =>
        val sb = new StringBuilder
        sb ++= s"# PLANS — formatted physical plans (generated by graft.tools.Plans dump at ${sfDir.split('/').last})\n\n"
        sb ++= "Headline (benched) queries first, then the key scale-path operators.\n"
        sb ++= "Plans are pre-execution AdaptiveSparkPlan initial plans; AQE may\n"
        sb ++= "coalesce partitions / switch join strategies at runtime.\n"
        picks.foreach { name =>
          sb ++= s"\n## $name\n\n```\n" ++= formatted(name).take(4000) ++= "\n```\n"
        }
        Files.writeString(Paths.get(args(1)), sb.toString)
        println(s"WROTE ${args(1)} ${sb.length} chars")
      case "snap" =>
        val Array(_, outDir, suffix, names) = args.take(4)
        Files.createDirectories(Paths.get(outDir))
        names.split(",").foreach { name =>
          val out = Paths.get(outDir, s"${name}_$suffix.txt")
          Files.writeString(out, s"# ${suffix.toUpperCase} plan for $name — " +
            s"graft.tools.Plans snap, $sfDir, formatted mode\n\n" + formatted(name))
          println(s"WROTE $out")
        }
      case "audit" => audit(spark, sfDir)
    }
    spark.stop()
  }

  private def audit(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit =
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val flags = Seq(
          "CartesianProduct" -> plan.contains("CartesianProduct"),
          "BroadcastNestedLoop" -> plan.contains("BroadcastNestedLoop"),
          "globalSort" -> (plan.contains("Sort [") && plan.contains("Exchange rangepartitioning")),
          "udf" -> plan.toLowerCase.contains("batchevalpython"),
          // a standing-store literal probe whose bucketed scan the
          // planner downgraded: informational — manifest-level bucket
          // pruning (TxFileIndex) still bounds the IO, but the serve
          // paths are expected to keep the bucketed scan (r18 item 1)
          "bucketScanDisabled" -> (plan.contains("Bucketed: false")
            && plan.contains("TxFileIndex")),
        ).collect { case (k, true) => k }
        val nExchanges = "Exchange ".r.findAllIn(plan).length
        // codegen stages appear as `*(n)` operator prefixes in the tree
        // string (the literal "WholeStageCodegen" label only shows in
        // formatted explain) — count distinct stage ids
        val nCodegen = """\*\((\d+)\)""".r.findAllMatchIn(plan)
          .map(_.group(1)).toSet.size
        println(f"AUDIT $name%-22s exch=$nExchanges%2d codegen=$nCodegen%2d flags=${flags.mkString(",")}")
      } catch { case scala.util.control.NonFatal(e) => println(s"AUDIT $name ERROR ${e.getMessage.take(80)}") }
    }
}
