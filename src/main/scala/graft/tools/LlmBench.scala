package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev tool: timings for the LLM-pipeline operators (dedup, similarity,
  * text analysis) — the BASELINE.md suite covers only the 9 relational
  * headliners, so this gives the data-pipeline ops their own numbers.
  *
  * Noise-robust methodology (round 7 — the r6 numbers were poisoned by
  * moving host-slowdown bands that sequential best-of-2 cannot
  * distinguish from regressions):
  *   - one untimed warm-up pass over the whole suite;
  *   - two TIMED passes, each covering the whole suite in order
  *     (round-robin interleave): a contiguous slow-host stretch poisons
  *     at most one pass of each op, and min-of-passes recovers;
  *   - a fixed single-thread CPU calibration probe timed immediately
  *     BEFORE and AFTER each op sample (bracketing) — when either
  *     probe ran slow, the sample is evidence of host noise, not code;
  *   - persisted-RDD + cache cleanup between ops (Ckpt.releaseAll), so
  *     the leak-by-one final rounds of iterative ops never squeeze the
  *     storage tier of later ops (this was worth up to 34× on an 8 GB
  *     heap before the round-7 lifecycle fix);
  *   - heap/cpu config recorded in the JSON line.
  *
  * Regression flagging: an op whose best sample exceeds 2× its budget is
  * a REGRESSION only if that sample's BRACKETING probes (timed
  * immediately before and after the op) were BOTH clean (≤1.5× the
  * committed healthy-host probe baseline — an absolute reference, so a
  * run under CONSTANT background load still reads as noise); otherwise
  * it lands in `noisy` — rerun on a quiet host before believing either
  * way. The after-probe matters: under fluctuating load a short op can
  * start in a momentary quiet gap (clean before-probe) and still run
  * saturated — bracketing catches the shift. */
object LlmBench {
  private val picks = Seq(
    "q_dedup_exact", "q_dedup_rows", "q_ngram_jaccard", "q_minhash_lsh",
    "q_simhash", "q_dedup_cosine", "q_sim_topk", "q_ann_buckets",
    "q_ann_ivf", "q_ann_pq", "q_ann_ivfpq", "q_kmeans", "q_text_tokens", "q_tfidf",
    "q_lang_id",
    "q_quality_score", "q_fingerprint", "q_pipeline_corpus",
    "q_doc_chunks", "q_mixture_sample", "q_decontam", "q_bm25",
    "q_pack_bins", "q_repetition", "q_sim_topk_q8", "q_simhash_dedup",
    "q_token_gini", "q_chunk_dedup", "q_emb_slice", "q_hard_negatives",
    "q_dedup_keep", "q_pii_scrub", "q_source_overlap", "q_vocab_coverage",
    "q_bpe_merges", "q_bpe_merges50", "q_bpe_merges50p", "q_bpe_apply",
    "q_bpe_apply50p",
    "q_dsir", "q_span_dedup", "q_span_coverage", "q_lm_score", "q_dedup_semantic",
    "q_minhash_est", "q_resample", "q_ewma", "q_anomaly",
    "q_bloom_decontam", "q_cms_freq", "q_hll_est", "q_quantile_sample",
    "q_quantile_sketch",
    "q_mixture_temp", "q_incr_dedup", "q_incr_dedup_idx",
    "q_incr_dedup_stream", "q_cluster_stats",
    "q_split", "q_shuffle_shards", "q_ppl_buckets", "q_data_card",
    "q_emb_outliers", "q_pagerank", "q_quality_cut", "q_train_prep",
    "q_contam_span", "q_winnow", "q_span_dedup_any", "q_span_dedup_short",
    "q_span_strip", "q_novelty",
    "q_tx_merge", "q_tx_travel", "q_tx_compact", "q_tx_delete", "q_tx_cdf",
    "q_tx_dv", "q_tx_meta_count", "q_tx_zorder", "q_tx_count_rule", "q_tx_minmax_rule", "q_tx_cdf_dv",
    "q_sql_tx", "q_sql_tx_latest", "q_sql_tx_delete", "q_sql_tx_update",
    "q_sql_tx_merge", "q_sql_tx_evolve", "q_sql_tx_overwrite",
    "q_tx_read_stream", "q_tx_cdf_stream",
    "q_sql_tx_merge_full", "q_sql_tx_rename",
    "q_knn_graph", "q_ann_graph", "q_knn_graph_incr", "q_ann_graph_incr",
    "q_tx_bucket_compact", "q_ann_recall",
    "q_hybrid_rrf", "q_ann_filtered", "q_tx_upsert_stream",
    "q_mmr_rerank",
    "q_ann_recall_tiers", "q_ann_graph_filtered", "q_ann_refresh_stream",
    "q_ann_recall_pq", "q_ann_ivfpq_idx", "q_stream_ann",
    "q_mm_phash_dedup",
    "q_ann_recall_curve", "q_mm_phash_near", "q_pack_bins_bpe",
    "q_ann_ivf_kmeans", "q_bpe_apply_fast", "q_ann_graph_deleted",
    "q_incr_dedup_del",
    "q_sql_q4", "q_sql_q5", "q_sql_q7", "q_sql_q8", "q_sql_q10",
    "q_sql_q18", "q_knn_graph_sharded",
    "q_sql_q1", "q_sql_q6", "q_sql_q9", "q_sql_q12", "q_sql_q13",
    "q_sql_q14", "q_sql_q15", "q_sql_q16", "q_sql_q17", "q_sql_q19",
    "q_sql_q21", "q_sql_q22",
    "q_incr_hll", "q_ann_ivfpq_del", "q_incr_qsketch", "q_incr_cms",
    "q_incr_cms_del", "q_incr_hll_del",
    "q_sql_q2", "q_sql_q11", "q_sql_q20",
    "q_incr_phash", "q_incr_phash_del", "q_retract_e2e",
    "q_ingest_e2e",
    "q_incr_bm25", "q_incr_bm25_del", "q_tx_fanout_status",
    "q_hybrid_rrf_idx", "q_tx_fanout_ingest",
    "q_bm25_multi", "q_sim_topk_multi")

  /** Per-op budgets — the committed copy lives in LLMBASELINE.md; keep
    * the two in lockstep. Queries absent here (new additions) are timed
    * but never flagged. Recorded round 7 with THIS harness: sf0.1,
    * local[32], 8 GB heap, exclusive host, per-op min over two clean
    * interleaved passes (probe band 0.056-0.100 s). These budgets bake
    * in the between-ops storage cleanup — ops that previously coasted
    * on another op's cached state (q_bpe_apply re-deriving the trainer's
    * states: 0.50 -> 2.93 s) now carry their own full cost. */
  private val baseline: Map[String, Double] = Map(
    "q_dedup_exact" -> 0.261, "q_dedup_rows" -> 0.316,
    "q_minhash_lsh" -> 1.676,
    "q_simhash" -> 0.071,
    "q_sim_topk" -> 0.415, "q_ann_buckets" -> 0.637,
    "q_ann_ivf" -> 0.594, "q_text_tokens" -> 0.250,
    "q_tfidf" -> 0.993, "q_lang_id" -> 1.554,
    "q_quality_score" -> 0.103, "q_fingerprint" -> 0.054,
    "q_pipeline_corpus" -> 0.540, "q_doc_chunks" -> 0.205,
    "q_mixture_sample" -> 0.130, "q_decontam" -> 3.631,
    "q_bm25" -> 0.551, "q_pack_bins" -> 0.360,
    "q_repetition" -> 0.099, "q_sim_topk_q8" -> 0.578,
    "q_simhash_dedup" -> 4.046, "q_token_gini" -> 0.080,
    "q_chunk_dedup" -> 0.362, "q_emb_slice" -> 0.073,
    "q_hard_negatives" -> 0.377, "q_dedup_keep" -> 5.716,
    "q_pii_scrub" -> 0.124, "q_source_overlap" -> 0.661,
    "q_vocab_coverage" -> 0.303, "q_bpe_merges" -> 2.738,
    "q_bpe_merges50" -> 28.064, "q_bpe_apply" -> 2.931,
    "q_span_dedup" -> 1.380, "q_span_coverage" -> 0.125,
    "q_lm_score" -> 1.093,
    "q_minhash_est" -> 2.305, "q_resample" -> 0.311,
    "q_ewma" -> 0.070, "q_anomaly" -> 0.415,
    "q_bloom_decontam" -> 4.361, "q_cms_freq" -> 1.104,
    "q_hll_est" -> 1.708, "q_quantile_sample" -> 0.845,
    "q_mixture_temp" -> 0.199, "q_incr_dedup" -> 0.285,
    "q_cluster_stats" -> 4.314,
    // round-7b batch (organize/graph/capstone/forensics), recorded with
    // the same harness on the same host, two clean exclusive runs
    // (probe band 0.056-0.099), per-op min across runs
    "q_split" -> 0.214, "q_shuffle_shards" -> 0.090,
    "q_ppl_buckets" -> 1.299, "q_data_card" -> 0.331,
    "q_emb_outliers" -> 0.640, "q_pagerank" -> 2.073,
    "q_quality_cut" -> 0.191, "q_train_prep" -> 4.750,
    "q_contam_span" -> 0.811, "q_winnow" -> 0.820,
    "q_novelty" -> 1.847,
    // round-9 batch, recorded with the same harness on the same host,
    // two clean exclusive runs (probe bands 0.064-0.091 / 0.063-0.132),
    // per-op min across runs
    "q_bpe_merges50p" -> 4.621,
    // q_incr_dedup_idx re-recorded round 13 on the tx-backed
    // bucket-pruned standing indexes (LLMBASELINE.md round-13 row)
    "q_incr_dedup_idx" -> 0.135,
    "q_span_dedup_any" -> 2.253,
    "q_incr_dedup_stream" -> 0.721, "q_span_strip" -> 0.821,
    // round-10 batch — ops whose PLANS changed this round (prefix
    // filter, banded cosine, literal-codebook encode, artifact apply)
    // plus the two new ops; recorded from the round-10 clean run
    // (probe band 0.064-0.076, regressions/noisy both empty)
    "q_ngram_jaccard" -> 5.349, "q_dedup_cosine" -> 2.415,
    "q_ann_pq" -> 3.371, "q_ann_ivfpq" -> 3.809,
    "q_bpe_apply50p" -> 0.557, "q_kmeans" -> 1.220,
    "q_span_dedup_short" -> 6.332,
    // round-10b batch: transactional-table ops (probe band 0.063-0.106,
    // regressions/noisy both empty). Reads amortize the version-history
    // build across the session exactly as production amortizes table
    // maintenance; the timed op is the snapshot read / CDF diff itself.
    "q_tx_merge" -> 0.081, "q_tx_travel" -> 0.067,
    "q_tx_compact" -> 0.060, "q_tx_delete" -> 0.067,
    "q_tx_cdf" -> 0.612,
    // round-10c batch: DV / z-order / metadata tier (probe band
    // 0.053-0.226 median 0.058, regressions/noisy both empty)
    "q_tx_dv" -> 0.235, "q_tx_meta_count" -> 0.065,
    "q_tx_zorder" -> 0.085,
    // round-10d batch (probe band 0.050-0.074 median 0.057,
    // regressions/noisy both empty, 78-op suite 118.4 s)
    "q_dsir" -> 1.626, "q_tx_count_rule" -> 0.092,
    // round-10e (probe band 0.046-0.071 median 0.056, zero flags)
    "q_tx_minmax_rule" -> 0.084,
    // round-10f (probe band 0.050-0.120 median 0.060, zero flags)
    "q_tx_cdf_dv" -> 0.236,
    // round-11 batch (probe band 0.056-0.081 median 0.059, zero flags,
    // 82-op suite 137.8 s): q_dedup_semantic now TRAINS its
    // corpus-sized-k integer Lloyd clustering (k = n/64 → 79 at sf0.1)
    // instead of assigning to 8 fixed seeds — the op carries its own
    // full clustering cost, the price of the scale-correct bounded
    // pair join; q_sql_tx* are SQL-over-catalog reads (snapshot
    // resolution + TxCatalogReads conversion); q_quantile_sketch is
    // the mergeable sketch build+estimate+exact-calibration;
    // q_tx_cdf_stream is the per-commit CDF decomposition (4 changes()
    // slices)
    "q_dedup_semantic" -> 5.646,
    "q_sql_tx" -> 0.073, "q_sql_tx_latest" -> 0.200,
    "q_sql_tx_delete" -> 0.210, "q_sql_tx_update" -> 0.050,
    "q_sql_tx_merge" -> 0.055,
    "q_sql_tx_evolve" -> 0.089, "q_sql_tx_overwrite" -> 0.074,
    "q_tx_read_stream" -> 0.139,
    "q_quantile_sketch" -> 1.695,
    "q_tx_cdf_stream" -> 1.347,
    // round-13 batch (probe band 0.044-0.061 median 0.056, zero flags,
    // 94-op suite 134.2 s): the graph tier under the occupancy-bounded
    // band scheme (bits = ⌈log₂(n/32)⌉ → 6 at sf0.1) + two NN-descent
    // rounds + the beam-16 bidirectional walk. The _incr twins read
    // the standing tx stores (session-amortized build, the production
    // standing-index shape) and pay the read-time top-M + descent;
    // the SQL DDL/DML reads are snapshot-pin + scan like their r11
    // siblings. q_incr_dedup_idx re-recorded on the tx-backed
    // bucket-pruned standing indexes (supersedes the r9 Hive-bucketBy
    // row).
    // graph rows re-recorded round 14 (hierarchical √n entry layer +
    // beam 16→12): min over two clean sf0.1 passes (probe bands
    // 0.044-0.195/0.044-0.076 median 0.057, zero flags both)
    "q_knn_graph" -> 6.511, "q_ann_graph" -> 8.497,
    "q_knn_graph_incr" -> 2.816, "q_ann_graph_incr" -> 4.761,
    "q_sql_tx_rename" -> 0.043, "q_sql_tx_merge_full" -> 0.044,
    // round-13 late batch (probe band 0.044-0.074 median 0.057, zero
    // flags, 96-op suite 142.9 s)
    "q_tx_bucket_compact" -> 0.106, "q_ann_recall" -> 0.847,
    // round-13 retrieval/upsert batch (probe band 0.044-0.066,
    // regressions/noisy both empty)
    "q_hybrid_rrf" -> 0.688, "q_ann_filtered" -> 0.643,
    "q_tx_upsert_stream" -> 0.065, "q_mmr_rerank" -> 1.201,
    // round-14 batch: the ANN-tier quality gate, the filtered graph
    // walk, and the streaming refresh loop (min over the same two
    // clean sf0.1 passes as the graph re-records above)
    "q_ann_recall_tiers" -> 7.807, "q_ann_graph_filtered" -> 8.306,
    "q_ann_refresh_stream" -> 3.041,
    // round-14 late batch: the PQ-tier recall gate, the standing
    // cell-bucketed IVFADC codes store, and the streaming ANN serving
    // core (min over two clean sf0.1 passes, probe medians 0.057/0.056,
    // zero flags on both)
    "q_ann_recall_pq" -> 1.550, "q_ann_ivfpq_idx" -> 1.096,
    "q_stream_ann" -> 0.443,
    // round-14 final batch (111-op clean run, probe median 0.057)
    "q_mm_phash_dedup" -> 1.094,
    // round-15 batch (two clean sf0.1 passes, per-op min, probe
    // medians 0.057/0.057, zero flags on both); curve re-recorded in
    // the late batch after the trained tier widened it to 10 rows
    "q_mm_phash_near" -> 1.981,
    "q_pack_bins_bpe" -> 1.048, "q_ann_graph_serve" -> 2.769,
    // round-15 late batch (trained-quantizer IVF promotion; two more
    // clean sf0.1 passes, probe medians 0.057/0.057, zero flags)
    "q_ann_recall_curve" -> 6.134, "q_ann_ivf_kmeans" -> 1.664,
    // round-16 batch (2026-08-16, min over two recorded passes)
    "q_bpe_apply_fast" -> 0.321, "q_ann_graph_deleted" -> 6.272,
    "q_incr_dedup_del" -> 0.222, "q_knn_graph_sharded" -> 5.289,
    "q_sql_q4" -> 0.574, "q_sql_q5" -> 0.713, "q_sql_q7" -> 0.501,
    "q_sql_q8" -> 0.676, "q_sql_q10" -> 0.500, "q_sql_q18" -> 1.269,
    "q_sql_q1" -> 0.349, "q_sql_q6" -> 0.162, // q_sql_q9 re-based below (r18)
    "q_sql_q12" -> 0.403, "q_sql_q13" -> 0.424, "q_sql_q14" -> 0.196,
    "q_sql_q15" -> 0.513, "q_sql_q16" -> 0.304, "q_sql_q17" -> 0.468,
    "q_sql_q19" -> 0.265, "q_sql_q21" -> 0.955, "q_sql_q22" -> 0.404,
    // round-16 late batch (incremental sketch tier + IVFPQ retraction)
    "q_incr_hll" -> 0.208, "q_incr_qsketch" -> 0.101,
    "q_incr_cms" -> 0.352, "q_incr_cms_del" -> 0.205,
    "q_ann_ivfpq_del" -> 1.364, "q_incr_hll_del" -> 0.129,
    // r18 re-baselines (deliberate code changes, clean r18 recording):
    // the ps queries read the materialized session dim (q2/q11 halved;
    // q9 regained its supplycost term), the capstones gained the
    // seventh (bm25) tier
    "q_retract_e2e" -> 10.261, "q_sql_q2" -> 0.797, "q_sql_q11" -> 0.832,
    "q_sql_q9" -> 1.063,
    "q_sql_q20" -> 0.711, "q_incr_phash" -> 0.543,
    "q_incr_phash_del" -> 0.487, "q_ingest_e2e" -> 8.804,
    // r18 additions (clean r18 recordings)
    "q_incr_bm25_del" -> 0.532,
    "q_tx_fanout_status" -> 0.157,
    "q_hybrid_rrf_idx" -> 0.615, "q_tx_fanout_ingest" -> 0.060,
    // r19: q_incr_bm25 re-based for a DELIBERATE plan change — the
    // posting-uniqueness fold that keeps the production scan bucketed
    // + bucket-pruned (one extra agg at sf0.1; the 100 TB win is the
    // pruned scan); min over the round's two clean passes
    "q_incr_bm25" -> 0.461,
    // r19 additions: batched probe-relation serving (min over the two
    // clean passes)
    "q_bm25_multi" -> 0.825, "q_sim_topk_multi" -> 0.434)

  /** Probe time on the healthy recording host (median across the two
    * budget-recording runs). Classification compares each sample's
    * probe against THIS committed constant, not the run's own minimum:
    * a run under constant background load has every probe slow, so a
    * run-relative ratio would read 1.0 and misfile host noise as code
    * regressions. Budgets are host-specific already, so the probe
    * baseline rides along with them. */
  private val ProbeBaseline = 0.058

  /** Fixed single-thread CPU probe (~tens of ms on a healthy core):
    * deterministic xorshift loop, no allocation, no Spark — its time
    * moves ONLY with host CPU health, so a slow probe marks a slow-host
    * window rather than a code change. */
  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 30000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    // data dependency so the loop cannot be eliminated
    if (x == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }

  private case class Sample(sec: Double, probeB: Double, probeA: Double) {
    def worstProbe: Double = math.max(probeB, probeA)
  }

  /** Fixed IO probe: write+fsync+read+delete 8 MB under /tmp. The CPU
    * probe cannot see storage contention, which round 16 showed is the
    * dominant noise mode for the IO-bound ops (ImageIO codec cache,
    * tx-store file churn): three ops flagged over clean CPU probes on a
    * drifting host. Reported in the JSON (start/end of run) purely as
    * DISPOSITION EVIDENCE for budget flags — classification still keys
    * on the CPU probe, so regressions[] semantics are unchanged. */
  private def ioProbe(): Double = {
    val p = java.nio.file.Files.createTempFile("graft_ioprobe_", ".bin")
    val buf = new Array[Byte](1 << 20)
    java.util.Arrays.fill(buf, 0x5A.toByte)
    val t0 = System.nanoTime()
    val ch = java.nio.channels.FileChannel.open(p,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      (0 until 8).foreach(_ => ch.write(java.nio.ByteBuffer.wrap(buf)))
      ch.force(true)
    } finally ch.close()
    val n = java.nio.file.Files.readAllBytes(p).length
    val dt = (System.nanoTime() - t0) / 1e9
    java.nio.file.Files.deleteIfExists(p)
    if (n != (8 << 20)) -1.0 else dt
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ioStart = ioProbe()
    // SPARK_GRAFT_ONLY=a,b,c restricts the suite (dev iteration / the
    // SCALING.md cross-SF recordings of a few ops) — the Verify filter
    // precedent; budgets/flags still apply to whatever runs
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val qs = picks.filter(n => only.forall(_.contains(n)))
      .map(n => n -> graft.SparkEntry.queries(n))

    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    }

    // warm-up pass (untimed), with the same between-ops cleanup the
    // timed passes use
    qs.foreach { case (_, fn) => runOnce(fn); graft.ops.Ckpt.releaseAll(spark) }

    // two timed passes over the whole suite, interleaved round-robin
    val passes: Seq[Seq[(String, Sample)]] = (1 to 2).map { _ =>
      qs.map { case (name, fn) =>
        val probeB = calibrate()
        val sec = runOnce(fn)
        val probeA = calibrate()
        graft.ops.Ckpt.releaseAll(spark)
        name -> Sample(sec, probeB, probeA)
      }
    }
    val allProbes = passes.flatten.flatMap(s => Seq(s._2.probeB, s._2.probeA))
    val minProbe = allProbes.min
    val byOp: Seq[(String, Sample)] = qs.map { case (name, _) =>
      val ss = passes.map(_.find(_._1 == name).get._2)
      name -> (if (ss.exists(_.sec < 0)) Sample(-1.0, 0.0, 0.0)
               else ss.minBy(_.sec))
    }

    // Walk-only serving row (r14 verdict item 3): per-probe serve cost
    // against a RESIDENT standing store — the number that matters at
    // 100 TB, where the graph is a standing artifact and serving never
    // pays its build. One untimed warm call builds the stores, the
    // read-back graph Ckpt, and the checkpointed adjacency (exactly
    // what a serving process holds resident); the timed calls then run
    // ONLY the walk — coarse-entry probe scoring, L bucket-pruned hop
    // joins of beam-width rows, the final top-k. No releaseAll between
    // the timed calls, deliberately: evicting the standing artifacts
    // between probes would charge the build to every serve, which is
    // the conflation this row exists to remove. Exponent across SFs
    // stays ≈ 0 (probe count and beam are SF-independent; only the
    // O(√n) entry layer grows) — tracked in SCALING.md.
    val serve: Sample = {
      val fn = graft.SparkEntry.queries("q_ann_graph_incr")
      if (runOnce(fn) < 0) Sample(-1.0, 0.0, 0.0)
      else {
        val samples = (1 to 3).map { _ =>
          val pb = calibrate(); val s = runOnce(fn); val pa = calibrate()
          Sample(s, pb, pa)
        }
        graft.ops.Ckpt.releaseAll(spark)
        if (samples.exists(_.sec < 0)) Sample(-1.0, 0.0, 0.0)
        else samples.minBy(_.sec)
      }
    }
    val byOpAll = byOp :+ ("q_ann_graph_serve" -> serve)

    val qJson = byOpAll.map { case (k, s) => "\"" + k + "\":" + f"${s.sec}%.3f" }
      .mkString("{", ",", "}")
    // llm_total sums the SUITE ops only: the serve row is a walk-only
    // re-measure of q_ann_graph_incr (already in the sum) — adding it
    // would double-count that execution and break round-over-round
    // total comparability (review r15). It still appears in the
    // queries JSON and in the budget classification below; its failure
    // sentinel is likewise its own (-1 in the queries map), not the
    // total's — gating total on the extra row would break exactly the
    // comparability the exclusion preserves (advice r15).
    val total = if (byOp.exists(_._2.sec < 0)) -1.0
      else byOp.map(_._2.sec).sum
    // classify >2×-budget ops: clean probe → regression; slow probe →
    // host noise (sf0.1 only — the budgets were measured there)
    val over = if (!sfDir.endsWith("sf0.1")) Seq.empty else byOpAll.collect {
      case (name, s) if s.sec > 0 && baseline.get(name).exists(b => s.sec > 2 * b) =>
        (name, s)
    }
    val (noisy, regressions) = over.partition(_._2.worstProbe > 1.5 * ProbeBaseline)
    regressions.foreach { case (name, s) =>
      val b = baseline(name)
      System.err.println(
        f"[llm-bench] REGRESSION $name: ${s.sec}%.3f s vs budget $b%.3f s (${s.sec / b}%.1fx, bracketing probes clean)")
    }
    noisy.foreach { case (name, s) =>
      System.err.println(
        f"[llm-bench] NOISY $name: ${s.sec}%.3f s over budget but probes ${s.probeB}%.3f/${s.probeA}%.3f s vs $ProbeBaseline%.3f s healthy baseline — rerun on a quiet host")
    }
    val regJson = regressions.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val noisyJson = noisy.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val ioEnd = ioProbe()
    val probeJson = f""""probe":{"min":$minProbe%.3f,"max":${allProbes.max}%.3f,"median":${allProbes.sorted.apply(allProbes.size / 2)}%.3f,"baseline":$ProbeBaseline%.3f},"io_probe":{"start":$ioStart%.3f,"end":$ioEnd%.3f}"""
    val cfgJson =
      s""""config":{"heap_gb":${Runtime.getRuntime.maxMemory / (1 << 30)},"cpus":$cpus}"""
    val line =
      s"""{"metric":"llm_total","value":$total,"unit":"sec","queries":$qJson,"regressions":$regJson,"noisy":$noisyJson,$probeJson,$cfgJson,"sf":"$sfDir"}"""
    println(line)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "llm_bench_out.json")),
      (line + "\n").getBytes("UTF-8"))
    // stable per-round artifact (r17 verdict "what's wrong" #1): the
    // last-run file above is drift forensics and may be an afternoon
    // noise window; the DESIGNATED clean recording is written under a
    // tag (e.g. SPARK_GRAFT_BENCH_TAG=r18 → llm_bench_r18.json) so the
    // artifact a fresh reader finds first IS the governing one
    // LLMBASELINE.md cites.
    sys.env.get("SPARK_GRAFT_BENCH_TAG").foreach { tag =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"llm_bench_$tag.json"),
        (line + "\n").getBytes("UTF-8"))
    }
    spark.stop()
  }
}
