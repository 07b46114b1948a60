package graft

/** Measured scale-up harness (VERDICT r10 Next #1): runs the
  * heaviest registered queries at the base scale AND at a
  * [[graft.tools.ScaleUp]]-synthesized `factor`× slice, and records
  * each query's empirical scaling exponent
  * `log(t_scaled / t_base) / log(factor)` in `BENCH_SCALE.json`.
  * An exponent ≈ 1 is linear; window/sort-bound plans may run
  * slightly above 1 (n log n); anything well above ~1.3 is a
  * super-linear plan the PlanAudit shape checks could not catch —
  * exactly the fan-out-under-skew class (t31/d09/q42) the scaled
  * slice's boilerplate and duplicate docs are designed to provoke.
  *
  * Methodology notes:
  *  - base and scaled timings for the SAME query run back to back
  *    inside each rep, so box drift cancels out of the ratio;
  *  - per-query MIN over reps (the Bench.scala steady-state
  *    convention), calibration anchor converged before timing;
  *  - small-t caveat: sub-second base times carry fixed scheduler /
  *    JIT overhead that deflates the exponent — exponents are
  *    evidence against super-linearity, not precise complexity fits.
  *
  * Usage (env): SPARK_GRAFT_SCALE_BASE (default /root/testdata/sf0.1),
  * SPARK_GRAFT_SCALE_DIR (default /root/repo/scaledata/x10),
  * SPARK_GRAFT_SCALE_FACTOR (default 10), SPARK_GRAFT_SCALE_N
  * (default 2), SPARK_GRAFT_SCALE_OUT (default BENCH_SCALE.json).
  */
object BenchScale {

  /** The consolidated family-covering sweep set (VERDICT r11 #4): the
    * heaviest registry lines per operator family at the round-12
    * closing state, so ONE regenerated BENCH_SCALE.json carries every
    * family's current exponent. cass_* lines are excluded — they
    * benchmark self-generated fixed-size sstable fixtures an input-dir
    * scale factor cannot reach; st* streaming gates are excluded —
    * their cost is micro-batch restart choreography (see the bench's
    * total_stream_gate_s split), not input-scaled data work. */
  val SweepSet: Seq[String] = Seq(
    // dedup (exact / jaccard / minhash / simhash / edit / exact-substr)
    "d02_ngram_jaccard_pairs", "d08_containment_pairs", "d09_weighted_jaccard",
    "d10_edit_rerank", "d14_ensemble_pairs", "d19_cluster_sources",
    "d25_minhash_k_sweep", "d29_exact_substr", "d30_exact_substr_by_source",
    "d31_exact_substr_pairs", "d32_exact_substr_scrub",
    "d33_df_saturation", "d37_rare_window_kanon", "d38_source_overlap_sketch",
    "d39_source_containment", "p47_scrub_savings_by_source",
    "p52_decontamination_scrub", "p53_gated_packing",
    "d34_band_skew", "d36_minhash_band_skew", "d35_dialogue_dedup",
    "p55_dialogue_scrub", "p56_dialogue_contamination",
    "p54_curation_compose", "p58_sft_packing",
    "d40_dialogue_minhash", "p62_sft_curation_compose", "p63_sft_waterfill",
    // retrieval
    "t19_bm25_topk", "t21_bm25_artifact", "t23_hybrid_rrf", "t27_snippets",
    "s19_hard_negatives",
    // tokenizer / packing
    "t13_bpe_train", "t14_bpe_vocab", "t16_bpe_artifact", "p13_pack_subwords",
    // graph
    "c01_dedup_clusters", "c02_pagerank", "c04_kcore",
    "c06_component_histogram", "c10_cc_incremental", "c17_dup_cascade_depth",
    "c18_source_authority",
    // similarity / ANN
    "s13_ivf_trained_topk", "s16_semantic_dedup_bigk", "s17_ivfpq_topk",
    "s18_mmr_rerank", "s32_knn_confusion", "s36_ivf_list_gini",
    "s37_int8_rank_fidelity", "s40_kcenter_coreset", "p60_coreset_sample",
    // rank statistics / profiling
    "q41_profile", "q76_gini", "q82_spearman", "q88_robust_outliers",
    "q92_quartile_dispersion", "q93_key_skew_audit", "q94_join_advisor",
    // events / baskets
    "e41_gap_dispersion", "e42_handoff_latency", "e43_user_activity_powerlaw",
    "q42_assoc_rules",
    "q63_assoc_top_support",
    // text analysis / curation
    "t31_tfidf_pairs", "t38_tokenizer_fertility", "t39_source_drift_tv",
    "p12_curation_pipeline", "p14_dsir_selection", "p22_data_selection",
    "p27_effective_tokens", "p46_span_contamination", "p48_dedup_corrected_mix",
    "p49_quality_dedup_keep_best", "t48_repetition_gates", "t49_chunk_inventory",
    "p50_ccnet_buckets", "s39_semantic_contamination", "p51_soft_dedup_weights",
    "p57_waterfill_budget", "t50_zipf_fit", "t51_heaps_curve",
    "p59_privacy_gate", "t52_source_zipf_slopes", "p61_waterfill_select",
    "t53_mattr_diversity",
    // multimodal (documents-derived media)
    "m12_phash_neardup", "m19_rare_phash_audit")

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")
    val scaled = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/root/repo/scaledata/x10")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val iters = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "2").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_SCALE.json")
    // partitions follow the decade through SPARK_GRAFT_CPUS (with
    // SPARK_MASTER pinning the threads): at 100x a 32-partition shuffle
    // left c01's LSH candidate distinct too large for a task's share
    // of the page pool (OOM at 60 g heap)
    val spark = GraftSession("graft-bench-scale")

    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    // SPARK_GRAFT_SCALE_QUERIES overrides the SweepSet (comma-separated)
    // — used for the 100× decade where a subset keeps the sweep
    // tractable
    val names = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(SweepSet)
    val qdefs = names.map(n => byName.getOrElse(n,
      throw new IllegalArgumentException(s"unknown query $n")))

    // converge the calibration anchor before timing (Bench.scala's
    // r9-#3 discipline) so the first queries don't eat the cold window
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 20000000L, 1, 32)
        .selectExpr("id % 9973 AS k", "(id * 2654435761) % 1000003 AS h")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("h").as("sh"),
          org.apache.spark.sql.functions.count("*").as("n"))
        .selectExpr("sum(sh) AS s", "sum(n) AS m").collect()
      (System.nanoTime() - t0) / 1e9
    }
    var prev = calibOnce(); var cur = calibOnce(); var warm = 2
    while (warm < 12 && math.abs(cur - prev) / math.max(cur, prev) > 0.10) {
      prev = cur; cur = calibOnce(); warm += 1
    }
    val calibPre = math.min(prev, cur)
    System.err.println(f"[scale] calib converged after $warm runs: $calibPre%.3fs")

    def timeOne(q: graft.queries.QueryDef, dir: String): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = {
        val df = q.run(spark, dir)
        try df.count()
        finally graft.operators.Storage.release(df)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // single-JVM 100× hygiene, OUTSIDE the timed window: broadcast
      // and checkpoint blocks of the PREVIOUS queries are cleaned by
      // the ContextCleaner only after GC proves them unreachable — at
      // 100× a few uncollected broadcasts from 8 preceding heavy
      // queries starve the next aggregation's page allocator
      // (AGGREGATE_OUT_OF_MEMORY at a 60g heap with <20g live). A
      // real cluster recycles executors; the single-JVM stand-in
      // nudges the collector between queries instead.
      System.gc()
      (dt, n)
    }

    val tBase = scala.collection.mutable.Map.empty[String, Double]
    val tScaled = scala.collection.mutable.Map.empty[String, Double]
    val rowsB = scala.collection.mutable.Map.empty[String, Long]
    val rowsS = scala.collection.mutable.Map.empty[String, Long]
    for (rep <- 1 to iters) {
      val order = new scala.util.Random(0xA5F1520BL + rep).shuffle(qdefs)
      for (q <- order) {
        // base and scaled back to back: drift cancels out of the ratio
        val (tb, nb) = timeOne(q, base)
        val (ts, ns) = timeOne(q, scaled)
        spark.catalog.clearCache()
        tBase(q.name) = math.min(tb, tBase.getOrElse(q.name, Double.MaxValue))
        tScaled(q.name) = math.min(ts, tScaled.getOrElse(q.name, Double.MaxValue))
        rowsB(q.name) = nb; rowsS(q.name) = ns
        System.err.println(f"[scale] rep $rep ${q.name}%-26s base=$tb%7.2fs " +
          f"scaled=$ts%7.2fs rows=$nb%d/$ns%d")
      }
    }
    val calibPost = calibOnce()

    def r(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val lines = qdefs.map { q =>
      val (tb, ts) = (tBase(q.name), tScaled(q.name))
      val expo = math.log(ts / tb) / math.log(factor.toDouble)
      // output-bound classifier (VERDICT r12 #6), a computed field
      // instead of prose: how time PER EMITTED ROW moved across the
      // decade — (t_scaled/rows_scaled)/(t_base/rows_base). < 1 means
      // per-row cost FELL even if total time grew super-linearly
      // (a pair inventory whose output itself grew, d10/d14's class);
      // null when either row count is 0 (nothing emitted to normalize
      // by).
      val tprRatio =
        if (rowsB(q.name) > 0 && rowsS(q.name) > 0)
          Some((ts / rowsS(q.name)) / (tb / rowsB(q.name)))
        else None
      System.err.println(f"[scale] ${q.name}%-26s base=$tb%6.2fs " +
        f"scaled=$ts%6.2fs exponent=$expo%5.2f t_per_row_x=${
          tprRatio.map(v => f"$v%.3f").getOrElse("null")}")
      s""""${q.name}":{"t_base":${r(tb)},"t_scaled":${r(ts)},""" +
        s""""exponent":${r(expo)},"rows_base":${rowsB(q.name)},""" +
        s""""rows_scaled":${rowsS(q.name)},""" +
        s""""t_per_row_x":${tprRatio.map(r).getOrElse("null")}}"""
    }
    val json = s"""{"factor":$factor,"base":"$base","scaled":"$scaled",""" +
      s""""n":$iters,"calib":{"pre":${r(calibPre)},"post":${r(calibPost)}},""" +
      s""""queries":${lines.mkString("{", ",", "}")}}\n"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    spark.stop()
    println(json)
  }
}
