package graft

/** Dumps `explain("formatted")` plans — the physical-plan evidence
  * (broadcasts, pushed filters, pruned schemas, codegen stages) that
  * PlanSpec asserts programmatically. Usage:
  *   sbt "runMain graft.ExplainTo <sfDir>" > PLANS.md
  *     — the headline queries, to stdout in PLANS.md's form;
  *   sbt "runMain graft.ExplainTo <sfDir> <outDir> <suffix> q19_...,q22_..."
  *     — the named queries, one `<outDir>/<query><suffix>.txt` each (the
  *     optimization rounds' plans/r17/<query>_before.txt / _after.txt).
  *
  * Matches the bench's session shape (local[SPARK_GRAFT_CPUS], shuffle
  * partitions = cores) so the dumped initial plans are the ones the bench
  * executes (AQE's runtime rewrites are captured separately by the bench's
  * SPARK_GRAFT_PLANS executed-plan dump).
  */
object ExplainTo {
  private val headline = Seq(
    "q19_progress_report", // broadcast dim join + windows + null semantics
    "q01_grouped_sum",     // partial aggregation
    "q05_left_outer_coalesce", // column pruning
    "q22_minhash_lsh",     // LSH banding + verification joins
    "q24_knn_brute",       // broadcast NLJ + codegen kernel + WindowGroupLimit
    "q38_asof",            // union-sort-carry
    "q39_knn_ivf",         // max_by assignment + probe grid + rerank
    "q53_dedup_keep_best", // CC clusters + max_by retention
    "q56_sequence_pack",   // two-phase distributed prefix sum
    "q25_knn_lsh",         // vector-free band join, rejoin by id
    "q58_skew_join",       // salted hot key, shuffled hash join
    "q63_asof_forward",    // reversed-sort O(n) forward carry frame
    "q65_bucketed_join",   // exchange-free, sort-free co-located SMJ
    "q67_pipeline",        // curation pipeline: text stops at the filter
    "q69_heavy_hitters",   // MG sketch candidates + exact verify pass
    "q68_range_join",      // pre-aggregated binned range join
    "q74_interval_overlap", // interval x interval bin-explode overlap
    "q23_simhash_neardup", // memoized portable kernel, banded self-join
    "q75_quantize",        // int8 codec checksums: one-pass scan shape
    "q77_corr_suite",      // co-moment partial aggregation
    "q95_semantic_dedup",  // two-level routing + decimal-packed hash argmin
    "q112_window_dup",     // one HashPartitioning(wh) reused across stages
    "q121_cc_incremental", // rep-graph merge over two CC passes
    "q125_knn_ivf_pq",     // IVF cell routing + ADC confined to probed cells
    "q126_bigram_lm",      // 60-bit hashed bigram keys on every exchange
    "q127_curation_pass",  // quality->exact->semantic ladder in one plan
    "q129_bfs",            // delta-leaf union: maxHops+1 LogicalRDD leaves
    "q132_pareto_frontier", // collapse + partition-local dominance sweep
    "q136_sparse_retrieval", // checkpointed weight apex, df-capped candidates
    "q144_ivf_search_stored", // stored-index scans, no build stages
    "q147_ivf_pq_search_stored", // stored cells/codebooks/codes, no encode
    "q148_span_coverage",  // explode+codegen hash, min/max cross-doc, lag sweep
    "q151_sparse_search_stored", // stored postings/norms, text untouched
    "q158_hybrid_stored_rrf", // both arms index-only, integer RRF fusion
    "q169_ivf_token_search",  // token-gated serving: no audit scan stage
    "q170_sparse_token_search", // token-gated sparse serving
    "q171_ivf_pq_token_search") // token-gated PQ serving

  def main(args: Array[String]): Unit = {
    require(args.length == 1 || args.length == 4,
      "usage: ExplainTo <sfDir> [<outDir> <suffix> <q1,q2,...>]")
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = LocalSession(cpus, cpus, logLevel = "ERROR")
    def plan(name: String): String = {
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    }
    if (args.length == 1) {
      println(s"# PLANS - formatted physical plans at $sfDir\n")
      println("Generated by `sbt \"runMain graft.ExplainTo <sfDir>\"`. The properties that")
      println("matter at scale - broadcast joins, PushedFilters, pruned ReadSchema,")
      println("partial aggregation, WholeStageCodegen coverage are asserted in")
      println("PlanSpec; this is the human-readable evidence.\n")
      headline.foreach { name =>
        println(s"## $name\n")
        println("```")
        println(plan(name))
        println("```\n")
      }
    } else {
      val Array(_, outDir, suffix, names) = args
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"$name$suffix.txt"), plan(name))
        println(s"wrote $outDir/$name$suffix.txt")
      }
    }
    spark.stop()
  }
}
