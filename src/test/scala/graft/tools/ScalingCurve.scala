package graft.tools

/** Measures representative queries across the three generated scale
  * factors and prints the markdown table SCALING.md embeds ("Measured
  * scaling curve"). Sub-linear growth ⇒ fixed overhead still
  * dominates at that SF; ~linear growth ⇒ the operator is data-bound
  * and its shuffle structure is what matters at 100 TB.
  * `Test/runMain graft.tools.ScalingCurve` (on `SPARK_GRAFT_CPUS` cores,
  * default all of the host's). */
object ScalingCurve {
  private val SFS = Seq("sf0.001", "sf0.01", "sf0.1")
  private val QUERIES = Seq(
    "q01_pricing_summary", "q04_regional_revenue", // scan+agg / join chain
    "d01_exact_dedup", "d02_ngram_jaccard",        // hash agg / bucket pairs
    "d09_cc_largestar",                            // iterative fixpoint
    "s01_topk_cosine", "s03_embedding_neardup",    // brute force / bucketed
    "t06_tfidf", "t18_unigram_nll",                // token aggregates
    "t17_chunking", "e05_zscore_anomaly",          // fan-out / windows
    "w01_tumbling_window", "x02_bloom_prune",
    "e06_funnel", "e07_retention",                 // single-key staged aggs
    "t24_shingle_novelty", "d13_dup_chunks",       // dictionary join / hash agg
    "s08_kmeans_assign", "q52_token_deciles",      // broadcast argmin / global ntile
    "d17_dup_spans", "d19_incremental_spans",      // substring spans: full / ingest
    "e13_guarded_conversion", "s17_mmr_rerank",    // CEP window / serving re-rank
    "t38_bm25_retrieval", "m05_media_neardup",     // bounded top-k / media banding
    "q73_data_audit", "e15_pattern_match",         // audit scans / regex groups
    "q74_ivm_join", "s19_khop_reachability")       // delta joins / frontier BFS

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    // warm every SF's tables and the text kernels once
    SFS.foreach { sf =>
      graft.Tables.names.foreach(n =>
        graft.Tables.load(spark, s"/root/testdata/$sf", n).count())
      graft.operators.Dedup.d02(spark, s"/root/testdata/$sf").count()
    }
    def timeQ(name: String, sf: String): Double = {
      val fn = graft.SparkEntry.queries(name)
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, s"/root/testdata/$sf").count()
        (System.nanoTime() - t0) / 1e9
      }
      times.sorted.apply(1)
    }
    println("| query | sf0.001 | sf0.01 | sf0.1 | x10 data | x100 data |")
    println("|---|---|---|---|---|---|")
    QUERIES.foreach { q =>
      val t = SFS.map(timeQ(q, _))
      println(f"| $q | ${t(0)}%.3f s | ${t(1)}%.3f s | ${t(2)}%.3f s " +
        f"| x${t(1) / t(0)}%.1f | x${t(2) / t(0)}%.1f |")
    }
    spark.stop()
  }
}
