package graft.tools

import org.apache.spark.sql.functions._

/** PARALLEL-SPEEDUP probe at ×10 scale (round-22, SCALE.md §scaling):
  * the sf0.1 bench is overhead-bound — PERF_r21's 8-vs-32-core ratios
  * were ≈1 or inverted on every key, so no measured parallel-speedup
  * evidence existed. This runs a corpus-bound key slice over the
  * Stress10 ×10 SPREAD replica (volume-only growth — near-dup pair
  * graphs don't densify, so ratios isolate plan shape) at the core
  * count given by SPARK_GRAFT_CPUS, printing per-key wall + task-cpu.
  * Run it once at 32 and once at 8; the wall ratio is the speedup
  * figure SCALE.md records.
  *
  * Artifact stores the slice serves from are warmed UNTIMED first
  * (the Bench accounting rule: builds never hide inside a serving
  * row); trained/policy/funnel builders are excluded — their keys are
  * not in the slice and their Lloyd/funnel builds would dominate the
  * warm phase for nothing.
  *
  * Usage: SPARK_GRAFT_CPUS=32 runMain graft.tools.ScaleProbe [src] [out]
  */
object ScaleProbe {
  val Keys: Seq[String] = Seq(
    "q_decontaminate", "q_text_novelty", "q_dedup_exact",
    "q_dedup_minhash", "q_dedup_ngram", "q_dedup_cluster_incremental",
    "q_dedup_semantic_resolve", "q_corpus_importance_bigram",
    "q_text_lm_score_bigram", "q_text_bm25", "q_text_ngram_freq",
    "q_knn_ivf", "q_knn_ivf_filtered", "q_events_sessions",
    "q_events_dwell", "q_mm_phash", "q_verbatim_removal_incremental")

  /** Builders the slice's keys read from — warmed untimed. */
  val WarmBuilders: Set[String] = Set(
    "ngram_cc_labels", "emb_pairs", "minhash_bands", "cdc_chunks",
    "doc_shingle_store", "verbatim_span_index", "lsh_bucket_index",
    "pq_code_store", "res_code_store", "phash_cc_labels",
    "events_stores")

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sfx10r22")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Prof.session(cpus)
    if (!new java.io.File(s"$out/documents.parquet").exists()) {
      val t0 = System.nanoTime()
      Stress10.gen(spark, src, out, 10, "spread")
      println(f"[probe] generated x10 spread replica in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    for (t <- Seq("events", "documents", "embeddings"))
      graft.Tables.t(spark, out, t).count()
    val clock = graft.Metrics.installTaskClock(spark.sparkContext)
    val tw0 = System.nanoTime()
    for ((name, build) <- graft.Bench.artifactBuilders
         if WarmBuilders(name)) {
      val t0 = System.nanoTime()
      try build(spark, out) catch { case e: Throwable =>
        System.err.println(s"[probe] warm $name FAILED: ${e.getMessage}") }
      println(f"[probe] warm $name%-22s ${(System.nanoTime() - t0) / 1e9}%7.1f s")
    }
    println(f"[probe] artifact warm total ${(System.nanoTime() - tw0) / 1e9}%.1f s (untimed setup)")
    println(f"[probe] cpus=$cpus  ${"key"}%-32s ${"wall"}%8s ${"taskcpu"}%8s ${"shufMB"}%8s ${"rows"}%10s")
    var sumW = 0.0
    for (k <- Keys) {
      spark.sparkContext.setJobDescription(s"probe: $k")
      val (_, c0) = clock.snapshot(spark.sparkContext)
      val t0 = System.nanoTime()
      val cdf = graft.SparkEntry.queries(k)(spark, out).agg(count(lit(1)))
      val n = cdf.collect()(0).getLong(0)
      val w = (System.nanoTime() - t0) / 1e9
      val (_, c1) = clock.snapshot(spark.sparkContext)
      sumW += w
      println(f"[probe] cpus=$cpus  $k%-32s $w%8.2f ${c1 - c0}%8.2f ${graft.Metrics.shuffleBytesOf(cdf.queryExecution) / 1e6}%8.1f $n%10d")
    }
    println(f"[probe] cpus=$cpus TOTAL wall ${sumW}%.1f s over ${Keys.size} keys")
    spark.stop()
  }
}
