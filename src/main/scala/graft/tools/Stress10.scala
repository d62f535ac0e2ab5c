package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** ORDER-OF-MAGNITUDE scale stress (dev utility, SCALE.md §x10): the
  * driver ships no sf1 testdata, so this synthesizes a ×N replica of
  * sf0.1's three pipeline tables (events / documents / embeddings) and
  * times a shuffle-heavy key slice at BOTH scales, reporting the
  * time and shuffle-bytes ratios. A scale-sound key should grow
  * ≈ linearly in bytes and ≤ ~N× (+ fixed overhead) in time; a
  * superlinear blow-up is a design flaw the sf0.1 bench can't see.
  *
  * NOT an oracle input: replicas derive from the driver's data
  * (ids shifted by copy, document text tagged per copy so the
  * exact-dup rate keeps its structure) and exist only for this
  * experiment — correctness stays pinned to the driver's own tables.
  * Near-dup/ANN families WILL see ×N-sized clusters (every copy is a
  * near-dup of its original): that is the dup-heavy-corpus stress, and
  * it is the interesting case — dedup at 100 TB is dup-heavy by
  * definition.
  *
  * Usage: runMain graft.tools.Stress10 [srcDir] [outDir] [copies] [keys...]
  */
object Stress10 {
  /** Id shift per copy — far above any driver id range. */
  val IdOff = 1000000000L

  val DefaultKeys: Seq[String] = Seq(
    // doc-level dedup (digest shuffle, LSH bands, CC labels, line df)
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_cluster",
    "q_dedup_lines", "q_dedup_semantic", "q_dedup_embedding",
    // curation (eval-broadcast join, token frames, funnel composition)
    "q_decontaminate", "q_corpus_importance_bigram", "q_corpus_funnel",
    "q_verbatim_spans",
    // text (tf aggregation, BPE rounds, shingle keys, BM25 scoring)
    "q_text_ngram_freq", "q_text_bpe_train", "q_text_bm25",
    // emission-capped serving twin (round 15 — the capNeighbors tail
    // under volume; output must stay ≤ N rows/doc however dup-dense)
    "q_dedup_minhash_topn",
    // ANN (banded LSH, cell-bucketed IVF, brute top-k; round 16 the
    // four-way policy — its audit chains sweep the full corpus)
    "q_knn_lsh", "q_knn_topk", "q_knn_ivf", "q_knn_quant_policy",
    // multimodal sketch front end
    "q_mm_phash",
    // events analytics (user-keyed windows + aggregates)
    "q_events_sessions", "q_events_funnel", "q_events_active",
    "q_events_bots")

  /** `neardup`: copies stay ~99% similar to their original — the
    * dup-heavy stress (pair graphs densify quadratically with copy
    * count, which is the OUTPUT growing, not the plan failing).
    * `spread`: copies are made dissimilar — a per-copy tag token
    * interleaved every 8 words (kills ~half the 5-shingles → below
    * near-dup thresholds) and embeddings component-rotated by the copy
    * index (rotations of random vectors are near-orthogonal) — so only
    * VOLUME scales and ratios isolate plan shape. */
  def gen(spark: SparkSession, src: String, out: String, n: Int,
          mode: String): Unit = {
    def rep(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until n).map(c => shift(df, c)).reduce(_ unionByName _)

    val ev = Tables.t(spark, src, "events")
    rep(ev) { (df, c) =>
      df.withColumn("event_id", col("event_id") + lit(c * IdOff))
        .withColumn("user_id", col("user_id") + lit(c * IdOff))
    }.write.mode("overwrite").parquet(s"$out/events.parquet")

    val docs = Tables.documents(spark, src)
    rep(docs) { (df, c) =>
      val tagged =
        if (c == 0) df
        else if (mode == "spread")
          df.withColumn("text", expr(
              s"""array_join(flatten(transform(
                    sequence(0, (size(split(text, ' ')) - 1) div 8),
                    i -> concat(slice(split(text, ' '), i * 8 + 1, 8),
                                array('xc$c')))), ' ')"""))
            .withColumn("n_chars", length(col("text")))
        else
          df.withColumn("text", concat(col("text"), lit(s" xcopy$c")))
            .withColumn("n_chars", col("n_chars") + lit(7 + (if (c > 9) 1 else 0)))
      tagged.withColumn("doc_id", col("doc_id") + lit(c * IdOff))
    }.write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = Tables.embeddings(spark, src)
    rep(emb) { (df, c) =>
      val rot =
        if (c == 0 || mode != "spread") df
        else df.withColumn("embedding", expr(
          s"concat(slice(embedding, ${c + 1}, size(embedding) - $c), slice(embedding, 1, $c))"))
      rot.withColumn("vec_id", col("vec_id") + lit(c * IdOff))
    }.write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sfx10")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val mode = args.lift(3).getOrElse("neardup")
    val keys = if (args.length > 4) args.drop(4).toSeq else DefaultKeys
    val spark = Prof.session()
    if (!new java.io.File(s"$out/documents.parquet").exists()) {
      val t0 = System.nanoTime()
      gen(spark, src, out, copies, mode)
      println(f"[stress] generated x$copies $mode replica in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    // Footer/listing warm on both dirs so first-touch isn't billed.
    for (d <- Seq(src, out); t <- Seq("events", "documents", "embeddings"))
      Tables.t(spark, d, t).count()

    def runKey(k: String, dir: String): (Double, Long, Long) = {
      val t0 = System.nanoTime()
      val cdf = graft.SparkEntry.queries(k)(spark, dir).agg(count(lit(1)))
      val n = cdf.collect()(0).getLong(0)
      ((System.nanoTime() - t0) / 1e9, graft.Metrics.shuffleBytesOf(cdf.queryExecution), n)
    }
    println(f"[stress] ${"key"}%-28s ${"sf0.1"}%8s ${"x" + copies}%8s ${"ratio"}%6s ${"shufMB"}%8s ${"xshufMB"}%8s ${"bratio"}%6s ${"rows"}%9s ${"xrows"}%9s")
    val rows = for (k <- keys) yield {
      val (s1, b1, n1) = runKey(k, src)
      val (sN, bN, nN) = runKey(k, out)
      val r = sN / s1
      val br = if (b1 > 0) bN.toDouble / b1 else -1.0
      println(f"[stress] $k%-28s $s1%8.2f $sN%8.2f $r%6.1f ${b1 / 1e6}%8.1f ${bN / 1e6}%8.1f $br%6.1f $n1%9d $nN%9d")
      (k, s1, sN, r)
    }
    val tot1 = rows.map(_._2).sum; val totN = rows.map(_._3).sum
    println(f"[stress] TOTAL $tot1%.1f s -> $totN%.1f s (${totN / tot1}%.1f x at $copies x data)")
  }
}
