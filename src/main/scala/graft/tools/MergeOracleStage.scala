package graft.tools

/** Stage an append-grown corpus whose serving stores are PUBLISHED BY
  * THE MERGE LANES, for an independent DuckDB referee pass (round-19
  * for the documents/events lanes; round-20 adds the embeddings-sourced
  * lanes — emb_pairs, emb_cc, lsh_buckets, knn_truth — per ADVICE),
  * and print the cold-vs-grown economics of every store on the way
  * ([[MergeStage.acrossAppend]]):
  *
  *   1. copy the source dir's documents/events/embeddings into a
  *      scratch multi-part directory (the shape production ingest
  *      appends to);
  *   2. resolve every `Bench.artifactBuilders` row, plus the brute kNN
  *      truth, COLD at the base state;
  *   3. append one part file per table — ~5% for documents/events
  *      (events ts-shifted, a valid per-user continuation), ~2% for
  *      embeddings (stride 50: 2000 → 2040 stays inside the 8-plane
  *      derivePlanes block, so the plane-knob lanes MERGE instead of
  *      declining — the decline arm is WarehouseSpec's job);
  *   4. re-resolve every row in the same session (the corpus snapshot
  *      keys the stats and artifact memos, so the grown state is
  *      recounted): the append-merge lanes publish the grown stores.
  *
  * Each resolution prints one task-cpu window, `[mergeoracle] <row>
  * cold|grown cpu … run … wall …`, and each grown row lists the lane
  * every family took — the SCALE.md merge-economics table (cold
  * rebuild vs append-merge cpu per store).
  *
  * A subsequent `graft.Verify <outDir> … <store-fed keys>` then hits
  * exactly those merge-produced tables from a fresh JVM, and
  * `tools/check_oracle.py` hash-compares each consumer key against
  * DuckDB replaying the SAME grown parquet — merge ≡ cold under the
  * oracle, one referee removed from the engine.
  *
  * Usage: MergeOracleStage [srcDir] [outDir]
  */
object MergeOracleStage {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sfmerge01")
    val spark = Prof.session()
    val clock = graft.Metrics.installTaskClock(spark.sparkContext)
    def window(f: () => Unit): String = {
      val (r0, c0) = clock.snapshot(spark.sparkContext)
      val t0 = System.nanoTime()
      f()
      val wall = (System.nanoTime() - t0) / 1e9
      val (r1, c1) = clock.snapshot(spark.sparkContext)
      f"cpu ${c1 - c0}%7.2f run ${r1 - r0}%7.2f wall $wall%7.2f"
    }
    val rows = graft.Bench.artifactBuilders :+ (("knn_truth",
      (s: org.apache.spark.sql.SparkSession, d: String) =>
        { graft.operators.Similarity.knnBruteTruth(s, d); () }))
    for ((name, cold, grown, lanes) <-
           MergeStage.acrossAppend(spark, src, out, rows)(window)) {
      println(f"[mergeoracle] $name%-20s cold  $cold")
      println(f"[mergeoracle] $name%-20s grown $grown  " +
        lanes.toSeq.sorted.map { case (f, l) => s"$f:$l" }.mkString(" "))
    }
    println("[mergeoracle] stores re-resolved at the grown state " +
      "(merge lanes published)")
    spark.stop()
  }
}
