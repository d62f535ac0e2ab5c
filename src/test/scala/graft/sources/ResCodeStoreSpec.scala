package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-21 optimization pins: the persisted RESIDUAL-CODE store (the
  * last inline corpus-scale encode moved behind the warehouse), plus
  * the trained-quantizer reuse lane's new append-only witness.
  *
  * Store-fed ≡ inline is the contract the bench win rides on: every
  * q_knn_ivfpq_res* key and the tier/quant policies now read
  * [[graft.operators.Similarity.resCodeStore]] instead of re-deriving
  * residuals + re-encoding the corpus per resolution — legal only
  * because both quantizers are deterministic functions of the corpus,
  * which these tests pin bit-for-bit through the production lanes. */
class ResCodeStoreSpec extends SparkSpec {
  import graft.operators.Similarity

  private def rows(df: DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.toString()).toSeq

  private def appendPart(dir: String, table: String, df: DataFrame): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("rcsb").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    new java.io.File(tmp).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .foreach(f => java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(s"$dir/$table.parquet/${f.getName}")))
  }

  /** The INLINE residual index at the corpus-derived parameters — the
    * pre-round-21 chain, spelled from the public pieces: the store must
    * reproduce it bit for bit on every lane. */
  private def inlineIndex(dir: String): DataFrame = {
    val e = Similarity.quantizedVectors(graft.Tables.embeddings(spark, dir))
    val n = e.count()
    val kk = math.ceil(math.sqrt(n.toDouble)).toInt
    val cents = e.filter(col("vec_id") < kk)
      .select(col("vec_id").as("cid"), col("v").as("c"))
    Similarity.ivfPqResidualIndex(e, cents,
      Similarity.residualCodebook(e, cents, Similarity.derivePqCodes(n)))
  }

  test("res_codes append-merge: delta-only residual encode at fixed quantizers; a derived-K step (either knob) declines to cold") {
    // The store's knob at the fixture counts (the lane compares the
    // same function's values): 40 base → ceil(√40)=7 cells, 8 codes;
    // +8 → 48 keeps both (ceil(√48)=7, 64 ≥ 48); +80 → 128 steps both
    // (ceil(√128)=12, codes → 16).
    assert(Similarity.deriveResKnob(48L) == Similarity.deriveResKnob(40L))
    assert(Similarity.deriveResKnob(128L) != Similarity.deriveResKnob(48L))
    val dir = java.nio.file.Files.createTempDirectory("rescodes").toString
    val esrc = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
      .orderBy(col("vec_id")).limit(128).localCheckpoint(true)
    esrc.filter(col("vec_id") < 40).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def resolve(): (Map[String, String], DataFrame) = {
      val s2 = spark.newSession()
      Warehouse.drainLanes(s2)
      val served = Similarity.resCodeStore(s2, dir)
      served.count()
      (Warehouse.drainLanes(s2), served)
    }
    def laneOf(m: Map[String, String]): Option[String] =
      m.collectFirst { case (k, v) if k.takeWhile(_ != '@') == "res_codes" => v }
    val (l1, s1) = resolve()
    assert(laneOf(l1).contains("cold"), s"first build is cold: $l1")
    assert(rows(s1) == rows(inlineIndex(dir)),
      "cold store != the inline residual index")
    appendPart(dir, "embeddings",
      esrc.filter(col("vec_id") >= 40 && col("vec_id") < 48))
    val (l2, s2) = resolve()
    assert(laneOf(l2).contains("merge"),
      s"in-block append must take the res_codes merge lane: $l2")
    assert(rows(s2) == rows(inlineIndex(dir)),
      "merged residual store != inline index over the grown corpus")
    appendPart(dir, "embeddings",
      esrc.filter(col("vec_id") >= 48 && col("vec_id") < 128))
    val (l3, s3) = resolve()
    assert(laneOf(l3).contains("cold"),
      s"a derived-K step must decline the merge: $l3")
    assert(rows(s3) == rows(inlineIndex(dir)))
  }

  test("store-fed residual serving ≡ the inline chain (the q_knn_ivfpq_res contract)") {
    // The registered key reads the store; the inline reference is the
    // pre-round-21 spelling at the same derived parameters. sf0.001:
    // real corpus, real derived knobs.
    val dir = sfDir
    val served = graft.SparkEntry.queries("q_knn_ivfpq_res")(spark, dir)
    val e = Similarity.quantizedVectors(graft.Tables.embeddings(spark, dir))
    val n = e.count()
    val inline = Similarity.ivfPqResidualTopK(
      e, math.ceil(math.sqrt(n.toDouble)).toInt,
      Similarity.derivePqCodes(n), 8, 5)
    assert(rows(served) == rows(inline),
      "store-fed q_knn_ivfpq_res diverged from the inline residual chain")
  }

  test("trained-quantizer reuse declines on a NON-APPEND rewrite within the count ratio (append-only witness, round-21 ADVICE)") {
    import Similarity.quantizedVectors
    val dir = java.nio.file.Files.createTempDirectory("reusegate").toString
    val esrc = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
      .orderBy(col("vec_id")).limit(100).localCheckpoint(true)
    esrc.coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def resolveCents(): DataFrame = {
      val s2 = spark.newSession()
      Similarity.trainedIndexArtifacts(s2, dir)
      spark.table(Warehouse.tableName(
        "ivf_cents", dir, Warehouse.embFp(s2, dir)))
    }
    def rows0(df: DataFrame) = rows(df.drop("trained_n"))
    val c1 = resolveCents()
    assert(c1.agg(max(col("trained_n"))).head().getLong(0) == 100L)
    // NON-APPEND rewrite: same ids and count, DIFFERENT vectors (and a
    // different byte size, so the fingerprint moves). Count ratio is
    // exactly 1.0 — inside the reuse window — so before the witness the
    // reuse lane would carry centroids trained on the replaced data.
    val mutated = esrc.withColumn("embedding",
      expr("transform(embedding, x -> CAST(x AS DOUBLE) * 3.0 + 0.125)"))
      .localCheckpoint(true)
    val old = new java.io.File(s"$dir/embeddings.parquet")
    old.listFiles().foreach(f => f.delete())
    mutated.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val c2 = resolveCents()
    // The gate must force a FRESH train on the mutated corpus: the
    // served centroids equal Lloyd over the current data, not c1's.
    val e2 = quantizedVectors(spark.read.parquet(s"$dir/embeddings.parquet"))
    val expected = Similarity.lloydCentroids(e2, 10, corpusN = 100L)
    assert(rows0(c2) == rows(expected),
      "non-append rewrite within the ratio must retrain, not reuse")
    assert(rows0(c2) != rows0(c1),
      "fixture must actually move the centroids (else the gate is untested)")
  }

  test("trained index rows carry the centroid-identity stamp on both lanes (round-21 ADVICE medium)") {
    val dir = java.nio.file.Files.createTempDirectory("centstamp").toString
    val esrc = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
      .orderBy(col("vec_id")).limit(110).localCheckpoint(true)
    esrc.filter(col("vec_id") < 100).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def resolve(): (Map[String, String], DataFrame) = {
      val s2 = spark.newSession()
      Warehouse.drainLanes(s2)
      graft.operators.Similarity.trainedIndexArtifacts(s2, dir)
      (Warehouse.drainLanes(s2), spark.table(Warehouse.tableName(
        "ivf_trained", dir, Warehouse.embFp(s2, dir))))
    }
    def laneOf(m: Map[String, String]): Option[String] =
      m.collectFirst { case (k, v) if k.takeWhile(_ != '@') == "ivf_trained" => v }
    val (l1, i1) = resolve()
    assert(laneOf(l1).contains("cold"))
    val w1 = i1.agg(min(col("cents_tn")), max(col("cents_tn"))).head()
    assert(w1.getLong(0) == 100L && w1.getLong(1) == 100L,
      "cold index rows must be stamped with the training event (trained_n)")
    appendPart(dir, "embeddings",
      esrc.filter(col("vec_id") >= 100 && col("vec_id") < 110))
    val (l2, i2) = resolve()
    assert(laneOf(l2).contains("merge"), s"$l2")
    val w2 = i2.agg(min(col("cents_tn")), max(col("cents_tn"))).head()
    assert(w2.getLong(0) == 100L && w2.getLong(1) == 100L,
      "merged delta rows must carry the SAME reused-quantizer stamp")
  }
}
