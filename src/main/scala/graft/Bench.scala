package graft
import org.apache.spark.sql.SparkSession
/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. A failing query records -1 sec AND is listed in
  * "errors" (round 1 swallowed failures silently → a zero-query run
  * looked green).
  */
object Bench {
  /** The artifact-build rows — ONE definition, shared with
    * tools/StressBuilds so the bench ledger and the ×10 builds stress
    * can never cover different lists. The rows list IS the store
    * registry: each row resolves its stores through their accessors
    * (`Artifacts.store` underneath), several interdependent stores per
    * row where a family has them. perfbench reads the row names, in
    * order, as its `sources.Warehouse.build_s.<name>` metrics
    * (BenchContractSpec pins them).
    *
    * THE ACCOUNTING RULE: every store build bills to its own timed row
    * here, never to the first serving key that happens to need it —
    * and, because builds memoize, never to a retry that would measure
    * the warm cache. A row also forces the session memos its serving
    * keys read (a codebook, the centroids, a policy's audit rows), so
    * their one materialization lands in the row too. */
  val artifactBuilders: Seq[(String, (SparkSession, String) => Unit)] = {
    import operators._
    Seq(
      ("ngram_cc_labels", (s, d) => Dedup.ngramClusterLabels(s, d)),
      ("emb_pairs", (s, d) => {
        Dedup.embPairStore(s, d); Dedup.embClusterLabels(s, d) }),
      ("minhash_bands", (s, d) => Dedup.minhashBandStore(s, d)),
      ("simhash_sketches", (s, d) => Dedup.simhashSketchStore(s, d)),
      ("cdc_chunks", (s, d) => Dedup.cdcChunkStore(s, d)),
      ("doc_shingle_store", (s, d) => Curation.docShingleStore(s, d)),
      ("verbatim_span_index", (s, d) => {
        Curation.verbatimOffsetsArtifact(s, d); Curation.vbIncIndexArtifact(s, d) }),
      ("funnel_frames", (s, d) => Curation.funnelFramesArtifact(s, d)),
      ("ivf_trained_index", (s, d) => Similarity.trainedIndexArtifacts(s, d)),
      ("lsh_bucket_index", (s, d) => Similarity.lshBucketStore(s, d)),
      ("pq_code_store", (s, d) => {
        Similarity.pqCodeStore(s, d); Similarity.pqCodebookArtifact(s, d) }),
      ("res_code_store", (s, d) => {
        Similarity.resCodeStore(s, d)
        Similarity.resCentroidsArtifact(s, d)
        Similarity.resCodebookArtifact(s, d) }),
      ("phash_cc_labels", (s, d) => Multimodal.phashClusterLabels(s, d)),
      ("phash_ivf_index", (s, d) => Multimodal.phashIvfArtifacts(s, d)),
      ("phash_ivf_trained", (s, d) => Multimodal.phashIvfTrainedArtifacts(s, d)),
      // The policy plus the WINNER's index, so policy-routed serving
      // never pays a build inside a timed key.
      ("phash_ivf_policy", (s, d) =>
        if (Multimodal.phashIvfSelectedQuantizer(s, d) == "trained")
          Multimodal.phashIvfTrainedArtifacts(s, d)
        else Multimodal.phashIvfArtifacts(s, d)),
      ("bpe_merges", (s, d) => TextAnalysis.bpeMergesArtifact(s, d)),
      ("knn_tier_policy", (s, d) => Similarity.knnTierRows(s, d).count()),
      ("knn_quant_policy", (s, d) => Similarity.knnQuantRows(s, d).count()),
      ("events_stores", (s, d) => {
        Events.transDistStore(s, d); Events.userDayStore(s, d) }))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // TASK-TIME billing meter (round-14 verdict item 1): every timed
    // window below records, NEXT TO wall-clock, the Spark-measured
    // task-run and task-cpu seconds the window consumed
    // (Metrics.TaskClock). cpu_sec is the host-phase-IMMUNE figure —
    // the number to adjudicate build rows and regressions against;
    // wall stays in the artifact because the driver's scoreboard and
    // three rounds of BASELINE rows are denominated in it.
    val clock = Metrics.installTaskClock(spark.sparkContext)
    def metered[T](f: () => T): (T, Double, Double) = {
      val (r0, c0) = clock.snapshot(spark.sparkContext)
      val out = f()
      val (r1, c1) = clock.snapshot(spark.sparkContext)
      (out, r1 - r0, c1 - c0)
    }
    // Untimed warmup: JVM/codegen/parquet-footer caches otherwise land on
    // whichever query sorts first and distort its number by seconds.
    // Footer-only count() on every bench-SF table so first-touch file
    // listing + footer reads aren't billed to the q_agg_* prefix.
    try {
      SparkEntry.entry(spark).count()
      Seq[(SparkSession, String) => org.apache.spark.sql.DataFrame](
        Tables.lineitem, Tables.orders, Tables.customer, Tables.supplier,
        Tables.part, Tables.nation, Tables.region, Tables.events,
        Tables.documents, Tables.embeddings)
        .foreach(t => t(spark, sfDir).count())
      // One tiny shuffled aggregate: warms codegen, the exchange path,
      // and AQE machinery, which otherwise bill ~0.5 s to whichever
      // query happens to sort first.
      spark.range(1000).selectExpr("id % 7 AS k", "id")
        .groupBy("k").count().count()
    } catch { case _: Throwable => () }
    // HOST-CALIBRATION PROBE — the round-8 lesson: best-of-two retry
    // proves nothing when both timings land in the same host slow
    // phase (this container's host is bimodal: identical warm queries
    // swing 1.3 s ↔ 9–28 s with guest load ≈ 0; BASELINE.md:164-167,
    // SCALE.md §Bench noise). So before timing anything, time a FIXED
    // in-memory workload — no IO, no code under test, deterministic
    // work — and scale the retry trigger by how much slower it runs
    // than its recorded fast-phase cost. A slow-phase run then retries
    // aggressively-but-honestly, and the factor lands in
    // BENCH_FULL.json so a reader can separate "host was slow" from
    // "code regressed".
    def calProbe(): Double = {
      val t0 = System.nanoTime()
      spark.range(20000000L).selectExpr("id % 997 AS k", "id")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("id"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    calProbe() // untimed codegen warm for the probe plan itself
    val calSec = (1 to 3).map(_ => calProbe()).min
    // SHARED-ARTIFACT builds, timed EXPLICITLY and added to the total.
    // The build-once/serve-many families (CC labels, verbatim span
    // index, funnel stage frames, trained ANN index) would otherwise
    // have their one-time build cost land on whichever family key runs
    // first alphabetically — and worse, the contention retry below
    // would re-run that key against the now-warm cache and keep the
    // cheap second timing, silently ERASING the build from the total
    // (observed: funnel/trained/byte_spans all "retried" into
    // sub-0.3 s rows). Billing each build as its own named row keeps
    // the total honest — total = every query + every build, nothing
    // hidden — while the per-key rows show true serving cost, which is
    // what a production consumer of a written artifact pays.
    //
    // Builds CANNOT take the contention guard's best-of-two retry (the
    // artifact memoizes — a second run would measure the warm cache),
    // which is exactly where rounds 13–14's measurement anomalies
    // landed. Their guard is the task-time pair recorded per build:
    // cpu_sec is steal-immune, so "wall 87 s / cpu 9 s" reads as a
    // host phase and "wall 87 s / cpu 80 s" as a real regression —
    // adjudicable from ONE run, no retry needed.
    //
    // SELF-LABELING on warehouse state (round-15 verdict item 1): a
    // build that RESOLVES a persisted table from a prior JVM's write
    // (graft.sources.Warehouse hit) pays a registration, not the
    // build, so its cpu row must be adjudicated against the WARM
    // ledger; a miss (cold warehouse or mutated corpus) pays the full
    // build and adjudicates against the COLD ledger (both in
    // BASELINE.md). Each build row carries `wh` (Warehouse.whLabel —
    // ONE definition shared with ProfBuilds): "hit" (every table it
    // resolved pre-existed), "miss" (none did), "partial", or "none"
    // (the window resolved nothing NEW — its dependencies may have
    // been resolved by an earlier row this session, so "none" is not
    // warehouse-independent; read it with the session's earlier
    // labels).
    val whPre = {
      val root = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"))
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(root))
        fs.listStatus(root).map(_.getPath.getName)
          .filter(_.startsWith("graft_")).sorted.toSeq
      else Seq.empty
    }
    graft.sources.Warehouse.drainHits(spark) // clear pre-build noise
    val artifactBuilds: Seq[(String, Double, Double, Double, String)] =
      artifactBuilders.map { case (name, build) =>
        val t0 = System.nanoTime()
        val (_, runS, cpuS) = metered(() =>
          try { build(spark, sfDir) } catch { case e: Throwable =>
            System.err.println(s"[bench] artifact $name FAILED: ${e.getMessage}") })
        val wh = graft.sources.Warehouse.whLabel(
          graft.sources.Warehouse.drainHits(spark))
        (name, (System.nanoTime() - t0) / 1e9, runS, cpuS, wh)
      }
    // Fast-phase cost of the probe on this host (measured 0.238 s min
    // of 3 during the verified fast-phase round-9 run that produced
    // zero >2× rows); overridable when the hardware changes.
    val calBaseline = sys.env.get("SPARK_GRAFT_CAL_BASELINE")
      .map(_.toDouble).getOrElse(0.24)
    val hostFactor = math.max(1.0, calSec / calBaseline)
    // Per-query baseline minima from BASELINE.md's `q_x` | sec table —
    // the contention guard below keys off them. Parse failure or a key
    // with no entry (a new-this-round query) just means no baseline.
    val baseline: Map[String, Double] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BASELINE.md")), "UTF-8")
        "`(q_\\w+)`\\s*\\|\\s*([0-9.]+)".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    // Per key: (wall sec, shuffle bytes, task-cpu sec). The cpu figure
    // rides BENCH_FULL.json next to the wall row for the same
    // phase-adjudication reason as the builds'.
    def runOnce(name: String,
                fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Option[(Double, Long, Double)] = {
      val t0 = System.nanoTime()
      try {
        // Same work as df.count() (count() itself builds this exact
        // aggregate internally and runs it under a NEW QueryExecution
        // we'd never see) — spelled out so we hold the QE that
        // actually executed and can read its shuffle metrics.
        val (cdf, _, cpuS) = metered { () =>
          val c = fn(spark, sfDir)
            .agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)))
          c.collect()
          c
        }
        val secs = (System.nanoTime() - t0) / 1e9
        Some((secs, Metrics.shuffleBytesOf(cdf.queryExecution), cpuS))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        None
      }
    }
    // Per query: (seconds, bytes across shuffle exchanges). The shuffle
    // figure comes from the EXECUTED adaptive plan (Metrics' walk) —
    // the quantitative scale signal: which queries move how much data.
    // Contention guard: a single loaded-machine run has recorded 9.5×
    // phantom "regressions" that vanish on re-run. If the first timing
    // exceeds 1.3× the query's BASELINE.md minimum (or an absolute 1 s
    // floor when no baseline exists yet), run it once more and keep the
    // better of the two — warm second runs are immune to one-off CPU
    // steal, and a genuinely regressed query stays slow both times.
    // (1.3× was 1.5× through round 7; four sub-second queries slipped
    // 2–3× phantom readings past the looser trigger that round.)
    // Whether a query was re-timed is recorded per query in
    // BENCH_FULL.json ("retried"), so best-of-two rows are
    // distinguishable from single-run rows when reading the artifact.
    // The 1.3× trigger scales by the measured host factor: in a slow
    // phase everything runs factor× slower, so an unscaled trigger
    // would re-time most of the suite (round 8: 59 keys) while the
    // best-of-two still sat inside the same phase.
    val firstPass = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val first = runOnce(name, fn)
      val (stats, retried) = first match {
        case Some((secs, _, _))
            if secs > baseline.get(name).map(_ * 1.3 * hostFactor).getOrElse(1.0) =>
          (runOnce(name, fn) match {
            case Some(second) if second._1 < secs => Some(second)
            case _ => first
          }, true)
        case other => (other, false)
      }
      (name, stats, retried)
    }
    // LATE re-time pass: keys still >2× baseline (host-factor-scaled —
    // in a phase that outlasts the run an unscaled 2× would re-run
    // nearly the whole suite a third time) after best-of-two get one
    // more attempt at the END of the run — minutes later, i.e. a real
    // chance the host phase has flipped (immediate best-of-two cannot
    // give that). Keys that stay slow across both passes are either
    // genuinely regressed or sat in a phase outlasting the run; the
    // recorded start/end probe pair disambiguates.
    val results = firstPass.map {
      case (name, Some((secs, sh, cpu)), retried)
          if baseline.get(name).exists(b => secs > 2.0 * b * hostFactor) =>
        runOnce(name, SparkEntry.queries(name)) match {
          case Some(second) if second._1 < secs => (name, Some(second), true)
          case _ => (name, Some((secs, sh, cpu)), retried)
        }
      case other => other
    }
    // Closing probe: the startup factor is one sample — a phase flip
    // MID-RUN would otherwise record "host was fast" over a slow run
    // (the inverse of the truth). Both ends land in the artifact.
    val calSecEnd = (1 to 3).map(_ => calProbe()).min
    // MERGE-LANE ECONOMICS — the `merge_builds` rows (round-19): the
    // driver corpora are static, so the warehouse's append-merge lane
    // would otherwise never appear in a measured per-round artifact.
    // Every artifactBuilders row resolves on a SCRATCH copy
    // (tools.MergeStage.acrossAppend): once at the base state (setup,
    // not reported — cold economics live in artifact_builds), then
    // again after a staged append; the second resolution is the row,
    // with the lane each of its families took.
    // Rows land in BENCH_FULL.json as "merge_builds" and are EXCLUDED
    // from the stdout total — they measure a staged growth path, not
    // this corpus's serving cost — adjudicated against SCALE.md's
    // merge table, not the query baseline.
    val mergeBuilds: Seq[(String, (Double, Double, Double), Map[String, String])] =
      try {
        val dir = java.nio.file.Files.createTempDirectory("benchmerge").toString
        val rows = tools.MergeStage.acrossAppend(spark, sfDir, dir,
            artifactBuilders) { f =>
          val t0 = System.nanoTime()
          val (_, runS, cpuS) = metered(f)
          ((System.nanoTime() - t0) / 1e9, runS, cpuS)
        }
        tools.MergeStage.cleanup(spark, dir)
        graft.sources.Warehouse.drainHits(spark) // scratch labels are not ledger rows
        rows.map { case (name, _, grown, lanes) => (name, grown, lanes) }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] merge_builds FAILED: ${e.getMessage}")
        Seq.empty
      }
    // A query is an error only if it has NO successful timing (a failed
    // contention re-run after a good first run is not an error).
    val errors = results.collect { case (name, None, _) => name }
    // 4-decimal seconds: 0.1 ms precision is below local[32] run noise
    // and keeps the stdout line well under the driver's 4 KB capture
    // tail (round 3 lost the per-query prefix to truncation).
    def fmt(v: Double) =
      if (v < 0) "-1" else BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v, _) =>
      "\"" + k + "\":" + fmt(v.map(_._1).getOrElse(-1.0)) }
      .mkString("{", ",", "}")
    val errJson = errors.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Total = per-key serving times + the one-time artifact builds
    // (see artifactBuilds above): value therefore exceeds the sum of
    // "queries" by exactly the build cost, broken down per artifact in
    // BENCH_FULL.json's "artifact_builds".
    val total = results.collect { case (_, Some((s, _, _)), _) => s }.sum +
      artifactBuilds.map(_._2).sum
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"errors":$errJson,"sf":"$sfDir"}"""
    println(line)
    // Also persist the full JSON machine-readably: stdout capture is the
    // driver's (truncatable) channel; this file is the durable one. It
    // additionally carries per-query shuffle bytes — kept OUT of the
    // stdout line so the driver-parsed format and its 4 KB budget are
    // untouched.
    val sh = results.map { case (k, v, _) =>
      "\"" + k + "\":" + v.map(_._2).getOrElse(-1L) }.mkString("{", ",", "}")
    val rt = results.collect { case (k, _, true) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val cal = s"""{"probe_sec":${fmt(calSec)},"probe_sec_end":${fmt(calSecEnd)},"probe_baseline":${fmt(calBaseline)},"host_factor":${fmt(hostFactor)}}"""
    val ab = artifactBuilds.map { case (k, v, _, _, _) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // Task-time billing (round-14 verdict item 1): per build, the
    // {wall, task-run, task-cpu} triple + the warehouse label; per
    // key, task-cpu. cpu is the host-phase-immune figure — adjudicate
    // against the metric-time ledger in BASELINE.md (cold or warm per
    // the wh label), not against wall rows.
    val abm = artifactBuilds.map { case (k, w, r, c, wh) =>
      "\"" + k + "\":{\"wall\":" + fmt(w) + ",\"run\":" + fmt(r) +
        ",\"cpu\":" + fmt(c) + ",\"wh\":\"" + wh + "\"}" }
      .mkString("{", ",", "}")
    val whp = whPre.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qcpu = results.map { case (k, v, _) =>
      "\"" + k + "\":" + fmt(v.map(_._3).getOrElse(-1.0)) }
      .mkString("{", ",", "}")
    val mb = mergeBuilds.map { case (k, (w, r, c), lanes) =>
      "\"" + k + "\":{\"wall\":" + fmt(w) + ",\"run\":" + fmt(r) +
        ",\"cpu\":" + fmt(c) + ",\"lanes\":" + lanes.toSeq.sorted
          .map { case (f, l) => "\"" + f + "\":\"" + l + "\"" }
          .mkString("{", ",", "}") + "}" }
      .mkString("{", ",", "}")
    val full = line.dropRight(1) +
      s""","shuffle_bytes":$sh,"retried":$rt,"artifact_builds":$ab,"artifact_builds_metric":$abm,"merge_builds":$mb,"warehouse_preexisting":$whp,"queries_cpu":$qcpu,"calibration":$cal}"""
    // Beside the build output, not over the tracked ledger: the ledger
    // changes only by a deliberate copy of this file.
    val out = java.nio.file.Paths.get("target", "BENCH_FULL.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, (full + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
