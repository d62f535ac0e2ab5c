package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.Curation
import graft.sources.{Outbox, OutboxProvider, UpdateLog, UpdateLogProvider, Warehouse}

/** The JVM half of the benchmark (see perfbench/README.md). `run.py`
  * generates the inputs, starts this main once per run, then checks row
  * counts against DuckDB and prints the result line.
  *
  * Usage: Harness --workload suite|grow --seed N --seconds S
  *   --trace 0|1 --cpus N --data DIR --work DIR --out FILE
  *   [--readout DIR] [--batch DIR] [--prep]
  */
object Harness {
  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
    def int(k: String): Int = apply(k).toInt
    def flag(k: String): Boolean = m.contains(k)
  }

  def parse(a: Array[String]): Args = {
    val m = mutable.Map.empty[String, String]
    var i = 0
    while (i < a.length) {
      val k = a(i).stripPrefix("--")
      if (i + 1 < a.length && !a(i + 1).startsWith("--")) { m(k) = a(i + 1); i += 2 }
      else { m(k) = "1"; i += 1 }
    }
    Args(m.toMap)
  }

  /** Operator object of every key — `SparkEntry.queries` is the union of
    * these fifteen maps. */
  val Families: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Scans" -> graft.operators.Scans.queries,
    "Filters" -> graft.operators.Filters.queries,
    "Aggs" -> graft.operators.Aggs.queries,
    "Joins" -> graft.operators.Joins.queries,
    "Config" -> graft.operators.Config.queries,
    "Windows" -> graft.operators.Windows.queries,
    "Events" -> graft.operators.Events.queries,
    "SortsSets" -> graft.operators.SortsSets.queries,
    "Scalars" -> graft.operators.Scalars.queries,
    "Udfs" -> graft.operators.Udfs.queries,
    "Dedup" -> graft.operators.Dedup.queries,
    "Similarity" -> graft.operators.Similarity.queries,
    "TextAnalysis" -> graft.operators.TextAnalysis.queries,
    "Curation" -> graft.operators.Curation.queries,
    "Multimodal" -> graft.operators.Multimodal.queries)
  lazy val familyOf: Map[String, String] =
    Families.flatMap { case (f, q) => q.keys.map(_ -> f) }.toMap

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The `suite` key set: a fixed 1/8 of the contract (keys whose md5
    * starts with 0 or 1), plus the alphabetically first key of any operator
    * object the eighth misses, so all fifteen are measured. */
  lazy val suiteKeys: Seq[String] = {
    val eighth = graft.SparkEntry.queries.keys.toSeq.sorted.filter(k => "01".contains(md5(k).head))
    val missing = Families.collect {
      case (f, q) if !eighth.exists(familyOf(_) == f) => q.keys.min }
    (eighth ++ missing).sorted
  }

  /** The stores `grow` builds cold and re-resolves after the append: the
    * documents and events families with declared merge lanes, plus one
    * embeddings store the append leaves unchanged (a hit lane). The other
    * builders are left out to keep a run inside the time budget. */
  val GrowStores: Seq[String] = Seq("minhash_bands", "simhash_sketches", "cdc_chunks",
    "doc_shingle_store", "events_stores", "lsh_bucket_index")

  /** Keys served over the grown stores in `grow`, [[ServeRounds]] times
    * each in seeded orders; each reads only stores of [[GrowStores]], so
    * none builds inside its serving window. */
  val GrowServeKeys: Seq[String] = Seq(
    "q_dedup_minhash", "q_dedup_minhash_stats", "q_dedup_simhash",
    "q_dedup_cdc_incremental", "q_dedup_cdc_sizes", "q_decontaminate_incremental",
    "q_text_novelty", "q_events_sessions", "q_events_markov", "q_events_active",
    "q_events_growth", "q_knn_lsh")
  val ServeRounds = 3

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // ---------------------------------------------------------------- session

  var spark: SparkSession = _
  // One set of listeners for the whole run, registered on every session.
  val meter = new Meter(false)
  val plans = new PlanListener
  val door = new DoorListener

  def session(a: Args, warehouse: String): SparkSession = {
    val cpus = a("cpus")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${a("work")}/tmp")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a("work")}/tmp")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(meter)
    s.listenerManager.register(plans)
    s.streams.addListener(door)
    s
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  val t00: Long = System.nanoTime()
  def say(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t00) / 1e9}%7.2f] $msg")

  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs the engine-independent paths most keys share once: parquet
    * scans, whole-stage codegen, a shuffled join and aggregate, a window,
    * and string and array functions. Without it the first keys of the
    * seeded order pay this warm-up, and a key's time depends on its place. */
  def warmUp(dir: String): Unit = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val od = spark.read.parquet(s"$dir/orders.parquet")
    li.join(od, col("l_orderkey") === col("o_orderkey")).groupBy("o_orderstatus")
      .agg(sum("l_extendedprice"), countDistinct("l_partkey")).collect()
    li.withColumn("r", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("l_returnflag").orderBy(col("l_shipdate").desc)))
      .filter(col("r") <= 3).collect()
    spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(lower(col("text")), " ")).as("w")).groupBy("w").count()
      .orderBy(col("count").desc).limit(5).collect()
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(aggregate(col("embedding"), lit(0.0), (acc, x) => acc + x * x).as("n2"))
      .agg(avg("n2")).collect()
    ()
  }

  // -------------------------------------------------------------- timing

  /** One timed operation: wall, rows, error, the warehouse resolutions
    * it made (family@corpus -> hit, and -> lane), and the interval and
    * codegen delta the traced read-out splits it by. */
  final case class Op(kind: String, name: String, round: Int, wall: Double,
                      rows: Long, err: Option[String], startMs: Long, endMs: Long,
                      codegenS: Double, hits: Map[String, Boolean],
                      lanes: Map[String, String]) {
    def group: String = s"$kind:$name#$round"
    def misses: Int = hits.count(!_._2)
  }
  val ops = mutable.ArrayBuffer.empty[Op]

  def timedOp(kind: String, name: String, round: Int)(f: => Long): Op = {
    val g = s"$kind:$name#$round"
    spark.sparkContext.setJobGroup(g, g, false)
    val c0 = CodeGenerator.compileTime
    val ms0 = System.currentTimeMillis()
    val t0 = now()
    val (rows, err) =
      try (f, None)
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $kind $name failed: $e")
        (-1L, Some(String.valueOf(e.getMessage).take(300)))
      }
    val wall = secs(t0)
    say(f"$kind $name $wall%.2f s")
    val ms1 = System.currentTimeMillis()
    val cg = (CodeGenerator.compileTime - c0) / 1e9
    spark.sparkContext.clearJobGroup()
    val op = Op(kind, name, round, wall, rows, err, ms0, ms1, cg,
      Warehouse.drainHits(spark), Warehouse.drainLanes(spark))
    ops += op
    op
  }

  def keyCount(key: String, dir: String): Long =
    graft.SparkEntry.queries(key)(spark, dir).agg(count(lit(1))).collect()(0).getLong(0)

  /** Resolve the stores of each named builder, one timed operation each. */
  def resolveStores(names: Seq[String], dir: String, kind: String): Seq[Op] = {
    Warehouse.drainHits(spark); Warehouse.drainLanes(spark)
    graft.Bench.artifactBuilders.filter(b => names.contains(b._1)).map { case (n, b) =>
      timedOp(kind, n, 1) { b(spark, dir); 0L }
    }
  }

  val AllStores: Seq[String] = graft.Bench.artifactBuilders.map(_._1)

  // ------------------------------------------------------------- output

  object J {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    def apply(v: Any): String = v match {
      case null | None => "null"
      case Some(x) => apply(x)
      case s: String => str(s)
      case b: Boolean => b.toString
      case i: Int => i.toString
      case l: Long => l.toString
      case d: Double => num(d)
      case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
      case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
      case p: Product => p.productIterator.map(apply).mkString("[", ",", "]")
      case x => str(x.toString)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def dirBytes(p: File): Long =
    if (!p.exists()) 0L
    else if (p.isFile) p.length()
    else Option(p.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteTree(p: File): Unit = {
    if (p.isDirectory) Option(p.listFiles()).foreach(_.foreach(deleteTree))
    p.delete(); ()
  }

  // --------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload = a("workload")
    val work = a("work")
    new File(s"$work/tmp").mkdirs()
    if (a.flag("prep")) { prep(a); return }
    val seed = a.int("seed")
    val traced = a.int("trace") == 1
    meter.trace = traced
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val warehouse = if (workload == "grow") s"$work/grow/warehouse" else s"$work/warehouse"

    // ---- set-up, from process start to the first timed call. The marks
    // are JVM start -> here, then session, warm-up and stores from here.
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    val marks = mutable.ArrayBuffer((System.currentTimeMillis() - jvmStart) / 1e3)
    val tp = now()
    if (workload == "grow") stageGrow(a)
    spark = session(a, warehouse)
    marks += secs(tp)
    warmUp(if (workload == "grow") corpusDir(a) else a("data"))
    marks += secs(tp)
    val setupStores =
      if (workload == "suite") resolveStores(AllStores, a("data"), "setup") else Nil
    marks += secs(tp)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val whStart = setupStores.flatMap(_.hits).toMap
    val lanesStart = setupStores.flatMap(_.lanes).toMap
    drain()
    val cpu0 = meter.cpuS()
    meter.resetBlockPeak()

    // ---- timed phase; a traced run times the same cold first round
    val tTimed = now()
    val extra = mutable.LinkedHashMap.empty[String, Any]
    val roundWalls = mutable.ArrayBuffer.empty[Double]
    val oracleDirs = mutable.LinkedHashMap.empty[String, String]
    val report = new StringBuilder
    workload match {
      case "suite" =>
        val order = new scala.util.Random(seed).shuffle(suiteKeys)
        val dir = a("data")
        def round(r: Int, d: String): Double = {
          val t0 = now()
          order.foreach(k => timedOp("key", k, r)(keyCount(k, d)))
          secs(t0)
        }
        while (roundWalls.isEmpty || (!traced && secs(tTimed) < a.int("seconds")))
          roundWalls += round(roundWalls.size + 1, dir)
        oracleDirs("key") = dir
      case "grow" =>
        roundWalls += grow(a, seed, checks, extra)
        oracleDirs("serve") = corpusDir(a)
    }
    val timedWall = secs(tTimed)
    drain()
    val cpuTimed = meter.cpuS() - cpu0
    val rounds = roundWalls.size
    val blockMb = meter.blockPeak / 1e6
    say("timed phase done")
    if (workload == "grow") checkRegrown(a, checks)
    // ---- traced read-out (not part of the timed figures above)
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (traced) {
      Trace.report(a, workload, seed, layers, report)
      warehouseLayers(a, workload, setupStores, extra, layers)
      layers("spark.block_store_mb") = blockMb
      // Fixed versus marginal cost: the same keys at the read-out scale
      // (round 2), then again at the base scale (round 3), so that both
      // rounds of the fit run in an equally warm JVM.
      if (workload == "suite") a.get("readout").foreach { ro =>
        val order = new scala.util.Random(seed).shuffle(suiteKeys)
        order.foreach(k => timedOp("key", k, 2)(keyCount(k, ro)))
        order.foreach(k => timedOp("key", k, 3)(keyCount(k, a("data"))))
        extra("fixed_marginal") = Trace.fixedMarginal(a("sf").toDouble,
          a("readout-sf").toDouble, 3, 2, report)
      }
    }

    // ---- result
    val keyOps = ops.filter(o => (o.kind == "key" && o.round <= rounds) || o.kind == "serve")
    val walls = keyOps.filter(_.err.isEmpty).map(_.wall).toSeq.sorted
    // The tail is the mean of the slowest quarter: a high percentile of a
    // one-round sample rests on a few calls whose time depends on what the
    // seeded order ran before them.
    val tail = walls.takeRight(math.max(1, walls.size / 4))
    val metrics = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (median(roundWalls.toSeq), "s"),
      "key_p50_s" -> (median(walls), "s"),
      "key_tail_mean_s" -> (tail.sum / tail.size, "s"),
      "task_cpu_s" -> (cpuTimed / rounds, "s"))
    val oracle = graft.SparkEntry.oracleSql
    val firstRound = keyOps.filter(_.round == 1)
    val out = Map(
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "layers" -> layers.toMap,
      "ops" -> ops.filter(_.kind != "prep").map(o => Map("kind" -> o.kind, "name" -> o.name,
        "round" -> o.round, "wall" -> o.wall, "rows" -> o.rows, "err" -> o.err,
        "misses" -> o.misses)).toSeq,
      "oracle" -> firstRound.filter(o => o.err.isEmpty && oracle.contains(o.name))
        .map(o => Map("key" -> o.name, "rows" -> o.rows, "sql" -> oracle(o.name),
          "dir" -> oracleDirs(o.kind))).toSeq,
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq,
      "extra" -> (extra - "lanes").toMap,
      "record" -> Map(
        "workload" -> workload, "seed" -> seed, "nproc" -> Runtime.getRuntime.availableProcessors,
        "master" -> spark.sparkContext.master, "spark" -> spark.version,
        "jdk" -> System.getProperty("java.version"), "rounds" -> rounds,
        "key_samples" -> walls.size,
        "timed_wall_s" -> timedWall, "setup_marks_s" -> marks.toSeq,
        "setup_stores_s" -> setupStores.map(o => o.name -> o.wall).toMap,
        "wh_label_start" -> Warehouse.whLabel(whStart), "wh_start" -> whStart,
        "lanes_start" -> lanesStart, "lanes_grow" -> extra.getOrElse("lanes", Map.empty)),
      "report" -> report.toString)
    say("result assembled")
    Files.write(Paths.get(a("out")), J(out).getBytes("UTF-8"))
    say("result written")
    spark.stop()
    say("session stopped")
  }

  /** The per-layer metrics of the warehouse, the ingest door and `grow`;
    * zero where the workload does not exercise the layer. */
  def warehouseLayers(a: Args, workload: String,
                      setupStores: Seq[Op],
                      extra: mutable.Map[String, Any], layers: mutable.Map[String, Double]): Unit = {
    def x(k: String): Double = extra.get(k).map {
      case d: Double => d; case i: Int => i.toDouble; case l: Long => l.toDouble; case _ => 0.0
    }.getOrElse(0.0)
    val byStore: Map[String, Double] =
      if (workload == "grow") extra("build_s_by_store").asInstanceOf[Map[String, Double]]
      else setupStores.map(o => o.name -> o.wall).toMap
    layers("sources.Warehouse.build_s") = byStore.values.sum
    AllStores.foreach(n => layers(s"sources.Warehouse.build_s.$n") = byStore.getOrElse(n, 0.0))
    if (workload == "grow") {
      val re = extra("regrow_s_by_store").asInstanceOf[Map[String, Double]]
      GrowStores.foreach(n => layers(s"sources.Warehouse.regrow_s.$n") = re.getOrElse(n, 0.0))
    } else GrowStores.foreach(n => layers(s"sources.Warehouse.regrow_s.$n") = 0.0)
    layers("sources.Warehouse.regrow_s") = x("regrow_s")
    Seq("lane_merge", "lane_cold", "lane_hit").foreach(l =>
      layers(s"sources.Warehouse.$l") = x(l))
    layers("sources.Warehouse.misses_in_serving") =
      ops.filter(o => o.kind == "key" || o.kind == "serve").map(_.misses).sum.toDouble
    layers("sources.Warehouse.store_bytes_ratio") =
      if (workload == "grow") x("store_bytes_ratio")
      else {
        val d = a("data")
        storesOf(s"${a("work")}/warehouse", d).values.map(p => dirBytes(new File(p))).sum.toDouble /
          dirBytes(new File(d))
      }
    Seq("batches", "input_rows", "kept_rows", "batch_p50_s", "batch_p90_s", "replay_s",
      "checkpoint_kb", "rows_per_s").foreach(k =>
      layers(s"streaming.door.$k") = x(s"door_$k"))
    layers("grow.build_s") = x("build_s")
    layers("grow.serve_grown_s") = x("serve_grown_s")
  }

  /** Untimed one-off per checkout: build the warm stores `suite` serves
    * from, at the base and the read-out scale. */
  def prep(a: Args): Unit = {
    spark = session(a, s"${a("work")}/warehouse")
    (Seq(a("data")) ++ a.get("readout")).foreach(resolveStores(AllStores, _, "prep"))
    val failed = ops.filter(_.err.nonEmpty).map(_.name)
    spark.stop()
    if (failed.nonEmpty) sys.error(s"store builds failed: ${failed.mkString(", ")}")
  }

  // ------------------------------------------------------------------ grow

  def corpusDir(a: Args) = s"${a("work")}/grow/corpus"

  /** Fresh scratch copy of the base corpus, documents and events as
    * part-file directories so a batch can land as one more part file;
    * the warehouse starts empty, so step 1 builds cold. */
  def stageGrow(a: Args): Unit = {
    val root = new File(s"${a("work")}/grow")
    deleteTree(root)
    val dst = corpusDir(a)
    Tables.foreach { t =>
      val src = Paths.get(s"${a("data")}/$t.parquet")
      if (t == "documents" || t == "events") {
        Files.createDirectories(Paths.get(s"$dst/$t.parquet"))
        Files.copy(src, Paths.get(s"$dst/$t.parquet/part-00000.parquet"))
      } else {
        Files.createDirectories(Paths.get(dst))
        Files.copy(src, Paths.get(s"$dst/$t.parquet"))
      }
    }
  }

  /** Order-independent content hash and row count of a table. */
  def tableHash(df: DataFrame): (Long, String) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  /** graft_<family>_<dirDigest>_<fp> → family, for the stores of `dir`. */
  def storesOf(whRoot: String, dir: String): Map[String, String] = {
    val dig = Warehouse.dirDigest(dir)
    Option(new File(whRoot).listFiles()).toSeq.flatten
      .filter(f => f.getName.contains(s"_${dig}_") && !f.getName.contains("_tmp_") &&
        new File(f, "_SUCCESS").exists())
      .map(f => f.getName.stripPrefix("graft_").split(s"_${dig}_")(0) -> f.getAbsolutePath)
      .toMap
  }

  def grow(a: Args, seed: Int, checks: mutable.Buffer[(String, Boolean, String)],
           extra: mutable.Map[String, Any]): Double = {
    val work = a("work")
    val dir = corpusDir(a)
    val whRoot = s"$work/grow/warehouse"
    val t0 = now()
    // 1. cold build of all stores
    val cold = resolveStores(GrowStores, dir, "build")
    val buildS = cold.map(_.wall).sum
    // 2. ingest door
    var d = Map.empty[String, Any]
    timedOp("door", "ingest", 1) { d = ingestDoor(a, seed, checks); 0L }
    // 3. append kept rows as one new part file per table
    val batch = a("batch")
    val keptDocs = d("kept_docs").asInstanceOf[Set[Long]]
    val keptEvents = d("kept_events").asInstanceOf[Set[Long]]
    timedOp("append", "documents+events", 1) {
      appendPart(spark.read.parquet(s"$batch/documents.parquet")
        .filter(col("doc_id").isin(keptDocs.toSeq: _*)), s"$dir/documents.parquet") +
      appendPart(spark.read.parquet(s"$batch/events.parquet")
        .filter(col("event_id").isin(keptEvents.toSeq: _*)), s"$dir/events.parquet")
    }
    // 4. fresh session, re-resolve every store (merge lanes where declared)
    spark.stop()
    val tFresh = now()
    spark = session(a, whRoot)
    val sessionS = secs(tFresh)
    val regrow = resolveStores(GrowStores, dir, "regrow")
    val regrowS = regrow.map(_.wall).sum
    val lanes = regrow.flatMap(_.lanes).toMap
    // 5. serve store-fed keys over the grown stores
    Warehouse.drainHits(spark)
    val serveRounds = (1 to ServeRounds).map { r =>
      val ts = now()
      new scala.util.Random(seed + r).shuffle(GrowServeKeys)
        .foreach(k => timedOp("serve", k, r)(keyCount(k, dir)))
      secs(ts)
    }
    val wall = secs(t0)
    val corpusB = dirBytes(new File(dir))
    val storeB = storesOf(whRoot, dir).values.map(p => dirBytes(new File(p))).sum
    extra ++= Map(
      "build_s" -> buildS, "regrow_s" -> regrowS, "fresh_session_s" -> sessionS,
      "serve_grown_s" -> median(serveRounds),
      "store_bytes_ratio" -> storeB.toDouble / corpusB,
      "build_s_by_store" -> cold.map(o => o.name -> o.wall).toMap,
      "regrow_s_by_store" -> regrow.map(o => o.name -> o.wall).toMap,
      "lanes" -> lanes,
      "lane_merge" -> lanes.values.count(_ == "merge"),
      "lane_cold" -> lanes.values.count(_ == "cold"),
      "lane_hit" -> lanes.values.count(_ == "hit")) ++ (d - "kept_docs" - "kept_events")
    wall
  }

  /** Check, after the timed phase: every re-resolved store equals a cold
    * rebuild of a copy of the grown corpus. */
  def checkRegrown(a: Args, checks: mutable.Buffer[(String, Boolean, String)]): Unit = {
    val dir = corpusDir(a)
    val whRoot = s"${a("work")}/grow/warehouse"
    val twin = s"${a("work")}/grow/twin"
    copyTree(Paths.get(dir), Paths.get(twin))
    resolveStores(GrowStores, twin, "check")
    val grown = storesOf(whRoot, dir)
    val rebuilt = storesOf(whRoot, twin)
    val diffs = (grown.keySet ++ rebuilt.keySet).toSeq.sorted.flatMap { f =>
      (grown.get(f), rebuilt.get(f)) match {
        case (Some(g), Some(r)) =>
          val hg = tableHash(spark.read.parquet(g)); val hr = tableHash(spark.read.parquet(r))
          if (hg == hr) None else Some(s"$f: regrown $hg vs cold $hr")
        case (g, r) => Some(s"$f: present regrown=${g.isDefined} cold=${r.isDefined}")
      }
    }
    checks += (("regrown stores == cold rebuild", diffs.isEmpty,
      s"${grown.size} stores; " + diffs.take(5).mkString("; ")))
  }

  def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    }

  /** Write `df` as a single part file and move it into table directory
    * `tbl`; returns the rows appended. */
  def appendPart(df: DataFrame, tbl: String): Long = {
    val tmp = s"$tbl-append"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    new File(tmp).listFiles().filter(f => f.getName.endsWith(".parquet"))
      .foreach(f => Files.move(f.toPath, Paths.get(tbl, "part-00001.parquet")))
    deleteTree(new File(tmp))
    spark.read.parquet(Paths.get(tbl, "part-00001.parquet").toString).count()
  }

  /** Event ids ride the door's chat_id above this offset. */
  val EventIdBase = 1L << 40

  /** UpdateLog → qualityGate → contaminationGate → Outbox over the seeded
    * batch, posted in four chunks, with the newest commit dropped after
    * the second chunk so the restart replays that epoch. */
  def ingestDoor(a: Args, seed: Int, checks: mutable.Buffer[(String, Boolean, String)])
      : Map[String, Any] = {
    val batch = a("batch")
    val qn = s"door-in-$seed"; val bx = s"door-out-$seed"
    val ckpt = s"${a("work")}/grow/door-ckpt"
    val eval = Curation.EvalShingles.fromTexts(Curation.ShingleWidth,
      Files.readAllLines(Paths.get(s"$batch/eval.txt")).asScala.toSeq.filter(_.nonEmpty))
    val docs = spark.read.parquet(s"$batch/documents.parquet")
      .select(col("doc_id").as("chat_id"), col("text"))
    val evs = spark.read.parquet(s"$batch/events.parquet")
      .select((col("event_id") + lit(EventIdBase)).as("chat_id"),
        concat_ws(" ", lit("event"), col("event_type"), lit("user"), col("user_id"),
          lit("value"), col("value"), lit("props"), col("props")).as("text"))
    val rows = docs.unionByName(evs).orderBy("chat_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val shuffled = new scala.util.Random(seed).shuffle(rows)
    val chunks = shuffled.grouped(math.max(1, (shuffled.size + 3) / 4)).toSeq
    def pipe() = Curation.contaminationGate(
        Curation.qualityGate(spark.readStream.format(classOf[UpdateLogProvider].getName)
          .option("queue", qn).load()), eval)
      .select(col("chat_id"), col("text"))
      .writeStream.format(classOf[OutboxProvider].getName)
      .option("box", bx).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append)
    door.batches.clear()
    val t0 = now()
    val q1 = pipe().start()
    try chunks.take(2).foreach { c =>
      c.foreach { case (id, t) => UpdateLog.post(qn, id, t) }
      q1.processAllAvailable()
    } finally { q1.stop(); q1.awaitTermination() }
    val commits = Paths.get(ckpt, "commits")
    val newest = Files.list(commits).iterator().asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    Files.delete(newest)
    Files.deleteIfExists(newest.resolveSibling("." + newest.getFileName + ".crc"))
    val q2 = pipe().start()
    val tReplay = now()
    var replayS = 0.0
    try {
      q2.processAllAvailable()
      replayS = secs(tReplay)
      chunks.drop(2).foreach { c =>
        c.foreach { case (id, t) => UpdateLog.post(qn, id, t) }
        q2.processAllAvailable()
      }
    } finally { q2.stop(); q2.awaitTermination() }
    val doorS = secs(t0)
    drain()
    val delivered = Outbox.delivered(bx)
    val batches = door.synchronized(door.batches.toSeq)
    val inputRows = batches.map(_._2).sum
    val s = spark
    import s.implicits._
    val batchKept = Curation.contaminationGate(
        Curation.qualityGate(rows.toDF("chat_id", "text")), eval)
      .select("chat_id").collect().map(_.getLong(0)).toSet
    val ids = delivered.map(_._2)
    checks += (("door delivers each kept row once", ids.distinct.size == ids.size,
      s"${ids.size} delivered, ${ids.distinct.size} distinct"))
    checks += (("door delivered set == batch gates", ids.toSet == batchKept,
      s"stream ${ids.toSet.size} vs batch ${batchKept.size}"))
    UpdateLog.drop(qn); Outbox.drop(bx)
    val durs = batches.map(_._3 / 1e3)
    Map(
      "door_s" -> doorS, "door_rows_per_s" -> inputRows / doorS,
      "door_batch_p50_s" -> median(durs), "door_batch_p90_s" -> quantile(durs, 0.9),
      "door_batches" -> batches.size, "door_input_rows" -> inputRows,
      "door_kept_rows" -> ids.distinct.size, "door_posted_rows" -> rows.size,
      "door_replay_s" -> replayS,
      "door_checkpoint_kb" -> dirBytes(new File(ckpt)) / 1e3,
      "kept_docs" -> ids.filter(_ < EventIdBase).toSet,
      "kept_events" -> ids.filter(_ >= EventIdBase).map(_ - EventIdBase).toSet)
  }
}
