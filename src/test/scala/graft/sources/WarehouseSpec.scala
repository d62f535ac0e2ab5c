package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Warehouse artifact keying + cross-JVM reuse (round-16): canonical
  * path digest + data fingerprint in the table name, register-back of
  * complete prior-JVM writes, GC of stale fingerprint variants, and
  * the end-to-end consequences on the trained-ANN lifecycle. */
class WarehouseSpec extends SparkSpec {

  /** drainHits keys are family@digest; specs look up by family (each
    * spec's family resolves for one corpus digest). */
  private def hitOf(m: Map[String, Boolean], fam: String): Option[Boolean] =
    m.collectFirst { case (k, v) if k.takeWhile(_ != '@') == fam => v }

  /** Fabricate the crash state at (family, dir, fp)'s table: a
    * directory with the completeness marker but unreadable parquet
    * bytes (torn files on a bad disk). */
  private def corruptTable(family: String, dir: String, fp: String): Unit = {
    val whRoot = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = whRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val loc = new org.apache.hadoop.fs.Path(
      whRoot, Warehouse.tableName(family, dir, fp))
    fs.mkdirs(loc)
    fs.create(new org.apache.hadoop.fs.Path(loc, "_SUCCESS")).close()
    val bad = fs.create(new org.apache.hadoop.fs.Path(
      loc, "part-00000.parquet"))
    bad.write("not parquet".getBytes("UTF-8")); bad.close()
  }

  test("dirDigest: symlink, trailing slash, and dot spellings of one dir key identically") {
    val real = java.nio.file.Paths.get(sfDir).toRealPath()
    val link = java.nio.file.Files.createTempDirectory("whlink")
      .resolve("sfln")
    java.nio.file.Files.createSymbolicLink(link, real)
    val base = Warehouse.dirDigest(sfDir)
    assert(Warehouse.dirDigest(sfDir + "/") == base)
    assert(Warehouse.dirDigest(sfDir + "/.") == base)
    assert(Warehouse.dirDigest(link.toString) == base,
      s"symlink spelling diverged: ${link.toString}")
    // And a genuinely different dir does NOT collide.
    assert(Warehouse.dirDigest("/root/testdata/sf0.01") != base)
  }

  test("servedTable: miss builds, hit serves without invoking the builder") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("whsrv").toString
    val fp = Warehouse.fpToken(3L, 2L)
    var builds = 0
    def resolve() = Warehouse.servedTable(
      spark, "whspec", dir, fp, bucket = Some(("k", 4))) { name =>
      builds += 1
      Sinks.writeBucketed(
        Seq((0L, 10L), (1L, 11L), (2L, 12L)).toDF("k", "v"), name, "k", 4)
    }
    val (n1, hit1) = resolve()
    assert(!hit1 && builds == 1)
    val (n2, hit2) = resolve()
    assert(hit2 && n2 == n1 && builds == 1,
      "second resolution must serve the registered table, not rebuild")
    assert(spark.table(n1).count() == 3)
  }

  test("servedTable: a complete prior-JVM write registers back with bucket pruning intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("whreg").toString
    val fp = Warehouse.fpToken(64L, 63L)
    val df = spark.range(64).select(col("id").as("k"), (col("id") * 7).as("v"))
    val (orig, _) = Warehouse.servedTable(
      spark, "whrega", dir, fp, bucket = Some(("k", 8))) { name =>
      Sinks.writeBucketed(df, name, "k", 8)
    }
    // Simulate the cross-JVM state (files on disk, NO catalog entry —
    // Spark's in-memory catalog forgets tables between processes): copy
    // the complete table directory to a sibling family's expected
    // location, then resolve that family. The ONLY valid path to a
    // served table there is the register-back branch.
    val whRoot = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = whRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = Warehouse.tableName("whregb", dir, fp)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(whRoot, orig),
      fs, new org.apache.hadoop.fs.Path(whRoot, dst),
      false, spark.sparkContext.hadoopConfiguration)
    val (reg, hit) = Warehouse.servedTable(
      spark, "whregb", dir, fp, bucket = Some(("k", 8))) { _ =>
      fail("register-back path must not rebuild")
    }
    assert(hit && reg == dst)
    assert(spark.table(reg).orderBy("k").collect().toSeq ==
      spark.table(orig).orderBy("k").collect().toSeq)
    // The registered table carries the bucket spec: a literal-key read
    // under the serving conf prunes at plan time, exactly like a table
    // written and read in one JVM.
    val serve = spark.newSession()
    serve.conf.set(
      "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val plan = serve.table(reg).filter(col("k").isin(3L, 5L))
      .queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(plan)
    assert(sel.isDefined, s"no bucket pruning through register-back:\n$plan")
    assert(sel.get.group(1).toInt < sel.get.group(2).toInt &&
      sel.get.group(2).toInt == 8)
  }

  test("fingerprint: a reseeded corpus (same count, same ids, different content) changes the fp") {
    import spark.implicits._
    // The count/max-id stamp alone cannot see a regenerated corpus
    // whose shape is unchanged; the on-disk byte component does — a
    // reseed changes compressed size, so the fp (and the table name)
    // moves and no stale index is servable.
    val dir = java.nio.file.Files.createTempDirectory("whrs").toString
    Seq((0L, "a", "aaaa"), (1L, "a", "bbbb"))
      .toDF("doc_id", "source", "text")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val fp1 = Warehouse.docsFp(spark, dir)
    Seq((0L, "a", "cccc dddd eeee ffff"), (1L, "a", "g"))
      .toDF("doc_id", "source", "text")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val fp2 = Warehouse.docsFp(spark, dir)
    assert(fp1 != fp2,
      "same-shape reseed must change the fingerprint (byte component)")
  }

  test("servedTable: a corrupted _SUCCESS directory rebuilds instead of failing the caller") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("whcor").toString
    val fp = Warehouse.fpToken(2L, 1L)
    corruptTable("whcorf", dir, fp)
    var built = false
    val (name, hit) = Warehouse.servedTable(
      spark, "whcorf", dir, fp, bucket = Some(("k", 4))) { n =>
      built = true
      Sinks.writeBucketed(Seq((0L, 7L), (1L, 7L)).toDF("k", "v"), n, "k", 4)
    }
    assert(!hit && built, "corrupt directory must fall through to a rebuild")
    assert(spark.table(name).count() == 2)
  }

  test("servedFrameMerged: a corrupted _SUCCESS directory is lane cold and a miss, the lane and hit logs agree") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("whcorl").toString
    Seq((0L, "web", "alpha beta")).toDF("doc_id", "source", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fp = Warehouse.fpToken(1L, 0L)
    corruptTable("whcorl", dir, fp)
    val s2 = spark.newSession()
    Warehouse.drainLanes(s2); Warehouse.drainHits(s2)
    val served = Warehouse.servedFrameMerged(s2, "whcorl", dir, "documents", fp)(
      Seq((0L, 7L), (1L, 7L)).toDF("k", "v"))((_, _) => None)
    assert(served.count() == 2, "the corrupt directory must be rebuilt")
    val lanes = Warehouse.drainLanes(s2)
    assert(lanes.collectFirst { case (k, v) if k.startsWith("whcorl@") => v }
      .contains("cold"), s"a rebuild is the cold lane: $lanes")
    assert(hitOf(Warehouse.drainHits(s2), "whcorl").contains(false))
  }

  test("publish registers every artifactBuilders store with its footer schema, and a by-path read of it runs no inference job") {
    // A fresh digest: every row publishes cold.
    val dir = sfCopy("whschema")
    graft.Bench.artifactBuilders.foreach { case (_, build) => build(spark, dir) }
    val whRoot = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val dig = Warehouse.dirDigest(dir)
    val stores = spark.catalog.listTables().collect().map(_.name).toSeq
      .filter(_.contains(s"_${dig}_")).sorted
    assert(stores.size >= graft.Bench.artifactBuilders.size, stores)
    def loc(n: String) = new org.apache.hadoop.fs.Path(whRoot, n).toString
    var seeded = Map.empty[String, org.apache.spark.sql.types.StructType]
    assert(jobsRun {
      seeded = stores.map(n => n -> Warehouse.readParquet(spark, loc(n)).schema)
        .toMap
    } == 0, "a published store's by-path read must take the seeded schema")
    for (n <- stores) {
      val footer = spark.read.parquet(loc(n)).schema
      assert(spark.table(n).schema == footer, s"$n: catalog != footer")
      assert(seeded(n) == footer, s"$n: seeded schema != footer")
    }
  }

  test("servedTable: a mutated corpus (new fingerprint) rebuilds and GCs the stale variant") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("whmut").toString
    val fpOld = Warehouse.fpToken(2L, 1L)
    val fpNew = Warehouse.fpToken(3L, 2L)
    val (oldName, _) = Warehouse.servedTable(
      spark, "whmutf", dir, fpOld, bucket = Some(("k", 4))) { name =>
      Sinks.writeBucketed(Seq((0L, 1L), (1L, 1L)).toDF("k", "v"), name, "k", 4)
    }
    val (newName, hit) = Warehouse.servedTable(
      spark, "whmutf", dir, fpNew, bucket = Some(("k", 4))) { name =>
      Sinks.writeBucketed(
        Seq((0L, 2L), (1L, 2L), (2L, 2L)).toDF("k", "v"), name, "k", 4)
    }
    assert(!hit && newName != oldName,
      "a changed fingerprint must MISS — the stale index is never served")
    assert(spark.table(newName).agg(max("v")).head().getLong(0) == 2L)
    // The superseded variant was REGISTERED by this session, so it may
    // back live cached frames — GC is DEFERRED (it stays, unreachable
    // through resolution because no fingerprint names it anymore); a
    // later process with a fresh catalog sweeps it.
    assert(spark.catalog.tableExists(oldName),
      "in-session stale variant must be deferred, not deleted under live frames")
    // An UNREGISTERED stale variant — the prior-JVM case — IS swept on
    // the next resolution of the family.
    val whRoot = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = whRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ghost = new org.apache.hadoop.fs.Path(
      whRoot, Warehouse.tableName("whmutf", dir, Warehouse.fpToken(9L, 8L)))
    fs.mkdirs(ghost)
    fs.create(new org.apache.hadoop.fs.Path(ghost, "_SUCCESS")).close()
    val (again, hit2) = Warehouse.servedTable(
      spark, "whmutf", dir, fpNew, bucket = Some(("k", 4))) { _ =>
      fail("same-fingerprint re-resolution must hit")
    }
    assert(hit2 && again == newName)
    assert(!fs.exists(ghost),
      "an unregistered (prior-JVM) stale variant must be GC'd")
  }

  test("servedTable: two racing writers both serve a correct table (atomic tmp+rename commit)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("whrace").toString
    val fp = Warehouse.fpToken(4L, 3L)
    val rows = Seq((0L, 5L), (1L, 6L), (2L, 7L), (3L, 8L))
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val gate = new java.util.concurrent.CyclicBarrier(2)
    // Two writers race the SAME (family, fp) through servedTable
    // directly (the Artifacts layer would serialize them — production
    // racers are two JVMs, which share neither that cache nor the
    // catalog; the shared-catalog thread race is the harsher variant).
    // The barrier holds both at the resolution start so neither can
    // win by merely starting first.
    def write(): (String, Boolean) = {
      gate.await(30, java.util.concurrent.TimeUnit.SECONDS)
      Warehouse.servedTable(
        spark, "whracef", dir, fp, bucket = Some(("k", 4))) { name =>
        builds.incrementAndGet()
        Sinks.writeBucketed(rows.toDF("k", "v"), name, "k", 4)
      }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(new java.util.concurrent.Callable[(String, Boolean)] {
        def call() = write() })
      val fb = pool.submit(new java.util.concurrent.Callable[(String, Boolean)] {
        def call() = write() })
      val (na, _) = fa.get(120, java.util.concurrent.TimeUnit.SECONDS)
      val (nb, _) = fb.get(120, java.util.concurrent.TimeUnit.SECONDS)
      assert(na == nb, "both racers must resolve the same deterministic name")
      // Both callers serve a CORRECT table — the commit protocol's bar.
      assert(spark.table(na).orderBy("k").collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSeq == rows)
      // The final directory is complete and no staging leftovers remain
      // (each racer cleans its own tmp, win or lose).
      val whRoot = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"))
      val fs = whRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(whRoot, na), "_SUCCESS")))
      val tmps = fs.listStatus(whRoot).map(_.getPath.getName)
        .filter(n => n.startsWith(na) && n.contains("_tmp_"))
      assert(tmps.isEmpty, s"staging leftovers: ${tmps.mkString(",")}")
    } finally pool.shutdownNow()
  }

  test("servedFrameMerged: a corpus append merges prior store + delta, hash-equal to cold; GC after publish; merges chain") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("whmrg").toString
    def doc(i: Long, t: String) = (i, "web", t)
    val batch1 = Seq(doc(0L, "alpha beta gamma delta epsilon"),
      doc(1L, "alpha beta gamma delta zeta"), doc(2L, "one two three four"))
    val batch2 = Seq(doc(3L, "alpha beta gamma delta epsilon"),
      doc(4L, "five six seven eight"))
    val batch3 = Seq(doc(5L, "nine ten eleven twelve"))
    batch1.toDF("doc_id", "source", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val colds = new java.util.concurrent.atomic.AtomicInteger(0)
    // The REAL minhash-band family semantics (per-doc builder + union
    // merge — the production callback verbatim) through the machinery.
    def resolve(fp: String) = Warehouse.servedFrameMerged(
      spark, "whmrgf", dir, "documents", fp) {
      colds.incrementAndGet()
      graft.operators.Dedup.minhashBandIndex(
        spark.read.parquet(s"$dir/documents.parquet"))
    } { (old, batch) =>
      Some(old.unionByName(graft.operators.Dedup.minhashBandIndex(batch)))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    resolve(Warehouse.fpToken(3L, 2L))
    assert(colds.get == 1, "first resolution must cold-build")
    val oldName = Warehouse.tableName("whmrgf", dir, Warehouse.fpToken(3L, 2L))
    // Simulate the cross-process state (files on disk, NO catalog
    // entry): servedTable registers EXTERNAL at the published
    // location, so dropping the catalog entry keeps the files — which
    // is exactly what a fresh process's empty catalog looks like.
    val whRoot = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = whRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oldLoc = new org.apache.hadoop.fs.Path(whRoot, oldName)
    spark.sql(s"DROP TABLE $oldName")
    assert(fs.exists(new org.apache.hadoop.fs.Path(oldLoc, "_SUCCESS")),
      "published tables are registered external: a catalog drop keeps files")
    // APPEND: a new part file lands in documents.parquet, every
    // pre-existing file untouched — the production corpus-growth shape
    // (parquet files are immutable; ingest adds part files).
    def appendFiles(rows: Seq[(Long, String, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("whmrgb").toString
      rows.toDF("doc_id", "source", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")
          && !f.getName.startsWith("."))
        .foreach { f =>
          java.nio.file.Files.move(f.toPath, java.nio.file.Paths.get(
            s"$dir/documents.parquet/${f.getName}"))
        }
    }
    appendFiles(batch2)
    val served2 = resolve(Warehouse.fpToken(5L, 4L))
    assert(colds.get == 1,
      "an append must take the MERGE lane — the cold builder must not re-run")
    // Merged store == the cold rebuild over the grown corpus, exactly.
    assert(rows(served2) == rows(graft.operators.Dedup.minhashBandIndex(
      spark.read.parquet(s"$dir/documents.parquet"))))
    assert(served2.select("doc_id").distinct().count() == 5)
    // The superseded variant (unregistered — the cross-process state)
    // is GC'd AFTER the publish, never before (it is the merge's own
    // lazy input).
    assert(!fs.exists(oldLoc), "superseded variant must GC after the merge publish")
    // MERGES CHAIN: the published table carries the CURRENT source
    // manifest, so a further append merges against the merged store.
    // Cross-process again: drop the catalog entry (files stay).
    spark.sql(s"DROP TABLE ${Warehouse.tableName("whmrgf", dir, Warehouse.fpToken(5L, 4L))}")
    appendFiles(batch3)
    val served3 = resolve(Warehouse.fpToken(6L, 5L))
    assert(colds.get == 1, "the second append must merge too (manifest chained)")
    assert(rows(served3) == rows(graft.operators.Dedup.minhashBandIndex(
      spark.read.parquet(s"$dir/documents.parquet"))))
    // NON-APPEND mutation (full overwrite: old files replaced) falls
    // back to the cold build.
    (batch1 ++ batch2).toDF("doc_id", "source", "text").coalesce(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val served4 = resolve(Warehouse.fpToken(5L, 99L))
    assert(colds.get == 2, "a non-append mutation must fall back to cold")
    assert(rows(served4) == rows(graft.operators.Dedup.minhashBandIndex(
      spark.read.parquet(s"$dir/documents.parquet"))))
  }

  test("events stores append-merge: ev_trans boundary-seeded merge ≡ cold; ev_user_days distinct-merge ≡ cold; a late delta declines") {
    import spark.implicits._
    // The round-19 top verdict item: the events tier's two stores take
    // the merge lane on corpus growth. ev_user_days is a semilattice
    // (distinct-union merge, exact by construction); ev_trans carries
    // per-user boundary rows (TransitionStream's TState) so the
    // delta's lag pass can continue each user's chain without touching
    // settled events — and DECLINES to cold when a delta event would
    // splice BEFORE its user's boundary (the one case append-side math
    // cannot reproduce).
    val D = 86400L * 1000L * 1000L * 1000L // one day in ns
    val dir = java.nio.file.Files.createTempDirectory("whev").toString
    def ev(u: Long, ts: Long, id: Long, t: String) = (id, u, ts, t)
    // u1: a 3-event chain; u2: ends on ts 9 (the delta ties it); u3: a
    // single event (boundary prev2 NULL — the one-seed arm).
    val batch1 = Seq(
      ev(1L, 10L, 1L, "view"), ev(1L, 25L, 2L, "click"),
      ev(1L, D + 47L, 3L, "view"),
      ev(2L, 5L, 4L, "view"), ev(2L, 9L, 5L, "click"),
      ev(3L, 2 * D + 100L, 6L, "view"))
    // u1 continues mid-chain (prev2 must come from the boundary); u2's
    // first delta event TIES the boundary ts (id 10 > 5 — sorts after,
    // still an append); u3 untouched; u4 brand new (no seed).
    val batch2 = Seq(
      ev(1L, D + 60L, 8L, "purchase"), ev(1L, 3 * D + 90L, 9L, "view"),
      ev(2L, 9L, 10L, "view"), ev(2L, D + 30L, 13L, "click"),
      ev(4L, 7L, 11L, "view"), ev(4L, 8L, 12L, "click"))
    def write(rows: Seq[(Long, Long, Long, String)], append: Boolean): Unit = {
      val df = rows.toDF("event_id", "user_id", "ts", "event_type")
      if (!append) {
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      } else {
        val tmp = java.nio.file.Files.createTempDirectory("whevb").toString
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        new java.io.File(tmp).listFiles()
          .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
          .foreach(f => java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$dir/events.parquet/${f.getName}")))
      }
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    write(batch1, append = false)
    val trColds = new java.util.concurrent.atomic.AtomicInteger(0)
    val udColds = new java.util.concurrent.atomic.AtomicInteger(0)
    // The PRODUCTION callbacks verbatim (Events.transStore /
    // transStoreMerged and the user-days distinct-union), through the
    // machinery under spec-local family names (the real names would
    // collide with other suites' warehouse state).
    def resolveTr(fp: String) = Warehouse.servedFrameMerged(
      spark, "whevtr", dir, "events", fp) {
      trColds.incrementAndGet()
      graft.operators.Events.transStore(graft.Tables.events(spark, dir))
    }(graft.operators.Events.transStoreMerged)
    def resolveUd(fp: String) = Warehouse.servedFrameMerged(
      spark, "whevud", dir, "events", fp) {
      udColds.incrementAndGet()
      graft.operators.Events.userDays(graft.Tables.events(spark, dir))
    }(graft.operators.Events.userDaysMerged)
    resolveTr(Warehouse.fpToken(6L, 6L)); resolveUd(Warehouse.fpToken(6L, 6L))
    assert(trColds.get == 1 && udColds.get == 1)
    // Cross-process state for the merge (files stay, catalog forgets).
    spark.sql(s"DROP TABLE ${Warehouse.tableName("whevtr", dir, Warehouse.fpToken(6L, 6L))}")
    spark.sql(s"DROP TABLE ${Warehouse.tableName("whevud", dir, Warehouse.fpToken(6L, 6L))}")
    write(batch2, append = true)
    val tr2 = resolveTr(Warehouse.fpToken(12L, 13L))
    val ud2 = resolveUd(Warehouse.fpToken(12L, 13L))
    assert(trColds.get == 1 && udColds.get == 1,
      "an append must take the MERGE lane for both events stores")
    // Merged ≡ cold over the grown corpus, bit for bit — dist rows AND
    // boundary rows for ev_trans; the distinct day set for user_days.
    assert(rows(tr2) == rows(graft.operators.Events.transStore(
      graft.Tables.events(spark, dir))))
    assert(rows(ud2) == rows(graft.operators.Events.userDays(
      graft.Tables.events(spark, dir))))
    // The cross-boundary chain really is in the merged dist: u1's
    // first delta transition carries prev2 FROM THE BOUNDARY
    // (click, view → purchase).
    assert(tr2.filter(col("user_id").isNull && col("prev2") === "click" &&
      col("prev_type") === "view" && col("event_type") === "purchase")
      .count() == 1)
    // LATE DELTA: an event before u1's boundary (ts D+70 < 3D+90) must
    // DECLINE the merge and rebuild cold — the cold lag splices it.
    spark.sql(s"DROP TABLE ${Warehouse.tableName("whevtr", dir, Warehouse.fpToken(12L, 13L))}")
    write(Seq(ev(1L, D + 70L, 14L, "click")), append = true)
    val tr3 = resolveTr(Warehouse.fpToken(13L, 14L))
    assert(trColds.get == 2, "a late delta must fall back to the cold lane")
    assert(rows(tr3) == rows(graft.operators.Events.transStore(
      graft.Tables.events(spark, dir))))
  }

  test("batch-touching pair slices: old-state pairs ∪ touching == full-state pairs (ngram + embedding)") {
    import spark.implicits._
    // The pair-store merge identity at the frame level — the exactness
    // argument servedFrameMerged's ngram_pairs/emb_pairs callbacks
    // rely on: the full new-state pair set is PARTITIONED by "touches
    // the batch" (ngramPairsTouching / embeddingPairsTouching) vs
    // "both sides settled" (identical to the old-state run, because
    // per-doc inputs are unchanged and the prefix/bucket rules are
    // order-independent for the VERIFIED output).
    def w(pre: String, last: String) =
      (1 to 19).map(i => s"$pre$i").mkString(" ") + " " + last
    def mk(i: Long, t: String) = (i, "web", t, "de")
    val olds = Seq(mk(0L, w("w", "x0")), mk(1L, w("w", "x1")),
      mk(2L, w("p", "q0")))
    val news = Seq(mk(3L, w("w", "x3")), mk(4L, w("p", "q4")),
      mk(5L, "just unrelated noise here"))
    val all = (olds ++ news).toDF("doc_id", "source", "text", "lang")
    val oldDf = olds.toDF("doc_id", "source", "text", "lang")
    val batchIds = news.map(_._1).toDF("doc_id")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    val full = rows(graft.operators.Dedup.ngramPairs(all))
    val merged = rows(graft.operators.Dedup.ngramPairs(oldDf)
      .unionByName(graft.operators.Dedup.ngramPairsTouching(all, batchIds)))
    assert(full == merged, s"$full vs $merged")
    // Non-trivial on both slices: an old×old pair AND touching pairs.
    assert(rows(graft.operators.Dedup.ngramPairs(oldDf)).nonEmpty)
    assert(full.size > rows(graft.operators.Dedup.ngramPairs(oldDf)).size)
    // Embedding twin at a FIXED plane count (the callback's validity
    // precondition): same planes ⟹ same per-vector buckets ⟹ the
    // collision set partitions identically.
    def vec(id: Long, v: Seq[Long]) = (id, v)
    val vecsOld = Seq(vec(0L, Seq(1000L, 10L, 0L, 0L)),
      vec(1L, Seq(995L, 60L, 0L, 0L)), vec(2L, Seq(0L, 0L, 1000L, 30L)))
    val vecsNew = Seq(vec(3L, Seq(990L, 80L, 10L, 0L)),
      vec(4L, Seq(0L, 20L, 995L, 50L)), vec(5L, Seq(0L, -900L, 0L, 400L)))
    val allV = (vecsOld ++ vecsNew).toDF("vec_id", "v")
    val oldV = vecsOld.toDF("vec_id", "v")
    val batchV = vecsNew.map(_._1).toDF("vec_id")
    val planes = 8
    val fullE = rows(graft.operators.Dedup.embeddingPairs(allV, 0.35, planes))
    val mergedE = rows(graft.operators.Dedup.embeddingPairs(oldV, 0.35, planes)
      .unionByName(graft.operators.Dedup.embeddingPairsTouching(
        allV, batchV, 0.35, planes)))
    assert(fullE == mergedE, s"$fullE vs $mergedE")
    assert(fullE.nonEmpty)
  }

  test("funnel s1 merge: qualityGate distributes over the append; the funnel after an append equals a cold rebuild") {
    import spark.implicits._
    // The one funnel stage with a merge lane (round-19): s1 is a
    // per-row filter, so s1(old ∪ delta) ≡ s1(old) ∪ s1(delta). Later
    // stages decline by design (corpus-global cross terms — SCALE.md).
    def doc(i: Long, t: String) = (i, "web", t, "de", t.length.toLong)
    val cols = Seq("doc_id", "source", "text", "lang", "n_chars")
    def w(n: Int) = (1 to n).map(i => s"tok$i word$i").mkString(" ")
    val olds = Seq(doc(0L, w(30)), doc(1L, "tiny"), doc(2L, w(25)),
      doc(3L, w(25)), doc(4L, w(40)))
    val news = Seq(doc(5L, w(28)), doc(6L, "x y"), doc(7L, w(40)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    // Frame-level identity (the merge callback verbatim).
    val all = (olds ++ news).toDF(cols: _*)
    assert(rows(graft.operators.Curation.qualityGate(olds.toDF(cols: _*))
        .unionByName(graft.operators.Curation.qualityGate(news.toDF(cols: _*))))
      == rows(graft.operators.Curation.qualityGate(all)))
    // End to end: the funnel over an APPENDED corpus (fn_s1 resolves
    // through the merge lane) equals the fixture-path cold funnel.
    val corpus = java.nio.file.Files.createTempDirectory("whfns1").toString
    graft.Tables.documents(spark, sfDir).limit(200).localCheckpoint(true)
      .coalesce(1).write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    graft.Tables.embeddings(spark, sfDir)
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    graft.SparkEntry.queries("q_corpus_funnel")(spark, corpus).collect()
    // Append new docs as a fresh part file past the current max id.
    val mx = spark.read.parquet(s"$corpus/documents.parquet")
      .agg(max("doc_id")).head().getLong(0)
    val batch = graft.Tables.documents(spark, sfDir)
      .limit(240).filter(col("doc_id") >= 200 - 40)
      .withColumn("doc_id", col("doc_id") + mx + 1L).localCheckpoint(true)
    val tmp = java.nio.file.Files.createTempDirectory("whfns1b").toString
    batch.coalesce(1).write.mode("overwrite").parquet(tmp)
    new java.io.File(tmp).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .foreach(f => java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(s"$corpus/documents.parquet/${f.getName}")))
    // Fresh spelling: session stat memos key on the raw dir string, so
    // the symlink exercises the cross-process resolution over the
    // grown corpus.
    val link = java.nio.file.Files.createTempDirectory("whfns1l")
      .resolve("corpus")
    java.nio.file.Files.createSymbolicLink(
      link, java.nio.file.Paths.get(corpus))
    val merged = graft.SparkEntry.queries("q_corpus_funnel")(spark, link.toString)
      .collect().map(_.toSeq).toList
    val cold = graft.operators.Curation.corpusFunnel(
      spark.read.parquet(s"$corpus/documents.parquet"),
      spark.read.parquet(s"$corpus/embeddings.parquet"))
      .collect().map(_.toSeq).toList
    assert(merged == cold, s"$merged vs $cold")
  }

  test("verbatim span chain append-merge: index/matches/offsets merged ≡ cold, cap-crossing handled, width step declines") {
    import spark.implicits._
    import graft.operators.Curation
    // The df-merge argument made code (round-19): the index store
    // carries per-key df + capped-out markers, so an append combines
    // map-side; matches partition into settled pairs (minus crossed
    // keys) ∪ delta-touching pairs; offsets partition by pair.
    val dir = java.nio.file.Files.createTempDirectory("whvb").toString
    def doc(i: Long, t: String) = (i, "web", t, "de", t.length.toLong)
    val cols = Seq("doc_id", "source", "text", "lang", "n_chars")
    val run = "shared verbatim run tokens one two three four five six seven"
    val boiler = "common boilerplate footer text appears everywhere now yes"
    def filler(i: Long) = s"unique filler $i " +
      (1 to 12).map(j => s"w$i-$j").mkString(" ")
    // batch1: 2 docs sharing `run` (a real settled×settled pair), 60
    // docs sharing `boiler` (df 60 ≤ 64 — near the cap), singles.
    val b1 = Seq(doc(0L, s"${filler(0)} $run end"),
      doc(1L, s"start $run ${filler(1)}")) ++
      (2L to 61L).map(i => doc(i, s"${filler(i)} $boiler")) ++
      Seq(doc(62L, filler(62)))
    // batch2: a doc sharing `run` with doc 0 (touching pair), 6 more
    // boiler docs (df 66 — CROSSES the cap: settled boiler pairs must
    // vanish from matches), and a clean single.
    val b2 = Seq(doc(100L, s"${filler(100)} $run tail")) ++
      (101L to 106L).map(i => doc(i, s"${filler(i)} $boiler")) ++
      Seq(doc(107L, filler(107)))
    def write(rows: Seq[(Long, String, String, String, Long)],
              append: Boolean): Unit = {
      val df = rows.toDF(cols: _*)
      if (!append)
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      else {
        val tmp = java.nio.file.Files.createTempDirectory("whvbb").toString
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        new java.io.File(tmp).listFiles()
          .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
          .foreach(f => java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$dir/documents.parquet/${f.getName}")))
      }
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    write(b1, append = false)
    val docsNow = () => spark.read.parquet(s"$dir/documents.parquet")
    val width = Curation.deriveShingleWidth(b1.size.toLong) // 63 docs → 6
    assert(width == Curation.deriveShingleWidth((b1.size + b2.size).toLong),
      "fixture must stay inside one width block for the merge arm")
    val colds = new java.util.concurrent.atomic.AtomicInteger(0)
    def resolveIdx(fp: String, w: Int) = Warehouse.servedFrameMerged(
      spark, "whvbidx", dir, "documents", fp, knob = w) {
      colds.incrementAndGet()
      Curation.verbatimIndexStore(docsNow(), w)
    }(Curation.verbatimIndexMerged(w))
    def resolveM(fp: String, w: Int, idx: org.apache.spark.sql.DataFrame) =
      Warehouse.servedFrameMerged(spark, "whvbm", dir, "documents", fp,
        knob = w) {
        colds.incrementAndGet()
        Curation.verbatimMatchesFrom(idx.filter(col("doc_id").isNotNull)
          .select("sh_key", "doc_id", "pos")).withColumn("w", lit(w))
      }(Curation.verbatimMatchesMerged(w, idx))
    def resolveO(fp: String, w: Int, idx: org.apache.spark.sql.DataFrame,
                 m: org.apache.spark.sql.DataFrame) =
      Warehouse.servedFrameMerged(spark, "whvbo", dir, "documents", fp,
        knob = w) {
        colds.incrementAndGet()
        Curation.verbatimOffsetsFrom(m, w).withColumn("w", lit(w))
      }(Curation.verbatimOffsetsMerged(w, idx, m))
    val fp1 = Warehouse.fpToken(63L, 62L)
    val i1 = resolveIdx(fp1, width)
    val m1 = resolveM(fp1, width, i1)
    resolveO(fp1, width, i1, m1.drop("w"))
    assert(colds.get == 3, "first resolution cold-builds all three")
    // State-1 evidence BEFORE the append (the superseded variant GCs
    // on the merge publish — reading m1 after it would hit deleted
    // files, exactly as designed).
    val boilerPairs1 = m1.filter(col("doc_a") === 2L).count()
    // Cross-process state for every family.
    for (fam <- Seq("whvbidx", "whvbm", "whvbo"))
      spark.sql(s"DROP TABLE ${Warehouse.tableName(fam, dir, fp1)}")
    write(b2, append = true)
    val fp2 = Warehouse.fpToken(71L, 107L)
    val i2 = resolveIdx(fp2, width)
    val m2 = resolveM(fp2, width, i2)
    val o2 = resolveO(fp2, width, i2, m2.drop("w"))
    // Index + matches MERGE; offsets DECLINES (a key crossed the cap)
    // and rebuilds from the already-merged matches table — exactly one
    // cold increment.
    assert(colds.get == 4,
      s"index+matches must merge, offsets must decline to cold: ${colds.get}")
    // Merged ≡ cold over the grown corpus, all three frames.
    assert(rows(i2) == rows(Curation.verbatimIndexStore(docsNow(), width)))
    val coldM = Curation.verbatimMatchesFrom(
      Curation.verbatimIndex(docsNow(), width)).withColumn("w", lit(width))
    assert(rows(m2) == rows(coldM))
    assert(rows(o2.drop("w")) == rows(Curation.verbatimOffsetsFrom(
      coldM.drop("w"), width)))
    // The cap-crossing really happened: boiler pairs present at state 1
    // are GONE at state 2 (df 66 > 64), while the planted run pair
    // gained its touching neighbor.
    assert(boilerPairs1 > 0, "state-1 boiler pairs")
    assert(m2.filter(col("doc_a") === 2L).count() == 0, "crossed keys removed")
    assert(m2.filter(col("doc_a") === 0L && col("doc_b") === 100L).count() > 0,
      "touching pair present")
    // WIDTH-STEP decline: append enough docs to step
    // deriveShingleWidth (71 → 105 docs crosses the 100 boundary) —
    // the index must fall back to cold at the new width.
    spark.sql(s"DROP TABLE ${Warehouse.tableName("whvbidx", dir, fp2)}")
    write((200L to 233L).map(i => doc(i, filler(i))), append = true)
    val fp3 = Warehouse.fpToken(105L, 233L)
    val w3 = Curation.deriveShingleWidth(105L)
    assert(w3 != width, "fixture must cross a width step")
    val i3 = resolveIdx(fp3, w3)
    assert(colds.get == 5, "a width step must decline the merge")
    assert(rows(i3) == rows(Curation.verbatimIndexStore(docsNow(), w3)))
  }

  test("brute-truth frames append-merge: knn_truth and phash_truth re-rank ≡ cold over an appended corpus") {
    import spark.implicits._
    // Top-k under a TOTAL tie rule is re-rankable (round-19):
    // topk(full) ≡ topk(old topk ∪ delta candidates); the probe sets
    // are settled under append, so the truth refresh is batch-linear.
    val corpus = java.nio.file.Files.createTempDirectory("whtru").toString
    graft.Tables.embeddings(spark, sfDir)
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    graft.Tables.documents(spark, sfDir).limit(150).localCheckpoint(true)
      .coalesce(1).write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    // Cold truth builds via their consumer keys.
    graft.SparkEntry.queries("q_knn_recall")(spark, corpus).collect()
    graft.SparkEntry.queries("q_mm_phash_ivf_recall")(spark, corpus).collect()
    val fp1e = Warehouse.embFp(spark, corpus)
    val fp1d = Warehouse.docsFp(spark, corpus)
    spark.sql(s"DROP TABLE ${Warehouse.tableName("knn_truth", corpus, fp1e)}")
    spark.sql(s"DROP TABLE ${Warehouse.tableName("phash_truth", corpus, fp1d)}")
    // Append: id-shifted copies land as fresh part files.
    def appendShifted(table: String, idCol: String): Unit = {
      val cur = spark.read.parquet(s"$corpus/$table.parquet")
      val mx = cur.agg(max(col(idCol))).head().getLong(0)
      val batch = cur.filter(col(idCol) % 3 === 0)
        .withColumn(idCol, col(idCol) + mx + 1L).localCheckpoint(true)
      val tmp = java.nio.file.Files.createTempDirectory("whtrub").toString
      batch.coalesce(1).write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        .foreach(f => java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$corpus/$table.parquet/${f.getName}")))
    }
    appendShifted("embeddings", "vec_id")
    appendShifted("documents", "doc_id")
    // Fresh spelling = fresh fp stats = the cross-process resolution.
    val link = java.nio.file.Files.createTempDirectory("whtrul")
      .resolve("corpus")
    java.nio.file.Files.createSymbolicLink(
      link, java.nio.file.Paths.get(corpus))
    graft.SparkEntry.queries("q_knn_recall")(spark, link.toString).collect()
    graft.SparkEntry.queries("q_mm_phash_ivf_recall")(spark, link.toString)
      .collect()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    // The published truth tables equal a from-scratch brute pass over
    // the grown corpus.
    val tEmb = Warehouse.tableName(
      "knn_truth", corpus, Warehouse.embFp(spark, link.toString))
    assert(rows(spark.table(tEmb)) ==
      rows(graft.operators.Similarity.brute(spark, link.toString, 64, 5)),
      "knn_truth merged != brute cold")
    val tPh = Warehouse.tableName(
      "phash_truth", corpus, Warehouse.docsFp(spark, link.toString))
    assert(rows(spark.table(tPh)) ==
      rows(graft.SparkEntry.queries("q_mm_phash_search")(spark, link.toString)),
      "phash_truth merged != inline brute search")
  }

  test("tableName folds the builder version: v1 is the identity, a bump misses and stays GC-able") {
    val dir = sfDir
    val fp = Warehouse.fpToken(7L, 6L)
    // v1 token == the bare fingerprint: no name churn for deployed
    // v1 tables (every current family).
    assert(Warehouse.tableNameAt("vfam", dir, fp, 1) ==
      Warehouse.tableName("vfam", dir, fp))
    val v2 = Warehouse.tableNameAt("vfam", dir, fp, 2)
    assert(v2 != Warehouse.tableName("vfam", dir, fp),
      "a builder-version bump must change the name (pre-upgrade artifact misses)")
    // …while keeping the family+path prefix, so the stale-variant GC
    // sweeps the pre-upgrade table like any mutated-corpus leftover.
    val prefix = s"graft_vfam_${Warehouse.dirDigest(dir)}_"
    assert(v2.startsWith(prefix))
  }

  test("builder-version bump end to end: the v1 table misses, v2 publishes under the new name, stale v1 GCs") {
    import spark.implicits._
    // The lifecycle the BuilderVersion map promises, exercised through
    // resolution (round-18; the naming-rule-only check is the test
    // above): after a family's deterministic builder changes algorithm,
    // a process running the bumped code must NOT serve the pre-upgrade
    // table — same corpus, same fingerprint, different version token.
    val dir = java.nio.file.Files.createTempDirectory("whbv").toString
    val fp = Warehouse.fpToken(2L, 1L)
    val (n1, hit1) = Warehouse.servedTableAt(
      spark, "whbvf", dir, fp, 1, bucket = None) { n =>
      Seq((0L, 1L), (1L, 1L)).toDF("k", "algo_v")
        .write.mode("overwrite").format("parquet").saveAsTable(n)
    }
    assert(!hit1)
    // Cross-process state: catalog entry dropped, files stay (external).
    spark.sql(s"DROP TABLE $n1")
    val whRoot = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = whRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(whRoot, n1), "_SUCCESS")))
    // The bumped process: same (family, corpus, fp) at version 2.
    var built = false
    val (n2, hit2) = Warehouse.servedTableAt(
      spark, "whbvf", dir, fp, 2, bucket = None) { n =>
      built = true
      Seq((0L, 2L), (1L, 2L)).toDF("k", "algo_v")
        .write.mode("overwrite").format("parquet").saveAsTable(n)
    }
    assert(!hit2 && built && n2 != n1,
      "a version bump must MISS the pre-upgrade table and rebuild")
    assert(spark.table(n2).agg(org.apache.spark.sql.functions.max("algo_v"))
      .head().getLong(0) == 2L)
    // The unregistered v1 variant swept through the same prefix GC as
    // any stale fingerprint (the version token lives in the fp segment).
    assert(!fs.exists(new org.apache.hadoop.fs.Path(whRoot, n1)),
      "the pre-upgrade variant must GC on the bumped resolution")
    // And the bumped version HITS its own table thereafter.
    val (n3, hit3) = Warehouse.servedTableAt(
      spark, "whbvf", dir, fp, 2, bucket = None) { _ =>
      fail("same-version re-resolution must hit")
    }
    assert(hit3 && n3 == n2)
  }

  test("WarehouseLs audit: digest registry resolves paths; a dead corpus's variants flag and sweep; registered entries defer") {
    import spark.implicits._
    import graft.tools.WarehouseLs
    // Name parsing from the right (family may contain underscores).
    assert(WarehouseLs.parseName("graft_minhash_bands_0123456789ab_ba9876543210")
      .contains(("minhash_bands", "0123456789ab", "ba9876543210", false)))
    assert(WarehouseLs.parseName(
      "graft_f_0123456789ab_ba9876543210_tmp_deadbeef")
      .contains(("f", "0123456789ab", "ba9876543210", true)))
    assert(WarehouseLs.parseName("graft_f_notahexdigest_ba9876543210").isEmpty)
    assert(WarehouseLs.parseName("unrelated_table").isEmpty)
    // Lifecycle: resolve a store for a REAL temp corpus (records the
    // digest→path registry line), then delete the corpus — the exact
    // orphan class resolution-time GC can never reach (no future
    // resolution of a dead corpus happens, by definition).
    val dir = java.nio.file.Files.createTempDirectory("whls").toString
    Seq((0L, "web", "x")).toDF("doc_id", "source", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fp = Warehouse.fpToken(1L, 0L)
    val (name, _) = Warehouse.servedTable(
      spark, "whlsf", dir, fp, bucket = None) { n =>
      Seq((1L, 2L)).toDF("a", "b")
        .write.mode("overwrite").format("parquet").saveAsTable(n)
    }
    // While REGISTERED, the entry is resolvable and never sweepable
    // (deferred-GC discipline), even after the corpus dies.
    def entryOf(nm: String) =
      WarehouseLs.audit(spark).find(_.name == nm)
    val live = entryOf(name).get
    assert(live.family == "whlsf" && live.corpus.isDefined &&
      !live.corpusDead && !live.sweepable && live.registered)
    assert(java.nio.file.Paths.get(live.corpus.get).toRealPath().toString ==
      java.nio.file.Paths.get(dir).toRealPath().toString)
    // Kill the corpus.
    val dp = new org.apache.hadoop.fs.Path(dir)
    dp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dp, true)
    val deadButRegistered = entryOf(name).get
    assert(deadButRegistered.corpusDead && !deadButRegistered.sweepable,
      "a registered entry must DEFER even when its corpus is dead")
    // Cross-process state (catalog entry gone): now it is sweepable,
    // and the sweep removes exactly it.
    spark.sql(s"DROP TABLE $name")
    val dead = entryOf(name).get
    assert(dead.corpusDead && dead.sweepable)
    val swept = WarehouseLs.sweep(spark, WarehouseLs.audit(spark))
    assert(swept.contains(name))
    assert(entryOf(name).isEmpty, "swept entry must be gone")
  }

  test("funnel fingerprint covers BOTH inputs: an embeddings-only mutation misses") {
    // Stage 6 (fn_semdrops) derives from EMBEDDINGS while the other
    // stages read documents — a docs-only stamp would serve a stale
    // semantic drop set after an embeddings regeneration. The funnel
    // keys on the COMBINED fingerprint, so either input's mutation
    // moves every stage table's name.
    val corpus = java.nio.file.Files.createTempDirectory("whfn").toString
    graft.Tables.documents(spark, sfDir)
      .write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    graft.Tables.embeddings(spark, sfDir)
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    Warehouse.drainHits(spark)
    val a = graft.SparkEntry.queries("q_corpus_funnel")(spark, corpus)
      .collect().map(_.toSeq).toList
    val h1 = Warehouse.drainHits(spark)
    assert(hitOf(h1, "fn_semdrops").contains(false), s"first build: $h1")
    // Control: a fresh spelling over UNCHANGED data hits every stage.
    val link = java.nio.file.Files.createTempDirectory("whfnl")
      .resolve("corpus")
    java.nio.file.Files.createSymbolicLink(
      link, java.nio.file.Paths.get(corpus))
    val b = graft.SparkEntry.queries("q_corpus_funnel")(spark, link.toString)
      .collect().map(_.toSeq).toList
    val h2 = Warehouse.drainHits(spark)
    assert(hitOf(h2, "fn_semdrops").contains(true) &&
      hitOf(h2, "fn_s1").contains(true), s"unchanged data must hit: $h2")
    assert(a == b)
    // Mutate EMBEDDINGS ONLY (documents untouched): the combined
    // fingerprint moves, so every stage misses — the stale semantic
    // drop set is unreachable.
    val shrunk = spark.read.parquet(s"$corpus/embeddings.parquet")
      .filter(org.apache.spark.sql.functions.col("vec_id") <
        org.apache.spark.sql.functions.lit(3L))
      .localCheckpoint(true)
    shrunk.write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    val link2 = java.nio.file.Files.createTempDirectory("whfnm")
      .resolve("corpus")
    java.nio.file.Files.createSymbolicLink(
      link2, java.nio.file.Paths.get(corpus))
    graft.SparkEntry.queries("q_corpus_funnel")(spark, link2.toString)
      .collect()
    val h3 = Warehouse.drainHits(spark)
    assert(hitOf(h3, "fn_semdrops").contains(false),
      s"embeddings-only mutation must MISS the semantic stage: $h3")
    assert(hitOf(h3, "fn_s1").contains(true),
      s"…while the docs-only text stages still HIT (no over-invalidation): $h3")
    assert(hitOf(h3, "fn_emptied").contains(true), s"$h3")
  }

  test("policy-family lifecycle: truth/tier/quant tables persist; a warm resolution reads rows and never re-runs a chain") {
    // Round-17: the audit/policy artifacts route through the warehouse
    // keyed on the corpus fingerprint. The hit labels ARE the proof the
    // chains did not re-run (a hit never invokes the builder), and the
    // strongest signal is ABSENCE: a warm tier/quant hit never even
    // RESOLVES the truth family, because the truth is only consulted
    // inside the miss callbacks.
    val corpus = java.nio.file.Files.createTempDirectory("whpol").toString
    graft.Tables.embeddings(spark, sfDir)
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    Warehouse.drainHits(spark)
    val a = graft.SparkEntry.queries("q_knn_quant_policy")(spark, corpus)
      .collect().map(_.toSeq).toList
    val h1 = Warehouse.drainHits(spark)
    assert(hitOf(h1, "knn_truth").contains(false), s"cold: $h1")
    assert(hitOf(h1, "knn_tier_rows").contains(false), s"cold: $h1")
    assert(hitOf(h1, "knn_quant_row").contains(false), s"cold: $h1")
    // Fresh spelling over unchanged data = the cross-process warm path
    // (in-session caches key on the raw string).
    val link = java.nio.file.Files.createTempDirectory("whpoll")
      .resolve("corpus")
    java.nio.file.Files.createSymbolicLink(
      link, java.nio.file.Paths.get(corpus))
    val b = graft.SparkEntry.queries("q_knn_quant_policy")(spark, link.toString)
      .collect().map(_.toSeq).toList
    val h2 = Warehouse.drainHits(spark)
    assert(hitOf(h2, "knn_tier_rows").contains(true), s"warm: $h2")
    assert(hitOf(h2, "knn_quant_row").contains(true), s"warm: $h2")
    assert(hitOf(h2, "knn_truth").isEmpty,
      s"a warm policy read must not even resolve the truth family: $h2")
    assert(a == b, "reused policy rows must produce the identical decision")
  }

  test("phash sketch store: a warm process reads the persisted sketches and never re-decodes the corpus") {
    // Round-17 (the phash_ivf_trained warm>cold fix at its root): the
    // decoded (doc_id, phash) frame persists as `phash_sketch`. Warm,
    // the pair key hits the sketch table; the TRAINED index resolution
    // hits its own tables and — absence again — never resolves the
    // sketch store at all.
    val corpus = java.nio.file.Files.createTempDirectory("whsk").toString
    graft.Tables.documents(spark, sfDir)
      .write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    Warehouse.drainHits(spark)
    val a = graft.SparkEntry.queries("q_mm_phash")(spark, corpus)
      .collect().map(_.toSeq).toList
    val h1 = Warehouse.drainHits(spark)
    assert(hitOf(h1, "phash_sketch").contains(false), s"cold: $h1")
    val link = java.nio.file.Files.createTempDirectory("whskl")
      .resolve("corpus")
    java.nio.file.Files.createSymbolicLink(
      link, java.nio.file.Paths.get(corpus))
    val b = graft.SparkEntry.queries("q_mm_phash")(spark, link.toString)
      .collect().map(_.toSeq).toList
    val h2 = Warehouse.drainHits(spark)
    assert(hitOf(h2, "phash_sketch").contains(true),
      s"warm pair build must reuse the sketch store: $h2")
    assert(a == b, "reused sketches must produce the identical pairs")
    // Build the trained index cold (first spelling), then resolve it
    // through yet another spelling: centroids and assignment hit;
    // neither the sketch store nor the untrained index is resolved
    // (the warm trained build touches NOTHING upstream).
    graft.SparkEntry.queries("q_mm_phash_ivf_trained")(spark, corpus)
      .collect()
    Warehouse.drainHits(spark)
    val link2 = java.nio.file.Files.createTempDirectory("whskt")
      .resolve("corpus")
    java.nio.file.Files.createSymbolicLink(
      link2, java.nio.file.Paths.get(corpus))
    graft.SparkEntry.queries("q_mm_phash_ivf_trained")(spark, link2.toString)
      .collect()
    val h3 = Warehouse.drainHits(spark)
    assert(hitOf(h3, "phash_tr_cents").contains(true), s"trained warm: $h3")
    assert(hitOf(h3, "phash_ivf_tr").contains(true), s"trained warm: $h3")
    assert(hitOf(h3, "phash_sketch").isEmpty && hitOf(h3, "phash_ivf").isEmpty,
      s"a warm trained resolution must not touch upstream families: $h3")
  }

  test("trained-ANN lifecycle: a symlinked dir spelling reuses the table; a mutated corpus rebuilds") {
    import spark.implicits._
    // Private corpus copy so mutation can't touch the shared fixtures.
    val corpus = java.nio.file.Files.createTempDirectory("whann").toString
    graft.Tables.embeddings(spark, sfDir)
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    Warehouse.drainHits(spark)
    val a = graft.operators.Similarity.ivfTrainedServe(spark, corpus, 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val h1 = Warehouse.drainHits(spark)
    assert(hitOf(h1, "ivf_trained").contains(false), s"first build must miss: $h1")
    // Same directory through a SYMLINK — a different string, the same
    // canonical path and data: the warehouse must HIT (no retrain, no
    // rewrite) and serve the identical answer. (In-session caches key
    // on the raw string, so the fresh spelling exercises the warehouse
    // path exactly like a second JVM would.)
    val link = java.nio.file.Files.createTempDirectory("whannl")
      .resolve("corpus")
    java.nio.file.Files.createSymbolicLink(
      link, java.nio.file.Paths.get(corpus))
    val b = graft.operators.Similarity
      .ivfTrainedServe(spark, link.toString, 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val h2 = Warehouse.drainHits(spark)
    assert(hitOf(h2, "ivf_trained").contains(true),
      s"symlinked spelling must reuse the persisted index: $h2")
    assert(hitOf(h2, "ivf_cents").contains(true),
      s"…and the persisted centroids (training must not rerun): $h2")
    assert(a == b, "reused index must serve the identical answer")
    // MUTATE the corpus (drop the highest-id vector), then resolve via
    // yet another spelling (simulating the next process over changed
    // data): the fingerprint differs, so the stale table can never be
    // served — the lifecycle rebuilds on the new corpus state and GCs
    // the old variant.
    val mx = spark.read.parquet(s"$corpus/embeddings.parquet")
      .agg(max("vec_id")).head().getLong(0)
    val shrunk = spark.read.parquet(s"$corpus/embeddings.parquet")
      .filter(col("vec_id") < mx).localCheckpoint(true)
    shrunk.write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    val link2 = java.nio.file.Files.createTempDirectory("whannm")
      .resolve("corpus")
    java.nio.file.Files.createSymbolicLink(
      link2, java.nio.file.Paths.get(corpus))
    val c = graft.operators.Similarity
      .ivfTrainedServe(spark, link2.toString, 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val h3 = Warehouse.drainHits(spark)
    assert(hitOf(h3, "ivf_trained").contains(false),
      s"mutated corpus must miss (stale index refused): $h3")
    // The rebuilt index is the mutated corpus's: its table holds one
    // row fewer, and the stale fingerprint variant is GC'd.
    val fpNew = Warehouse.fpToken(mx, mx - 1L,
      Warehouse.corpusBytes(spark, corpus, "embeddings"))
    val newTable = Warehouse.tableName("ivf_trained", corpus, fpNew)
    assert(spark.table(newTable).count() == mx,
      "rebuilt index must index the MUTATED corpus")
    val whRoot = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = whRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val variants = fs.listStatus(whRoot).map(_.getPath.getName)
      .filter(_.startsWith(
        s"graft_ivf_trained_${Warehouse.dirDigest(corpus)}_"))
    assert(variants.contains(newTable) && variants.length == 2,
      s"the new variant plus the session-registered (deferred-GC) old " +
        s"one, found: ${variants.mkString(",")}")
    assert(c.nonEmpty)
  }

  test("lsh_buckets append-merge: bucket rows union at a fixed plane count; a derivePlanes block crossing declines to cold") {
    import graft.operators.Similarity
    // Bucket rows are per-vector functions of the plane set
    // (minhash_bands shape), but the plane count derives from the
    // corpus SIZE — the merge is exact within a derivePlanes block and
    // must decline across a boundary (old rows hash under the wrong
    // planes; the emb_pairs convention). TargetBucket=8: N∈(64,128]
    // ⟹ 4 planes, so 100 base + 20 appended stays in-block and
    // 100+20+40=160 crosses to 5.
    val dir = java.nio.file.Files.createTempDirectory("whlsh").toString
    val src = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
      .orderBy(col("vec_id")).limit(160).localCheckpoint(true)
    src.filter(col("vec_id") < 100).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def appendSlice(lo: Long, hi: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("whlshb").toString
      src.filter(col("vec_id") >= lo && col("vec_id") < hi).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        .foreach(f => java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$dir/embeddings.parquet/${f.getName}")))
    }
    val colds = new java.util.concurrent.atomic.AtomicInteger(0)
    // The production callbacks verbatim (Similarity.lshBucketStore's
    // cold + merge), under a spec-local family name.
    def resolve(fp: String) = Warehouse.servedFrameMerged(
      spark, "whlshbk", dir, "embeddings", fp) {
      colds.incrementAndGet()
      val n = graft.Tables.embeddings(spark, dir).count()
      Similarity.bucketed(Similarity.quantizedVectors(
        graft.Tables.embeddings(spark, dir)), Similarity.derivePlanes(n))
    } { (old, batch) =>
      val n = graft.Tables.embeddings(spark, dir).count()
      val planes = Similarity.derivePlanes(n)
      if (Similarity.derivePlanes(n - batch.count()) != planes) None
      else Some(old.unionByName(Similarity.bucketed(
        Similarity.quantizedVectors(batch), planes)))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    def cold() = {
      val m = graft.Tables.embeddings(spark, dir).count()
      Similarity.bucketed(Similarity.quantizedVectors(
        graft.Tables.embeddings(spark, dir)), Similarity.derivePlanes(m))
    }
    resolve(Warehouse.fpToken(100L, 99L))
    assert(colds.get == 1)
    spark.sql(s"DROP TABLE ${Warehouse.tableName("whlshbk", dir, Warehouse.fpToken(100L, 99L))}")
    // In-block append (100 → 120 vectors, planes stay 4): MERGE lane.
    appendSlice(100L, 120L)
    val served2 = resolve(Warehouse.fpToken(120L, 119L))
    assert(colds.get == 1,
      "an in-block append must take the merge lane (no cold rebuild)")
    assert(rows(served2) == rows(cold()),
      "merged bucket index != cold rebuild over the grown corpus")
    // Block-crossing append (120 → 160, planes 4 → 5): DECLINE → cold.
    spark.sql(s"DROP TABLE ${Warehouse.tableName("whlshbk", dir, Warehouse.fpToken(120L, 119L))}")
    appendSlice(120L, 160L)
    val served3 = resolve(Warehouse.fpToken(160L, 159L))
    assert(colds.get == 2,
      "a derivePlanes block crossing must decline the merge and rebuild cold")
    assert(rows(served3) == rows(cold()))
  }

  test("cc labels append-merge: star contraction ≡ cold CC, including two settled components bridged through a delta doc") {
    import spark.implicits._
    import graft.operators.Dedup
    // The round-19 cluster-store lane: CC(all pairs) ≡ CC(star(old
    // labels) ∪ delta-touching pairs). The delta plants the hard case —
    // a new doc similar to ONE member of each of two SETTLED components
    // (impossible to label append-side without the star edges: the
    // merged component's rep is the other component's minimum).
    // Token sets at the 9/10 Jaccard bar: U = t1..t20;
    //   a1 = U∖{t1,t2} (+u1 pad on a2), b1 = U∖{t3,t4} (+u2 pad on b2),
    //   bridge x = U  ⟹  J(x,a1) = J(x,b1) = 18/20 = 0.9 ≥ 9/10,
    //   while J(a1,b1) = 16/20 = 0.8 < 9/10 (settled components stay
    //   separate until x arrives).
    val U = (1 to 20).map(i => s"t$i")
    def txt(tok: Seq[String]) = tok.mkString(" ")
    def doc(i: Long, tok: Seq[String]) = (i, "web", txt(tok), "de")
    val a1 = U.diff(Seq("t1", "t2"))
    val b1 = U.diff(Seq("t3", "t4"))
    val batch1 = Seq(doc(0L, a1), doc(1L, a1 :+ "u1"),
      doc(2L, b1), doc(3L, b1 :+ "u2"),
      doc(4L, Seq("lone", "noise", "words", "here")))
    val c1 = (1 to 19).map(i => s"s$i")
    val batch2 = Seq(doc(5L, U), doc(6L, c1 :+ "s20"), doc(7L, c1 :+ "s21"),
      doc(8L, Seq("more", "unrelated", "noise")))
    val dir = java.nio.file.Files.createTempDirectory("whcc").toString
    batch1.toDF("doc_id", "source", "text", "lang").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def docsNow = spark.read.parquet(s"$dir/documents.parquet")
    val colds = new java.util.concurrent.atomic.AtomicInteger(0)
    // Production callbacks verbatim (ngramClusterLabels' cold + merge,
    // with the live pair frame standing in for the persisted pair
    // store) under a spec-local family name.
    def resolve(fp: String) = Warehouse.servedFrameMerged(
      spark, "whccf", dir, "documents", fp) {
      colds.incrementAndGet()
      Dedup.connectedComponents(
        Dedup.ngramPairs(docsNow).select(col("doc_a"), col("doc_b")))
    } { (old, delta) =>
      Some(Dedup.ccLabelsMerged(old,
        Dedup.ngramPairs(docsNow).select(col("doc_a"), col("doc_b")),
        delta.select(col("doc_id"))))
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    val base = resolve(Warehouse.fpToken(5L, 4L))
    assert(colds.get == 1)
    // Two settled 2-doc components, the noise doc label-less.
    assert(rows(base) == Seq(Seq(0L, 0L), Seq(1L, 0L), Seq(2L, 2L), Seq(3L, 2L)))
    spark.sql(s"DROP TABLE ${Warehouse.tableName("whccf", dir, Warehouse.fpToken(5L, 4L))}")
    val tmp = java.nio.file.Files.createTempDirectory("whccb").toString
    batch2.toDF("doc_id", "source", "text", "lang").coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    new java.io.File(tmp).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .foreach(f => java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(s"$dir/documents.parquet/${f.getName}")))
    val merged = resolve(Warehouse.fpToken(9L, 8L))
    assert(colds.get == 1,
      "an append must take the cc MERGE lane — the full-graph CC must not re-run")
    // Merged ≡ the cold fixed point over the grown corpus, bit for bit.
    assert(rows(merged) == rows(Dedup.connectedComponents(
      Dedup.ngramPairs(docsNow).select(col("doc_a"), col("doc_b")))))
    // The bridge really happened: both settled components + the delta
    // doc collapse to rep 0 (doc 2's settled rep was 2), and the
    // all-new pair forms its own component.
    val m = merged.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(0L, 1L, 2L, 3L, 5L).forall(m(_) == 0L),
      s"bridged component must re-label to the union min: $m")
    assert(m(6L) == 6L && m(7L) == 6L)
  }

  test("trained-index retrain cycle: below the growth ratio the quantizer is REUSED and the index append-MERGES; past it the resolution retrains and reassigns cold") {
    import graft.operators.Similarity
    // 100 base vectors (trained_n 100, K = ceil(sqrt(100)) = 10).
    // +10 → 110 < 1.2·100: reuse + merge. +30 → 140 ≥ 1.2·100:
    // retrain (trained_n 140, K = 12) + cold reassign.
    val dir = java.nio.file.Files.createTempDirectory("whretrain").toString
    val esrc = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
      .orderBy(col("vec_id")).limit(140).localCheckpoint(true)
    esrc.filter(col("vec_id") < 100).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def appendE(lo: Long, hi: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("whrtb").toString
      esrc.filter(col("vec_id") >= lo && col("vec_id") < hi).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        .foreach(f => java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$dir/embeddings.parquet/${f.getName}")))
    }
    // Resolve via the PRODUCTION lifecycle in a fresh session (the
    // new-ingest-process shape); return the lanes the centroid
    // store and the index took plus the published table names.
    def resolve(): (Map[String, String], String, String) = {
      val s2 = spark.newSession()
      Warehouse.drainLanes(s2)
      Similarity.trainedIndexArtifacts(s2, dir)
      val lanes = Warehouse.drainLanes(s2)
      (lanes, Warehouse.tableName("ivf_cents", dir, Warehouse.embFp(s2, dir)),
        Warehouse.tableName("ivf_trained", dir, Warehouse.embFp(s2, dir)))
    }
    def laneOf(m: Map[String, String], fam: String): Option[String] =
      m.collectFirst { case (k, v) if k.takeWhile(_ != '@') == fam => v }
    def trainedN(cents: String): Long =
      spark.table(cents).agg(max(col("trained_n"))).head().getLong(0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString()).toSeq

    val (l1, c1, i1) = resolve()
    assert(laneOf(l1, "ivf_trained").contains("cold"), s"first build: $l1")
    assert(laneOf(l1, "ivf_cents").contains("cold"),
      s"first build must train the quantizer on the cold lane: $l1")
    assert(trainedN(c1) == 100L && spark.table(c1).count() == 10L,
      "fresh train at n=100 must record trained_n=100 with K=10 centroids")
    // Below-ratio append: quantizer REUSED, index merged, full coverage.
    appendE(100L, 110L)
    val (l2, c2, i2) = resolve()
    assert(laneOf(l2, "ivf_trained").contains("merge"),
      s"below-ratio growth must take the index merge lane: $l2")
    assert(laneOf(l2, "ivf_cents").contains("merge"),
      s"below-ratio growth must carry the quantizer forward on the merge lane: $l2")
    assert(trainedN(c2) == 100L && spark.table(c2).count() == 10L,
      "reused quantizer must carry trained_n=100 forward (Lloyd skipped)")
    assert(spark.table(i2).count() == 110L,
      "merged index must cover the grown corpus")
    // Merge ≡ cold at fixed centroids: force a cold reassign of the
    // SAME corpus state (drop the index variant; cents stay) and
    // compare bit for bit.
    val mergedRows = rows(spark.table(i2))
    val whRoot = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = whRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Remove EVERY index variant (any survivor would re-enter as a
    // merge base); the centroid table stays — the cold reassign must
    // run under the REUSED quantizer.
    fs.listStatus(whRoot).map(_.getPath.getName)
      .filter(_.startsWith(s"graft_ivf_trained_${Warehouse.dirDigest(dir)}_"))
      .foreach { v =>
        spark.sql(s"DROP TABLE IF EXISTS $v")
        fs.delete(new org.apache.hadoop.fs.Path(whRoot, v), true)
      }
    val (l2b, _, i2b) = resolve()
    assert(laneOf(l2b, "ivf_trained").contains("cold"))
    assert(rows(spark.table(i2b)) == mergedRows,
      "merged index != cold reassign under the same reused quantizer")
    // Bucket pruning must survive the merge-lane re-registration: the
    // merged table carries the CLUSTERED BY spec (re-publish the merge
    // by dropping the cold rebuild again is unnecessary — i2b == i2
    // name; assert on the spec instead).
    assert(spark.sql(s"DESCRIBE TABLE EXTENDED $i2b").collect()
      .exists(r => r.toString.contains("Num Buckets")),
      "trained index must stay bucketed through the lifecycle")
    // Past-ratio append: retrain at the new count, cold reassign.
    appendE(110L, 140L)
    val (l3, c3, i3) = resolve()
    assert(laneOf(l3, "ivf_trained").contains("cold"),
      s"past-ratio growth must decline the merge and reassign cold: $l3")
    assert(laneOf(l3, "ivf_cents").contains("cold"),
      s"past-ratio growth must decline the quantizer carry-forward: $l3")
    assert(trainedN(c3) == 140L && spark.table(c3).count() == 12L,
      "stale quantizer must retrain at n=140 with K=12")
    assert(spark.table(i3).count() == 140L)
    assert(c2 != c3 && i2 != i3, "new corpus state must publish new variants")
  }

  test("phash trained-index retrain cycle mirrors the embedding family: reuse + sketch-store-fed index merge below the ratio, retrain past it") {
    import spark.implicits._
    import graft.operators.Multimodal
    // 24 docs (+3 planted twins) → K = ceil(sqrt(27)) = 6.
    // +4 → 28/24 = 1.17 < 1.2: reuse + merge. +32 → 60/24 = 2.5:
    // retrain (trained_n 60, K = ceil(sqrt(63)) = 8) + cold.
    val dir = java.nio.file.Files.createTempDirectory("whphret").toString
    def doc(i: Long) = (i, "web",
      s"image doc $i " + (1 to 8).map(j => s"px$i-$j").mkString(" "),
      "en", 40L)
    val dcols = Seq("doc_id", "source", "text", "lang", "n_chars")
    (0L until 24L).map(doc).toDF(dcols: _*).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def appendD(lo: Long, hi: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("whphb").toString
      (lo until hi).map(doc).toDF(dcols: _*).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        .foreach(f => java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$dir/documents.parquet/${f.getName}")))
    }
    def resolve(): (Map[String, String], String, String) = {
      val s2 = spark.newSession()
      Warehouse.drainLanes(s2)
      Multimodal.phashIvfTrainedArtifacts(s2, dir)
      val lanes = Warehouse.drainLanes(s2)
      (lanes, Warehouse.tableName("phash_tr_cents", dir, Warehouse.docsFp(s2, dir)),
        Warehouse.tableName("phash_ivf_tr", dir, Warehouse.docsFp(s2, dir)))
    }
    def laneOf(m: Map[String, String], fam: String): Option[String] =
      m.collectFirst { case (k, v) if k.takeWhile(_ != '@') == fam => v }
    def trainedN(c: String): Long =
      spark.table(c).agg(max(col("trained_n"))).head().getLong(0)
    val (l1, c1, i1) = resolve()
    assert(laneOf(l1, "phash_ivf_tr").contains("cold"), s"$l1")
    assert(laneOf(l1, "phash_tr_cents").contains("cold"), s"$l1")
    assert(trainedN(c1) == 24L && spark.table(c1).count() == 6L)
    assert(spark.table(i1).count() == 27L, "24 docs + 3 planted twins")
    appendD(24L, 28L)
    val (l2, c2, i2) = resolve()
    assert(laneOf(l2, "phash_ivf_tr").contains("merge"),
      s"below-ratio growth must merge the trained phash index: $l2")
    assert(laneOf(l2, "phash_tr_cents").contains("merge"),
      s"below-ratio growth must carry the hamming quantizer forward: $l2")
    assert(trainedN(c2) == 24L && spark.table(c2).count() == 6L,
      "reused hamming quantizer must carry trained_n forward")
    assert(spark.table(i2).count() == 31L, "28 docs + 3 twins")
    appendD(28L, 60L)
    val (l3, c3, i3) = resolve()
    assert(laneOf(l3, "phash_ivf_tr").contains("cold"),
      s"past-ratio growth must retrain + reassign cold: $l3")
    assert(laneOf(l3, "phash_tr_cents").contains("cold"),
      s"past-ratio growth must retrain the hamming quantizer cold: $l3")
    assert(trainedN(c3) == 60L && spark.table(c3).count() == 8L,
      "stale hamming quantizer must retrain at n=60 with K=8")
    assert(spark.table(i3).count() == 63L)
    assert(i1 != i2 && i2 != i3)
  }

  test("pq_codes append-merge: delta-only encode at a fixed code count; a derivePqCodes step declines to cold") {
    import graft.operators.Similarity
    // The store's knob at the fixture counts (the lane compares the
    // same function's values): 40 base → K=8 (64 ≥ 40); +8 → 48
    // in-block; +80 → 128 crosses to K=16.
    assert(Similarity.derivePqCodes(48L) == Similarity.derivePqCodes(40L))
    assert(Similarity.derivePqCodes(128L) != Similarity.derivePqCodes(48L))
    val dir = java.nio.file.Files.createTempDirectory("whpqc").toString
    val esrc = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
      .orderBy(col("vec_id")).limit(128).localCheckpoint(true)
    esrc.filter(col("vec_id") < 40).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def appendE(lo: Long, hi: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("whpqb").toString
      esrc.filter(col("vec_id") >= lo && col("vec_id") < hi).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        .foreach(f => java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$dir/embeddings.parquet/${f.getName}")))
    }
    def resolve(): (Map[String, String], org.apache.spark.sql.DataFrame) = {
      val s2 = spark.newSession()
      Warehouse.drainLanes(s2)
      val served = Similarity.pqCodeStore(s2, dir)
      served.count()
      (Warehouse.drainLanes(s2), served)
    }
    def laneOf(m: Map[String, String]): Option[String] =
      m.collectFirst { case (k, v) if k.takeWhile(_ != '@') == "pq_codes" => v }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    def coldEncode(): org.apache.spark.sql.DataFrame = {
      val e = Similarity.quantizedVectors(graft.Tables.embeddings(spark, dir))
      Similarity.pqEncodeWith(e,
        Similarity.pqCodebook(e, Similarity.derivePqCodes(e.count())))
    }
    val (l1, s1) = resolve()
    assert(laneOf(l1).contains("cold") && s1.count() == 40L * 8)
    appendE(40L, 48L)
    val (l2, s2) = resolve()
    assert(laneOf(l2).contains("merge"),
      s"in-block append must take the pq_codes merge lane: $l2")
    assert(rows(s2) == rows(coldEncode()),
      "merged code store != cold encode over the grown corpus")
    appendE(48L, 128L)
    val (l3, s3) = resolve()
    assert(laneOf(l3).contains("cold"),
      s"a derivePqCodes step must decline the merge: $l3")
    assert(rows(s3) == rows(coldEncode()))
  }

  test("doc_shingles append-merge: per-doc fold unions at a fixed width; a deriveShingleWidth step declines to cold; store-fed == inline for every consumer shape") {
    import graft.operators.Curation
    // The store's knob at the fixture counts: width(80) = width(95) =
    // 6, width(120) = 7.
    assert(Curation.deriveShingleWidth(95L) == Curation.deriveShingleWidth(80L))
    assert(Curation.deriveShingleWidth(120L) != Curation.deriveShingleWidth(95L))
    val dir = java.nio.file.Files.createTempDirectory("whdsh").toString
    val dsrc = graft.Tables.documents(spark, "/root/testdata/sf0.01")
      .orderBy(col("doc_id")).limit(120).localCheckpoint(true)
    dsrc.filter(col("doc_id") < 80).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def appendD(lo: Long, hi: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("whdshb").toString
      dsrc.filter(col("doc_id") >= lo && col("doc_id") < hi).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        .foreach(f => java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$dir/documents.parquet/${f.getName}")))
    }
    def resolve(): (Map[String, String], org.apache.spark.sql.DataFrame) = {
      val s2 = spark.newSession()
      Warehouse.drainLanes(s2)
      val served = Curation.docShingleStore(s2, dir)
      served.count()
      (Warehouse.drainLanes(s2), served)
    }
    def laneOf(m: Map[String, String]): Option[String] =
      m.collectFirst { case (k, v) if k.takeWhile(_ != '@') == "doc_shingles" => v }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    val (l1, s1) = resolve()
    assert(laneOf(l1).contains("cold"), s"first resolve must build cold: $l1")
    // Store-fed == inline for both consumer shapes: the gate (reads
    // distinct rows as-is) and novelty (duplicate-insensitive
    // aggregates over the positional inline frame).
    val docs = graft.Tables.documents(spark, dir)
    assert(rows(Curation.decontaminateFromShingles(s1))
      == rows(Curation.decontaminate(docs)),
      "store-fed decontaminate != inline over the base corpus")
    assert(rows(Curation.noveltyFromShingles(s1))
      == rows(Curation.novelty(docs)),
      "store-fed novelty != inline over the base corpus")
    appendD(80L, 95L)
    val (l2, s2f) = resolve()
    assert(laneOf(l2).contains("merge"),
      s"in-block append must take the doc_shingles merge lane: $l2")
    assert(rows(Curation.decontaminateFromShingles(s2f))
      == rows(Curation.decontaminate(graft.Tables.documents(spark, dir))),
      "merged shingle store != inline fold over the grown corpus")
    appendD(95L, 120L)
    val (l3, s3f) = resolve()
    assert(laneOf(l3).contains("cold"),
      s"a deriveShingleWidth step must decline the merge: $l3")
    assert(rows(Curation.decontaminateFromShingles(s3f))
      == rows(Curation.decontaminate(graft.Tables.documents(spark, dir))))
  }

  test("vb_inc_idx: the settled-slice index store equals the inline verbatimIndex, cold and after an in-width append merge") {
    import graft.operators.Curation
    val dir = java.nio.file.Files.createTempDirectory("whvbi").toString
    val dsrc = graft.Tables.documents(spark, "/root/testdata/sf0.01")
      .orderBy(col("doc_id")).limit(95).localCheckpoint(true)
    dsrc.filter(col("doc_id") < 80).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    def storeFed(s2: org.apache.spark.sql.SparkSession) =
      Curation.vbIncIndexArtifact(s2, dir)
        .filter(col("doc_id").isNotNull)
        .select(col("sh_key"), col("doc_id"), col("pos"))
    def inline() = {
      val docs = graft.Tables.documents(spark, dir)
      Curation.verbatimIndex(docs.filter(col("doc_id") % 5 =!= 0),
        Curation.deriveShingleWidth(docs.count()))
        .select(col("sh_key"), col("doc_id"), col("pos"))
    }
    def resolve(): (Map[String, String], org.apache.spark.sql.DataFrame) = {
      val s2 = spark.newSession()
      Warehouse.drainLanes(s2)
      val served = storeFed(s2)
      served.count()
      (Warehouse.drainLanes(s2), served)
    }
    def laneOf(m: Map[String, String]): Option[String] =
      m.collectFirst { case (k, v) if k.takeWhile(_ != '@') == "vb_inc_idx" => v }
    val (l1, i1) = resolve()
    assert(laneOf(l1).contains("cold"), s"first resolve must build cold: $l1")
    assert(rows(i1) == rows(inline()),
      "store-fed slice index != inline verbatimIndex (cold)")
    // In-width append (80 → 95 docs: width 6 holds): merge lane, still
    // equal to the inline rebuild over the grown corpus.
    val tmp = java.nio.file.Files.createTempDirectory("whvbib").toString
    dsrc.filter(col("doc_id") >= 80).coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    new java.io.File(tmp).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .foreach(f => java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(s"$dir/documents.parquet/${f.getName}")))
    val (l2, i2) = resolve()
    assert(laneOf(l2).contains("merge"),
      s"in-width append must take the vb_inc_idx merge lane: $l2")
    assert(rows(i2) == rows(inline()),
      "merged slice index != inline verbatimIndex over the grown corpus")
  }

  test("emb_cc / phash_cc decline arms: PRODUCTION lanes — in-block append merges, a derivePlanes / phashChunkWidth step declines to cold") {
    import spark.implicits._
    import graft.operators.{Dedup, Multimodal, Similarity}
    // The stores' knobs at the exact fixture counts — the production
    // stores pass THESE functions' values to the lane, so pinning them
    // here pins the lanes' knob.
    assert(Similarity.derivePlanes(120L) == Similarity.derivePlanes(100L),
      "100→120 vectors must stay inside the 4-plane block")
    assert(Similarity.derivePlanes(160L) != Similarity.derivePlanes(120L),
      "120→160 vectors must cross to 5 planes")
    val twins = Multimodal.PhashPlantCount
    assert(Multimodal.phashChunkWidth(29L + twins) ==
      Multimodal.phashChunkWidth(24L + twins),
      "24→29 docs must stay at width 2 (with the planted rows)")
    assert(Multimodal.phashChunkWidth(61L + twins) !=
      Multimodal.phashChunkWidth(29L + twins),
      "29→61 docs must step the chunk width")
    val dir = java.nio.file.Files.createTempDirectory("whccdec").toString
    // Embeddings: 100 base (4 planes), +20 in-block, +40 crossing.
    val esrc = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
      .orderBy(col("vec_id")).limit(160).localCheckpoint(true)
    esrc.filter(col("vec_id") < 100).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // Documents: 24 base (width 2), +5 in-block, +32 crossing —
    // synthesized texts (the payload stage derives headers from text).
    def doc(i: Long) = (i, "web",
      s"doc $i body " + (1 to 10).map(j => s"tok$i-$j").mkString(" "),
      "en", 60L)
    val dcols = Seq("doc_id", "source", "text", "lang", "n_chars")
    (0L until 24L).map(doc).toDF(dcols: _*).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def appendPart(table: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("whccb").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        .foreach(f => java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$dir/$table.parquet/${f.getName}")))
    }
    // Drive the PRODUCTION store resolutions (the `emb_pairs` build row
    // resolves emb_pairs + emb_cc; the `phash_cc_labels` row resolves
    // phash_sketch + phash_cc) in a FRESH session per corpus state — the
    // new-ingest-process shape — and
    // read which servedFrameMerged lane each family took.
    def lanesAfter(): Map[String, String] = {
      val s2 = spark.newSession()
      Warehouse.drainLanes(s2)
      val rows = graft.Bench.artifactBuilders.toMap
      rows("emb_pairs")(s2, dir)
      rows("phash_cc_labels")(s2, dir)
      Warehouse.drainLanes(s2)
    }
    def laneOf(m: Map[String, String], fam: String): Option[String] =
      m.collectFirst { case (k, v) if k.takeWhile(_ != '@') == fam => v }
    val l1 = lanesAfter()
    assert(laneOf(l1, "emb_cc").contains("cold") &&
      laneOf(l1, "phash_cc").contains("cold"), s"first build is cold: $l1")
    // In-block appends: every lane must MERGE.
    appendPart("embeddings",
      esrc.filter(col("vec_id") >= 100 && col("vec_id") < 120))
    appendPart("documents", (24L until 29L).map(doc).toDF(dcols: _*))
    val l2 = lanesAfter()
    for (fam <- Seq("emb_pairs", "emb_cc", "phash_cc"))
      assert(laneOf(l2, fam).contains("merge"),
        s"in-block append must take $fam's merge lane: $l2")
    // Knob-step appends: every derived-knob lane must DECLINE → cold.
    appendPart("embeddings", esrc.filter(col("vec_id") >= 120))
    appendPart("documents", (29L until 61L).map(doc).toDF(dcols: _*))
    val l3 = lanesAfter()
    for (fam <- Seq("emb_pairs", "emb_cc", "phash_cc"))
      assert(laneOf(l3, fam).contains("cold"),
        s"a knob step must decline $fam's merge and rebuild cold: $l3")
    // The declined rebuilds are the cold fixed points over the grown
    // corpus: emb_cc labels re-derive from the rebuilt pair store.
    val s3 = spark.newSession()
    val served = graft.sources.Warehouse.servedFrameMerged(
      s3, "emb_cc", dir, "embeddings",
      graft.sources.Warehouse.embFp(s3, dir))(
      sys.error("must hit the published table")) { (_, _) => None }
    val coldCc = Dedup.connectedComponents(
      Dedup.embeddingPairs(
        Similarity.quantizedVectors(graft.Tables.embeddings(s3, dir)),
        0.35, Similarity.derivePlanes(160L))
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("cluster_rep"))
    def rws(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    assert(rws(served) == rws(coldCc),
      "declined rebuild must equal the cold CC over the grown corpus")
  }

  test("the manifest knob gates the merge: a mismatched knob declines, a matching one merges; a pre-knob (version, 0) manifest declines a knob store but still merges minhash_bands") {
    import graft.operators.{Curation, Dedup}
    val dir = java.nio.file.Files.createTempDirectory("whknob").toString
    val dsrc = graft.Tables.documents(spark, sfDir)
      .orderBy(col("doc_id")).limit(95).localCheckpoint(true)
    dsrc.filter(col("doc_id") < 70).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def appendD(lo: Long, hi: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("whknobb").toString
      dsrc.filter(col("doc_id") >= lo && col("doc_id") < hi).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        .foreach(f => java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$dir/documents.parquet/${f.getName}")))
    }
    def laneOf(m: Map[String, String], fam: String): Option[String] =
      m.collectFirst { case (k, v) if k.takeWhile(_ != '@') == fam => v }
    // The lane alone, over the minhash builder, at an explicit knob.
    def resolve(knob: Long): Option[String] = {
      val s2 = spark.newSession()
      Warehouse.drainLanes(s2)
      Warehouse.servedFrameMerged(s2, "whknobf", dir, "documents",
        Warehouse.docsFp(s2, dir), knob = knob)(
        Dedup.minhashBandIndex(graft.Tables.documents(s2, dir)))(
        (old, batch) => Some(old.unionByName(Dedup.minhashBandIndex(batch))))
        .count()
      laneOf(Warehouse.drainLanes(s2), "whknobf")
    }
    assert(resolve(6L).contains("cold"))
    appendD(70L, 75L)
    assert(resolve(7L).contains("cold"), "a knob step must decline the merge")
    appendD(75L, 80L)
    assert(resolve(7L).contains("merge"), "an unchanged knob must merge")
    // Two production stores, one without a knob (minhash_bands) and
    // one with one (doc_shingles, the shingle width), whose manifests
    // carry the knob slot as 0 — the form written before the slot was
    // filled. Only the knob store must decline.
    def resolveStores(): Map[String, String] = {
      val s2 = spark.newSession()
      Warehouse.drainLanes(s2)
      Dedup.minhashBandStore(s2, dir).count()
      Curation.docShingleStore(s2, dir).count()
      Warehouse.drainLanes(s2)
    }
    val l1 = resolveStores()
    assert(laneOf(l1, "minhash_bands").contains("cold") &&
      laneOf(l1, "doc_shingles").contains("cold"), s"$l1")
    val whRoot = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = whRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fp = Warehouse.docsFp(spark, dir)
    for (fam <- Seq("minhash_bands", "doc_shingles")) {
      val man = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(whRoot, Warehouse.tableName(fam, dir, fp)),
        Warehouse.ManifestFile)
      val in = fs.open(man)
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val ver = Warehouse.BuilderVersion(fam)
      val out = fs.create(man, true)
      out.write(text.split("\n").map { l =>
        if (l.startsWith(Warehouse.ManifestVersionKey + "\t"))
          s"${Warehouse.ManifestVersionKey}\t$ver\t0"
        else l
      }.mkString("\n").getBytes("UTF-8"))
      out.close()
    }
    appendD(80L, 95L)
    assert(Curation.deriveShingleWidth(95L) == Curation.deriveShingleWidth(80L),
      "the append must stay inside one width block")
    val l2 = resolveStores()
    assert(laneOf(l2, "minhash_bands").contains("merge"),
      s"a store without a knob keeps merging: $l2")
    assert(laneOf(l2, "doc_shingles").contains("cold"),
      s"a knob store declines a pre-knob manifest once: $l2")
  }

  test("trained index: centroids retrained and published at a corpus state whose index never published — the next index resolution is cold") {
    import graft.operators.Similarity
    // 100 vectors (trained_n 100) → 130 (past the ratio: retrain,
    // trained_n 130) → 135 (within it: the 130 centroids are reused).
    val dir = java.nio.file.Files.createTempDirectory("whstamp").toString
    val esrc = graft.Tables.embeddings(spark, sfDir)
      .orderBy(col("vec_id")).limit(135).localCheckpoint(true)
    esrc.filter(col("vec_id") < 100).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def appendE(lo: Long, hi: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("whstampb").toString
      esrc.filter(col("vec_id") >= lo && col("vec_id") < hi).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        .foreach(f => java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$dir/embeddings.parquet/${f.getName}")))
    }
    def resolve(): (Map[String, String], String) = {
      val s2 = spark.newSession()
      Warehouse.drainLanes(s2)
      Similarity.trainedIndexArtifacts(s2, dir)
      (Warehouse.drainLanes(s2),
        Warehouse.tableName("ivf_trained", dir, Warehouse.embFp(s2, dir)))
    }
    def laneOf(m: Map[String, String], fam: String): Option[String] =
      m.collectFirst { case (k, v) if k.takeWhile(_ != '@') == fam => v }
    val whRoot = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = whRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (_, i1) = resolve()
    // Keep the 100-state index aside, as files only.
    val aside = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("whstampk").toString, i1)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(whRoot, i1),
      fs, aside, false, spark.sparkContext.hadoopConfiguration)
    appendE(100L, 130L)
    val (l2, i2) = resolve()
    assert(laneOf(l2, "ivf_cents").contains("cold"), s"past the ratio: $l2")
    // The crash state: the 130 centroids published, the 130 index did
    // not, and the 100-state index is still on disk.
    for (n <- Seq(i1, i2)) {
      spark.sql(s"DROP TABLE IF EXISTS $n")
      fs.delete(new org.apache.hadoop.fs.Path(whRoot, n), true)
    }
    org.apache.hadoop.fs.FileUtil.copy(fs, aside, fs,
      new org.apache.hadoop.fs.Path(whRoot, i1), false,
      spark.sparkContext.hadoopConfiguration)
    appendE(130L, 135L)
    val (l3, i3) = resolve()
    assert(laneOf(l3, "ivf_cents").contains("merge"),
      s"the 130 centroids are reused within the ratio: $l3")
    assert(laneOf(l3, "ivf_trained").contains("cold"),
      s"an index assigned under other centroids must not merge: $l3")
    val st = spark.table(i3).agg(min(col("cents_tn")), max(col("cents_tn")),
      count(lit(1))).head()
    assert(st.getLong(0) == 130L && st.getLong(1) == 130L && st.getLong(2) == 135L,
      s"every index row is assigned under the served centroids: $st")
  }

  test("one session across an append: fingerprint and data-derived knob move together, the store merges, and equals a from-scratch build") {
    import graft.operators.Curation
    // No fresh session anywhere: the corpus snapshot (the file listing)
    // keys both the stats memo and the artifact memo, so the SAME
    // session must see the grown corpus on its next resolution.
    val dir = java.nio.file.Files.createTempDirectory("whsnap").toString
    val dsrc = graft.Tables.documents(spark, "/root/testdata/sf0.01")
      .orderBy(col("doc_id")).limit(95).localCheckpoint(true)
    def place(df: org.apache.spark.sql.DataFrame, into: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("whsnapb").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        .foreach(f => java.nio.file.Files.move(f.toPath,
          java.nio.file.Paths.get(s"$into/${f.getName}")))
    }
    new java.io.File(s"$dir/documents.parquet").mkdirs()
    place(dsrc.filter(col("doc_id") < 80), s"$dir/documents.parquet")
    // Fingerprint as a process that never saw this corpus computes it.
    def freshFp(d: String): String = {
      val r = spark.read.parquet(s"$d/documents.parquet")
        .agg(count(lit(1)), max(col("doc_id"))).head()
      Warehouse.fpToken(r.getLong(0), r.getLong(1),
        Warehouse.corpusBytes(spark, d, "documents"))
    }
    // The vb_index store records its width knob in column `w`.
    def resolve(d: String): (Map[String, String], String,
                             org.apache.spark.sql.DataFrame) = {
      Warehouse.drainLanes(spark)
      graft.Bench.artifactBuilders.toMap.apply("verbatim_span_index")(spark, d)
      val lanes = Warehouse.drainLanes(spark)
        .map { case (k, v) => k.takeWhile(_ != '@') -> v }
      val fp = Warehouse.docsFp(spark, d)
      (lanes, fp, spark.table(Warehouse.tableName("vb_index", d, fp)))
    }
    def widthOf(store: org.apache.spark.sql.DataFrame): Int =
      store.select("w").distinct().collect().map(_.getInt(0)).toSeq match {
        case Seq(w) => w
        case ws => fail(s"store mixes widths: $ws")
      }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    val (l1, fp1, s1) = resolve(dir)
    assert(l1.get("vb_index").contains("cold"), s"first resolve is cold: $l1")
    assert(fp1 == freshFp(dir))
    assert(widthOf(s1) == Curation.deriveShingleWidth(80L))
    place(dsrc.filter(col("doc_id") >= 80), s"$dir/documents.parquet")
    val (l2, fp2, s2) = resolve(dir)
    // Fingerprint (count, max id, bytes) and width knob are read from
    // the same stats memo: both must be the grown corpus's.
    assert(fp2 != fp1 && fp2 == freshFp(dir),
      "the live session's fingerprint must be the grown corpus's")
    assert(widthOf(s2) == Curation.deriveShingleWidth(95L))
    for (fam <- Seq("vb_index", "vb_inc_idx"))
      assert(l2.get(fam).contains("merge"),
        s"an in-width append must take $fam's merge lane: $l2")
    // From scratch: a copy of the grown corpus keys a fresh table
    // family (new dir digest), so it builds cold with nothing to merge.
    val twin = java.nio.file.Files.createTempDirectory("whsnapt").toString
    new java.io.File(s"$twin/documents.parquet").mkdirs()
    place(spark.read.parquet(s"$dir/documents.parquet"),
      s"$twin/documents.parquet")
    val (lt, _, st) = resolve(twin)
    assert(lt.get("vb_index").contains("cold"), s"twin builds cold: $lt")
    assert(rows(s2) == rows(st),
      "merged store after a same-session append != from-scratch build")
  }

  /** A fresh copy of the corpus whose nine served-table stores
    * (ivf_cents, knn_truth, knn_tier_rows, knn_quant_row, phash_cents,
    * phash_tr_cents, phash_truth, phash_policy, bpe_merges) are
    * resolved through their Bench rows. Every policy switch reads
    * these stores: the embedding first-K-vs-trained switch reads the
    * flat pair of knn_tier_rows + knn_quant_row. */
  private lazy val servedStoresDir: String = {
    val dir = sfCopy("whserved")
    val rows = Set("ivf_trained_index", "phash_ivf_index",
      "phash_ivf_trained", "phash_ivf_policy", "bpe_merges",
      "knn_tier_policy", "knn_quant_policy")
    graft.Bench.artifactBuilders.filter(r => rows(r._1))
      .foreach(_._2(spark, dir))
    dir
  }

  test("served stores survive the loss of every persisted block: their consumers re-read the tables") {
    import graft.operators.{Multimodal, Similarity, TextAnalysis}
    val held = spark.sparkContext.getPersistentRDDs.keySet
    val dir = servedStoresDir
    def read() = (Similarity.knnSelectedTier(spark, dir),
      Similarity.knnIvfSelectedQuantizer(spark, dir),
      Multimodal.phashIvfSelectedQuantizer(spark, dir),
      Similarity.knnBruteTruth(spark, dir).collect().toSeq,
      TextAnalysis.bpeMergesArtifact(spark, dir).collect().toSeq)
    val before = read()
    // The in-JVM stand-in for executor loss: every block this corpus's
    // builds persisted is gone (blocks other suites hold are kept).
    val dropped = spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !held(id) }
    assert(dropped.nonEmpty, "the builds persisted no block to lose")
    dropped.values.foreach(_.unpersist(blocking = true))
    assert(read() == before)
  }

  test("a warm served store costs its serving switch no job of its own in a fresh session") {
    import graft.operators.{Multimodal, Similarity}
    val dir = servedStoresDir
    val s2 = spark.newSession()
    assert(jobsRun(Similarity.knnTierRows(s2, dir)) == 0,
      "resolving a warm store must run no job")
    // Every switch reads its ≤ 4 audit rows once and decides on them:
    // exactly one job each, nothing more.
    assert(jobsRun(Similarity.knnSelectedTier(spark.newSession(), dir)) == 1)
    assert(jobsRun(Similarity.knnSelectedQuant(spark.newSession(), dir)) == 1)
    assert(jobsRun(
      Similarity.knnIvfSelectedQuantizer(spark.newSession(), dir)) == 1)
    assert(jobsRun(Multimodal.phashIvfSelectedQuantizer(s2, dir)) == 1)
  }

  test("policy keys serve only stores the Bench rows built: every lane is hit") {
    // The accounting rule on Bench.artifactBuilders: after every row
    // has resolved its stores, a timed policy key pays no build.
    val dir = sfCopy("whpolicy")
    graft.Bench.artifactBuilders.foreach(_._2(spark, dir))
    Warehouse.drainLanes(spark); Warehouse.drainHits(spark)
    val s2 = spark.newSession()
    val keys = Seq("q_knn_ivf_policy", "q_knn_ivf_policy_served",
      "q_knn_tier_policy", "q_knn_tier_policy_served",
      "q_knn_quant_policy", "q_knn_quant_policy_served",
      "q_mm_phash_ivf_policy", "q_mm_phash_ivf_served")
    for (k <- keys) graft.SparkEntry.queries(k)(s2, dir).collect()
    val lanes = Warehouse.drainLanes(s2)
    assert(lanes.nonEmpty, "the keys resolved no store")
    assert(lanes.values.forall(_ == "hit"), s"non-hit lanes: $lanes")
    for (fam <- Seq("knn_tier_rows", "knn_quant_row", "phash_policy"))
      assert(lanes.keys.exists(_.startsWith(fam + "@")), s"$fam: $lanes")
  }
}
