package graft.tools

import org.apache.spark.sql.functions._

/** Builds the ×10 oracle replica WITH merge-lane-produced events
  * stores (round-19, verdict item 2): documents/embeddings replicate
  * exactly as [[Stress10.gen]]; events are staged as a BASE of
  * (copies−1) id-shifted replicas — the events stores resolve COLD at
  * that state — then grown by an appended part-file slice that KEEPS
  * the base copy-0 user ids and shifts ts past the corpus max: a
  * same-user, later-ts continuation, so the second resolution takes
  * `Warehouse.servedFrameMerged`'s MERGE lane and the boundary-seeded
  * ev_trans merge crosses ~|users| real chain boundaries at volume.
  * The tool then proves merged ≡ cold ENGINE-side at ×10 (symmetric
  * EXCEPT, zero diff rows) and leaves the stores published, so a
  * subsequent Verify + check_oracle_x10 pass oracle-checks the ten
  * store-fed events keys against DuckDB over a store the merge lane
  * produced — merge ≡ cold under the oracle at volume.
  *
  * Usage: StageX10Merge [srcDir] [outDir] [copies]
  */
object StageX10Merge {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sfx10r19")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Prof.session()
    def eventsStores(): Unit = {
      graft.operators.Events.transDistStore(spark, out)
      graft.operators.Events.userDayStore(spark, out)
    }
    val clock = graft.Metrics.installTaskClock(spark.sparkContext)
    def window[T](name: String)(f: => T): T = {
      val (_, c0) = clock.snapshot(spark.sparkContext)
      val t0 = System.nanoTime()
      val r = f
      val (_, c1) = clock.snapshot(spark.sparkContext)
      println(f"[x10merge] $name%-34s cpu ${c1 - c0}%7.2f wall ${(System.nanoTime() - t0) / 1e9}%7.2f")
      r
    }
    // Documents + embeddings at the FULL final state (only the events
    // stores have the merge lanes under test).
    Stress10.gen(spark, src, out, copies, "neardup")
    // Events BASE: copies 0..n-2, the standard id/user shift.
    val srcEv = graft.Tables.t(spark, src, "events")
    (0 until copies - 1).map { c =>
      srcEv.withColumn("event_id", col("event_id") + lit(c * Stress10.IdOff))
        .withColumn("user_id", col("user_id") + lit(c * Stress10.IdOff))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    window("events stores COLD (base)")(eventsStores())
    // APPEND: the final copy re-keyed to copy-0 USER ids with ts
    // shifted past the corpus max — every base user's chain continues
    // across the store seam.
    val shifted = srcEv.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        val mm = srcEv.agg(min(col("ts")), max(col("ts"))).head()
        srcEv.withColumn("ts", col("ts") + lit(mm.getLong(1) - mm.getLong(0) + 1L))
      case _ =>
        val mm = srcEv.agg(
          min(unix_micros(col("ts").cast("timestamp"))),
          max(unix_micros(col("ts").cast("timestamp")))).head()
        srcEv.withColumn("ts", expr(
          s"timestampadd(MICROSECOND, ${mm.getLong(1) - mm.getLong(0) + 1L}, ts)"))
    }
    val app = shifted.withColumn("event_id",
      col("event_id") + lit((copies - 1).toLong * Stress10.IdOff))
    val tmp = java.nio.file.Files.createTempDirectory("x10app").toString
    app.coalesce(2).write.mode("overwrite").parquet(tmp)
    new java.io.File(tmp).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .foreach(f => java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(s"$out/events.parquet/${f.getName}")))
    println(s"[x10merge] appended same-user continuation slice")
    // Same session: the corpus snapshot keys the stats memo, so the
    // grown state's fingerprint is computed fresh.
    window("events stores MERGE (+copy)")(eventsStores())
    // merged ≡ cold at ×10, engine-side: symmetric EXCEPT must be empty.
    def diffCount(a: org.apache.spark.sql.DataFrame,
                  b: org.apache.spark.sql.DataFrame): Long =
      a.exceptAll(b).count() + b.exceptAll(a).count()
    val events = graft.Tables.events(spark, out)
    val trName = graft.sources.Warehouse.tableName("ev_trans", out,
      graft.sources.Warehouse.eventsFp(spark, out))
    val udName = graft.sources.Warehouse.tableName("ev_user_days", out,
      graft.sources.Warehouse.eventsFp(spark, out))
    window("merged==cold ev_trans (x10)") {
      val d = diffCount(spark.table(trName),
        graft.operators.Events.transStore(events))
      require(d == 0, s"ev_trans merged != cold at x10: $d diff rows")
    }
    window("merged==cold ev_user_days (x10)") {
      val d = diffCount(spark.table(udName),
        graft.operators.Events.userDays(events))
      require(d == 0, s"ev_user_days merged != cold at x10: $d diff rows")
    }
    println("[x10merge] OK: stores published by the merge lane, merged == cold at x10")
    spark.stop()
  }
}
