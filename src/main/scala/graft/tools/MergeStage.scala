package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch-corpus staging for merge-lane measurement — ONE definition
  * shared by Bench's `merge_builds` rows and MergeOracleStage, so the
  * per-round taxonomy signal, the SCALE.md economics table and the
  * oracle referee pass can never measure different growth shapes. The
  * sf corpora ship as single parquet FILES (nothing can append to one —
  * growth there is always a full-overwrite miss), so merge economics
  * run on a scratch DIRECTORY copy grown by a small batch landing as
  * ONE appended part file per table: the production ingest shape
  * `Warehouse.servedFrameMerged` exists for. */
object MergeStage {

  /** Copy `$src/$table.parquet` into `$dir` as a multi-part directory. */
  def stage(s: SparkSession, src: String, dir: String, table: String): Unit =
    s.read.parquet(s"$src/$table.parquet").coalesce(4)
      .write.mode("overwrite").parquet(s"$dir/$table.parquet")

  /** Append a ~(100/stride)% batch as one new part file: id-shifted
    * copies of every stride-th row (default 20 → ~5%). Events rows also
    * ts-shift past the corpus max so the appended slice is a valid
    * per-user CONTINUATION — the ev_trans merge's precondition;
    * production ingest appends later events, never back-dated ones.
    * Embeddings callers pick a stride that keeps the grown count
    * inside the current [[graft.operators.Similarity.derivePlanes]]
    * block (sf0.1: 2000 → stride 50 → 2040 ≤ 2048), otherwise every
    * plane-knob lane declines and the referee never sees a merge.
    * Returns the batch row count. */
  def append(s: SparkSession, dir: String, table: String, idCol: String,
             stride: Int = 20): Long = {
    val cur = graft.Tables.t(s, dir, table)
    val mx = cur.agg(max(col(idCol))).head().getLong(0)
    var batch = cur.filter(col(idCol) % stride === 0)
      .withColumn(idCol, col(idCol) + mx + 1L)
    if (table == "events") {
      // Both ts generations (Tables.events scaladoc): nanos-as-long
      // shifts in the long domain; TIMESTAMP(MICROS) via timestampadd
      // (the write preserves the column's type either way, so the
      // grown scratch corpus reads back through the same branch).
      batch = cur.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          val ts = cur.agg(min(col("ts")), max(col("ts"))).head()
          batch.withColumn("ts",
            col("ts") + lit(ts.getLong(1) - ts.getLong(0) + 1L))
        case _ =>
          val us = cur.agg(
            min(unix_micros(col("ts").cast("timestamp"))),
            max(unix_micros(col("ts").cast("timestamp")))).head()
          batch.withColumn("ts", expr(
            s"timestampadd(MICROSECOND, ${us.getLong(1) - us.getLong(0) + 1L}, ts)"))
      }
    }
    val n = batch.count()
    val tmp = java.nio.file.Files.createTempDirectory("mrgbat").toString
    batch.coalesce(1).write.mode("overwrite").parquet(tmp)
    new java.io.File(tmp).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .foreach(f => java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(s"$dir/$table.parquet/${f.getName}")))
    n
  }

  /** Stage `src`'s documents/events/embeddings into `dir`, resolve
    * every row at the base state, append one part file per table (~5%
    * documents and events, ~2% embeddings — stride 50 keeps sf0.1's
    * 2000 vectors inside their derivePlanes block, so the plane-knob
    * lanes merge instead of declining), then resolve every row again.
    * `window` wraps each resolution (the caller's meter). Returns, per
    * row, the base window, the grown window and the lanes
    * (family → hit/merge/cold) the grown resolution took. One session
    * throughout: the corpus snapshot keys every memo, so the grown
    * state is recounted without a fresh session. */
  def acrossAppend[W](s: SparkSession, src: String, dir: String,
                      rows: Seq[(String, (SparkSession, String) => Unit)])
                     (window: (() => Unit) => W)
      : Seq[(String, W, W, Map[String, String])] = {
    Seq("documents", "events", "embeddings").foreach(stage(s, src, dir, _))
    val base = rows.map { case (_, build) => window(() => build(s, dir)) }
    append(s, dir, "documents", "doc_id")
    append(s, dir, "events", "event_id")
    append(s, dir, "embeddings", "vec_id", stride = 50)
    graft.sources.Warehouse.drainLanes(s)
    rows.zip(base).map { case ((name, build), w0) =>
      val w1 = window(() => build(s, dir))
      val lanes = graft.sources.Warehouse.drainLanes(s)
        .map { case (k, v) => k.takeWhile(_ != '@') -> v }
      (name, w0, w1, lanes)
    }
  }

  /** Delete every warehouse table/variant keyed to the scratch dir's
    * digest, then the scratch corpus itself — Bench runs per round and
    * must not accumulate dead-corpus variants for WarehouseLs to sweep. */
  def cleanup(s: SparkSession, dir: String): Unit = {
    val dig = graft.sources.Warehouse.dirDigest(dir)
    val whRoot = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"))
    val fs = whRoot.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(whRoot))
      fs.listStatus(whRoot).filter(_.getPath.getName.contains(s"_${dig}_"))
        .foreach { st =>
          s.sql(s"DROP TABLE IF EXISTS ${st.getPath.getName}")
          if (fs.exists(st.getPath)) { fs.delete(st.getPath, true); () }
        }
    val dp = new org.apache.hadoop.fs.Path(dir)
    if (fs.exists(dp)) { fs.delete(dp, true); () }
  }
}
