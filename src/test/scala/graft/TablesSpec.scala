package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.LongType

/** The corpus schema memo behind [[Tables.t]]: a read with a known
  * corpus snapshot and schema confs takes the memoized schema and runs
  * no inference job, and the schema it serves is always the one a plain
  * `spark.read.parquet` infers for the current listing and confs. */
class TablesSpec extends SparkSpec {

  private def plain(dir: String, name: String) =
    spark.read.parquet(s"$dir/$name.parquet").schema

  /** Write `df` as ONE parquet file at `target` (replacing it). */
  private def writeFile(df: DataFrame, target: String): Unit = {
    val tmp = Files.createTempDirectory("tblspecw").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(target),
      StandardCopyOption.REPLACE_EXISTING)
  }

  test("every fixture table reads with the schema plain inference gives, on a miss and on a hit") {
    val dir = sfCopy("tblspec") // unread paths: the first read misses
    for (n <- sfTables; round <- 1 to 2)
      assert(Tables.t(spark, dir, n).schema == plain(dir, n),
        s"$n (read $round): memoized schema != plain inference")
    // events was read with nanosAsLong on, the conf Tables.events sets.
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("an appended part file and an in-place rewrite re-infer the schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tblspecg").toString
    val tbl = s"$dir/t.parquet"
    new java.io.File(tbl).mkdirs()
    // Inference reads the first data file in path order, so a file
    // named `a…` that sorts before `b…` decides the schema.
    writeFile(Seq((1L, "x")).toDF("id", "v"), s"$tbl/b.parquet")
    val s0 = Tables.t(spark, dir, "t").schema
    assert(s0 == plain(dir, "t") && s0.fieldNames.toSeq == Seq("id", "v"))
    assert(Tables.t(spark, dir, "t").schema == s0)

    writeFile(Seq((2L, "y", 3)).toDF("id", "v", "extra"), s"$tbl/a.parquet")
    val s1 = Tables.t(spark, dir, "t").schema
    assert(s1 == plain(dir, "t"), "append served a stale schema")
    assert(s1.fieldNames.toSeq == Seq("id", "v", "extra"))

    val a = new java.io.File(s"$tbl/a.parquet")
    val mtime = a.lastModified()
    writeFile(Seq((4L, 0.5)).toDF("id", "w"), a.getPath)
    assert(a.setLastModified(mtime + 5000L))
    val s2 = Tables.t(spark, dir, "t").schema
    assert(s2 == plain(dir, "t"), "in-place rewrite served a stale schema")
    assert(s2.fieldNames.toSeq == Seq("id", "w"))
    assert(Tables.t(spark, dir, "t").count() == 2)
  }

  test("flipping nanosAsLong never serves the other conf's schema") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val dir = Files.createTempDirectory("tblspecn").toString
    // Files Spark cannot write itself, so no Spark schema in the footer
    // overrides the conversion confs.
    def writeRaw(name: String, message: String)(
        fill: org.apache.parquet.example.data.Group => Unit): Unit = {
      val ms = org.apache.parquet.schema.MessageTypeParser
        .parseMessageType(message)
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(s"$dir/$name.parquet"))
        .withType(ms).withConf(spark.sparkContext.hadoopConfiguration)
        .build()
      val g = new org.apache.parquet.example.data.simple.SimpleGroupFactory(ms)
        .newGroup()
      fill(g); w.write(g); w.close()
    }
    // nanosAsLong decides whether INT64 TIMESTAMP(NANOS) reads as a
    // long or fails; binaryAsString whether BINARY reads as STRING.
    writeRaw("ev", "message m { required int64 id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }") { g =>
      g.append("id", 1L).append("ts", 1700000000123456789L); () }
    writeRaw("bin", "message m { required binary b; }") { g =>
      g.append("b", "a"); () }
    def both(name: String) = {
      val viaMemo = scala.util.Try(Tables.t(spark, dir, name).schema)
      val viaRead = scala.util.Try(plain(dir, name))
      assert(viaMemo.toOption == viaRead.toOption,
        s"$name: memo $viaMemo vs plain $viaRead")
      viaMemo.toOption
    }
    val on = both("ev")
    assert(on.exists(_("ts").dataType == LongType))
    try {
      spark.conf.set(key, "false")
      val off = both("ev")
      assert(off != on)
      spark.conf.set(key, "true")
      assert(both("ev") == on)
      spark.conf.set(key, "false")
      assert(both("ev") == off)
    } finally spark.conf.set(key, "true")
    val bk = "spark.sql.parquet.binaryAsString"
    val asBinary = both("bin")
    try {
      spark.conf.set(bk, "true")
      assert(both("bin") != asBinary)
    } finally spark.conf.unset(bk)
    assert(both("bin") == asBinary)
  }

  test("a second read of an unchanged table runs no Spark job; each read is a fresh relation") {
    val dir = sfCopy("tblspecj")
    Tables.orders(spark, dir)
    Tables.events(spark, dir)
    assert(jobsRun {
      Tables.orders(spark, dir)
      Tables.events(spark, dir)
    } == 0, "a read with a known snapshot must not infer the schema")
    // Memoized schema, never a memoized frame: two reads self-join.
    val a = Tables.orders(spark, dir)
    val b = Tables.orders(spark, dir)
    val n = a.join(b, a("o_orderkey") === b("o_orderkey")).count()
    assert(n == a.count())
  }
}
