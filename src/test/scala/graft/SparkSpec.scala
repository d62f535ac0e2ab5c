package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** The ten tables of a fixture dir. */
  val sfTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A private copy of [[sfDir]]'s tables in a fresh temp dir: paths
    * and a dir digest no other suite has read or built. */
  def sfCopy(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    for (t <- sfTables)
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sfDir/$t.parquet"),
        d.resolve(s"$t.parquet"))
    d.toString
  }

  /** Run `f` with the RocksDB state store provider set (required by
    * every transformWithState path), restoring the prior provider
    * after — the shared scaffold of all v2 streaming scenarios
    * (StreamingSpec, GuardsSpec). */
  def withRocksDB[T](f: => T): T = {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f
    finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  /** The number of Spark jobs `f` starts on this thread, counted by a
    * listener on a job group of its own (suites running beside it do
    * not count). */
  def jobsRun(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = "jobs-" + java.util.UUID.randomUUID
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          n.incrementAndGet(); ()
        }
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try f
    finally {
      sc.clearJobGroup()
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
      sc.removeSparkListener(l)
    }
    n.get
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Workload-class isolation (reference: separate chat/task pools,
      // telegram-agent.py:612-616) — FAIR pools from the checked-in
      // allocation file; jobs without a pool use the default pool.
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file",
        new java.io.File("conf/fairscheduler.xml").getAbsolutePath)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
