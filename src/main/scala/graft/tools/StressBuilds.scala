package graft.tools

/** ×N scale stress for the ARTIFACT BUILDERS (dev utility, SCALE.md
  * §x10-builds) — the [[Stress10]] companion the round-14 verdict
  * asked for: the builds are the dominant Bench cost, yet none of
  * them sat in Stress10's query slice. Times every Bench
  * `artifact_builds` row at sf0.1 AND on the ×N replica, billing each
  * window in Spark task time (run/cpu — the host-phase-immune pair,
  * `Metrics.TaskClock`) plus task-level shuffle-WRITE bytes, which
  * unlike a single-plan walk sum correctly across the several jobs a
  * builder runs. A scale-sound build grows ≈ linearly in bytes and
  * ≤ ~N× in cpu; superlinear rows get adjudicated in SCALE.md.
  *
  * The builders memoize per (session, dir, corpus fingerprint)
  * (`Artifacts`), so within this one session the src and replica
  * builds are independent cold builds by construction — and a second
  * call would measure the warm cache, which is why each dir is built
  * exactly once.
  *
  * Usage: runMain graft.tools.StressBuilds [srcDir] [outDir] [copies] [mode]
  */
object StressBuilds {

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sfx10")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val mode = args.lift(3).getOrElse("neardup")
    // Optional 5th arg: comma-separated builder-name filter — the
    // focused re-probe form (round 20: adjudicating a noisy row needs
    // a clean single-builder window, not a 25-minute full sweep).
    val only = args.lift(4).map(_.split(",").toSet)
    val spark = Prof.session()
    if (!new java.io.File(s"$out/documents.parquet").exists()) {
      val t0 = System.nanoTime()
      Stress10.gen(spark, src, out, copies, mode)
      println(f"[stress] generated x$copies $mode replica in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    for (d <- Seq(src, out); t <- Seq("events", "documents", "embeddings"))
      graft.Tables.t(spark, d, t).count()
    val clock = graft.Metrics.installTaskClock(spark.sparkContext)
    def window(f: => Unit): (Double, Double, Double, Long) = {
      val (r0, c0, b0) = clock.snapshotFull(spark.sparkContext)
      val t0 = System.nanoTime()
      f
      val wall = (System.nanoTime() - t0) / 1e9
      val (r1, c1, b1) = clock.snapshotFull(spark.sparkContext)
      (wall, r1 - r0, c1 - c0, b1 - b0)
    }
    println(f"[stress] ${"build"}%-22s ${"cpu"}%7s ${"xcpu"}%7s ${"cpuR"}%5s ${"run"}%7s ${"xrun"}%7s ${"shufMB"}%8s ${"xshufMB"}%8s ${"bR"}%5s ${"wall"}%6s ${"xwall"}%6s")
    var t1 = 0.0; var tN = 0.0
    for ((name, build) <- graft.Bench.artifactBuilders
         if only.forall(_.contains(name))) {
      val (w1, r1, c1, b1) = window(build(spark, src))
      val (wN, rN, cN, bN) = window(build(spark, out))
      val cr = if (c1 > 0) cN / c1 else -1.0
      val br = if (b1 > 0) bN.toDouble / b1 else -1.0
      println(f"[stress] $name%-22s $c1%7.2f $cN%7.2f $cr%5.1f $r1%7.2f $rN%7.2f ${b1 / 1e6}%8.1f ${bN / 1e6}%8.1f $br%5.1f $w1%6.1f $wN%6.1f")
      t1 += c1; tN += cN
    }
    println(f"[stress] TOTAL cpu $t1%.1f s -> $tN%.1f s (${tN / t1}%.1f x at $copies x data)")
  }
}
