package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** The traced run's read-out: per-layer metrics, the per-operation layer
  * split with its residual, the span dump, and (suite) the fixed versus
  * marginal cost per operator object across two scales.
  *
  * Each timed operation (key, serve key) is a span tagged with its Spark
  * job group. Its children are the jobs of that group (from the
  * SparkListener) and the planning phases that started inside it (from
  * the QueryExecutionListener). Self times partition the operation's
  * wall: time inside jobs, planning outside jobs, codegen compile, and a
  * residual for everything else, so the four always sum to the wall. */
object Trace {
  import Harness._

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var tot = 0L; var cs = -1L; var ce = -1L
    c.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) tot += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) tot += ce - cs
    tot
  }

  final case class Split(op: Op, jobsS: Double, planS: Double, codegenS: Double,
                         residualS: Double, acc: Acc)

  def split(o: Op): Split = {
    val jobIv = meter.jobs.filter(_.group == o.group).map(j => (j.startMs, j.endMs)).toSeq
    val jobMs = union(jobIv, o.startMs, o.endMs)
    val planIv = plans.synchronized(plans.phases.toSeq)
      .filter { case (_, s, _) => s >= o.startMs && s <= o.endMs }
      .map { case (_, s, e) => (s, e) }
    val planMs = union(planIv ++ jobIv, o.startMs, o.endMs) - jobMs
    val acc = meter.byGroup.getOrElse(o.group, new Acc)
    val cg = math.min(o.codegenS, math.max(0.0, o.wall - (jobMs + planMs) / 1e3))
    Split(o, jobMs / 1e3, planMs / 1e3, cg, o.wall - jobMs / 1e3 - planMs / 1e3 - cg, acc)
  }

  def sparkLayers(ss: Seq[Split], stages: Seq[StageRec]): Seq[(String, Double, String)] = {
    def sum(f: Acc => Long) = ss.map(s => f(s.acc)).sum
    val st = sum(_.stages); val tk = sum(_.tasks)
    val busy = stages.filter(_.taskMs.sum >= 200)
    val skew = busy.filter(_.taskMs.size >= 2).map { r =>
      r.taskMs.max / math.max(1.0, median(r.taskMs.map(_.toDouble))) }
    Seq(
      ("spark.plan_s", ss.map(_.planS).sum, "s"),
      ("spark.codegen_s", ss.map(_.codegenS).sum, "s"),
      ("spark.outside_jobs_s", ss.map(s => s.op.wall - s.jobsS).sum, "s"),
      ("spark.jobs", sum(_.jobs).toDouble, "count"),
      ("spark.stages", st.toDouble, "count"),
      ("spark.tasks", tk.toDouble, "count"),
      ("spark.tasks_per_stage", if (st > 0) tk.toDouble / st else 0.0, "count"),
      ("spark.task_run_s", sum(_.runMs) / 1e3, "s"),
      ("spark.task_cpu_s", sum(_.cpuNs) / 1e9, "s"),
      ("spark.gc_s", sum(_.gcMs) / 1e3, "s"),
      ("spark.shuffle_write_mb", sum(_.shuffleWriteB) / 1e6, "MB"),
      ("spark.fetch_wait_s", sum(_.fetchWaitMs) / 1e3, "s"),
      ("spark.spill_mb", sum(_.spillB) / 1e6, "MB"),
      ("spark.skew_max", if (skew.isEmpty) 1.0 else skew.max, "ratio"),
      ("spark.serial_stages", busy.count(_.numTasks == 1).toDouble, "count"))
  }

  def familyLayers(ss: Seq[Split]): Seq[(String, Double, String)] =
    Families.map(_._1).flatMap { f =>
      val fs = ss.filter(s => familyOf.get(s.op.name).contains(f))
      Seq((s"operators.$f.wall_s", fs.map(_.op.wall).sum, "s"),
        (s"operators.$f.task_cpu_s", fs.map(_.acc.cpuS).sum, "s"),
        (s"operators.$f.jobs", fs.map(_.acc.jobs).sum.toDouble, "count"),
        (s"operators.$f.codegen_s", fs.map(_.codegenS).sum, "s"))
    }

  def report(a: Args, workload: String, seed: Int,
             layers: mutable.Map[String, Double], out: StringBuilder): Unit = {
    drain()
    val timed = ops.filter(o => (o.kind == "key" && o.round == 1) ||
      Set("build", "door", "append", "regrow", "serve")(o.kind)).toSeq
    val ss = timed.map(split)
    val groups = timed.map(_.group).toSet
    val stages = meter.stageRecs.filter(r => groups(r.group)).toSeq
    val rows = mutable.ArrayBuffer.empty[(String, Double, String)]
    rows ++= sparkLayers(ss, stages)
    rows ++= familyLayers(ss)
    layers ++= rows.map(r => r._1 -> r._2)
    val f = new java.util.Formatter(out.underlying)
    f.format("== traced %s, seed %d ==%n", workload, Int.box(seed))
    f.format("%-36s %14s %s%n", "layer metric", "value", "unit")
    rows.foreach { case (n, v, u) => f.format("%-36s %14.4f %s%n", n, Double.box(v), u) }
    f.format("%n%-36s %9s %9s %9s %9s %9s%n", "operation", "wall_s", "jobs_s",
      "plan_s", "codegen_s", "residual")
    ss.foreach { s => f.format("%-36s %9.4f %9.4f %9.4f %9.4f %9.4f%n", s.op.name,
      Double.box(s.op.wall), Double.box(s.jobsS), Double.box(s.planS),
      Double.box(s.codegenS), Double.box(s.residualS)) }
    layers("trace.residual_s") = ss.map(_.residualS).sum
    // The listener work itself. A traced round minus an untraced round of
    // one JVM would measure JIT warm-up and the codegen cache instead.
    val overhead = (meter.callbackNs + plans.callbackNs) / 1e9
    layers("trace.overhead_s") = overhead
    f.format("%ntracing overhead: %.4f s in trace callbacks%n", Double.box(overhead))
    f.format("%nstages (operation, stage, tasks, wall_ms, task_ms_max):%n")
    stages.sortBy(-_.taskMs.sum).take(40).foreach { r =>
      f.format("  %-34s %5d %4d %8d %8d%n", r.group, Int.box(r.stageId),
        Int.box(r.numTasks), Long.box(r.doneMs - r.submitMs),
        Long.box(if (r.taskMs.isEmpty) 0L else r.taskMs.max)) }
    val spans = ss.map { s =>
      Map("name" -> s.op.name, "kind" -> s.op.kind, "start_ms" -> s.op.startMs,
        "end_ms" -> s.op.endMs, "wall_s" -> s.op.wall, "self" -> Map(
          "jobs_s" -> s.jobsS, "plan_s" -> s.planS, "codegen_s" -> s.codegenS,
          "residual_s" -> s.residualS),
        "jobs" -> meter.jobs.filter(_.group == s.op.group).map(j =>
          Map("id" -> j.jobId, "start_ms" -> j.startMs, "end_ms" -> j.endMs)).toSeq,
        "stages" -> meter.stageRecs.filter(_.group == s.op.group).map(r =>
          Map("id" -> r.stageId, "tasks" -> r.numTasks, "submit_ms" -> r.submitMs,
            "done_ms" -> r.doneMs, "task_ms" -> r.taskMs)).toSeq)
    }
    Files.write(Paths.get(s"${a("work")}/trace-$workload-$seed.json"),
      J(spans).getBytes("UTF-8"))
  }

  /** Per operator object, the line through (sf1, wall1) and (sf2, wall2):
    * intercept is the fixed cost, slope the marginal cost per unit sf. */
  def fixedMarginal(sf1: Double, sf2: Double, r1: Int, r2: Int,
                    out: StringBuilder): Map[String, (Double, Double)] = {
    def walls(r: Int) = ops.filter(o => o.kind == "key" && o.round == r && o.err.isEmpty)
      .groupBy(o => familyOf(o.name)).map { case (f, os) => f -> os.map(_.wall).sum }
    val w1 = walls(r1); val w2 = walls(r2)
    val f = new java.util.Formatter(out.underlying)
    f.format("%nfixed vs marginal (sf %s -> %s):%n%-14s %10s %10s %12s %12s%n",
      Double.box(sf1), Double.box(sf2), "object", "wall_lo", "wall_hi", "intercept_s",
      "slope_s_per_sf")
    Families.map(_._1).filter(w1.contains).map { fam =>
      val a = w1(fam); val b = w2.getOrElse(fam, a)
      val slope = (b - a) / (sf2 - sf1)
      val icpt = a - slope * sf1
      f.format("%-14s %10.4f %10.4f %12.4f %12.4f%n", fam, Double.box(a), Double.box(b),
        Double.box(icpt), Double.box(slope))
      fam -> (icpt, slope)
    }.toMap
  }
}
