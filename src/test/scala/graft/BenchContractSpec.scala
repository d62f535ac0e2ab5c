package graft

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark contract: perfbench reports one
  * `sources.Warehouse.build_s.<name>` metric per `Bench.artifactBuilders`
  * row, and BENCHMARK.json declares those metrics by name. A renamed,
  * added, dropped or reordered row would silently move the benchmark's
  * per-store figures, so the two lists must match exactly. */
class BenchContractSpec extends AnyFunSuite {

  test("Bench.artifactBuilders rows are BENCHMARK.json's build_s store names, in order") {
    val src = scala.io.Source.fromFile("BENCHMARK.json", "UTF-8")
    val json = try src.mkString finally src.close()
    val declared = "\"sources\\.Warehouse\\.build_s\\.([a-z0-9_]+)\"".r
      .findAllMatchIn(json).map(_.group(1)).toSeq
    assert(declared.size == 20, s"BENCHMARK.json declares $declared")
    assert(Bench.artifactBuilders.map(_._1) == declared)
  }
}
