package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The best-known reader that Bench and BenchScale share. */
class BenchSpec extends AnyFunSuite {

  private val sfDir = "/data/sf0.1"

  private def baseline(json: String): java.io.File = {
    val f = Files.createTempFile("bench_local", ".json")
    Files.writeString(f, json)
    f.toFile.deleteOnExit()
    f.toFile
  }

  private val json =
    s"""{"total_sec":3.0,"sf":"$sfDir","calib_ms":200,"regressions":[],""" +
      """"queries_ms":{"q01_pricing_summary":800,"q303_jarque_bera":1250},""" +
      """"queries_sec":{"q01_pricing_summary":-1,"q303_jarque_bera":-1},""" +
      """"last_run_ms":{"q01_pricing_summary":-1,"q303_jarque_bera":-1}}"""

  test("bestKnown returns only the queries_ms entries") {
    assert(Bench.bestKnown(baseline(json), sfDir) ==
      Map("q01_pricing_summary" -> 0.8, "q303_jarque_bera" -> 1.25))
  }

  test("bestKnown returns nothing for a file recording another sf or no file") {
    assert(Bench.bestKnown(baseline(json), "/data/sf0.01").isEmpty)
    val missing = baseline(json)
    missing.delete()
    assert(Bench.bestKnown(missing, sfDir).isEmpty)
  }

  test("baselineFile keeps BENCH_LOCAL.json for sf0.1 and names other sfs") {
    assert(Bench.baselineFile("/data/sf0.1").getName == "BENCH_LOCAL.json")
    assert(Bench.baselineFile("/data/sf0.01").getName == "BENCH_LOCAL_sf0.01.json")
  }
}
