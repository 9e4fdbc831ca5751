package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchPathSpec extends AnyFunSuite {

  test("per-cpu detail path splits the extension only in the file name") {
    assert(Bench.cpuSuffixed("/tmp/a.b/BENCH", "8") == "/tmp/a.b/BENCH_c8")
    assert(Bench.cpuSuffixed("/x/BENCH.json", "8") == "/x/BENCH_c8.json")
    assert(Bench.cpuSuffixed("BENCH.json", "32") == "BENCH_c32.json")
    // a leading dot names a hidden file, not an extension
    assert(Bench.cpuSuffixed("/x/.bench", "8") == "/x/.bench_c8")
  }
}
