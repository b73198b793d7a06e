package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact's sustained-contention self-check: min-of-2 misses
  * episodes where BOTH repeats are slow (the r9 driver run misreported
  * the flagship query 22×), so the artifact flags any query whose min
  * exceeds k× the previous builder artifact's min. */
class BenchSpec extends AnyFunSuite {

  test("suspects: flags k-fold regressions vs the reference, with absolute floor") {
    val ref = Map("a" -> 0.5, "b" -> 2.0, "c" -> 0.05, "d" -> 1.0)
    val cur = Map(
      "a" -> 11.0,  // 22x and > 0.5 s over ref -> suspect
      "b" -> 5.0,   // 2.5x only -> fine
      "c" -> 0.3,   // 6x but only +0.25 s absolute -> jitter, fine
      "e" -> 99.0)  // no reference -> cannot judge
    assert(Bench.suspects(cur, ref) === Seq("a"))
  }

  test("suspects: empty reference disables the check") {
    assert(Bench.suspects(Map("a" -> 100.0), Map.empty) === Seq.empty)
  }

  test("suspects: exactly-k is not flagged; just-over is") {
    val ref = Map("a" -> 1.0)
    assert(Bench.suspects(Map("a" -> 3.0), ref) === Seq.empty)
    assert(Bench.suspects(Map("a" -> 3.001), ref) === Seq("a"))
  }

  test("loadRef: reads a bench artifact's queries map; degrades to empty") {
    val f = java.nio.file.Files.createTempFile("bench_ref", ".json")
    java.nio.file.Files.writeString(f,
      """{"metric":"total","value":9.9,"queries":{"q1":1.25,"q2":0.5,"bad":"x"},"sf":"s"}""")
    val got = Bench.loadRef(f.toString)
    assert(got === Map("q1" -> 1.25, "q2" -> 0.5))
    assert(Bench.loadRef("/nonexistent/path.json") === Map.empty)
    // the sf field gates cross-scale suspect comparisons
    assert(Bench.loadRefSf(f.toString) === Some("s"))
    assert(Bench.loadRefSf("/nonexistent/path.json") === None)
    val g = java.nio.file.Files.createTempFile("bench_ref", ".json")
    java.nio.file.Files.writeString(g, "not json at all")
    assert(Bench.loadRef(g.toString) === Map.empty)
  }

  test("unionLength: the time any span covers, over empty, disjoint, overlapping, nested and touching spans") {
    assert(Bench.unionLength(Seq.empty) === 0L)
    assert(Bench.unionLength(Seq((5L, 9L))) === 4L)
    assert(Bench.unionLength(Seq((20L, 25L), (0L, 10L))) === 15L)  // disjoint, unsorted
    assert(Bench.unionLength(Seq((0L, 10L), (5L, 15L))) === 15L)   // overlapping
    assert(Bench.unionLength(Seq((0L, 20L), (5L, 10L), (12L, 14L))) === 20L) // nested
    assert(Bench.unionLength(Seq((0L, 10L), (10L, 15L))) === 15L)  // touching
    assert(Bench.unionLength(Seq((3L, 3L))) === 0L)                 // empty span
  }
}
