package graft.search

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorKernels

/** The blocked cos/dot scorer of [[CellScan]] against the kernels it must
  * reproduce bit for bit — pure JVM, no Spark. */
class CellScanSpec extends AnyFunSuite {

  private def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)

  test("blocked cos/dot scorer is bit-identical to VectorKernels.cosine/dot") {
    val rnd = new scala.util.Random(11)
    def vec(dim: Int) = Array.fill(dim)(rnd.nextGaussian().toFloat * 3f)
    for (cos <- Seq(true, false); dim <- 1 to 67; nq <- 1 to 9) {
      // every 0–3-query remainder of a four-query pass; one zero query
      val qs = Array.tabulate(nq)(i => if (i == nq - 1) new Array[Float](dim) else vec(dim))
      for (row <- Seq(vec(dim), new Array[Float](dim))) {
        val scorer = new CellScan.DotScorer(qs, cos)
        val heaps = qs.map(_ => new TopKBuffer(1, asc = false))
        scorer.score(InternalRow(42L, UnsafeArrayData.fromPrimitiveArray(row), 0),
          qs.indices.toArray, heaps)
        qs.indices.foreach { qi =>
          val (q, r) = (UnsafeArrayData.fromPrimitiveArray(qs(qi)), UnsafeArrayData.fromPrimitiveArray(row))
          val want = if (cos) VectorKernels.cosine(q, r) else VectorKernels.dot(q, r)
          assert(heaps(qi).ids(0) == 42L)
          assert(bits(heaps(qi).dists(0)) == bits(want),
            s"cos=$cos dim=$dim queries=$nq query=$qi: ${heaps(qi).dists(0)} vs $want")
          if (cos && (qi == nq - 1 || row.forall(_ == 0f))) assert(bits(heaps(qi).dists(0)) == bits(0.0))
        }
      }
    }
  }

  test("blocked scorer rejects a query of another width like the kernels do") {
    val scorer = new CellScan.DotScorer(Array(new Array[Float](3)), cos = true)
    val e = intercept[IllegalArgumentException](scorer.score(
      InternalRow(1L, UnsafeArrayData.fromPrimitiveArray(new Array[Float](4)), 0),
      Array(0), Array(new TopKBuffer(1, asc = false))))
    assert(e.getMessage.contains("dimension mismatch"))
  }
}
