package graft.search

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.encoders.PassthroughEncoder
import graft.functions.VectorKernels

/** Law: Flat, IVF at exhaustive settings (nprobe = nlist) and HNSW with
  * `efSearch` ≥ n return exactly the rows of a test-only brute force over
  * [[VectorKernels]] — same `sim_item`, `rank_no` and raw `sim_val` bits —
  * for float and fp16 storage (fp16: the reference scores the half-rounded
  * stored vectors), every metric, over seeded corpora with planted
  * duplicates (ties fall on `row_id`) and a zero vector on each side. The
  * reference shares no code with the engine's scan, so the law still binds
  * now that Flat and HNSW run the same scan. */
class ExhaustiveIvfLawSpec extends SparkSpec {

  private val metrics = Seq("cos", "ip", "l1", "l2", "l_inf", "l_p", "brayCurtis",
    "canberra", "jensen_shannon")
  private val vecType = ArrayType(FloatType, containsNull = false)

  /** `n` vectors: the first is zero, every seventh repeats an earlier one. */
  private def vectors(rnd: scala.util.Random, n: Int, dim: Int): Seq[Array[Float]] =
    (0 until n).foldLeft(Vector.empty[Array[Float]]) { (acc, i) =>
      acc :+ (if (i == 0) new Array[Float](dim)
        else if (i % 7 == 0) acc(rnd.nextInt(i))
        else Array.fill(dim)(rnd.nextGaussian().toFloat))
    }

  private def frame(id: String, vs: Seq[Array[Float]]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(vs.indices.map(i => Row(i.toLong, vs(i).toSeq)): _*),
      StructType(Seq(StructField(id, LongType, nullable = false), StructField("embedding", vecType))))

  /** `(qid, rank_no, sim_item, sim_val bits)` of every query's k closest
    * stored vectors: every pair through the metric's kernel, closest first,
    * ties on the smaller row id. */
  private def bruteForce(metric: String, stored: Seq[Array[Float]], queries: Seq[Array[Float]],
      k: Int): Seq[(Long, Int, String, Int)] = {
    val kernel: (ArrayData, ArrayData) => Double = metric match {
      case "cos" => VectorKernels.cosine
      case "ip" => VectorKernels.dot
      case "l1" => VectorKernels.l1
      case "l2" => VectorKernels.l2
      case "l_inf" => VectorKernels.lInf
      case "l_p" => VectorKernels.lp(_, _, 2.0)
      case "brayCurtis" => VectorKernels.brayCurtis
      case "canberra" => VectorKernels.canberra
      case "jensen_shannon" => VectorKernels.jensenShannon
    }
    val higher = metric == "cos" || metric == "ip"
    def closer(a: (Double, Int), b: (Double, Int)): Boolean =
      if (a._1 != b._1) (if (higher) a._1 > b._1 else a._1 < b._1) else a._2 < b._2
    (for {
      (qv, qid) <- queries.zipWithIndex
      ((d, id), rank) <- stored.indices.map(i => (kernel(arr(qv), arr(stored(i))), i))
        .sortWith(closer).take(k).zipWithIndex
    } yield (qid.toLong, rank, id.toString, java.lang.Float.floatToRawIntBits(d.toFloat))).sorted
  }

  private def arr(v: Array[Float]): ArrayData = UnsafeArrayData.fromPrimitiveArray(v)
  private def normalized(v: Array[Float]): Array[Float] = VectorKernels.l2Normalize(arr(v)).toFloatArray
  private def halfRounded(v: Array[Float]): Array[Float] = v.map(f => Fp16.fromHalf(Fp16.toHalf(f)))

  private val shape = for {
    dim <- Gen.choose(1, 67); n <- Gen.choose(16, 64); k <- Gen.choose(1, 12); seed <- Gen.long
  } yield (dim, n, k, seed)

  for ((metric, mi) <- metrics.zipWithIndex) test(s"IVF8 and IVF8,SQfp16 at nprobe = nlist ≡ the Flat scan: $metric") {
    val law = Prop.forAll(shape) { case (dim, n, k, seed) =>
      val rnd = new scala.util.Random(seed)
      val stored = vectors(rnd, n, dim)
      // queries: the zero vector, a stored vector (its duplicates tie), fresh ones
      val qvs = Seq(new Array[Float](dim), stored(rnd.nextInt(n))) ++ vectors(rnd, 4, dim).tail
      val queries = frame("qid", qvs)
      def rows(param: String) = {
        val model = new SparkSearcher(new PassthroughEncoder("embedding"),
          SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"), measurement = metric,
            indexParam = param, nprobe = 8, efSearch = Int.MaxValue)).fit(frame("vec_id", stored))
        try model.search(queries, k, keepRankNo = true, queryIdCol = Some("qid")).collect()
          .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank_no"), String.valueOf(r.getAs[Any]("sim_item")),
            java.lang.Float.floatToRawIntBits(r.getAs[Float]("sim_val")))).sorted.toSeq
        finally model.unpersist()
      }
      val exact = bruteForce(metric, stored, qvs, k)
      // fp16 codes under cos store the normalized vectors and score
      // normalized queries (codes are materialized, like PQ/SQ)
      val exactFp16 = if (metric == "cos")
        bruteForce(metric, stored.map(v => halfRounded(normalized(v))), qvs.map(normalized), k)
        else bruteForce(metric, stored.map(halfRounded), qvs, k)
      exact.nonEmpty && Seq("Flat", "IVF8", "HNSW8").forall(rows(_) == exact) &&
        Seq("SQfp16", "IVF8,SQfp16").forall(rows(_) == exactFp16)
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(2)
      .withInitialSeed(Seed(mi.toLong)), law)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }
}
