package graft.search

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.encoders.PassthroughEncoder

/** Law: IVF at exhaustive settings (nprobe = nlist) returns exactly the
  * rows of the Flat scan over the same stored vectors — same `sim_item`,
  * `rank_no` and raw `sim_val` bits — for float and fp16 storage, every
  * metric, over seeded corpora with planted duplicates (ties fall on
  * `row_id`) and a zero vector on each side. */
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

  private val shape = for {
    dim <- Gen.choose(1, 67); n <- Gen.choose(16, 64); k <- Gen.choose(1, 12); seed <- Gen.long
  } yield (dim, n, k, seed)

  for ((metric, mi) <- metrics.zipWithIndex) test(s"IVF8 and IVF8,SQfp16 at nprobe = nlist ≡ the Flat scan: $metric") {
    val law = Prop.forAll(shape) { case (dim, n, k, seed) =>
      val rnd = new scala.util.Random(seed)
      val stored = vectors(rnd, n, dim)
      // queries: the zero vector, a stored vector (its duplicates tie), fresh ones
      val queries = frame("qid", Seq(new Array[Float](dim), stored(rnd.nextInt(n))) ++
        vectors(rnd, 4, dim).tail)
      def rows(param: String) = {
        val model = new SparkSearcher(new PassthroughEncoder("embedding"),
          SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"), measurement = metric,
            indexParam = param, nprobe = 8)).fit(frame("vec_id", stored))
        try model.search(queries, k, keepRankNo = true, queryIdCol = Some("qid")).collect()
          .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank_no"), String.valueOf(r.getAs[Any]("sim_item")),
            java.lang.Float.floatToRawIntBits(r.getAs[Float]("sim_val")))).sorted.toSeq
        finally model.unpersist()
      }
      Seq("" -> "Flat", ",SQfp16" -> "SQfp16").forall { case (suffix, flat) =>
        val exact = rows(flat)
        exact.nonEmpty && rows("IVF8" + suffix) == exact
      }
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(2)
      .withInitialSeed(Seed(mi.toLong)), law)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }
}
