package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Scale-probe data generator: replicates the driver's sf0.1 tables `copies`×
 * with referentially-consistent key shifts (copy i adds `i·SHIFT` to every
 * key/foreign-key, SHIFT = next power of 10 above every input key — safe
 * to re-apply to its own output), producing an sf1-equivalent dataset for
 * headroom measurement (BASELINE.md scale table). Deterministic — no RNG:
 *
 *  - dimension tables (region, nation) keep their TPC-H-fixed cardinality;
 *  - documents REPLACE every 4th word (and the last word, covering short
 *    docs) with a copy-marked token — an avalanched per-copy hex suffix —
 *    pushing copy-pair shingle Jaccard AND SimHash similarity below the
 *    near-dup thresholds: copies are ordinary distinct documents, not a
 *    10-way clone cluster, under every dedup signal the engine mines;
 *  - embeddings add deterministic hash-uniform noise of ~10× the signal
 *    energy per copy for the same reason (cos(copy, original) ≈ 0.3).
 *
 * Usage: runMain graft.ScaleGen <srcDir> <outDir> <copies>
 */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val (src, out, copies) = (args(0), args(1), args(2).toInt)
    val spark = Harness.session()

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")

    // Generation-aware key shift: applying ScaleGen to its own output with
    // a FIXED shift collides ids — copy (k, i) of a twice-scaled corpus
    // lands on base + (k+i)·shift, merging up to `copies` distinct rows
    // onto one id (the r10 sf10 probe measured a 100-way near-clone
    // corpus partly through this). The shift is instead the next power of
    // 10 above every key in the INPUT, so re-application keeps ids
    // disjoint at any depth; it also salts the text markers below, so
    // marker chains decorrelate across generations.
    val SHIFT: Long = {
      val keyMax = Seq(
        "customer" -> "c_custkey", "supplier" -> "s_suppkey",
        "part" -> "p_partkey", "orders" -> "o_orderkey",
        "events" -> "event_id", "events" -> "user_id",
        "documents" -> "doc_id", "embeddings" -> "vec_id")
        .map { case (t, c) => read(t).agg(max(col(c))).head().getLong(0) }
        .max
      var s = 1000000000L
      while (s <= keyMax) s *= 10L
      s
    }
    println(s"[scalegen] key shift = $SHIFT")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")

    // dimensions: fixed cardinality at every scale (TPC-H semantics)
    write(read("region"), "region")
    write(read("nation"), "nation")

    def scaled(t: String, keyCols: Seq[String])(extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until copies).map { i =>
        val base = keyCols.foldLeft(read(t))((d, c) =>
          d.withColumn(c, col(c) + lit(i * SHIFT)))
        extra(base, i)
      }.reduce(_ unionByName _)

    write(scaled("customer", Seq("c_custkey"))(), "customer")
    write(scaled("supplier", Seq("s_suppkey"))(), "supplier")
    write(scaled("part", Seq("p_partkey"))(), "part")
    write(scaled("orders", Seq("o_orderkey", "o_custkey"))(), "orders")
    write(scaled("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))(), "lineitem")
    write(scaled("events", Seq("event_id", "user_id"))(), "events")
    // copies must be neither exact nor NEAR duplicates of each other, or
    // the probe measures an every-doc-has-9-clones corpus instead of a
    // bigger one. A 2-token suffix is NOT enough (54-token median docs ⇒
    // copy-pair Jaccard ≈ 0.93 ≫ the 0.5 dedup threshold). REPLACE every
    // 4th word with a copy-fused token (suffix concatenated, NO space):
    //  - shingle Jaccard: only windows fully inside a 3-token unchanged
    //    run survive ⇒ J ≈ 0.25T / (1.75T) ≈ 0.14 < 0.5;
    //  - SimHash: replacement REMOVES the original token's 62 votes and
    //    adds fresh pseudo-random ones — ±2 vote swing on ~T/4 tokens
    //    rivals the ~√T bit margins, flipping far more than 3 bits
    //    (the earlier "append a separate marker token" variant left the
    //    original votes standing: copy fingerprints stayed within
    //    hamming 3, and the sf1 simhash probe measured a 10-way-clone
    //    corpus — 2.9M result pairs — instead of a bigger one);
    //  - the marker is a per-copy AVALANCHED hex string, not "zc$i":
    //    the simhash token hash is a polynomial fold, so suffixes
    //    differing only in a final digit differ by ≤9 in hash space and
    //    their votes stay correlated ACROSS copies (copy i vs copy j
    //    fingerprints landed within hamming 3 of each other; measured
    //    159k residual cross-copy pairs). Multiplying by a 64-bit odd
    //    constant and hexing spreads copy identity over ~6 characters at
    //    different polynomial weights — cross-copy marker hashes
    //    decorrelate;
    //  - token COUNT is preserved, so text_stats/bm25/pack costs stay
    //    comparable across copies;
    //  - the replacement is the FULL word — hash(word, position, copy,
    //    shift) in hex — not the original word with a suffix appended.
    //    The r10 sf10 probe caught the append variant under CHAR-5-gram
    //    minhash: appending keeps every internal character gram of the
    //    original word, and after a second ScaleGen application the
    //    marked words ("wzM1zM2" vs "wzM2zM2") differed in 6 of ~20
    //    chars — char-gram Jaccard crossed the 0.7 near-dup threshold
    //    and the probe measured 4.79M pairs (a 100-way clone corpus)
    //    instead of linear growth. Full replacement shares zero internal
    //    grams, and repeated application re-replaces (stable length, no
    //    generational correlation). The SHIFT salt decorrelates equal
    //    copy indices across generations.
    // The LAST word is also always replaced: a 1–3-token doc would
    // otherwise get no change and its copies would stay exact duplicates
    write(scaled("documents", Seq("doc_id")) { (d, i) =>
      if (i == 0) d
      else {
        d.withColumn("text", array_join(
            transform(split(col("text"), "\\s+"), (w, p) =>
              when(pmod(p, lit(4)) === 3 ||
                   p === size(split(col("text"), "\\s+")) - 1,
                concat(lit("z"), lower(hex(abs(hash(w, p, lit(i), lit(SHIFT))))))
              ).otherwise(w)),
            " "))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
    }, "documents")
    // same requirement for vectors: a ±0.001-per-dim offset left
    // cos(copy0, copy9) ≈ 0.98 ≫ the 0.4 near-dup threshold. Add
    // deterministic hash-uniform noise of ~10× the signal energy
    // (unit-norm dim-64 inputs): cos(copy, original) ≈ 0.3, copies are
    // ordinary distinct vectors, not a 10-way clone cluster
    write(scaled("embeddings", Seq("vec_id")) { (d, i) =>
      if (i == 0) d
      else d.withColumn("embedding",
        transform(col("embedding"), (x, pos) =>
          (x + (pmod(hash(col("vec_id"), pos, lit(i)), lit(1000))
            .cast("double") / 1000.0 - 0.5) * 1.4).cast("float")))
    }, "embeddings")
    println(s"[scalegen] wrote $copies x $src -> $out")
    spark.stop()
  }
}
