package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.dedup.Dedup
import graft.encoders.PassthroughEncoder
import graft.search.{SearcherModel, SparkSearcher, SearcherParams}
import graft.text.TextAnalysis
import graft.whitening.VecsWhitening

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is an operator from SURVEY.md §2 exercised end to
  * end on the driver's parquet tables; `oracleSql` holds the DuckDB
  * equivalent for the hash-match correctness gate. Numeric discipline for
  * bit-exact oracle parity: vector math in double precision with fixed
  * ascending accumulation order on both sides, money aggregates in DECIMAL
  * (order-independent) cast to double at the end.
  */
object SparkEntry {

  // Time columns normalize to their contract type whatever the parquet
  // physical type shipped (the driver flipped events.ts from int64-nanos
  // to timestamp[us] between generations): `ts` → epoch-nanos long (every
  // events query/oracle assumes it), date-family columns → TimestampType
  // (every relational query/oracle assumes it). See TimeCols.
  private val DateFamilyCols = Seq("l_shipdate", "o_orderdate")
  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    graft.util.TimeCols.normalizeTimestamp(
      graft.util.TimeCols.normalizeEpochNanos(s.read.parquet(s"$dir/$name.parquet")),
      DateFamilyCols)

  /** Fitted searcher over `<dir>/embeddings.parquet` (the README raw-vector
    * flow, /root/reference/README.md:43-58): item/id = vec_id, vector =
    * embedding, payload = label. */
  private def embSearcher(s: SparkSession, dir: String, measurement: String): SearcherModel = {
    val items = table(s, dir, "embeddings")
    new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = measurement))
      .fit(items)
  }

  /** Write `src` as `numFiles` TIME-CONTIGUOUS parquet files whose
    * modification times increase in event-time order, so a file-source
    * stream replays them — and thus event time — in ARRIVAL ORDER (what
    * a production source delivers naturally; FileStreamSource replays in
    * mtime order, and parallel write tasks otherwise finish arbitrarily).
    * Under ordered arrival no input row is ever behind the watermark, so
    * the multi-batch streaming result set equals the batch oracle —
    * deterministically, independent of where the range sampler puts the
    * file boundaries. */
  private val orderedDirCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int), String]()

  private def orderedReplayDir(s: SparkSession, srcPath: String, tsCol: String,
      numFiles: Int): String = {
    // memoized per (source PATH, ts, files) within the process: the
    // ordered twin gates replay the SAME input artifact, so the sort+write
    // is paid once per bench/verify run, not once per gate. The key is the
    // concrete input path — known at every call site — not a plan string,
    // which Spark TRUNCATES (maxToStringFields/maxPlanStringLength): two
    // distinct sources could otherwise collide past the truncation point
    // and silently share a replay dir. Content is a pure function of the
    // key, so sharing cannot couple gate results.
    val key = (srcPath, tsCol, numFiles)
    orderedDirCache.computeIfAbsent(key, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-ordrep")
      // temp replay dirs are process-scoped scratch: delete them on JVM
      // exit (recursive — deleteOnExit alone cannot remove a non-empty dir)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(dir.toFile)
      }))
      s.read.parquet(srcPath)
        .repartitionByRange(numFiles, col(tsCol)).sortWithinPartitions(tsCol)
        .write.mode("overwrite").parquet(dir.toString)
      val parts = dir.toFile.listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      val t0 = System.currentTimeMillis() - parts.length * 1000L
      parts.zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(t0 + i * 1000L)
      }
      dir.toString
    })
  }

  /** k-NN over embeddings: first 10 vec_ids as queries against the full
    * table — the engine's flagship top-K similarity join (reference
    * `search`, faiss_searcher.py:161-169). */
  private def knn(s: SparkSession, dir: String, measurement: String, k: Int,
      metricArg: Double = 2.0, maxQ: Int = 10): DataFrame = {
    val items = table(s, dir, "embeddings")
    val model = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = measurement, metricArg = metricArg))
      .fit(items)
    val queries = table(s, dir, "embeddings").filter(col("vec_id") < maxQ)
    knnSelect(model.search(queries, k, keepRankNo = true, queryIdCol = Some("vec_id")))
  }

  private def knnSelect(res: DataFrame): DataFrame =
    res.select(col("vec_id").as("source_id"), col("rank_no"),
      col("sim_item").cast("long").as("sim_id"),
      col("label").as("sim_label"), col("sim_val"))
      .orderBy("source_id", "rank_no")

  /** DuckDB oracle for `knn`: same double-precision expression tree —
    * dot/(||q||·||x||) per pair, rank by distance with row_id tie-break,
    * final cast to float32 (matches the engine's sim_val contract,
    * faiss_searcher.py:145). */
  private def knnOracle(measurement: String, k: Int, maxQ: Int = 10): String = {
    val distExpr = measurement match {
      case "cos" => "list_dot_product(q.v, x.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(x.v, x.v)))"
      case "ip"  => "list_dot_product(q.v, x.v)"
      case "l2"  => "list_sum(list_transform(list_zip(q.v, x.v), p -> (p[1]-p[2])*(p[1]-p[2])))"
      case "l1"  => "list_sum(list_transform(list_zip(q.v, x.v), p -> abs(p[1]-p[2])))"
      case "l_inf" => "list_max(list_transform(list_zip(q.v, x.v), p -> abs(p[1]-p[2])))"
      case "l_p3" => "list_sum(list_transform(list_zip(q.v, x.v), p -> pow(abs(p[1]-p[2]), 3.0)))"
      case "brayCurtis" =>
        "(CASE WHEN list_sum(list_transform(list_zip(q.v, x.v), p -> abs(p[1]+p[2]))) = 0 THEN 0.0 " +
          "ELSE list_sum(list_transform(list_zip(q.v, x.v), p -> abs(p[1]-p[2]))) " +
          "/ list_sum(list_transform(list_zip(q.v, x.v), p -> abs(p[1]+p[2]))) END)"
      case "canberra" =>
        "list_sum(list_transform(list_zip(q.v, x.v), p -> " +
          "CASE WHEN abs(p[1]) + abs(p[2]) > 0 THEN abs(p[1]-p[2]) / (abs(p[1]) + abs(p[2])) ELSE 0.0 END))"
      case "jensen_shannon" =>
        "list_sum(list_transform(list_zip(q.v, x.v), p -> " +
          "(CASE WHEN p[1] > 0 AND 0.5*(p[1]+p[2]) > 0 THEN 0.5*p[1]*ln(p[1]/(0.5*(p[1]+p[2]))) ELSE 0.0 END) + " +
          "(CASE WHEN p[2] > 0 AND 0.5*(p[1]+p[2]) > 0 THEN 0.5*p[2]*ln(p[2]/(0.5*(p[1]+p[2]))) ELSE 0.0 END)))"
    }
    val dir = if (measurement == "cos" || measurement == "ip") "DESC" else "ASC"
    s"""WITH q AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings WHERE vec_id < $maxQ),
       |x AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
       |s AS (SELECT q.vec_id source_id, x.vec_id sim_id, x.label sim_label, $distExpr c
       |      FROM q CROSS JOIN x),
       |r AS (SELECT *, row_number() OVER (PARTITION BY source_id ORDER BY c $dir, sim_id) rn FROM s)
       |SELECT source_id, CAST(rn - 1 AS INT) rank_no, sim_id, sim_label, CAST(c AS FLOAT) sim_val
       |FROM r WHERE rn <= $k ORDER BY source_id, rank_no""".stripMargin.replace("\n", " ")
  }

  /** DuckDB oracle for the hybrid RRF gate ([[graft.search.HybridSearch]]):
    * the text_bm25 CTE chain extended with ranks, the hash-embed dense
    * chain ([[graft.encoders.HashEmbedKernel]] SQL mirror), and the
    * 1/(60+rank) fusion — integer-input double math end to end, so the
    * whole fused ranking is hash-match reproducible. */
  private def hybridRrfOracle: String = {
    import graft.encoders.HashEmbedKernel
    s"""WITH t1 AS (SELECT doc_id,
       |  len(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0)) dl,
       |  list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) toks FROM documents),
       |st AS (SELECT count(*) n_docs, sum(dl)::DOUBLE / count(*) avgdl FROM t1),
       |tf AS (SELECT doc_id, dl, tok, count(*) tf FROM
       |  (SELECT doc_id, dl, unnest(toks) tok FROM t1)
       |  WHERE tok IN ('vector','spark','dup') GROUP BY 1, 2, 3),
       |nt AS (SELECT tok, count(*) nt FROM tf GROUP BY 1),
       |sc AS (SELECT doc_id, tok,
       |  ln((n_docs - nt + 0.5) / (nt + 0.5) + 1.0) * (tf * 2.2)
       |    / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) s
       |  FROM tf JOIN nt USING (tok) CROSS JOIN st),
       |pv AS (SELECT doc_id,
       |  coalesce(max(CASE WHEN tok = 'vector' THEN s END), 0.0) sv,
       |  coalesce(max(CASE WHEN tok = 'spark' THEN s END), 0.0) ss,
       |  coalesce(max(CASE WHEN tok = 'dup' THEN s END), 0.0) sd
       |  FROM sc GROUP BY doc_id),
       |lr AS (SELECT doc_id, rn lex_rank FROM (SELECT doc_id,
       |  row_number() OVER (ORDER BY sv + ss + sd DESC, doc_id) rn FROM pv) WHERE rn <= 50),
       |d0 AS (SELECT doc_id, ${HashEmbedKernel.sqlRawVec("text", 64)} v0 FROM documents WHERE text IS NOT NULL),
       |${HashEmbedKernel.normCtes("d0")},
       |q0 AS (SELECT ${HashEmbedKernel.sqlRawVec("'vector spark dup search'", 64)} v0),
       |qn AS (SELECT v0, sqrt(list_sum(list_transform(v0, x -> (x * x)::DOUBLE))) nrm FROM q0),
       |qf AS (SELECT CASE WHEN nrm = 0 THEN list_transform(v0, x -> (x::FLOAT)::DOUBLE)
       |  ELSE list_transform(v0, x -> ((x::DOUBLE / nrm)::FLOAT)::DOUBLE) END v FROM qn),
       |ds AS (SELECT doc_id, list_dot_product(fv.v, qf.v) s FROM fv CROSS JOIN qf),
       |dr AS (SELECT doc_id, rn dense_rank FROM (SELECT doc_id,
       |  row_number() OVER (ORDER BY s DESC, doc_id) rn FROM ds) WHERE rn <= 50),
       |fu AS (SELECT coalesce(lr.doc_id, dr.doc_id) doc_id, lex_rank, dense_rank,
       |  CAST(coalesce(1.0::DOUBLE / (60 + lex_rank), 0.0) + coalesce(1.0::DOUBLE / (60 + dense_rank), 0.0) AS FLOAT) rrf_score
       |  FROM lr FULL JOIN dr ON lr.doc_id = dr.doc_id)
       |SELECT doc_id, CAST(lex_rank AS INT) lex_rank, CAST(dense_rank AS INT) dense_rank, rrf_score
       |FROM fu ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin.replace("\n", " ")
  }

  /** DuckDB oracle for the retrieve→rerank gate
    * ([[graft.search.HybridSearch.rerank]]): the BM25 top-50 CTE chain,
    * then the pair score (hash-embed dot, float-cast like
    * [[graft.encoders.PairScorer]]) over ONLY the candidates, reranked. */
  private def rerankOracle: String = {
    import graft.encoders.HashEmbedKernel
    s"""WITH t1 AS (SELECT doc_id,
       |  len(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0)) dl,
       |  list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) toks FROM documents),
       |st AS (SELECT count(*) n_docs, sum(dl)::DOUBLE / count(*) avgdl FROM t1),
       |tf AS (SELECT doc_id, dl, tok, count(*) tf FROM
       |  (SELECT doc_id, dl, unnest(toks) tok FROM t1)
       |  WHERE tok IN ('vector','spark','dup') GROUP BY 1, 2, 3),
       |nt AS (SELECT tok, count(*) nt FROM tf GROUP BY 1),
       |sc AS (SELECT doc_id, tok,
       |  ln((n_docs - nt + 0.5) / (nt + 0.5) + 1.0) * (tf * 2.2)
       |    / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) s
       |  FROM tf JOIN nt USING (tok) CROSS JOIN st),
       |pv AS (SELECT doc_id,
       |  coalesce(max(CASE WHEN tok = 'vector' THEN s END), 0.0) sv,
       |  coalesce(max(CASE WHEN tok = 'spark' THEN s END), 0.0) ss,
       |  coalesce(max(CASE WHEN tok = 'dup' THEN s END), 0.0) sd
       |  FROM sc GROUP BY doc_id),
       |lr AS (SELECT doc_id, rn bm25_rank FROM (SELECT doc_id,
       |  row_number() OVER (ORDER BY sv + ss + sd DESC, doc_id) rn FROM pv) WHERE rn <= 50),
       |d0 AS (SELECT d.doc_id, ${HashEmbedKernel.sqlRawVec("d.text", 64)} v0
       |  FROM documents d JOIN lr ON d.doc_id = lr.doc_id),
       |${HashEmbedKernel.normCtes("d0")},
       |q0 AS (SELECT ${HashEmbedKernel.sqlRawVec("'vector spark dup search'", 64)} v0),
       |qn AS (SELECT v0, sqrt(list_sum(list_transform(v0, x -> (x * x)::DOUBLE))) nrm FROM q0),
       |qf AS (SELECT CASE WHEN nrm = 0 THEN list_transform(v0, x -> (x::FLOAT)::DOUBLE)
       |  ELSE list_transform(v0, x -> ((x::DOUBLE / nrm)::FLOAT)::DOUBLE) END v FROM qn),
       |ce AS (SELECT fv.doc_id, lr.bm25_rank,
       |  CAST(list_dot_product(qf.v, fv.v) AS FLOAT) ce_score
       |  FROM fv JOIN lr ON fv.doc_id = lr.doc_id CROSS JOIN qf),
       |rr AS (SELECT doc_id, bm25_rank, ce_score,
       |  row_number() OVER (ORDER BY ce_score DESC, doc_id) rk FROM ce)
       |SELECT doc_id, CAST(bm25_rank AS INT) bm25_rank, ce_score, CAST(rk AS INT) "rank"
       |FROM rr WHERE rk <= 10 ORDER BY rk""".stripMargin.replace("\n", " ")
  }

  /** The batch-retrieval gates' query set: (qid, terms, query text) —
    * shared between the Spark-side DataFrame and the oracle's VALUES
    * lists so the two can never drift. */
  private val multiQueryDefs: Seq[(Long, Seq[String], String)] = Seq(
    (0L, Seq("vector", "spark", "dup"), "vector spark dup search"),
    (1L, Seq("merge", "sort", "fast"), "merge sort fast stream"),
    (2L, Seq("scan", "filter", "table"), "scan filter big table"))

  private def batchQueries(s: SparkSession): DataFrame =
    s.createDataFrame(multiQueryDefs).toDF("qid", "terms", "qtext")

  private def qtValues: String = multiQueryDefs
    .flatMap { case (q, ts, _) => ts.map(t => s"($q,'$t')") }.mkString(",")
  private def qxValues: String = multiQueryDefs
    .map { case (q, _, tx) => s"($q,'$tx')" }.mkString(",")

  /** Shared CTE chain for the multi-query BM25 oracles: the inverted
    * postings restricted to the union of query terms, per-(query, doc)
    * scores folded in ascending term order (list_reduce — mirrors the
    * Spark side's aggregate(array_sort(...)) exactly), ranked per query.
    * Ends at relation `r(qid, doc_id, score, rn)`. */
  private def bm25MultiCtes: String =
    s"""qt AS (SELECT * FROM (VALUES $qtValues) v(qid, tok)),
       |t1 AS (SELECT doc_id,
       |  len(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0)) dl,
       |  list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) toks FROM documents),
       |st AS (SELECT count(*) n_docs, sum(dl)::DOUBLE / count(*) avgdl FROM t1),
       |tf AS (SELECT doc_id, dl, tok, count(*) tf FROM
       |  (SELECT doc_id, dl, unnest(toks) tok FROM t1)
       |  WHERE tok IN (SELECT tok FROM qt) GROUP BY 1, 2, 3),
       |nt AS (SELECT tok, count(*) nt FROM tf GROUP BY 1),
       |sc AS (SELECT qt.qid, tf.doc_id, tf.tok,
       |  ln((n_docs - nt + 0.5) / (nt + 0.5) + 1.0) * (tf * 2.2)
       |    / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) s
       |  FROM tf JOIN qt USING (tok) JOIN nt USING (tok) CROSS JOIN st),
       |ag AS (SELECT qid, doc_id,
       |  list_reduce(list_prepend(0.0::DOUBLE, list(s ORDER BY tok)), (a, x) -> a + x) score
       |  FROM sc GROUP BY qid, doc_id),
       |r AS (SELECT qid, doc_id, score,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) rn FROM ag)""".stripMargin

  /** Normalized query hash-embed vectors per qid, ending at
    * `qf(qid, v: DOUBLE[])` — the query-side mirror of
    * [[graft.encoders.HashEmbedKernel]]'s normCtes. */
  private def queryVecCtes: String = {
    import graft.encoders.HashEmbedKernel
    s"""qx AS (SELECT * FROM (VALUES $qxValues) v(qid, qtext)),
       |q0 AS (SELECT qid, ${HashEmbedKernel.sqlRawVec("qtext", 64)} v0q FROM qx),
       |qn AS (SELECT qid, v0q, sqrt(list_sum(list_transform(v0q, x -> (x * x)::DOUBLE))) nrm FROM q0),
       |qf AS (SELECT qid, CASE WHEN nrm = 0 THEN list_transform(v0q, x -> (x::FLOAT)::DOUBLE)
       |  ELSE list_transform(v0q, x -> ((x::DOUBLE / nrm)::FLOAT)::DOUBLE) END v FROM qn)""".stripMargin

  }

  private def bm25MultiOracle(n: Int): String =
    s"""WITH $bm25MultiCtes
       |SELECT CAST(qid AS BIGINT) qid, doc_id, CAST(score AS FLOAT) score, CAST(rn AS INT) "rank"
       |FROM r WHERE rn <= $n ORDER BY qid, rn""".stripMargin.replace("\n", " ")

  private def hybridRrfMultiOracle(k: Int, n: Int): String = {
    import graft.encoders.HashEmbedKernel
    s"""WITH $bm25MultiCtes,
       |lr AS (SELECT qid, doc_id, rn lex_rank FROM r WHERE rn <= $n),
       |d0 AS (SELECT doc_id, ${HashEmbedKernel.sqlRawVec("text", 64)} v0 FROM documents WHERE text IS NOT NULL),
       |${HashEmbedKernel.normCtes("d0")},
       |$queryVecCtes,
       |ds AS (SELECT qf.qid, fv.doc_id, list_dot_product(fv.v, qf.v) s FROM fv CROSS JOIN qf),
       |dr AS (SELECT qid, doc_id, rn dense_rank FROM (SELECT qid, doc_id,
       |  row_number() OVER (PARTITION BY qid ORDER BY s DESC, doc_id) rn FROM ds) WHERE rn <= $n),
       |fu AS (SELECT coalesce(lr.qid, dr.qid) qid, coalesce(lr.doc_id, dr.doc_id) doc_id,
       |  lex_rank, dense_rank,
       |  CAST(coalesce(1.0::DOUBLE / (60 + lex_rank), 0.0) + coalesce(1.0::DOUBLE / (60 + dense_rank), 0.0) AS FLOAT) rrf_score
       |  FROM lr FULL JOIN dr ON lr.qid = dr.qid AND lr.doc_id = dr.doc_id),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rrf_score DESC, doc_id) rr FROM fu)
       |SELECT CAST(qid AS BIGINT) qid, doc_id, CAST(lex_rank AS INT) lex_rank,
       |  CAST(dense_rank AS INT) dense_rank, rrf_score
       |FROM rk WHERE rr <= $k ORDER BY qid, rrf_score DESC, doc_id""".stripMargin.replace("\n", " ")
  }

  private def rerankMultiOracle(k: Int, n: Int): String = {
    import graft.encoders.HashEmbedKernel
    s"""WITH $bm25MultiCtes,
       |lr AS (SELECT qid, doc_id, rn bm25_rank FROM r WHERE rn <= $n),
       |d0 AS (SELECT d.doc_id, ${HashEmbedKernel.sqlRawVec("d.text", 64)} v0 FROM documents d
       |  WHERE d.doc_id IN (SELECT doc_id FROM lr)),
       |${HashEmbedKernel.normCtes("d0")},
       |$queryVecCtes,
       |ce AS (SELECT lr.qid, fv.doc_id, lr.bm25_rank,
       |  CAST(list_dot_product(qf.v, fv.v) AS FLOAT) ce_score
       |  FROM fv JOIN lr ON fv.doc_id = lr.doc_id JOIN qf ON qf.qid = lr.qid),
       |rr AS (SELECT qid, doc_id, bm25_rank, ce_score,
       |  row_number() OVER (PARTITION BY qid ORDER BY ce_score DESC, doc_id) rk FROM ce)
       |SELECT CAST(qid AS BIGINT) qid, doc_id, CAST(bm25_rank AS INT) bm25_rank,
       |  ce_score, CAST(rk AS INT) "rank"
       |FROM rr WHERE rk <= $k ORDER BY qid, rk""".stripMargin.replace("\n", " ")
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    knn(spark, "/root/testdata/sf0.001", "cos", 10)

  import graft.functions.PolyHash
  import graft.encoders.HashEmbedKernel

  /** CTE prefix computing the hash-embedding of every document (+ payload
    * cols) as `fv(…, v: DOUBLE[])` — DuckDB mirror of [[HashEmbedKernel]]. */
  private def hashVecCtes(payloadCols: String): String =
    s"""d0 AS (SELECT doc_id, $payloadCols text, ${HashEmbedKernel.sqlRawVec("text", 64)} v0 FROM documents),
       |${HashEmbedKernel.normCtes("d0")}""".stripMargin

  /** DuckDB oracle for the hash-encoder cos top-k search (knn_hash_encoder /
    * search_feature_sep shape): cosine in double over the float-rounded
    * vectors, rank per query with doc_id tie-break, sim_val cast float32. */
  private def hashKnnOracle(k: Int, select: String): String = {
    val denom = "(sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(x.v, x.v)))"
    s"""WITH ${hashVecCtes("lang, n_chars,")}
       |, q AS (SELECT * FROM fv WHERE doc_id < 10),
       |s AS (SELECT q.doc_id qid, q.text qtext, x.doc_id xid, x.lang, x.n_chars, x.text xtext,
       |  CASE WHEN $denom = 0 THEN 0.0 ELSE list_dot_product(q.v, x.v) / $denom END c
       |  FROM q CROSS JOIN fv x),
       |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY c DESC, xid) rn FROM s)
       |SELECT $select FROM r WHERE rn <= $k ORDER BY qid, rn""".stripMargin.replace("\n", " ")
  }

  /** DuckDB oracle for minhash-LSH near-dups: the exact polynomial
    * signature + band-key arithmetic of [[Dedup.minHashSignatureBy]] /
    * BandKeysExpr (same coefficients, embedded), candidates from band
    * collisions, verified by true shingle-set Jaccard. */
  /** Shared CTE chain for the minhash-LSH pipeline, terminating in
    * `mp(id_a, id_b, jaccard)` — consumed by the pair oracle and the
    * connected-components cluster oracle. */
  private def minhashPairCtes(n: Int, numHashes: Int, bands: Int, threshold: Double): String = {
    val r = numHashes / bands
    val (coefA, coefB) = Dedup.minHashCoefficients(numHashes)
    val sigTerms = (0 until numHashes).map(j =>
      s"list_min(list_transform(h, x -> (${coefA(j)} * x + ${coefB(j)}) % ${PolyHash.P}))")
      .mkString("[", ", ", "]")
    s"""b0 AS (SELECT doc_id id, text FROM documents),
       |sh AS (SELECT id, CASE WHEN length(text) >= $n THEN
       |  list_distinct(list_transform(range(1, length(text) - ${n - 2}), i -> substr(text, i, $n)))
       |  ELSE [] END s FROM b0),
       |hs AS (SELECT id, s, list_transform(s, g -> ${PolyHash.sql("g", PolyHash.B1)}) h FROM sh WHERE len(s) > 0),
       |sg AS (SELECT id, $sigTerms sig FROM hs),
       |bk AS (SELECT id, r.range band,
       |  list_reduce(list_prepend(0::BIGINT, list_slice(sig, r.range * $r + 1, r.range * $r + $r)),
       |    (acc, v) -> (acc * ${PolyHash.B1} + v) % ${PolyHash.P}) bkey
       |  FROM sg CROSS JOIN range(0, $bands) r),
       |cd AS (SELECT DISTINCT a.id id_a, b.id id_b FROM bk a JOIN bk b
       |  ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
       |vr AS (SELECT id_a, id_b, len(list_intersect(sa.s, sb.s)) c, len(sa.s) za, len(sb.s) zb
       |  FROM cd JOIN sh sa ON sa.id = cd.id_a JOIN sh sb ON sb.id = cd.id_b),
       |mp AS (SELECT id_a, id_b, c::DOUBLE / (za + zb - c) jaccard FROM vr
       |  WHERE c::DOUBLE / (za + zb - c) >= $threshold)""".stripMargin
  }

  private def minhashOracle(n: Int, numHashes: Int, bands: Int, threshold: Double): String =
    s"""WITH ${minhashPairCtes(n, numHashes, bands, threshold)}
       |SELECT id_a, id_b, jaccard FROM mp ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")

  /** Shared CTE chain for the ONE-PERMUTATION-HASHING minhash pipeline
    * ([[Dedup.minHashNearDupsOph]] / [[graft.dedup.OphSigKernel]]),
    * terminating in `mp(id_a, id_b, jaccard)`: per distinct gram, `r =
    * k / bands` permuted hashes `(A_p·h + B_p) mod P` with `(A, B) =
    * minHashCoefficients(r)` — the same call the kernel makes, NOT the
    * 64-hash sequence's first pairs (that sequence pairs rnd1 with
    * rnd65; see the kernel-side note in [[Dedup.minHashNearDupsOph]]) —
    * each range-binned into `bands` bins by the multiply-shift
    * `(v·bands) // 2^31`, per-(perm, bin) minima; component layout
    * `sig[j·r + p]` so band `j` folds one component per permutation;
    * empty
    * bins borrow from the nearest non-empty bin to the RIGHT (circular),
    * value `(m_src + d·B1) mod P` — the SQL encodes the minimal borrow
    * distance as `d·2^32 + value` and decodes with `% 2^32`, reproducing
    * the kernel's rotation densification bit-for-bit. Banding, candidate
    * join and exact-Jaccard verify mirror [[minhashPairCtes]]. */
  private def minhashOphPairCtes(n: Int, k: Int, bands: Int, threshold: Double): String = {
    val r = k / bands
    val (ca, cb) = Dedup.minHashCoefficients(r)
    val aList = ca.mkString("[", ", ", "]")
    val bList = cb.mkString("[", ", ", "]")
    s"""b0 AS (SELECT doc_id id, text FROM documents),
       |sh AS (SELECT id, CASE WHEN length(text) >= $n THEN
       |  list_distinct(list_transform(range(1, length(text) - ${n - 2}), i -> substr(text, i, $n)))
       |  ELSE [] END s FROM b0),
       |hs AS (SELECT id, s, list_transform(s, g -> ${PolyHash.sql("g", PolyHash.B1)}) h FROM sh WHERE len(s) > 0),
       |vs AS (SELECT id, p.range pp, list_transform(h, x ->
       |  (($aList)[p.range + 1] * x + ($bList)[p.range + 1]) % ${PolyHash.P}) v
       |  FROM hs CROSS JOIN range(0, $r) p),
       |mn AS (SELECT id, pp, list_transform(range(0, $bands), j ->
       |  list_min(list_filter(v, x -> (x * $bands) // 2147483648 = j))) m FROM vs),
       |dn AS (SELECT id, pp, list_transform(range(0, $bands), j ->
       |  CASE WHEN m[j+1] IS NOT NULL THEN m[j+1]
       |  ELSE list_min(list_filter(list_transform(range(1, $bands), dd ->
       |    CASE WHEN m[((j+dd) % $bands)+1] IS NOT NULL
       |      THEN dd * 4294967296 + (m[((j+dd) % $bands)+1] + dd * ${PolyHash.B1}) % ${PolyHash.P} END),
       |    x -> x IS NOT NULL)) % 4294967296
       |  END) sigp FROM mn),
       |cm AS (SELECT id, j.range band, pp, sigp[j.range + 1] comp
       |  FROM dn CROSS JOIN range(0, $bands) j),
       |bk AS (SELECT id, band,
       |  list_reduce(list_prepend(0::BIGINT, list(comp ORDER BY pp)),
       |    (acc, v) -> (acc * ${PolyHash.B1} + v) % ${PolyHash.P}) bkey
       |  FROM cm GROUP BY id, band),
       |cd AS (SELECT DISTINCT a.id id_a, b.id id_b FROM bk a JOIN bk b
       |  ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
       |vr AS (SELECT id_a, id_b, len(list_intersect(sa.s, sb.s)) c, len(sa.s) za, len(sb.s) zb
       |  FROM cd JOIN sh sa ON sa.id = cd.id_a JOIN sh sb ON sb.id = cd.id_b),
       |mp AS (SELECT id_a, id_b, c::DOUBLE / (za + zb - c) jaccard FROM vr
       |  WHERE c::DOUBLE / (za + zb - c) >= $threshold)""".stripMargin
  }

  private def minhashOphOracle(n: Int, k: Int, bands: Int, threshold: Double): String =
    s"""WITH ${minhashOphPairCtes(n, k, bands, threshold)}
       |SELECT id_a, id_b, jaccard FROM mp ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")

  /** Recursive-CTE reachability over the minhash pair graph: component =
    * smallest reachable id — the fixpoint [[Dedup.connectedComponents]]
    * converges to, independent of iteration schedule. */
  private def minhashClusterOracle(n: Int, numHashes: Int, bands: Int, threshold: Double): String =
    s"""WITH RECURSIVE ${minhashPairCtes(n, numHashes, bands, threshold)},
       |ed AS (SELECT id_a u, id_b v FROM mp UNION SELECT id_b, id_a FROM mp),
       |reach(id, comp) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM ed)
       |  UNION
       |  SELECT ed.u, reach.comp FROM ed JOIN reach ON ed.v = reach.id)
       |SELECT id, min(comp) component, (min(comp) = id) is_canonical
       |FROM reach GROUP BY id ORDER BY id""".stripMargin.replace("\n", " ")

  /** Cluster oracle over the OPH candidate pipeline: the same reachability
    * fixpoint as [[minhashClusterOracle]], but the pair CTEs reproduce the
    * banded one-permutation-per-band-row scheme bit-for-bit. */
  private def minhashOphClusterOracle(n: Int, k: Int, bands: Int,
      threshold: Double): String =
    s"""WITH RECURSIVE ${minhashOphPairCtes(n, k, bands, threshold)},
       |ed AS (SELECT id_a u, id_b v FROM mp UNION SELECT id_b, id_a FROM mp),
       |reach(id, comp) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM ed)
       |  UNION
       |  SELECT ed.u, reach.comp FROM ed JOIN reach ON ed.v = reach.id)
       |SELECT id, min(comp) component, (min(comp) = id) is_canonical
       |FROM reach GROUP BY id ORDER BY id""".stripMargin.replace("\n", " ")

  /** DuckDB oracle for simhash near-dups: 62-bit two-polynomial fingerprint
    * (bit votes over token multisets), pigeonhole chunk join, hamming ≤ max. */
  /** text_boilerplate / text_boilerplate_narrow shared reshape: 10-token
    * pseudo-lines so the synthetic single-line corpus exercises the line
    * machinery (both gates run the same reshape; the twin only forces the
    * narrow cache path, which is result-invariant). */
  private def boilerReshaped(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val docs = table(s, dir, "documents")
    val toks = filter(split(col("text"), " "), t => length(t) > 0)
    val nl = floor((size(toks) + lit(9)) / lit(10)).cast("int")
    docs.select(col("doc_id"),
      when(col("text").isNull, lit(null).cast("string"))
        .when(size(toks) === 0, lit(""))
        .otherwise(array_join(transform(sequence(lit(0), nl - 1),
          i => array_join(slice(toks, i * 10 + 1, lit(10)), " ")), "\n"))
        .as("text"))
  }

  /** dedup_lines / dedup_lines_narrow shared oracle: same 10-token
    * pseudo-line reshape, then each ≥8-char line keeps its global
    * (doc_id, position)-first occurrence; groups by the line STRING
    * where the operator first-passes on fingerprints (collision canary).
    * The narrow-cache path is result-invariant, so ONE SQL gates both. */
  private val dedupLinesOracleSql: String =
    """WITH b0 AS (SELECT doc_id, text,
      |  CASE WHEN text IS NULL THEN NULL
      |       ELSE list_filter(str_split(text, ' '), t -> len(t) > 0) END toks
      |  FROM documents),
      |r0 AS (SELECT doc_id, unnest(range(0, (len(toks)+9)//10)) li FROM b0 WHERE toks IS NOT NULL),
      |ln0 AS (SELECT r0.doc_id, r0.li,
      |  array_to_string(b0.toks[r0.li*10+1 : r0.li*10+10], ' ') line
      |  FROM r0 JOIN b0 USING (doc_id)),
      |ra AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY li) t FROM ln0 GROUP BY doc_id),
      |re AS (SELECT b0.doc_id, CASE WHEN b0.text IS NULL THEN NULL
      |  ELSE coalesce(ra.t, '') END AS text FROM b0 LEFT JOIN ra USING (doc_id)),
      |s0 AS (SELECT doc_id, str_split(text, chr(10)) ls FROM re WHERE text IS NOT NULL),
      |p0 AS (SELECT doc_id, unnest(range(1, len(ls)+1)) i FROM s0),
      |l AS (SELECT p0.doc_id, p0.i, s0.ls[p0.i] line FROM p0 JOIN s0 USING (doc_id)),
      |k AS (SELECT doc_id, i, line,
      |  row_number() OVER (PARTITION BY line ORDER BY doc_id, i) rn FROM l),
      |kept AS (SELECT doc_id, i, line FROM k WHERE len(line) < 8 OR rn = 1),
      |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) t FROM kept GROUP BY doc_id)
      |SELECT re.doc_id, CASE WHEN re.text IS NULL THEN NULL
      |  ELSE coalesce(agg.t, '') END text_dedup
      |FROM re LEFT JOIN agg USING (doc_id)
      |ORDER BY re.doc_id""".stripMargin.replace("\n", " ")

  /** text_boilerplate / text_boilerplate_narrow shared oracle: same
    * 10-token pseudo-line reshape, then every line (≥8 chars) present in
    * ≥3 DISTINCT docs is dropped everywhere; groups by the line STRING
    * where the operator groups by fingerprint (collision canary). The
    * narrow-cache path is result-invariant, so ONE SQL gates both. */
  private val boilerplateOracleSql: String =
    """WITH b0 AS (SELECT doc_id, text,
      |  CASE WHEN text IS NULL THEN NULL
      |       ELSE list_filter(str_split(text, ' '), t -> len(t) > 0) END toks
      |  FROM documents),
      |r0 AS (SELECT doc_id, unnest(range(0, (len(toks)+9)//10)) li FROM b0 WHERE toks IS NOT NULL),
      |ln0 AS (SELECT r0.doc_id, r0.li,
      |  array_to_string(b0.toks[r0.li*10+1 : r0.li*10+10], ' ') line
      |  FROM r0 JOIN b0 USING (doc_id)),
      |ra AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY li) t FROM ln0 GROUP BY doc_id),
      |re AS (SELECT b0.doc_id, CASE WHEN b0.text IS NULL THEN NULL
      |  ELSE coalesce(ra.t, '') END AS text FROM b0 LEFT JOIN ra USING (doc_id)),
      |s0 AS (SELECT doc_id, str_split(text, chr(10)) ls FROM re WHERE text IS NOT NULL),
      |p0 AS (SELECT doc_id, unnest(range(1, len(ls)+1)) i FROM s0),
      |l AS (SELECT p0.doc_id, p0.i, s0.ls[p0.i] line FROM p0 JOIN s0 USING (doc_id)),
      |bf AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) df FROM l
      |  WHERE len(line) >= 8 GROUP BY line) WHERE df >= 3),
      |kept AS (SELECT l.doc_id, l.i, l.line FROM l ANTI JOIN bf USING (line)),
      |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) t FROM kept GROUP BY doc_id)
      |SELECT re.doc_id, CASE WHEN re.text IS NULL THEN NULL
      |  ELSE coalesce(agg.t, '') END text_clean
      |FROM re LEFT JOIN agg USING (doc_id)
      |ORDER BY re.doc_id""".stripMargin.replace("\n", " ")

  /** dedup_spans / dedup_spans_hot shared oracle: duplicated 8-token
    * windows keep their global (doc_id, pos)-first occurrence; other
    * occurrences mask their covered tokens. Grouped by the gram STRING
    * (the Spark side shuffles 64-bit fingerprints) — collision canary.
    * The hot-gram split is result-invariant, so ONE SQL gates both. */
  private val spansOracleSql: String =
    """WITH b0 AS (SELECT doc_id, text, CASE WHEN text IS NULL THEN NULL
      |  ELSE list_filter(str_split(text, ' '), t -> len(t) > 0) END toks FROM documents),
      |g0 AS (SELECT doc_id, unnest(range(0, len(toks) - 7)) gp FROM b0
      |  WHERE toks IS NOT NULL AND len(toks) >= 8),
      |gs AS (SELECT g0.doc_id, g0.gp,
      |  array_to_string(b0.toks[g0.gp+1 : g0.gp+8], chr(1)) gram
      |  FROM g0 JOIN b0 USING (doc_id)),
      |r AS (SELECT doc_id, gp,
      |  row_number() OVER (PARTITION BY gram ORDER BY doc_id, gp) rn,
      |  count(*) OVER (PARTITION BY gram) c FROM gs),
      |cov AS (SELECT DISTINCT doc_id, tp FROM
      |  (SELECT doc_id, unnest(range(gp, gp + 8)) tp FROM r WHERE c >= 2 AND rn > 1)),
      |aff AS (SELECT DISTINCT doc_id FROM cov),
      |t0 AS (SELECT doc_id, unnest(range(0, len(toks))) tp FROM b0
      |  WHERE toks IS NOT NULL AND doc_id IN (SELECT doc_id FROM aff)),
      |tok AS (SELECT t0.doc_id, t0.tp, b0.toks[t0.tp+1] tok FROM t0 JOIN b0 USING (doc_id)),
      |kept AS (SELECT tok.doc_id, tok.tp, tok.tok FROM tok LEFT JOIN cov
      |  ON tok.doc_id = cov.doc_id AND tok.tp = cov.tp WHERE cov.tp IS NULL),
      |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) t FROM kept GROUP BY doc_id)
      |SELECT b0.doc_id, CASE WHEN b0.text IS NULL THEN NULL
      |  WHEN b0.doc_id IN (SELECT doc_id FROM aff) THEN coalesce(agg.t, '')
      |  ELSE b0.text END text_dedup
      |FROM b0 LEFT JOIN agg USING (doc_id)
      |ORDER BY b0.doc_id""".stripMargin.replace("\n", " ")

  private def simhashOracle(maxHamming: Int): String = {
    val chunkRows = Dedup.simHashChunks(maxHamming + 1).zipWithIndex
      .map { case ((off, w), c) => s"($c, $off, $w)" }.mkString(", ")
    s"""WITH b0 AS (SELECT doc_id id,
       |  list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0) toks FROM documents),
       |tk AS (SELECT id, unnest(toks) tok FROM b0),
       |hh AS (SELECT id, ${PolyHash.sql("tok", PolyHash.B1)} h1, ${PolyHash.sql("tok", PolyHash.B2)} h2 FROM tk),
       |vt AS (SELECT id, r.range b,
       |  SUM(CASE WHEN ((CASE WHEN r.range < 31 THEN (h1 >> r.range) ELSE (h2 >> (r.range - 31)) END) & 1) = 1
       |    THEN 1 ELSE -1 END) vote
       |  FROM hh CROSS JOIN range(0, 62) r GROUP BY 1, 2),
       |fp0 AS (SELECT id, CAST(SUM(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) f
       |  FROM vt GROUP BY 1),
       |fp AS (SELECT b0.id, coalesce(fp0.f, 0) f FROM b0 LEFT JOIN fp0 ON b0.id = fp0.id),
       |bk AS (SELECT id, f, c.chunk, (f >> c.off) & ((1::BIGINT << c.w) - 1) bkey
       |  FROM fp CROSS JOIN (VALUES $chunkRows) c(chunk, off, w)),
       |pr AS (SELECT DISTINCT a.id id_a, b.id id_b, CAST(bit_count(xor(a.f, b.f)) AS INT) hamming
       |  FROM bk a JOIN bk b ON a.chunk = b.chunk AND a.bkey = b.bkey AND a.id < b.id)
       |SELECT id_a, id_b, hamming FROM pr WHERE hamming <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")
  }

  /** Language-id CTE chain (t/h/b/w) over `from`; terminal CASE picks the
    * strict-argmax winner. Shared by the text_langid oracle and the
    * composed pipeline_curation oracle. */
  private def langidCtesSql(from: String): String = {
    val markers = TextAnalysis.LangMarkers.map { case (lang, ms) =>
      lang -> ms.map(m => s"'$m'").mkString("(", ",", ")")
    }
    val hitCols = TextAnalysis.LangMarkers.map { case (lang, ms) =>
      // CJK profiles match by substring containment, token languages by
      // token equality — same rule as TextAnalysis.markerHits
      if (TextAnalysis.SubstringLangs(lang))
        ms.map(m => s"(CASE WHEN contains(lower(text), '$m') THEN 1 ELSE 0 END)")
          .mkString("(", " + ", s") h_$lang")
      else {
        val inList = ms.map(m => s"'$m'").mkString("(", ",", ")")
        s"len(list_filter(toks, t -> t IN $inList)) h_$lang"
      }
    }.mkString(", ")
    val best = markers.map(m => s"h_${m._1}").mkString("greatest(", ", ", ")")
    val winners = markers.map { case (lang, _) =>
      s"(CASE WHEN h_$lang = best AND best > 0 THEN 1 ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH t AS (SELECT doc_id, text,
       | list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) toks
       | FROM $from),
       |h AS (SELECT doc_id, $hitCols FROM t),
       |b AS (SELECT *, $best best FROM h),
       |w AS (SELECT *, $winners winners FROM b)""".stripMargin
  }

  private def langidCaseSql: String =
    TextAnalysis.LangMarkers.map { case (lang, _) =>
      s"WHEN winners = 1 AND h_$lang = best AND best > 0 THEN '$lang'"
    }.mkString(" ")

  /** Quality-score CTE chain (tq/cq/q) over `from`, yielding
    * `q(doc_id, text, quality)` — same arithmetic tree as the
    * text_quality oracle / [[graft.text.TextKernels.quality]]. */
  private def qualityCtesSql(from: String): String =
    s"""tq AS (SELECT doc_id, text,
       |  list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0) toks,
       |  list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) ltoks
       | FROM $from),
       |cq AS (SELECT doc_id, text,
       |  least(len(text)::DOUBLE / 400.0, 1.0) ls,
       |  CASE WHEN len(toks) = 0 THEN 0.0
       |    ELSE list_sum(list_transform(toks, x -> len(x)::BIGINT))::DOUBLE / len(toks) END mtl,
       |  CASE WHEN len(ltoks) = 0 THEN 0.0
       |    ELSE len(list_filter(ltoks, x -> x IN ('the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it')))::DOUBLE / len(ltoks) END sw,
       |  CASE WHEN len(text) = 0 THEN 0.0
       |    ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE / len(text) END pr
       | FROM tq),
       |q AS (SELECT doc_id, text,
       |  ls * 0.25 + (CASE WHEN mtl >= 3.0 AND mtl <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.25
       |  + (CASE WHEN sw >= 0.05 THEN 1.0 ELSE sw * 20.0 END) * 0.25
       |  + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE greatest(0.0, 1.0 - (pr - 0.2) * 2.0) END) * 0.25 quality
       | FROM cq)""".stripMargin

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O8+O11: top-K similarity join, per metric (O5)
    "knn_cos_top10" -> ((s, dir) => knn(s, dir, "cos", 10)),
    // batch-retrieval shape of the flagship path: hundreds of queries
    // through one fit + one search (the mining workload — at sf100 this
    // gate is 500 queries x the full corpus through the
    // broadcast-queries bounded-heap plan)
    "knn_batch_cos" -> ((s, dir) => knn(s, dir, "cos", 5, maxQ = 500)),
    // the same 500-query batch shape over the ANN access paths: the
    // ObjectHashAggregate fallback fix lives in the shared mergeHits
    // tail, so LSH/PQ/IVF/graph all ride it — these pin the two paths a
    // large retrieval deployment actually batches (auto-sized IVF at
    // auto-nprobe, and the PQ-compressed scan)
    "knn_batch_ivf" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "IVF0", nprobe = 0))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 500), 5,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // the DEPLOYMENT regime of batch retrieval (the reference README's
    // flow 3, README.md:60-64: persist the index once, serve from load):
    // fit + save, then the 500-query batch through load() — the whole
    // lifecycle the amortized-fit BASELINE row measures, gated for
    // correctness (loaded cells/params must serve the identical batch)
    "knn_batch_ivf_loaded" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "IVF0", nprobe = 0))
        .fit(items)
      val path = java.nio.file.Files.createTempDirectory("graft-ivfb").toString
      model.save(path)
      model.unpersist()
      val loaded = SparkSearcher.load(s, path, new PassthroughEncoder("embedding"))
      knnSelect(loaded.search(items.filter(col("vec_id") < 500), 5,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    "knn_batch_pq" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "PQ8"))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 500), 5,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    "knn_batch_lsh" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      // the index is fitted FOR the batch it serves (lshBatchHint): the
      // joint-auto resolver weighs the 500-query verify volume against
      // fit cost, picking more bits / smaller buckets than the
      // interactive default would
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "LSH0", lshBatchHint = 500))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 500), 5,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // the cost-based access-path fallback (r17): LSH64x3 is DEGENERATE —
    // 64 tables of 8 buckets expect tables·n/2^bits candidates per query
    // at 8× a scanned row's cost, ≥ a full exact scan — so with
    // lshExactFallback the searcher serves the batch through the exact
    // top-k kernel (recall 1.0) and the brute-force batch oracle applies
    // EXACTLY. This automates the r17 sf100 boundary: LSH at its 64-table
    // feasibility ceiling served |Q|=2000 at 11–14× control vs the exact
    // kernel's 2.7× (BASELINE.md). Without the flag an EXPLICIT spelling
    // like this one still serves buckets (faiss semantics, warn-only);
    // since r18 joint-auto spellings reroute on their own
    // (knn_batch_lsh_auto_reroute)
    "knn_batch_lsh_fallback" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "LSH64x3",
          lshExactFallback = true))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 500), 5,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // r18 auto-reroute pin (the |Q|=2000 boundary from BASELINE.md): a
    // JOINT-AUTO spelling that resolves degenerate is refused at serve
    // WITHOUT the opt-in flag — an auto config carries no faiss bucket
    // obligation, and the fit's own cost model prices its candidate
    // verify ≥ the exact scan. The oracle re-derives the decision from
    // the refit planes (lshKnnOracle), so the gate breaks if either side
    // of the route ever disagrees with the formula
    "knn_batch_lsh_auto_reroute" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "LSH0", lshBatchHint = 2000))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 2000), 5,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // pinned-width auto (`LSH0x8`): the user wrote the bits, so the
    // config stays BUCKET-FAITHFUL even when degenerate at gate scale —
    // this keeps the auto-tables bucket semantics oracle-covered now
    // that the joint-auto gates reroute to exact on tiny corpora
    "knn_lsh_auto_pinbits" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "LSH0x8"))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // graph path at the exhaustive-ef EXACT operating point (the same
    // trick as knn_hnsw), so the brute-force batch oracle applies
    "knn_batch_hnsw" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "HNSW32", efSearch = Int.MaxValue))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 500), 5,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // the GRAPH persistence path end-to-end: save → load must preserve
    // graph co-location (adjacency resolves within a task — load
    // re-groups by gpart) and serve the identical batch; exhaustive ef
    // keeps the exact oracle applicable. The realistic-ef amortized
    // numbers live in BENCH_r17_sf100_loadedbatch_hnsw.json (0.13×
    // control at ef=64 / 0.901 recall once the one-time fit is paid).
    "knn_batch_hnsw_loaded" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "HNSW32", efSearch = Int.MaxValue))
        .fit(items)
      val path = java.nio.file.Files.createTempDirectory("graft-hnswb").toString
      model.save(path)
      model.unpersist()
      val loaded = SparkSearcher.load(s, path, new PassthroughEncoder("embedding"))
      knnSelect(loaded.search(items.filter(col("vec_id") < 500), 5,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    "knn_ip_top5"   -> ((s, dir) => knn(s, dir, "ip", 5)),
    "knn_l2_top5"   -> ((s, dir) => knn(s, dir, "l2", 5)),
    "knn_l1_top5"   -> ((s, dir) => knn(s, dir, "l1", 5)),
    "knn_linf_top5" -> ((s, dir) => knn(s, dir, "l_inf", 5)),
    "knn_lp3_top5"  -> ((s, dir) => knn(s, dir, "l_p", 5, metricArg = 3.0)),
    "knn_braycurtis_top5" -> ((s, dir) => knn(s, dir, "brayCurtis", 5)),
    "knn_canberra_top5"   -> ((s, dir) => knn(s, dir, "canberra", 5)),
    "knn_js_top5"   -> ((s, dir) => knn(s, dir, "jensen_shannon", 5)),
    // O6 ANN access path: IVF cells machinery, gated EXACTLY by probing all
    // nlist cells (nprobe = nlist ⇒ full coverage ⇒ result ≡ brute force ⇒
    // the cos oracle applies); the recall/speed trade of partial probing is
    // exercised by knn_ivf_pruned + SearcherSpec's recall assertion
    "knn_ivf_cos" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "IVF16,Flat", nprobe = 16))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // O6 graph-ANN access path: partition-local NSW graphs (faiss "HNSWm",
    // faiss_searcher.py:100-102). Gated EXACTLY in the exhaustive-ef regime
    // (efSearch ≥ group size ⇒ each graph's scan is provably exact ⇒ the
    // brute-force cos oracle applies — the same trick as knn_ivf_cos's
    // full probe); beam-traversal recall ≥ 0.95 is spec-gated in
    // SearcherSpec ("HNSW graph ANN: out-of-box recall…")
    "knn_hnsw" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "HNSW32", efSearch = Int.MaxValue))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // compact() oracle-gated end to end (r19): fit on a 3/5 slice, grow
    // by TWO segment adds, compact back into the fitted graph layout,
    // search at the exhaustive beam — a sound compacted graph must
    // reproduce the exact top-k over the UNION corpus (same oracle as
    // knn_hnsw; the %5 split is result-invariant because the oracle
    // scans all rows). This also pins the r19 cache hand-off through
    // the gate: the searched index is three lineage-free checkpoints
    // away from the fit (add, add, compact)
    "knn_hnsw_compact" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val fitPart = items.filter(pmod(col("vec_id"), lit(5)) < 3)
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "HNSW32", efSearch = Int.MaxValue))
        .fit(fitPart)
        .add(items.filter(pmod(col("vec_id"), lit(5)) === 3))
        .add(items.filter(pmod(col("vec_id"), lit(5)) === 4))
        .compact()
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // O9 on the RAW path (faiss_searcher.py:170-183 raw branch slices the
    // aligned matrices per k): one searchRaw at max(k), each k an array
    // truncation — exploded back to rows so every derived k hash-matches
    // the exact top-k oracle
    "knn_raw_multik" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = embSearcher(s, dir, "cos")
      val byK = model.searchRawMulti(items.filter(col("vec_id") < 10),
        Seq(3, 10), queryIdCol = Some("vec_id"))
      byK.toSeq.sortBy(_._1).map { case (k, df) =>
        df.select(lit(k).as("k"), col("vec_id").as("source_id"),
          posexplode(arrays_zip(col("sim_items"), col("sim_vals"))).as(Seq("pos", "z")))
          .select(col("k"), col("source_id"), col("pos").cast("int").as("pos"),
            col("z.sim_items").cast("long").as("sim_id"),
            col("z.sim_vals").as("sim_val"))
      }.reduce(_ unionByName _).orderBy("k", "source_id", "pos")
    }),
    // physical-path independence: the SAME exact query through the
    // distributed merge → payload-join finish (a broadcast threshold of 0
    // keeps the payload off the driver) must hash-match knn_cos_top10's
    // driver finish (both share the brute-force cos oracle)
    "knn_window_cos" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", broadcastThreshold = 0))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // O3 + the reference's norm_vec trick (faiss_searcher.py:53): inner
    // product over float32-normalized vectors ≡ cosine; vectors are
    // MATERIALIZED normalized (float-rounded) so sim_vals differ from the
    // cos kernel in the last ulps — the oracle normalizes identically
    "knn_ip_norm" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "ip", normVec = true))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 10), 5,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // O6 second ANN access path: LSH tables (faiss factory "LSH" analog).
    // Approximate, yet fully DETERMINISTIC (seeded planes) — so the entire
    // candidate-generation + re-rank pipeline is hash-match gated
    "knn_lsh_cos" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "LSH12x8"))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // joint-auto twin ("LSH0"): BOTH the table count and the hash width
    // resolve at fit from the closed-form recall model at a deterministic
    // corpus-sampled anchor cosine (the r12 fixed-12-table auto measured
    // 0.183 recall@10 at sf1 — tables must scale with bits, RECALL.md);
    // LSH12x8 above stays as the regression pin. Oracle embeds the
    // fitted model's own planes — neither bits nor tables can diverge.
    "knn_lsh_auto" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "LSH0"))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // O6 third ANN access path: product quantization (faiss "PQm") — byte
    // codes (dim·4/m× memory compression) + per-partition ADC tables.
    // Hash-match gate: the deterministically-fitted codebooks are embedded
    // into the oracle SQL (dynamicOracles); recall, compression, and
    // save/load identity are asserted in PqSpec
    // O6 + OPQ pretransform (faiss "OPQm,PQm"): eigen-balanced rotation
    // fitted from data moments, then PQ in rotated space — deterministic ⇒
    // rotation + codebooks embed into the oracle (opqOracle)
    "knn_opq_cos" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "OPQ8,PQ8"))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // O6 + refine stage (faiss "…,RFlat" / IndexRefineFlat): ADC proposes
    // k·4 candidates, kept floats re-rank exactly — gate reproduces both
    // stages in SQL (refineOracle)
    "knn_refine_cos" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "PQ8,RFlat"))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // refineKFactor override twin (r17): the ×16 pool through the same
    // two-stage plan — the scale knob RECALL.md recommends (the fixed ×4
    // pool's recall decays to 0.336 at 2M vectors) is oracle-gated, with
    // the widened candidate rank reproduced in the SQL
    "knn_refine_k16" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "PQ8,RFlat", refineKFactor = 16))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    "knn_pq_cos" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "PQ8"))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // faiss "PQ8x4": 16-centroid codebooks, two subspace codes
    // nibble-packed per byte — HALF of PQ8's already-32×-compressed
    // footprint (dim·8/m× under float32). The 4-bit scorer unpacks to
    // per-subspace table lookups, so the embedded-codebook oracle's
    // accumulation order matches at either width.
    "knn_pq4_cos" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "PQ8x4"))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // faiss `PQmx4fs` fast-scan: the SAME 16-centroid nibble codes —
    // register blocking is physical-layout-only and a logged no-op on
    // this engine's columnar ADC scan; gated against the x4 oracle to
    // prove the spelling serves identical results
    "knn_pq4fs_cos" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "PQ8x4fs"))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // PQ over a NON-dot metric: l1 decomposes per subspace like l2, so the
    // same byte codes + per-query ADC tables serve it (all 8 reference
    // metrics do — PqSpec asserts recall for each); hash-match gate via
    // the embedded-codebook oracle
    "knn_pq_l1" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "l1", indexParam = "PQ8"))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // the canonical 100 TB composition: IVF cells for pruning AND PQ byte
    // codes for memory (faiss "IVFn,PQm"); hash-match gate via the
    // embedded centroids + codebooks oracle
    "knn_ivfpq_cos" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "IVF16,PQ8", nprobe = 6))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // O6 scalar quantization (faiss "SQ8"): one byte per DIMENSION against
    // per-dim [min,max] bounds — 4× memory, much finer reconstruction than
    // PQ at equal code size. Structurally PQ with m=dim subspaces of size
    // 1 (SqIndex.levels), so the same ADC machinery serves it; hash-match
    // gate via the embedded-bounds oracle (encode formula + dequantized
    // dot reproduced in SQL)
    "knn_sq8_cos" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "SQ8"))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // 4-bit scalar quantizer (faiss "SQ4"): two dims nibble-packed per
    // byte — 8× under float32, served through the same ADC machinery
    // (⌈dim/2⌉ subspaces of 2 dims, 256 pair-decoded levels each)
    "knn_sq4_cos" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "SQ4"))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // faiss vector-transform prefix ("PCAWn,inner"): whitened PCA fitted
    // on the corpus, index trained in the 16-dim space, queries projected
    // through the same kernel — 4x less vector data for everything after
    "knn_pcaw_cos" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "PCAW16,Flat"))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // faiss "PCARn,inner": PCA + a seeded random rotation composed into
    // the kernel (variance balancing before PQ); orthonormal ⇒ same
    // neighbor geometry as plain PCA, and the oracle replays the same
    // seeded composition
    "knn_pcar_cos" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "PCAR16,Flat"))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // train-free IEEE half quantizer (faiss "SQfp16"): 2 bytes per dim,
    // decoded inside the scoring projection (one codegen span with the
    // distance kernel) — no ADC tables, no fitted state at all
    "knn_fp16_cos" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "SQfp16"))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // IVF cells + SQ bytes (faiss "IVFn,SQ8"): partition pruning AND 4×
    // compression — the right composition when PQ's reconstruction error
    // is too coarse but floats still don't fit
    "knn_ivfsq_cos" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "IVF16,SQ8", nprobe = 6))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // the 100 TB shape: scan only nprobe/nlist of the corpus per query
    // (approximate by design; hash-match gate via the embedded-centroid
    // oracle, recall additionally asserted in spec)
    "knn_ivf_pruned" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "IVF16,Flat", nprobe = 4))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // auto-sized twin ("IVF0"): nlist resolved at fit to ~sqrt(n) — the
    // config a growing corpus actually runs (a pinned nlist=16 degrades
    // toward full scans as n outgrows it); IVF16 above stays as the
    // regression pin. Oracle refits identically and embeds the resolved
    // centroids — searcher-side mirror of dedup_embedding_blocked_auto.
    "knn_ivf_auto" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "IVF0", nprobe = 4))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // auto-nprobe twin (nprobe=0): resolved at search time against the
    // FITTED cell count (~1/8 of cells, floor 4,
    // IndexStrategy.resolveNprobe). Completes the auto family — a fixed
    // nprobe scans a shrinking corpus fraction as auto-nlist grows ∝ √n,
    // and recall decays with scale (RECALL.md measures 0.8 → 0.46 across
    // a decade); the auto holds the fraction instead
    "knn_ivf_nprobe_auto" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "IVF0", nprobe = 0))
        .fit(items)
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // O14/O15 persistence: fit → save → load → search must equal a direct
    // search, so it shares the knn cos oracle
    "save_load_search" -> ((s, dir) => {
      val model = embSearcher(s, dir, "cos")
      val path = java.nio.file.Files.createTempDirectory("graft-slq").toString
      model.save(path)
      val loaded = SparkSearcher.load(s, path,
        new PassthroughEncoder("embedding"))
      knnSelect(loaded.search(table(s, dir, "embeddings").filter(col("vec_id") < 10),
        10, keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // O9: multi-K — one search at max(ks), k=3 derived by rank filter
    "knn_multik_k3" -> ((s, dir) => {
      val model = embSearcher(s, dir, "cos")
      val queries = table(s, dir, "embeddings").filter(col("vec_id") < 10)
      val byK = model.searchMulti(queries, Seq(1, 3, 5), keepRankNo = true,
        queryIdCol = Some("vec_id"))
      byK(3)
        .select(col("vec_id").as("source_id"), col("rank_no"),
          col("sim_item").cast("long").as("sim_id"),
          col("label").as("sim_label"), col("sim_val"))
        .orderBy("source_id", "rank_no")
    }),
    // O20-O23: whitening fit (distributed moments + driver SVD) + transform.
    // Output exploded to scalar rows — the driver's pandas comparison can't
    // sort/hash array cells (round-1 failure). Hash-match gate: DuckDB
    // can't run the SVD, but the FITTED kernel/bias are deterministic and
    // embedded into the oracle SQL (dynamicOracles); invariants (mean≈0,
    // cov≈I, save/load round-trip) are additionally asserted in
    // WhiteningSpec.
    "whitening_transform" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val model = new VecsWhitening(16).fit(emb, "embedding")
      model.transform(emb, "embedding")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "w")))
        .orderBy("vec_id", "pos")
    }),
    // the whitening CONTRACT as an oracle-checkable aggregate: the
    // transformed output must have per-component mean ≈ 0 and covariance
    // ≈ I (that IS what whitening means). Spark computes the real moments
    // of the real transform and compares against the spec tolerances; the
    // oracle pins the expected verdicts + shape, so any kernel regression
    // flips a flag and hash-mismatches. (The SVD itself is not
    // SQL-expressible — this checks its defining invariants instead.)
    "whitening_invariants" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val model = new VecsWhitening(16).fit(emb, "embedding")
      // moments of the TRANSFORMED output via the same one-pass
      // treeAggregate the fit uses (O(d²) state, map-side combined) — no
      // exploded-pair shuffle; the d×d verdict arithmetic is driver-local
      val (n, sum, outer) = VecsWhitening.moments(
        model.transform(emb, "embedding"), "embedding")
      val d = 16
      val mu = sum.map(_ / n)
      var maxMean = 0.0
      var maxDiagErr = 0.0
      var maxOffdiag = 0.0
      for (i <- 0 until d) {
        maxMean = math.max(maxMean, math.abs(mu(i)))
        for (j <- 0 until d) {
          val c = outer(i * d + j) / n - mu(i) * mu(j)
          if (i == j) maxDiagErr = math.max(maxDiagErr, math.abs(c - 1.0))
          else maxOffdiag = math.max(maxOffdiag, math.abs(c))
        }
      }
      val sp = s
      import sp.implicits._
      Seq((if (maxMean < 1e-3) 1 else 0, if (maxDiagErr < 0.05) 1 else 0,
        if (maxOffdiag < 0.05) 1 else 0, d, n))
        .toDF("mean_ok", "diag_ok", "offdiag_ok", "n_components", "n_rows")
    }),
    // O16/O17 encoder flow (README flow 1): feature-hash encoder over the
    // documents table, payload carried into results. Polynomial-hash
    // embedding ⇒ full DuckDB oracle; doc_id as both row_id and query id
    // keeps every rank deterministic.
    "knn_hash_encoder" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
        .select("text", "doc_id", "lang", "n_chars")
        .withColumn("m_doc_id", col("doc_id"))
      val model = new SparkSearcher(new graft.encoders.HashEncoder(64),
        SearcherParams(idCol = Some("doc_id"))).fit(docs)
      model.search(docs.filter(col("doc_id") < 10), topK = 5,
          keepRankNo = true, queryIdCol = Some("doc_id"))
        .select(col("doc_id").as("source_id"), col("rank_no"), col("sim_val"),
          col("m_doc_id"), col("lang"), col("n_chars"))
        .orderBy("source_id", "rank_no")
    }),
    // O13 cal_sim: 1×N dot-product scoring, descending (needs no fit —
    // encoder-only, like the reference); items = texts of doc_id 0..19
    "cal_sim" -> ((s, dir) => {
      val items2 = table(s, dir, "documents").filter(col("doc_id") < 20)
        .orderBy("doc_id").select("text")
        .collect().map(_.getString(0)).toSeq
      new SparkSearcher(new graft.encoders.HashEncoder(64), SearcherParams())
        .calSim(s, items2.head, items2)
    }),
    // O19 cross-encoder surface: pair-interaction scoring of consecutive
    // documents (embedding-encoder reduction: dot of the two embeddings)
    "pair_score" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("text")).filter(col("doc_id") < 40)
      val pairs = docs.select(col("doc_id").as("id_a"), col("text").as("text_a"))
        .join(docs.select((col("doc_id") - 1).as("id_a"),
          col("doc_id").as("id_b"), col("text").as("text_b")), "id_a")
      new graft.encoders.PairScorer(new graft.encoders.HashEncoder(64))
        .score(pairs, "text_a", "text_b")
        .select("id_a", "id_b", "score")
        .orderBy("id_a")
    }),
    // multimodal: binary ingestion → batched stub decode → per-modality
    // stats (deterministic code-point fake ⇒ full oracle)
    "multimodal_features" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      val media = Multimodal.ingestFromText(
        table(s, dir, "documents"), "doc_id", "text", "text")
      Multimodal.featureStats(Multimodal.decodeFeatures(media, dim = 16))
        .orderBy("modality")
    }),
    // REAL binary ingest → decode → similarity search, end to end: actual
    // files read through Spark's binaryFile source (a deterministic
    // printable-ASCII fixture, so the DuckDB oracle can read_blob the
    // SAME bytes), featurized by the pluggable codec, then cos top-3 over
    // the features. Exercises the full media pipeline the way a user
    // would point it at an image directory.
    "multimodal_binary_knn" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      val media = Multimodal.ingestBinaryFiles(
        s, Multimodal.ensureBinaryFixture(), "image", glob = "*.bin")
      val feats = Multimodal.decodeFeatures(media, dim = 16)
        .select(col("media_id"), col("features"))
      val model = new SparkSearcher(new PassthroughEncoder("features"),
        SearcherParams(itemCol = Some("media_id"), idCol = Some("media_id"),
          measurement = "cos"))
        .fit(feats)
      model.search(feats, 3, keepRankNo = true, queryIdCol = Some("media_id"))
        .select(col("media_id").as("source_id"), col("rank_no"),
          col("sim_item").cast("long").as("sim_id"), col("sim_val"))
        .orderBy("source_id", "rank_no")
    }),
    // multimodal frame sampling: payload → 64-byte frames, every 2nd kept,
    // per-frame stub features, per-media aggregate (DECIMAL-disciplined).
    // frameSample slices BYTES (the honest video-payload contract); DuckDB
    // can only substr CHARACTERS — byte==char positions only for ASCII, so
    // BOTH sides filter to ASCII docs (octet_length = char length), making
    // the gate corpus-independent instead of silently assuming ASCII.
    "multimodal_frames" -> ((s, dir) => {
      import graft.multimodal.Multimodal
      val media = Multimodal.ingestFromText(
        table(s, dir, "documents").filter(col("doc_id") < 100)
          .filter(octet_length(col("text")) === length(col("text"))),
        "doc_id", "text", "video")
      val frames = Multimodal.frameSample(media, frameBytes = 64, everyK = 2)
      Multimodal.decodeFeatures(frames, dim = 16)
        .select(col("media_id"),
          aggregate(col("features"), lit(0.0),
            (acc, x) => acc + x.cast("double")).as("fs"))
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(col("fs").cast(DecimalType(28, 10))).cast("double").as("sum_feat"))
        .orderBy("media_id")
    }),
    // incremental index maintenance under IVF (faiss add-after-train):
    // fit on the even half, add() the odd half — added rows are assigned
    // to the FITTED centroids, so in the exhaustive regime (nprobe =
    // nlist) the result must equal a search over the union, regardless of
    // which half trained the cells. The brute-force oracle IS that union.
    "knn_add_ivf" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "IVF16,Flat", nprobe = 16))
        .fit(items.filter(col("vec_id") % 2 === 0))
        .add(items.filter(col("vec_id") % 2 === 1))
      knnSelect(model.search(items.filter(col("vec_id") < 10), 10,
        keepRankNo = true, queryIdCol = Some("vec_id")))
    }),
    // range search over a QUANTIZED index: SQfp16 decodes its codes in
    // the scoring projection and ranges over the reconstruction (faiss SQ
    // range_search semantics; lossy byte codes still reject, like faiss)
    "knn_range_fp16" -> ((s, dir) => {
      val items = table(s, dir, "embeddings")
      val model = new SparkSearcher(new PassthroughEncoder("embedding"),
        SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
          measurement = "cos", indexParam = "SQfp16"))
        .fit(items)
      model.searchRange(items.filter(col("vec_id") < 10), threshold = 0.35,
          queryIdCol = Some("vec_id"))
        .select(col("vec_id").as("source_id"),
          col("sim_item").cast("long").as("sim_id"),
          col("label").as("sim_label"), col("sim_val"))
        .orderBy("source_id", "sim_id")
    }),
    // faiss range_search analog: ALL neighbors within the similarity
    // threshold (no top-k bound) — exact scan, fully SQL-expressible,
    // hash-match gated
    "knn_range_cos" -> ((s, dir) => {
      val model = embSearcher(s, dir, "cos")
      val queries = table(s, dir, "embeddings").filter(col("vec_id") < 10)
      model.searchRange(queries, threshold = 0.35, queryIdCol = Some("vec_id"))
        .select(col("vec_id").as("source_id"),
          col("sim_item").cast("long").as("sim_id"),
          col("label").as("sim_label"), col("sim_val"))
        .orderBy("source_id", "sim_id")
    }),
    // semantic-pipeline clustering: k-means cluster assignment over the
    // embedding corpus; hash-match gate via the embedded-centroid oracle,
    // nearest-assignment + determinism additionally spec-gated in DedupSpec
    "cluster_assign" -> ((s, dir) => Dedup.embeddingClusters(
      table(s, dir, "embeddings"), "vec_id", "embedding", k = 16)
      .orderBy("vec_id")),
    // cluster-quota diversity sampling: k-means cells (same deterministic
    // quantizer as cluster_assign) + per-cell top-10 by vector norm —
    // one assignment scan, one shuffle by cell with a WindowGroupLimit-
    // bounded rank filter; no semantic region floods the sample
    "q_diversity_sample" -> ((s, dir) => Dedup.clusterQuotaSample(
      table(s, dir, "embeddings"), "vec_id", "embedding", k = 16, quota = 10,
      scoreCol = sqrt(graft.functions.VectorFunctions.vec_dot(
        col("embedding"), col("embedding"))))
      .orderBy("cluster", "rank")),
    // decontamination: cross-corpus exact w-gram overlap — "benchmark"
    // docs (doc_id < 50) leaked into the "training corpus" (the rest);
    // bipartite prefix-filtered set-similarity join, hash-match oracle
    "decontam_overlap" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.crossJaccardPairs(
        docs.filter(col("doc_id") < 50), docs.filter(col("doc_id") >= 50),
        "doc_id", "text", w = 3, threshold = 0.5)
        .orderBy("left_id", "right_id")
    }),
    // exact token-8-gram decontamination (the GPT-3/PaLM eval-overlap
    // check): eval = a deterministic ~5% slice, train = the rest; the
    // eval gram-fingerprint set broadcasts into ONE shuffle-free train
    // scan. Oracle joins gram STRINGS — the 64-bit fingerprint collision
    // canary, same discipline as dedup_spans.
    "decontam_ngrams" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.decontaminateNgrams(
        docs.filter(pmod(col("doc_id"), lit(20)) =!= 7),
        docs.filter(pmod(col("doc_id"), lit(20)) === 7),
        "doc_id", "text", w = 8)
        .orderBy("doc_id")
    }),
    // twin gate: FORCE the equi-join fallback (maxBroadcast = 0) — the
    // path a corpus-sized eval set takes when its gram table outgrows the
    // driver broadcast bound. Same static oracle: both paths are exact.
    "decontam_ngrams_join" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.decontaminateNgrams(
        docs.filter(pmod(col("doc_id"), lit(20)) =!= 7),
        docs.filter(pmod(col("doc_id"), lit(20)) === 7),
        "doc_id", "text", w = 8, maxBroadcast = 0L)
        .orderBy("doc_id")
    }),
    // dedup: exact (hash aggregation on a prefix key)
    "dedup_exact_prefix" -> ((s, dir) => Dedup.exact(
      table(s, dir, "documents").withColumn("prefix", substring(col("text"), 1, 20)),
      Seq("prefix"), "doc_id")
      .orderBy("prefix")),
    // dedup: EXACT word-3-gram Jaccard pairs via prefix-filtered
    // set-similarity join (word shingles: low per-shingle document
    // frequency keeps the candidate join selective at corpus scale)
    "dedup_jaccard_w3" -> ((s, dir) => Dedup.jaccardPairsWords(
      table(s, dir, "documents"), "doc_id", "text", w = 3, threshold = 0.5)
      .orderBy("id_a", "id_b")),
    // dedup: MinHash-LSH banded candidates + verify (no SQL oracle: xxhash64)
    "dedup_minhash" -> ((s, dir) => Dedup.minHashNearDups(
      table(s, dir, "documents"), "doc_id", "text",
      n = 5, numHashes = 64, bands = 8, threshold = 0.5)
      .orderBy("id_a", "id_b")),
    // dedup: one-permutation-hashing signature twin — O(grams) kernel
    // (one permuted hash per gram, 64 bins, rotation densification)
    // feeding the same banding + exact-Jaccard verify; its own oracle
    // reproduces the binning and densification arithmetic bit-for-bit
    "dedup_minhash_oph" -> ((s, dir) => Dedup.minHashNearDupsOph(
      table(s, dir, "documents"), "doc_id", "text",
      n = 5, numBins = 64, bands = 8, threshold = 0.5)
      .orderBy("id_a", "id_b")),
    // dedup: near-dup CLUSTERS — candidate pairs → connected components
    // (keep-one-per-cluster is the step after pair generation in a real
    // dedup pipeline). Gates the PRIMARY API at its r16-flipped default:
    // the OPH candidate pipeline, the measured sf100 scale route (2.48×
    // control vs classic's 3.94× in r15); recursive-CTE reachability oracle
    "dedup_cluster" -> ((s, dir) => Dedup.dedupCluster(
      table(s, dir, "documents"), "doc_id", "text",
      n = 5, numHashes = 64, bands = 8, threshold = 0.5)
      .orderBy("id")),
    // the explicit-knob classic twin (scheme="classic": per-gram 64-perm
    // signatures — reference-semantics bit-compatibility; its signature
    // pass alone costs 2.4× OPH's at sf100)
    "dedup_cluster_classic" -> ((s, dir) => Dedup.dedupCluster(
      table(s, dir, "documents"), "doc_id", "text",
      n = 5, numHashes = 64, bands = 8, threshold = 0.5, scheme = "classic")
      .orderBy("id")),
    // dedup: the CLEANED corpus at document level — pairs → CC → keep the
    // canonical (min-id) doc per duplicate cluster. The deliverable of a
    // near-dup pipeline (dedup_lines is its line-level sibling); gates the
    // primary API's r16 default (OPH) end-to-end against its own
    // recursive-CTE oracle
    "dedup_corpus" -> ((s, dir) => Dedup.dedupCorpus(
      table(s, dir, "documents"), "doc_id", "text",
      n = 5, numHashes = 64, bands = 8, threshold = 0.5)
      .orderBy("doc_id")),
    // the cleaned corpus under the explicit classic knob
    "dedup_corpus_classic" -> ((s, dir) => Dedup.dedupCorpus(
      table(s, dir, "documents"), "doc_id", "text",
      n = 5, numHashes = 64, bands = 8, threshold = 0.5, scheme = "classic")
      .orderBy("doc_id")),
    // dedup: SimHash hamming-band pairs, block count PINNED at the old
    // fixed policy (maxHamming+1 single-block bands) for plan determinism
    "dedup_simhash" -> ((s, dir) => Dedup.simHashNearDups(
      table(s, dir, "documents"), "doc_id", "text", maxHamming = 3, chunks = 4)
      .orderBy("id_a", "id_b")),
    // corpus-scaled banding (the 100 TB default): chunks=0 resolves the
    // block count from n (simHashAutoChunks). The RESULT is invariant to
    // the block count — generalized pigeonhole is exact — so the same
    // static oracle gates both; this twin keeps the official bench honest
    // about the auto path's cost
    "dedup_simhash_auto" -> ((s, dir) => Dedup.simHashNearDups(
      table(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
      .orderBy("id_a", "id_b")),
    // clone-guard twin: classMinRows=0 FORCES the class-level banding the
    // operator takes above 2^20 rows (banding over distinct fingerprints;
    // identical-fp pairs via one self-join, cross-class pairs via two
    // linear expansion joins) — result is banding-path-invariant, so the
    // same static oracle gates it; keeps the clone path under the oracle
    // while the default gates exercise the small-corpus row path
    "dedup_simhash_classes" -> ((s, dir) => Dedup.simHashNearDups(
      table(s, dir, "documents"), "doc_id", "text", maxHamming = 3,
      classMinRows = 0L)
      .orderBy("id_a", "id_b")),
    // dedup: embedding-cosine near-dup pairs
    "dedup_embedding_cos" -> ((s, dir) => Dedup.embeddingNearDups(
      table(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4)
      .withColumn("cos", col("cos").cast("float"))
      .orderBy("id_a", "id_b")),
    // dedup: cell-blocked variant (the 100 TB shape; approximate by design,
    // hash-match gate via the embedded-centroid oracle, recall-vs-brute
    // additionally asserted in DedupSpec)
    "dedup_embedding_blocked" -> ((s, dir) => Dedup.embeddingNearDupsBlocked(
      table(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4,
      nlist = 16, nprobe = 4)
      .withColumn("cos", col("cos").cast("float"))
      .orderBy("id_a", "id_b")),
    // auto-nlist twin (nlist=0 -> occupancy-64 resolution): the operator
    // DEFAULT the 100 TB path runs — the pinned-16 gate above measures a
    // config the sf1 probe showed going ~100× on candidate dots. Resolved
    // nlist is a deterministic function of n, so the dynamic-oracle
    // machinery (refit centroids, embed as literals) hash-gates it exactly
    "dedup_embedding_blocked_auto" -> ((s, dir) => Dedup.embeddingNearDupsBlocked(
      table(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4)
      .withColumn("cos", col("cos").cast("float"))
      .orderBy("id_a", "id_b")),
    // same machinery gated EXACTLY: nprobe = nlist ⇒ every pair shares a
    // cell ⇒ output ≡ brute force ⇒ the cos-pairs oracle applies (subset
    // keeps the all-cells blow-up cheap)
    "dedup_embedding_blocked_full" -> ((s, dir) => Dedup.embeddingNearDupsBlocked(
      table(s, dir, "embeddings").filter(col("vec_id") < 800),
      "vec_id", "embedding", threshold = 0.4, nlist = 4, nprobe = 4)
      .withColumn("cos", col("cos").cast("float"))
      .orderBy("id_a", "id_b")),
    // O12 feature-sep projection: query/doc items truncated at the first
    // separator in results (faiss_searcher.py:150-156); full oracle via the
    // polynomial hash-embedding + split_part
    "search_feature_sep" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
        .select("text", "doc_id")
        .withColumn("m_doc_id", col("doc_id"))
      val model = new SparkSearcher(new graft.encoders.HashEncoder(64),
        SearcherParams(idCol = Some("doc_id"),
          docFeatureSep = Some(" "), queryFeatureSep = Some(" ")))
        .fit(docs)
      model.search(docs.filter(col("doc_id") < 10), topK = 3,
          keepRankNo = true, queryIdCol = Some("doc_id"))
        .select(col("doc_id").as("source_id"), col("rank_no"),
          col("source_item"), col("sim_item"), col("m_doc_id"))
        .orderBy("source_id", "rank_no")
    }),
    // text analysis: token counts, ratios (integer-exact + one double div;
    // one single-pass kernel, fields CSE'd in codegen)
    "text_stats" -> ((s, dir) => {
      val st = TextAnalysis.textStats(col("text"))
      table(s, dir, "documents")
        .select(col("doc_id"),
          st.getField("n_tok_ws").as("n_tok_ws"),
          st.getField("n_tok_bpe").as("n_tok_bpe"),
          st.getField("mean_tok_len").as("mean_tok_len"),
          st.getField("punct_ratio").as("punct_ratio"),
          st.getField("stopword_ratio").as("stopword_ratio"))
        .orderBy("doc_id")
    }),
    "text_quality" -> ((s, dir) => table(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")),
    // model-based quality scoring (fasttext-shaped): hashed unigram+bigram
    // linear logit, one codegen scan — the classifier-filter step of a
    // CCNet-style pipeline (heuristic text_quality prunes, this ranks).
    // Deterministic fixture weights; callers plug their own trained vector
    "text_quality_model" -> ((s, dir) => table(s, dir, "documents")
      .select(col("doc_id"),
        graft.text.QualityModel.score(col("text"),
          graft.text.QualityModel.demoWeights(512), bias = -0.1)
          .cast("float").as("score"))
      .orderBy("doc_id")),
    // LM-perplexity scoring (KenLM-filter analog, CCNet's third filter
    // alongside DSIR importance and the hashed classifier): interpolated
    // word-bigram LM fitted on the corpus itself (two word-count shuffles,
    // bounded top-K collect), scored as avg NEGATIVE LOG-LIKELIHOOD in one
    // codegen scan — ln is oracle-parity-safe, exp is not, and NLL is
    // order-isomorphic to perplexity (ppl = exp(nll))
    "text_perplexity" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val lm = graft.text.NgramLm.fit(docs, "text")
      docs.select(col("doc_id"),
        graft.text.NgramLm.score(col("text"), lm).cast("float").as("nll"))
        .orderBy("doc_id")
    }),
    "text_langid" -> ((s, dir) => table(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")),
    "text_fingerprint" -> ((s, dir) => table(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")),
    // Gopher-style repetition signals (machine-text / boilerplate filter):
    // distinct-token ratio, top token/bigram mass, duplicate-bigram
    // fraction — integer counts + one double division, bit-exact oracle
    "text_repetition" -> ((s, dir) => {
      val rep = TextAnalysis.repetitionSignals(col("text"))
      table(s, dir, "documents")
        .select(col("doc_id"),
          rep.getField("n_tok").as("n_tok"),
          rep.getField("distinct_ratio").as("distinct_ratio"),
          rep.getField("top_token_frac").as("top_token_frac"),
          rep.getField("top_bigram_frac").as("top_bigram_frac"),
          rep.getField("dup_bigram_frac").as("dup_bigram_frac"))
        .orderBy("doc_id")
    }),
    // sequence packing: docs → contiguous fixed-token-budget shards via a
    // DISTRIBUTED exclusive prefix sum (range-partition + per-partition
    // offsets — no single-partition global window); window-sum oracle
    "q_pack_tokens" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.textStats(col("text")).getField("n_tok_ws").as("n_tok"))
      operators.Relational.packByBudget(docs, "doc_id", "n_tok", budget = 1000L)
        .select(col("doc_id"), col("n_tok"), col("cum_before"), col("shard"))
        .orderBy("doc_id")
    }),
    // stratified sampling (data-mixing ratios): sampleBy with per-language
    // fractions; the gate checks each stratum's draw against its binomial
    // 5σ bound and the oracle pins the verdicts + exact stratum totals
    "q_stratified_sample" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val fractions = Map("en" -> 0.5, "de" -> 0.25, "es" -> 0.25,
        "fr" -> 0.25, "zh" -> 0.25)
      val sampled = docs.stat.sampleBy("lang", fractions, seed = 42L)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
      docs.groupBy(col("lang")).agg(count(lit(1)).as("total"))
        .join(sampled, Seq("lang"), "left")
        .withColumn("__f", element_at(
          map(fractions.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*),
          col("lang")))
        .select(col("lang"), col("total"),
          (abs(coalesce(col("n_sampled"), lit(0L)) - col("__f") * col("total")) <=
            lit(5.0) * sqrt(col("__f") * (lit(1.0) - col("__f")) * col("total")) + 1.0)
            .cast("int").as("in_bounds"))
        .orderBy("lang")
    }),
    // canonical normalization: NFC + whitespace collapse + trim, proven
    // byte-exact by fingerprinting the normalized text against the SQL
    // mirror (trim + regexp_replace) — the preprocessing step every
    // hash/dedup/tokenize pass assumes
    "text_normalize" -> ((s, dir) => table(s, dir, "documents")
      .withColumn("norm", TextAnalysis.normalize(concat(
        lit("  "), col("text"), lit("\t\t x  y\n")))) // inject edge ws
      .select(col("doc_id"), TextAnalysis.fingerprint(col("norm")).as("fp"),
        length(col("norm")).as("n_chars"))
      .orderBy("doc_id")),
    // content-addressed train/heldout split: bucket = fingerprint mod 100,
    // train < 80 — stable across runs/engines/partitionings (duplicates
    // always co-located in one split), no RNG; full hash-match oracle
    "q_split_hash" -> ((s, dir) => table(s, dir, "documents")
      .withColumn("bucket", TextAnalysis.contentSplitBucket(col("text"), 100))
      .withColumn("split", when(col("bucket") < 80, "train").otherwise("heldout"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("split")),
    // lexical relevance: BM25 top-20 for a mixed rare/common term query —
    // the keyword-search complement to vector search; integer-input double
    // math + fixed-order term sum ⇒ full hash-match oracle
    "text_bm25" -> ((s, dir) => graft.text.Relevance.bm25TopK(
      table(s, dir, "documents"), "doc_id", "text",
      terms = Seq("vector", "spark", "dup"), k = 20)
      .select(col("doc_id"), col("score").cast("float").as("score"))
      .orderBy(col("score").desc, col("doc_id"))),
    // hybrid retrieval: BM25 top-50 + dense hash-embed cosine top-50,
    // reciprocal-rank fused (1/(60+rank), Cormack et al.) — rank-based so
    // the fusion is score-scale-free and bit-reproducible in SQL; two
    // corpus scans, each ending in a bounded top-n, fusion joins two
    // 50-row lists
    "search_hybrid_rrf" -> ((s, dir) => graft.search.HybridSearch.hybridRrf(
      table(s, dir, "documents"), "doc_id", "text",
      terms = Seq("vector", "spark", "dup"),
      queryText = "vector spark dup search", k = 20, n = 50)),
    // two-stage retrieve -> rerank: BM25 recall top-50, then the pair
    // scorer (the reference's cross-encoder surface) reranks ONLY the
    // candidates — the candidate list broadcasts into one corpus scan,
    // the expensive scoring never touches the corpus
    "search_rerank_ce" -> ((s, dir) => graft.search.HybridSearch.rerank(
      table(s, dir, "documents"), "doc_id", "text",
      terms = Seq("vector", "spark", "dup"),
      queryText = "vector spark dup search", k = 10, n = 50)
      .orderBy("rank")),
    // batch-query retrieval surfaces: query SETS, the curation-run shape.
    // Lexical side is the inverted-postings multi-query BM25 (work =
    // postings volume, not |Q|·corpus); per-query top-n via rank windows
    // that compile to WindowGroupLimit (pinned in PlanShapeSpec)
    "text_bm25_multi" -> ((s, dir) => graft.text.Relevance.bm25Batch(
      table(s, dir, "documents"), "doc_id", "text",
      batchQueries(s), "qid", "terms", n = 20)
      .select(col("qid"), col("doc_id"),
        col("score").cast("float").as("score"), col("rank"))
      .orderBy("qid", "rank")),
    "search_hybrid_rrf_multi" -> ((s, dir) => graft.search.HybridSearch.hybridRrfBatch(
      table(s, dir, "documents"), "doc_id", "text",
      batchQueries(s), "qid", "terms", "qtext", k = 20, n = 50)
      .orderBy(col("qid"), col("rrf_score").desc, col("doc_id"))),
    "search_rerank_ce_multi" -> ((s, dir) => graft.search.HybridSearch.rerankBatch(
      table(s, dir, "documents"), "doc_id", "text",
      batchQueries(s), "qid", "terms", "qtext", k = 10, n = 50)
      .orderBy("qid", "rank")),
    // hard-negative mining (DPR/SimCSE prep): top-100 retrieval pool per
    // query, same-label hits (positives, incl. the query itself) dropped,
    // top-5 survivors kept in retrieval order — the search is the only
    // corpus-scale stage
    "q_hard_negatives" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      graft.search.NegativeMining.hardNegatives(
        emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", "label",
        k = 5, pool = 100)
        .orderBy("source_id", "neg_rank")
    }),
    // corpus vocabulary: token frequencies, top 100 — the vocab-building
    // step of a tokenizer pipeline; partial (map-side) counts then one
    // shuffle on token, top-n via TakeOrderedAndProject, ties on token
    "text_vocab_top100" -> ((s, dir) => table(s, dir, "documents")
      .select(explode(filter(split(lower(col("text")), "\\s+"),
        t => length(t) > 0)).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc)
      .limit(100)),
    // DSIR-style importance weighting (target = English docs): smoothed
    // unigram likelihood-ratio score per document, ascending-token fold
    // for order-stable double sums — the data-selection step of a
    // domain-targeted pretraining mix
    "text_importance" -> ((s, dir) => graft.text.Importance.importanceWeights(
      table(s, dir, "documents"), "doc_id", "text", col("lang") === "en")
      .orderBy("doc_id")),
    // relational spine: scan → filter → group → aggregate (TPC-H Q1 shape)
    "q1_agg" -> ((s, dir) => table(s, dir, "lineitem")
      .filter(col("l_shipdate") < lit("1997-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(DecimalType(20, 2))).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(20, 2))).cast("double").as("sum_base_price"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(24, 4))).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")),
    // join pipeline: broadcast dim join + group + top-n (TPC-H Q3 shape)
    "q3_join_topn" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      // REDUCING join first: broadcast the filtered dim into orders
      // BEFORE the big fact shuffle — the BUILDING segment keeps ~1/5 of
      // customers, so the li⋈o shuffle's build side shrinks 5× (inner
      // joins commute; the r17 sf100 family probe measured the
      // li-first order at 5.9× control with 29.5 GB spill — exactly the
      // join-reorder CBO would make with stats, made structural here)
      val oc = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      // aggregate BELOW the join: revenue sums only lineitem columns and
      // (o_orderkey, c_name) is functionally determined by the order key,
      // so the per-orderkey partial sum commutes with the join — the
      // map-side combine shrinks the fact shuffle 60M → ~15M narrow rows
      // and the post-join re-agg disappears (one row per key). Decimal
      // partial sums are associative, so the hash is bit-identical
      val liAgg = li.groupBy(col("l_orderkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(24, 4))).as("__rev"))
      liAgg.join(oc, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey"), col("c_name"),
          col("__rev").cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),
    // star join: fact scan + 3 broadcast dims (TPC-H Q5 shape) — the dim
    // tables stay broadcast at any fact scale
    "q5_star_join" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val su = table(s, dir, "supplier")
      val na = table(s, dir, "nation")
      val re = table(s, dir, "region").filter(col("r_name") === "ASIA")
      li.join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(na), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(re), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(24, 4))).cast("double").as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("n_name")
    }),
    // fact-to-dim join + multi-aggregate over part attributes
    "q_part_agg" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val p = table(s, dir, "part").filter(col("p_size") < 10)
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(20, 2))).cast("double").as("sum_qty"),
          max(col("p_retailprice")).as("max_price"))
        .orderBy("p_brand")
    }),
    // date functions: year/month truncation + extraction over ship dates
    "q_ship_monthly" -> ((s, dir) => table(s, dir, "lineitem")
      .groupBy(year(col("l_shipdate")).as("yr"), month(col("l_shipdate")).as("mo"))
      .agg(count(lit(1)).as("n"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(24, 4))).cast("double").as("revenue"))
      .orderBy("yr", "mo")),
    // window function: per-user running sum over event time
    "q_window_running" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      table(s, dir, "events").filter(col("user_id") < 20)
        .select(col("user_id"), col("event_id"),
          sum(col("value").cast(DecimalType(20, 2))).over(w)
            .cast("double").as("running_value"))
        .orderBy("user_id", "event_id")
    }),
    // time bucketing: hourly tumbling aggregation (batch twin of the
    // streaming windowed agg in graft.streaming). `ts` arrives as
    // epoch-nanos long (nanosAsLong); bucket with exact integer division.
    "q_events_hourly" -> ((s, dir) => table(s, dir, "events")
      .groupBy(expr("ts div 3600000000000 * 3600000000000").as("hour_ns"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(20, 2))).cast("double").as("sum_value"))
      .orderBy("hour_ns", "event_type")),
    // STREAMING, oracle-gated: the same hourly aggregation executed as a
    // real Structured Streaming job (file source, AvailableNow trigger,
    // complete-mode memory sink) — its final state must hash-match the
    // batch DuckDB oracle, proving batch/stream semantic parity
    "q_stream_hourly" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      // layout-agnostic source path: the table is a single FILE in the
      // driver testdata but a DIRECTORY of part files at any real scale
      // (ScaleGen, every production writer). The old shape — glob
      // "events.parquet" against the parent dir — matches only the file
      // layout; against a directory layout the file-stream source lists
      // NOTHING and the query "succeeds" on zero rows (found by the r16
      // sf100 streaming probe, BENCH_r16_sf100_stream.json: input_rows 0)
      val src = s"$dir/events.parquet"
      // resolve the layout through Hadoop's FileSystem so the probe works
      // on any scheme (hdfs://, s3a://, file:), not just local paths —
      // java.io.File.isDirectory is false for every non-local URI, which
      // would silently fall back to the zero-rows glob shape
      val srcPath = new org.apache.hadoop.fs.Path(src)
      val fs = srcPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val stream =
        if (fs.getFileStatus(srcPath).isDirectory)
          s.readStream.schema(schema).parquet(src)
        else s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
      // state-store partition count is pinned at query start from the
      // shuffle-partitions conf; scale-adaptive since r22 (guide §2): one
      // store per ~64 MB of source, floor 8 (measured near-optimal at
      // sf0.1 — each extra partition is per-micro-batch state-commit
      // overhead), capped at the session's configured parallelism. The
      // emitted rows are partition-independent; only the store layout moves
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      val stateParts = graft.util.Parallelism.streamStatePartitions(s, src)
      val q =
        try {
          s.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
          graft.streaming.StreamingOps.hourlyEventStats(stream)
            .writeStream.outputMode("complete").format("memory")
            .queryName("q_stream_hourly_sink")
            .trigger(Trigger.AvailableNow()).start()
        } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      q.awaitTermination(300000)
      // belt-and-braces vs the silent zero-rows failure class: a stream
      // that listed no input is a source-path bug, never a valid answer
      val inputRows = q.recentProgress.map(_.numInputRows).sum
      q.stop()
      require(inputRows > 0,
        s"q_stream_hourly read zero input rows from $src — source path/layout bug")
      s.table("q_stream_hourly_sink")
        .select(unix_micros(col("hour")).as("hour_us"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("hour_us", "event_type")
    }),
    // STREAMING sessionization, oracle-gated: a real flatMapGroupsWithState
    // job (file source, AvailableNow) whose CLOSED-session set is
    // batching-independent — a session closes only when a LATER same-user
    // event arrives with gap > 30 min, so whatever the micro-batch split,
    // the final closed set is "every session except each user's last",
    // which DuckDB reproduces as gaps-and-islands SQL. (sum_value is
    // deliberately not gated: double accumulation order across the state
    // merge isn't pinned; boundaries + counts are the session semantics.)
    "q_sessionize_stream" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val sp = s
      import sp.implicits._
      val batch = s.read.parquet(s"$dir/events.parquet")
      val schema = batch.schema
      val src = s"$dir/events.parquet"
      val srcPath = new org.apache.hadoop.fs.Path(src)
      val fs = srcPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val stream =
        if (fs.getFileStatus(srcPath).isDirectory)
          s.readStream.schema(schema).parquet(src)
        else s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
      val events = stream.select(
        col("user_id").cast("long").as("user_id"),
        graft.util.TimeCols.epochNanos(stream, "ts").as("ts_ns"),
        col("value").cast("double").as("value"))
        .as[graft.streaming.StreamingOps.SessionEvent]
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      // scale-adaptive state-store count (r22, guide §2) — see q_stream_hourly
      val stateParts = graft.util.Parallelism.streamStatePartitions(s, src)
      val q =
        try {
          s.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
          graft.streaming.StreamingOps.sessionize(events,
              gapMinutes = 30, closeOnIdle = false)
            .writeStream.outputMode("append").format("memory")
            .queryName("q_sessionize_stream_sink")
            .trigger(Trigger.AvailableNow()).start()
        } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      q.awaitTermination(300000)
      val inputRows = q.recentProgress.map(_.numInputRows).sum
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      q.stop()
      require(inputRows > 0,
        s"q_sessionize_stream read zero input rows from $src — source path/layout bug")
      // the oracle equality assumes the whole table arrives in ONE
      // micro-batch (unordered multi-batch replay would mis-merge
      // cross-batch sessions) — pin that explicitly rather than letting
      // a future maxFilesPerTrigger/default change fail the gate
      // nondeterministically by file order
      require(dataBatches == 1,
        s"q_sessionize_stream expected single-batch replay, got $dataBatches " +
          "data batches — the batch oracle no longer applies")
      s.table("q_sessionize_stream_sink")
        .select(col("user_id"), col("start_ns"), col("end_ns"), col("n_events"))
        .orderBy("user_id", "start_ns")
    }),
    // the EVICTION-path sessionizer (EventTimeTimeout — the variant a
    // long-lived stream should run: state bounded by the watermark
    // horizon, not lifetime user cardinality), oracle-gated end-to-end
    // on the deterministic single-batch replay: batch 1 closes every
    // gap-split session in-line, then the final no-data micro-batch
    // fires the event-time timers for open sessions whose end trails
    // the final watermark (max event time − 1 h) by more than the gap.
    // Both closure rules are batch-expressible, so DuckDB reproduces
    // the emitted set exactly (the r17 verdict's evidence gap #2)
    "q_sessionize_stream_bounded" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val sp = s
      import sp.implicits._
      val batch = s.read.parquet(s"$dir/events.parquet")
      val schema = batch.schema
      val src = s"$dir/events.parquet"
      val srcPath = new org.apache.hadoop.fs.Path(src)
      val fs = srcPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val stream =
        if (fs.getFileStatus(srcPath).isDirectory)
          s.readStream.schema(schema).parquet(src)
        else s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
      val events = stream.select(
        col("user_id").cast("long").as("user_id"),
        graft.util.TimeCols.epochNanos(stream, "ts").as("ts_ns"),
        col("value").cast("double").as("value"))
        .as[graft.streaming.StreamingOps.SessionEvent]
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      // scale-adaptive state-store count (r22, guide §2) — see q_stream_hourly
      val stateParts = graft.util.Parallelism.streamStatePartitions(s, src)
      val q =
        try {
          s.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
          graft.streaming.StreamingOps.sessionizeBounded(events,
              gapMinutes = 30, watermarkDelay = "1 hour")
            .writeStream.outputMode("append").format("memory")
            .queryName("q_sessionize_stream_bounded_sink")
            .trigger(Trigger.AvailableNow()).start()
        } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      q.awaitTermination(300000)
      val inputRows = q.recentProgress.map(_.numInputRows).sum
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      q.stop()
      require(inputRows > 0,
        s"q_sessionize_stream_bounded read zero input rows from $src")
      require(dataBatches == 1,
        s"q_sessionize_stream_bounded expected single-batch replay, got " +
          s"$dataBatches data batches — the batch oracle no longer applies")
      s.table("q_sessionize_stream_bounded_sink")
        .select(col("user_id"), col("start_ns"), col("end_ns"), col("n_events"))
        .orderBy("user_id", "start_ns")
    }),
    // the MULTI-BATCH regime of the eviction-path sessionizer, gated:
    // events replayed as 4 time-ordered micro-batches (orderedReplayDir —
    // production arrival order). Under ordered arrival the emitted set is
    // batch-count-invariant: every non-last session gap-closes when the
    // next event arrives (whatever batch it is in), and each user's last
    // session closes iff its event-time timer (end + gap) trails the
    // FINAL watermark — the same rule as the single-batch twin, so the
    // same oracle applies. State is evicted as the watermark advances
    // mid-stream (the property the operator exists for), which the
    // single-batch twin never exercises
    "q_sessionize_stream_bounded_ordered" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val sp = s
      import sp.implicits._
      val batch = s.read.parquet(s"$dir/events.parquet")
      val ordered = orderedReplayDir(s, s"$dir/events.parquet", "ts", numFiles = 4)
      val stream = s.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1").parquet(ordered)
      val events = stream.select(
        col("user_id").cast("long").as("user_id"),
        graft.util.TimeCols.epochNanos(stream, "ts").as("ts_ns"),
        col("value").cast("double").as("value"))
        .as[graft.streaming.StreamingOps.SessionEvent]
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      // scale-adaptive state-store count (r22, guide §2) — see q_stream_hourly
      val stateParts = graft.util.Parallelism.streamStatePartitions(s, ordered)
      val q =
        try {
          s.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
          graft.streaming.StreamingOps.sessionizeBounded(events,
              gapMinutes = 30, watermarkDelay = "1 hour")
            .writeStream.outputMode("append").format("memory")
            .queryName("q_sessionize_stream_bounded_ordered_sink")
            .trigger(Trigger.AvailableNow()).start()
        } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      q.awaitTermination(300000)
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      q.stop()
      require(dataBatches == 4,
        s"q_sessionize_stream_bounded_ordered expected 4 data batches, " +
          s"got $dataBatches — the multi-batch claim is not being tested")
      s.table("q_sessionize_stream_bounded_ordered_sink")
        .select(col("user_id"), col("start_ns"), col("end_ns"), col("n_events"))
        .orderBy("user_id", "start_ns")
    }),
    // STREAM-STREAM interval join, oracle-gated: two file-source streams
    // over the same events table (view stream → click stream), inner
    // join on user within a 10-minute lag window. Watermark + the
    // event-time range condition bound the symmetric hash join's state
    // to the horizon, not the stream length; inner matches emit in
    // append mode as they form, so the final set is the plain batch
    // interval join DuckDB reproduces directly
    "q_stream_attribution" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val src = s"$dir/events.parquet"
      val srcPath = new org.apache.hadoop.fs.Path(src)
      val fs = srcPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      // layout-agnostic source (the r16 zero-rows fix shape), one stream
      // per join side
      def stream() =
        if (fs.getFileStatus(srcPath).isDirectory)
          s.readStream.schema(schema).parquet(src)
        else s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
      val views = stream().filter(col("event_type") === "view")
        .select(col("user_id"),
          col("event_id").as("view_id"), col("ts").as("view_ts"))
      val clicks = stream().filter(col("event_type") === "click")
        .select(col("user_id"),
          col("event_id").as("click_id"), col("ts").as("click_ts"))
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      val prevNoData = s.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true")
      // scale-adaptive state-store count (r22, guide §2) — see q_stream_hourly
      val stateParts = graft.util.Parallelism.streamStatePartitions(s, src)
      val q =
        try {
          s.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
          // r21: skip the trailing no-data micro-batch. It exists to let
          // event-time operators flush on the final watermark — an INNER
          // stream-stream join emits matches eagerly in append mode, so
          // here it runs a full state-store pass (~1 s: commit every
          // store, scan for eviction) to emit zero rows. The sessionize
          // and windowed-agg gates KEEP it (their final sessions/windows
          // close on exactly that batch).
          s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
          graft.streaming.StreamingOps.attributeStream(views, clicks,
              "user_id", "view_ts", "click_ts", maxLagMinutes = 240)
            .writeStream.outputMode("append").format("memory")
            .queryName("q_stream_attribution_sink")
            .trigger(Trigger.AvailableNow()).start()
        } finally {
          s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
          s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
        }
      q.awaitTermination(300000)
      val inputRows = q.recentProgress.map(_.numInputRows).sum
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      q.stop()
      require(inputRows > 0,
        s"q_stream_attribution read zero input rows from $src — source path/layout bug")
      // equality with the batch interval join assumes BOTH sides arrive
      // in one micro-batch — across batches the 30-minute watermark may
      // evict buffered view rows and silently drop cross-batch matches.
      // Pin the assumption; the multi-batch ordered-replay completeness
      // evidence is bench/BENCH_r18_sf100_streamordered.json
      require(dataBatches == 1,
        s"q_stream_attribution expected single-batch replay, got $dataBatches " +
          "data batches — the batch oracle no longer applies")
      val out = s.table("q_stream_attribution_sink")
      out.select(col("user_id"), col("view_id"), col("click_id"),
          (graft.util.TimeCols.epochNanos(out, "click_ts") -
            graft.util.TimeCols.epochNanos(out, "view_ts")).as("lag_ns"))
        .orderBy("user_id", "view_id", "click_id")
    }),
    // the MULTI-BATCH regime of the stream-stream interval join, gated:
    // both sides replay the events table as 4 time-ordered micro-batches
    // (orderedReplayDir — production arrival order). Ordered arrival
    // means no input row is ever behind the watermark, so the inner-join
    // match set equals the batch interval join COMPLETELY — the property
    // BENCH_r18_sf100_streamordered.json measured at parity 1.000000
    // over 100M rows / 32 batches, here pinned into the correctness gate
    // (cross-batch matches must survive real mid-stream state eviction,
    // which the single-batch twin never exercises)
    "q_stream_attribution_ordered" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val batch = s.read.parquet(s"$dir/events.parquet")
      val ordered = orderedReplayDir(s, s"$dir/events.parquet", "ts", numFiles = 4)
      def stream() = s.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1").parquet(ordered)
      val views = stream().filter(col("event_type") === "view")
        .select(col("user_id"),
          col("event_id").as("view_id"), col("ts").as("view_ts"))
      val clicks = stream().filter(col("event_type") === "click")
        .select(col("user_id"),
          col("event_id").as("click_id"), col("ts").as("click_ts"))
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      val prevNoData = s.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true")
      // scale-adaptive state-store count (r22, guide §2) — see q_stream_hourly
      val stateParts = graft.util.Parallelism.streamStatePartitions(s, ordered)
      val q =
        try {
          s.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
          // r21: same no-data-batch skip as the single-batch twin — the
          // inner join emits eagerly; the trailing watermark-only batch
          // produces zero rows for a full state-store pass
          s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
          graft.streaming.StreamingOps.attributeStream(views, clicks,
              "user_id", "view_ts", "click_ts", maxLagMinutes = 240)
            .writeStream.outputMode("append").format("memory")
            .queryName("q_stream_attribution_ordered_sink")
            .trigger(Trigger.AvailableNow()).start()
        } finally {
          s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
          s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
        }
      q.awaitTermination(300000)
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      q.stop()
      require(dataBatches == 4,
        s"q_stream_attribution_ordered expected 4 data batches, got " +
          s"$dataBatches — the multi-batch claim is not being tested")
      val out = s.table("q_stream_attribution_ordered_sink")
      out.select(col("user_id"), col("view_id"), col("click_id"),
          (graft.util.TimeCols.epochNanos(out, "click_ts") -
            graft.util.TimeCols.epochNanos(out, "view_ts")).as("lag_ns"))
        .orderBy("user_id", "view_id", "click_id")
    }),
    // pure-SQL surface: engine kernels registered on the session and
    // driven entirely from spark.sql — the cluster-SQL-user experience,
    // gated against the same double-precision formulas in DuckDB
    "q_sql_surface" -> ((s, dir) => {
      GraftFunctions.register(s)
      table(s, dir, "embeddings").createOrReplaceTempView("emb_v")
      s.sql(
        """SELECT a.vec_id id_a, b.vec_id id_b,
          |  CAST(vec_cosine(a.embedding, b.embedding) AS FLOAT) cos,
          |  CAST(vec_l1(a.embedding, b.embedding) AS FLOAT) l1,
          |  CAST(vec_l2sq(a.embedding, b.embedding) AS FLOAT) l2sq
          |FROM emb_v a JOIN emb_v b ON b.vec_id = a.vec_id + 1
          |WHERE a.vec_id < 200
          |ORDER BY id_a""".stripMargin)
    }),
    // join variants: LEFT SEMI (has orders) / LEFT ANTI (never ordered)
    "q_semi_anti" -> ((s, dir) => {
      val c = table(s, dir, "customer").select(col("c_custkey"))
      val o = table(s, dir, "orders").select(col("o_custkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .withColumn("tag", lit("has_orders"))
        .union(c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .withColumn("tag", lit("no_orders")))
        .orderBy("c_custkey", "tag")
    }),
    // range-frame window: per-user trailing-1-hour value sum over event time
    "q_window_range" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-3600000000L, 0)
      table(s, dir, "events").filter(col("user_id") < 20)
        .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"),
          col("value"))
        .select(col("user_id"), col("event_id"),
          sum(col("value").cast(DecimalType(20, 2))).over(w)
            .cast("double").as("trailing_hour_value"))
        .orderBy("user_id", "event_id")
    }),
    // distinct aggregate: exact per-type distinct users (expand + two-phase)
    "q_distinct_agg" -> ((s, dir) => table(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")),
    // set operations: INTERSECT / EXCEPT with distinct-set semantics
    "q_setops" -> ((s, dir) => {
      val building = table(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("k"))
      val spenders = table(s, dir, "orders")
        .filter(col("o_totalprice") > 200000).select(col("o_custkey").as("k"))
      building.intersect(spenders).withColumn("tag", lit("both"))
        .union(building.except(spenders).withColumn("tag", lit("only_building")))
        .orderBy("k", "tag")
    }),
    // multi-level aggregation: ROLLUP with sentinel'd group keys (so the
    // null super-aggregate rows hash-compare cleanly)
    // same pre-agg-below-Expand shape as q_cube (additive aggregates)
    "q_rollup" -> ((s, dir) => {
      val base = table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast(DecimalType(20, 2))).as("__sq"),
          count(lit(1)).as("__n"))
      base.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("__sq")).cast("double").as("sum_qty"),
          sum(col("__n")).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"))
        .orderBy("rf", "ls")
    }),
    // LSH-bucketed embedding near-dup: deterministic sign-random-projection
    // candidates + exact cos verify — fully oracle-checked ANN pipeline
    "dedup_embedding_lsh" -> ((s, dir) => Dedup.embeddingNearDupsLsh(
      table(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4,
      numTables = 12, bits = 6, seed = 42L)
      .withColumn("cos", col("cos").cast("float"))
      .orderBy("id_a", "id_b")),
    // joint-auto twin (bits=0, tables=0 -> the cost-model resolution under
    // a recall floor, autoLshConfig): the operator DEFAULT the 100 TB path
    // runs — tables scale WITH the bits so estimated anchor recall holds
    // across decades instead of decaying with p^bits. The resolved config
    // is a deterministic function of n, so the dynamic-oracle machinery
    // hash-gates it exactly
    "dedup_embedding_lsh_auto" -> ((s, dir) => Dedup.embeddingNearDupsLsh(
      table(s, dir, "embeddings"), "vec_id", "embedding",
      threshold = LshAutoGateThreshold, seed = 42L)
      .withColumn("cos", col("cos").cast("float"))
      .orderBy("id_a", "id_b")),
    // as-of join: each event joined to the user's latest prior purchase
    // (union + one window pass — single shuffle, no range explosion)
    "q_asof_join" -> ((s, dir) => {
      import graft.operators.Relational
      // microsecond timestamps on both sides: DuckDB TIMESTAMP is µs —
      // comparing raw nanos against µs-truncated oracle times could flip
      // same-µs as-of matches
      val ev = table(s, dir, "events").filter(col("user_id") < 50)
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("ts_us"), col("event_type"))
      // aggregate purchase value per (user, ts) so as-of keys are unique
      val p = table(s, dir, "events")
        .filter(col("event_type") === "purchase" && col("user_id") < 50)
        .groupBy(col("user_id"), expr("ts div 1000").as("pts"))
        .agg(sum(col("value").cast(DecimalType(20, 2))).cast("double").as("pv"))
      Relational.asofJoin(ev, p, keys = Seq("user_id"),
          leftTime = "ts_us", rightTime = "pts", valueCols = Seq("pv"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("event_type"), col("pv").as("last_purchase_value"))
        .orderBy("event_id")
    }),
    // batch sessionization (gap > 30 min): lag + running sum, one shuffle —
    // batch twin of the flatMapGroupsWithState streaming sessionizer
    "q_sessionize" -> ((s, dir) => {
      val ev = table(s, dir, "events").filter(col("user_id") < 100)
        .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("value"))
      graft.operators.Relational.sessionizeBatch(
          ev, "user_id", "ts_us", "value", gap = 1800000000L)
        .orderBy("user_id", "session_no")
    }),
    // exact discrete percentiles by rank selection (values, not
    // interpolations — bit-exact, order-independent)
    "q_percentiles" -> ((s, dir) => graft.operators.Relational.exactPercentiles(
      table(s, dir, "lineitem"), Seq("l_returnflag"), "l_extendedprice",
      Seq(0.5, 0.9, 0.99))
      .orderBy("l_returnflag")),
    // same percentiles via two-pass histogram narrowing (the 100 TB path:
    // no full per-group sort — two hash aggs + a window over only the
    // rank-candidate buckets). Rank selection is identical, so the twin
    // shares q_percentiles' oracle
    "q_percentiles_hist" -> ((s, dir) => graft.operators.Relational.exactPercentilesHist(
      table(s, dir, "lineitem"), Seq("l_returnflag"), "l_extendedprice",
      Seq(0.5, 0.9, 0.99))
      .orderBy("l_returnflag")),
    // CUBE over two dims with sentinel'd keys (rollup's sibling)
    // aggregate BEFORE the grouping-set expansion: count/sum are
    // additive, so cube over the (rf, ls) BASE aggregate ≡ cube over raw
    // rows (exact decimal addition is associative) — the Expand operator
    // then multiplies ~6 base rows instead of the whole fact table
    // (sf100 before: 75 s / 332 s of task GC expanding 60M rows ×4 sets)
    "q_cube" -> ((s, dir) => {
      val base = table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast(DecimalType(20, 2))).as("__sq"),
          count(lit(1)).as("__n"))
      base.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("__sq")).cast("double").as("sum_qty"),
          sum(col("__n")).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"))
        .orderBy("rf", "ls")
    }),
    // salted equi-join (hot-key mitigation): output must equal the plain
    // join, which is exactly what the oracle checks. 4 buckets: enough to
    // demonstrate/spread a hot key while halving the build-side
    // replication premium of the 8-bucket round-2 demo
    // PRUNE BEFORE SALTING: the deterministic salt hashes every input
    // column, so any width you pass is width the 4×-replicated shuffle
    // carries — the unpruned shape spilled 51.7 GB at sf100 (r17 family
    // probe) for a 3-column aggregate
    // AGGREGATE BELOW THE SALTED JOIN (r18, the q3 commute applied here):
    // the gate's final aggregate only reads lineitem columns, grouped by
    // an orders attribute functionally determined by the join key — so
    // per-l_orderkey partial count/sum commutes with the salted equi-join.
    // The 4×-replicated SMJ's big side shrinks 60M fact rows → ~15M
    // one-per-key partials BEFORE salting; decimal partial sums are
    // associative, so the result is bit-identical to the plain join
    "q_salted_join" -> ((s, dir) => {
      val liAgg = table(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("__cnt"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(24, 4))).as("__rev"))
      // buildHash="big": the pre-agg bounded the big side to one narrow
      // row per key, so the per-partition build map is distinct-keys/
      // partitions (~45 MB at sf100/32 partitions) — dropping BOTH SMJ
      // sorts (118 s / 36 GB spill → hash probe-only; the r17 OOM was
      // building the UNBOUNDED 60M replicated side, a different shape)
      graft.operators.Relational.saltedEquiJoin(
        liAgg,
        table(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        "l_orderkey", "o_orderkey", saltBuckets = 4, buildHash = "big")
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("__cnt")).as("n"),
          sum(col("__rev")).cast("double").as("revenue"))
        .orderBy("o_orderpriority")
    }),
    // auto buckets, COMBINED shape (r19): the bucket count is derived
    // from the caller's OWN pre-agg — one narrow aggregation over the
    // pinned one-row-per-key frame (resolveSaltBucketsFromPreAgg) instead
    // of the internal key histogram that re-executed the 60M-row groupBy
    // per call at sf100 — and the join takes the hash-build shape on the
    // bounded side. One-row-per-key ⇒ share 1/N ⇒ 1 bucket (salting
    // honestly skipped: the skew was absorbed by the pre-agg), so the
    // plan is a plain shuffled-hash join whose build map is exactly
    // distinct-keys/partitions. The pin makes measurement + join share
    // ONE lineitem scan; the entry is plan-keyed, so repeated runs reuse
    // it. The >1-bucket auto branch and the internal saltBuckets=0
    // histogram stay spec-pinned on a synthetic hot key (RelationalSpec)
    "q_salted_join_auto" -> ((s, dir) => {
      val liAgg = table(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("__cnt"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(24, 4))).as("__rev"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val b = graft.operators.Relational
        .resolveSaltBucketsFromPreAgg(liAgg, "__cnt")
      val joined = graft.operators.Relational.saltedEquiJoin(
        liAgg,
        table(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        "l_orderkey", "o_orderkey", saltBuckets = b, buildHash = "big")
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("__cnt")).as("n"),
          sum(col("__rev")).cast("double").as("revenue"))
        .orderBy("o_orderpriority")
      // drain the bounded result (5 priority groups) INSIDE the gate so
      // the corpus-scale pre-agg cache can be released before returning
      // (ADVICE r19: the plan-keyed entry didn't grow per call, but one
      // ~distinct-orderkeys-sized block per sf dir stayed resident for
      // the process lifetime of any run touching this gate). The caller
      // gets a driver-local frame — measurement + join still share ONE
      // lineitem scan via the pre-agg within the call
      val rows = joined.collect().toSeq
      val schema = joined.schema
      liAgg.unpersist()
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
    }),
    // sources/sinks end-to-end: parquet → CSV → JSON → aggregate; every
    // hop re-reads with an explicit schema (no inference drift), and the
    // final numbers must hash-match the straight-parquet oracle
    "q_csv_json_roundtrip" -> ((s, dir) => {
      val cols = Seq("l_orderkey", "l_returnflag", "l_quantity")
      // r21: the CSV/JSON writers serialize at the scan's partitioning —
      // a 1-3-split lineitem put the whole row-serialization cost on one
      // task; the floor parallelizes the sinks and is a no-op once the
      // scan has >= parallelism splits. Result rows are a GROUP BY over
      // the re-read — file-layout independent.
      val li = graft.util.Parallelism.scanFloor(
        table(s, dir, "lineitem").select(cols.map(col): _*), "l_orderkey")
      val tmp = java.nio.file.Files.createTempDirectory("graft-rt").toString
      li.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
      val fromCsv = s.read.schema(li.schema).option("header", "true")
        .csv(s"$tmp/csv")
      fromCsv.write.mode("overwrite").json(s"$tmp/json")
      s.read.schema(li.schema).json(s"$tmp/json")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(20, 2))).cast("double").as("sum_qty"),
          sum(col("l_orderkey")).as("sum_key"))
        .orderBy("l_returnflag")
    }),
    // columnar sink beyond parquet: ORC round-trip (explicit schema on
    // re-read), numbers must hash-match the straight-parquet oracle
    "q_orc_roundtrip" -> ((s, dir) => {
      val p = table(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-orc").toString
      p.write.mode("overwrite").orc(s"$tmp/orc")
      s.read.schema(p.schema).orc(s"$tmp/orc")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(col("p_retailprice").cast(DecimalType(20, 2))).cast("double").as("sum_price"),
          sum(col("p_partkey")).as("sum_key"))
        .orderBy("p_brand")
    }),
    // the COMPOSED curation pipeline a training-data run would execute:
    // quality-score filter → language gate → exact dedup (survivor = min
    // doc_id) → corpus stats; every stage is an engine kernel and the whole
    // chain still hash-matches one DuckDB query
    "pipeline_curation" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val scored = docs.select(col("doc_id"), col("text"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.langId(col("text")).as("lang"))
        .filter(col("quality") >= 0.5 && col("lang") === "en")
      val deduped = scored.groupBy(col("text"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"),
          min(col("quality")).as("quality")) // constant per text group
      deduped.agg(
        count(lit(1)).as("n_docs"),
        sum(col("keep_id")).as("sum_keep_id"),
        sum(col("n_copies")).as("n_before_dedup"),
        sum(col("quality").cast(DecimalType(20, 10))).cast("double").as("sum_quality"))
    }),
    // dedup: duplicated-SPAN flagging (Lee et al. granularity) — docs
    // sharing any 8-token gram with >= 2 docs; explode → hash agg →
    // equi-join on gram, nothing quadratic
    "dedup_ngram_spans" -> ((s, dir) => Dedup.duplicatedSpanDocs(
      table(s, dir, "documents"), "doc_id", "text", w = 8, minDf = 2)
      .orderBy("doc_id")),
    // dedup: line-level REMOVAL returning the cleaned corpus (Lee et al.
    // substring dedup at exact line granularity). The synthetic corpus is
    // single-line, so the gate first reshapes each document into 10-token
    // lines — a deterministic formatter both engines reproduce — then
    // keeps only each ≥8-char line's global first occurrence
    "dedup_lines" -> ((s, dir) => {
      Dedup.dedupLines(boilerReshaped(s, dir), "doc_id", "text", minLen = 8)
        .orderBy("doc_id")
    }),
    // scale-path twin: smallCorpusBytes=0 FORCES the narrow (doc_id, pos,
    // lh) persist (one-pass byte-scan line kernel) + positional
    // re-extraction of the duplicated minority that the operator engages
    // only past the Catalyst size estimate — result is path-invariant,
    // so the same static oracle gates it
    "dedup_lines_narrow" -> ((s, dir) => {
      Dedup.dedupLines(boilerReshaped(s, dir), "doc_id", "text", minLen = 8,
          smallCorpusBytes = 0L)
        .orderBy("doc_id")
    }),
    // boilerplate-line removal: the frequency-threshold sibling of
    // dedup_lines — a pseudo-line (same 10-token reshape) occurring in ≥3
    // distinct documents is boilerplate and removed EVERYWHERE (no first
    // occurrence kept); fingerprint shuffle, string-grouped oracle as the
    // collision canary
    "text_boilerplate" -> ((s, dir) => {
      Dedup.removeBoilerplate(boilerReshaped(s, dir), "doc_id", "text",
          minDocs = 3, minLen = 8)
        .orderBy("doc_id")
    }),
    // scale-path twin: smallCorpusBytes=0 FORCES the narrow
    // (doc_id, pos, lh) persist + positional candidate re-extraction the
    // operator engages only past the Catalyst size estimate — result is
    // path-invariant, so the same static oracle gates it
    "text_boilerplate_narrow" -> ((s, dir) => {
      Dedup.removeBoilerplate(boilerReshaped(s, dir), "doc_id", "text",
          minDocs = 3, minLen = 8, smallCorpusBytes = 0L)
        .orderBy("doc_id")
    }),
    // paragraph-level exact dedup (the Gopher preprocessing step): same
    // keep-global-first machinery as dedup_lines but at paragraph
    // granularity through the multi-character "\n\n" delimiter path —
    // docs reshaped into 25-token paragraphs first (synthetic corpus is
    // single-line)
    "dedup_paragraphs" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val toks = filter(split(col("text"), " "), t => length(t) > 0)
      val np = floor((size(toks) + lit(24)) / lit(25)).cast("int")
      val reshaped = docs.select(col("doc_id"),
        when(col("text").isNull, lit(null).cast("string"))
          .when(size(toks) === 0, lit(""))
          .otherwise(array_join(transform(sequence(lit(0), np - 1),
            i => array_join(slice(toks, i * 25 + 1, lit(25)), " ")), "\n\n"))
          .as("text"))
      Dedup.dedupLines(reshaped, "doc_id", "text", minLen = 8, delim = "\n\n")
        .orderBy("doc_id")
    }),
    // span-level substring dedup: every duplicated 8-token window keeps
    // only its global first occurrence; all other occurrences are masked
    // out of the rebuilt text (the finest Lee-et-al granularity — line
    // level is dedup_lines, document level is dedup_corpus)
    "dedup_spans" -> ((s, dir) =>
      Dedup.dedupSpans(table(s, dir, "documents"), "doc_id", "text", w = 8)
        .orderBy("doc_id")),
    // skew-guard twin: minHotOcc=0 + hotDf=2 FORCE the hot-gram broadcast
    // split (heavy-hitter first-occurrence table broadcasts, cold residual
    // join keeps bounded fan-in) that the operator engages only past 2^20
    // hot occurrences — result is split-invariant, so the same static
    // oracle gates it
    "dedup_spans_hot" -> ((s, dir) =>
      Dedup.dedupSpans(table(s, dir, "documents"), "doc_id", "text", w = 8,
          hotDf = 2, minHotOcc = 0L)
        .orderBy("doc_id")),
    // Gopher rule filter: per-doc rule statistics + verdicts in one scan
    "text_gopher" -> ((s, dir) => table(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.gopherFlags(col("text")).as("g"))
      .select(col("doc_id"), col("g.n_words"), col("g.mean_word_len"),
        col("g.alpha_ratio"), col("g.symbol_ratio"), col("g.n_stop"),
        col("g.word_count_ok"), col("g.mean_len_ok"), col("g.symbol_ok"),
        col("g.alpha_ok"), col("g.stop_ok"), col("g.keep"))
      .orderBy("doc_id")),
    // context-window chunking: 32-token windows, 8 tokens of overlap
    "text_chunk" -> ((s, dir) =>
      TextAnalysis.chunkByTokens(table(s, dir, "documents"), "doc_id", "text",
          maxTokens = 32, overlap = 8)
        .orderBy("doc_id", "chunk_id")),
    // trainable BPE: merge table fitted from the corpus word-frequency
    // histogram (one shuffle + bounded driver loop), then one stateless
    // encode scan; the oracle re-fits the same deterministic model and
    // replays the encode as a recursive CTE over the embedded merges
    "text_bpe" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val model = graft.text.BpeTokenizer.fit(docs, "text")
      graft.text.BpeTokenizer.tokenize(docs, "doc_id", "text", model)
        .orderBy("doc_id")
    }),
    // tokenize → pack end to end: corpus-fitted BPE token counts feed the
    // distributed-prefix-sum shard packer — the tokenizer/packing handoff
    // every pretraining pipeline runs between curation and batching (null
    // text packs as 0 tokens)
    "pipeline_tokenize" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val model = graft.text.BpeTokenizer.fit(docs, "text")
      val counted = graft.text.BpeTokenizer.tokenize(docs, "doc_id", "text", model)
        .select(col("doc_id"), coalesce(col("n_bpe"), lit(0L)).as("n_bpe"))
      operators.Relational.packByBudget(counted, "doc_id", "n_bpe", budget = 512L)
        .select(col("doc_id"), col("n_bpe"), col("cum_before"), col("shard"))
        .orderBy("doc_id")
    }),
    // the round-9 operators composed end to end — rule filter → span-level
    // dedup over the survivors → context-window chunking — summarized as
    // chunk count + token mass + content fingerprint sum (rolling-hash,
    // SQL-reproducible), so the gate pins every stage's output
    "pipeline_curation_v2" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val kept = docs.select(col("doc_id"), col("text"),
          TextAnalysis.gopherFlags(col("text")).as("g"))
        .filter(col("g.word_count_ok") === 1 && col("g.mean_len_ok") === 1)
        .select("doc_id", "text")
      val cleaned = Dedup.dedupSpans(kept, "doc_id", "text", w = 8)
      val chunks = TextAnalysis.chunkByTokens(cleaned, "doc_id", "text_dedup",
        maxTokens = 32, overlap = 8)
      chunks.agg(
        count(lit(1)).as("n_chunks"),
        sum(col("n_tokens")).cast("long").as("sum_tokens"),
        sum(TextAnalysis.fingerprint(col("chunk_text"))).cast("long").as("sum_fp"))
    }),
    // quality top-p filter: keep the best 30% by heuristic quality score.
    // The survival threshold is the exact rank-selection quantile at
    // ceil(0.7*n) — computed via the two-hash-agg histogram path (no full
    // sort) and broadcast as a 1-row literal into the second scan
    "pipeline_quality_topp" -> ((s, dir) => {
      val scored = table(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
      graft.operators.Relational.topFraction(scored, col("quality"), p = 0.3)
        .orderBy("doc_id")
    }),
    // PII scrubbing over deterministic synthetic PII (the corpus carries
    // none): the SAME augmented text is built by both engines from
    // doc_id, then redacted with the shared RE2-compatible pattern set
    "pii_redact" -> ((s, dir) => {
      val docs = table(s, dir, "documents").filter(col("doc_id") < 500)
      val raw = concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@mail.example.com call "),
        lpad(pmod(col("doc_id") * 7, lit(1000)).cast("string"), 3, "0"),
        lit("-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit("."), pmod(col("doc_id") * 3, lit(256)).cast("string"),
        lit(" card 4111-1111-1111-"),
        lpad(pmod(col("doc_id") * 13, lit(10000)).cast("string"), 4, "0"))
      docs.select(col("doc_id"),
          raw.as("raw"))
        .select(col("doc_id"),
          TextAnalysis.redactPii(col("raw")).as("clean"),
          TextAnalysis.piiCount(col("raw")).cast("long").as("n_pii"))
        .orderBy("doc_id")
    }),
    // corpus-level collocation mining: top-50 adjacent bigrams by exact
    // likelihood ratio (PMI sans log — see TextAnalysis.collocations)
    "text_collocations" -> ((s, dir) =>
      TextAnalysis.collocations(table(s, dir, "documents"), "text",
        minCount = 5, topN = 50)),
    // source-mixing weights (the data-mixture step of a training run):
    // per-source token mass and a sqrt-damped sampling weight relative to
    // the largest source — sqrt is IEEE-correctly-rounded (pow(x, 0.7)
    // is not), so the weight is bit-reproducible
    "q_source_mix" -> ((s, dir) => {
      val perSource = table(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCountWs(col("text")).cast("long")).as("n_tokens"))
      val top = perSource.agg(max(col("n_tokens")).as("max_tokens"))
      perSource.crossJoin(broadcast(top))
        .withColumn("mix_weight",
          sqrt(col("n_tokens").cast("double")) / sqrt(col("max_tokens").cast("double")))
        .select("source", "n_docs", "n_tokens", "mix_weight")
        .orderBy("source")
    }),
    // temperature-damped mixing APPLIED: per-source keep rate
    // (n_tok/max)^(1/4) via repeated sqrt (bit-reproducible), then a
    // deterministic content-hash Bernoulli subsample at that rate —
    // weights AND realized sample sizes pinned per source
    "q_source_mix_temp" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val weights = operators.Relational.temperatureMixWeights(
        docs, "source", TextAnalysis.tokenCountWs(col("text")), temperature = 4)
      val kept = operators.Relational.mixSample(
          docs.select(col("source"), TextAnalysis.fingerprint(col("text")).as("__fp")),
          "source", col("__fp"), weights)
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      weights.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_tokens"), col("mix_weight"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("source")
    }),
    // outer joins: LEFT JOIN against a filtered dim forces unmatched rows;
    // the null-group aggregate proves null-preserving join + agg semantics
    "q_outer_join" -> ((s, dir) => {
      val richCust = table(s, dir, "customer")
        .filter(col("c_acctbal") > 5000).select("c_custkey", "c_mktsegment")
      table(s, dir, "orders")
        .join(richCust, col("o_custkey") === col("c_custkey"), "left")
        .groupBy(coalesce(col("c_mktsegment"), lit("NO_RICH_CUSTOMER")).as("segment"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(20, 2))).cast("double").as("sum_price"))
        .orderBy("segment")
    }),
    // GROUPING SETS: the generalized multi-granularity aggregate
    // (rollup/cube's explicit form), driven through the SQL surface
    "q_grouping_sets" -> ((s, dir) => {
      table(s, dir, "lineitem").createOrReplaceTempView("li_gs")
      // same pre-agg-below-Expand shape as q_cube/q_rollup: the sets all
      // derive from the (rf, ls) base aggregate, so Expand multiplies ~6
      // rows instead of the fact table (additive aggregates commute)
      s.sql("""
        WITH base AS (
          SELECT l_returnflag, l_linestatus, count(*) n,
                 sum(CAST(l_quantity AS DECIMAL(20,2))) sq
          FROM li_gs GROUP BY 1, 2)
        SELECT coalesce(l_returnflag, 'ALL') rf,
               coalesce(l_linestatus, 'ALL') ls,
               CAST(sum(n) AS BIGINT) n,
               CAST(sum(sq) AS DOUBLE) sum_qty
        FROM base
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        ORDER BY rf, ls""")
    }),
    // bucketed tables: both join sides bucketed+sorted on the key, so the
    // sort-merge join runs with NO shuffle of either side — the persistent
    // co-location that kills the dominant exchange on a 100 TB fact-fact
    // join (PlanShapeSpec asserts the exchange-free shape)
    "q_bucketed_join" -> ((s, dir) => {
      // a previous SESSION's managed-table location survives in the
      // warehouse dir while the new in-memory catalog has never heard of
      // the table — drop both the catalog entry and the orphan directory
      val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath
      Seq("li_bucketed", "ord_bucketed").foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new java.io.File(wh, t)
        if (loc.exists) org.apache.commons.io.FileUtils.deleteDirectory(loc)
      }
      // pre-partition ON the bucket hash (repartition(n, key) IS Spark's
      // bucket assignment): each write task then holds exactly one bucket —
      // n files instead of tasks × buckets, one sorted run per task.
      // Bucket count scales with parallelism (output-invariant): a fixed
      // 8 means 8 tasks sort the WHOLE fact table however big it grows —
      // at sf100 that was 7.5M rows/task and 20 GB of sort spill (r17
      // family probe); at 100 TB it would be the only thing running
      val buckets = math.max(8, s.sparkContext.defaultParallelism)
      table(s, dir, "lineitem").select("l_orderkey", "l_quantity")
        .repartition(buckets, col("l_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_bucketed")
      table(s, dir, "orders").select("o_orderkey", "o_orderpriority")
        .repartition(buckets, col("o_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey").saveAsTable("ord_bucketed")
      s.table("li_bucketed").hint("merge")
        .join(s.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(20, 2))).cast("double").as("sum_qty"))
        .orderBy("o_orderpriority")
    }),
    // sketches: HLL++ cardinality and GK quantile estimates — the
    // fixed-memory substitutes for exact distinct/percentile at 100 TB.
    // Gate shape mirrors whitening_invariants: Spark checks the sketch
    // against its own exact computation, the oracle pins the verdicts and
    // the EXACT cardinality (which DuckDB recomputes exactly)
    "q_sketch_bounds" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      ev.agg(
          approx_count_distinct(col("user_id")).as("acd"),
          countDistinct(col("user_id")).as("ncd"),
          percentile_approx(col("value"), lit(0.5), lit(1000)).as("p50a"),
          expr("percentile(value, 0.5)").as("p50"),
          min(col("value")).as("vmin"), max(col("value")).as("vmax"))
        .select(
          // default rsd 5% → 3σ bound 15%
          (abs(col("acd") - col("ncd")) <= col("ncd") * 0.15).cast("int").as("acd_ok"),
          ((abs(col("p50a") - col("p50")) <= (col("vmax") - col("vmin")) * 0.05) &&
            col("p50a").between(col("vmin"), col("vmax"))).cast("int").as("p50_ok"),
          col("ncd").as("n_users"))
    }),
    // semi-structured: JSON extraction + aggregation over events.props
    "q_json_extract" -> ((s, dir) => table(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy("event_type")),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "knn_cos_top10" -> knnOracle("cos", 10),
    "knn_batch_cos" -> knnOracle("cos", 5, maxQ = 500),
    // exhaustive-ef graph batch is provably exact -> same brute oracle
    "knn_batch_hnsw" -> knnOracle("cos", 5, maxQ = 500),
    // the degenerate-LSH fallback serves the EXACT kernel by design
    "knn_batch_lsh_fallback" -> knnOracle("cos", 5, maxQ = 500),
    "knn_batch_hnsw_loaded" -> knnOracle("cos", 5, maxQ = 500),
    // static despite being a quantizer gate: fp16 is train-free
    "knn_fp16_cos" -> fp16Oracle(10),
    "knn_ip_top5"   -> knnOracle("ip", 5),
    "knn_l2_top5"   -> knnOracle("l2", 5),
    "knn_l1_top5"   -> knnOracle("l1", 5),
    "knn_linf_top5" -> knnOracle("l_inf", 5),
    "knn_lp3_top5"  -> knnOracle("l_p3", 5),
    "knn_braycurtis_top5" -> knnOracle("brayCurtis", 5),
    "knn_canberra_top5"   -> knnOracle("canberra", 5),
    "knn_js_top5"   -> knnOracle("jensen_shannon", 5),
    "knn_multik_k3" -> knnOracle("cos", 3),
    "save_load_search" -> knnOracle("cos", 10),
    // IVF probing all cells ≡ exact ⇒ brute-force oracle applies
    "knn_ivf_cos" -> knnOracle("cos", 10),
    // add-after-fit in the exhaustive regime ≡ search over the union
    "knn_add_ivf" -> knnOracle("cos", 10),
    "knn_range_fp16" -> fp16RangeOracle(0.35),
    "knn_window_cos" -> knnOracle("cos", 10),
    "knn_hnsw" -> knnOracle("cos", 10),
    // fit→add→add→compact in the exhaustive regime ≡ exact over the union
    "knn_hnsw_compact" -> knnOracle("cos", 10),
    // raw multi-K: every derived k must equal the exact top-k (the slice of
    // a rank-ordered max-K array IS the top-k, prefix property)
    "knn_raw_multik" ->
      s"""WITH q AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings WHERE vec_id < 10),
         |x AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         |s AS (SELECT q.vec_id source_id, x.vec_id sim_id,
         |      list_dot_product(q.v, x.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(x.v, x.v))) c
         |      FROM q CROSS JOIN x),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source_id ORDER BY c DESC, sim_id) rn FROM s)
         |SELECT k, source_id, CAST(rn - 1 AS INT) pos, sim_id, CAST(c AS FLOAT) sim_val
         |FROM r CROSS JOIN (SELECT UNNEST([3, 10]) k) t WHERE rn <= k
         |ORDER BY k, source_id, pos""".stripMargin.replace("\n", " "),
    "knn_ip_norm" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
        |n0 AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) nrm FROM e),
        |f AS (SELECT vec_id, label, CASE WHEN nrm = 0 THEN list_transform(v, x -> (x::FLOAT)::DOUBLE)
        |  ELSE list_transform(v, x -> ((x / nrm)::FLOAT)::DOUBLE) END v FROM n0),
        |q AS (SELECT * FROM f WHERE vec_id < 10),
        |s AS (SELECT q.vec_id source_id, x.vec_id sim_id, x.label sim_label,
        |  list_dot_product(q.v, x.v) c FROM q CROSS JOIN f x),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source_id ORDER BY c DESC, sim_id) rn FROM s)
        |SELECT source_id, CAST(rn - 1 AS INT) rank_no, sim_id, sim_label, CAST(c AS FLOAT) sim_val
        |FROM r WHERE rn <= 5 ORDER BY source_id, rank_no""".stripMargin.replace("\n", " "),
    // LSH: same seeded planes embedded — candidates + re-rank reproduced
    "knn_lsh_cos" -> {
      val planes = graft.search.SignLsh.planes(numTables = 12, bits = 8, dim = 64, seed = 42L)
      val bucketExprs = graft.search.SignLsh.bucketsSql("v", planes)
        .mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
         |b0 AS (SELECT vec_id, $bucketExprs bs FROM e),
         |bk AS (SELECT vec_id, r.range tbl, bs[r.range + 1] bkt FROM b0 CROSS JOIN range(0, 12) r),
         |qb AS (SELECT * FROM bk WHERE vec_id < 10),
         |cd AS (SELECT DISTINCT q.vec_id qid, x.vec_id xid FROM qb q JOIN bk x
         |  ON q.tbl = x.tbl AND q.bkt = x.bkt),
         |s AS (SELECT cd.qid source_id, cd.xid sim_id, ex.label sim_label,
         |  list_dot_product(eq.v, ex.v) / (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(ex.v, ex.v))) c
         |  FROM cd JOIN e eq ON eq.vec_id = cd.qid JOIN e ex ON ex.vec_id = cd.xid),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source_id ORDER BY c DESC, sim_id) rn FROM s)
         |SELECT source_id, CAST(rn - 1 AS INT) rank_no, sim_id, sim_label, CAST(c AS FLOAT) sim_val
         |FROM r WHERE rn <= 10 ORDER BY source_id, rank_no""".stripMargin.replace("\n", " ")
    },
    "knn_hash_encoder" -> hashKnnOracle(5,
      "qid source_id, CAST(rn - 1 AS INT) rank_no, CAST(c AS FLOAT) sim_val, " +
        "xid m_doc_id, lang, n_chars"),
    "search_feature_sep" -> hashKnnOracle(3,
      "qid source_id, CAST(rn - 1 AS INT) rank_no, " +
        "split_part(qtext, ' ', 1) source_item, split_part(xtext, ' ', 1) sim_item, " +
        "xid m_doc_id"),
    "cal_sim" ->
      s"""WITH d0 AS (SELECT doc_id, text, ${HashEmbedKernel.sqlRawVec("text", 64)} v0
         |  FROM documents WHERE doc_id < 20),
         |${HashEmbedKernel.normCtes("d0")},
         |q AS (SELECT v FROM fv WHERE doc_id = 0)
         |SELECT fv.text item, CAST(list_dot_product(fv.v, q.v) AS FLOAT) score
         |FROM fv CROSS JOIN q""".stripMargin.replace("\n", " "),
    "pair_score" ->
      s"""WITH d0 AS (SELECT doc_id, text, ${HashEmbedKernel.sqlRawVec("text", 64)} v0
         |  FROM documents WHERE doc_id < 40),
         |${HashEmbedKernel.normCtes("d0")}
         |SELECT a.doc_id id_a, b.doc_id id_b,
         |  CAST(list_dot_product(a.v, b.v) AS FLOAT) score
         |FROM fv a JOIN fv b ON b.doc_id = a.doc_id + 1
         |ORDER BY id_a""".stripMargin.replace("\n", " "),
    "dedup_minhash" -> minhashOracle(n = 5, numHashes = 64, bands = 8, threshold = 0.5),
    "dedup_minhash_oph" -> minhashOphOracle(n = 5, k = 64, bands = 8, threshold = 0.5),
    // the primary gates ride the r16 OPH default; the _classic twins pin
    // the explicit-knob route against the per-gram multi-perm arithmetic
    "dedup_cluster" -> minhashOphClusterOracle(n = 5, k = 64, bands = 8, threshold = 0.5),
    "dedup_cluster_classic" -> minhashClusterOracle(n = 5, numHashes = 64, bands = 8, threshold = 0.5),
    // same pair CTEs + reachability as the cluster oracle, then the
    // cleaned corpus: every document except non-canonical cluster members
    "dedup_corpus_classic" ->
      s"""WITH RECURSIVE ${minhashPairCtes(5, 64, 8, 0.5)},
         |ed AS (SELECT id_a u, id_b v FROM mp UNION SELECT id_b, id_a FROM mp),
         |reach(id, comp) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM ed)
         |  UNION
         |  SELECT ed.u, reach.comp FROM ed JOIN reach ON ed.v = reach.id),
         |dropped AS (SELECT id FROM reach GROUP BY id HAVING min(comp) <> id)
         |SELECT doc_id, text, lang, source, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM dropped)
         |ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // same reachability shape over the OPH pair CTEs — the primary gate
    "dedup_corpus" ->
      s"""WITH RECURSIVE ${minhashOphPairCtes(5, 64, 8, 0.5)},
         |ed AS (SELECT id_a u, id_b v FROM mp UNION SELECT id_b, id_a FROM mp),
         |reach(id, comp) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM ed)
         |  UNION
         |  SELECT ed.u, reach.comp FROM ed JOIN reach ON ed.v = reach.id),
         |dropped AS (SELECT id FROM reach GROUP BY id HAVING min(comp) <> id)
         |SELECT doc_id, text, lang, source, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM dropped)
         |ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "dedup_simhash" -> simhashOracle(maxHamming = 3),
    // the result set is banding-invariant (exact pigeonhole), so the same
    // oracle gates the corpus-scaled auto-banding twin AND the forced
    // class-level-banding twin (class vs row banding is bit-identical)
    "dedup_simhash_auto" -> simhashOracle(maxHamming = 3),
    "dedup_simhash_classes" -> simhashOracle(maxHamming = 3),
    "multimodal_features" ->
      """WITH m AS (SELECT doc_id media_id, 'text' modality,
        |  octet_length(encode(text)) payload_bytes, text FROM documents),
        |h AS (SELECT media_id, modality, payload_bytes,
        |  list_transform(range(0, 16), i -> len(list_filter(
        |    list_transform(regexp_extract_all(text, '.'), ch -> ascii(ch) % 16), c -> c = i))) hist FROM m),
        |n0 AS (SELECT *, sqrt(list_sum(list_transform(hist, c -> (c * c)::DOUBLE))) nrm FROM h),
        |f AS (SELECT modality, payload_bytes, CASE WHEN nrm = 0 THEN 0.0 ELSE
        |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(hist, c -> ((c::DOUBLE / nrm)::FLOAT)::DOUBLE)),
        |    (a, x) -> a + x) END fs FROM n0)
        |SELECT modality, count(*) n_media, CAST(sum(payload_bytes) AS BIGINT) total_bytes,
        |  CAST(sum(CAST(fs AS DECIMAL(28,10))) AS DOUBLE) sum_feat
        |FROM f GROUP BY modality ORDER BY modality""".stripMargin.replace("\n", " "),
    // the ingest gate reads the SAME fixture bytes the Spark side wrote
    // (Verify runs first): read_blob → stub-codec histogram features →
    // brute-force cos top-3 with the engine's tie-break (score DESC, id)
    "multimodal_binary_knn" ->
      """WITH b AS (SELECT CAST(regexp_extract(filename, '(\d+)\.bin$', 1) AS BIGINT) media_id,
        |  decode(content) s FROM read_blob('/tmp/graft_media_fixture/*.bin')),
        |h AS (SELECT media_id, list_transform(range(0, 16), i -> len(list_filter(
        |  list_transform(regexp_extract_all(s, '.'), ch -> ascii(ch) % 16), c -> c = i))) hist FROM b),
        |n0 AS (SELECT media_id, hist, sqrt(list_sum(list_transform(hist, c -> (c * c)::DOUBLE))) nrm FROM h),
        |f AS (SELECT media_id, CASE WHEN nrm = 0 THEN list_transform(hist, c -> 0.0)
        |  ELSE list_transform(hist, c -> ((c::DOUBLE / nrm)::FLOAT)::DOUBLE) END v FROM n0),
        |sc AS (SELECT q.media_id qid, x.media_id xid,
        |  list_dot_product(q.v, x.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(x.v, x.v))) score
        |  FROM f q CROSS JOIN f x),
        |r AS (SELECT sc.*, row_number() OVER (PARTITION BY qid ORDER BY score DESC, xid) rn FROM sc)
        |SELECT qid source_id, CAST(rn - 1 AS INT) rank_no, xid sim_id, CAST(score AS FLOAT) sim_val
        |FROM r WHERE rn <= 3 ORDER BY source_id, rank_no""".stripMargin.replace("\n", " "),
    "multimodal_frames" ->
      """WITH m AS (SELECT doc_id media_id, text FROM documents
        |  WHERE doc_id < 100 AND octet_length(encode(text)) = length(text)),
        |fr AS (SELECT media_id, unnest(range(0, CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT))) fno, text FROM m),
        |fs AS (SELECT media_id, fno, substr(text, CAST(fno * 64 + 1 AS INT), 64) frame FROM fr WHERE fno % 2 = 0),
        |h AS (SELECT media_id, fno,
        |  list_transform(range(0, 16), i -> len(list_filter(
        |    list_transform(regexp_extract_all(frame, '.'), ch -> ascii(ch) % 16), c -> c = i))) hist FROM fs),
        |n0 AS (SELECT *, sqrt(list_sum(list_transform(hist, c -> (c * c)::DOUBLE))) nrm FROM h),
        |f AS (SELECT media_id, CASE WHEN nrm = 0 THEN 0.0 ELSE
        |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(hist, c -> ((c::DOUBLE / nrm)::FLOAT)::DOUBLE)),
        |    (a, x) -> a + x) END fsum FROM n0)
        |SELECT media_id, count(*) n_frames,
        |  CAST(sum(CAST(fsum AS DECIMAL(28,10))) AS DOUBLE) sum_feat
        |FROM f GROUP BY media_id ORDER BY media_id""".stripMargin.replace("\n", " "),
    "dedup_embedding_blocked_full" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings WHERE vec_id < 800),
        |p AS (SELECT a.vec_id id_a, b.vec_id id_b,
        |  list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) c
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, CAST(c AS FLOAT) cos FROM p WHERE c >= 0.4
        |ORDER BY id_a, id_b""".stripMargin.replace("\n", " "),
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE) sum_base_price,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,4))) AS DOUBLE) sum_disc_price,
        | count(*) count_order
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1997-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("\n", " "),
    "dedup_exact_prefix" ->
      """SELECT substr(text, 1, 20) prefix, min(doc_id) keep_id, count(*) n_dups
        |FROM documents GROUP BY 1 ORDER BY prefix""".stripMargin.replace("\n", " "),
    "dedup_jaccard_w3" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) w
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(w) - 2, 0) + 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) s FROM t),
        |ex AS (SELECT doc_id, len(s) sz, unnest(s) sg FROM sh),
        |j AS (SELECT a.doc_id id_a, b.doc_id id_b, a.sz sz_a, b.sz sz_b, count(*) c
        |  FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT id_a, id_b, c::DOUBLE / (sz_a + sz_b - c) jaccard FROM j
        |WHERE c::DOUBLE / (sz_a + sz_b - c) >= 0.5 ORDER BY id_a, id_b""".stripMargin.replace("\n", " "),
    "decontam_overlap" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) w
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(w) - 2, 0) + 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) s FROM t),
        |ex AS (SELECT doc_id, len(s) sz, unnest(s) sg FROM sh WHERE len(s) > 0),
        |j AS (SELECT a.doc_id left_id, b.doc_id right_id, a.sz sz_a, b.sz sz_b, count(*) c
        |  FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < 50 AND b.doc_id >= 50
        |  GROUP BY 1, 2, 3, 4)
        |SELECT left_id, right_id, c::DOUBLE / (sz_a + sz_b - c) jaccard FROM j
        |WHERE c::DOUBLE / (sz_a + sz_b - c) >= 0.5 ORDER BY left_id, right_id""".stripMargin.replace("\n", " "),
    "decontam_ngrams" ->
      """WITH b0 AS (SELECT doc_id, CASE WHEN text IS NULL THEN NULL
        |  ELSE list_filter(str_split(text, ' '), t -> len(t) > 0) END toks FROM documents),
        |g0 AS (SELECT doc_id, unnest(range(0, len(toks) - 7)) gp FROM b0
        |  WHERE toks IS NOT NULL AND len(toks) >= 8),
        |gs AS (SELECT g0.doc_id, array_to_string(b0.toks[g0.gp+1 : g0.gp+8], chr(1)) gram
        |  FROM g0 JOIN b0 USING (doc_id)),
        |ev AS (SELECT DISTINCT gram FROM gs WHERE doc_id % 20 = 7),
        |h AS (SELECT doc_id, count(*) n_hits, count(DISTINCT gram) n_distinct
        |  FROM gs JOIN ev USING (gram) WHERE doc_id % 20 <> 7 GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) n_hits,
        |  CAST(coalesce(h.n_distinct, 0) AS BIGINT) n_distinct,
        |  CAST(CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 1 ELSE 0 END AS INT) contaminated
        |FROM documents d LEFT JOIN h USING (doc_id)
        |WHERE d.doc_id % 20 <> 7 ORDER BY d.doc_id""".stripMargin.replace("\n", " "),
    "dedup_embedding_cos" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |p AS (SELECT a.vec_id id_a, b.vec_id id_b,
        |  list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) c
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, CAST(c AS FLOAT) cos FROM p WHERE c >= 0.4
        |ORDER BY id_a, id_b""".stripMargin.replace("\n", " "),
    "text_stats" ->
      """SELECT doc_id,
        | len(list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0)) n_tok_ws,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) n_tok_bpe,
        | CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0)) = 0 THEN 0.0
        |   ELSE list_sum(list_transform(list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0), t -> len(t)::BIGINT))::DOUBLE
        |        / len(list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0)) END mean_tok_len,
        | CASE WHEN len(text) = 0 THEN 0.0
        |   ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE / len(text) END punct_ratio,
        | CASE WHEN len(list_filter(regexp_split_to_array(text, '\s+'), t -> len(t) > 0)) = 0 THEN 0.0
        |   ELSE len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |     t -> len(t) > 0 AND t IN ('the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it')))::DOUBLE
        |        / len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0)) END stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // SQL lives next to the kernel (QualityModel.oracleSql) so scorer and
    // oracle evolve together; weights are deterministic -> static entry
    "text_quality_model" -> graft.text.QualityModel.oracleSql(
      "documents", "doc_id", "text",
      graft.text.QualityModel.demoWeights(512), -0.1),
    "text_quality" ->
      """WITH t AS (SELECT doc_id, text,
        |  list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) toks,
        |  list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) ltoks
        | FROM documents),
        |c AS (SELECT doc_id,
        |  least(len(text)::DOUBLE / 400.0, 1.0) ls,
        |  CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE list_sum(list_transform(toks, x -> len(x)::BIGINT))::DOUBLE / len(toks) END mtl,
        |  CASE WHEN len(ltoks) = 0 THEN 0.0
        |    ELSE len(list_filter(ltoks, x -> x IN ('the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it')))::DOUBLE / len(ltoks) END sw,
        |  CASE WHEN len(text) = 0 THEN 0.0
        |    ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE / len(text) END pr
        | FROM t)
        |SELECT doc_id,
        |  ls * 0.25 + (CASE WHEN mtl >= 3.0 AND mtl <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.25
        |  + (CASE WHEN sw >= 0.05 THEN 1.0 ELSE sw * 20.0 END) * 0.25
        |  + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE greatest(0.0, 1.0 - (pr - 0.2) * 2.0) END) * 0.25 quality
        |FROM c ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // same quality expression, then the rank-selection threshold at
    // ceil(0.7*n) (ties at the threshold all survive)
    "pipeline_quality_topp" ->
      """WITH t AS (SELECT doc_id, text,
        |  list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) toks,
        |  list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) ltoks
        | FROM documents),
        |c AS (SELECT doc_id,
        |  least(len(text)::DOUBLE / 400.0, 1.0) ls,
        |  CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE list_sum(list_transform(toks, x -> len(x)::BIGINT))::DOUBLE / len(toks) END mtl,
        |  CASE WHEN len(ltoks) = 0 THEN 0.0
        |    ELSE len(list_filter(ltoks, x -> x IN ('the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it')))::DOUBLE / len(ltoks) END sw,
        |  CASE WHEN len(text) = 0 THEN 0.0
        |    ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE / len(text) END pr
        | FROM t),
        |sc AS (SELECT doc_id,
        |  ls * 0.25 + (CASE WHEN mtl >= 3.0 AND mtl <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.25
        |  + (CASE WHEN sw >= 0.05 THEN 1.0 ELSE sw * 20.0 END) * 0.25
        |  + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE greatest(0.0, 1.0 - (pr - 0.2) * 2.0) END) * 0.25 quality
        |FROM c),
        |r AS (SELECT *, row_number() OVER (ORDER BY quality) rn, count(*) OVER () n FROM sc),
        |th AS (SELECT max(CASE WHEN rn = ceil(0.7 * n) THEN quality END) thr FROM r)
        |SELECT doc_id, quality FROM sc CROSS JOIN th
        |WHERE quality >= thr ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "text_langid" ->
      s"""${langidCtesSql("documents")}
         |SELECT doc_id, CASE ${langidCaseSql} ELSE 'und' END lang_pred
         |FROM w ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "text_fingerprint" ->
      """SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
        | list_transform(regexp_extract_all(text, '.'), ch -> ascii(ch)::BIGINT)),
        | (acc, c) -> (acc * 31 + c) % 1000000007) fp
        |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // repetition signals: per-doc token/bigram multiplicity via list
    // functions (quadratic per doc is fine in an oracle; the engine side
    // is a one-pass hash-map kernel)
    "text_repetition" ->
      """WITH t AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) toks FROM documents),
        |c AS (SELECT doc_id, toks, len(toks) n_tok,
        |  list_transform(range(1, len(toks)), i -> list_extract(toks, i) || ' ' || list_extract(toks, i + 1)) bgs FROM t),
        |m AS (SELECT doc_id, n_tok,
        |  len(list_distinct(toks)) n_distinct,
        |  CASE WHEN n_tok = 0 THEN 0 ELSE
        |    list_max(list_transform(list_distinct(toks), x -> len(list_filter(toks, y -> y = x)))) END top_tok,
        |  len(bgs) nbg,
        |  CASE WHEN len(bgs) = 0 THEN 0 ELSE
        |    list_max(list_transform(list_distinct(bgs), x -> len(list_filter(bgs, y -> y = x)))) END top_bg,
        |  CASE WHEN len(bgs) = 0 THEN 0 ELSE
        |    len(list_filter(bgs, x -> len(list_filter(bgs, y -> y = x)) > 1)) END dup_bg
        |  FROM c)
        |SELECT doc_id, n_tok,
        |  CASE WHEN n_tok = 0 THEN 0.0 ELSE n_distinct::DOUBLE / n_tok END distinct_ratio,
        |  CASE WHEN n_tok = 0 THEN 0.0 ELSE top_tok::DOUBLE / n_tok END top_token_frac,
        |  CASE WHEN nbg = 0 THEN 0.0 ELSE top_bg::DOUBLE / nbg END top_bigram_frac,
        |  CASE WHEN nbg = 0 THEN 0.0 ELSE dup_bg::DOUBLE / nbg END dup_bigram_frac
        |FROM m ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // range search: threshold applied to the DOUBLE distance on both
    // sides (float cast only at output), so the row set is bit-identical
    "knn_range_cos" ->
      """WITH q AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings WHERE vec_id < 10),
        |x AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
        |s AS (SELECT q.vec_id source_id, x.vec_id sim_id, x.label sim_label,
        |  list_dot_product(q.v, x.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(x.v, x.v))) c
        |  FROM q CROSS JOIN x)
        |SELECT source_id, sim_id, sim_label, CAST(c AS FLOAT) sim_val
        |FROM s WHERE c >= 0.35 ORDER BY source_id, sim_id""".stripMargin.replace("\n", " "),
    // the oracle MAY use the single-partition window formulation — DuckDB
    // runs single-node anyway; the engine side must not
    "q_pack_tokens" ->
      """WITH t AS (SELECT doc_id,
        |  len(list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0)) n_tok FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |  CAST(coalesce(SUM(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) cum_before
        |  FROM t)
        |SELECT doc_id, n_tok, cum_before, CAST(cum_before // 1000 AS BIGINT) shard
        |FROM c ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "q_stratified_sample" ->
      """SELECT lang, count(*) total, 1 in_bounds
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " "),
    "text_normalize" ->
      """WITH n0 AS (SELECT doc_id,
        |  trim(regexp_replace('  ' || text || chr(9) || chr(9) || ' x  y' || chr(10), '\s+', ' ', 'g')) norm
        |  FROM documents)
        |SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
        |  list_transform(regexp_extract_all(norm, '.'), ch -> ascii(ch)::BIGINT)),
        |  (acc, c) -> (acc * 31 + c) % 1000000007) fp,
        |  length(norm) n_chars
        |FROM n0 ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "q_split_hash" ->
      """WITH f AS (SELECT doc_id, n_chars,
        |  list_reduce(list_prepend(0::BIGINT,
        |    list_transform(regexp_extract_all(text, '.'), ch -> ascii(ch)::BIGINT)),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) % 100 bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 80 THEN 'train' ELSE 'heldout' END split,
        |  count(*) n, CAST(sum(doc_id) AS BIGINT) sum_id,
        |  CAST(sum(n_chars) AS BIGINT) sum_chars
        |FROM f GROUP BY 1 ORDER BY split""".stripMargin.replace("\n", " "),
    "text_bm25" ->
      """WITH t1 AS (SELECT doc_id,
        |  len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0)) dl,
        |  list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) toks FROM documents),
        |st AS (SELECT count(*) n_docs, sum(dl)::DOUBLE / count(*) avgdl FROM t1),
        |tf AS (SELECT doc_id, dl, tok, count(*) tf FROM
        |  (SELECT doc_id, dl, unnest(toks) tok FROM t1)
        |  WHERE tok IN ('vector','spark','dup') GROUP BY 1, 2, 3),
        |nt AS (SELECT tok, count(*) nt FROM tf GROUP BY 1),
        |sc AS (SELECT doc_id, tok,
        |  ln((n_docs - nt + 0.5) / (nt + 0.5) + 1.0) * (tf * 2.2)
        |    / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) s
        |  FROM tf JOIN nt USING (tok) CROSS JOIN st),
        |pv AS (SELECT doc_id,
        |  coalesce(max(CASE WHEN tok = 'vector' THEN s END), 0.0) sv,
        |  coalesce(max(CASE WHEN tok = 'spark' THEN s END), 0.0) ss,
        |  coalesce(max(CASE WHEN tok = 'dup' THEN s END), 0.0) sd
        |  FROM sc GROUP BY doc_id)
        |SELECT doc_id, CAST(sv + ss + sd AS FLOAT) score FROM pv
        |ORDER BY sv + ss + sd DESC, doc_id LIMIT 20""".stripMargin.replace("\n", " "),
    "search_hybrid_rrf" -> hybridRrfOracle,
    "search_rerank_ce" -> rerankOracle,
    "text_bm25_multi" -> bm25MultiOracle(20),
    "search_hybrid_rrf_multi" -> hybridRrfMultiOracle(20, 50),
    "search_rerank_ce_multi" -> rerankMultiOracle(10, 50),
    // pool rank over the full corpus (same cos + tie-break as knnOracle),
    // truncate to the 100-pool, drop same-label rows, re-rank survivors
    "q_hard_negatives" ->
      """WITH q AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings WHERE vec_id < 10),
        |x AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
        |s AS (SELECT q.vec_id qid, q.label qlabel, x.vec_id sim_id, x.label xlabel,
        |  list_dot_product(q.v, x.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(x.v, x.v))) c
        |  FROM q CROSS JOIN x),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY c DESC, sim_id) rn FROM s),
        |p AS (SELECT * FROM r WHERE rn <= 100),
        |n AS (SELECT qid, sim_id, xlabel, c,
        |  row_number() OVER (PARTITION BY qid ORDER BY rn) nr FROM p
        |  WHERE xlabel IS DISTINCT FROM qlabel)
        |SELECT qid source_id, CAST(nr AS INT) neg_rank, sim_id neg_id,
        |  xlabel neg_label, CAST(c AS FLOAT) sim_val
        |FROM n WHERE nr <= 5 ORDER BY source_id, neg_rank""".stripMargin.replace("\n", " "),
    "text_vocab_top100" ->
      """SELECT tok, count(*) n FROM (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    t -> len(t) > 0)) tok FROM documents)
        |GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 100""".stripMargin.replace("\n", " "),
    "text_importance" ->
      """WITH tk AS (SELECT doc_id, (lang = 'en') is_t,
        |  unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0)) w FROM documents),
        |prof AS (SELECT w, sum(CASE WHEN is_t THEN 1 ELSE 0 END) c_t,
        |  sum(CASE WHEN is_t THEN 0 ELSE 1 END) c_r FROM tk GROUP BY w),
        |tot AS (SELECT sum(c_t) n_t, sum(c_r) n_r, count(*) v FROM prof),
        |dc AS (SELECT doc_id, w, count(*) n_w FROM tk GROUP BY doc_id, w),
        |ct AS (SELECT doc_id, w, n_w, n_w::DOUBLE *
        |  (((c_t + 1)::DOUBLE * (n_r + v)::DOUBLE) / ((c_r + 1)::DOUBLE * (n_t + v)::DOUBLE)) c
        |  FROM dc JOIN prof USING (w) CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(n_w) AS BIGINT) n_tok,
        |  list_reduce(list_prepend(0.0::DOUBLE, list(c ORDER BY w)), (a, x) -> a + x) score
        |FROM ct GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "q3_join_topn" ->
      """SELECT o_orderkey, c_name,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,4))) AS DOUBLE) revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, c_name
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin.replace("\n", " "),
    "q_ship_monthly" ->
      """SELECT CAST(year(l_shipdate) AS INT) yr, CAST(month(l_shipdate) AS INT) mo, count(*) n,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,4))) AS DOUBLE) revenue
        |FROM lineitem GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin.replace("\n", " "),
    "q_window_running" ->
      """SELECT user_id, event_id,
        | CAST(sum(CAST(value AS DECIMAL(20,2))) OVER (PARTITION BY user_id
        |   ORDER BY epoch_ns(ts), event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) running_value
        |FROM events WHERE user_id < 20
        |ORDER BY user_id, event_id""".stripMargin.replace("\n", " "),
    "q_events_hourly" ->
      """SELECT epoch_ns(ts) // 3600000000000 * 3600000000000 hour_ns, event_type,
        | count(*) n, CAST(sum(CAST(value AS DECIMAL(20,2))) AS DOUBLE) sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_ns, event_type""".stripMargin.replace("\n", " "),
    "q_stream_hourly" ->
      """SELECT epoch_us(ts) // 3600000000 * 3600000000 hour_us, event_type,
        | count(*) n, CAST(sum(CAST(value AS DECIMAL(20,2))) AS DOUBLE) sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_us, event_type""".stripMargin.replace("\n", " "),
    // sessionization as gaps-and-islands: break on >30min gaps, sessions =
    // islands; each user's LAST session is still open in stream state, so
    // only the closed ones (grp < max grp) are emitted — the exact
    // batching-independent contract of the streaming gate
    "q_sessionize_stream" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) tns FROM events),
        |o AS (SELECT user_id, tns, CASE WHEN tns - lag(tns)
        |  OVER (PARTITION BY user_id ORDER BY tns) > 1800000000000
        |  THEN 1 ELSE 0 END brk FROM e),
        |g AS (SELECT user_id, tns, sum(brk) OVER (PARTITION BY user_id
        |  ORDER BY tns ROWS UNBOUNDED PRECEDING) grp FROM o),
        |s AS (SELECT user_id, grp, min(tns) start_ns, max(tns) end_ns,
        |  count(*) n_events FROM g GROUP BY 1, 2),
        |l AS (SELECT user_id, max(grp) mg FROM s GROUP BY 1)
        |SELECT s.user_id, s.start_ns, s.end_ns, s.n_events
        |FROM s JOIN l ON s.user_id = l.user_id AND s.grp < l.mg
        |ORDER BY s.user_id, s.start_ns""".stripMargin.replace("\n", " "),
    // bounded variant: same gaps-and-islands sessions; a user's LAST
    // session also emits when the final watermark (max event-time ms −
    // 1 h delay) passed its event-time timer (end ms + 30 min gap) —
    // the EventTimeTimeout eviction rule, batch-expressible exactly
    "q_sessionize_stream_bounded" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) tns FROM events),
        |o AS (SELECT user_id, tns, CASE WHEN tns - lag(tns)
        |  OVER (PARTITION BY user_id ORDER BY tns) > 1800000000000
        |  THEN 1 ELSE 0 END brk FROM e),
        |g AS (SELECT user_id, tns, sum(brk) OVER (PARTITION BY user_id
        |  ORDER BY tns ROWS UNBOUNDED PRECEDING) grp FROM o),
        |s AS (SELECT user_id, grp, min(tns) start_ns, max(tns) end_ns,
        |  count(*) n_events FROM g GROUP BY 1, 2),
        |l AS (SELECT user_id, max(grp) mg FROM s GROUP BY 1),
        |w AS (SELECT max(epoch_ms(ts)) - 3600000 wm FROM events)
        |SELECT s.user_id, s.start_ns, s.end_ns, s.n_events
        |FROM s JOIN l ON s.user_id = l.user_id CROSS JOIN w
        |WHERE s.grp < l.mg OR (s.end_ns // 1000000) + 1800000 < w.wm
        |ORDER BY s.user_id, s.start_ns""".stripMargin.replace("\n", " "),
    // multi-batch ordered twin: under ordered arrival every event lands
    // ahead of the watermark (end + gap > wm at update time), so the
    // timer is always end+gap and the emitted set is batch-count-
    // invariant — the identical closure rule, the identical oracle
    "q_sessionize_stream_bounded_ordered" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) tns FROM events),
        |o AS (SELECT user_id, tns, CASE WHEN tns - lag(tns)
        |  OVER (PARTITION BY user_id ORDER BY tns) > 1800000000000
        |  THEN 1 ELSE 0 END brk FROM e),
        |g AS (SELECT user_id, tns, sum(brk) OVER (PARTITION BY user_id
        |  ORDER BY tns ROWS UNBOUNDED PRECEDING) grp FROM o),
        |s AS (SELECT user_id, grp, min(tns) start_ns, max(tns) end_ns,
        |  count(*) n_events FROM g GROUP BY 1, 2),
        |l AS (SELECT user_id, max(grp) mg FROM s GROUP BY 1),
        |w AS (SELECT max(epoch_ms(ts)) - 3600000 wm FROM events)
        |SELECT s.user_id, s.start_ns, s.end_ns, s.n_events
        |FROM s JOIN l ON s.user_id = l.user_id CROSS JOIN w
        |WHERE s.grp < l.mg OR (s.end_ns // 1000000) + 1800000 < w.wm
        |ORDER BY s.user_id, s.start_ns""".stripMargin.replace("\n", " "),
    // the stream-stream interval join's inner-match set IS the batch
    // interval join (inclusive bounds both ends, 4-hour lag window);
    // the _ordered twin replays in 4 time-ordered micro-batches, where
    // ordered arrival makes the same completeness hold (no late drops)
    "q_stream_attribution" ->
      """SELECT v.user_id, v.event_id view_id, c.event_id click_id,
        | epoch_ns(c.ts) - epoch_ns(v.ts) lag_ns
        |FROM events v JOIN events c ON c.user_id = v.user_id
        | AND v.event_type = 'view' AND c.event_type = 'click'
        | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 240 MINUTE
        |ORDER BY v.user_id, view_id, click_id""".stripMargin.replace("\n", " "),
    "q_stream_attribution_ordered" ->
      """SELECT v.user_id, v.event_id view_id, c.event_id click_id,
        | epoch_ns(c.ts) - epoch_ns(v.ts) lag_ns
        |FROM events v JOIN events c ON c.user_id = v.user_id
        | AND v.event_type = 'view' AND c.event_type = 'click'
        | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 240 MINUTE
        |ORDER BY v.user_id, view_id, click_id""".stripMargin.replace("\n", " "),
    // sum(BIGINT) is HUGEINT in DuckDB (pandas renders it float) — cast back
    // to BIGINT to match Spark's long sum
    "q_json_extract" ->
      """SELECT event_type, count(*) n, CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " "),
    // whitening: the SVD kernel isn't SQL-expressible, but its CONTRACT is —
    // the oracle pins the invariant verdicts (mean≈0, cov≈I at the spec
    // tolerances) and the output shape the Spark side must compute from the
    // real transform
    "whitening_invariants" ->
      """SELECT 1 mean_ok, 1 diag_ok, 1 offdiag_ok, 16 n_components,
        |CAST(count(*) AS BIGINT) n_rows FROM embeddings""".stripMargin.replace("\n", " "),
    "q_sql_surface" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
        |p AS (SELECT a.vec_id id_a, b.vec_id id_b, a.v va, b.v vb
        |  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1 WHERE a.vec_id < 200)
        |SELECT id_a, id_b,
        |  CAST(list_dot_product(va, vb) / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))) AS FLOAT) cos,
        |  CAST(list_sum(list_transform(list_zip(va, vb), p -> abs(p[1]-p[2]))) AS FLOAT) l1,
        |  CAST(list_sum(list_transform(list_zip(va, vb), p -> (p[1]-p[2])*(p[1]-p[2]))) AS FLOAT) l2sq
        |FROM p ORDER BY id_a""".stripMargin.replace("\n", " "),
    "q_semi_anti" ->
      """SELECT c_custkey, 'has_orders' tag FROM customer
        | WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'no_orders' tag FROM customer
        | WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey, tag""".stripMargin.replace("\n", " "),
    "q_window_range" ->
      """SELECT user_id, event_id,
        | CAST(sum(CAST(value AS DECIMAL(20,2))) OVER (PARTITION BY user_id
        |   ORDER BY epoch_us(ts) RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |   trailing_hour_value
        |FROM events WHERE user_id < 20
        |ORDER BY user_id, event_id""".stripMargin.replace("\n", " "),
    "q_distinct_agg" ->
      """SELECT event_type, count(DISTINCT user_id) n_users, count(*) n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " "),
    "q_setops" ->
      """WITH b AS (SELECT c_custkey k FROM customer WHERE c_mktsegment = 'BUILDING'),
        |s AS (SELECT o_custkey k FROM orders WHERE o_totalprice > 200000)
        |SELECT k, tag FROM (
        |  SELECT k, 'both' tag FROM (SELECT k FROM b INTERSECT SELECT k FROM s)
        |  UNION ALL
        |  SELECT k, 'only_building' tag FROM (SELECT k FROM b EXCEPT SELECT k FROM s))
        |ORDER BY k, tag""".stripMargin.replace("\n", " "),
    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') rf, coalesce(l_linestatus, 'ALL') ls,
        | CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) sum_qty, count(*) n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin.replace("\n", " "),
    "q_csv_json_roundtrip" ->
      """SELECT l_returnflag, count(*) n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) sum_qty,
        | CAST(sum(l_orderkey) AS BIGINT) sum_key
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),
    "q_sketch_bounds" ->
      """SELECT 1 acd_ok, 1 p50_ok, CAST(count(DISTINCT user_id) AS BIGINT) n_users
        |FROM events""".stripMargin.replace("\n", " "),
    "q_outer_join" ->
      """SELECT coalesce(c_mktsegment, 'NO_RICH_CUSTOMER') segment, count(*) n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) sum_price
        |FROM orders LEFT JOIN
        | (SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000) rc
        | ON o_custkey = rc.c_custkey
        |GROUP BY 1 ORDER BY segment""".stripMargin.replace("\n", " "),
    "q_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') rf, coalesce(l_linestatus, 'ALL') ls,
        | count(*) n, CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        |ORDER BY rf, ls""".stripMargin.replace("\n", " "),
    "q_bucketed_join" ->
      """SELECT o_orderpriority, count(*) n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin.replace("\n", " "),
    "q_orc_roundtrip" ->
      """SELECT p_brand, count(*) n,
        | CAST(sum(CAST(p_retailprice AS DECIMAL(20,2))) AS DOUBLE) sum_price,
        | CAST(sum(p_partkey) AS BIGINT) sum_key
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin.replace("\n", " "),
    "pipeline_curation" ->
      s"""${langidCtesSql("documents")},
         |${qualityCtesSql("documents")},
         |f AS (SELECT q.doc_id, q.text, q.quality FROM q
         |  JOIN (SELECT doc_id, CASE ${langidCaseSql} ELSE 'und' END lang_pred FROM w) l
         |  ON q.doc_id = l.doc_id
         |  WHERE q.quality >= 0.5 AND l.lang_pred = 'en'),
         |d AS (SELECT text, min(doc_id) keep_id, count(*) n_copies, min(quality) quality
         |  FROM f GROUP BY text)
         |SELECT count(*) n_docs, CAST(sum(keep_id) AS BIGINT) sum_keep_id,
         |  CAST(sum(n_copies) AS BIGINT) n_before_dedup,
         |  CAST(sum(CAST(quality AS DECIMAL(20,10))) AS DOUBLE) sum_quality
         |FROM d""".stripMargin.replace("\n", " "),
    "dedup_ngram_spans" -> {
      val gram = (0 until 8).map(k => s"w[i+$k]").mkString(" || ' ' || ")
      s"""WITH t AS (SELECT doc_id,
         |  list_filter(regexp_split_to_array(text, '\\s+'), x -> len(x) > 0) w
         |  FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |    range(1, greatest(len(w) - 7, 0) + 1), i -> $gram)) s FROM t),
         |ex AS (SELECT doc_id, len(s) n_grams, unnest(s) g FROM sh WHERE len(s) > 0),
         |hot AS (SELECT g, count(*) df FROM ex GROUP BY g HAVING count(*) >= 2)
         |SELECT e.doc_id, CAST(min(e.n_grams) AS BIGINT) n_grams,
         |  count(*) n_hot, CAST(max(h.df) AS BIGINT) max_df
         |FROM ex e JOIN hot h ON e.g = h.g
         |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin.replace("\n", " ")
    },
    // the same 10-token-line reshape, then keep-first per distinct ≥8-char
    // line ordered by (doc_id, line position) — grouped by the LINE STRING
    // itself, so the gate doubles as a collision canary for the Spark
    // side's 64-bit line fingerprints
    "dedup_lines" -> dedupLinesOracleSql,
    // forced narrow-cache twin: path-invariant result, same oracle
    "dedup_lines_narrow" -> dedupLinesOracleSql,
    // boilerplate removal: same 10-token pseudo-line reshape, then every
    // line (>=8 chars) present in >=3 DISTINCT docs is dropped everywhere;
    // groups by the line STRING where the operator groups by fingerprint.
    // The same SQL gates the forced narrow-cache twin: path-invariant
    "text_boilerplate" -> boilerplateOracleSql,
    "text_boilerplate_narrow" -> boilerplateOracleSql,
    // paragraph granularity: 25-token blocks joined by a BLANK line; the
    // dedup splits on the two-char delimiter and keeps each >=8-char
    // paragraph's global (doc_id, position)-first occurrence
    "dedup_paragraphs" ->
      """WITH b0 AS (SELECT doc_id, text,
        |  CASE WHEN text IS NULL THEN NULL
        |       ELSE list_filter(str_split(text, ' '), t -> len(t) > 0) END toks
        |  FROM documents),
        |r0 AS (SELECT doc_id, unnest(range(0, (len(toks)+24)//25)) li FROM b0 WHERE toks IS NOT NULL),
        |ln0 AS (SELECT r0.doc_id, r0.li,
        |  array_to_string(b0.toks[r0.li*25+1 : r0.li*25+25], ' ') para
        |  FROM r0 JOIN b0 USING (doc_id)),
        |ra AS (SELECT doc_id, string_agg(para, chr(10)||chr(10) ORDER BY li) t FROM ln0 GROUP BY doc_id),
        |re AS (SELECT b0.doc_id, CASE WHEN b0.text IS NULL THEN NULL
        |  ELSE coalesce(ra.t, '') END AS text FROM b0 LEFT JOIN ra USING (doc_id)),
        |s0 AS (SELECT doc_id, str_split(text, chr(10)||chr(10)) ps FROM re WHERE text IS NOT NULL),
        |p0 AS (SELECT doc_id, unnest(range(1, len(ps)+1)) i FROM s0),
        |l AS (SELECT p0.doc_id, p0.i, s0.ps[p0.i] para FROM p0 JOIN s0 USING (doc_id)),
        |k AS (SELECT doc_id, i, para,
        |  row_number() OVER (PARTITION BY para ORDER BY doc_id, i) rn FROM l),
        |kept AS (SELECT doc_id, i, para FROM k WHERE len(para) < 8 OR rn = 1),
        |agg AS (SELECT doc_id, string_agg(para, chr(10)||chr(10) ORDER BY i) t FROM kept GROUP BY doc_id)
        |SELECT re.doc_id, CASE WHEN re.text IS NULL THEN NULL
        |  ELSE coalesce(agg.t, '') END text_dedup
        |FROM re LEFT JOIN agg USING (doc_id)
        |ORDER BY re.doc_id""".stripMargin.replace("\n", " "),
    // duplicated 8-token windows keep their global (doc_id, pos)-first
    // occurrence; other occurrences mask their covered tokens. Grouped by
    // the gram STRING (Spark side shuffles 64-bit fingerprints) — the gate
    // doubles as a collision canary. The same SQL gates the forced
    // hot-gram-split twin below: the split is result-invariant
    "dedup_spans" -> spansOracleSql,
    "dedup_spans_hot" -> spansOracleSql,
    // integer counts + one double division per ratio — exact across engines
    "text_gopher" ->
      """WITH t AS (SELECT doc_id, text,
        |  list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) toks FROM documents),
        |s AS (SELECT doc_id, text, toks, len(toks) n,
        |  CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE list_sum(list_transform(toks, x -> len(x)::BIGINT))::DOUBLE / len(toks) END mean_word_len,
        |  CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(toks) END alpha_ratio,
        |  CASE WHEN len(toks) = 0 THEN 0.0
        |    ELSE ((len(text) - len(replace(text, '#', ''))) +
        |          (len(text) - len(replace(text, '...', ''))) // 3)::DOUBLE / len(toks) END symbol_ratio,
        |  len(list_intersect(list_distinct(list_transform(toks, x -> lower(x))),
        |    ['the','be','to','of','and','that','have','with'])) n_stop
        |  FROM t),
        |f AS (SELECT doc_id, n, mean_word_len, alpha_ratio, symbol_ratio, n_stop,
        |  CAST(n >= 50 AND n <= 100000 AS INT) word_count_ok,
        |  CAST(mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS INT) mean_len_ok,
        |  CAST(symbol_ratio <= 0.1 AS INT) symbol_ok,
        |  CAST(alpha_ratio >= 0.8 AS INT) alpha_ok,
        |  CAST(n_stop >= 2 AS INT) stop_ok FROM s)
        |SELECT doc_id, CAST(n AS BIGINT) n_words, mean_word_len, alpha_ratio,
        |  symbol_ratio, CAST(n_stop AS BIGINT) n_stop,
        |  word_count_ok, mean_len_ok, symbol_ok, alpha_ok, stop_ok,
        |  word_count_ok * mean_len_ok * symbol_ok * alpha_ok * stop_ok keep
        |FROM f ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // rule filter → span dedup over survivors → chunking → summary
    "pipeline_curation_v2" ->
      """WITH k0 AS (SELECT doc_id, text,
        |  list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) gt
        |  FROM documents WHERE text IS NOT NULL),
        |k AS (SELECT doc_id, text FROM k0
        |  WHERE len(gt) BETWEEN 50 AND 100000
        |  AND (CASE WHEN len(gt) = 0 THEN 0.0
        |    ELSE list_sum(list_transform(gt, x -> len(x)::BIGINT))::DOUBLE / len(gt) END)
        |    BETWEEN 3.0 AND 10.0),
        |b0 AS (SELECT doc_id, list_filter(str_split(text, ' '), t -> len(t) > 0) toks FROM k),
        |g0 AS (SELECT doc_id, unnest(range(0, len(toks) - 7)) gp FROM b0 WHERE len(toks) >= 8),
        |gs AS (SELECT g0.doc_id, g0.gp,
        |  array_to_string(b0.toks[g0.gp+1 : g0.gp+8], chr(1)) gram
        |  FROM g0 JOIN b0 USING (doc_id)),
        |r AS (SELECT doc_id, gp,
        |  row_number() OVER (PARTITION BY gram ORDER BY doc_id, gp) rn,
        |  count(*) OVER (PARTITION BY gram) c FROM gs),
        |cov AS (SELECT DISTINCT doc_id, tp FROM
        |  (SELECT doc_id, unnest(range(gp, gp + 8)) tp FROM r WHERE c >= 2 AND rn > 1)),
        |t0 AS (SELECT doc_id, unnest(range(0, len(toks))) tp FROM b0),
        |tok AS (SELECT t0.doc_id, t0.tp, b0.toks[t0.tp+1] tok FROM t0 JOIN b0 USING (doc_id)),
        |kept AS (SELECT tok.doc_id, tok.tp, tok.tok FROM tok LEFT JOIN cov
        |  ON tok.doc_id = cov.doc_id AND tok.tp = cov.tp WHERE cov.tp IS NULL),
        |dd AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tp) td FROM kept GROUP BY doc_id),
        |cb AS (SELECT doc_id, list_filter(str_split(td, ' '), t -> len(t) > 0) ctoks FROM dd),
        |c0 AS (SELECT doc_id, unnest(range(0,
        |  1 + greatest(0, CAST(ceil((len(ctoks) - 32)::DOUBLE / 24) AS INT)))) cid
        |  FROM cb WHERE len(ctoks) > 0),
        |ch AS (SELECT c0.doc_id, c0.cid,
        |  array_to_string(cb.ctoks[c0.cid*24+1 : c0.cid*24+32], ' ') ct
        |  FROM c0 JOIN cb USING (doc_id))
        |SELECT count(*) n_chunks,
        |  CAST(sum(len(list_filter(str_split(ct, ' '), t -> len(t) > 0))) AS BIGINT) sum_tokens,
        |  CAST(sum(list_reduce(list_prepend(0::BIGINT,
        |    list_transform(regexp_extract_all(ct, '.'), ch2 -> ascii(ch2)::BIGINT)),
        |    (acc, c) -> (acc * 31 + c) % 1000000007)) AS BIGINT) sum_fp
        |FROM ch""".stripMargin.replace("\n", " "),
    // 32-token windows, stride 24 (8 tokens of overlap); final chunk short
    "text_chunk" ->
      """WITH b0 AS (SELECT doc_id,
        |  list_filter(str_split(text, ' '), t -> len(t) > 0) toks
        |  FROM documents WHERE text IS NOT NULL),
        |c0 AS (SELECT doc_id, unnest(range(0,
        |  1 + greatest(0, CAST(ceil((len(toks) - 32)::DOUBLE / 24) AS INT)))) cid
        |  FROM b0 WHERE len(toks) > 0),
        |ch AS (SELECT c0.doc_id, c0.cid,
        |  array_to_string(b0.toks[c0.cid*24+1 : c0.cid*24+32], ' ') chunk_text
        |  FROM c0 JOIN b0 USING (doc_id))
        |SELECT doc_id, cid chunk_id, chunk_text,
        |  len(list_filter(str_split(chunk_text, ' '), t -> len(t) > 0)) n_tokens
        |FROM ch ORDER BY doc_id, chunk_id""".stripMargin.replace("\n", " "),
    "pii_redact" -> {
      val raw = "concat(text, ' contact u', doc_id, '@mail.example.com call ', " +
        "lpad(CAST(doc_id * 7 % 1000 AS VARCHAR), 3, '0'), '-555-', " +
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' from 10.0.', " +
        "CAST(doc_id % 256 AS VARCHAR), '.', CAST(doc_id * 3 % 256 AS VARCHAR), " +
        "' card 4111-1111-1111-', lpad(CAST(doc_id * 13 % 10000 AS VARCHAR), 4, '0'))"
      // the Scala pattern list IS the oracle's pattern list — one literal
      val clean = graft.text.TextAnalysis.PiiPatterns.foldLeft("raw") {
        case (acc, (pat, tag)) => s"regexp_replace($acc, '$pat', '$tag', 'g')"
      }
      val npii = graft.text.TextAnalysis.PiiPatterns
        .map { case (pat, _) => s"len(regexp_extract_all(raw, '$pat'))" }
        .mkString(" + ")
      s"""WITH r AS (SELECT doc_id, $raw raw FROM documents WHERE doc_id < 500)
         |SELECT doc_id, $clean clean, CAST($npii AS BIGINT) n_pii
         |FROM r ORDER BY doc_id""".stripMargin.replace("\n", " ")
    },
    "text_collocations" ->
      """WITH t AS (SELECT
        |  list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) w
        |  FROM documents),
        |b0 AS (SELECT w FROM t WHERE len(w) > 0),
        |tot AS (SELECT CAST(sum(len(w)) AS BIGINT) n_uni,
        |  CAST(sum(greatest(len(w) - 1, 0)) AS BIGINT) n_bi FROM b0),
        |unic AS (SELECT t, count(*) c FROM (SELECT unnest(w) t FROM b0) GROUP BY t),
        |bgc AS (SELECT bigram, count(*) c_ab FROM (SELECT unnest(list_transform(
        |    range(1, len(w)), i -> w[i] || ' ' || w[i+1])) bigram FROM b0)
        |  GROUP BY bigram HAVING count(*) >= 5),
        |j AS (SELECT bigram, c_ab, a.c c_a, b.c c_b,
        |  (CAST(c_ab AS DOUBLE) * n_uni * n_uni) / (CAST(n_bi AS DOUBLE) * c_a * c_b) lift
        |  FROM bgc CROSS JOIN tot
        |  JOIN unic a ON split_part(bigram, ' ', 1) = a.t
        |  JOIN unic b ON split_part(bigram, ' ', 2) = b.t)
        |SELECT bigram, c_ab, c_a, c_b, lift FROM j
        |ORDER BY lift DESC, bigram LIMIT 50""".stripMargin.replace("\n", " "),
    "q_source_mix" ->
      """WITH s AS (SELECT source, count(*) n_docs,
        |  CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'),
        |    t -> len(t) > 0))) AS BIGINT) n_tokens
        |  FROM documents GROUP BY source),
        |m AS (SELECT max(n_tokens) max_tokens FROM s)
        |SELECT source, n_docs, n_tokens,
        |  sqrt(CAST(n_tokens AS DOUBLE)) / sqrt(CAST(max_tokens AS DOUBLE)) mix_weight
        |FROM s CROSS JOIN m ORDER BY source""".stripMargin.replace("\n", " "),
    // T=4 damping is sqrt(sqrt(x)) — two correctly-rounded ops, so the
    // double is bit-identical across engines; the sample keeps rows whose
    // content-hash bucket clears floor(weight*1e6) — integer compare
    "q_source_mix_temp" ->
      """WITH t AS (SELECT source, text,
        |  len(list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0)) n_tok,
        |  list_reduce(list_prepend(0::BIGINT,
        |    list_transform(regexp_extract_all(text, '.'), ch -> ascii(ch)::BIGINT)),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) fp
        |  FROM documents),
        |s AS (SELECT source, count(*) n_docs, CAST(sum(n_tok) AS BIGINT) n_tokens
        |  FROM t GROUP BY source),
        |m AS (SELECT max(n_tokens) max_tokens FROM s),
        |w AS (SELECT source, n_docs, n_tokens,
        |  sqrt(sqrt(CAST(n_tokens AS DOUBLE) / CAST(max_tokens AS DOUBLE))) mix_weight
        |  FROM s CROSS JOIN m),
        |k AS (SELECT t.source, count(*) n_kept FROM t JOIN w USING (source)
        |  WHERE t.fp % 1000000 < CAST(floor(w.mix_weight * 1000000.0) AS BIGINT)
        |  GROUP BY t.source)
        |SELECT w.source, w.n_docs, w.n_tokens, w.mix_weight,
        |  CAST(coalesce(k.n_kept, 0) AS BIGINT) n_kept
        |FROM w LEFT JOIN k USING (source) ORDER BY w.source""".stripMargin.replace("\n", " "),
    "q_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') rf, coalesce(l_linestatus, 'ALL') ls,
        | CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) sum_qty, count(*) n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin.replace("\n", " "),
    "dedup_embedding_lsh" -> {
      val planes = graft.search.SignLsh.planes(numTables = 12, bits = 6, dim = 64, seed = 42L)
      val bucketExprs = graft.search.SignLsh.bucketsSql("v", planes)
        .mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         |n0 AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) nrm, $bucketExprs bs FROM e),
         |bk AS (SELECT vec_id, r.range tbl, bs[r.range + 1] bkt FROM n0 CROSS JOIN range(0, 12) r),
         |cd AS (SELECT DISTINCT a.vec_id id_a, b.vec_id id_b FROM bk a JOIN bk b
         |  ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id),
         |vr AS (SELECT id_a, id_b,
         |  CASE WHEN na.nrm * nb.nrm = 0 THEN 0.0
         |    ELSE list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm) END c
         |  FROM cd JOIN n0 na ON na.vec_id = cd.id_a JOIN n0 nb ON nb.vec_id = cd.id_b)
         |SELECT id_a, id_b, CAST(c AS FLOAT) cos FROM vr WHERE c >= 0.4
         |ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")
    },
    "q_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) ts_us, event_type
        |  FROM events WHERE user_id < 50),
        |p AS (SELECT user_id, epoch_us(ts) pts,
        |  CAST(sum(CAST(value AS DECIMAL(20,2))) AS DOUBLE) pv
        |  FROM events WHERE event_type = 'purchase' AND user_id < 50 GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.ts_us, e.event_type, p.pv last_purchase_value
        |FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts_us >= p.pts
        |ORDER BY e.event_id""".stripMargin.replace("\n", " "),
    "q_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) ts, value FROM events WHERE user_id < 100),
        |l AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) pts FROM e),
        |n AS (SELECT *, CASE WHEN pts IS NULL OR ts - pts > 1800000000 THEN 1 ELSE 0 END nw FROM l),
        |s AS (SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY ts
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) sid FROM n)
        |SELECT user_id, CAST(sid AS BIGINT) session_no, min(ts) start_ts, max(ts) end_ts,
        |  count(*) n_events, CAST(sum(CAST(value AS DECIMAL(20,2))) AS DOUBLE) sum_value
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " "),
    "q_percentiles_hist" -> // identical rank selection, different plan
      """WITH r AS (SELECT l_returnflag, l_extendedprice v,
        |  row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) rn,
        |  count(*) OVER (PARTITION BY l_returnflag) n
        |  FROM lineitem)
        |SELECT l_returnflag, max(CASE WHEN rn = ceil(0.5 * n) THEN v END) p50,
        |  max(CASE WHEN rn = ceil(0.9 * n) THEN v END) p90,
        |  max(CASE WHEN rn = ceil(0.99 * n) THEN v END) p99
        |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),
    "q_percentiles" ->
      """WITH r AS (SELECT l_returnflag, l_extendedprice v,
        |  row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) rn,
        |  count(*) OVER (PARTITION BY l_returnflag) n
        |  FROM lineitem)
        |SELECT l_returnflag, max(CASE WHEN rn = ceil(0.5 * n) THEN v END) p50,
        |  max(CASE WHEN rn = ceil(0.9 * n) THEN v END) p90,
        |  max(CASE WHEN rn = ceil(0.99 * n) THEN v END) p99
        |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),
    "q5_star_join" ->
      """SELECT n_name,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,4))) AS DOUBLE) revenue,
        | count(*) n
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY n_name""".stripMargin.replace("\n", " "),
    "q_part_agg" ->
      """SELECT p_brand, count(*) n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) sum_qty,
        | max(p_retailprice) max_price
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size < 10 GROUP BY p_brand ORDER BY p_brand""".stripMargin.replace("\n", " "),
    "q_salted_join" ->
      """SELECT o_orderpriority, count(*) n,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,4))) AS DOUBLE) revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin.replace("\n", " "),
    "q_salted_join_auto" ->
      """SELECT o_orderpriority, count(*) n,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,4))) AS DOUBLE) revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin.replace("\n", " "),
  ) ++ dynamicOracles ++ Map(
    // the forced-join twin computes the identical result through the
    // fallback plan — one oracle text serves both gates
    "decontam_ngrams_join" ->
        """WITH b0 AS (SELECT doc_id, CASE WHEN text IS NULL THEN NULL
          |  ELSE list_filter(str_split(text, ' '), t -> len(t) > 0) END toks FROM documents),
          |g0 AS (SELECT doc_id, unnest(range(0, len(toks) - 7)) gp FROM b0
          |  WHERE toks IS NOT NULL AND len(toks) >= 8),
          |gs AS (SELECT g0.doc_id, array_to_string(b0.toks[g0.gp+1 : g0.gp+8], chr(1)) gram
          |  FROM g0 JOIN b0 USING (doc_id)),
          |ev AS (SELECT DISTINCT gram FROM gs WHERE doc_id % 20 = 7),
          |h AS (SELECT doc_id, count(*) n_hits, count(DISTINCT gram) n_distinct
          |  FROM gs JOIN ev USING (gram) WHERE doc_id % 20 <> 7 GROUP BY doc_id)
          |SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) n_hits,
          |  CAST(coalesce(h.n_distinct, 0) AS BIGINT) n_distinct,
          |  CAST(CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 1 ELSE 0 END AS INT) contaminated
          |FROM documents d LEFT JOIN h USING (doc_id)
          |WHERE d.doc_id % 20 <> 7 ORDER BY d.doc_id""".stripMargin.replace("\n", " "))

  // ---------------------------------------------------------------------
  // Data-dependent oracles. Some gate models (PQ codebooks, IVF/k-means
  // centroids, the whitening kernel) are DETERMINISTIC functions of the
  // input table (seeded bounded sample + Lloyd / closed-form moments+SVD)
  // but not statically known, so their SQL can't be written ahead of time.
  // Verify sets `oracleContext` before dumping oracleSql; the builders
  // below refit the same model the gate query fits (same data, same code
  // in the same JVM ⇒ identical floats) and embed the fitted parameters
  // as SQL literals — the same trick knn_lsh_cos plays with its
  // statically-seeded planes. Context unset ⇒ entries omitted ⇒ the
  // driver records the weaker rows-only check (the old behavior).
  // ---------------------------------------------------------------------

  @volatile var oracleContext: Option[(SparkSession, String)] = None

  /** Float array as an exact-double SQL list literal (a float widens to
    * double losslessly; Double.toString round-trips). */
  private def fArr(xs: Array[Float]): String =
    xs.map(_.toDouble).mkString("[", ", ", "]")
  private def dArr(xs: Array[Double]): String = xs.mkString("[", ", ", "]")

  /** `(s, c, cent)` VALUES rows for a PQ codebook / `(c, cent)` for a
    * centroid table. */
  private def cbValues(cbs: Array[Array[Array[Float]]]): String =
    (for (s <- cbs.indices; c <- cbs(s).indices)
      yield s"($s, $c, ${fArr(cbs(s)(c))})").mkString(", ")
  private def centValues(cents: Array[Array[Float]]): String =
    cents.indices.map(c => s"($c, ${fArr(cents(c))})").mkString(", ")

  /** Normalized-float corpus CTEs (`e0`→`n0`→`f`), the exact arithmetic of
    * [[graft.functions.VectorKernels.l2Normalize]]: double norm over exact
    * float-widened values, per-element divide, round to float, widen back. */
  private val normCtes =
    """e0 AS (SELECT vec_id, label, embedding::DOUBLE[] v0 FROM embeddings),
      |n0 AS (SELECT vec_id, label, v0, sqrt(list_dot_product(v0, v0)) nrm FROM e0),
      |f AS (SELECT vec_id, label, CASE WHEN nrm = 0 THEN list_transform(v0, x -> (x::FLOAT)::DOUBLE)
      |  ELSE list_transform(v0, x -> ((x / nrm)::FLOAT)::DOUBLE) END v FROM n0)""".stripMargin

  /** PQ encode CTE over corpus CTE `f`: nearest codebook centroid per
    * subspace, squared-l2 in ascending element order, first-lowest-c on
    * ties — mirrors [[graft.search.PqIndex.encode]]. */
  private def pqCodesCte(dsub: Int): String =
    s"""pd AS (SELECT f.vec_id, cb.s, cb.c, list_reduce(list_prepend(0.0::DOUBLE,
       |  list_transform(range(0, $dsub), i -> (f.v[cb.s*$dsub+i+1] - cb.cent[i+1]) * (f.v[cb.s*$dsub+i+1] - cb.cent[i+1]))),
       |  (a, x) -> a + x) dd FROM f CROSS JOIN cb),
       |codes AS (SELECT vec_id, s, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, c) rn FROM pd) WHERE rn = 1)""".stripMargin

  /** ADC score CTEs (`ct`→`sc`) for queries CTE `q(qid, v)` against
    * `codes`: per-subspace contribution in ascending element order, summed
    * in ascending subspace order — mirrors [[graft.search.PqIndex.adcScorer]]
    * + the per-code lookup sum. `extraJoin` restricts candidate pairs
    * (IVF cell pruning). */
  private def adcCtes(dsub: Int, contrib: String, extraJoin: String = ""): String =
    s"""ct AS (SELECT q.qid, codes.vec_id xid, codes.s, list_reduce(list_prepend(0.0::DOUBLE,
       |  list_transform(range(0, $dsub), i -> $contrib)), (a, x) -> a + x) t
       |  FROM q CROSS JOIN codes JOIN cb ON cb.s = codes.s AND cb.c = codes.c$extraJoin),
       |sc AS (SELECT qid, xid, list_reduce(list_prepend(0.0::DOUBLE, list(t ORDER BY s)), (a, x) -> a + x) score
       |  FROM ct GROUP BY qid, xid)""".stripMargin

  /** Final rank-and-project tail over a score CTE `src(qid, xid, score)`. */
  private def knnTail(k: Int, ord: String, src: String = "sc"): String =
    s"""r AS (SELECT $src.*, row_number() OVER (PARTITION BY qid ORDER BY score $ord, xid) rn FROM $src)
       |SELECT r.qid source_id, CAST(rn - 1 AS INT) rank_no, r.xid sim_id, f.label sim_label, CAST(score AS FLOAT) sim_val
       |FROM r JOIN f ON f.vec_id = r.xid WHERE rn <= $k ORDER BY source_id, rank_no""".stripMargin

  /** knn_pq_cos / knn_pq_l1 / knn_pq4_cos: refit the PQ family exactly as
    * the gate query does, embed the codebooks, reproduce encode + ADC +
    * top-k in SQL. The SQL never sees the code PACKING (bytes vs packed
    * nibbles): it computes each subspace's nearest-centroid code by argmin
    * directly, which is the identical arithmetic — and the engine's 4-bit
    * scorer keeps per-subspace lookup order, so the double accumulation
    * matches bit-for-bit at either width. */
  private def pqOracle(s: SparkSession, dir: String, measurement: String,
      k: Int, indexParam: String = "PQ8", maxQ: Int = 10): String = {
    val model = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = measurement, indexParam = indexParam))
      .fit(table(s, dir, "embeddings"))
    val cbs = model.fittedCodebooks.get
    model.unpersist()
    val dsub = cbs(0)(0).length
    // cos fits/queries over MATERIALIZED-normalized floats; l1 over raw
    val fCte = if (measurement == "cos") normCtes
      else """e0 AS (SELECT vec_id, label, embedding::DOUBLE[] v0 FROM embeddings),
             |f AS (SELECT vec_id, label, v0 v FROM e0)""".stripMargin
    val contrib =
      if (measurement == "cos") s"q.v[codes.s*$dsub+i+1] * cb.cent[i+1]"
      else s"abs(q.v[codes.s*$dsub+i+1] - cb.cent[i+1])"
    val ord = if (measurement == "cos") "DESC" else "ASC"
    s"""WITH cb(s, c, cent) AS (VALUES ${cbValues(cbs)}),
       |$fCte,
       |${pqCodesCte(dsub)},
       |q AS (SELECT vec_id qid, v FROM f WHERE vec_id < $maxQ),
       |${adcCtes(dsub, contrib)},
       |${knnTail(k, ord)}""".stripMargin.replace("\n", " ")
  }

  /** knn_opq_cos: OPQ8,PQ8 — the fitted rotation AND codebooks embed as
    * literals; DuckDB reproduces normalize → rotate (per-row double dot,
    * float-rounded — [[graft.search.OpqIndex.rotate]]) → PQ encode → ADC
    * bit-for-bit. */
  private def opqOracle(s: SparkSession, dir: String, k: Int): String = {
    val model = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "OPQ8,PQ8"))
      .fit(table(s, dir, "embeddings"))
    val cbs = model.fittedCodebooks.get
    val rot = model.fittedOpqRotation.get
    model.unpersist()
    val dsub = cbs(0)(0).length
    val d = rot.length
    val rotValues = rot.indices.map(j => s"($j, ${fArr(rot(j))})").mkString(", ")
    s"""WITH cb(s, c, cent) AS (VALUES ${cbValues(cbs)}),
       |rt(j, rw) AS (VALUES $rotValues),
       |e0 AS (SELECT vec_id, label, embedding::DOUBLE[] v0 FROM embeddings),
       |n0 AS (SELECT vec_id, label, v0, sqrt(list_dot_product(v0, v0)) nrm FROM e0),
       |f0 AS (SELECT vec_id, label, CASE WHEN nrm = 0 THEN list_transform(v0, x -> (x::FLOAT)::DOUBLE)
       |  ELSE list_transform(v0, x -> ((x / nrm)::FLOAT)::DOUBLE) END v FROM n0),
       |rc AS (SELECT f0.vec_id, f0.label, rt.j, CAST(list_reduce(list_prepend(0.0::DOUBLE,
       |  list_transform(range(0, $d), i -> rt.rw[i+1] * f0.v[i+1])), (a, x) -> a + x) AS FLOAT)::DOUBLE yj
       |  FROM f0 CROSS JOIN rt),
       |f AS (SELECT vec_id, label, list(yj ORDER BY j) v FROM rc GROUP BY vec_id, label),
       |${pqCodesCte(dsub)},
       |q AS (SELECT vec_id qid, v FROM f WHERE vec_id < 10),
       |${adcCtes(dsub, s"q.v[codes.s*$dsub+i+1] * cb.cent[i+1]")},
       |${knnTail(k, "DESC")}""".stripMargin.replace("\n", " ")
  }

  /** knn_refine_cos: PQ8,RFlat — stage 1 is the PQ ADC ranking (crn ≤
    * k·4 candidates, same tie-breaks as the engine's TopKBuffer), stage 2
    * re-scores candidates with the EXACT cosine over the kept normalized
    * floats ([[graft.search.SparkSearcher.VEC]]) and takes the true top-k. */
  private def refineOracle(s: SparkSession, dir: String, k: Int,
      kFactor: Int = 0): String = {
    val model = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "PQ8,RFlat"))
      .fit(table(s, dir, "embeddings"))
    val cbs = model.fittedCodebooks.get
    val n = model.count
    model.unpersist()
    val dsub = cbs(0)(0).length
    // SAME pool resolution as the engine (0 = scale-aware auto) — the
    // oracle can never diverge from the served kFactor at any sf
    val kf = k * graft.search.SparkSearcher.resolveRefineKFactor(kFactor, n)
    s"""WITH cb(s, c, cent) AS (VALUES ${cbValues(cbs)}),
       |$normCtes,
       |${pqCodesCte(dsub)},
       |q AS (SELECT vec_id qid, v FROM f WHERE vec_id < 10),
       |${adcCtes(dsub, s"q.v[codes.s*$dsub+i+1] * cb.cent[i+1]")},
       |cand AS (SELECT sc.*, row_number() OVER (PARTITION BY qid ORDER BY score DESC, xid) crn FROM sc),
       |ex AS (SELECT c.qid, c.xid,
       |  list_dot_product(qq.v, x.v) / (sqrt(list_dot_product(qq.v, qq.v)) * sqrt(list_dot_product(x.v, x.v))) score
       |  FROM cand c JOIN q qq ON qq.qid = c.qid JOIN f x ON x.vec_id = c.xid WHERE c.crn <= $kf),
       |${knnTail(k, "DESC", src = "ex")}""".stripMargin.replace("\n", " ")
  }

  /** knn_ivfpq_cos: IVF16,PQ8 at nprobe=6 — cells and codes both live in
    * the normalized space; the per-partition cell scan scores a code only
    * against the queries probing its cell, through each query's ADC table
    * ([[graft.search.CellScan]]). */
  private def ivfPqOracle(s: SparkSession, dir: String, k: Int): String = {
    val model = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "IVF16,PQ8", nprobe = 6))
      .fit(table(s, dir, "embeddings"))
    val cbs = model.fittedCodebooks.get
    val cents = model.fittedCentroids.get
    model.unpersist()
    val dsub = cbs(0)(0).length
    s"""WITH cb(s, c, cent) AS (VALUES ${cbValues(cbs)}),
       |ce(c, cent) AS (VALUES ${centValues(cents)}),
       |$normCtes,
       |cd AS (SELECT f.vec_id, ce.c, list_sum(list_transform(list_zip(f.v, ce.cent), p -> (p[1]-p[2])*(p[1]-p[2]))) dd
       |  FROM f CROSS JOIN ce),
       |xcell AS (SELECT vec_id, c cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dd, c) rn FROM cd) WHERE rn = 1),
       |qcell AS (SELECT vec_id qid, c cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dd, c) rn FROM cd WHERE vec_id < 10) WHERE rn <= 6),
       |${pqCodesCte(dsub)},
       |q AS (SELECT vec_id qid, v FROM f WHERE vec_id < 10),
       |${adcCtes(dsub, s"q.v[codes.s*$dsub+i+1] * cb.cent[i+1]",
          " JOIN xcell ON xcell.vec_id = codes.vec_id JOIN qcell ON qcell.qid = q.qid AND qcell.cell = xcell.cell")},
       |${knnTail(k, "DESC")}""".stripMargin.replace("\n", " ")
  }

  /** SQ8 encode CTE over corpus CTE `f` with bounds CTE `b(vmin, vdiff)`:
    * `code_s = clamp(⌊(v_s − vmin_s)/vdiff_s · 255 + 0.5⌋, 0, 255)` (0 for
    * a constant dim) — mirrors [[graft.search.SqIndex.encode]] op-for-op. */
  private def sqCodesCte(dim: Int): String =
    s"""codes AS (SELECT f.vec_id, sx.s, CASE WHEN b.vdiff[sx.s+1] = 0 THEN 0
       |  ELSE CAST(least(255.0, greatest(0.0, floor((f.v[sx.s+1] - b.vmin[sx.s+1]) / b.vdiff[sx.s+1] * 255.0 + 0.5))) AS INT) END c
       |  FROM f CROSS JOIN b CROSS JOIN (SELECT unnest(range(0, $dim)) s) sx)""".stripMargin

  /** SQ8 dequantized-dot score CTEs (`ct`→`sc`): the level a code denotes
    * is float-rounded `vmin + c/255·vdiff` ([[graft.search.SqIndex.levels]]);
    * per-dim products summed in ascending dim order like the ADC scorer. */
  private val sqScoreCtes =
    """ct AS (SELECT q.qid, codes.vec_id xid, codes.s,
      |  q.v[codes.s+1] * (((b.vmin[codes.s+1] + codes.c / 255.0 * b.vdiff[codes.s+1])::FLOAT)::DOUBLE) t
      |  FROM q CROSS JOIN codes CROSS JOIN b),
      |sc AS (SELECT qid, xid, list_reduce(list_prepend(0.0::DOUBLE, list(t ORDER BY s)), (a, x) -> a + x) score
      |  FROM ct GROUP BY qid, xid)""".stripMargin

  /** knn_sq8_cos: refit the bounds exactly as the gate query does, embed
    * them, reproduce encode + dequantized scoring + top-k in SQL. */
  /** knn_fp16_cos — unlike every other quantizer oracle this one is fully
    * STATIC (fp16 is train-free; nothing is fitted). The IEEE binary16
    * round-to-nearest-even is reproduced in exact double arithmetic:
    * `e = floor(log2|x|)` boundary-repaired against its own powers (so
    * libm log2 inexactness at 2^k cannot shift the exponent), then
    * `|x| / 2^(e−10)` — an exact power-of-two scaling — floored with an
    * explicit tie-to-even fix (SQL `round` is half-away-from-zero).
    * Subnormal halves (e < −14) share the fixed 2⁻²⁴ unit. Nested
    * single-element `list_transform`s act as let-bindings (DuckDB lambdas
    * have no local names). Queries and corpus both live in the
    * float32-normalized space (`f`), matching the engine's pqCos query
    * prep + fit-time normalization; scoring is the full cosine over the
    * half-rounded corpus side — [[graft.search.Fp16]]'s decode values
    * exactly.
    *
    * PRECONDITION: inputs are float32-normalized (|x| ≤ 1 + ulp). The SQL
    * has no overflow-to-±Inf branch, so it diverges from `Fp16.toHalf`
    * for |x| ≥ 65520 — reusing this oracle for a raw-magnitude metric
    * gate needs an explicit e ≥ 16 → Inf case first. */
  /** IEEE binary16 round-to-nearest-even of a double `x`, exactly in SQL:
    * exponent from log2 repaired against pow(2, e) boundaries, exact ulp
    * scaling, floor + explicit tie-to-even; subnormals use the fixed
    * 2^-24 unit. Nested single-element list_transforms are DuckDB's
    * let-binding chain. */
  private val halfRound =
    """CASE WHEN x = 0 THEN 0.0 ELSE
      |  list_transform([CAST(floor(log2(abs(x))) AS BIGINT)], e0 ->
      |    list_transform([CASE WHEN abs(x) < pow(2.0, e0) THEN e0 - 1
      |                         WHEN abs(x) >= pow(2.0, e0 + 1) THEN e0 + 1
      |                         ELSE e0 END], e ->
      |      list_transform([CASE WHEN e < -14 THEN pow(2.0, -24) ELSE pow(2.0, e - 10) END], ulp ->
      |        list_transform([floor(abs(x) / ulp)], fq ->
      |          (CASE WHEN x < 0 THEN -1.0 ELSE 1.0 END) * ulp *
      |          (CASE WHEN abs(x) / ulp - fq > 0.5 THEN fq + 1
      |                WHEN abs(x) / ulp - fq < 0.5 THEN fq
      |                ELSE fq + CAST(CAST(fq AS BIGINT) % 2 AS DOUBLE) END)
      |        )[1])[1])[1])[1] END""".stripMargin

  private def fp16Oracle(k: Int): String =
    s"""WITH $normCtes,
       |hx AS (SELECT vec_id, label, list_transform(v, x -> $halfRound) v FROM f),
       |q AS (SELECT vec_id qid, v FROM f WHERE vec_id < 10),
       |sc AS (SELECT q.qid, x.vec_id xid,
       |  list_dot_product(q.v, x.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(x.v, x.v))) score
       |  FROM q CROSS JOIN hx x),
       |${knnTail(k, "DESC")}""".stripMargin.replace("\n", " ")

  /** knn_range_fp16: range search over the fp16 RECONSTRUCTION (faiss SQ
    * range_search semantics) — corpus normalized at fit (codes-cos path),
    * half-rounded, scored with the full cos kernel against the normalized
    * float32 query; every neighbor at or past the threshold. */
  private def fp16RangeOracle(threshold: Double): String =
    s"""WITH $normCtes,
       |hx AS (SELECT vec_id, label, list_transform(v, x -> $halfRound) v FROM f),
       |q AS (SELECT vec_id qid, v FROM f WHERE vec_id < 10),
       |s AS (SELECT q.qid source_id, x.vec_id sim_id, x.label sim_label,
       |  list_dot_product(q.v, x.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(x.v, x.v))) c
       |  FROM q CROSS JOIN hx x)
       |SELECT source_id, sim_id, sim_label, CAST(c AS FLOAT) sim_val
       |FROM s WHERE c >= $threshold ORDER BY source_id, sim_id""".stripMargin.replace("\n", " ")

  private def sqOracle(s: SparkSession, dir: String, k: Int): String = {
    val model = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "SQ8"))
      .fit(table(s, dir, "embeddings"))
    val (vmin, vdiff) = model.fittedSqBounds.get
    val dim = vmin.length
    model.unpersist()
    s"""WITH b(vmin, vdiff) AS (VALUES (${fArr(vmin)}, ${fArr(vdiff)})),
       |$normCtes,
       |${sqCodesCte(dim)},
       |q AS (SELECT vec_id qid, v FROM f WHERE vec_id < 10),
       |$sqScoreCtes,
       |${knnTail(k, "DESC")}""".stripMargin.replace("\n", " ")
  }

  /** knn_sq4_cos: refit the bounds exactly as the gate query does, embed
    * them, reproduce the 4-bit encode + dequantized scoring + top-k in
    * SQL. The nibble packing itself is score-invisible (codes decode
    * per dim), but the ADC association is NOT: the scorer sums each
    * 2-dim subspace's products FIRST, then the subspaces in order — so
    * the oracle pair-sums (`s // 2`) before the outer ascending sum,
    * keeping double addition bit-identical. */
  private def sq4Oracle(s: SparkSession, dir: String, k: Int): String = {
    val model = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "SQ4"))
      .fit(table(s, dir, "embeddings"))
    val (vmin, vdiff) = model.fittedSqBounds.get
    val dim = vmin.length
    model.unpersist()
    s"""WITH b(vmin, vdiff) AS (VALUES (${fArr(vmin)}, ${fArr(vdiff)})),
       |$normCtes,
       |codes AS (SELECT f.vec_id, sx.s, CASE WHEN b.vdiff[sx.s+1] = 0 THEN 0
       |  ELSE CAST(least(15.0, greatest(0.0, floor((f.v[sx.s+1] - b.vmin[sx.s+1]) / b.vdiff[sx.s+1] * 15.0 + 0.5))) AS INT) END c
       |  FROM f CROSS JOIN b CROSS JOIN (SELECT unnest(range(0, $dim)) s) sx),
       |q AS (SELECT vec_id qid, v FROM f WHERE vec_id < 10),
       |ct AS (SELECT q.qid, codes.vec_id xid, codes.s,
       |  q.v[codes.s+1] * (((b.vmin[codes.s+1] + codes.c / 15.0 * b.vdiff[codes.s+1])::FLOAT)::DOUBLE) t
       |  FROM q CROSS JOIN codes CROSS JOIN b),
       |ctp AS (SELECT qid, xid, (s // 2) p,
       |  list_reduce(list_prepend(0.0::DOUBLE, list(t ORDER BY s)), (a, x) -> a + x) tp
       |  FROM ct GROUP BY qid, xid, (s // 2)),
       |sc AS (SELECT qid, xid,
       |  list_reduce(list_prepend(0.0::DOUBLE, list(tp ORDER BY p)), (a, x) -> a + x) score
       |  FROM ctp GROUP BY qid, xid),
       |${knnTail(k, "DESC")}""".stripMargin.replace("\n", " ")
  }

  /** knn_ivfsq_cos: IVF16,SQ8 at nprobe=6 — cells and bounds both live in
    * the normalized space; a code is scored only for queries probing its
    * cell. */
  private def ivfSqOracle(s: SparkSession, dir: String, k: Int): String = {
    val model = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = "IVF16,SQ8", nprobe = 6))
      .fit(table(s, dir, "embeddings"))
    val (vmin, vdiff) = model.fittedSqBounds.get
    val cents = model.fittedCentroids.get
    val dim = vmin.length
    model.unpersist()
    s"""WITH b(vmin, vdiff) AS (VALUES (${fArr(vmin)}, ${fArr(vdiff)})),
       |ce(c, cent) AS (VALUES ${centValues(cents)}),
       |$normCtes,
       |cd AS (SELECT f.vec_id, ce.c, list_sum(list_transform(list_zip(f.v, ce.cent), p -> (p[1]-p[2])*(p[1]-p[2]))) dd
       |  FROM f CROSS JOIN ce),
       |xcell AS (SELECT vec_id, c cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dd, c) rn FROM cd) WHERE rn = 1),
       |qcell AS (SELECT vec_id qid, c cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dd, c) rn FROM cd WHERE vec_id < 10) WHERE rn <= 6),
       |${sqCodesCte(dim)},
       |q AS (SELECT vec_id qid, v FROM f WHERE vec_id < 10),
       |ct AS (SELECT q.qid, codes.vec_id xid, codes.s,
       |  q.v[codes.s+1] * (((b.vmin[codes.s+1] + codes.c / 255.0 * b.vdiff[codes.s+1])::FLOAT)::DOUBLE) t
       |  FROM q CROSS JOIN codes CROSS JOIN b
       |  JOIN xcell ON xcell.vec_id = codes.vec_id JOIN qcell ON qcell.qid = q.qid AND qcell.cell = xcell.cell),
       |sc AS (SELECT qid, xid, list_reduce(list_prepend(0.0::DOUBLE, list(t ORDER BY s)), (a, x) -> a + x) score
       |  FROM ct GROUP BY qid, xid),
       |${knnTail(k, "DESC")}""".stripMargin.replace("\n", " ")
  }

  /** knn_ivf_pruned / knn_ivf_auto: IVF at nprobe=4 over RAW vectors (the
    * cos kernel normalizes internally — nothing materialized), exact cos
    * scoring of only the probed cells' rows. `indexParam` "IVF0" exercises
    * the fit-time auto-nlist resolution: the refit here goes through the
    * identical [[graft.search.IndexStrategy.resolveNlist]] arithmetic, so
    * the embedded centroids match the gate's run bit-for-bit. */
  private def ivfPrunedOracle(s: SparkSession, dir: String, k: Int,
      indexParam: String = "IVF16,Flat", nprobe: Int = 4,
      maxQ: Int = 10): String = {
    val model = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = indexParam, nprobe = nprobe))
      .fit(table(s, dir, "embeddings"))
    val cents = model.fittedCentroids.get
    model.unpersist()
    // the SAME resolution the search path applies (nprobe=0 = auto): the
    // embedded probe count can never diverge from the gate's run
    val probes = graft.search.IndexStrategy.resolveNprobe(nprobe, cents.length)
    s"""WITH ce(c, cent) AS (VALUES ${centValues(cents)}),
       |x AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
       |cd AS (SELECT x.vec_id, ce.c, list_sum(list_transform(list_zip(x.v, ce.cent), p -> (p[1]-p[2])*(p[1]-p[2]))) dd
       |  FROM x CROSS JOIN ce),
       |xcell AS (SELECT vec_id, c cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dd, c) rn FROM cd) WHERE rn = 1),
       |qcell AS (SELECT vec_id qid, c cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dd, c) rn FROM cd WHERE vec_id < $maxQ) WHERE rn <= $probes),
       |q AS (SELECT vec_id, v FROM x WHERE vec_id < $maxQ),
       |s0 AS (SELECT q.vec_id source_id, x.vec_id sim_id, x.label sim_label,
       |  list_dot_product(q.v, x.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(x.v, x.v))) sim
       |  FROM q JOIN qcell ON qcell.qid = q.vec_id JOIN xcell ON xcell.cell = qcell.cell JOIN x ON x.vec_id = xcell.vec_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY source_id ORDER BY sim DESC, sim_id) rn FROM s0)
       |SELECT source_id, CAST(rn - 1 AS INT) rank_no, sim_id, sim_label, CAST(sim AS FLOAT) sim_val
       |FROM r WHERE rn <= $k ORDER BY source_id, rank_no""".stripMargin.replace("\n", " ")
  }

  /** knn_lsh_auto: sign-LSH candidate equi-join + exact cos scoring with
    * the fit-time JOINT-auto config (`LSH0`: bits and tables from the
    * closed-form recall model at a corpus-sampled anchor — deterministic,
    * so this refit resolves identically). The planes are read from the
    * FITTED model, so gate and oracle share them bit-for-bit; SQL shape
    * identical to the static knn_lsh_cos oracle. */
  private def lshKnnOracle(s: SparkSession, dir: String, k: Int,
      maxQ: Int = 10, batchHint: Int = 64,
      pinBits: Option[Int] = None): String = {
    val spelling = pinBits.map(b => s"LSH0x$b").getOrElse("LSH0")
    val model = new SparkSearcher(new PassthroughEncoder("embedding"),
      SearcherParams(itemCol = Some("vec_id"), idCol = Some("vec_id"),
        measurement = "cos", indexParam = spelling, lshBatchHint = batchHint))
      .fit(table(s, dir, "embeddings"))
    val planes = model.fittedLshPlanes.get
    model.unpersist()
    // r18 auto-reroute: a JOINT-auto config the serve cost model prices
    // ≥ the exact scan is REFUSED at serve (SearcherModel.lshServeExact)
    // — the oracle re-derives the same deterministic decision from the
    // same fitted planes and pins the exact batch result instead of the
    // bucket-pruned one. (At gate scale LSH0 always resolves degenerate:
    // tiny corpora make every bucket a large corpus fraction.) Pinned-
    // width spellings (`LSH0xb`) stay bucket-faithful, like the engine.
    if (pinBits.isEmpty && graft.search.SparkSearcher.lshExactCheaper(
        planes.length, planes(0).length))
      return knnOracle("cos", k, maxQ)
    val t = planes.length
    val bucketExprs = graft.search.SignLsh.bucketsSql("v", planes)
      .mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
       |b0 AS (SELECT vec_id, $bucketExprs bs FROM e),
       |bk AS (SELECT vec_id, r.range tbl, bs[r.range + 1] bkt FROM b0 CROSS JOIN range(0, $t) r),
       |qb AS (SELECT * FROM bk WHERE vec_id < $maxQ),
       |cd AS (SELECT DISTINCT q.vec_id qid, x.vec_id xid FROM qb q JOIN bk x
       |  ON q.tbl = x.tbl AND q.bkt = x.bkt),
       |s AS (SELECT cd.qid source_id, cd.xid sim_id, ex.label sim_label,
       |  list_dot_product(eq.v, ex.v) / (sqrt(list_dot_product(eq.v, eq.v)) * sqrt(list_dot_product(ex.v, ex.v))) c
       |  FROM cd JOIN e eq ON eq.vec_id = cd.qid JOIN e ex ON ex.vec_id = cd.xid),
       |r AS (SELECT *, row_number() OVER (PARTITION BY source_id ORDER BY c DESC, sim_id) rn FROM s)
       |SELECT source_id, CAST(rn - 1 AS INT) rank_no, sim_id, sim_label, CAST(c AS FLOAT) sim_val
       |FROM r WHERE rn <= $k ORDER BY source_id, rank_no""".stripMargin.replace("\n", " ")
  }

  /** cluster_assign: k-means(16) assignment — embed the fitted centroids,
    * nearest by squared l2 (ascending elements, first-lowest-c ties),
    * mirroring the flat kernel of [[graft.search.IvfKernels.nearestIds]]. */
  private def clusterAssignOracle(s: SparkSession, dir: String): String = {
    import graft.search.IvfIndex
    val vecs = table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("__v"))
    val total = vecs.count()
    val cents = IvfIndex.fitCentroids(vecs, "__v",
      math.min(16L, total max 1L).toInt, total)
    s"""WITH ce(c, cent) AS (VALUES ${centValues(cents)}),
       |x AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |cd AS (SELECT x.vec_id, ce.c, list_sum(list_transform(list_zip(x.v, ce.cent), p -> (p[1]-p[2])*(p[1]-p[2]))) dd
       |  FROM x CROSS JOIN ce)
       |SELECT vec_id, CAST(c AS INT) "cluster" FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dd, c) rn FROM cd)
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin.replace("\n", " ")
  }

  /** q_diversity_sample: cell assignment exactly as [[clusterAssignOracle]]
    * (same refit centroids, same `ORDER BY dd, c` tie-break), then per-cell
    * rank by L2 norm descending with id ties, quota 10 — mirroring
    * [[graft.dedup.Dedup.clusterQuotaSample]]. */
  private def diversityOracle(s: SparkSession, dir: String): String = {
    import graft.search.IvfIndex
    val vecs = table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("__v"))
    val total = vecs.count()
    val cents = IvfIndex.fitCentroids(vecs, "__v",
      math.min(16L, total max 1L).toInt, total)
    s"""WITH ce(c, cent) AS (VALUES ${centValues(cents)}),
       |x AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |cd AS (SELECT x.vec_id, ce.c, list_sum(list_transform(list_zip(x.v, ce.cent), p -> (p[1]-p[2])*(p[1]-p[2]))) dd
       |  FROM x CROSS JOIN ce),
       |asg AS (SELECT vec_id, c FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dd, c) rn FROM cd) WHERE rn = 1),
       |sc AS (SELECT asg.vec_id, asg.c, sqrt(list_dot_product(x.v, x.v)) s FROM asg JOIN x USING (vec_id)),
       |r AS (SELECT vec_id, c, row_number() OVER (PARTITION BY c ORDER BY s DESC, vec_id) rk FROM sc)
       |SELECT vec_id, CAST(c AS INT) "cluster", CAST(rk AS INT) "rank"
       |FROM r WHERE rk <= 10 ORDER BY "cluster", "rank"""".stripMargin.replace("\n", " ")
  }

  /** dedup_embedding_blocked[_auto]: cell blocking + exact cos verify of
    * co-celled pairs, mirroring
    * [[graft.dedup.Dedup.embeddingNearDupsBlocked]]. `nlist = 0` resolves
    * the occupancy-64 auto formula EXACTLY as the operator does (same
    * arithmetic, same clamps), so the refit centroids — and therefore the
    * gated pair set — are bit-identical to the auto gate's run. */
  private def blockedOracle(s: SparkSession, dir: String,
      nlist: Int = 16, nprobe: Int = 4): String = {
    import graft.search.IvfIndex
    val vecs = table(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").cast("array<float>").as("v"))
    val total = vecs.count()
    // auto resolution via the OPERATOR's own helper: oracle and operator
    // cannot silently diverge on the occupancy constant
    val resolvedNlist = if (nlist > 0) nlist else Dedup.autoBlockNlist(total)
    val cents = IvfIndex.fitCentroids(vecs, "v",
      math.min(resolvedNlist.toLong, total max 1L).toInt, total)
    s"""WITH ce(c, cent) AS (VALUES ${centValues(cents)}),
       |x AS (SELECT vec_id, embedding::DOUBLE[] v, sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm FROM embeddings),
       |cd AS (SELECT x.vec_id, ce.c, list_sum(list_transform(list_zip(x.v, ce.cent), p -> (p[1]-p[2])*(p[1]-p[2]))) dd
       |  FROM x CROSS JOIN ce),
       |celled AS (SELECT vec_id, c cell FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dd, c) rn FROM cd) WHERE rn <= $nprobe),
       |pairs AS (SELECT DISTINCT a.vec_id id_a, b.vec_id id_b FROM celled ca JOIN celled cb ON ca.cell = cb.cell
       |  JOIN x a ON a.vec_id = ca.vec_id JOIN x b ON b.vec_id = cb.vec_id WHERE a.vec_id < b.vec_id),
       |scored AS (SELECT id_a, id_b, CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
       |  ELSE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) END cos
       |  FROM pairs JOIN x a ON a.vec_id = id_a JOIN x b ON b.vec_id = id_b)
       |SELECT id_a, id_b, CAST(cos AS FLOAT) cos FROM scored WHERE cos >= 0.4
       |ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")
  }

  /** The dedup_embedding_lsh_auto gate's cosine threshold — ONE constant
    * feeding the Spark query, the oracle's anchor resolution (through the
    * shared [[Dedup.lshAnchor]] policy) and the oracle's WHERE clause, so
    * a future threshold change cannot silently diverge the three. */
  private val LshAutoGateThreshold = 0.4

  /** dedup_embedding_lsh_auto: sign-LSH near-dup with the operator's
    * joint (bits, tables) auto-config ([[Dedup.autoLshConfig]] — cost
    * model under a recall floor; deterministic function of n), planes
    * embedded as literals — same SQL shape as the static pinned oracle,
    * the config recomputed with the operator's exact arithmetic. */
  private def lshAutoOracle(s: SparkSession, dir: String): String = {
    val base = table(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").cast("array<float>").as("v"))
    val n = base.count()
    val dim = base.select(size(col("v"))).head().getInt(0)
    // the operator's own resolution: the gate threshold constant through
    // the SHARED anchor policy (Dedup.lshAnchor) — if either the gate
    // threshold or the anchor constant moves, both sides move together
    val (bits, tables) =
      Dedup.autoLshConfig(n, Dedup.lshAnchor(LshAutoGateThreshold))
    val planes = graft.search.SignLsh.planes(numTables = tables, bits = bits, dim = dim, seed = 42L)
    val bucketExprs = graft.search.SignLsh.bucketsSql("v", planes)
      .mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |n0 AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) nrm, $bucketExprs bs FROM e),
       |bk AS (SELECT vec_id, r.range tbl, bs[r.range + 1] bkt FROM n0 CROSS JOIN range(0, $tables) r),
       |cd AS (SELECT DISTINCT a.vec_id id_a, b.vec_id id_b FROM bk a JOIN bk b
       |  ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id),
       |vr AS (SELECT id_a, id_b,
       |  CASE WHEN na.nrm * nb.nrm = 0 THEN 0.0
       |    ELSE list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm) END c
       |  FROM cd JOIN n0 na ON na.vec_id = cd.id_a JOIN n0 nb ON nb.vec_id = cd.id_b)
       |SELECT id_a, id_b, CAST(c AS FLOAT) cos FROM vr
       |WHERE c >= $LshAutoGateThreshold
       |ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")
  }

  /** whitening_transform: refit (distributed moments + Breeze SVD are
    * deterministic for a fixed table), embed kernel (d×d') and bias (d),
    * reproduce `y_j = float(Σ_i (x_i + bias_i)·K_ij)` in ascending-i
    * order — mirrors [[graft.whitening.WhitenKernels.whiten]]. */
  private def whiteningOracle(s: SparkSession, dir: String): String = {
    val m = new VecsWhitening(16).fit(table(s, dir, "embeddings"), "embedding")
    val d = m.kernel.length
    val kbVals = (0 until m.kernel(0).length)
      .map(j => s"($j, ${dArr(Array.tabulate(d)(i => m.kernel(i)(j)))})")
      .mkString(", ")
    s"""WITH kb(j, kcol) AS (VALUES $kbVals),
       |bs(b) AS (VALUES (${dArr(m.bias)})),
       |e0 AS (SELECT vec_id, embedding::DOUBLE[] v0 FROM embeddings)
       |SELECT vec_id, CAST(kb.j AS INT) pos,
       |  CAST(list_reduce(list_prepend(0.0::DOUBLE,
       |    list_transform(range(0, $d), i -> (v0[i+1] + bs.b[i+1]) * kb.kcol[i+1])), (a, x) -> a + x) AS FLOAT) w
       |FROM e0 CROSS JOIN kb CROSS JOIN bs ORDER BY vec_id, pos""".stripMargin.replace("\n", " ")
  }

  /** knn_pcaw_cos: refit the whitened-PCA kernel exactly as the gate's
    * searcher does (same corpus, deterministic SVD signs), embed
    * kernel + bias, project every vector in SQL with the same
    * double-accumulate + float-round as [[WhitenTransform]], then the
    * exact cos top-k tail in the 16-dim space. */
  private def pcaKnnOracle(s: SparkSession, dir: String, k: Int,
      whiten: Boolean = true, rotate: Boolean = false): String = {
    val m0 = new VecsWhitening(16, whiten)
      .fit(table(s, dir, "embeddings"), "embedding")
    // PCAR: the SAME seeded rotation the searcher composes at fit time
    val m = if (rotate) graft.search.SparkSearcher.composeRotation(m0, 16) else m0
    val d = m.kernel.length
    val kbVals = (0 until m.kernel(0).length)
      .map(j => s"($j, ${dArr(Array.tabulate(d)(i => m.kernel(i)(j)))})")
      .mkString(", ")
    s"""WITH kb(j, kcol) AS (VALUES $kbVals),
       |bs(b) AS (VALUES (${dArr(m.bias)})),
       |e0 AS (SELECT vec_id, label, embedding::DOUBLE[] v0 FROM embeddings),
       |pj AS (SELECT vec_id, label, kb.j, CAST(list_reduce(list_prepend(0.0::DOUBLE,
       |  list_transform(range(0, $d), i -> (v0[i+1] + bs.b[i+1]) * kb.kcol[i+1])), (a, x) -> a + x) AS FLOAT) w
       |  FROM e0 CROSS JOIN kb CROSS JOIN bs),
       |f AS (SELECT vec_id, label, list(w::DOUBLE ORDER BY j) v FROM pj GROUP BY vec_id, label),
       |q AS (SELECT vec_id qid, v FROM f WHERE vec_id < 10),
       |sc AS (SELECT q.qid, x.vec_id xid,
       |  list_dot_product(q.v, x.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(x.v, x.v))) score
       |  FROM q CROSS JOIN f x),
       |${knnTail(k, "DESC")}""".stripMargin.replace("\n", " ")
  }

  /** text_bpe: re-fit the deterministic merge table exactly as the gate
    * does, embed it (rank = 1-based list position), and replay the encode
    * spec — "merge the lowest-(rank, position) adjacent pair, one
    * occurrence per step" — as a recursive CTE over per-character symbol
    * lists. */
  private def bpeOracle(s: SparkSession, dir: String): String =
    bpeOracleBody(s, dir) + " ORDER BY d.doc_id"

  /** SQL string literal that survives the one-line flattening AND any
    * corpus character: quotes double, control chars emit as chr(n)
    * concatenations (an embedded newline would otherwise be rewritten to
    * a space by the final `.replace("\n", " ")`). */
  private def sqlLit(s: String): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    def flush(): Unit =
      if (sb.nonEmpty) { parts += "'" + sb.toString.replace("'", "''") + "'"; sb.clear() }
    s.foreach { c =>
      if (c < ' ' || c == '\u007f') { flush(); parts += s"chr(${c.toInt})" }
      else sb.append(c)
    }
    flush()
    if (parts.isEmpty) "''" else parts.mkString(" || ")
  }

  private def bpeOracleBody(s: SparkSession, dir: String): String = {
    val model = graft.text.BpeTokenizer.fit(table(s, dir, "documents"), "text")
    val mm = model.merges
      .map { case (a, b) => sqlLit(a + "|" + b) }
      .mkString("[", ", ", "]")
    // fitted alphabet for the byte-level OOV fallback: characters outside
    // it expand to <0xNN> UTF-8 byte tokens, exactly as BpeModel.baseSyms
    val alph = model.alphabet.get.toSeq.sorted.map(sqlLit)
      .mkString("[", ", ", "]")
    s"""WITH RECURSIVE mm(m) AS (SELECT $mm),
       |al(a) AS (SELECT $alph),
       |t0 AS (SELECT doc_id, list_filter(str_split(text, ' '), w -> len(w) > 0) ws
       |  FROM documents WHERE text IS NOT NULL),
       |w0 AS (SELECT doc_id, unnest(range(1, len(ws)+1)) wp FROM t0),
       |wd AS (SELECT w0.doc_id, w0.wp, t0.ws[w0.wp] w FROM w0 JOIN t0 USING (doc_id)),
       |init AS (SELECT doc_id, wp, flatten(list_transform(range(1, len(w)+1), i ->
       |    CASE WHEN list_contains(al.a, w[i:i]) THEN [w[i:i]]
       |    ELSE list_transform(range(1, octet_length(encode(w[i:i]))+1),
       |      j -> '<0x' || substr(hex(encode(w[i:i])), j*2-1, 2) || '>') END)) syms
       |  FROM wd CROSS JOIN al),
       |rec AS (
       |  SELECT doc_id, wp, syms FROM init
       |  UNION ALL
       |  SELECT doc_id, wp,
       |    s.syms[1:s.b[2]-1] || [s.syms[s.b[2]] || s.syms[s.b[2]+1]] || s.syms[s.b[2]+2:len(s.syms)]
       |  FROM (SELECT doc_id, wp, syms,
       |      list_sort(list_filter(list_transform(range(1, len(syms)),
       |        i -> [CAST(list_position(mm.m, syms[i] || '|' || syms[i+1]) AS BIGINT), i]),
       |        p -> p[1] IS NOT NULL AND p[1] > 0))[1] b
       |    FROM rec CROSS JOIN mm) s
       |  WHERE s.b IS NOT NULL),
       |fin AS (SELECT doc_id, wp, syms FROM (SELECT doc_id, wp, syms,
       |    list_sort(list_filter(list_transform(range(1, len(syms)),
       |      i -> [CAST(list_position(mm.m, syms[i] || '|' || syms[i+1]) AS BIGINT), i]),
       |      p -> p[1] IS NOT NULL AND p[1] > 0))[1] b
       |  FROM rec CROSS JOIN mm) WHERE b IS NULL),
       |tok AS (SELECT doc_id, wp, array_to_string(syms, ' ') wt, len(syms) n FROM fin),
       |agg AS (SELECT doc_id, string_agg(wt, ' ' ORDER BY wp) bpe_text, sum(n) n_bpe
       |  FROM tok GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CASE WHEN d.text IS NULL THEN NULL ELSE CAST(coalesce(agg.n_bpe, 0) AS BIGINT) END n_bpe,
       |  CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(agg.bpe_text, '') END bpe_text
       |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin.replace("\n", " ")
  }

  /** pipeline_tokenize: the BPE replay (bpeOracleBody) feeding the same
    * exclusive-prefix-sum shard SQL as q_pack_tokens, budget 512 — the
    * composed tokenize→pack gate. Null text packs as 0 tokens, exactly as
    * the Spark side coalesces before packByBudget. */
  private def pipelineTokenizeOracle(s: SparkSession, dir: String): String = {
    val bpe = bpeOracleBody(s, dir)
    s"""WITH b AS (SELECT doc_id, CAST(coalesce(n_bpe, 0) AS BIGINT) n_bpe FROM ($bpe) z),
       |c AS (SELECT doc_id, n_bpe,
       |  CAST(coalesce(SUM(n_bpe) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) cum_before
       |  FROM b)
       |SELECT doc_id, n_bpe, cum_before, CAST(cum_before // 512 AS BIGINT) shard
       |FROM c ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** Optional gate-name filter (set by Verify's local-iteration arg): each
    * dynamic oracle costs a model refit, so skip the builders whose gate
    * wasn't requested. */
  @volatile var oracleNameFilter: Option[Set[String]] = None

  private def dynamicOracles: Map[String, String] = oracleContext match {
    case None => Map.empty
    case Some((s, dir)) =>
      val builders: Map[String, () => String] = Map(
        "knn_pq_cos" -> (() => pqOracle(s, dir, "cos", 10)),
        "knn_pq4_cos" -> (() => pqOracle(s, dir, "cos", 10, "PQ8x4")),
        // x4fs serves the identical x4 codes — same oracle by construction
        "knn_pq4fs_cos" -> (() => pqOracle(s, dir, "cos", 10, "PQ8x4")),
        "knn_pq_l1" -> (() => pqOracle(s, dir, "l1", 10)),
        "knn_opq_cos" -> (() => opqOracle(s, dir, 10)),
        "knn_refine_cos" -> (() => refineOracle(s, dir, 10)),
        "knn_refine_k16" -> (() => refineOracle(s, dir, 10, kFactor = 16)),
        "knn_ivfpq_cos" -> (() => ivfPqOracle(s, dir, 10)),
        "knn_sq8_cos" -> (() => sqOracle(s, dir, 10)),
        "knn_sq4_cos" -> (() => sq4Oracle(s, dir, 10)),
        "knn_ivfsq_cos" -> (() => ivfSqOracle(s, dir, 10)),
        "knn_ivf_pruned" -> (() => ivfPrunedOracle(s, dir, 10)),
        "knn_ivf_auto" -> (() => ivfPrunedOracle(s, dir, 10, "IVF0")),
        "knn_ivf_nprobe_auto" -> (() => ivfPrunedOracle(s, dir, 10, "IVF0", nprobe = 0)),
        // 500-query batch twins of the auto-IVF and PQ gates (k = 5,
        // matching knn_batch_cos's shape)
        "knn_batch_ivf" -> (() => ivfPrunedOracle(s, dir, 5, "IVF0", nprobe = 0, maxQ = 500)),
        // the loaded index serves the identical batch: same deterministic
        // refit oracle (save/load must not change cells, codes, or params)
        "knn_batch_ivf_loaded" -> (() => ivfPrunedOracle(s, dir, 5, "IVF0", nprobe = 0, maxQ = 500)),
        "knn_batch_pq" -> (() => pqOracle(s, dir, "cos", 5, maxQ = 500)),
        "knn_batch_lsh" -> (() => lshKnnOracle(s, dir, 5, maxQ = 500, batchHint = 500)),
        "knn_batch_lsh_auto_reroute" ->
          (() => lshKnnOracle(s, dir, 5, maxQ = 2000, batchHint = 2000)),
        "knn_lsh_auto" -> (() => lshKnnOracle(s, dir, 10)),
        "knn_lsh_auto_pinbits" ->
          (() => lshKnnOracle(s, dir, 10, pinBits = Some(8))),
        "knn_pcaw_cos" -> (() => pcaKnnOracle(s, dir, 10)),
        "knn_pcar_cos" -> (() => pcaKnnOracle(s, dir, 10, whiten = false, rotate = true)),
        "cluster_assign" -> (() => clusterAssignOracle(s, dir)),
        "q_diversity_sample" -> (() => diversityOracle(s, dir)),
        "dedup_embedding_blocked" -> (() => blockedOracle(s, dir)),
        "dedup_embedding_blocked_auto" -> (() => blockedOracle(s, dir, nlist = 0, nprobe = 2)),
        "dedup_embedding_lsh_auto" -> (() => lshAutoOracle(s, dir)),
        "text_bpe" -> (() => bpeOracle(s, dir)),
        "pipeline_tokenize" -> (() => pipelineTokenizeOracle(s, dir)),
        "whitening_transform" -> (() => whiteningOracle(s, dir)),
        // SQL next to the kernel (NgramLm.oracleSql); the fitted count
        // tables are data-dependent -> dynamic entry refits and embeds them
        "text_perplexity" -> (() => graft.text.NgramLm.oracleSql(
          "documents", "doc_id", "text",
          graft.text.NgramLm.fit(table(s, dir, "documents"), "text"))))
      builders
        .filter { case (name, _) => oracleNameFilter.forall(_.contains(name)) }
        .map { case (name, build) => name -> build() }
  }
}
