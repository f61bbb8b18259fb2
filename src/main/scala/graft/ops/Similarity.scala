package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Quantize, TopKAgg}

/** Vector similarity operators over the `embeddings` table — the direct
  * analogs of the reference's exact-search / distance surface:
  * `search(exact=true)` (/root/reference/include/usearch/index.hpp:4251-4268),
  * `pairwise_distance` (/root/reference/python/usearch/index.py:1263-1283),
  * `cluster` (/root/reference/include/usearch/index.hpp:3092-3125).
  *
  * All dot products run in DOUBLE via `zip_with` + `aggregate` — builtin,
  * codegen'd, no UDF. Element order of the fold matches DuckDB's
  * `list_dot_product`, so cross-engine doubles agree; outputs still round
  * to 6 dp for the hash compare.
  */
object Similarity {

  private def emb(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** Σ aᵢ·bᵢ in double precision (inputs are float arrays) — a native
    * codegen Expression (graft.functions.DotProduct); same element order
    * as the fold/list_dot_product formulations, so bit-identical values.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotCol(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** DuckDB fragment for the same cosine. */
  def cosineSql(a: String, b: String): String =
    s"list_dot_product($a::DOUBLE[], $b::DOUBLE[]) / " +
      s"(sqrt(list_dot_product($a::DOUBLE[], $a::DOUBLE[])) * sqrt(list_dot_product($b::DOUBLE[], $b::DOUBLE[])))"

  /** One single-query top-k ranking: `raw` descending for a similarity
    * (ascending for a distance), `vec_id` ascending on ties. Catalyst
    * plans orderBy+limit as TakeOrderedAndProject: a per-partition
    * partial top-k and one ordered merge, the distributed `merge_into`.
    */
  private def rankTopK(scored: DataFrame, k: Int, ascending: Boolean): DataFrame =
    scored.orderBy(if (ascending) asc("raw") else desc("raw"), asc("vec_id")).limit(k)

  /** [[rankTopK]] emitted as `(vec_id, round(raw, 6) AS out)`. A distance
    * adds `+ 0.0`: 1 − cos(v, v) and l2sq can cancel to a tiny negative
    * that rounds to −0.0 in one engine and +0.0 in the other.
    */
  private def emitTopK(scored: DataFrame, k: Int, out: String,
      ascending: Boolean = false): DataFrame = {
    val rounded = round(col("raw"), 6)
    rankTopK(scored, k, ascending)
      .select(col("vec_id"), (if (ascending) rounded + lit(0.0) else rounded).as(out))
  }

  /** The scalar kind a cosine kNN scores in — the reference's
    * `scalar_kind_t` as a parameter of one search path. `col` rounds a
    * stored vector in Spark and `sql` is its DuckDB twin; the pair must
    * produce the same doubles (or exact integers), so the quantized
    * cosine stays bit-identical across engines.
    */
  final case class Quantizer(col: Column => Column, sql: String => String)

  object Quantizer {
    /** The stored vector as is: the f64 exact search. */
    val Exact: Quantizer = Quantizer(v => v, v => v)

    /** i8 storage + search, the reference's headline memory/downcasting
      * feature (README.md:249-269; casts index_plugins.hpp:1170-1191).
      * Integer dot products ≤ 127²·dim are exact doubles, so the scores
      * are bit-identical across engines by construction.
      */
    val I8: Quantizer = Quantizer(Quantize.i8, Quantize.i8Sql)

    /** IEEE binary16 half precision (index_plugins.hpp:299-352), rounded
      * in pure double arithmetic; halves are exact doubles, so the cosine
      * stays exact across engines.
      */
    val F16: Quantizer = Quantizer(Quantize.f16, Quantize.f16Sql)

    /** bfloat16 (BENCHMARKS.md:46-49; `bf16_bits_t` index_plugins.hpp:91-92):
      * [[F16]]'s construction with 8 significand bits.
      */
    val Bf16: Quantizer = Quantizer(Quantize.bf16, Quantize.bf16Sql)
  }

  /** Brute-force cosine top-k of the query vector in `q`'s scalar kind —
    * the `search(exact=true)` analog: score every member (or only the
    * `candidates` vec_ids, e.g. an IVF probe's cells), bounded top-k.
    * `labelFilter` is the `filtered_search` predicate applied to the
    * scored side; the query vector itself may carry any label.
    */
  def knnQuantized(spark: SparkSession, dir: String, q: Quantizer, k: Int = 10,
      queryVecId: Long = 0L, labelFilter: Option[Int] = None,
      candidates: Option[DataFrame] = None): DataFrame = {
    val e = emb(spark, dir)
      .select(col("vec_id"), col("label"), q.col(col("embedding")).as("v"))
    val qv = broadcast(e.where(col("vec_id") === queryVecId).select(col("v").as("qv")))
    val filtered = labelFilter.map(l => e.where(col("label") === l)).getOrElse(e)
    val base = candidates.fold(filtered)(_.join(filtered, "vec_id"))
    emitTopK(base.crossJoin(qv)
      .select(col("vec_id"), cosine(col("v"), col("qv")).as("raw")), k, "cos_sim")
  }

  /** DuckDB twin of [[knnQuantized]] over every member. */
  def knnQuantizedSql(q: Quantizer, k: Int = 10, queryVecId: Long = 0L,
      labelFilter: Option[Int] = None): String = {
    val where = labelFilter.map(l => s"WHERE label = $l").getOrElse("")
    s"""WITH qe AS (SELECT vec_id, label, ${q.sql("embedding")} AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM qe WHERE vec_id = $queryVecId)
       |SELECT vec_id, round(${cosineSql("v", "qv")}, 6) AS cos_sim
       |FROM qe, q $where
       |ORDER BY ${cosineSql("v", "qv")} DESC, vec_id
       |LIMIT $k""".stripMargin
  }

  def knnExact(spark: SparkSession, dir: String, k: Int = 10,
      labelFilter: Option[Int] = None, queryVecId: Long = 0L): DataFrame =
    knnQuantized(spark, dir, Quantizer.Exact, k, queryVecId, labelFilter)

  def knnExactSql(k: Int = 10, labelFilter: Option[Int] = None,
      queryVecId: Long = 0L): String =
    knnQuantizedSql(Quantizer.Exact, k, queryVecId, labelFilter)

  def knnI8(spark: SparkSession, dir: String, k: Int = 10, queryVecId: Long = 0L): DataFrame =
    knnQuantized(spark, dir, Quantizer.I8, k, queryVecId)

  def knnI8Sql(k: Int = 10, queryVecId: Long = 0L): String =
    knnQuantizedSql(Quantizer.I8, k, queryVecId)

  def knnF16(spark: SparkSession, dir: String, k: Int = 10, queryVecId: Long = 0L): DataFrame =
    knnQuantized(spark, dir, Quantizer.F16, k, queryVecId)

  def knnF16Sql(k: Int = 10, queryVecId: Long = 0L): String =
    knnQuantizedSql(Quantizer.F16, k, queryVecId)

  def knnBf16(spark: SparkSession, dir: String, k: Int = 10, queryVecId: Long = 0L): DataFrame =
    knnQuantized(spark, dir, Quantizer.Bf16, k, queryVecId)

  def knnBf16Sql(k: Int = 10, queryVecId: Long = 0L): String =
    knnQuantizedSql(Quantizer.Bf16, k, queryVecId)

  /** The exact ranking a recall entry is measured against: a Spark top-k
    * and its DuckDB twin.
    */
  final case class ExactRank(df: (SparkSession, String, Int) => DataFrame, sql: Int => String)

  object ExactRank {
    val Cos: ExactRank = ExactRank((s, d, k) => knnExact(s, d, k), k => knnExactSql(k))
    val L2sq: ExactRank =
      ExactRank((s, d, k) => MetricQueries.knnL2sq(s, d, k), k => MetricQueries.knnL2sqSql(k))
  }

  /** recall@k of an approximate top-k against `exact`, in integer basis
    * points (the reference's recall-per-dtype table, README.md:258-264,
    * as a measurable driver entry).
    */
  def recall(spark: SparkSession, dir: String, approx: DataFrame, exact: ExactRank,
      k: Int = 10): DataFrame =
    graft.eval.Eval.recallBp(spark, approx, exact.df(spark, dir, k), "vec_id", k)

  /** DuckDB twin of [[recall]]: `approx` is the approximate top-k's own
    * oracle SQL; basis points are `hits·10000 div k`, as in
    * [[graft.eval.Eval.recallBp]].
    */
  def recallSql(approx: String, exact: ExactRank, k: Int = 10): String =
    s"""WITH approx AS (SELECT vec_id FROM ($approx) a),
       |ex AS (SELECT vec_id FROM (${exact.sql(k)}) x)
       |SELECT $k AS k, CAST(count(*) * 10000 // $k AS BIGINT) AS recall_bp
       |FROM approx JOIN ex USING (vec_id)""".stripMargin

  /** recall@10 of the i8 ranking vs the f64 exact ranking. */
  def recallI8(spark: SparkSession, dir: String): DataFrame =
    recall(spark, dir, knnI8(spark, dir), ExactRank.Cos)

  def recallI8Sql: String = recallSql(knnI8Sql(), ExactRank.Cos)

  /** recall@10 of the f16 ranking vs the f64 exact ranking — expected at
    * or near 1.0: 11 significand bits perturb 64-d cosines ~1e-3.
    */
  def recallF16(spark: SparkSession, dir: String): DataFrame =
    recall(spark, dir, knnF16(spark, dir), ExactRank.Cos)

  def recallF16Sql: String = recallSql(knnF16Sql(), ExactRank.Cos)

  /** recall@10 of the bf16 ranking — 8 significand bits sit between
    * f16's 11 and b1's 1, and so does the recall.
    */
  def recallBf16(spark: SparkSession, dir: String): DataFrame =
    recall(spark, dir, knnBf16(spark, dir), ExactRank.Cos)

  def recallBf16Sql: String = recallSql(knnBf16Sql(), ExactRank.Cos)

  /** Dequantized `get` round-trip — the reference reconstructs stored
    * quantized vectors on lookup (`get` dequantizes,
    * /root/reference/include/usearch/index_dense.hpp:781-786, 2191+;
    * round-trip contract tested at
    * /root/reference/python/scripts/test_index.py:87-129): store i8,
    * reconstruct via [[Quantize.fromI8]] (q/127 → unit
    * sphere), and report per-vector reconstruction quality vs the
    * normalized original — max elementwise error and the round-trip
    * cosine. Every step is deterministic IEEE double arithmetic shared
    * with the DuckDB twin (i8 longs exact, /127.0 exact-per-op, max is
    * order-free), so the entry is hash-exact, not a tolerance check.
    */
  def getDequantized(spark: SparkSession, dir: String,
      ids: Seq[Long] = Seq(1L, 5L, 10L, 99L)): DataFrame = {
    val e = emb(spark, dir).where(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("qv", Quantize.i8(col("v")))
      .withColumn("rv", Quantize.fromI8(col("qv")))
      // magnitude materialized as a named column: referencing the dot
      // expression inside the zip_with lambda would re-evaluate it per
      // element (the O(dim²) lambda-inlining regression, CLAUDE.md)
      .withColumn("mag", sqrt(dot(col("v"), col("v"))))
    e.select(col("vec_id"),
      (round(aggregate(
        zip_with(col("rv"), col("v"), (r, x) => abs(r - x / col("mag"))),
        lit(0.0), (acc, d) => greatest(acc, d)), 6) + 0.0).as("max_err"),
      (round(cosine(col("rv"), col("v")), 6) + 0.0).as("cos_rt"))
      .orderBy(col("vec_id"))
  }

  def getDequantizedSql(ids: Seq[Long] = Seq(1L, 5L, 10L, 99L)): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |    ${Quantize.i8Sql("embedding")} AS qv,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS mag
       |  FROM embeddings WHERE vec_id IN (${ids.mkString(", ")})),
       |r AS (SELECT vec_id, v, mag, list_transform(qv, q -> q / 127.0) AS rv FROM e)
       |SELECT vec_id,
       |  round(list_max(list_transform(range(1, len(v) + 1), i -> abs(rv[i] - v[i] / mag))), 6) + 0.0 AS max_err,
       |  round(${cosineSql("rv", "v")}, 6) + 0.0 AS cos_rt
       |FROM r ORDER BY vec_id""".stripMargin

  /** Hamming distance over packed-sign-bit words (b1 vectors): Σ per-word
    * popcount(xor) — builtin zip_with/bit_count, integer-exact.
    */
  def hammingWords(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, v) => acc + v)

  def hammingWordsSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), w -> bit_count(xor($a[w], $b[w]))))"

  /** b1 binary-quantized exact top-k — the reference's headline b1x8
    * mode (README.md:267-269; SQL surface `distance_hamming_binary`,
    * sqlite/lib.cpp:287-289):
    * vectors packed to sign bits ([[Quantize.b1]], 64×
    * smaller than f64), ranked by hamming distance (asc, id asc). All
    * arithmetic is integer → bit-identical cross-engine by construction.
    * Recall vs the f64 exact ranking is gated in QuantizeSpec and
    * exported by [[recallB1]].
    */
  def knnB1(spark: SparkSession, dir: String, k: Int = 10,
      queryVecId: Long = 0L): DataFrame = {
    val e = emb(spark, dir)
      .select(col("vec_id"), Quantize.b1(col("embedding")).as("bv"))
    val q = broadcast(e.where(col("vec_id") === queryVecId).select(col("bv").as("qv")))
    rankTopK(e.crossJoin(q)
      .select(col("vec_id"), hammingWords(col("bv"), col("qv")).as("raw")), k, ascending = true)
      .select(col("vec_id"), col("raw").cast("int").as("hamming"))
  }

  def knnB1Sql(k: Int = 10, queryVecId: Long = 0L): String =
    s"""WITH qe AS (SELECT vec_id, ${Quantize.b1Sql("embedding")} AS bv FROM embeddings),
       |q AS (SELECT bv AS qv FROM qe WHERE vec_id = $queryVecId)
       |SELECT vec_id, CAST(${hammingWordsSql("bv", "qv")} AS INT) AS hamming
       |FROM qe, q ORDER BY ${hammingWordsSql("bv", "qv")}, vec_id LIMIT $k""".stripMargin

  /** recall@10 of the b1 ranking vs the f64 exact ranking (the b1 row
    * of the reference's recall-per-dtype table, README.md:258-269). 64
    * sign bits of a 64-d vector keep far less information than i8 — the
    * number is expected well below i8's.
    */
  def recallB1(spark: SparkSession, dir: String): DataFrame =
    recall(spark, dir, knnB1(spark, dir), ExactRank.Cos)

  def recallB1Sql: String = recallSql(knnB1Sql(), ExactRank.Cos)

  /** Self-recall through the b1 binary quantization — the reference's
    * `self_recall` quality probe (/root/reference/python/usearch/eval.py:97-112:
    * "queries every existing member of the index, to make sure
    * approximate search finds the point itself"; its `sample` parameter
    * bounds the query set). Exact search trivially returns self at rank
    * 1, so graft probes the LOSSY b1 path: each sampled member's packed
    * sign bits query the whole corpus by Hamming argmin (dist asc, id
    * asc — min(struct) so the agg partial-aggregates map-side). A member
    * displaced by a Hamming tie with a smaller id scores self_hit = 0 —
    * the honest displacement the reference's docstring warns about for
    * duplicates. All-integer output: bit-identical cross-engine by
    * construction. The reference's scalar stat is the mean of self_hit.
    *
    * Scale shape: sampled queries broadcast (|sample| = n/sampleMod
    * rows), ONE scan of the corpus, shuffle only the per-query argmin
    * partials — never the query×member cross product.
    */
  def selfRecallB1(spark: SparkSession, dir: String,
      sampleMod: Long = 50L): DataFrame = {
    val e = emb(spark, dir)
      .select(col("vec_id"), Quantize.b1(col("embedding")).as("bv"))
    val q = broadcast(e.where(col("vec_id") % sampleMod === 0)
      .select(col("vec_id").as("query_id"), col("bv").as("qv")))
    e.crossJoin(q)
      .select(col("query_id"),
        struct(hammingWords(col("bv"), col("qv")).as("h"),
          col("vec_id").as("cid")).as("hc"))
      .groupBy(col("query_id"))
      .agg(min(col("hc")).as("m"))
      .select(col("query_id"), col("m.cid").as("top1_id"),
        when(col("m.cid") === col("query_id"), 1L).otherwise(0L).as("self_hit"))
      .orderBy(col("query_id"))
  }

  def selfRecallB1Sql(sampleMod: Long = 50L): String =
    s"""WITH qe AS (SELECT vec_id, ${Quantize.b1Sql("embedding")} AS bv FROM embeddings),
       |q AS (SELECT vec_id AS query_id, bv AS qv FROM qe WHERE vec_id % $sampleMod = 0),
       |s AS (SELECT q.query_id, e.vec_id,
       |        row_number() OVER (PARTITION BY q.query_id
       |          ORDER BY ${hammingWordsSql("e.bv", "q.qv")}, e.vec_id) AS rn
       |      FROM qe e CROSS JOIN q)
       |SELECT query_id, vec_id AS top1_id,
       |  CAST(CASE WHEN vec_id = query_id THEN 1 ELSE 0 END AS BIGINT) AS self_hit
       |FROM s WHERE rn = 1 ORDER BY query_id""".stripMargin

  /** Two-stage coarse-then-refine search: b1 Hamming shortlist (64×
    * smaller vectors, integer arithmetic) re-ranked with the exact f64
    * cosine — the standard recipe for recovering the b1 recall cliff the
    * reference documents (README.md:254-269: the same index down-casts to
    * `b1x8_t` and up-casts back; its search contexts keep dedicated
    * refine shortlists, `top_for_refine` / `computed_distances_in_refines`,
    * index.hpp:2204-2211).
    *
    * Scale shape: ONE scan computes the integer Hamming shortlist
    * (TakeOrderedAndProject, k·factor rows survive), and only those
    * k·factor candidates are scored with the full-precision cosine — at
    * 10⁹ vectors the expensive metric touches 80 rows, not 10⁹. The
    * full-precision vector rides inside the shortlist heap (k·factor
    * rows per partition), so no second scan or re-join is needed.
    * Both stages break ties by vec_id asc → deterministic cross-engine.
    */
  def knnB1Refine(spark: SparkSession, dir: String, k: Int = 10,
      factor: Int = 8, queryVecId: Long = 0L): DataFrame = {
    val e = emb(spark, dir)
      .select(col("vec_id"), col("embedding"), Quantize.b1(col("embedding")).as("bv"))
    val q = broadcast(e.where(col("vec_id") === queryVecId)
      .select(col("bv").as("qb"), col("embedding").as("qv")))
    val shortlist = rankTopK(e.crossJoin(q)
      .select(col("vec_id"), col("embedding"), col("qv"),
        hammingWords(col("bv"), col("qb")).as("raw")), k * factor, ascending = true)
    emitTopK(shortlist
      .select(col("vec_id"), cosine(col("embedding"), col("qv")).as("raw")), k, "cos_sim")
  }

  def knnB1RefineSql(k: Int = 10, factor: Int = 8, queryVecId: Long = 0L): String =
    s"""WITH qe AS (SELECT vec_id, embedding, ${Quantize.b1Sql("embedding")} AS bv FROM embeddings),
       |q AS (SELECT bv AS qb, embedding AS qv FROM qe WHERE vec_id = $queryVecId),
       |cand AS (SELECT e.vec_id, e.embedding, q.qv FROM qe e, q
       |         ORDER BY ${hammingWordsSql("e.bv", "q.qb")}, e.vec_id LIMIT ${k * factor})
       |SELECT vec_id, round(${cosineSql("embedding", "qv")}, 6) AS cos_sim
       |FROM cand ORDER BY ${cosineSql("embedding", "qv")} DESC, vec_id LIMIT $k""".stripMargin

  /** recall@10 of the b1-coarse + exact-refine ranking vs the f64 exact
    * ranking — the measurable claim that an 8× shortlist recovers most of
    * the recall the bare b1 ranking loses (recallB1 ≈ 0.30 on this
    * corpus; the refine stage only reorders/filters the shortlist, so
    * recall = |shortlist ∩ exact-top-10| when the shortlist covers it).
    */
  def recallB1Refine(spark: SparkSession, dir: String): DataFrame =
    recall(spark, dir, knnB1Refine(spark, dir), ExactRank.Cos)

  def recallB1RefineSql: String = recallSql(knnB1RefineSql(), ExactRank.Cos)

  /** NDCG@10 of the b1 ranking vs the f64 exact ranking, in integer
    * basis points — the rank-quality half of the per-dtype table (recall
    * counts hits; NDCG weighs WHERE they landed,
    * [[graft.eval.Eval.DiscountMicros]] fixed-point discounts so the
    * DuckDB twin shares the exact integer constants instead of trusting
    * two engines' `log` to agree). Binary relevance: a b1 hit at rank r
    * earns discount(r); ideal DCG packs the hits at the top.
    */
  def ndcgB1(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val b1Ids = knnB1(spark, dir).select("vec_id").collect().map(_.getLong(0))
    val exactIds = knnExact(spark, dir).select("vec_id").collect().map(_.getLong(0)).toSet
    val hitRanks = b1Ids.zipWithIndex.collect { case (id, i) if exactIds(id) => i + 1 }
    val dcg = hitRanks.map(r => graft.eval.Eval.DiscountMicros(r - 1)).sum
    val idcg = (1 to hitRanks.length).map(r => graft.eval.Eval.DiscountMicros(r - 1)).sum
    val bp = if (idcg == 0L) 0L else (20000L * dcg + idcg) / (2L * idcg)
    Seq((10, bp)).toDF("k", "ndcg_bp")
  }

  def ndcgB1Sql: String = {
    val disc = (1 to 10)
      .map(r => s"($r, ${graft.eval.Eval.DiscountMicros(r - 1)})").mkString(", ")
    s"""WITH b1 AS (SELECT vec_id, row_number() OVER (ORDER BY hamming, vec_id) AS rnk
       |       FROM (${knnB1Sql()}) b),
       |ex AS (SELECT vec_id FROM (${knnExactSql()}) x),
       |disc(rnk, d) AS (VALUES $disc),
       |hits AS (SELECT b1.rnk FROM b1 JOIN ex USING (vec_id)),
       |dv AS (SELECT CAST(coalesce(sum(d.d), 0) AS BIGINT) AS dcg
       |       FROM hits JOIN disc d ON d.rnk = hits.rnk),
       |n AS (SELECT count(*) AS c FROM hits),
       |iv AS (SELECT CAST(coalesce(sum(d.d), 0) AS BIGINT) AS idcg
       |       FROM disc d, n WHERE d.rnk <= n.c)
       |SELECT 10 AS k,
       |  CASE WHEN iv.idcg = 0 THEN 0
       |       ELSE (20000 * dv.dcg + iv.idcg) // (2 * iv.idcg) END AS ndcg_bp
       |FROM dv, iv""".stripMargin
  }

  /** Batched multi-query exact kNN — the embedding-side `searchMany`
    * (the reference's `exact_search_t` scores MANY queries in one pass,
    * index_plugins.hpp:2071-2164): one scan of the vectors against the
    * broadcast query set, then [[emitBatchTopK]].
    */
  def knnExactMany(spark: SparkSession, dir: String,
      nQueries: Int = 5, k: Int = 10): DataFrame =
    emitBatchTopK(emb(spark, dir).crossJoin(broadcast(querySet(spark, dir, nQueries)))
      .select(col("query_id"), col("vec_id"), cosine(col("embedding"), col("qv")).as("raw")), k)

  /** The first `nQueries` vectors as a query set `(query_id, qv)`. */
  private def querySet(spark: SparkSession, dir: String, nQueries: Int): DataFrame =
    emb(spark, dir).where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  /** The batch twin of [[emitTopK]]: a bounded per-query cosine top-k
    * ([[TopKAgg]], map-side partial — the shuffle carries
    * O(queries · partitions · k) buffers, never the scored rows),
    * emitted as (query_id, rank, vec_id, round(raw, 6) AS cos_sim).
    */
  private def emitBatchTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(TopKAgg.greatest(col("raw"), col("vec_id"), k).as("hits"))
      .select(col("query_id"), posexplode(col("hits")).as(Seq("rnk0", "h")))
      .select(col("query_id"), (col("rnk0") + 1).as("rank"),
        col("h.id").as("vec_id"), round(col("h.score"), 6).as("cos_sim"))
      .orderBy(col("query_id"), col("rank"))

  def knnExactManySql(nQueries: Int = 5, k: Int = 10): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < $nQueries),
       |s AS (SELECT q.query_id, e.vec_id, ${cosineSql("e.embedding", "q.qv")} AS cos_raw,
       |        row_number() OVER (PARTITION BY q.query_id
       |          ORDER BY ${cosineSql("e.embedding", "q.qv")} DESC, e.vec_id) AS rnk
       |      FROM embeddings e CROSS JOIN q)
       |SELECT query_id, CAST(rnk AS INT) AS rank, vec_id, round(cos_raw, 6) AS cos_sim
       |FROM s WHERE rnk <= $k ORDER BY query_id, rank""".stripMargin

  /** Exact top-k under any declared [[graft.functions.Metric]] — the
    * user-defined-metric entry point (`metric_punned_t` registration
    * analog): any Metric instance, user-supplied or built-in, drops into
    * the same plan (distance asc, id asc).
    */
  def knnWithMetric(spark: SparkSession, dir: String,
      metric: graft.functions.Metric, k: Int = 10, queryVecId: Long = 0L): DataFrame = {
    val e = emb(spark, dir)
    val q = broadcast(e.where(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_embedding")))
    emitTopK(e.crossJoin(q)
      .select(col("vec_id"), metric(col("embedding"), col("q_embedding")).as("raw")),
      k, "dist", ascending = true)
  }

  /** Oracle for [[knnWithMetric]] with the built-in cos metric. */
  def knnWithMetricCosSql(k: Int = 10, queryVecId: Long = 0L): String =
    s"""WITH q AS (SELECT embedding AS q_embedding FROM embeddings WHERE vec_id = $queryVecId)
       |SELECT vec_id, round(1.0 - ${cosineSql("embedding", "q_embedding")}, 6) + 0.0 AS dist
       |FROM embeddings, q
       |ORDER BY 1.0 - ${cosineSql("embedding", "q_embedding")}, vec_id
       |LIMIT $k""".stripMargin

  /** Pairwise distance over aligned key arrays (`pairwise_distance`
    * analog): cosine distance between (2i, 2i+1) pairs, vec_id < 40.
    */
  def pairwiseDistance(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val left = e.where(col("vec_id") < 40 && col("vec_id") % 2 === 0)
      .select(col("vec_id").as("left_id"), col("embedding").as("a"))
    val right = e.select(col("vec_id").as("right_id"), col("embedding").as("b"))
    left.join(right, col("right_id") === col("left_id") + 1)
      .select(col("left_id"), col("right_id"),
        round(lit(1.0) - cosine(col("a"), col("b")), 6).as("cos_dist"))
      .orderBy(col("left_id"))
  }

  val pairwiseDistanceSql: String =
    s"""SELECT a.vec_id AS left_id, b.vec_id AS right_id,
       |  round(1.0 - ${cosineSql("a.embedding", "b.embedding")}, 6) AS cos_dist
       |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
       |WHERE a.vec_id < 40 AND a.vec_id % 2 = 0
       |ORDER BY left_id""".stripMargin

  /** Assign every vector to its nearest of 10 centroids (vec_id < 10) —
    * the `cluster(queries, level)` analog: broadcast centroids, argmin by
    * (distance, centroid) for a deterministic tie-break.
    */
  def clusterAssign(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val centroids = broadcast(e.where(col("vec_id") < 10)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_embedding")))
    // argmin via min(struct(dist, centroid)): lexicographic struct order
    // = the (dist asc, centroid asc) tie rule, partial-aggregated
    // map-side (the row_number window this replaces shuffled and sorted
    // the full point×centroid cross product)
    e.crossJoin(centroids)
      .select(col("vec_id"),
        struct((lit(1.0) - cosine(col("embedding"), col("c_embedding"))).as("dist_raw"),
          col("centroid_id").as("centroid_id")).as("dc"))
      .groupBy(col("vec_id"))
      .agg(min(col("dc")).as("m"))
      // `+ 0.0` normalizes IEEE −0.0 → +0.0: 1 − cos(c,c) can be a tiny
      // negative (1 − 1.0000000000000002) that rounds to −0.0 in one
      // engine and +0.0 in the other (round-1 hash fail, 3/500 rows)
      .select(col("vec_id"), col("m.centroid_id").as("centroid_id"),
        (round(col("m.dist_raw"), 6) + lit(0.0)).as("dist"))
      .orderBy(col("vec_id"))
  }

  val clusterAssignSql: String =
    s"""SELECT vec_id, centroid_id, round(dist_raw, 6) + 0.0 AS dist FROM (
       |  SELECT e.vec_id, c.vec_id AS centroid_id,
       |    1.0 - ${cosineSql("e.embedding", "c.embedding")} AS dist_raw,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY 1.0 - ${cosineSql("e.embedding", "c.embedding")}, c.vec_id) AS rn
       |  FROM embeddings e, embeddings c WHERE c.vec_id < 10) x
       |WHERE rn = 1
       |ORDER BY vec_id""".stripMargin

  /** IVF (inverted-file) approximate nearest-neighbor — the scale path
    * for similarity search (the role HNSW plays in the reference): vectors
    * are k-means-partitioned into `nlist` cells; a query scores ONLY the
    * `nprobe` nearest cells, touching nprobe/nlist of the data. The exact
    * brute-force path ([[knnExact]]) is the recall oracle (IvfSpec).
    *
    * The persisted handle: centroids + cell assignments served from
    * Parquet, built ONCE per (data dir, nlist) and reused — the reference
    * builds its serving structure at add-time and queries only probe it
    * (index.hpp:2-4).
    */
  final case class IvfIndex(centroids: DataFrame, assignments: DataFrame)

  /** K-means iterations behind every persisted IVF root — shared with the
    * recall-curve oracle, which replays the identical fit in SQL.
    */
  final val IvfKmeansIters = 2

  /** Root of a build artifact persisted under `java.io.tmpdir`, named by
    * `name` from the data dir's key: `build(root)` runs only while the
    * root's `_committed` marker is missing, so the artifact is fitted once
    * per data dir and every later call reads Parquet.
    */
  private def persistedRoot(dir: String, name: String => String)(build: String => Unit): String = {
    import java.nio.file.{Files, Paths}
    val root = s"${sys.props("java.io.tmpdir")}/${name(dir.replaceAll("[^a-zA-Z0-9.]", "_"))}"
    val marker = Paths.get(root, "_committed")
    if (!Files.exists(marker)) {
      build(root)
      Files.writeString(marker, "ok")
    }
    root
  }

  def ivfIndexFor(spark: SparkSession, dir: String, nlist: Int = 8,
      maxId: Option[Long] = None): IvfIndex = {
    val suffix = maxId.map(m => s"-lt$m").getOrElse("")
    val root = persistedRoot(dir, key => s"graft-ivf-$key-n$nlist$suffix") { root =>
      val pts0 = emb(spark, dir).select(col("vec_id").as("id"), col("embedding").as("vec"))
      val pts = maxId.map(m => pts0.where(col("id") < m)).getOrElse(pts0)
      val km = graft.index.KMeans.fit(spark, pts, k = nlist,
        iterations = IvfKmeansIters, computeInertia = false)
      // the two outputs are independent: write the (tiny) centroids on a
      // driver thread while the cell-partitioned assignments write runs
      val fc = graft.index.IndexBuilder.stagePool.submit(new Runnable {
        override def run(): Unit =
          km.centroids.write.mode("overwrite").parquet(s"$root/centroids")
      })
      // assignments partitioned BY CELL: a probe reads only its cells'
      // files (partition pruning), the IVF point at scale
      try km.assignments.write.mode("overwrite").partitionBy("cid").parquet(s"$root/assignments")
      finally fc.get()
      // everything is on disk now — drop the fit's result caches
      km.centroids.unpersist()
      km.assignments.unpersist()
    }
    IvfIndex(
      spark.read.parquet(s"$root/centroids"),
      spark.read.parquet(s"$root/assignments"))
  }

  /** `labelFilter` = the reference's `filtered_search` predicate applied
    * DURING scoring (candidates from the probed cells are tested before
    * they can enter the top-k), not by shrinking the index — same
    * semantics as the engine's filtered WAND. At `nprobe = nlist` the
    * filtered IVF result must equal the filtered brute-force oracle.
    */
  def ivfKnn(spark: SparkSession, dir: String, k: Int = 10, nlist: Int = 16,
      nprobe: Int = 4, queryVecId: Long = 0L, labelFilter: Option[Int] = None): DataFrame = {
    val probed = probeCells(spark, dir, ivfIndexFor(spark, dir, nlist), queryVecId, nprobe)
    knnQuantized(spark, dir, Quantizer.Exact, k, queryVecId, labelFilter,
      candidates = Some(probed.select(col("id").as("vec_id"))))
  }

  /** Ids of the vectors in the `nprobe` IVF cells nearest the query:
    * cells ranked by cosine distance to the centroid (cid asc on ties)
    * on the driver, over the nlist centroid rows; the assignments read
    * partition-prunes to the probed cells.
    */
  private def probeCells(spark: SparkSession, dir: String, ivf: IvfIndex,
      queryVecId: Long, nprobe: Int): DataFrame = {
    import graft.functions.DotProduct.{dot => dotD}
    val qVec = emb(spark, dir).where(col("vec_id") === queryVecId)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    val probed = ivf.centroids.collect()
      .map { r =>
        val c = r.getSeq[Double](1).toArray
        (r.getLong(0), 1.0 - dotD(qVec, c) / (math.sqrt(dotD(qVec, qVec)) * math.sqrt(dotD(c, c))))
      }
      .sortBy { case (cid, d) => (d, cid) }
      .take(nprobe)
      .map(_._1)
    ivf.assignments.where(col("cid").isin(probed.toSeq: _*)).select(col("id"))
  }

  /** Batched IVF ANN: every query probes its own nprobe nearest cells,
    * candidates come from ONE partition-pruned join of the (query, cid)
    * probe table against the cell-partitioned assignments, and the
    * per-query top-k is the bounded map-side-partial aggregate — the
    * batch analog of [[ivfKnn]] (the reference scores many queries per
    * index pass, `exact_search_t` index_plugins.hpp:2071-2164). Probe
    * selection is itself distributed — queries × broadcast(nlist
    * centroids) → bounded TopKAgg per query — so NOTHING scales with the
    * query count on the driver; a million-query batch plans the same
    * way. Probing the nprobe cells of max cosine == min cosine DISTANCE
    * (1−cos is monotone; ties in cos are ties in d, both break id-asc),
    * so this matches [[ivfKnn]]'s per-query probe rule — IvfSpec pins
    * batch ≡ per-query at nprobe < nlist. At `nprobe = nlist` every cell
    * is probed, so the full batched machinery must reproduce the
    * brute-force batch oracle exactly.
    */
  def ivfKnnMany(spark: SparkSession, dir: String, nQueries: Int = 5, k: Int = 10,
      nlist: Int = 8, nprobe: Int = 8): DataFrame = {
    val ivf = ivfIndexFor(spark, dir, nlist)
    val qSet = querySet(spark, dir, nQueries)
    emitBatchTopK(ivf.assignments
      .join(cellRanks(qSet, ivf, nprobe), "cid")
      .select(col("query_id"), col("id").as("vec_id"))
      .join(emb(spark, dir), "vec_id")
      .join(broadcast(qSet), "query_id")
      .select(col("query_id"), col("vec_id"), cosine(col("embedding"), col("qv")).as("raw")), k)
  }

  /** Each query's `n` nearest IVF cells with their 1-based `cell_rank` —
    * the distributed twin of [[probeCells]]: queries × broadcast(nlist
    * centroids) → a bounded map-side-partial TopKAgg per query, broadcast
    * as the probe table.
    */
  private def cellRanks(qSet: DataFrame, ivf: IvfIndex, n: Int): DataFrame =
    broadcast(
      qSet.crossJoin(broadcast(ivf.centroids.select(col("cid"), col("cvec").as("cv"))))
        .select(col("query_id"), col("cid"), cosine(col("qv"), col("cv")).as("c_cos"))
        .groupBy(col("query_id"))
        .agg(TopKAgg.greatest(col("c_cos"), col("cid"), n).as("cells"))
        .select(col("query_id"), posexplode(col("cells")).as(Seq("crnk0", "c")))
        .select(col("query_id"), col("c.id").as("cid"), (col("crnk0") + 1).as("cell_rank")))

  final val RecallCurveNlist = 64
  final val RecallCurveNprobes: Seq[Int] = Seq(1, 2, 4, 8, 16, 32, 64)
  final val RecallCurveNQueries = 20
  final val RecallCurveK = 10

  /** Recall-vs-nprobe curve for the IVF index at a non-trivial nlist —
    * the per-config recall table the reference publishes for its
    * quantization/connectivity sweeps (BENCHMARKS.md:28-40).
    * One pass scores every (query, candidate, cell_rank) triple; each
    * nprobe's top-k is a bounded map-side partial over the `cell_rank <=
    * nprobe` slice, so the whole curve is ONE plan whose size is
    * |nprobes| × the largest probe's candidate set — no per-point rebuild.
    * recall_bp is integer basis points (10000·hits div (nQueries·k)) —
    * never a rounded double ratio (cross-engine .5 boundaries).
    * At nprobe = nlist every cell is probed, so the curve's last point
    * must be exactly 10000 (full probe ≡ brute force); IvfSpec pins that
    * and monotonicity in nprobe.
    */
  def ivfRecallCurve(spark: SparkSession, dir: String,
      nQueries: Int = RecallCurveNQueries, k: Int = RecallCurveK,
      nlist: Int = RecallCurveNlist): DataFrame = {
    val ivf = ivfIndexFor(spark, dir, nlist)
    val qSet = querySet(spark, dir, nQueries)
    // every cell ranked per query (bounded: nlist rows/query)
    val scored = ivf.assignments
      .join(cellRanks(qSet, ivf, nlist), "cid")
      .select(col("query_id"), col("id").as("vec_id"), col("cell_rank"))
      .join(emb(spark, dir), "vec_id")
      .join(broadcast(qSet), "query_id")
      .select(col("query_id"), col("vec_id"), col("cell_rank"),
        cosine(col("embedding"), col("qv")).as("cos_raw"))
    val probes = explode(lit(RecallCurveNprobes.toArray)).as("nprobe")
    val ivfTopk = scored
      .select(col("query_id"), col("vec_id"), col("cell_rank"), col("cos_raw"), probes)
      .where(col("cell_rank") <= col("nprobe"))
      .groupBy(col("nprobe"), col("query_id"))
      .agg(TopKAgg.greatest(col("cos_raw"), col("vec_id"), k).as("hits"))
      .select(col("nprobe"), col("query_id"), explode(col("hits.id")).as("vec_id"))
    val exact = qSet.crossJoin(emb(spark, dir))
      .select(col("query_id"), col("vec_id"), cosine(col("embedding"), col("qv")).as("cos_raw"))
      .groupBy(col("query_id"))
      .agg(TopKAgg.greatest(col("cos_raw"), col("vec_id"), k).as("hits"))
      .select(col("query_id"), explode(col("hits.id")).as("vec_id"))
    val hits = ivfTopk.join(exact, Seq("query_id", "vec_id"))
      .groupBy(col("nprobe")).agg(count(lit(1)).as("h"))
    import spark.implicits._
    RecallCurveNprobes.toDF("nprobe")
      .join(hits, Seq("nprobe"), "left")
      .select(col("nprobe"),
        expr(s"10000 * coalesce(h, 0L) div ${nQueries.toLong * k}").as("recall_bp"))
      .orderBy(col("nprobe"))
  }

  /** DuckDB oracle for [[ivfRecallCurve]]: replays the persisted index's
    * k-means fit via [[kmeansCtesSql]] (bit-identical centroids — the
    * eng_kmeans-proven recipe), then the same cell-rank / top-k /
    * intersection arithmetic with the identical (score desc, id asc)
    * tie rule at every rank boundary.
    */
  def ivfRecallCurveSql(nQueries: Int = RecallCurveNQueries, k: Int = RecallCurveK,
      nlist: Int = RecallCurveNlist): String = {
    val probeValues = RecallCurveNprobes.map(p => s"($p)").mkString(",")
    s"""WITH pts AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |${kmeansCtesSql(nlist, IvfKmeansIters)},
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |      FROM embeddings WHERE vec_id < $nQueries),
       |cellrank AS (
       |  SELECT query_id, cid,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY ${cosineSql("qv", "cv")} DESC, cid) AS cell_rank
       |  FROM q CROSS JOIN c$IvfKmeansIters),
       |cand AS (
       |  SELECT cr.query_id, a.id, cr.cell_rank,
       |    ${cosineSql("p.v", "q.qv")} AS cos_raw
       |  FROM afin a JOIN cellrank cr ON cr.cid = a.cid
       |  JOIN pts p ON p.id = a.id JOIN q ON q.query_id = cr.query_id),
       |probes(nprobe) AS (VALUES $probeValues),
       |ivfk AS (
       |  SELECT nprobe, query_id, id FROM (
       |    SELECT pr.nprobe, c.query_id, c.id,
       |      row_number() OVER (PARTITION BY pr.nprobe, c.query_id
       |        ORDER BY c.cos_raw DESC, c.id) AS rn
       |    FROM cand c JOIN probes pr ON c.cell_rank <= pr.nprobe) WHERE rn <= $k),
       |exact AS (
       |  SELECT query_id, id FROM (
       |    SELECT q.query_id, p.id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cosineSql("p.v", "q.qv")} DESC, p.id) AS rn
       |    FROM q CROSS JOIN pts p) WHERE rn <= $k),
       |hits AS (
       |  SELECT nprobe, count(*) AS h FROM ivfk JOIN exact USING (query_id, id)
       |  GROUP BY nprobe)
       |SELECT pr.nprobe, CAST(10000 * coalesce(h, 0) // ${nQueries.toLong * k} AS BIGINT) AS recall_bp
       |FROM probes pr LEFT JOIN hits USING (nprobe) ORDER BY pr.nprobe""".stripMargin
  }

  /** Per-cell occupancy of the persisted IVF index — the IVF analog of
    * the reference's per-level stats report
    * (/root/reference/include/usearch/index.hpp:3133-3210: nodes/edges
    * per level), and the skew probe a 100 TB deployment reads before
    * sizing probes: a lopsided cell histogram predicts hot probe
    * partitions exactly the way a lopsided HNSW level predicts hot
    * traversals. One groupBy over the cell-partitioned assignments
    * (map-side partial count), empty cells kept via the centroids table;
    * share in exact integer basis points. The corpus count is the one
    * driver scalar.
    */
  def ivfStats(spark: SparkSession, dir: String, nlist: Int = 8): DataFrame = {
    val ivf = ivfIndexFor(spark, dir, nlist)
    val total = emb(spark, dir).count()
    val counts = ivf.assignments.groupBy(col("cid")).agg(count(lit(1)).as("n_vecs"))
    ivf.centroids.select(col("cid"))
      .join(counts, Seq("cid"), "left")
      .na.fill(0L, Seq("n_vecs"))
      .withColumn("share_bp", expr(s"(20000 * n_vecs + ${total}L) div (2 * ${total}L)"))
      .select(col("cid"), col("n_vecs"), col("share_bp"))
      .orderBy(col("cid"))
  }

  /** DuckDB oracle for [[ivfStats]]: replays the persisted index's
    * k-means fit (bit-identical centroids and assignments — the
    * recall-curve recipe), then the same occupancy arithmetic.
    */
  def ivfStatsSql(nlist: Int = 8): String =
    s"""WITH pts AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |${kmeansCtesSql(nlist, IvfKmeansIters)},
       |cnt AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs FROM afin GROUP BY cid),
       |tot AS (SELECT count(*) AS t FROM pts)
       |SELECT c.cid, COALESCE(n.n_vecs, 0) AS n_vecs,
       |  CAST((20000 * COALESCE(n.n_vecs, 0) + tot.t) // (2 * tot.t) AS BIGINT) AS share_bp
       |FROM c$IvfKmeansIters c LEFT JOIN cnt n USING (cid) CROSS JOIN tot
       |ORDER BY c.cid""".stripMargin

  /** Incremental IVF add — the reference's add-then-search lifecycle
    * (`index.add(key, vector)` then immediately searchable,
    * /root/reference/include/usearch/index_dense.hpp:779-817) on the IVF
    * structure: vectors arriving AFTER the index was built are assigned
    * to the EXISTING persisted centroids with one broadcast argmin
    * (l2sq asc, cid asc — the same rule the builder's k-means used), no
    * recluster, no touch of the resident assignments. At 10⁹ vectors an
    * add-batch costs O(batch · nlist) distances and appends to the
    * arriving cells' partitions only.
    */
  def ivfAddAssignments(spark: SparkSession, dir: String,
      nlist: Int = 8, splitId: Long = 400L): DataFrame = {
    val ivf = ivfIndexFor(spark, dir, nlist, maxId = Some(splitId))
    val added = emb(spark, dir).where(col("vec_id") >= splitId)
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("vec"))
    def l2sq(v: Column, c: Column): Column =
      dot(v, v) - lit(2.0) * dot(v, c) + dot(c, c)
    added.crossJoin(broadcast(ivf.centroids.select(col("cid"), col("cvec"))))
      .select(col("id"),
        struct(l2sq(col("vec"), col("cvec")).as("dist"), col("cid").as("cid")).as("dc"))
      .groupBy(col("id"))
      .agg(min(col("dc")).as("m"))
      .select(col("id"), col("m.cid").as("cid"))
  }

  /** Search over base ∪ incrementally-added vectors at full probe, query
    * taken from the ADDED batch — proves added vectors are immediately
    * searchable through the IVF machinery and ranked exactly (full probe
    * must reproduce the brute-force oracle; partial-probe recall and
    * assignment parity are pinned in IvfSpec).
    */
  def ivfAddKnn(spark: SparkSession, dir: String, k: Int = 10,
      nlist: Int = 8, splitId: Long = 400L, queryVecId: Long = 450L): DataFrame = {
    val ivf = ivfIndexFor(spark, dir, nlist, maxId = Some(splitId))
    val combined = ivf.assignments.select(col("id"), col("cid"))
      .union(ivfAddAssignments(spark, dir, nlist, splitId))
    knnQuantized(spark, dir, Quantizer.Exact, k, queryVecId,
      candidates = Some(combined.select(col("id").as("vec_id"))))
  }

  final val KmeansK = 8
  final val KmeansIters = 3

  /** Engine k-means (kmeans analog). The engine's determinism discipline
    * (init = k lowest ids, assignment ties by cid, sorted-value mean
    * accumulation) exists precisely so the full 3-iteration run is
    * SQL-expressible: [[kmeansAssignSql]] unrolls the iterations as
    * DuckDB CTEs and reproduces every double bit-for-bit.
    */
  def kmeansAssign(spark: SparkSession, dir: String): DataFrame = {
    val pts = emb(spark, dir).select(col("vec_id").as("id"), col("embedding").as("vec"))
    graft.index.KMeans.fit(spark, pts, k = KmeansK, iterations = KmeansIters,
        computeInertia = false)
      .assignments
      // `+ 0.0`: l2sq cancellation can yield a tiny negative that rounds
      // to −0.0 in one engine only (same rule as clusterAssign)
      .select(col("id").as("vec_id"), col("cid").as("cluster"),
        (round(col("dist"), 6) + lit(0.0)).as("dist"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB oracle for [[kmeansAssign]]: the 3 iterations unrolled as
    * CTEs — assign via argmin window (ties by cid), update via zipped
    * unnest + in-order list sum over value-sorted members (DuckDB's
    * list_aggregate('sum') folds left-to-right, matching Spark's
    * aggregate-over-sort_array), empty clusters kept via coalesce.
    */
  def kmeansAssignSql: String =
    s"""WITH pts AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |${kmeansCtesSql(KmeansK, KmeansIters)}
       |SELECT id AS vec_id, cid AS cluster, round(dist, 6) + 0.0 AS dist
       |FROM afin ORDER BY vec_id""".stripMargin

  /** Shared CTE generator replaying `KMeans.fit(k, iters)` in DuckDB over
    * a caller-defined `pts(id, v)` CTE: emits centroid states `c0..c$iters`
    * and `afin(id, cid, dist)` — the assignment against the final
    * centroids. This is [[kmeansAssignSql]]'s hash-proven recipe (argmin
    * window ties by cid; in-order list sum over value-sorted members —
    * DuckDB's `list_aggregate('sum')` folds left-to-right like Spark's
    * aggregate-over-sort_array; empty clusters kept via coalesce),
    * parameterized so the IVF recall-curve oracle replays the identical
    * k-means the persisted index was built with.
    */
  private def kmeansCtesSql(k: Int, iters: Int, prefix: String = ""): String = {
    // `prefix` namespaces every emitted CTE (and the pts CTE it reads),
    // so two independent fits — e.g. the PQ oracle's per-subspace
    // codebooks — can coexist in one statement
    val P = prefix
    def dist(p: String, c: String): String =
      s"list_dot_product($p,$p) - 2*list_dot_product($p,$c) + list_dot_product($c,$c)"
    def assignCte(name: String, cents: String, keepVec: Boolean): String =
      s"""$name AS (SELECT id, cid${if (keepVec) ", v" else ""}, dist FROM (
         |  SELECT p.id, c.cid, p.v, ${dist("p.v", "c.cv")} AS dist,
         |    row_number() OVER (PARTITION BY p.id ORDER BY ${dist("p.v", "c.cv")}, c.cid) AS rnk
         |  FROM ${P}pts p CROSS JOIN $cents c) WHERE rnk = 1)""".stripMargin
    val iterCtes = (1 to iters).map { i =>
      s"""${assignCte(s"${P}a$i", s"${P}c${i - 1}", keepVec = true)},
         |${P}u$i AS (SELECT cid, list(mean ORDER BY dim) AS cv FROM (
         |  SELECT cid, dim, list_aggregate(list(x ORDER BY x), 'sum') / count(*) AS mean
         |  FROM (SELECT cid, unnest(v) AS x, unnest(range(len(v))) AS dim FROM ${P}a$i)
         |  GROUP BY cid, dim) GROUP BY cid),
         |${P}c$i AS (SELECT c.cid, coalesce(u.cv, c.cv) AS cv FROM ${P}c${i - 1} c LEFT JOIN ${P}u$i u ON u.cid = c.cid)""".stripMargin
    }.mkString(",\n")
    s"""${P}c0 AS (SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS cid, v AS cv
       |       FROM (SELECT id, v FROM ${P}pts ORDER BY id LIMIT $k)),
       |$iterCtes,
       |${assignCte(s"${P}afin", s"${P}c$iters", keepVec = false)}""".stripMargin
  }

  // ---------------------------------------------- product quantization

  /** PQ geometry: 2 subspaces of [[PqSubDim]] dims each (the testdata
    * embedding dim is 64), [[PqK]]-entry codebooks, [[PqIters]] k-means
    * updates — deliberately coarse so the ADC error (and the recall
    * gate's value) is visible.
    */
  final val PqSubDim = 32
  final val PqK = 8
  final val PqIters = 2

  /** PQ codebooks + codes as a PERSISTED subspace pair (the same
    * index-at-build-time model as [[ivfIndexFor]]: `/tmp/graft-pq-*`
    * root, `_committed` marker, codes partitioned by codebook id so an
    * ADC probe's candidate read partition-prunes). In a deployment the
    * codebook fit is a build artifact, not a per-query cost — the query
    * path reads two tiny centroid tables (2·[[PqK]] rows, broadcast) and
    * the code columns. Parquet round-trips doubles exactly, so the
    * persisted centroids score bit-identically to a fresh fit (the
    * DuckDB oracle replays the fit itself and still hash-matches).
    */
  final case class PqIndex(centroids: DataFrame, assignments: DataFrame)

  private def pqFits(spark: SparkSession, dir: String)
      : (PqIndex, PqIndex, DataFrame) = {
    val e = emb(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
    val root = persistedRoot(dir, key => s"graft-pq-$key-k$PqK-i$PqIters") { root =>
      val d = e.select(size(col("v")).as("d")).head().getInt(0)
      require(d == 2 * PqSubDim,
        s"PQ geometry expects dim ${2 * PqSubDim}, got $d — retune PqSubDim")
      Seq(1, 2).foreach { sub =>
        val from = if (sub == 1) 1 else PqSubDim + 1
        val fit = graft.index.KMeans.fit(spark,
          e.select(col("id"), slice(col("v"), from, PqSubDim).as("vec")), PqK, PqIters,
          computeInertia = false)
        fit.centroids.write.mode("overwrite").parquet(s"$root/centroids$sub")
        fit.assignments.select(col("id"), col("cid"))
          .write.mode("overwrite").partitionBy("cid").parquet(s"$root/codes$sub")
        fit.centroids.unpersist()
        fit.assignments.unpersist()
      }
    }
    def side(sub: Int) = PqIndex(
      spark.read.parquet(s"$root/centroids$sub"),
      spark.read.parquet(s"$root/codes$sub"))
    (side(1), side(2), e)
  }

  /** PRODUCT-QUANTIZATION ADC distance scan (the classic
    * vector-compression family next to the scalar i8/f16/bf16/b1 dtypes;
    * the reference's quantized-storage direction, README.md:258-269):
    * each vector is stored as TWO small codebook ids (k-means per
    * subspace, [[graft.index.KMeans]] — deterministic by construction),
    * and query distance is the asymmetric-distance sum
    * d(q₁, c₁[code₁]) + d(q₂, c₂[code₂]) of per-subspace
    * query-to-centroid l2sq — a lookup-table add, never a full-vector
    * scan. `candidates` (ids) restricts the scan, e.g. to an IVF probe's
    * cells; None scores every coded vector.
    *
    * Determinism contract: the codebooks are the engine's own pinned
    * k-means (oracle replays them CTE-for-CTE); each subspace distance
    * uses the kmeans dot-expansion association
    * `(q·q − 2·q·c) + c·c`; the two subspace distances add as ONE IEEE
    * op. Returns (vec_id, raw).
    *
    * Scale shape: the ADC table is 2·[[PqK]] rows (broadcast), scoring is
    * two broadcast joins + one add per vector — no full-dim arithmetic
    * per candidate at query time, which is the entire point of PQ at
    * 100 TB.
    */
  private def adcScan(spark: SparkSession, dir: String, queryVecId: Long,
      candidates: Option[DataFrame]): DataFrame = {
    val (fit1, fit2, e) = pqFits(spark, dir)
    val q = e.where(col("id") === queryVecId)
    def adcFor(fit: PqIndex, from: Int, code: String, dist: String): DataFrame =
      broadcast(fit.centroids
        .crossJoin(broadcast(q.select(slice(col("v"), from, PqSubDim).as("qv"))))
        .select(col("cid").as(code),
          dot(col("qv"), col("qv"))
            .minus(lit(2.0) * dot(col("qv"), col("cvec")))
            .plus(dot(col("cvec"), col("cvec"))).as(dist)))
    val codes1 = fit1.assignments.select(col("id"), col("cid").as("c1"))
    candidates.fold(codes1)(_.join(codes1, Seq("id")))
      .join(fit2.assignments.select(col("id"), col("cid").as("c2")), Seq("id"))
      .join(adcFor(fit1, 1, "c1", "d1"), Seq("c1"))
      .join(adcFor(fit2, PqSubDim + 1, "c2", "d2"), Seq("c2"))
      .select(col("id").as("vec_id"), (col("d1") + col("d2")).as("raw"))
  }

  /** DuckDB twin of [[adcScan]] + the top-k emit: BOTH subspace k-means
    * replayed CTE-for-CTE (the [[kmeansAssignSql]] recipe under `s1`/`s2`
    * prefixes over sliced vectors), ADC per subspace with the identical
    * dot-expansion association, codes joined to the lookup table, one
    * add, (adc asc, id asc). `candCtes` defines a `cand(id)` CTE over
    * `e` that restricts the scan.
    */
  private def adcTopKSql(k: Int, queryVecId: Long, candCtes: Option[String]): String = {
    val (h, d) = (PqSubDim, 2 * PqSubDim)
    val adcCtes = Seq(1 -> s"1:$h", 2 -> s"${h + 1}:$d").map { case (sub, dims) =>
      s"""q$sub AS (SELECT v[$dims] AS qv FROM e WHERE vec_id = $queryVecId),
         |adc$sub AS (SELECT c.cid,
         |  list_dot_product(q.qv,q.qv) - 2*list_dot_product(q.qv,c.cv) + list_dot_product(c.cv,c.cv) AS d
         |  FROM s${sub}c$PqIters c CROSS JOIN q$sub q)""".stripMargin
    }
    s"""WITH $pqFitCtesSql,
       |${candCtes.fold("")(_ + ",")}
       |${adcCtes.mkString(",\n")},
       |scored AS (
       |  SELECT a1.id, (x1.d + x2.d) AS adc
       |  FROM s1afin a1 JOIN s2afin a2 USING (id)
       |  JOIN adc1 x1 ON a1.cid = x1.cid
       |  JOIN adc2 x2 ON a2.cid = x2.cid
       |  ${candCtes.fold("")(_ => "JOIN cand c ON c.id = a1.id")})
       |SELECT id AS vec_id, round(adc, 6) + 0.0 AS adc_dist
       |FROM scored ORDER BY adc, id LIMIT $k""".stripMargin
  }

  /** The PQ oracles' shared fit: `e(vec_id, v)`, the sliced subspace
    * points and both subspace k-means replays (`s1afin`/`s2afin` codes,
    * `s1c$PqIters`/`s2c$PqIters` codebooks).
    */
  private def pqFitCtesSql: String = {
    val (h, d) = (PqSubDim, 2 * PqSubDim)
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |s1pts AS (SELECT vec_id AS id, v[1:$h] AS v FROM e),
       |s2pts AS (SELECT vec_id AS id, v[${h + 1}:$d] AS v FROM e),
       |${kmeansCtesSql(PqK, PqIters, "s1")},
       |${kmeansCtesSql(PqK, PqIters, "s2")}""".stripMargin
  }

  /** PQ ADC top-k: [[adcScan]] over every coded vector, ranked (adc asc,
    * id asc) on raw doubles, rounded at 6 dp with −0.0 normalized.
    * Returns DataFrame(vec_id, adc_dist).
    */
  def pqKnn(spark: SparkSession, dir: String, k: Int = 10,
      queryVecId: Long = 0L): DataFrame =
    emitTopK(adcScan(spark, dir, queryVecId, None), k, "adc_dist", ascending = true)

  def pqKnnSql(k: Int = 10, queryVecId: Long = 0L): String =
    adcTopKSql(k, queryVecId, None)

  /** Per-(subspace, code) occupancy of the persisted PQ codes — the
    * quantizer-health report next to [[ivfStats]]: a code that captured
    * most of a subspace means the codebook collapsed (ADC distances
    * stop discriminating), the PQ analog of the reference's per-level
    * stats (index.hpp:3133-3210). One groupBy per subspace over the
    * code-partitioned assignments, empty codes kept via the codebook
    * tables; share in exact integer basis points. The corpus count is
    * the one driver scalar.
    */
  def pqStats(spark: SparkSession, dir: String): DataFrame = {
    val (fit1, fit2, e) = pqFits(spark, dir)
    val total = e.count()
    def side(sub: Int, fit: PqIndex): DataFrame =
      fit.centroids.select(lit(sub.toLong).as("subspace"), col("cid").as("code"))
        .join(fit.assignments.groupBy(col("cid").as("code"))
          .agg(count(lit(1)).as("n_vecs")), Seq("code"), "left")
        .na.fill(0L, Seq("n_vecs"))
    side(1, fit1).unionByName(side(2, fit2))
      .withColumn("share_bp", expr(s"(20000 * n_vecs + ${total}L) div (2 * ${total}L)"))
      .select(col("subspace"), col("code"), col("n_vecs"), col("share_bp"))
      .orderBy(col("subspace"), col("code"))
  }

  /** DuckDB oracle for [[pqStats]]: replays BOTH subspace k-means fits
    * (the pqKnn recipe), then the same occupancy arithmetic per side.
    */
  def pqStatsSql(): String = {
    def sideSql(sub: Int): String =
      s"""SELECT $sub AS subspace, c.cid AS code,
         |  CAST(COALESCE(n.n_vecs, 0) AS BIGINT) AS n_vecs,
         |  CAST((20000 * COALESCE(n.n_vecs, 0) + tot.t) // (2 * tot.t) AS BIGINT) AS share_bp
         |FROM s${sub}c$PqIters c
         |LEFT JOIN (SELECT cid, count(*) AS n_vecs FROM s${sub}afin GROUP BY cid) n
         |  ON n.cid = c.cid CROSS JOIN tot""".stripMargin
    s"""WITH $pqFitCtesSql,
       |tot AS (SELECT count(*) AS t FROM e)
       |${sideSql(1)}
       |UNION ALL
       |${sideSql(2)}
       |ORDER BY subspace, code""".stripMargin
  }

  /** PQ recall gate vs the exact full-vector l2sq top-k (the per-dtype
    * recall-table discipline extended to the PQ family). */
  def pqRecall(spark: SparkSession, dir: String): DataFrame =
    recall(spark, dir, pqKnn(spark, dir), ExactRank.L2sq)

  def pqRecallSql(): String = recallSql(pqKnnSql(), ExactRank.L2sq)

  /** Coarse-to-exact REFINE over a shortlist: the shortlist's vec_ids
    * re-ranked by exact full-vector l2sq against the query — the cheap
    * stage prunes, the exact pass pays full-dim arithmetic on the
    * shortlist only (a broadcast-join of its rows against the vectors),
    * so refine cost is independent of corpus size. (raw l2sq asc, id asc)
    * with the `round(x, 6) + 0.0` emission.
    */
  private def refineL2sq(spark: SparkSession, dir: String, shortlist: DataFrame,
      k: Int, queryVecId: Long): DataFrame = {
    val e = emb(spark, dir)
    val q = broadcast(e.where(col("vec_id") === queryVecId)
      .select(col("embedding").as("qe")))
    emitTopK(e.join(shortlist.select(col("vec_id")), Seq("vec_id")).crossJoin(q)
      .select(col("vec_id"),
        graft.functions.Distances.l2sqDistance(col("embedding"), col("qe")).as("raw")),
      k, "l2sq_dist", ascending = true)
  }

  /** DuckDB twin of [[refineL2sq]]; `shortlist` is the shortlist's own
    * oracle SQL. */
  private def refineL2sqSql(shortlist: String, k: Int, queryVecId: Long): String = {
    val raw = "list_dot_product(ee.v, ee.v) - 2.0 * list_dot_product(ee.v, q.qe) + list_dot_product(q.qe, q.qe)"
    s"""WITH short AS (SELECT vec_id FROM ($shortlist) s),
       |ee AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT v AS qe FROM ee WHERE vec_id = $queryVecId)
       |SELECT ee.vec_id, round($raw, 6) + 0.0 AS l2sq_dist
       |FROM ee JOIN short USING (vec_id) CROSS JOIN q
       |ORDER BY $raw, ee.vec_id LIMIT $k""".stripMargin
  }

  /** PQ + exact refine (the [[knnB1Refine]] pattern on the PQ family):
    * the ADC top-(factor·k) re-ranked by [[refineL2sq]].
    */
  def pqKnnRefine(spark: SparkSession, dir: String, k: Int = 10,
      factor: Int = 8, queryVecId: Long = 0L): DataFrame =
    refineL2sq(spark, dir, pqKnn(spark, dir, k * factor, queryVecId), k, queryVecId)

  def pqKnnRefineSql(k: Int = 10, factor: Int = 8, queryVecId: Long = 0L): String =
    refineL2sqSql(pqKnnSql(k * factor, queryVecId), k, queryVecId)

  /** Refined-PQ recall gate — the b1 0.30 → 1.00 story retold for PQ. */
  def pqRecallRefine(spark: SparkSession, dir: String): DataFrame =
    recall(spark, dir, pqKnnRefine(spark, dir), ExactRank.L2sq)

  def pqRecallRefineSql(): String = recallSql(pqKnnRefineSql(), ExactRank.L2sq)

  // ------------------------------------------------- IVF-PQ composite

  final val IvfPqNlist = 8
  final val IvfPqNprobe = 2

  /** IVF-PQ: the two scale mechanisms composed — the COARSE quantizer
    * (persisted IVF cells, [[ivfIndexFor]]) prunes the corpus to nprobe
    * cells, and PRODUCT QUANTIZATION ([[adcScan]]) scores the surviving
    * candidates by table lookup instead of full-dim arithmetic. This is
    * the classical billion-scale ANN serving layout (IVFADC, Jégou et
    * al. 2011) and this engine's analog of the reference's
    * compressed-graph serving mode: at 100 TB a query touches
    * nprobe/nlist of the cells and pays two broadcast-join lookups per
    * candidate — never a full-vector scan.
    *
    * Determinism: cell probing is [[ivfKnn]]'s rule ([[probeCells]]);
    * codes and ADC tables are [[pqKnn]]'s; final rank (adc asc, id asc)
    * on raw doubles. At nprobe = nlist every cell is probed, so IVF-PQ
    * must equal plain PQ exactly (ThirdWaveSpec).
    */
  def ivfPqKnn(spark: SparkSession, dir: String, k: Int = 10,
      nlist: Int = IvfPqNlist, nprobe: Int = IvfPqNprobe,
      queryVecId: Long = 0L): DataFrame = {
    val probed = probeCells(spark, dir, ivfIndexFor(spark, dir, nlist), queryVecId, nprobe)
    emitTopK(adcScan(spark, dir, queryVecId, Some(probed)), k, "adc_dist", ascending = true)
  }

  /** Oracle for [[ivfPqKnn]]: the coarse IVF k-means replayed
    * CTE-for-CTE (the [[ivfRecallCurveSql]] recipe), cell probing by the
    * same (cos dist asc, cid asc) rank, then [[adcTopKSql]] over the
    * probed cells' ids. */
  def ivfPqKnnSql(k: Int = 10, nlist: Int = IvfPqNlist,
      nprobe: Int = IvfPqNprobe, queryVecId: Long = 0L): String =
    adcTopKSql(k, queryVecId, Some(
      s"""pts AS (SELECT vec_id AS id, v FROM e),
         |${kmeansCtesSql(nlist, IvfKmeansIters)},
         |qf AS (SELECT v AS qv FROM e WHERE vec_id = $queryVecId),
         |cellrank AS (
         |  SELECT cid,
         |    row_number() OVER (ORDER BY 1.0 - ${cosineSql("qv", "cv")}, cid) AS cell_rank
         |  FROM qf CROSS JOIN c$IvfKmeansIters),
         |cand AS (
         |  SELECT a.id FROM afin a JOIN cellrank cr ON a.cid = cr.cid
         |  WHERE cr.cell_rank <= $nprobe)""".stripMargin))

  /** IVF-PQ recall gate vs the exact full-vector l2sq top-k — recall at
    * nprobe/nlist = ¼ compounds the coarse prune's misses with the ADC
    * error, the honest compressed-serving number the refine pattern
    * ([[pqKnnRefine]]) then recovers. */
  def ivfPqRecall(spark: SparkSession, dir: String): DataFrame =
    recall(spark, dir, ivfPqKnn(spark, dir), ExactRank.L2sq)

  def ivfPqRecallSql(): String = recallSql(ivfPqKnnSql(), ExactRank.L2sq)

  /** IVF-PQ + EXACT REFINE — the full billion-scale serving stack
    * (coarse cell prune → ADC table-lookup shortlist → [[refineL2sq]] of
    * `k·factor` survivors), the IVFADC+R layout (Jégou et al. 2011 §V).
    * Recall can only rise vs [[ivfPqKnn]]: every true neighbor the ADC
    * top-k found is in the wider shortlist, and exact distances rank
    * true neighbors above any other candidate (ThirdWaveSpec pins
    * monotonicity and full-probe ≡ [[pqKnnRefine]]).
    */
  def ivfPqKnnRefine(spark: SparkSession, dir: String, k: Int = 10,
      factor: Int = 8, nprobe: Int = IvfPqNprobe, queryVecId: Long = 0L): DataFrame =
    refineL2sq(spark, dir,
      ivfPqKnn(spark, dir, k * factor, nprobe = nprobe, queryVecId = queryVecId), k, queryVecId)

  def ivfPqKnnRefineSql(k: Int = 10, factor: Int = 8, nprobe: Int = IvfPqNprobe,
      queryVecId: Long = 0L): String =
    refineL2sqSql(ivfPqKnnSql(k * factor, nprobe = nprobe, queryVecId = queryVecId),
      k, queryVecId)

  /** Refined IVF-PQ recall gate — what the exact re-rank recovers of the
    * compound coarse-prune + ADC error at the same nprobe. */
  def ivfPqRefineRecall(spark: SparkSession, dir: String): DataFrame =
    recall(spark, dir, ivfPqKnnRefine(spark, dir), ExactRank.L2sq)

  def ivfPqRefineRecallSql(): String = recallSql(ivfPqKnnRefineSql(), ExactRank.L2sq)

  /** Even vec_ids as the left side, odd as the right, both as (id, vec). */
  private def joinSides(spark: SparkSession, dir: String, side: Int): DataFrame =
    emb(spark, dir).where(col("vec_id") % 2 === side)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  /** Engine semantic join (stable-marriage analog). Batch-synchronous
    * Gale–Shapley is also SQL-expressible — [[semanticJoinSql]] runs the
    * identical rounds as a DuckDB recursive CTE.
    */
  def semanticJoin(spark: SparkSession, dir: String): DataFrame =
    graft.index.SemanticJoin.join(spark, joinSides(spark, dir, 0), joinSides(spark, dir, 1),
        maxProposals = SemJoinMaxProposals)
      .select(col("left_id"), col("right_id"), round(col("dist"), 6).as("dist"))

  final val SemJoinMaxProposals = 8

  /** The SAME batch-synchronous Gale–Shapley rounds as the engine, as one
    * recursive CTE over caller-defined `lft(id, v)` and
    * `prefs(left_id, right_id, dist, pos)` CTEs, plus the final
    * engagement select. State = one row per left (pointer + engagement);
    * each round, free lefts propose at their pointer, each right keeps
    * min(dist, left_id) among proposals ∪ engagements (one window),
    * proposers advance. The recursion references the state once (the
    * single-candidate encoding: engaged lefts candidate with their
    * engagement, free lefts with their proposal) and stops when no
    * proposals happen.
    */
  private val galeShapleySql: String =
    s"""gs(iter, left_id, pos, eng_right, eng_dist) AS (
       |  SELECT 0, id, 1, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE) FROM lft
       |  UNION ALL
       |  SELECT iter + 1, left_id,
       |         pos + (CASE WHEN prop_right IS NOT NULL THEN 1 ELSE 0 END),
       |         CASE WHEN cand_right IS NOT NULL AND rnk = 1 THEN cand_right END,
       |         CASE WHEN cand_right IS NOT NULL AND rnk = 1 THEN cand_dist END
       |  FROM (
       |    SELECT st.*,
       |           coalesce(st.eng_right, st.prop_right) AS cand_right,
       |           coalesce(st.eng_dist, st.prop_dist) AS cand_dist,
       |           row_number() OVER (PARTITION BY coalesce(st.eng_right, st.prop_right)
       |                              ORDER BY coalesce(st.eng_dist, st.prop_dist), st.left_id) AS rnk,
       |           max(CASE WHEN st.prop_right IS NOT NULL THEN 1 ELSE 0 END) OVER () AS any_prop
       |    FROM (SELECT s.iter, s.left_id, s.pos, s.eng_right, s.eng_dist,
       |                 p.right_id AS prop_right, p.dist AS prop_dist
       |          FROM gs s LEFT JOIN prefs p
       |            ON s.eng_right IS NULL AND p.left_id = s.left_id AND p.pos = s.pos) st
       |  ) WHERE any_prop = 1
       |)
       |SELECT left_id, eng_right AS right_id, round(eng_dist, 6) AS dist
       |FROM gs WHERE iter = (SELECT max(iter) FROM gs) AND eng_right IS NOT NULL
       |ORDER BY left_id""".stripMargin

  /** DuckDB oracle for [[semanticJoin]]: full cross-product preference
    * lists capped at [[SemJoinMaxProposals]], then [[galeShapleySql]].
    */
  def semanticJoinSql: String =
    s"""WITH RECURSIVE
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |lft AS (SELECT vec_id AS id, v FROM e WHERE vec_id % 2 = 0),
       |rgt AS (SELECT vec_id AS id, v FROM e WHERE vec_id % 2 = 1),
       |prefs AS (
       |  SELECT left_id, right_id, dist,
       |         CAST(row_number() OVER (PARTITION BY left_id ORDER BY dist, right_id) AS INT) AS pos
       |  FROM (SELECT l.id AS left_id, r.id AS right_id, 1.0 - ${cosineSql("l.v", "r.v")} AS dist
       |        FROM lft l CROSS JOIN rgt r)
       |  QUALIFY pos <= $SemJoinMaxProposals
       |),
       |$galeShapleySql""".stripMargin

  final val SemJoinAnnNlist = 8
  final val SemJoinAnnNprobe = 2
  final val SemJoinAnnIters = 2

  /** Persisted right-side cell structure for [[semanticJoinAnn]] — built
    * once per data dir and served from Parquet thereafter (the same
    * index-at-add-time model as [[ivfIndexFor]]; fitting k-means inside
    * every join call charged an index build to each query). k-means is
    * deterministic, so loading vs refitting yields identical cells.
    */
  def semJoinIvfFor(spark: SparkSession, dir: String,
      nlist: Int = SemJoinAnnNlist, iters: Int = SemJoinAnnIters): IvfIndex = {
    val root = persistedRoot(dir, key => s"graft-ivf-$key-semjoin-n$nlist-i$iters") { root =>
      val km = graft.index.KMeans.fit(spark, joinSides(spark, dir, 1), k = nlist,
        iterations = iters, computeInertia = false)
      km.centroids.write.mode("overwrite").parquet(s"$root/centroids")
      km.assignments.select(col("cid"), col("id"))
        .write.mode("overwrite").parquet(s"$root/assignments")
      km.centroids.unpersist()
      km.assignments.unpersist()
    }
    IvfIndex(
      spark.read.parquet(s"$root/centroids"),
      spark.read.parquet(s"$root/assignments"))
  }

  /** ANN-candidate semantic join — the reference's actual design: stable
    * marriage over preference lists from approximate-nearest-neighbor
    * search (index.hpp:4337-4338; each free man searches the index at
    * :4470-4480). Here the "index" is the engine's IVF structure
    * (deterministic k-means cells over the right side); each left scores
    * only its nprobe nearest cells. Every step is deterministic, so the
    * full pipeline — k-means, cell probing, capped preference lists, GS
    * rounds — has an exact SQL twin ([[semanticJoinAnnSql]]): the
    * approximation is in the ALGORITHM (identical in both engines),
    * never in the execution.
    */
  def semanticJoinAnn(spark: SparkSession, dir: String): DataFrame = {
    val ivf = semJoinIvfFor(spark, dir)
    graft.index.SemanticJoin.joinIvfWith(spark, joinSides(spark, dir, 0),
        joinSides(spark, dir, 1), maxProposals = SemJoinMaxProposals,
        nprobe = SemJoinAnnNprobe, centroids = ivf.centroids, assignments = ivf.assignments)
      .select(col("left_id"), col("right_id"), round(col("dist"), 6).as("dist"))
  }

  /** DuckDB oracle for [[semanticJoinAnn]]: k-means over the right side
    * ([[kmeansCtesSql]] over `pts`), nprobe nearest cells per left (l2sq
    * asc, cid asc), capped candidate preference lists, then
    * [[galeShapleySql]].
    */
  def semanticJoinAnnSql: String = {
    val (nlist, nprobe, iters) = (SemJoinAnnNlist, SemJoinAnnNprobe, SemJoinAnnIters)
    val l2sq = "list_dot_product(l.v,l.v) - 2*list_dot_product(l.v,c.cv) + list_dot_product(c.cv,c.cv)"
    s"""WITH RECURSIVE
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |lft AS (SELECT vec_id AS id, v FROM e WHERE vec_id % 2 = 0),
       |pts AS (SELECT vec_id AS id, v FROM e WHERE vec_id % 2 = 1),
       |${kmeansCtesSql(nlist, iters)},
       |probe AS (SELECT left_id, cid FROM (
       |  SELECT l.id AS left_id, c.cid,
       |    row_number() OVER (PARTITION BY l.id ORDER BY $l2sq, c.cid) AS rnk
       |  FROM lft l CROSS JOIN c$iters c) WHERE rnk <= $nprobe),
       |prefs AS (
       |  SELECT left_id, right_id, dist,
       |         CAST(row_number() OVER (PARTITION BY left_id ORDER BY dist, right_id) AS INT) AS pos
       |  FROM (SELECT p.left_id, a.id AS right_id,
       |          1.0 - list_dot_product(l.v, r.v) /
       |            (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))) AS dist
       |        FROM probe p
       |        JOIN afin a ON a.cid = p.cid
       |        JOIN pts r ON r.id = a.id
       |        JOIN lft l ON l.id = p.left_id)
       |  QUALIFY pos <= $SemJoinMaxProposals
       |),
       |$galeShapleySql""".stripMargin
  }

  /** Near-dup fixture view: `embeddings` ∪ a perturbed copy of every
    * vector (dim 0 scaled ×1.05, id + [[DupIdOffset]]) — the synthetic
    * table has no true near-duplicates (max pairwise cosine ≈ 0.6), so
    * the near-dup operator is exercised on deterministically planted
    * pairs at cosine ≈ 0.9999. Exactly the same derivation runs in both
    * engines (double arithmetic, same element order), so the planted
    * vectors are bit-identical.
    */
  final val DupIdOffset = 100000L
  final val NearDupThreshold = 0.99

  private def augmentedWithDups(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val planted = e.select(
      (col("vec_id") + lit(DupIdOffset)).as("vec_id"),
      concat(array(element_at(col("v"), 1) * lit(1.05)),
        slice(col("v"), lit(2), size(col("v")) - 1)).as("v"))
    e.unionByName(planted)
  }

  private val augmentedSqlCte: String =
    s"""e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |aug AS (
       |  SELECT vec_id, v FROM e0
       |  UNION ALL
       |  SELECT vec_id + $DupIdOffset AS vec_id, [v[1] * 1.05] || v[2:] AS v FROM e0)""".stripMargin

  /** Embedding-cosine near-duplicate pairs, exact quadratic baseline:
    * all pairs with cosine ≥ threshold, i < j. This is the recall ORACLE
    * for the LSH-bucketed [[embNearDup]] (the pairing mirrors
    * ngramJaccard ↔ minhashLsh on the text side); norms are precomputed
    * once per vector, one dot per pair.
    */
  def embNearDupExact(spark: SparkSession, dir: String,
      threshold: Double = NearDupThreshold): DataFrame = {
    val e = augmentedWithDups(spark, dir)
      .select(col("vec_id"), col("v"), sqrt(dot(col("v"), col("v"))).as("norm"))
    val a = e.select(col("vec_id").as("left_id"), col("v").as("a"), col("norm").as("norm_a"))
    val b = e.select(col("vec_id").as("right_id"), col("v").as("b"), col("norm").as("norm_b"))
    a.join(b, col("left_id") < col("right_id"))
      .select(col("left_id"), col("right_id"),
        (dot(col("a"), col("b")) / (col("norm_a") * col("norm_b"))).as("cos_raw"))
      .where(col("cos_raw") >= threshold)
      .select(col("left_id"), col("right_id"), round(col("cos_raw"), 6).as("cos_sim"))
      .orderBy(col("left_id"), col("right_id"))
  }

  /** Embedding-cosine near-dup, the 100 TB path: random-hyperplane LSH
    * (seeded deterministic planes, [[graft.functions.HyperplaneLsh]])
    * bands candidate pairs — only bucket-mates are ever joined — then
    * candidates are verified with the exact cosine. With 8 bands × 16
    * bits, a planted pair at cos ≈ 0.9999 (sign-flip prob ≈ 5e-4/plane)
    * misses all 8 bands with prob < 1e-17, while unrelated pairs
    * (cos ≈ 0) collide on a 16-bit band with prob 2⁻¹⁶ — candidates stay
    * ~linear in n. Recall vs [[embNearDupExact]] is pinned in
    * SimilaritySpec; the driver oracle is the exact SQL below.
    */
  def embNearDup(spark: SparkSession, dir: String,
      threshold: Double = NearDupThreshold): DataFrame = {
    // signatures derived once; the verify joins read only (id, v, norm)
    // so the band computation never re-runs per join branch
    val e = augmentedWithDups(spark, dir)
      .select(col("vec_id"), col("v"), sqrt(dot(col("v"), col("v"))).as("norm"))
    val sig = e.select(col("vec_id"),
      posexplode(graft.functions.HyperplaneLsh.bandsCol(col("v"))).as(Seq("band", "bv")))
    val cand = sig.as("a").join(sig.as("b"), Seq("band", "bv"))
      .where(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("left_id"), col("b.vec_id").as("right_id"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("left_id"), col("v").as("a"), col("norm").as("norm_a")), "left_id")
      .join(e.select(col("vec_id").as("right_id"), col("v").as("b"), col("norm").as("norm_b")), "right_id")
      .select(col("left_id"), col("right_id"),
        (dot(col("a"), col("b")) / (col("norm_a") * col("norm_b"))).as("cos_raw"))
      .where(col("cos_raw") >= threshold)
      .select(col("left_id"), col("right_id"), round(col("cos_raw"), 6).as("cos_sim"))
      .orderBy(col("left_id"), col("right_id"))
  }

  def embNearDupSql(threshold: Double = NearDupThreshold): String =
    s"""WITH $augmentedSqlCte
       |SELECT left_id, right_id, round(cos_raw, 6) AS cos_sim FROM (
       |  SELECT a.vec_id AS left_id, b.vec_id AS right_id,
       |    ${cosineSql("a.v", "b.v")} AS cos_raw
       |  FROM aug a JOIN aug b ON a.vec_id < b.vec_id) x
       |WHERE cos_raw >= $threshold
       |ORDER BY left_id, right_id""".stripMargin

  // ------------------------------------------------------------------
  // Round-5 third wave: radius search, kNN outlier scores, MMR
  // ------------------------------------------------------------------

  /** Radius threshold: ¼ is an exact binary fraction, so both engines'
    * `cos_raw > 0.25` compare the identical double against the identical
    * literal — the filter set is exact, never a tolerance. */
  final val RadiusThreshold = 0.25
  /** Output cap: a radius query against a dense region is unbounded in
    * principle; the cap keeps the result the usual bounded top-k shape
    * (TakeOrderedAndProject) at any corpus size. */
  final val RadiusCap = 100

  /** RADIUS (range) search: every vector within the cosine-similarity
    * radius of the query (`cos > 0.25`), nearest-first, capped. The
    * vector-database range-search counterpart of the reference's
    * distance surface: where [[knnExact]] fixes the COUNT and reports
    * distances, this fixes the DISTANCE and reports the membership —
    * the dedup/recall tooling shape ("everything closer than r").
    *
    * Plan: one broadcast of the query row, one scan computing the
    * codegen'd dot product, a scan-level filter on the raw double
    * (identical in both engines — 0.25 is exact binary), bounded
    * TakeOrderedAndProject merge. Nothing materializes beyond the cap.
    */
  def radiusSearch(spark: SparkSession, dir: String,
      threshold: Double = RadiusThreshold, cap: Int = RadiusCap,
      queryVecId: Long = 0L): DataFrame = {
    val e = emb(spark, dir)
    val q = broadcast(e.where(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_embedding")))
    emitTopK(e.where(col("vec_id") =!= queryVecId).crossJoin(q)
      .select(col("vec_id"), cosine(col("embedding"), col("q_embedding")).as("raw"))
      .where(col("raw") > lit(threshold)), cap, "cos_sim")
  }

  def radiusSearchSql(threshold: Double = RadiusThreshold, cap: Int = RadiusCap,
      queryVecId: Long = 0L): String =
    s"""WITH q AS (SELECT embedding AS q_embedding FROM embeddings WHERE vec_id = $queryVecId)
       |SELECT vec_id, round(cos_raw, 6) AS cos_sim FROM (
       |  SELECT vec_id, ${cosineSql("embedding", "q_embedding")} AS cos_raw
       |  FROM embeddings, q WHERE vec_id <> $queryVecId) x
       |WHERE cos_raw > CAST('$threshold' AS DOUBLE)
       |ORDER BY cos_raw DESC, vec_id
       |LIMIT $cap""".stripMargin

  /** kNN OUTLIER scores (the classic k-nearest-neighbor anomaly
    * statistic): for each probe vector, the mean cosine distance to its
    * `k` nearest OTHER vectors — small means "deep inside a cluster",
    * large means "isolated". The curation-side use of the distance
    * surface: score a sample, quarantine the tail.
    *
    * Scale shape: probes broadcast once; per-probe nearest-k rides
    * [[graft.functions.TopKAgg]] (map-side bounded partials — no window
    * over the full cross product); the mean folds the top-k array in its
    * own sorted (dist asc, id asc) order, the same
    * aggregate-over-sorted-list discipline as k-means, then divides by
    * the exact-binary k. `round(·,6) + 0.0` normalizes the −0.0 a
    * near-duplicate's 1−cos can produce.
    */
  def knnOutlier(spark: SparkSession, dir: String,
      nProbes: Int = 20, k: Int = 5): DataFrame = {
    val e = emb(spark, dir)
    val q = broadcast(e.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("qv")))
    e.crossJoin(q).where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        (lit(1.0) - cosine(col("embedding"), col("qv"))).as("dist_raw"))
      .groupBy(col("probe_id"))
      .agg(graft.functions.TopKAgg.least(col("dist_raw"), col("vec_id"), k).as("nn"))
      .select(col("probe_id"),
        (round(aggregate(col("nn"), lit(0.0), (acc, h) => acc + h.getField("score"))
          / lit(k.toDouble), 6) + lit(0.0)).as("knn_dist"))
      .orderBy(col("probe_id"))
  }

  /** Oracle: quadratic probe×member distances, top-k per probe by the
    * same (dist asc, id asc) order, summed as an ordered list fold
    * (matches the Spark fold over TopKAgg's sorted output), one exact
    * division. */
  def knnOutlierSql(nProbes: Int = 20, k: Int = 5): String =
    s"""WITH q AS (SELECT vec_id AS probe_id, embedding AS qv FROM embeddings WHERE vec_id < $nProbes),
       |d AS (SELECT q.probe_id, e.vec_id,
       |        1.0 - ${cosineSql("e.embedding", "q.qv")} AS dist_raw,
       |        row_number() OVER (PARTITION BY q.probe_id
       |          ORDER BY 1.0 - ${cosineSql("e.embedding", "q.qv")}, e.vec_id) AS rn
       |      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.probe_id)
       |SELECT probe_id,
       |  round(list_aggregate(list(dist_raw ORDER BY dist_raw, vec_id), 'sum')
       |        / CAST($k AS DOUBLE), 6) + 0.0 AS knn_dist
       |FROM d WHERE rn <= $k
       |GROUP BY probe_id
       |ORDER BY probe_id""".stripMargin

  /** Sample bound for the quadratic medoid/histogram entries. */
  final val MedoidSample = 100
  final val MedoidTop = 5

  /** MEDOID: the sample member minimizing the TOTAL cosine distance to
    * every other member — the data's most central actual vector (the
    * exact counterpart of a k-means centroid, which need not be a
    * member; the reference's clustering surface returns member keys,
    * index.hpp:3092-3125). Reported as the top-[[MedoidTop]] most
    * central members.
    *
    * Cross-engine float discipline: per-pair distances quantize to
    * integer MICROS (`floor(dist·10⁶)` of the identical raw double —
    * floor, not round: CAST rounds in DuckDB but truncates in Spark),
    * so the per-candidate total is an ORDER-FREE integer sum — no
    * cross-doc float accumulation, the same rule as the engine's BM25
    * invariant. Selection ranks (total asc, id asc): integers only.
    *
    * Scale: quadratic over the bounded sample BY DESIGN (like
    * [[Dedup.ngramJaccard]]'s labeled quadratic twin) — the scale path
    * for "central member of a big cluster" is per-cell medoids over IVF
    * assignments, each cell a bounded sample of this same shape.
    */
  def medoid(spark: SparkSession, dir: String,
      sample: Int = MedoidSample, top: Int = MedoidTop): DataFrame = {
    val e = emb(spark, dir).where(col("vec_id") < sample)
      .select(col("vec_id"), col("embedding"))
    val pairs = e.select(col("vec_id").as("a_id"), col("embedding").as("a"))
      .crossJoin(e.select(col("vec_id").as("b_id"), col("embedding").as("b")))
      .where(col("a_id") =!= col("b_id"))
    val totals = pairs
      .select(col("a_id"),
        floor((lit(1.0) - cosine(col("a"), col("b"))) * lit(1000000.0))
          .cast("long").as("dmicros"))
      .groupBy(col("a_id"))
      .agg(sum(col("dmicros")).as("total_micros"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(asc("total_micros"), asc("a_id"))
    totals.orderBy(asc("total_micros"), asc("a_id")).limit(top)
      .select(row_number().over(w).as("rank"), col("a_id").as("vec_id"),
        col("total_micros"))
      .orderBy(col("rank"))
  }

  def medoidSql(sample: Int = MedoidSample, top: Int = MedoidTop): String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < $sample),
       |d AS (SELECT a.vec_id AS a_id,
       |        CAST(floor((1.0 - ${cosineSql("a.embedding", "b.embedding")}) * 1000000.0) AS BIGINT) AS dmicros
       |      FROM e a, e b WHERE a.vec_id <> b.vec_id),
       |t AS (SELECT a_id, CAST(sum(dmicros) AS BIGINT) AS total_micros FROM d GROUP BY 1)
       |SELECT CAST(row_number() OVER (ORDER BY total_micros, a_id) AS INT) AS rank,
       |  a_id AS vec_id, total_micros
       |FROM t ORDER BY total_micros, a_id LIMIT $top""".stripMargin

  /** PAIRWISE-DISTANCE HISTOGRAM over the bounded sample: counts of
    * unordered pairs per cosine-distance decile bucket
    * (`floor(dist·10)`, floor of the identical raw double) — the
    * calibration tool behind every threshold in the dedup family
    * ("where does the near-dup mass sit relative to the background?").
    * Integer buckets, integer counts — nothing float crosses engines.
    */
  def distHist(spark: SparkSession, dir: String,
      sample: Int = MedoidSample): DataFrame = {
    val e = emb(spark, dir).where(col("vec_id") < sample)
      .select(col("vec_id"), col("embedding"))
    e.select(col("vec_id").as("a_id"), col("embedding").as("a"))
      .crossJoin(e.select(col("vec_id").as("b_id"), col("embedding").as("b")))
      .where(col("a_id") < col("b_id"))
      .select(floor((lit(1.0) - cosine(col("a"), col("b"))) * lit(10.0))
        .cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("bucket"))
  }

  def distHistSql(sample: Int = MedoidSample): String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < $sample),
       |d AS (SELECT CAST(floor((1.0 - ${cosineSql("a.embedding", "b.embedding")}) * 10.0) AS BIGINT) AS bucket
       |      FROM e a, e b WHERE a.vec_id < b.vec_id)
       |SELECT bucket, count(*) AS n_pairs
       |FROM d GROUP BY bucket ORDER BY bucket""".stripMargin

  /** MMR trade-off λ = ½ — an exact binary fraction, so both engines'
    * `0.5·rel − 0.5·red` are the same IEEE ops. */
  final val MmrLambda = 0.5
  final val MmrShortlist = 20
  final val MmrK = 5

  /** MAXIMAL-MARGINAL-RELEVANCE diversified top-k (Carbonell & Goldstein
    * 1998): greedily pick the candidate maximizing
    * λ·cos(q,c) − (1−λ)·max_{s∈selected} cos(c,s) — relevance minus
    * redundancy — the standard diversification of a similarity search
    * result (near-duplicate hits stop crowding the page). Rank 1 is pure
    * relevance (the max term over an empty set contributes nothing).
    *
    * Scale shape: the shortlist is the DISTRIBUTED exact top-N
    * (TakeOrderedAndProject over the full corpus); the greedy phase then
    * runs on those N = 20 driver-resident rows — the same O(k)-driver-
    * state pattern as BatchCluster, because MMR's selection is
    * inherently sequential in k and its working set IS the shortlist.
    * Every cosine is the same left-fold double arithmetic as
    * [[cosineSql]]; the redundancy max over ≤ k−1 doubles is order-free
    * exact; argmax ties break vec_id asc. The SQL twin unrolls the k
    * selection steps as CTEs over the identical shortlist.
    */
  def mmrKnn(spark: SparkSession, dir: String, k: Int = MmrK,
      shortlist: Int = MmrShortlist, queryVecId: Long = 0L): DataFrame = {
    val e = emb(spark, dir)
    val q = broadcast(e.where(col("vec_id") === queryVecId)
      .select(col("embedding").as("qv")))
    val rows = rankTopK(e.where(col("vec_id") =!= queryVecId).crossJoin(q)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        cosine(col("embedding"), col("qv")).as("raw")), shortlist, ascending = false)
      .collect()
    // driver-side greedy over the shortlist (same fold order as
    // list_dot_product: left-to-right elementwise)
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    final case class Cand(id: Long, v: Array[Double], norm: Double, cosq: Double)
    val cands = rows.map { r =>
      val v = r.getSeq[Double](1).toArray
      Cand(r.getLong(0), v, math.sqrt(dotD(v, v)), r.getDouble(2))
    }.toBuffer
    val lambda = MmrLambda
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    val selected = scala.collection.mutable.ArrayBuffer.empty[Cand]
    var rank = 1
    while (rank <= k && cands.nonEmpty) {
      // candidate score: rank 1 = relevance; later = λ·rel − (1−λ)·max-sim
      def scoreOf(c: Cand): Double =
        if (selected.isEmpty) c.cosq
        else {
          var mx = Double.NegativeInfinity
          selected.foreach { s =>
            val cs = dotD(c.v, s.v) / (c.norm * s.norm)
            if (cs > mx) mx = cs
          }
          lambda * c.cosq - (1.0 - lambda) * mx
        }
      var bi = 0; var bs = scoreOf(cands(0))
      var i = 1
      while (i < cands.length) {
        val s = scoreOf(cands(i))
        // ties break vec_id asc: candidates are already id-unsorted, so
        // compare (score desc, id asc) explicitly
        if (s > bs || (s == bs && cands(i).id < cands(bi).id)) { bi = i; bs = s }
        i += 1
      }
      picked += ((rank, cands(bi).id, bs))
      selected += cands(bi)
      cands.remove(bi)
      rank += 1
    }
    import spark.implicits._
    picked.toSeq.toDF("rank", "vec_id", "mmr_raw")
      .select(col("rank"), col("vec_id"),
        (round(col("mmr_raw"), 6) + lit(0.0)).as("mmr_score"))
      .orderBy(col("rank"))
  }

  /** Oracle for [[mmrKnn]]: the same shortlist CTE, then the k greedy
    * selections unrolled — step t cross-joins the ≤ t−1 single-row
    * selected CTEs, `greatest(...)` is the order-free redundancy max,
    * λ re-literaled via CAST('0.5' AS DOUBLE). */
  def mmrKnnSql(k: Int = MmrK, shortlist: Int = MmrShortlist,
      queryVecId: Long = 0L): String = {
    val lam = s"CAST('$MmrLambda' AS DOUBLE)"
    val steps = (2 to k).map { t =>
      val prev = (1 until t).map(j => s"s$j").toSeq
      val mx =
        if (prev.length == 1) cosineSql("c.v", s"${prev.head}.v")
        else prev.map(p => cosineSql("c.v", s"$p.v")).mkString("greatest(", ", ", ")")
      val notIn = prev.map(p => s"c.vec_id <> $p.vec_id").mkString(" AND ")
      s"""s$t AS (
         |  SELECT c.vec_id, c.v, c.cosq,
         |    $lam * c.cosq - (1.0 - $lam) * ($mx) AS mmr
         |  FROM sl c, ${prev.mkString(", ")}
         |  WHERE $notIn
         |  ORDER BY mmr DESC, c.vec_id LIMIT 1)"""
    }
    val outs = (1 to k).map { t =>
      val scoreExpr = if (t == 1) "cosq" else "mmr"
      s"SELECT $t AS rank, vec_id, round($scoreExpr, 6) + 0.0 AS mmr_score FROM s$t"
    }
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = $queryVecId),
       |sl AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    ${cosineSql("embedding", "qv")} AS cosq
       |  FROM embeddings, q WHERE vec_id <> $queryVecId
       |  ORDER BY cosq DESC, vec_id LIMIT $shortlist),
       |s1 AS (SELECT vec_id, v, cosq FROM sl ORDER BY cosq DESC, vec_id LIMIT 1),
       |${steps.mkString(",\n")}
       |SELECT CAST(rank AS INT) AS rank, vec_id, mmr_score FROM (
       |${outs.mkString("\nUNION ALL\n")}
       |) u ORDER BY rank""".stripMargin
  }
}
