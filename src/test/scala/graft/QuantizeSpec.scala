package graft

import org.apache.spark.sql.functions._

import graft.eval.Eval
import graft.functions.{Metric, Quantize, TopKAgg}
import graft.ops.Similarity

/** Quantization recall gates (the reference's per-dtype recall table,
  * /root/reference/README.md:249-269), the TopK aggregate vs a window
  * oracle, the declared-metric registry, eval utilities, and byte-size
  * introspection.
  */
class QuantizeSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.01"
  private val small = new java.io.File(new java.io.File(dir).getParentFile, "sf0.001").getPath

  test("i8 quantization: values in [-127,127], recall@10 >= 0.9 vs f64 exact") {
    val q = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(Quantize.i8($"embedding").as("qv"))
    val mm = q.select(explode($"qv").as("x")).agg(min($"x"), max($"x")).head()
    assert(mm.getLong(0) >= -127 && mm.getLong(1) <= 127)

    val exact = Similarity.knnExact(spark, dir, k = 10)
    val i8 = Similarity.knnI8(spark, dir, k = 10)
    val recall = Eval.recallAt(i8, exact, "vec_id", 10)
    info(s"i8 recall@10 = $recall")
    assert(recall >= 0.9, s"i8 recall@10 too low: $recall")
  }

  test("b1 binary quantization packs sign bits") {
    val rows = Seq(
      (1L, Array(1.0, -1.0, 0.5, 0.0)),
      (2L, Array(-1.0, -1.0, -1.0, -1.0)),
      // 64th element positive → the sign bit of word 0 (Long.MinValue)
      (3L, Array.fill(63)(-1.0) :+ 2.0),
      // 65 elements, all positive → word 0 = -1 (all bits), word 1 = 1
      (4L, Array.fill(65)(0.5))).toDF("id", "v")
    val got = rows.select($"id", Quantize.b1($"v").as("bits"))
      .as[(Long, Array[Long])].collect().toMap
    assert(got(1L).toSeq == Seq(1L | 4L)) // bits 0 and 2 set
    assert(got(2L).toSeq == Seq(0L))
    assert(got(3L).toSeq == Seq(Long.MinValue))
    assert(got(4L).toSeq == Seq(-1L, 1L))
  }

  test("i8 quantization: hand-checked clamp/truncate/zero-vector cases") {
    // ‖v‖ = 5 → scaled = (x·127)/5 = (76.2, -101.6, 0) → trunc (76, -101, 0)
    val rows = Seq(
      (1L, Array(3.0, -4.0, 0.0)),
      (2L, Array(0.0, 0.0, 0.0)), // zero vector → all zeros, no NaN
      (3L, Array(1.0))) // single element → exactly ±127, inside the clamp
      .toDF("id", "v")
    val got = rows.select($"id", Quantize.i8($"v").as("q"))
      .as[(Long, Array[Long])].collect().toMap
    assert(got(1L).toSeq == Seq(76L, -101L, 0L))
    assert(got(2L).toSeq == Seq(0L, 0L, 0L))
    assert(got(3L).toSeq == Seq(127L))
  }

  test("b1 recall@10 vs f64 exact is the driver-reported value") {
    // 64 sign bits of a 64-d vector keep far less information than i8 —
    // the reference's own per-dtype table shows the same cliff
    // (/root/reference/README.md:258-269). Pin the floor loosely and the
    // self-hit exactly.
    val b1 = Similarity.knnB1(spark, dir, k = 10)
      .as[(Long, Int)].collect().toSeq
    assert(b1.head == ((0L, 0)), s"self must rank first at distance 0: ${b1.head}")
    val exact = Similarity.knnExact(spark, dir, k = 10)
    val recall = Eval.recallAt(Similarity.knnB1(spark, dir, k = 10), exact, "vec_id", 10)
    info(s"b1 recall@10 = $recall")
    assert(recall >= 0.2, s"b1 recall@10 too low: $recall")
  }

  /** Independent IEEE binary16 rounding oracle for [[Quantize.f16]]'s
    * pure-double-arithmetic trick: exact power-of-two scaling
    * (Math.getExponent, no log2) + Math.rint (ties-to-even).
    */
  private def refF16(d: Double): Double = {
    val c = math.max(-65504.0, math.min(65504.0, d))
    if (c == 0.0) return 0.0
    val step =
      if (math.abs(c) < 6.103515625e-05) math.pow(2.0, -24) // f16 subnormal step
      else math.pow(2.0, math.getExponent(c) - 10) // 11-bit significand
    math.rint(c / step) * step + 0.0
  }

  test("f16 quantization: Veltkamp/offset arithmetic == bit-level IEEE rounding") {
    // exact f16 values are fixed points; ties round to even
    val fixedPoints = Seq(0.0, 0.5, 1.0, -0.25, 65504.0, -65504.0,
      math.pow(2, -24), -math.pow(2, -24), math.pow(2, -14), 1.0 + 1.0 / 1024)
    // ties: 1 + 2⁻¹¹ is halfway between 1 and 1+2⁻¹⁰ → even → 1;
    // 1 + 3·2⁻¹¹ is halfway between 1+2⁻¹⁰ and 1+2⁻⁹ → even → 1+2⁻⁹
    val ties = Seq(1.0 + 1.0 / 2048 -> 1.0, 1.0 + 3.0 / 2048 -> (1.0 + 2.0 / 1024))
    // deterministic sweep across the normal, subnormal, and clamp ranges
    val rnd = new java.util.Random(1234)
    val sweep = (1 to 2000).map { _ =>
      val u = rnd.nextDouble() * 2 - 1
      rnd.nextInt(4) match {
        case 0 => u // typical embedding range
        case 1 => u * 1e-4 // straddles the 2^-14 boundary
        case 2 => u * 1e-6 // deep subnormal f16 range
        case 3 => u * 70000 // exercises the ±65504 clamp
      }
    }
    val all = fixedPoints ++ ties.map(_._1) ++ sweep
    val got = all.map(x => (x, Array(x))).toDF("x", "v")
      .select($"x", element_at(Quantize.f16($"v"), 1).as("h"))
      .as[(Double, Double)].collect().toMap
    for (x <- fixedPoints)
      assert(got(x) == x + 0.0, s"f16($x) must be a fixed point, got ${got(x)}")
    for ((x, want) <- ties)
      assert(got(x) == want, s"f16($x) tie must round to even $want, got ${got(x)}")
    for (x <- sweep)
      assert(java.lang.Double.doubleToLongBits(got(x)) ==
        java.lang.Double.doubleToLongBits(refF16(x)),
        s"f16($x): got ${got(x)}, ref ${refF16(x)}")
  }

  /** Independent bf16 rounding oracle for [[Quantize.bf16]] — same
    * construction as [[refF16]] with bf16's parameters (8 significand
    * bits, f32 exponent range, subnormal step 2⁻¹³³).
    */
  private def refBf16(d: Double): Double = {
    val m = 3.3895313892515355e38 // (2 − 2⁻⁷)·2¹²⁷
    val c = math.max(-m, math.min(m, d))
    if (c == 0.0) return 0.0
    val step =
      if (math.abs(c) < 1.1754943508222875e-38) math.pow(2.0, -133) // bf16 subnormal step
      else math.pow(2.0, math.getExponent(c) - 7) // 8-bit significand
    math.rint(c / step) * step + 0.0
  }

  test("bf16 quantization: Veltkamp/offset arithmetic == bit-level rounding") {
    val maxN = 3.3895313892515355e38
    val fixedPoints = Seq(0.0, 0.5, 1.0, -0.25, maxN, -maxN,
      math.pow(2, -133), -math.pow(2, -133), math.pow(2, -126), 1.0 + 1.0 / 128)
    // ties: 1 + 2⁻⁸ is halfway between 1 and 1+2⁻⁷ → even → 1;
    // 1 + 3·2⁻⁸ is halfway between 1+2⁻⁷ and 1+2⁻⁶ → even → 1+2⁻⁶
    val ties = Seq(1.0 + 1.0 / 256 -> 1.0, 1.0 + 3.0 / 256 -> (1.0 + 1.0 / 64))
    val rnd = new java.util.Random(4321)
    val sweep = (1 to 2000).map { _ =>
      val u = rnd.nextDouble() * 2 - 1
      rnd.nextInt(4) match {
        case 0 => u // typical embedding range
        case 1 => u * 1e-38 // straddles the 2⁻¹²⁶ boundary
        case 2 => u * 1e-40 // deep subnormal bf16 range
        case 3 => u * 1e39 // exercises the ±max-normal clamp
      }
    }
    val all = fixedPoints ++ ties.map(_._1) ++ sweep
    val got = all.map(x => (x, Array(x))).toDF("x", "v")
      .select($"x", element_at(Quantize.bf16($"v"), 1).as("h"))
      .as[(Double, Double)].collect().toMap
    for (x <- fixedPoints)
      assert(got(x) == x + 0.0, s"bf16($x) must be a fixed point, got ${got(x)}")
    for ((x, want) <- ties)
      assert(got(x) == want, s"bf16($x) tie must round to even $want, got ${got(x)}")
    for (x <- sweep)
      assert(java.lang.Double.doubleToLongBits(got(x)) ==
        java.lang.Double.doubleToLongBits(refBf16(x)),
        s"bf16($x): got ${got(x)}, ref ${refBf16(x)}")
  }

  test("knnQuantized == driver brute force in every scalar kind, queries 0 and 7") {
    // the reference rounding per kind is the spec's own: the bit-level
    // f16/bf16 converters above and a plain-loop i8; scores are
    // DotProduct.dot cosines ranked (score desc, id asc), rounded at 6 dp
    import graft.functions.DotProduct.dot
    val vecs = spark.read.parquet(s"$small/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def refI8(v: Array[Double]): Array[Double] = {
      val mag = math.sqrt(dot(v, v))
      if (mag == 0.0) v.map(_ => 0.0)
      else v.map(x => math.max(math.min(x * 127.0 / mag, 127.0), -127.0).toLong.toDouble)
    }
    import Similarity.Quantizer
    val kinds: Seq[(String, Quantizer, Array[Double] => Array[Double])] = Seq(
      ("exact", Quantizer.Exact, v => v), ("i8", Quantizer.I8, refI8),
      ("f16", Quantizer.F16, _.map(refF16)), ("bf16", Quantizer.Bf16, _.map(refBf16)))
    def round6(d: Double): Double =
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    for ((name, q, ref) <- kinds; qid <- Seq(0L, 7L)) {
      val qv = vecs.map { case (id, v) => id -> ref(v) }
      val query = qv.find(_._1 == qid).get._2
      val want = qv
        .map { case (id, v) =>
          id -> dot(v, query) / (math.sqrt(dot(v, v)) * math.sqrt(dot(query, query)))
        }
        .sortBy { case (id, c) => (-c, id) }
        .take(10).map { case (id, c) => (id, round6(c)) }.toSeq
      val got = Similarity.knnQuantized(spark, small, q, 10, qid).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want, s"$name kNN of vec $qid")
    }
  }

  test("bf16 recall@10 vs f64 exact sits between f16 and b1 (8 significand bits)") {
    val exact = Similarity.knnExact(spark, dir, k = 10)
    val bf16 = Similarity.knnBf16(spark, dir, k = 10)
    val recall = Eval.recallAt(bf16, exact, "vec_id", 10)
    info(s"bf16 recall@10 = $recall")
    assert(recall >= 0.6, s"bf16 recall@10 too low: $recall") // measured 0.9 at sf0.01
    // self-hit: rounding both sides identically keeps cos(v,v) maximal
    assert(bf16.as[(Long, Double)].collect().head._1 == 0L)
  }

  test("f16 recall@10 vs f64 exact: 11 significand bits keep the top-10") {
    val exact = Similarity.knnExact(spark, dir, k = 10)
    val f16 = Similarity.knnF16(spark, dir, k = 10)
    val recall = Eval.recallAt(f16, exact, "vec_id", 10)
    info(s"f16 recall@10 = $recall")
    assert(recall >= 0.9, s"f16 recall@10 too low: $recall")
  }

  test("recall entries report the pinned recall_bp at sf0.001") {
    def bp(df: org.apache.spark.sql.DataFrame): Long = df.collect().head.getLong(1)
    val got = Seq(
      "i8" -> bp(Similarity.recallI8(spark, small)),
      "b1" -> bp(Similarity.recallB1(spark, small)),
      "b1_refine" -> bp(Similarity.recallB1Refine(spark, small)),
      "f16" -> bp(Similarity.recallF16(spark, small)),
      "bf16" -> bp(Similarity.recallBf16(spark, small)),
      "pq" -> bp(Similarity.pqRecall(spark, small)),
      "pq_refine" -> bp(Similarity.pqRecallRefine(spark, small)),
      "ivfpq" -> bp(Similarity.ivfPqRecall(spark, small)),
      "ivfpq_refine" -> bp(Similarity.ivfPqRefineRecall(spark, small))).toMap
    // recorded from the per-dtype recall entries before they shared one kernel
    val want = Map[String, Long](
      "i8" -> 9000, "b1" -> 2000, "b1_refine" -> 10000, "f16" -> 10000,
      "bf16" -> 10000, "pq" -> 2000, "pq_refine" -> 7000, "ivfpq" -> 2000,
      "ivfpq_refine" -> 8000)
    assert(got == want, s"recall_bp = $got")
  }

  test("TopKAgg equals the window-rank oracle, both directions") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"label", ($"vec_id" % 97).cast("double").as("score"))
    val viaAgg = e.groupBy($"label")
      .agg(TopKAgg.least($"score", $"vec_id", 5).as("hits"))
      .select($"label", posexplode($"hits").as(Seq("r", "h")))
      .select($"label", $"h.score".as("score"), $"h.id".as("vec_id"))
      .as[(Int, Double, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"label").orderBy(asc("score"), asc("vec_id"))
    val viaWindow = e.withColumn("rn", row_number().over(w)).where($"rn" <= 5)
      .select($"label", $"score", $"vec_id")
      .as[(Int, Double, Long)].collect().toSet
    assert(viaAgg == viaWindow)

    val viaAggMax = e.groupBy($"label")
      .agg(TopKAgg.greatest($"score", $"vec_id", 5).as("hits"))
      .select($"label", posexplode($"hits").as(Seq("r", "h")))
      .select($"label", $"h.score".as("score"), $"h.id".as("vec_id"))
      .as[(Int, Double, Long)].collect().toSet
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy($"label").orderBy(desc("score"), asc("vec_id"))
    val viaWindowMax = e.withColumn("rn", row_number().over(wd)).where($"rn" <= 5)
      .select($"label", $"score", $"vec_id")
      .as[(Int, Double, Long)].collect().toSet
    assert(viaAggMax == viaWindowMax)
  }

  test("metric registry: declared metrics drop into the same search") {
    val viaRegistry = Similarity.knnWithMetric(spark, dir, Metric("cos"))
      .as[(Long, Double)].collect().toSeq
    // a user-defined metric object is just another instance of the trait
    val userMetric = new Metric {
      val name = "neg_cos_user"
      def apply(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        lit(1.0) - Similarity.cosine(a, b)
    }
    val viaUser = Similarity.knnWithMetric(spark, dir, userMetric)
      .as[(Long, Double)].collect().toSeq
    assert(viaRegistry.map(_._1) == viaUser.map(_._1))
    assert(viaRegistry.head._1 == 0L) // self is nearest
    intercept[IllegalArgumentException] { Metric("nope") }
  }

  test("eval: recall and ndcg on hand-checkable rankings") {
    val got = Seq((1L, 1), (2L, 2), (9L, 3)).toDF("id", "rank")
    val expected = Seq(Tuple1(1L), Tuple1(2L), Tuple1(3L)).toDF("id")
    assert(Eval.recallAt(got, expected, "id", 3) === 2.0 / 3.0)
    val ndcg = Eval.ndcgAt(got, expected, "id", 3)
    // hits at ranks 1,2 → dcg = 1 + 1/log2(3); idcg = same (2 hits ideal)
    assert(math.abs(ndcg - 1.0) < 1e-12)
    val gotWorse = Seq((9L, 1), (1L, 2), (2L, 3)).toDF("id", "rank")
    val ndcg2 = Eval.ndcgAt(gotWorse, expected, "id", 3)
    val want = (1.0 / (math.log(3) / math.log(2)) + 0.5) / 1.6309297535714575
    assert(math.abs(ndcg2 - want) < 1e-9, s"$ndcg2 vs $want")
  }

  test("memory_usage: per-component byte sizes are positive") {
    val s = graft.ops.Fulltext.indexFor(spark, "/root/testdata/sf0.001")
    val rows = s.memoryUsage().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSet == Set("tokens", "segments", "doclens", "dict"))
    rows.foreach { case (c, files, bytes) =>
      assert(files > 0 && bytes > 0, s"component $c has files=$files bytes=$bytes")
    }
  }
}
