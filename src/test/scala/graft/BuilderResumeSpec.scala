package graft

import java.nio.file.{Files, Paths}

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, Meta, Searcher}

/** Bucket geometry is part of the index identity: a build resumed under
  * a DIFFERENT requested/available parallelism must keep the geometry
  * the committed stages were written with — a mismatch silently
  * misaligns the bucket cogroup (ADVICE r01). Also: the SQL-function
  * extension surface.
  */
class BuilderResumeSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(n: Long) = {
    spark.range(0, n).map(i => (i, CorpusGen.genDoc(7L, i).content))
      .toDF("doc_id", "content")
  }

  test("resume with a different targetBuckets keeps committed geometry") {
    val root = Files.createTempDirectory("graft-resume-").toString
    val c = corpus(120)
    val s1 = IndexBuilder.build(spark, c, root, targetBuckets = 3)
    assert(s1.nBuckets == 3)
    // wipe the last two stage markers to force a partial resume, then
    // "resume" requesting incompatible geometry — the persisted file wins
    Files.delete(Paths.get(root, "_committed_segments"))
    Files.delete(Paths.get(root, "_committed_dict"))
    val s2 = IndexBuilder.build(spark, c, root, targetBuckets = 7)
    assert(s2.nBuckets == 3, s"resume changed geometry: ${s2.nBuckets}")
    assert(s2.bucketSize == s1.bucketSize)
    // and the resumed index still searches correctly
    val hits = new Searcher(spark, root).search("def id0", 5).collect()
    assert(hits.nonEmpty)
    assert(Meta.readManifest(root).nonEmpty)
  }

  test("awaitAll awaits every thunk; the first failure keeps its type, later ones are suppressed") {
    val second = new IllegalStateException("second")
    val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalArgumentException](IndexBuilder.awaitAll(Seq(
      () => throw new IllegalArgumentException("first"),
      () => throw second,
      () => { Thread.sleep(200); finished.set(true) })))
    assert(e.getMessage == "first")
    assert(e.getSuppressed.toSeq == Seq(second))
    assert(finished.get, "a later thunk was still running when awaitAll threw")
  }

  test("SQL function surface: graft_dot / graft_lsh_bands / graft_topk") {
    GraftExtensions.register(spark)
    val dot = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0)
    assert(dot == 11.0)
    val nBands = spark.sql("SELECT size(graft_lsh_bands(array(0.5D, -0.25D)))")
      .head().getInt(0)
    assert(nBands == graft.functions.HyperplaneLsh.NumBands)
    spark.range(0, 100).toDF("id").createOrReplaceTempView("g_ids")
    val top = spark.sql(
      """SELECT graft_topk_min(CAST(id % 7 AS DOUBLE), id, 3) AS t FROM g_ids""")
      .selectExpr("transform(t, p -> p.id) AS ids")
      .head().getSeq[Long](0)
    assert(top == Seq(0L, 7L, 14L), s"got $top")
  }
}
