package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode

import graft.corpus.CorpusGen
import graft.index.{DictRow, DocLenRow, IndexBuilder, Meta, PosRow, Searcher}

/** The index audit ([[graft.index.Searcher.integrityReport]]) must
  * report all-zero mismatches on a healthy index with scalars equal to a
  * driver-side recomputation — AND detect seeded corruption in every
  * table it claims to check (a detector that can't detect is vacuous).
  */
class IntegritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs: Seq[(Long, String)] =
    (0 until 120).map(i => i.toLong -> CorpusGen.genDoc(7L, i.toLong).content)

  private def build(): String = {
    val root = Files.createTempDirectory("graft-idx-fsck-").toString
    val df = docs.toDF("doc_id", "content")
    IndexBuilder.build(spark, df, root, targetBuckets = 4)
    IndexBuilder.buildPositions(spark, df, root)
    root
  }

  private def report(root: String): Map[String, Long] = {
    val r = new Searcher(spark, root).integrityReport(checkPositions = true).head()
    r.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> r.getLong(i) }.toMap
  }

  test("healthy index: zero mismatches, scalars equal brute recomputation") {
    val root = build()
    val rep = report(root)
    val tf = docs.flatMap { case (d, t) =>
      graft.analyze.Tokenizer.tokenize(t).groupBy(identity).map {
        case (term, xs) => (d, term, xs.length.toLong) }
    }
    assert(rep("n_docs") == tf.map(_._1).distinct.size.toLong)
    assert(rep("total_tokens") == tf.map(_._3).sum)
    assert(rep("n_terms") == tf.map(_._2).distinct.size.toLong)
    assert(rep("n_postings") == tf.size.toLong)
    for (k <- Seq("bad_df", "bad_dict", "bad_doclen", "bad_meta", "bad_pos"))
      assert(rep(k) == 0L, s"$k nonzero on a healthy index")
  }

  test("seeded corruption is detected per table") {
    val root = build()
    // stats.properties: totalTokens off by one → bad_meta
    val st = Meta.readStats(root)
    Meta.writeStats(root, st.copy(totalTokens = st.totalTokens + 1))
    assert(report(root)("bad_meta") >= 1L, "tampered meta not detected")
    Meta.writeStats(root, st)
    assert(report(root)("bad_meta") == 0L)

    // dictionary: one term's global df bumped → bad_dict
    val dictPath = s"$root/dict"
    val dictRows = spark.read.parquet(dictPath).as[DictRow].collect()
    val tampered = dictRows.zipWithIndex.map { case (d, i) =>
      if (i == 0) d.copy(df = d.df + 1) else d }
    tampered.toSeq.toDS().write.mode(SaveMode.Overwrite).parquet(dictPath)
    assert(report(root)("bad_dict") == 1L, "tampered dict df not detected")
    dictRows.toSeq.toDS().write.mode(SaveMode.Overwrite).parquet(dictPath)
    assert(report(root)("bad_dict") == 0L)

    // doclens: one norm bumped → bad_doclen (and total_tokens-vs-meta)
    val dlPath = s"$root/doclens"
    val dlRows = spark.read.parquet(dlPath).as[DocLenRow].collect()
    val dlTampered = dlRows.zipWithIndex.map { case (r, i) =>
      if (i == 0) r.copy(lens = r.lens.updated(0, r.lens(0) + 1)) else r }
    dlTampered.toSeq.toDS().write.mode(SaveMode.Overwrite).parquet(dlPath)
    assert(report(root)("bad_doclen") == 1L, "tampered doclen not detected")
    dlRows.toSeq.toDS().write.mode(SaveMode.Overwrite).parquet(dlPath)
    assert(report(root)("bad_doclen") == 0L)

    // positions: one positional row dropped → its (term, doc) pairs
    // flagged by the full-outer tf join
    val posPath = s"$root/positions"
    val posRows = spark.read.parquet(posPath).as[PosRow].collect()
    val dropped = posRows.head
    posRows.drop(1).toSeq.toDS().write.mode(SaveMode.Overwrite).parquet(posPath)
    assert(report(root)("bad_pos") == dropped.df,
      "dropped positional row not fully flagged")
  }

  test("doclens corruption fails every bucket-scan entry with the bucket or doc and the root") {
    val root = build()
    val q = "def class"
    // a doc every entry reaches: it holds both query terms, so it passes
    // the conjunctive, min-match and bool gates; k exceeds the corpus, so
    // the WAND threshold never rises far enough to skip it
    val victim = docs.collectFirst { case (d, t)
      if Set("def", "class").subsetOf(graft.analyze.Tokenizer.tokenize(t).toSet) => d }.get
    val k = 1000
    val entries: Seq[(String, (Searcher, Searcher) => Any)] = Seq(
      "search (WAND)" -> ((s, _) => s.search(q, k).collect()),
      "search (exact)" -> ((s, _) => s.search(q, k, exact = true).collect()),
      "searchMany" -> ((s, _) => s.searchMany(Seq(0 -> q), k).collect()),
      "searchConjunctiveMany" -> ((s, _) => s.searchConjunctiveMany(Seq(0 -> q), k).collect()),
      "searchMinMatchMany" -> ((s, _) => s.searchMinMatchMany(Seq((0, q, 2)), k).collect()),
      "scoreAllMatched" -> ((s, _) => s.scoreAllMatched(q).collect()),
      "searchSynonym" -> ((s, _) => s.searchSynonym(Seq(Seq("def"), Seq("class")), k).collect()),
      "searchSortedByLen" -> ((s, _) => s.searchSortedByLen(q, k).collect()),
      "searchBool" -> ((s, _) => s.searchBool(k, must = "def", should = "class").collect()),
      "searchHot" -> ((_, h) => h.searchHot(q, k)))
    val bucket = (victim / Meta.readStats(root).bucketSize).toInt
    val dlPath = s"$root/doclens"
    val dlRows = spark.read.parquet(dlPath).as[DocLenRow].collect()
    val cases: Seq[(String, Seq[DocLenRow], String)] = Seq(
      ("bucket row dropped", dlRows.filter(_.bucket != bucket).toSeq, s"bucket $bucket"),
      ("doc dropped", dlRows.map { r =>
        val i = r.docIds.indexOf(victim)
        if (i < 0) r
        else r.copy(docIds = r.docIds.patch(i, Nil, 1), lens = r.lens.patch(i, Nil, 1))
      }.toSeq, s"doc $victim"))
    for ((corruption, rows, names) <- cases) {
      rows.toDS().write.mode(SaveMode.Overwrite).parquet(dlPath)
      val s = new Searcher(spark, root)
      val h = new Searcher(spark, root, cacheHot = true)
      for ((entry, run) <- entries) {
        val e = intercept[Exception](run(s, h))
        val cause = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case ise: IllegalStateException => ise }
        assert(cause.exists(c => c.getMessage.contains(names) && c.getMessage.contains(root)),
          s"$corruption / $entry: want an IllegalStateException naming '$names' and the root, " +
            s"got $e")
      }
    }
    dlRows.toSeq.toDS().write.mode(SaveMode.Overwrite).parquet(dlPath)
  }

  test("positions accessor: remediation before buildPositions, answers after on the same Searcher") {
    val root = Files.createTempDirectory("graft-idx-latepos-").toString
    val df = docs.toDF("doc_id", "content")
    IndexBuilder.build(spark, df, root, targetBuckets = 4)
    val s = new Searcher(spark, root)
    // the first two tokens of a doc: a phrase the index must find
    val phrase = Seq(0 -> graft.analyze.Tokenizer.tokenize(docs.head._2).take(2).mkString(" "))
    for (run <- Seq(() => s.integrityReport(checkPositions = true), () => s.phraseMany(phrase))) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("run IndexBuilder.buildPositions first"), e.getMessage)
    }
    IndexBuilder.buildPositions(spark, df, root)
    val got = s.phraseMany(phrase).collect().toSeq
    assert(got.nonEmpty && got == new Searcher(spark, root).phraseMany(phrase).collect().toSeq)
    assert(s.integrityReport(checkPositions = true).head().getAs[Long]("bad_pos") == 0L)
  }
}
