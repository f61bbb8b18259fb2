package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.analyze.Tokenizer
import graft.codec.{PostingCodec, Postings}
import graft.corpus.CorpusGen
import graft.index._
import graft.oracle.ExactScorer
import graft.query.Bm25

/** The three workloads. Each makes its inputs from the run's seed, sets
  * up untimed (with JIT warm-up), runs its timed calls in closed loops
  * (each caller waits for its reply), checks every answer through the
  * run's gate, and fills the run's metrics and properties.
  */
object Workloads {
  val names: Seq[String] = Seq("query_serving", "ingest_compact")

  // Sizes on the reference host (4 cores) keep one run near 40 s
  // including set-up; Run.scale shrinks them for the benchmark's tests.
  val QueryDocs = 12000
  val GenDocs = 4000
  val Generations = 3
  val StreamLength = 250
  val BurstQueries = 4
  val OracleSample = 12
  val WarmupTermsPerCall = 48
  val K = 10
  /** Budget of the evicting hot Searcher: well below the stream's
    * working-set charge, so most queries miss and fetch.
    */
  val EvictingBudgetBytes: Long = 2L << 20

  def run(r: Run): Unit = r.workload match {
    case "query_serving" => queryServing(r)
    case "ingest_compact" => ingestCompact(r)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }

  // ---- inputs ------------------------------------------------------------

  /** Docs [from, until) of the seeded corpus as a multi-file Parquet table
    * (doc_id, content), one file per core.
    */
  def writeCorpus(r: Run, from: Long, until: Long, path: String): DataFrame = {
    import r.spark.implicits._
    val seed = r.dataSeed
    r.spark.range(from, until, 1, r.nproc)
      .map(i => (i: Long, CorpusGen.genDoc(seed, i).content))
      .toDF("doc_id", "content")
      .write.parquet(path)
    r.spark.read.parquet(path)
  }

  /** The same docs generated on the driver, for the reference answers. */
  def localDocs(seed: Long, from: Long, until: Long): IndexedSeq[(Long, String)] = {
    val out = new Array[String]((until - from).toInt)
    java.util.stream.IntStream.range(0, out.length).parallel()
      .forEach(i => out(i) = CorpusGen.genDoc(seed, from + i).content)
    out.indices.map(i => (from + i, out(i)))
  }

  def contentBytes(docs: Seq[(Long, String)]): Long =
    docs.iterator.map(_._2.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum

  /** (total tokens, distinct terms) of the docs: what a correct build's
    * IndexStats must report.
    */
  def tokenTotals(docs: IndexedSeq[(Long, String)]): (Long, Long) = {
    val tokens = new LongAdder
    val terms = ConcurrentHashMap.newKeySet[String]()
    java.util.stream.IntStream.range(0, docs.length).parallel().forEach { i =>
      val ts = Tokenizer.tokenize(docs(i)._2)
      tokens.add(ts.length.toLong)
      ts.foreach(terms.add)
    }
    (tokens.sum(), terms.size.toLong)
  }

  /** The seeded query stream: Zipf-skewed identifiers, the hot keyword
    * `def` and an absent term (CorpusGen.querySet).
    */
  def queryStream(r: Run, n: Int): IndexedSeq[String] = CorpusGen.querySet(n, r.dataSeed).map(_._2)

  def hitsOf(rows: Array[Row]): Answers.Hits =
    rows.iterator.map(row => (row.getAs[Long]("doc_id"), row.getAs[Double]("score"))).toIndexedSeq

  def hitsOf(hits: Array[Hit]): Answers.Hits = hits.iterator.map(h => (h.docId, h.score)).toIndexedSeq

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }
  }

  def indexBytes(root: String): Long = Meta.byteSizes(root).map(_._3).sum

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Closed loop: run `op(i)` for i = 0, 1, … until `budgetS` has passed
    * and at least `min` calls ran (at most `max`).
    */
  def loop(budgetS: Double, min: Int, max: Int = Int.MaxValue)(op: Int => Unit): Int = {
    val deadline = System.nanoTime() + (budgetS * 1e9).toLong
    var i = 0
    while (i < max && (i < min || System.nanoTime() < deadline)) { op(i); i += 1 }
    i
  }

  private def recordStats(r: Run, prefix: String, s: IndexStats): Unit = {
    r.properties(s"$prefix.n_docs") = s.nDocs
    r.properties(s"$prefix.n_buckets") = s.nBuckets
    r.properties(s"$prefix.bucket_size") = s.bucketSize
    r.properties(s"$prefix.total_postings") = s.totalPostings
    r.properties(s"$prefix.n_terms") = s.nTerms
  }

  /** Stream shape: distinct queries and terms, and the shares of queries
    * with the hot keyword, with an absent term, and with only rare terms
    * (each term present with df ≤ 1% of the docs).
    */
  private def recordStream(r: Run, stream: Seq[String], dfs: Map[String, Long], nDocs: Long): Unit = {
    val termsOf = stream.map(q => Tokenizer.tokenize(q).distinct.toSeq)
    def share(p: Seq[String] => Boolean) = termsOf.count(p).toDouble / stream.length
    r.properties("stream.queries") = stream.length
    r.properties("stream.distinct_queries") = termsOf.map(_.sorted).distinct.length
    r.properties("stream.distinct_terms") = termsOf.flatten.distinct.length
    r.properties("stream.share_hot_keyword") = share(_.contains("def"))
    r.properties("stream.share_absent_term") = share(_.exists(t => dfs.getOrElse(t, 0L) == 0L))
    r.properties("stream.share_only_rare_terms") = share(ts =>
      ts.nonEmpty && ts.forall(t => dfs.get(t).exists(df => df > 0L && df * 100 <= nDocs)))
  }

  // ---- traced build outputs ----------------------------------------------

  /** Manifest stage times and on-disk bytes of one traced build. */
  private def recordBuildOutputs(r: Run, root: String): Unit = {
    val stageMs = Meta.readManifest(root).map(m => m.stage -> m.elapsedMs).toMap
    val bytes = Meta.byteSizes(root).map { case (c, _, b) => c -> b }.toMap
    r.buildOutputs += ((stageMs, bytes))
  }

  // ---- query_serving -----------------------------------------------------

  /** One index served five ways over one seeded stream: distributed
    * per-query search, batched search, the hot driver path single-client
    * and concurrent, and the hot path with a budget below the working set.
    */
  def queryServing(r: Run): Unit = {
    val spark = r.spark
    val n = r.scaled(QueryDocs, 200)
    val (corpus, docs) = r.harness((writeCorpus(r, 0, n, r.root("corpus")), localDocs(r.dataSeed, 0, n)))
    val stream = queryStream(r, r.scaled(StreamLength, 40))
    val distinct = stream.distinct

    // set-up: build the served index, open it three ways, warm the hot
    // caches and JIT-warm every timed path
    val root = r.root("index")
    val (searchers, setupS) = seconds {
      r.step("set-up build")(IndexBuilder.build(spark, corpus, root, knownNDocs = n))
      val dist = new Searcher(spark, root)
      val hot = new Searcher(spark, root, cacheHot = true)
      val evicting = new Searcher(spark, root, cacheHot = true, hotPostingsBudgetBytes = EvictingBudgetBytes)
      // calls naming many stream terms at once fetch their postings in
      // few jobs (k = 1 keeps their WAND cheap); the pass over the
      // distinct queries then runs warm
      val (_, warmS) = seconds(r.step("hot warm-up") {
        distinct.flatMap(Tokenizer.tokenize).distinct.grouped(WarmupTermsPerCall)
          .foreach(ts => hot.searchHot(ts.mkString(" "), 1))
        distinct.foreach(hot.searchHot(_, K))
      })
      r.metrics("Searcher.hot.warmup_s") = warmS
      r.step("path warm-up") {
        stream.take(2).foreach(q => dist.search(q, K).collect())
        dist.searchMany(stream.zipWithIndex.map(_.swap), K).collect()
        stream.take(5).foreach(evicting.searchHot(_, K))
      }
      (dist, hot, evicting)
    }
    val (dist, hot, evicting) = searchers
    r.keepAlive ++= Seq(dist, hot, evicting)
    r.metrics("setup_s") = r.sessionSeconds + setupS

    // reference answers: exhaustive (exact = true) hot scoring of every
    // distinct query, itself checked against the Spark-free ExactScorer
    val ref: Map[String, Answers.Hits] = r.step("reference answers")(r.harness {
      distinct.map(q => q -> hitsOf(hot.searchHot(q, K, exact = true))).toMap
    })
    r.step("oracle sample")(r.harness {
      val oracle = new ExactScorer(docs)
      distinct.take(OracleSample).foreach { q =>
        val want = oracle.search(q, K).toIndexedSeq
        r.gate.check("ExactScorer", Answers.diff(ref(q), want).isEmpty, s"$q: ${Answers.diff(ref(q), want)}")
      }
    })
    val props = r.step("properties")(r.harness(servingProperties(r, root, dist, stream, docs)))

    val s = r.seconds
    r.startTimedRegion()
    var perturbNext = r.perturb
    def check(q: String)(h: Answers.Hits): Option[String] = {
      val got = if (perturbNext) { perturbNext = false; Answers.perturb(h) } else h
      Answers.diff(got, ref(q)).map(e => s"$q: $e")
    }

    // phase 1: distributed per-query search (Catalyst + job launch)
    val searchMs = mutable.ArrayBuffer.empty[Double]
    val searchExtras = mutable.ArrayBuffer.empty[SearchExtra]
    r.phase("search")(loop(0.40 * s, min = 25) { i =>
      val q = stream(i % stream.length)
      val counters = if (r.trace) Some(SearchCounters(spark)) else None
      var answer: (Array[Row], DataFrame) = null
      r.gate.timed("Searcher.search") {
        answer = planExec(r, "Searcher.search")(dist.search(q, K, counters = counters))
        hitsOf(answer._1)
      }(check(q)).foreach(searchMs += _)
      if (r.trace && answer != null)
        searchExtras += SearchExtra.of(answer._2, counters.get, answer._1.length, bucketsTouched(dist, q))
    })

    // phase 2: batched search (TAAT kernel), the whole stream per call
    val batch = stream.zipWithIndex.map(_.swap)
    val batchS = mutable.ArrayBuffer.empty[Double]
    val batchVisited = mutable.ArrayBuffer.empty[Double]
    r.phase("batch")(loop(0.20 * s, min = 3) { _ =>
      val counters = if (r.trace) Some(SearchCounters(spark)) else None
      r.gate.timed("Searcher.searchMany") {
        planExec(r, "Searcher.batch")(dist.searchMany(batch, K, counters = counters))._1
      } { rows =>
        val byQuery = rows.groupBy(_.getAs[Int]("query_id"))
        batch.iterator.map { case (id, q) =>
          check(q)(hitsOf(byQuery.getOrElse(id, Array.empty[Row]).sortBy(_.getAs[Int]("rank"))))
        }.collectFirst { case Some(e) => e }
      }.foreach(ms => batchS += ms / 1000.0)
      counters.foreach(c => batchVisited += c.visitedDocs.value.toDouble)
    })

    // phase 3: hot driver-side serving, single client
    val hotMs = mutable.ArrayBuffer.empty[Double]
    loop(0.12 * s, min = 1000) { i =>
      val q = stream(i % stream.length)
      r.gate.timed("Searcher.searchHot") {
        hitsOf(r.tracer.span("Searcher.hot")(hot.searchHot(q, K)))
      }(check(q)).foreach(hotMs += _)
    }

    // phase 4: the same calls from one closed-loop client per core
    val (concMs, concQps) = concurrentHot(r, hot, stream, 0.10 * s, check)

    // phase 5: hot serving with the working set larger than the budget
    val evictMs = mutable.ArrayBuffer.empty[Double]
    loop(0.18 * s, min = 20) { i =>
      val q = stream(i % stream.length)
      r.gate.timed("Searcher.searchHot (evicting)") {
        hitsOf(r.tracer.span("Searcher.hot_evicting")(evicting.searchHot(q, K)))
      }(check(q)).foreach(evictMs += _)
    }
    r.endTimedRegion()

    r.metrics("op_p50_ms") = Stats.median(searchMs.toSeq)
    r.metrics("work_per_s") = Stats.median(batchS.toSeq.map(batch.length / _))
    r.metrics("index_bytes_per_input_byte") = indexBytes(root).toDouble / contentBytes(docs)
    r.metrics("driver_heap_mb") = r.heapAfterGcMb()

    r.metrics("Searcher.search.p50_ms") = Stats.median(searchMs.toSeq)
    r.metrics("Searcher.search.p90_ms") = Stats.percentile(searchMs.toSeq, 90)
    r.metrics("Searcher.batch.qps") = r.metrics("work_per_s")
    r.metrics("Searcher.hot.p50_ms") = Stats.median(hotMs.toSeq)
    r.metrics("Searcher.hot.p99_ms") = Stats.percentile(hotMs.toSeq, 99)
    r.metrics("Searcher.hot.concurrent_qps") = concQps
    r.metrics("Searcher.hot.concurrent_latency_ratio") = Stats.median(concMs) / Stats.median(hotMs.toSeq)
    r.metrics("Searcher.hot.evicting_p50_ms") = Stats.median(evictMs.toSeq)
    r.properties("sample.search_calls") = searchMs.length
    r.properties("sample.batch_calls") = batchS.length
    r.properties("sample.hot_calls") = hotMs.length
    r.properties("sample.hot_concurrent_calls") = concMs.length
    r.properties("sample.hot_evicting_calls") = evictMs.length
    if (r.trace) {
      SearchExtra.report(r, searchExtras.toSeq)
      if (batchVisited.nonEmpty) r.metrics("Searcher.batch.visited_docs") = Stats.median(batchVisited.toSeq)
      kernels(r, props, ref)
    }
  }

  /** What a traced distributed search reports beside its spans. */
  final case class SearchExtra(analysisMs: Double, optimizationMs: Double, planningMs: Double,
      visited: Long, scored: Long, hits: Int, buckets: Int)

  object SearchExtra {
    def of(df: DataFrame, c: SearchCounters, hits: Int, buckets: Int): SearchExtra = {
      val phases = df.queryExecution.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      SearchExtra(ms("analysis"), ms("optimization"), ms("planning"),
        c.visitedDocs.value, c.scoredDocs.value, hits, buckets)
    }

    def report(r: Run, xs: Seq[SearchExtra]): Unit = if (xs.nonEmpty) {
      def med(f: SearchExtra => Double) = Stats.median(xs.map(f))
      r.metrics("Searcher.search.analysis_ms") = med(_.analysisMs)
      r.metrics("Searcher.search.optimization_ms") = med(_.optimizationMs)
      r.metrics("Searcher.search.planning_ms") = med(_.planningMs)
      r.metrics("Searcher.search.visited_docs_per_query") = med(_.visited.toDouble)
      r.metrics("Searcher.search.scored_docs_per_query") = med(_.scored.toDouble)
      r.metrics("Searcher.search.buckets_touched_per_query") = med(_.buckets.toDouble)
      val scored = xs.map(_.scored).sum
      r.metrics("Searcher.search.hits_per_scored_doc") =
        if (scored == 0L) 0.0 else xs.map(_.hits).sum.toDouble / scored
    }
  }

  /** Buckets the query's live terms touch, from the dictionary rows (an
    * extra untimed dictionary read, traced runs only).
    */
  private def bucketsTouched(s: Searcher, q: String): Int = {
    val rows = s.dictRows(Tokenizer.tokenize(q).distinct.sorted.toSeq)
    rows.valuesIterator.filter(_.df > 0L).flatMap(_.buckets).toSet.size
  }

  /** One call split into its planning part (building the DataFrame) and
    * its execution part (collect), each a span when tracing.
    */
  def planExec(r: Run, layer: String)(plan: => DataFrame): (Array[Row], DataFrame) =
    r.tracer.span(layer) {
      val df = r.tracer.span(s"$layer.plan")(plan)
      (r.tracer.span(s"$layer.exec")(df.collect()), df)
    }

  private def concurrentHot(r: Run, hot: Searcher, stream: IndexedSeq[String], budgetS: Double,
      check: String => Answers.Hits => Option[String]): (Seq[Double], Double) = {
    val lat = new ConcurrentLinkedQueue[Double]
    val pool = Executors.newFixedThreadPool(r.nproc)
    val t0 = System.nanoTime()
    try {
      val futures = (0 until r.nproc).map { c =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            loop(budgetS, min = 250) { i =>
              val q = stream((c * 97 + i) % stream.length)
              r.gate.timed("Searcher.searchHot (concurrent)")(hitsOf(hot.searchHot(q, K)))(check(q))
                .foreach(lat.add)
            }
          }
        })
      }
      futures.foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    (lat.asScala.toSeq, lat.size / wallS)
  }

  /** The stream's posting rows and the index's doclens rows, collected
    * once for the Spark-free kernel runs.
    */
  final case class ServingInputs(streamRows: Array[PostingRow], doclens: Map[Int, DocLenRow],
      stats: IndexStats)

  /** What the hot path charges for resident rows (Searcher.hotRowCost:
    * encoded block bytes + 40 B per block, 12 B per decoded posting,
    * 64 B per row).
    */
  private def hotCharge(rows: Iterable[PostingRow]): Long =
    rows.iterator.map(r => r.blocks.iterator.map(_.bytes.length.toLong + 40L).sum + 12L * r.df + 64L).sum

  /** Records the corpus, index and stream properties, and the stream's
    * working-set charge against each hot budget.
    */
  private def servingProperties(r: Run, root: String, dist: Searcher, stream: Seq[String],
      docs: Seq[(Long, String)]): ServingInputs = {
    import r.spark.implicits._
    val layout = IndexBuilder.Layout(root)
    val allRows = r.spark.read.parquet(layout.segments).as[PostingRow].collect()
    val terms = stream.flatMap(Tokenizer.tokenize).toSet
    val streamRows = allRows.filter(p => terms.contains(p.term))
    val doclens = r.spark.read.parquet(layout.doclens).as[DocLenRow].collect().map(d => d.bucket -> d).toMap
    val stats = dist.stats
    val dfs = dist.termDfs(terms.toSeq.sorted)
    r.properties("corpus.docs") = docs.length
    r.properties("corpus.bytes") = contentBytes(docs)
    recordStats(r, "index", stats)
    recordStream(r, stream, dfs, stats.nDocs)
    val workingSet = hotCharge(streamRows)
    r.properties("hot.working_set_charge_bytes") = workingSet
    r.properties("hot.full_index_charge_bytes") = hotCharge(allRows)
    r.properties("hot.budget_bytes") = Searcher.DefaultHotPostingsBudgetBytes
    r.properties("hot_evicting.budget_bytes") = EvictingBudgetBytes
    r.properties("hot.working_set_fits_budget") = workingSet <= Searcher.DefaultHotPostingsBudgetBytes
    r.properties("hot_evicting.working_set_fits_budget") = workingSet <= EvictingBudgetBytes
    ServingInputs(streamRows, doclens, stats)
  }

  /** The three kernels timed Spark-free over the stream's collected rows;
    * their merged answers are checked against the references too.
    */
  private def kernels(r: Run, in: ServingInputs, ref: Map[String, Answers.Hits]): Unit = {
    val rows = in.streamRows
    val nDocs = in.stats.nDocs
    val avgdl = in.stats.avgdl
    val dfByTerm = rows.groupBy(_.term).map { case (t, rs) => t -> rs.map(_.df).sum }
    val idf = dfByTerm.map { case (t, df) => t -> Bm25.idf(df, nDocs) }
    val postings = rows.map(_.df).sum
    def decodeAll(): Map[(String, Int), Postings] =
      rows.iterator.map(p => (p.term, p.bucket) -> PostingCodec.decodeBlocks(p.blocks.map(_.bytes).toSeq)).toMap

    /** Repeat `body` (after one untimed call) until 0.3 s have passed. */
    def rate(work: Long)(body: => Unit): Double = {
      body
      var reps = 0
      val t0 = System.nanoTime()
      while (reps < 3 || System.nanoTime() - t0 < 300000000L) { body; reps += 1 }
      work * reps / ((System.nanoTime() - t0) / 1e9)
    }

    r.metrics("PostingCodec.decode_postings_per_s") =
      r.tracer.span("PostingCodec.decodeBlocks")(rate(postings)(decodeAll()))
    val decoded = decodeAll()
    val byBucket = rows.groupBy(_.bucket)
    def cacheFor(bucket: Int, rs: Array[PostingRow]) = {
      val m = new java.util.HashMap[String, Postings]()
      rs.foreach(p => m.put(p.term, decoded((p.term, bucket))))
      m
    }
    val queries = ref.keys.toIndexedSeq.sorted
    def merge(hits: Iterator[(Long, Double)]): Answers.Hits =
      hits.toIndexedSeq.sortBy { case (d, s) => (-s, d) }.take(K)

    // WAND, one query at a time
    val counters = SearchCounters(r.spark)
    val wandWork = queries.map { q =>
      val ts = Tokenizer.tokenize(q).distinct.toSet
      rows.iterator.filter(p => ts.contains(p.term)).map(_.df).sum
    }.sum
    def wandAll(check: Boolean): Unit = queries.foreach { q =>
      val ts = Tokenizer.tokenize(q).distinct.toSet
      val hits = byBucket.iterator.flatMap { case (b, rs) =>
        val qRows = rs.filter(p => ts.contains(p.term))
        if (qRows.isEmpty) Iterator.empty
        else Searcher.wandBucket(qRows, in.doclens(b), idf, avgdl, 1.0, K, exact = false, None,
          cacheFor(b, qRows), if (check) counters else null).map(h => (h.docId, h.score))
      }
      if (check) r.gate.check("Searcher.wandBucket", Answers.diff(merge(hits), ref(q)).isEmpty, q)
      else hits.foreach(_ => ())
    }
    wandAll(check = true)
    r.metrics("Searcher.wandBucket.scored_per_visited") =
      if (counters.visitedDocs.value == 0L) 0.0
      else counters.scoredDocs.value.toDouble / counters.visitedDocs.value
    r.metrics("Searcher.wandBucket.postings_per_s") =
      r.tracer.span("Searcher.wandBucket")(rate(wandWork)(wandAll(check = false)))

    // TAAT, the whole stream per bucket
    val qTerms = queries.zipWithIndex.map { case (q, i) =>
      (i, Tokenizer.tokenize(q).distinct.sorted.filter(idf.contains))
    }.filter(_._2.nonEmpty).toArray
    def taatAll(): Iterator[(Int, Long, Double)] = byBucket.iterator.flatMap { case (b, rs) =>
      Searcher.taatBucket(rs, in.doclens(b), idf, avgdl, K, qTerms, cacheFor(b, rs))
    }
    val taat = taatAll().toSeq.groupBy(_._1)
    queries.indices.foreach { i =>
      val got = merge(taat.getOrElse(i, Nil).iterator.map(t => (t._2, t._3)))
      r.gate.check("Searcher.taatBucket", Answers.diff(got, ref(queries(i))).isEmpty, queries(i))
    }
    r.metrics("Searcher.taatBucket.postings_per_s") =
      r.tracer.span("Searcher.taatBucket")(rate(postings)(taatAll().foreach(_ => ())))
  }

  // ---- ingest_compact ----------------------------------------------------

  /** LSM lifecycle: small generations with disjoint doc-id ranges and a
    * shared bucket width are built one after another, each followed by a
    * burst of multi-generation searches; then the generations merge on
    * the bucket-aligned path and the merged root is searched.
    */
  def ingestCompact(r: Run): Unit = {
    val spark = r.spark
    val g = Generations
    val per = r.scaled(GenDocs, 100)
    val total = g.toLong * per
    val bucketSize = (per + r.nproc - 1) / r.nproc
    val corpus = r.step("corpus")(r.harness(writeCorpus(r, 0, total, r.root("corpus"))))
    val docs = r.step("local docs")(r.harness(localDocs(r.dataSeed, 0, total)))
    val burst = queryStream(r, 40).distinct.take(BurstQueries)
    // reference answers after each generation (the corpus prefix so far)
    val expected: IndexedSeq[Map[String, Answers.Hits]] = r.step("oracles")(r.harness {
      val pool = Executors.newFixedThreadPool(r.nproc)
      try (1 to g).map { j =>
        pool.submit(new java.util.concurrent.Callable[Map[String, Answers.Hits]] {
          override def call(): Map[String, Answers.Hits] = {
            val oracle = new ExactScorer(docs.take(j * per))
            burst.map(q => q -> oracle.search(q, K).toIndexedSeq).toMap
          }
        })
      }.map(_.get())
      finally pool.shutdown()
    })
    // what each generation's IndexStats must report
    val genTotals = r.step("token totals")(r.harness((0 until g).map(j => tokenTotals(docs.slice(j * per, (j + 1) * per)))))
    def genCorpus(j: Int) = corpus.where(col("doc_id") >= j.toLong * per && col("doc_id") < (j + 1L) * per)
    def buildGen(j: Int, root: String): IndexStats =
      IndexBuilder.build(spark, genCorpus(j), root, knownNDocs = per, fixedBucketSize = bucketSize)
    val firstStats = mutable.Map.empty[Int, IndexStats]
    def verifyGen(j: Int)(s: IndexStats): Option[String] = {
      val (tokens, terms) = genTotals(j)
      if (s.nDocs != per || s.totalTokens != tokens || s.nTerms != terms || s.bucketSize != bucketSize)
        Some(s"generation $j stats $s disagree with its docs ($per docs, $tokens tokens, $terms terms)")
      else if (firstStats.get(j).exists(_ != s)) Some(s"rebuilt generation $j: $s != ${firstStats(j)}")
      else { firstStats(j) = s; None }
    }

    // set-up: one warm-up generation (JIT) and two multi-generation
    // searches over it; the timed generation 0 rebuilds it and must match
    val warm = r.root("warmup-gen0")
    val (_, setupS) = r.step("warm-up")(seconds {
      val s = buildGen(0, warm)
      r.gate.check("IndexBuilder.build (warm-up generation)", verifyGen(0)(s).isEmpty, s.toString)
      val ms = new MultiSearcher(spark, Seq(warm))
      burst.take(2).foreach(q => ms.search(q, K).collect())
    })
    deleteTree(warm)
    r.metrics("setup_s") = r.sessionSeconds + setupS

    var perturbNext = r.perturb
    def check(want: Answers.Hits)(h: Answers.Hits): Option[String] = {
      val got = if (perturbNext) { perturbNext = false; Answers.perturb(h) } else h
      Answers.diff(got, want)
    }

    r.log("timed region")
    r.startTimedRegion()
    val gens = mutable.ArrayBuffer.empty[String]
    val buildMs = mutable.ArrayBuffer.empty[Double]
    val multiMs = mutable.ArrayBuffer.empty[Double]
    (0 until g).foreach { j =>
      val root = r.root(s"gen$j")
      r.gate.timed("IndexBuilder.build (generation)") {
        r.tracer.span("IndexBuilder.build")(buildGen(j, root))
      }(verifyGen(j)).foreach(buildMs += _)
      if (r.trace) recordBuildOutputs(r, root)
      gens += root
      val ms = new MultiSearcher(spark, gens.toSeq)
      burst.foreach { q =>
        r.gate.timed("MultiSearcher.search") {
          hitsOf(planExec(r, "MultiSearcher.search")(ms.search(q, K))._1)
        }(check(expected(j)(q))).foreach(multiMs += _)
      }
    }
    val merged = r.root("merged")
    val mergeMs = r.gate.timed("SegmentMerger.merge") {
      r.tracer.span("SegmentMerger.merge")(SegmentMerger.merge(spark, gens.toSeq, merged))
    } { s =>
      if (s.nDocs == total && s.nDocs == gens.map(Meta.readStats(_).nDocs).sum) None
      else Some(s"merged nDocs ${s.nDocs}, generations sum to $total")
    }
    val mergedSearcher = new Searcher(spark, merged)
    val mergedMs = mutable.ArrayBuffer.empty[Double]
    burst.foreach { q =>
      r.gate.timed("Searcher.search (merged)") {
        hitsOf(planExec(r, "Searcher.search")(mergedSearcher.search(q, K))._1)
      }(check(expected(g - 1)(q))).foreach(mergedMs += _)
    }
    r.endTimedRegion()
    r.log("timed region done")

    r.metrics("op_p50_ms") = Stats.median(multiMs.toSeq)
    r.metrics("work_per_s") = total.toDouble / (buildMs.sum / 1000.0)
    r.metrics("index_bytes_per_input_byte") = indexBytes(merged).toDouble / contentBytes(docs)
    r.keepAlive += mergedSearcher
    r.metrics("driver_heap_mb") = r.heapAfterGcMb()
    r.metrics("MultiSearcher.p50_ms") = Stats.median(multiMs.toSeq)
    r.metrics("Searcher.search.p50_ms") = Stats.median(mergedMs.toSeq)
    r.metrics("Searcher.search.p90_ms") = Stats.percentile(mergedMs.toSeq, 90)
    mergeMs.foreach(ms => r.metrics("SegmentMerger.merge_ms") = ms)
    r.metrics("SegmentMerger.aligned_merges") =
      if (Files.exists(Paths.get(IndexBuilder.Layout(merged).tokens))) 0.0 else 1.0
    r.metrics("SegmentMerger.rebuild_merges") = 1.0 - r.metrics("SegmentMerger.aligned_merges")
    r.metrics("SegmentMerger.bytes_written") = indexBytes(merged).toDouble
    r.properties("corpus.docs") = total
    r.properties("corpus.bytes") = contentBytes(docs)
    r.properties("ingest.generations") = g
    r.properties("ingest.docs_per_generation") = per
    r.properties("ingest.burst_queries") = burst.length
    recordStats(r, "index", Meta.readStats(merged))
  }

  // ---- per-layer numbers from the spans ---------------------------------

  /** Attach the run's Spark jobs to the spans, then derive each layer's
    * per-call medians: time, self time and the work its jobs did.
    */
  def layerMetrics(r: Run): Unit = {
    val jobs = r.listener.get.drained(r.spark.sparkContext)
    jobs.foreach(j => r.tracer.attach(s"job ${j.jobId}", j.startMs, j.endMs))
    val jobById = jobs.map(j => j.jobId -> j).toMap
    val spans = r.tracer.all
    val self = Tracer.selfTimes(spans)
    val byName = spans.groupBy(_.name)
    val children = spans.groupBy(_.parent)
    def calls(name: String): Seq[Span] = byName.getOrElse(name, Nil)
    def child(s: Span, name: String): Option[Span] = children.getOrElse(s.id, Nil).find(_.name == name)
    def totals(s: Span) = JobTotals.of(Tracer.descendants(children, s).collect {
      case j if j.name.startsWith("job ") => jobById(j.name.stripPrefix("job ").toInt)
    })
    def med(ss: Seq[Span])(f: Span => Double): Double = if (ss.isEmpty) 0.0 else Stats.median(ss.map(f))
    def ms(ns: Long) = ns / 1e6
    def put(name: String, v: Double): Unit = r.metrics(name) = v

    val builds = calls("IndexBuilder.build")
    put("IndexBuilder.build_ms", med(builds)(s => ms(s.durNs)))
    put("IndexBuilder.self_ms", med(builds)(s => ms(self(s.id))))
    put("IndexBuilder.jobs", med(builds)(totals(_).jobs.toDouble))
    put("IndexBuilder.stages", med(builds)(totals(_).stages.toDouble))
    put("IndexBuilder.tasks", med(builds)(totals(_).tasks.toDouble))
    put("IndexBuilder.shuffle_write_bytes", med(builds)(totals(_).shuffleWriteBytes.toDouble))
    put("IndexBuilder.shuffle_read_bytes", med(builds)(totals(_).shuffleReadBytes.toDouble))
    put("IndexBuilder.spill_bytes", med(builds)(totals(_).spillBytes.toDouble))
    put("IndexBuilder.input_bytes", med(builds)(totals(_).inputBytes.toDouble))
    put("IndexBuilder.task_busy_ratio", med(builds)(s => totals(s).taskRunMs / (ms(s.durNs) * r.nproc)))
    val outputs = r.buildOutputs.toList
    def medOut(f: ((Map[String, Long], Map[String, Long])) => Long) =
      if (outputs.isEmpty) 0.0 else Stats.median(outputs.map(o => f(o).toDouble))
    Seq("tokens", "doclens", "segments", "dict").foreach { st =>
      put(s"IndexBuilder.${st}_ms", medOut(_._1.getOrElse(st, 0L)))
      put(s"IndexBuilder.output_bytes.$st", medOut(_._2.getOrElse(st, 0L)))
    }

    val searches = calls("Searcher.search")
    def planOf(s: Span, layer: String) = child(s, s"$layer.plan")
    def execOf(s: Span, layer: String) = child(s, s"$layer.exec")
    put("Searcher.search.plan_ms", med(searches)(s => planOf(s, "Searcher.search").map(p => ms(p.durNs)).getOrElse(0.0)))
    put("Searcher.search.plan_self_ms", med(searches)(s => planOf(s, "Searcher.search").map(p => ms(self(p.id))).getOrElse(0.0)))
    put("Searcher.search.exec_ms", med(searches)(s => execOf(s, "Searcher.search").map(e => ms(e.durNs)).getOrElse(0.0)))
    put("Searcher.search.launch_gap_ms", med(searches)(s => execOf(s, "Searcher.search").map(e => ms(self(e.id))).getOrElse(0.0)))
    put("Searcher.search.job_wall_ms", med(searches)(totals(_).wallMs))
    put("Searcher.search.task_run_ms", med(searches)(totals(_).taskRunMs.toDouble))
    put("Searcher.search.jobs_per_query", med(searches)(totals(_).jobs.toDouble))
    put("Searcher.search.tasks_per_query", med(searches)(totals(_).tasks.toDouble))
    put("Searcher.search.input_bytes_per_query", med(searches)(totals(_).inputBytes.toDouble))

    val batches = calls("Searcher.batch")
    put("Searcher.batch.plan_ms", med(batches)(s => planOf(s, "Searcher.batch").map(p => ms(p.durNs)).getOrElse(0.0)))
    put("Searcher.batch.exec_ms", med(batches)(s => execOf(s, "Searcher.batch").map(e => ms(e.durNs)).getOrElse(0.0)))
    put("Searcher.batch.exec_self_ms", med(batches)(s => execOf(s, "Searcher.batch").map(e => ms(self(e.id))).getOrElse(0.0)))
    put("Searcher.batch.jobs", med(batches)(totals(_).jobs.toDouble))
    put("Searcher.batch.tasks", med(batches)(totals(_).tasks.toDouble))
    put("Searcher.batch.shuffle_bytes", med(batches)(s => totals(s).shuffleWriteBytes.toDouble))

    val hots = calls("Searcher.hot")
    put("Searcher.hot.self_ms", med(hots)(s => ms(self(s.id))))
    put("Searcher.hot.jobs_per_query", if (hots.isEmpty) 0.0 else Stats.mean(hots.map(totals(_).jobs.toDouble)))
    put("Searcher.hot.miss_query_ratio", if (hots.isEmpty) 0.0 else hots.count(totals(_).jobs > 0).toDouble / hots.size)
    val evicting = calls("Searcher.hot_evicting")
    put("Searcher.hot.evicting_jobs_per_query",
      if (evicting.isEmpty) 0.0 else Stats.mean(evicting.map(totals(_).jobs.toDouble)))
    put("Searcher.hot.evicting_miss_query_ratio",
      if (evicting.isEmpty) 0.0 else evicting.count(totals(_).jobs > 0).toDouble / evicting.size)

    val multis = calls("MultiSearcher.search")
    put("MultiSearcher.plan_ms", med(multis)(s => planOf(s, "MultiSearcher.search").map(p => ms(p.durNs)).getOrElse(0.0)))
    put("MultiSearcher.plan_self_ms", med(multis)(s => planOf(s, "MultiSearcher.search").map(p => ms(self(p.id))).getOrElse(0.0)))
    put("MultiSearcher.exec_ms", med(multis)(s => execOf(s, "MultiSearcher.search").map(e => ms(e.durNs)).getOrElse(0.0)))
    put("MultiSearcher.exec_self_ms", med(multis)(s => execOf(s, "MultiSearcher.search").map(e => ms(self(e.id))).getOrElse(0.0)))
    put("MultiSearcher.jobs_per_query", med(multis)(totals(_).jobs.toDouble))

    val merges = calls("SegmentMerger.merge")
    put("SegmentMerger.self_ms", med(merges)(s => ms(self(s.id))))
    put("SegmentMerger.jobs", med(merges)(totals(_).jobs.toDouble))
    put("SegmentMerger.shuffle_write_bytes", med(merges)(totals(_).shuffleWriteBytes.toDouble))
  }
}
