package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, SearchCounters, Searcher}

/** The benchmark's own checks, at a few thousand docs. */
class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val workDir = Files.createTempDirectory(
    Files.createDirectories(Paths.get(sys.props("java.io.tmpdir"))), "perfbench-spec").toString

  override def afterAll(): Unit = Workloads.deleteTree(workDir)

  private def runOf(workload: String, trace: Boolean, perturb: Boolean = false): Run =
    Main.execute(Main.Options(workload, 7L, 2.0, trace, s"$workDir/$workload-$trace-$perturb", None,
      0.1, perturb))

  private lazy val traced: Map[String, Run] = Workloads.names.map(w => w -> runOf(w, trace = true)).toMap

  /** The metrics of a result line: name -> (value, unit). */
  private def metricsIn(line: String): Map[String, (Double, String)] = {
    val m = """"([A-Za-z0-9_.\-]+)":\{"value":(-?[0-9.Ee+\-]+),"unit":"([^"]*)"\}""".r
    m.findAllMatchIn(line).map(x => x.group(1) -> (x.group(2).toDouble, x.group(3))).toMap
  }

  test("every end-to-end metric is emitted, non-zero, with its unit, and the answers are right") {
    Workloads.names.foreach { w =>
      val r = runOf(w, trace = false)
      val line = Main.resultLine(r)
      assert(line.startsWith("""{"correct":true,"""), line)
      val got = metricsIn(line)
      assert(got.keySet == Catalog.endToEnd.map(_.name).toSet, w)
      Catalog.endToEnd.foreach { d =>
        assert(got(d.name)._2 == d.unit, s"$w ${d.name}")
        assert(got(d.name)._1 > 0.0, s"$w ${d.name} must never be 0")
      }
    }
  }

  test("every per-layer metric is emitted with its unit in traced runs") {
    traced.foreach { case (w, r) =>
      assert(r.gate.failed == 0L, r.gate.failures)
      val got = metricsIn(Main.resultLine(r))
      assert(got.keySet == Catalog.perLayer.map(_.name).toSet, w)
      Catalog.perLayer.foreach(d => assert(got(d.name)._2 == d.unit, s"$w ${d.name}"))
    }
    val qs = traced("query_serving").metrics
    assert(qs("Searcher.search.jobs_per_query") >= 1.0)
    assert(qs("PostingCodec.decode_postings_per_s") > 0.0)
    val ic = traced("ingest_compact").metrics
    assert(ic("IndexBuilder.jobs") >= 1.0 && ic("MultiSearcher.jobs_per_query") >= 1.0)
    assert(ic("SegmentMerger.aligned_merges") == 1.0, "shared bucket width takes the aligned merge")
  }

  test("BENCHMARK.json declares exactly the catalog's metrics, units and directions") {
    val text = new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), "UTF-8")
    def declared(section: String): Seq[(String, String, String)] = {
      val body = text.split(s""""$section"""")(1).split("]")(0)
      """\{"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)",\s*"better":\s*"([^"]+)"""".r
        .findAllMatchIn(body).map(m => (m.group(1), m.group(2), m.group(3))).toSeq
    }
    assert(declared("end_to_end") == Catalog.endToEnd.map(d => (d.name, d.unit, d.better)))
    assert(declared("per_layer") == Catalog.perLayer.map(d => (d.name, d.unit, d.better)))
  }

  test("spans nest inside their parents and self time is never negative") {
    traced.values.foreach { r =>
      val spans = r.tracer.all
      val byId = spans.map(s => s.id -> s).toMap
      assert(spans.nonEmpty)
      spans.filter(s => s.parent >= 0 && !s.name.startsWith("job ")).foreach { s =>
        val p = byId(s.parent)
        assert(p.startNs <= s.startNs && s.endNs <= p.endNs, s"$s outside $p")
        assert(p.op == s.op)
      }
      Tracer.selfTimes(spans).foreach { case (id, self) => assert(self >= 0L, byId(id)) }
    }
  }

  test("self time subtracts overlapping children once") {
    def sp(id: Int, parent: Int, a: Long, b: Long) = Span(id, s"s$id", parent, 1L, a, b, 0L, 0L)
    val spans = Seq(sp(0, -1, 0, 100), sp(1, 0, 10, 40), sp(2, 0, 30, 60), sp(3, 0, 90, 120))
    assert(Tracer.selfTimes(spans)(0) == 100L - 50L - 10L)
  }

  test("warm searchHot calls launch no Spark jobs") {
    val m = traced("query_serving").metrics
    assert(m("Searcher.hot.jobs_per_query") == 0.0)
    assert(m("Searcher.hot.miss_query_ratio") == 0.0)
    assert(m("Searcher.hot.evicting_jobs_per_query") > 0.0, "the small budget forces fetches")
  }

  test("scored docs never exceed visited docs, and pruning visits fewer docs than exact") {
    val m = traced("query_serving").metrics
    assert(m("Searcher.search.scored_docs_per_query") <= m("Searcher.search.visited_docs_per_query"))
    assert(m("Searcher.wandBucket.scored_per_visited") <= 1.0)

    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", 2L).getOrCreate()
    try {
      import spark.implicits._
      val root = s"$workDir/pruning-index"
      val corpus = spark.range(0, 3000).map(i => (i: Long, CorpusGen.genDoc(3L, i).content))
        .toDF("doc_id", "content")
      IndexBuilder.build(spark, corpus, root, knownNDocs = 3000)
      val s = new Searcher(spark, root)
      def visits(exact: Boolean): (Long, Long) = {
        val c = SearchCounters(spark)
        s.search("def id1 id2", 10, exact = exact, counters = Some(c)).collect()
        (c.visitedDocs.value, c.scoredDocs.value)
      }
      val (pruned, prunedScored) = visits(exact = false)
      val (exact, exactScored) = visits(exact = true)
      assert(prunedScored <= pruned && exactScored <= exact)
      assert(pruned < exact, s"pruned visits $pruned vs exact $exact")
    } finally spark.stop()
  }

  test("a perturbed answer is counted in failed_op_ratio") {
    Workloads.names.foreach { w =>
      val r = runOf(w, trace = true, perturb = true)
      assert(r.gate.failed == 1L, s"$w: ${r.gate.failures}")
      assert(r.metrics("failed_op_ratio") > 0.0)
      assert(Main.resultLine(r).startsWith("""{"correct":false,"""))
    }
  }
}
