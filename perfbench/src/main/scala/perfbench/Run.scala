package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A metric the benchmark reports: name, unit and which direction is
  * better. The lists here are the single source of the names that
  * BENCHMARK.json declares (the benchmark's tests compare the two).
  */
final case class MetricDef(name: String, unit: String, better: String)

object Catalog {
  private def lower(name: String, unit: String) = MetricDef(name, unit, "lower")
  private def higher(name: String, unit: String) = MetricDef(name, unit, "higher")

  /** Reported by every workload with tracing off. `op_p50_ms` and
    * `work_per_s` measure each workload's headline operation (see
    * perfbench/LAYERS.md for the per-workload meaning).
    */
  val endToEnd: Seq[MetricDef] = Seq(
    lower("setup_s", "s"),
    lower("op_p50_ms", "ms"),
    higher("work_per_s", "1/s"),
    lower("index_bytes_per_input_byte", "ratio"),
    lower("driver_heap_mb", "MB"))

  /** Reported by every workload with tracing on; a layer the workload
    * does not exercise reports 0.
    */
  val perLayer: Seq[MetricDef] = Seq(
    lower("failed_op_ratio", "ratio"),
    lower("trace.setup_s", "s"),
    lower("trace.op_p50_ms", "ms"),
    higher("trace.work_per_s", "1/s"),
    // IndexBuilder, per build call (median over the run's builds)
    lower("IndexBuilder.build_ms", "ms"),
    lower("IndexBuilder.self_ms", "ms"),
    lower("IndexBuilder.tokens_ms", "ms"),
    lower("IndexBuilder.doclens_ms", "ms"),
    lower("IndexBuilder.segments_ms", "ms"),
    lower("IndexBuilder.dict_ms", "ms"),
    lower("IndexBuilder.jobs", "count"),
    lower("IndexBuilder.stages", "count"),
    lower("IndexBuilder.tasks", "count"),
    lower("IndexBuilder.shuffle_write_bytes", "bytes"),
    lower("IndexBuilder.shuffle_read_bytes", "bytes"),
    lower("IndexBuilder.spill_bytes", "bytes"),
    lower("IndexBuilder.input_bytes", "bytes"),
    higher("IndexBuilder.task_busy_ratio", "ratio"),
    lower("IndexBuilder.output_bytes.tokens", "bytes"),
    lower("IndexBuilder.output_bytes.segments", "bytes"),
    lower("IndexBuilder.output_bytes.doclens", "bytes"),
    lower("IndexBuilder.output_bytes.dict", "bytes"),
    // Searcher, distributed per-query path (medians per query)
    lower("Searcher.search.p50_ms", "ms"),
    lower("Searcher.search.p90_ms", "ms"),
    lower("Searcher.search.plan_ms", "ms"),
    lower("Searcher.search.plan_self_ms", "ms"),
    lower("Searcher.search.exec_ms", "ms"),
    lower("Searcher.search.analysis_ms", "ms"),
    lower("Searcher.search.optimization_ms", "ms"),
    lower("Searcher.search.planning_ms", "ms"),
    lower("Searcher.search.job_wall_ms", "ms"),
    lower("Searcher.search.task_run_ms", "ms"),
    lower("Searcher.search.launch_gap_ms", "ms"),
    lower("Searcher.search.jobs_per_query", "count"),
    lower("Searcher.search.tasks_per_query", "count"),
    lower("Searcher.search.input_bytes_per_query", "bytes"),
    lower("Searcher.search.buckets_touched_per_query", "count"),
    lower("Searcher.search.visited_docs_per_query", "count"),
    lower("Searcher.search.scored_docs_per_query", "count"),
    higher("Searcher.search.hits_per_scored_doc", "ratio"),
    // Searcher, batched path (medians per searchMany call)
    higher("Searcher.batch.qps", "1/s"),
    lower("Searcher.batch.plan_ms", "ms"),
    lower("Searcher.batch.exec_ms", "ms"),
    lower("Searcher.batch.exec_self_ms", "ms"),
    lower("Searcher.batch.jobs", "count"),
    lower("Searcher.batch.tasks", "count"),
    lower("Searcher.batch.shuffle_bytes", "bytes"),
    lower("Searcher.batch.visited_docs", "count"),
    // Searcher, hot serving path
    lower("Searcher.hot.warmup_s", "s"),
    lower("Searcher.hot.p50_ms", "ms"),
    lower("Searcher.hot.p99_ms", "ms"),
    lower("Searcher.hot.self_ms", "ms"),
    lower("Searcher.hot.jobs_per_query", "count"),
    lower("Searcher.hot.miss_query_ratio", "ratio"),
    higher("Searcher.hot.concurrent_qps", "1/s"),
    lower("Searcher.hot.concurrent_latency_ratio", "ratio"),
    lower("Searcher.hot.evicting_p50_ms", "ms"),
    lower("Searcher.hot.evicting_jobs_per_query", "count"),
    lower("Searcher.hot.evicting_miss_query_ratio", "ratio"),
    // kernels, Spark-free over collected rows
    higher("PostingCodec.decode_postings_per_s", "1/s"),
    higher("Searcher.wandBucket.postings_per_s", "1/s"),
    lower("Searcher.wandBucket.scored_per_visited", "ratio"),
    higher("Searcher.taatBucket.postings_per_s", "1/s"),
    // MultiSearcher (medians per query)
    lower("MultiSearcher.p50_ms", "ms"),
    lower("MultiSearcher.plan_ms", "ms"),
    lower("MultiSearcher.plan_self_ms", "ms"),
    lower("MultiSearcher.exec_ms", "ms"),
    lower("MultiSearcher.exec_self_ms", "ms"),
    lower("MultiSearcher.jobs_per_query", "count"),
    // SegmentMerger (per merge)
    lower("SegmentMerger.merge_ms", "ms"),
    lower("SegmentMerger.self_ms", "ms"),
    lower("SegmentMerger.jobs", "count"),
    lower("SegmentMerger.shuffle_write_bytes", "bytes"),
    higher("SegmentMerger.aligned_merges", "count"),
    lower("SegmentMerger.rebuild_merges", "count"),
    lower("SegmentMerger.bytes_written", "bytes"),
    // JVM, over the timed region
    lower("jvm.gc_ms", "ms"),
    lower("jvm.gc_count", "count"))
}

/** Correctness gate: every checked operation is one attempt, and one that
  * threw or gave a wrong answer is one failure. Failures never stop the
  * run; the first few are kept for the stderr report.
  */
final class Gate {
  private val attemptedC = new AtomicLong
  private val failedC = new AtomicLong
  private val notes = new ConcurrentLinkedQueue[String]

  def attempted: Long = attemptedC.get
  def failed: Long = failedC.get
  def failures: Seq[String] = notes.asScala.toSeq

  private def fail(what: String, detail: String): Unit = {
    failedC.incrementAndGet()
    if (notes.size < 20) notes.add(s"$what: $detail")
  }

  /** Record one untimed check. */
  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    attemptedC.incrementAndGet()
    if (!ok) fail(what, detail)
    ok
  }

  /** Run and time one operation, then check its answer (`verify` returns
    * an error description, or None when the answer is right). Returns
    * the latency in ms of a call that completed, right or wrong.
    */
  def timed[T](what: String)(op: => T)(verify: T => Option[String]): Option[Double] = {
    attemptedC.incrementAndGet()
    val t0 = System.nanoTime()
    val result =
      try Right(op)
      catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    result match {
      case Left(e) => fail(what, s"threw ${e.getClass.getName}: ${e.getMessage}"); None
      case Right(r) =>
        verify(r).foreach(err => fail(what, err))
        Some(ms)
    }
  }
}

/** Ranked answers compared bit for bit: same doc ids in the same order,
  * and scores equal as raw IEEE doubles.
  */
object Answers {
  type Hits = IndexedSeq[(Long, Double)]

  def diff(got: Hits, want: Hits): Option[String] =
    if (got.length == want.length && got.zip(want).forall { case ((d1, s1), (d2, s2)) =>
        d1 == d2 && java.lang.Double.doubleToRawLongBits(s1) == java.lang.Double.doubleToRawLongBits(s2)
      }) None
    else Some(s"got ${got.take(3).mkString(",")}… (${got.length}) want ${want.take(3).mkString(",")}… (${want.length})")

  /** The smallest change a wrong engine could make: the top score moved
    * by one ulp. Used to prove the gate sees it.
    */
  def perturb(h: Hits): Hits =
    if (h.isEmpty) IndexedSeq((0L, 1.0))
    else h.updated(0, (h(0)._1, math.nextUp(h(0)._2)))
}

/** Everything one benchmark process shares: the session, its options,
  * the gate, the tracer and the metrics collected so far.
  */
final class Run(
    val spark: SparkSession,
    val workload: String,
    val seed: Long,
    val seconds: Double,
    val trace: Boolean,
    val workDir: String,
    val scale: Double,
    val perturb: Boolean,
    /** JVM start to a ready SparkSession. */
    val sessionSeconds: Double) {
  val nproc: Int = spark.sparkContext.defaultParallelism
  val gate = new Gate
  val tracer = new Tracer(trace)
  val listener: Option[JobListener] =
    if (trace) { val l = new JobListener; spark.sparkContext.addSparkListener(l); Some(l) } else None

  /** CorpusGen mixes its seed with doc and query indexes by xor, so
    * nearby seeds give permutations of one corpus; hashing the run's seed
    * first makes each seed a different corpus and query stream.
    */
  val dataSeed: Long = new java.util.SplittableRandom(seed).nextLong()

  val metrics = mutable.LinkedHashMap.empty[String, Double]
  /** (manifest stage ms, on-disk bytes by table) of each traced build. */
  val buildOutputs = mutable.ArrayBuffer.empty[(Map[String, Long], Map[String, Long])]
  val properties = mutable.LinkedHashMap.empty[String, Any]
  /** Objects whose memory the end-of-run heap reading must include. */
  val keepAlive = mutable.ArrayBuffer.empty[AnyRef]

  private var harnessNs = 0L
  private var gcAtStart = (0L, 0L)

  /** Sizes scale for small test runs; never below `floor`. */
  def scaled(n: Int, floor: Int = 1): Int = math.max(floor, math.round(n * scale).toInt)

  def root(name: String): String = s"$workDir/$name"

  private val startNs = System.nanoTime()

  /** Progress line on stderr (stdout carries only the results). */
  def log(msg: String): Unit = System.err.println(f"perfbench: [${(System.nanoTime() - startNs) / 1e9}%7.2fs] $msg")

  /** Run a step and log how long it took. */
  def step[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally log(f"$label ${(System.nanoTime() - t0) / 1e9}%.2fs")
  }

  /** Time spent making inputs and reference answers: excluded from
    * setup_s and reported on its own.
    */
  def harness[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally harnessNs += System.nanoTime() - t0
  }

  def harnessSeconds: Double = harnessNs / 1e9

  def gcTotals(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).filter(_ >= 0).sum, beans.map(_.getCollectionCount).filter(_ >= 0).sum)
  }

  /** Marks the first timed call: records JVM GC totals for the timed
    * region's deltas.
    */
  def startTimedRegion(): Unit = { gcAtStart = gcTotals() }

  def endTimedRegion(): Unit = {
    val (ms, n) = gcTotals()
    metrics("jvm.gc_ms") = (ms - gcAtStart._1).toDouble
    metrics("jvm.gc_count") = (n - gcAtStart._2).toDouble
  }

  /** CPU time this process has used (driver, executors, GC, JIT). */
  def processCpuMs(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** Run a phase of `calls` timed calls, recording its wall and process
    * CPU time per call.
    */
  def phase(name: String)(body: => Int): Unit = {
    val c0 = processCpuMs()
    val t0 = System.nanoTime()
    val calls = body
    val wall = (System.nanoTime() - t0) / 1e6
    properties(s"phase.$name.calls") = calls
    properties(s"phase.$name.wall_ms_per_call") = wall / calls
    properties(s"phase.$name.cpu_ms_per_call") = (processCpuMs() - c0) / calls
  }

  /** Heap in use after a full collection, with the workload's state
    * still reachable through [[keepAlive]].
    */
  def heapAfterGcMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
