package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (perfbench/run.py builds the classpath and
  * launches it):
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work-dir <dir> [--trace-out <file>]
  *   perfbench.Main --train <dir>
  *
  * Prints the workload's properties, then as the last stdout line one
  * JSON object {correct, attempted, failed, metrics}: the end-to-end
  * metrics with tracing off, the per-layer metrics with tracing on.
  */
object Main {

  /** `scale` shrinks the corpus and stream, and `perturb` moves the first
    * checked answer by one ulp (which the gate must count); the
    * benchmark's tests and the training run set them, the command line
    * never does.
    */
  final case class Options(workload: String, seed: Long, seconds: Double, trace: Boolean,
      workDir: String, traceOut: Option[String], scale: Double = 1.0, perturb: Boolean = false)

  def parse(args: Array[String]): Options = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Options(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      need("work-dir"), kv.get("trace-out"))
  }

  /** Runs one workload in a fresh local session and returns the run. */
  def execute(o: Options): Run = {
    require(Workloads.names.contains(o.workload),
      s"unknown workload '${o.workload}' (expected one of ${Workloads.names.mkString(", ")})")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val nproc = Runtime.getRuntime.availableProcessors
    val workDir = Paths.get(o.workDir).toAbsolutePath.toString
    Files.createDirectories(Paths.get(workDir))
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", nproc.toLong)
      .config("spark.default.parallelism", nproc.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val r = new Run(spark, o.workload, o.seed, o.seconds, o.trace, workDir, o.scale, o.perturb, sessionS)
    try {
      Workloads.run(r)
      if (o.trace) {
        Workloads.layerMetrics(r)
        Seq("setup_s", "op_p50_ms", "work_per_s").foreach(m => r.metrics(s"trace.$m") = r.metrics(m))
        o.traceOut.foreach(p => r.tracer.write(Paths.get(p)))
        r.properties("trace.spans") = r.tracer.all.size
      }
      r.metrics("failed_op_ratio") = r.gate.failed.toDouble / math.max(1L, r.gate.attempted)
      r.properties("harness_s") = r.harnessSeconds
      r.properties("session_s") = sessionS
      r.properties("nproc") = nproc
      r
    } finally {
      spark.stop()
      Workloads.deleteTree(workDir)
    }
  }

  /** One small traced query_serving run: run.py archives the classes it
    * loads (class-data sharing), so measured runs start without parsing
    * them again. It loads nearly every Spark and engine class the
    * workloads use; training ingest_compact as well would lengthen each
    * build by about 40 s.
    */
  def train(workDir: String): Unit = {
    val r = execute(Options("query_serving", 1L, 1.0, trace = true, workDir, None, scale = 0.05))
    require(r.gate.failed == 0L, s"training run failed: ${r.gate.failures.mkString("; ")}")
  }

  /** The result line: every metric of the selected list, with its unit. */
  def resultLine(r: Run): String = {
    val defs = if (r.trace) Catalog.perLayer else Catalog.endToEnd
    val metrics = defs.map { d =>
      val v = r.metrics.getOrElse(d.name,
        if (r.trace) 0.0 else throw new IllegalStateException(s"metric ${d.name} was not measured"))
      d.name -> Map("value" -> v, "unit" -> d.unit)
    }
    Json.obj(Seq("correct" -> (r.gate.failed == 0L), "attempted" -> r.gate.attempted,
      "failed" -> r.gate.failed, "metrics" -> scala.collection.immutable.ListMap(metrics: _*)))
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--train")) return train(args(1))
    val o = parse(args)
    val r = execute(o)
    r.gate.failures.foreach(f => System.err.println(s"perfbench: FAILED $f"))
    println("perfbench properties " + Json.obj(
      Seq("workload" -> r.workload, "seed" -> r.seed, "trace" -> r.trace) ++ r.properties.toSeq))
    println(resultLine(r))
  }
}
