package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry
import graft.fixtures.CorpusGen
import graft.pipeline.ExtractionPipeline

/** Repository benchmark. One JVM runs one workload for one seed:
  *
  *   --workload extract-media|queries --seed N --seconds S
  *   --trace 0|1 --data <sf dir> --work <scratch dir> --ref <digests>
  *   --traces <dir>
  *
  * Every workload is a closed loop from this single driver thread over
  * a `local[nproc]` session. The last stdout line is the result JSON;
  * the lines before it name every measured figure with its unit.
  *
  * `--mode digest-ref --out <dir of query outputs> --ref <file>` writes
  * the per-query reference digests from a graded query dump instead.
  */
object PerfBench {

  // Sizes are fixed here, not by the seed, so every seed measures the
  // same amount of work; the seed only chooses the inputs.
  val MediaDocs = 120
  val Chunks = 2
  val SetupReps = 3
  val IvfQueriesPerPass = 10
  val IvfAppendEvery = 5
  val IvfDeltaRows = 16
  val IvfK = 10
  val IvfProbes = 4
  val RecallSample = 50
  val KernelSamplePerKind = 24

  val KernelKinds: Seq[String] = CorpusGen.AllKinds
  val SubLayers: Seq[String] = Seq("MimeSniffer.sniff", "ImageDecode.readGray",
    "OcrStandin.ocrGray", "PdfText.extractPages", "HtmlStrip.strip", "ZipExplode.entries")

  /** Every per-layer metric, in output order, with its unit. A layer a
    * workload does not run reads 0 on that workload.
    */
  def layerNames: Seq[(String, String)] =
    KernelKinds.map(k => s"SpanKernel.process.ns_per_span.$k" -> "ns") ++
      SubLayers.map(n => s"$n.ns" -> "ns") ++
      Seq("SpanKernel.spark_overhead_ratio" -> "ratio",
        "ExtractionPipeline.spanTasks.s" -> "s", "ExtractionPipeline.media_join.s" -> "s",
        "ExtractionPipeline.extractSubs.s" -> "s", "ExtractionPipeline.reassemble.s" -> "s",
        "Commit.run.s" -> "s", "Commit.stage.s" -> "s", "Commit.write.s" -> "s",
        "Commit.verify.s" -> "s", "Commit.driver.s" -> "s", "Commit.overhead.s" -> "s",
        "Commit.bytes_written_per_input_byte" -> "ratio", "Commit.files_written" -> "count",
        "Commit.compact.s" -> "s", "Commit.vacuum.s" -> "s",
        "InvoiceExtract.fromSpans.s" -> "s", "InvoiceExtract.rows" -> "count") ++
      SparkEntry.queries.keys.toSeq.sorted.map(q => s"Queries.$q.s" -> "s") ++
      Seq("Queries.plan_s" -> "s",
        "SimilarityOps.ivfBuild.s" -> "s", "SimilarityOps.ivfQuery.s" -> "s",
        "SimilarityOps.ivfAppend.s" -> "s", "SimilarityOps.ivf.rows_examined_per_result" -> "ratio",
        "SimilarityOps.ivf.recall_at10" -> "ratio",
        "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.tasks" -> "count",
        "spark.input_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
        "spark.spill_bytes" -> "bytes",
        "trace.overhead_frac" -> "ratio", "trace.pass_spread_frac" -> "ratio",
        "trace.layer_sum_over_pass" -> "ratio")

  /** Passes a run makes: set by `--seconds` through a nominal pass length,
    * never by how fast the passes happen to run, so faster and slower code
    * do the same work and their medians cover the same passes.
    */
  def passCount(seconds: Int, nominalS: Int, min: Int): Int = math.max(min, seconds / nominalS)

  /** Tracing overhead: each traced pass against the mean of the untraced
    * passes on either side of it, so the warm-up trend across a run's
    * passes does not read as tracing cost. `passes` is (traced, seconds)
    * in run order. The median over such triples is `trace.overhead_frac`;
    * `trace.pass_spread_frac` is (max - min) / median of the untraced
    * passes, and an overhead smaller than that spread is not resolved
    * from noise, which the run prints as `trace_overhead_resolved 0`.
    */
  def traceOverhead(r: Report, passes: Seq[(Boolean, Double)]): Unit = {
    val overhead = median(passes.indices.collect {
      case i if passes(i)._1 && i > 0 && i + 1 < passes.length &&
          !passes(i - 1)._1 && !passes(i + 1)._1 =>
        passes(i)._2 / ((passes(i - 1)._2 + passes(i + 1)._2) / 2) - 1
    })
    val untraced = passes.filterNot(_._1).map(_._2)
    val spread = if (untraced.isEmpty) 0.0 else (untraced.max - untraced.min) / median(untraced)
    r.layer("trace.overhead_frac") = (overhead, "ratio")
    r.layer("trace.pass_spread_frac") = (spread, "ratio")
    r.named("trace_overhead_resolved") = (if (math.abs(overhead) > spread) 1.0 else 0.0, "count")
  }

  /** spark.* layer metrics: listener totals over `groups`, per group. */
  def sparkLayers(spark: SparkSession, listener: StageMetrics,
      L: LinkedHashMap[String, (Double, String)], groups: Seq[String]): Unit = {
    val set = groups.toSet
    val t = listener.total(spark.sparkContext)(set)
    val n = math.max(1, groups.length).toDouble
    L("spark.executor_cpu_s") = (t.cpuNs / 1e9 / n, "s")
    L("spark.gc_s") = (t.gcMs / 1e3 / n, "s")
    L("spark.tasks") = (t.tasks / n, "count")
    L("spark.input_bytes") = (t.inputBytes / n, "bytes")
    L("spark.shuffle_write_bytes") = (t.shuffleWriteBytes / n, "bytes")
    L("spark.spill_bytes") = (t.spillBytes / n, "bytes")
  }

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, work: String, ref: String, traces: String)

  /** Everything a run reports: the result counters, the end-to-end and
    * per-layer metrics, and further named figures printed before them.
    */
  final class Report {
    var attempted = 0L
    var failed = 0L
    val problems = ArrayBuffer.empty[String]
    val named = LinkedHashMap.empty[String, (Double, String)]
    val e2e = LinkedHashMap.empty[String, (Double, String)]
    val layer = LinkedHashMap.from(layerNames.map { case (k, u) => k -> (0.0, u) })

    def attempt(n: Long, bad: Long, what: => String): Unit = {
      attempted += n
      if (bad > 0) { failed += bad; problems += what }
    }
  }

  def uptime(): Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    if (kv.get("mode").contains("digest-ref")) return writeRefDigests(need("out"), need("ref"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("work"), need("ref"), need("traces"))
    require(Seq("extract-media", "queries").contains(a.workload),
      s"unknown workload ${a.workload}")
    require(a.seconds > 0, "--seconds must be positive")
    val nproc = Runtime.getRuntime.availableProcessors()
    val listener = new StageMetrics
    val session = Timed {
      val s = ExtractionPipeline.session("perfbench", nproc)
      s.sparkContext.setLogLevel("ERROR")
      s.sparkContext.addSparkListener(listener)
      s
    }
    val spark = session.value
    println(f"phase session_ready jvm_uptime_s ${uptime()}%.1f")
    val r = new Report
    try {
      a.workload match {
        case "queries" => QueryWorkload(spark, a, r, listener, session.netS).run()
        case _ => ExtractWorkload(spark, a, r, listener, session.netS).run()
      }
    } catch {
      case e: Throwable =>
        r.problems += s"run aborted: $e"
        r.failed += 1
        r.attempted += 1
    } finally {
      println(f"phase workload_done jvm_uptime_s ${uptime()}%.1f")
      spark.stop()
    }
    println(f"phase stopped jvm_uptime_s ${uptime()}%.1f")
    if (a.trace) Trace.write(Paths.get(a.traces, s"${a.workload}-seed${a.seed}.jsonl"))
    emit(r, a, nproc)
  }

  // ------------------------------------------------------------------
  // Output
  // ------------------------------------------------------------------

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def emit(r: Report, a: Args, nproc: Int): Unit = {
    val peak = Proc.peakRssMb()
    r.named("peak_rss_mb") = (peak, "MB")
    r.named("failed_frac") = (if (r.attempted == 0) 1.0 else r.failed.toDouble / r.attempted, "fraction")
    println(s"workload ${a.workload} seed ${a.seed} seconds ${a.seconds} trace ${if (a.trace) 1 else 0} nproc $nproc")
    r.problems.take(20).foreach(p => println(s"problem $p"))
    (r.e2e ++ r.named).foreach { case (k, (v, u)) => println(s"metric $k ${num(v)} $u") }
    if (a.trace) r.layer.foreach { case (k, (v, u)) => println(s"layer $k ${num(v)} $u") }
    val chosen = if (a.trace) r.layer else r.e2e
    val metrics = chosen.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    val correct = r.failed == 0 && r.problems.isEmpty && r.attempted > 0
    println(s"""{"correct":$correct,"attempted":${math.max(r.attempted, 1L)},"failed":${r.failed},"metrics":$metrics}""")
  }

  // ------------------------------------------------------------------
  // Helpers shared by the workloads
  // ------------------------------------------------------------------

  def median(xs: scala.collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: scala.collection.Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def group[T](spark: SparkSession, name: String)(f: => T): T = {
    spark.sparkContext.setJobGroup(name, name, interruptOnCancel = false)
    try f finally spark.sparkContext.clearJobGroup()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** (bytes, regular files) under a directory. */
  def treeSize(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L) else {
      val s = Files.walk(p)
      try {
        var bytes, files = 0L
        s.filter(Files.isRegularFile(_)).forEach { f => bytes += Files.size(f); files += 1 }
        (bytes, files)
      } finally s.close()
    }

  /** Order-insensitive digest of a query result: row count plus the sum
    * of a 64-bit hash of each row's canonical text. Doubles are rounded
    * to 6 places first, so partial-aggregation order cannot change it.
    */
  def digestColumn(df: DataFrame): org.apache.spark.sql.Column = {
    val parts = df.schema.fields.sortBy(_.name).toSeq.map { f =>
      val c = col(s"`${f.name}`")
      val canon = f.dataType match {
        case DoubleType | FloatType => format_string("%.6f", round(c.cast(DoubleType), 6))
        case _ => c.cast(StringType)
      }
      coalesce(canon, lit("\u0000null"))
    }
    xxhash64(concat_ws("\u0001", parts: _*))
  }

  def digest(df: DataFrame): String = {
    val row = df.select(digestColumn(df).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)))).head()
    s"${row.getLong(0)}:${row.getDecimal(1).toBigInteger}"
  }

  def readRef(path: String): Map[String, String] = {
    val json = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  private def writeRefDigests(outDir: String, refPath: String): Unit = {
    val spark = ExtractionPipeline.session("perfbench-ref", Runtime.getRuntime.availableProcessors())
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val lines = SparkEntry.queries.keys.toSeq.sorted.map { q =>
        s"""  "$q": "${digest(spark.read.parquet(s"$outDir/$q"))}""""
      }
      Files.writeString(Paths.get(refPath), lines.mkString("{\n", ",\n", "\n}\n"))
      println(s"wrote ${lines.length} digests to $refPath")
    } finally spark.stop()
  }
}
