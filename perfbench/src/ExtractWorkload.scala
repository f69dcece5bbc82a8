package perfbench

import java.nio.file.Paths
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.CorpusGen
import graft.kernel._
import graft.model.SpanTask
import graft.pipeline.{Commit, ExtractionPipeline, InvoiceExtract, SpanKernel}

/** `extract-media`: the six-kind mix with whale docs, where the kernel,
  * the media join and the per-chunk commit dominate.
  *
  * A pass commits the whole corpus with `Commit.run` into a fresh
  * directory, checked span-exact against `golden_spans`, compacts and
  * vacuums it, and runs `InvoiceExtract.fromSpans` over the committed
  * table, checked field for field against `golden_invoices`. The first
  * pass runs with cold JIT and plan caches and is reported on its own.
  */
final case class ExtractWorkload(spark: SparkSession, a: PerfBench.Args, r: PerfBench.Report,
    listener: StageMetrics, sessionS: Double) {
  import PerfBench._
  import spark.implicits._

  private val nproc = spark.sparkContext.defaultParallelism
  private val parts = nproc * 4
  private val params = CorpusGen.Params(nDocs = MediaDocs, seed = a.seed)
  private val work = Paths.get(a.work)

  private final case class Pass(i: Int, traced: Boolean, wallS: Double, netS: Double, cpuS: Double,
      invoiceS: Double, invoices: Long, outBytes: Long, outFiles: Long)

  def run(): Unit = {
    val gens = (0 until SetupReps).map { i =>
      val dir = work.resolve(s"corpus-$i")
      val t = Timed(group(spark, "setup")(CorpusGen.write(spark, dir.toString, params)))
      if (i < SetupReps - 1) deleteTree(dir)
      println(f"setup corpus_gen_s ${t.wallS}%.3f steal_s ${t.stealS}%.3f cpu_s ${t.cpuS}%.3f")
      t
    }
    val corpus = work.resolve(s"corpus-${SetupReps - 1}")
    r.e2e("setup_s") = (sessionS + median(gens.map(_.netS)), "s")
    r.named("setup_cpu_s") = (median(gens.map(_.cpuS)), "s")

    val docs = spark.read.parquet(s"$corpus/docs")
    val media = spark.read.parquet(s"$corpus/media")
    val golden = spark.read.parquet(s"$corpus/golden_spans")
    val goldenInv = spark.read.parquet(s"$corpus/golden_invoices")
    val inputBytes = treeSize(corpus.resolve("docs"))._1 + treeSize(corpus.resolve("media"))._1
    val kindCounts = group(spark, "setup") {
      ExtractionPipeline.spanTasks(docs).groupBy(col("kind")).count()
        .as[(String, Long)].collect().toMap
    }
    val goldenInvoices = group(spark, "setup")(goldenInv.count())
    println(s"input docs ${params.nDocs} spans ${kindCounts.values.sum} " +
      s"kinds ${kindCounts.toSeq.sorted.map { case (k, n) => s"$k=$n" }.mkString(",")} " +
      s"input_bytes $inputBytes golden_invoices $goldenInvoices")

    println(f"phase setup_done jvm_uptime_s ${uptime()}%.1f")
    // the cold pass, then warm passes. A traced run makes five warm
    // passes, untraced and traced in turn (U T U T U), so each traced
    // pass has untraced ones on both sides, and runs the cuts ahead of
    // every warm pass, so traced and untraced passes follow the same work.
    val total = 1 + (if (a.trace) 5 else passCount(a.seconds, nominalS = 12, min = 2))
    val passes = ArrayBuffer.empty[Pass]
    (0 until total).foreach { i =>
      val traced = a.trace && i > 0 && i % 2 == 0
      Trace.enabled = traced
      passes += Trace.pass(s"p$i") {
        if (a.trace && i > 0) cuts(docs, media, i)
        pass(i, traced, docs, media, golden, goldenInv, goldenInvoices)
      }
      Trace.enabled = false
    }

    val warm = passes.drop(1).filterNot(_.traced)
    val passS = median(warm.map(_.netS))
    r.e2e("pass_s") = (passS, "s")
    r.e2e("cold_pass_s") = (passes.head.netS, "s")
    r.e2e("cpu_s") = (median(warm.map(_.cpuS)), "s")
    r.e2e("cold_cpu_s") = (passes.head.cpuS, "s")
    r.named("docs_per_s") = (params.nDocs / passS, "1/s")
    r.named("invoices_per_s") =
      (median(warm.map(_.invoices.toDouble)) / median(warm.map(_.invoiceS)), "1/s")
    r.named("pass_wall_s") = (median(warm.map(_.wallS)), "s")
    r.named("cold_pass_wall_s") = (passes.head.wallS, "s")
    r.named("passes") = (passes.length.toDouble, "count")

    if (a.trace) layers(passes.toSeq, inputBytes, docs, media, kindCounts)
  }

  /** Noop-sink cuts of the extract path, each a prefix of the next. */
  private def cuts(docs: DataFrame, media: DataFrame, i: Int): Unit = group(spark, s"cut-$i") {
    Trace.span("ExtractionPipeline.spanTasks")(noop(ExtractionPipeline.spanTasks(docs)))
    Trace.span("ExtractionPipeline.media_join")(noop(
      ExtractionPipeline.spanTasks(docs).filter(ExtractionPipeline.isMediaSpan)
        .select(col("doc_id"), col("offset"), col("kind"), col("media_ref"))
        .join(media.select(col("media_ref"), col("bytes")), Seq("media_ref"))))
    Trace.span("ExtractionPipeline.extractSubs")(noop(
      ExtractionPipeline.extractSubs(docs, media, parts)))
    Trace.span("ExtractionPipeline.extract")(noop(ExtractionPipeline.extract(docs, media, parts)))
  }

  private def pass(i: Int, traced: Boolean, docs: DataFrame, media: DataFrame,
      golden: DataFrame, goldenInv: DataFrame, goldenInvoices: Long): Pass = {
    val out = work.resolve(s"out-$i")
    val inv = work.resolve(s"invoices-$i")
    var invoiceS = 0.0
    val t = Timed(group(spark, s"pass-$i") {
      val s = Trace.span("Commit.run")(Commit.run(spark, docs, media, out.toString, s"p$i",
        chunks = Chunks, partitions = parts, expected = Some(golden)))
      Trace.span("Commit.compact")(Commit.compact(out.toString))
      Trace.span("Commit.vacuum")(Commit.vacuum(out.toString))
      invoiceS = Timed(Trace.span("InvoiceExtract.fromSpans")(
        InvoiceExtract.fromSpans(Commit.readOutput(spark, out.toString))
          .write.mode("overwrite").parquet(inv.toString))).wallS
      s
    })
    val (outBytes, outFiles) = treeSize(out)
    val s = t.value
    val rows = s.committed.map(_.rowCount).sum
    val mismatches = s.committed.map(_.mismatchCount).sum
    r.attempt(params.nDocs, mismatches + math.abs(params.nDocs - rows),
      s"pass $i: $rows docs committed of ${params.nDocs}, $mismatches span mismatches")
    if (s.committed.length != Chunks) r.problems += s"pass $i committed ${s.committed.length} of $Chunks chunks"
    val invoices = group(spark, "check") {
      val got = spark.read.parquet(inv.toString)
      val n = got.count()
      val bad = invoiceMismatches(goldenInv, got)
      r.attempt(goldenInvoices, bad, s"pass $i: $bad of $goldenInvoices golden invoices not reproduced")
      n
    }
    deleteTree(out)
    deleteTree(inv)
    println(f"pass $i traced $traced wall_s ${t.wallS}%.3f steal_s ${t.stealS}%.3f cpu_s ${t.cpuS}%.3f invoice_s $invoiceS%.3f")
    Pass(i, traced, t.wallS, t.netS, t.cpuS, invoiceS, invoices, outBytes, outFiles)
  }

  /** Golden invoices with no field-for-field equal extracted row — the
    * predicate of the repository's invoice golden test.
    */
  private def invoiceMismatches(golden: DataFrame, got: DataFrame): Long =
    golden.as("g").join(got.as("e"), col("g.filename") === col("e.filename"), "left")
      .filter(
        col("e.filename").isNull ||
          not(col("g.invoice_number") <=> col("e.invoice_number")) ||
          not(col("g.vendor_name") <=> col("e.vendor_name")) ||
          not(col("g.street") <=> col("e.street")) ||
          not(col("g.city") <=> col("e.city")) ||
          not(col("g.state") <=> col("e.state")) ||
          not(col("g.postal_code") <=> col("e.postal_code")) ||
          not(col("g.country") <=> col("e.country")) ||
          not(col("g.pages") <=> col("e.pages")) ||
          not(col("g.invoice_date") <=> coalesce(col("e.invoice_date"), lit(""))) ||
          not(col("g.grand_total").cast("decimal(18,2)") <=> col("e.grand_total")) ||
          not(col("g.taxes").cast("decimal(18,2)") <=> col("e.taxes")) ||
          not(col("g.final_total").cast("decimal(18,2)") <=> col("e.final_total")) ||
          not(size(col("g.items")) <=> size(col("e.items"))) ||
          not(transform(col("g.items"), it => struct(
            it.getField("_1").as("d"), it.getField("_2").as("q"),
            it.getField("_3").cast("decimal(18,2)").as("u"),
            it.getField("_4").cast("decimal(18,2)").as("t"))) <=>
            transform(col("e.items"), it => struct(
              it.getField("description").as("d"), it.getField("quantity").as("q"),
              it.getField("unit_price").cast("decimal(18,2)").as("u"),
              it.getField("total").cast("decimal(18,2)").as("t")))))
      .count()

  private def layers(passes: Seq[Pass], inputBytes: Long, docs: DataFrame,
      media: DataFrame, kindCounts: Map[String, Long]): Unit = {
    val traced = passes.filter(_.traced)
    val tracedRuns = traced.map(p => s"p${p.i}").toSet
    val byRun = Trace.all.filter(s => tracedRuns(s.runId)).groupBy(_.runId)
    def dur(run: String, name: String): Double =
      byRun(run).filter(_.name == name).map(_.durS).sum
    def med(f: String => Double): Double = median(byRun.keys.toSeq.map(f))
    val L = r.layer
    val extractSubs = med(dur(_, "ExtractionPipeline.extractSubs"))
    L("ExtractionPipeline.spanTasks.s") = (med(dur(_, "ExtractionPipeline.spanTasks")), "s")
    L("ExtractionPipeline.media_join.s") = (med(dur(_, "ExtractionPipeline.media_join")), "s")
    L("ExtractionPipeline.extractSubs.s") = (extractSubs, "s")
    val reassemble = med(p => dur(p, "ExtractionPipeline.extract") - dur(p, "ExtractionPipeline.extractSubs"))
    L("ExtractionPipeline.reassemble.s") = (reassemble, "s")

    // Commit.run's own Spark work on the traced pass itself, from the
    // listener's timeline of the pass's job group: the staging of the
    // input by chunk, the chunk writes (where extraction runs) and the
    // checks of what each chunk wrote. Whatever else Commit.run spends is
    // driver-side work outside any Spark execution (`Commit.driver.s`).
    // (`Commit.readOutput`, inside the invoice span, is not Commit.run's.)
    final case class CommitParts(stage: Double, write: Double, verify: Double)
    val commitParts = traced.map { p =>
      val execs = listener.timeline(spark.sparkContext, s"pass-${p.i}")
      execs.foreach(x => println(f"exec p${p.i} ${if (x.sql) "sql" else "job"} ${x.action} ${x.durS}%.3f ${x.site}"))
      val commit = execs.filter(x => Seq("Commit$.run(", "Commit$.$anonfun$run$", "Commit$.stageByChunk")
        .exists(x.calledFrom))
      val (staging, rest) = commit.partition(_.calledFrom("Commit$.stageByChunk"))
      val (writes, checks) = rest.partition(x => x.sql && x.action == "parquet")
      s"p${p.i}" -> CommitParts(staging.map(_.durS).sum, writes.map(_.durS).sum, checks.map(_.durS).sum)
    }.toMap
    def commitS(run: String) = { val c = commitParts(run); c.stage + c.write + c.verify }
    L("Commit.run.s") = (med(dur(_, "Commit.run")), "s")
    L("Commit.stage.s") = (med(commitParts(_).stage), "s")
    L("Commit.write.s") = (med(commitParts(_).write), "s")
    L("Commit.verify.s") = (med(commitParts(_).verify), "s")
    L("Commit.driver.s") = (med(p => dur(p, "Commit.run") - commitS(p)), "s")
    L("Commit.overhead.s") = (med(p => dur(p, "Commit.run") - commitParts(p).write), "s")
    L("Commit.bytes_written_per_input_byte") =
      (median(traced.map(_.outBytes.toDouble)) / math.max(1L, inputBytes), "ratio")
    L("Commit.files_written") = (median(traced.map(_.outFiles.toDouble)), "count")
    L("Commit.compact.s") = (med(dur(_, "Commit.compact")), "s")
    L("Commit.vacuum.s") = (med(dur(_, "Commit.vacuum")), "s")
    L("InvoiceExtract.fromSpans.s") = (med(dur(_, "InvoiceExtract.fromSpans")), "s")
    L("InvoiceExtract.rows") = (median(traced.map(_.invoices.toDouble)), "count")

    val k = kernelProbe(docs, media)
    KernelKinds.foreach(kind => L(s"SpanKernel.process.ns_per_span.$kind") = (k.getOrElse(kind, 0.0), "ns"))
    SubLayers.foreach(n => L(s"$n.ns") = (k.getOrElse(n, 0.0), "ns"))
    val sparkFreeS = kindCounts.map { case (kind, n) => n * k.getOrElse(kind, 0.0) }.sum / 1e9 / nproc
    L("SpanKernel.spark_overhead_ratio") = (if (sparkFreeS > 0) extractSubs / sparkFreeS else 0.0, "ratio")
    r.named("kernel_spark_free_s") = (sparkFreeS, "s")
    r.named("kernel_in_spark_s") = (extractSubs, "s")

    sparkLayers(spark, listener, L, passes.drop(1).map(p => s"pass-${p.i}"))
    traceOverhead(r, passes.drop(1).map(p => (p.traced, p.netS)))
    // Coverage: the pass's non-overlapping layers, each measured on the
    // pass (Commit.run's Spark work from the timeline, the other calls
    // from their spans), over the pass's wall time. Commit.run's driver
    // time is left out, so this falls below 1 by the share of the pass
    // that no reported layer accounts for.
    L("trace.layer_sum_over_pass") = (median(traced.map { p =>
      val run = s"p${p.i}"
      (commitS(run) + Seq("Commit.compact", "Commit.vacuum", "InvoiceExtract.fromSpans")
        .map(dur(run, _)).sum) / p.wallS
    }), "ratio")
  }

  /** Spark-free kernel timing over a seeded sample of this corpus's own
    * spans: ns per `SpanKernel.process` call by kind, and ns per call of
    * each kernel sub-layer on the payloads that reach it.
    */
  private def kernelProbe(docs: DataFrame, media: DataFrame): Map[String, Double] = {
    val tasks = group(spark, "probe") {
      ExtractionPipeline.spanTasks(docs)
        .join(media.select(col("media_ref"), col("bytes")), Seq("media_ref"), "left")
        .select(col("doc_id"), col("offset"), col("kind"), col("text"), col("media_ref"), col("bytes"))
        .as[SpanTask].collect().toSeq.sortBy(t => (t.doc_id, t.offset))
    }
    val rng = new Random(a.seed)
    val sample = tasks.groupBy(_.kind).map { case (kind, ts) =>
      kind -> rng.shuffle(ts).take(KernelSamplePerKind)
    }
    def nsPer[T](xs: Seq[T])(f: T => Any): Double =
      if (xs.isEmpty) 0.0 else {
        val reps = math.max(1, 48 / xs.length)
        xs.foreach(f) // warm this call site
        val t0 = System.nanoTime()
        (0 until reps).foreach(_ => xs.foreach(f))
        (System.nanoTime() - t0).toDouble / (reps * xs.length)
      }
    val out = scala.collection.mutable.Map.empty[String, Double]
    KernelKinds.foreach { kind =>
      out(kind) = nsPer(sample.getOrElse(kind, Nil))(t => SpanKernel.process(t))
    }
    def payloads(kinds: String*) =
      kinds.flatMap(sample.getOrElse(_, Nil)).map(_.bytes).filter(b => b != null && b.nonEmpty)
    val images = payloads("png", "jpeg")
    val grays = images.map(ImageDecode.readGray).filter(_ != null)
    out("MimeSniffer.sniff") = nsPer(payloads(SpanKernel.MediaKinds: _*))(MimeSniffer.sniff)
    out("ImageDecode.readGray") = nsPer(images)(ImageDecode.readGray)
    out("OcrStandin.ocrGray") = nsPer(grays) { case (g, w, h) => OcrStandin.ocrGray(g, w, h) }
    out("PdfText.extractPages") = nsPer(payloads("pdf"))(PdfText.extractPages)
    out("HtmlStrip.strip") = nsPer(sample.getOrElse("html", Nil).map(_.text))(HtmlStrip.strip)
    out("ZipExplode.entries") = nsPer(payloads("zip"))(ZipExplode.entries)
    out.toMap
  }
}
