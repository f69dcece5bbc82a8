package graft

import org.apache.spark.sql.SparkSession
import graft.fixtures.CorpusGen
import graft.pipeline.{ExtractionPipeline, InvoiceExtract}

/** Benchmark main. Prints ONE JSON line:
  *   {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...,
  *    "docs_per_sec":..., "spans_per_sec":..., "cpus":...}
  *
  * Two workloads:
  *  1. the north-star metric — extracted docs/sec over a synthesized
  *     interleaved corpus (pipeline end-to-end incl. structured invoice
  *     extraction), corpus generation excluded from timing;
  *  2. the operator queries over SPARK_GRAFT_SF_DIR (per-query seconds).
  *
  * Env knobs: SPARK_GRAFT_CPUS (parallelism — run at 8 and 32 for the
  * N vs 4N scaling-efficiency evidence), SPARK_GRAFT_BENCH_DOCS
  * (corpus size, default 3000), SPARK_GRAFT_BENCH_DIR (corpus cache
  * dir — reused across runs so both parallelism levels see identical
  * input).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "3000").toInt
    val benchDir = sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR",
      s"/tmp/graft_bench_corpus_$nDocs")
    val spark = ExtractionPipeline.session("graft-bench", cpus)
    spark.sparkContext.setLogLevel("WARN")

    // --- corpus (cached on disk; generation excluded from timing) -----
    CorpusGen.ensure(spark, benchDir, CorpusGen.Params(nDocs = nDocs))
    // SPARK_GRAFT_CHUNK="i/n" -> process only docs with
    // pmod(xxhash64(doc_id), n) == i. Used by the multi-JVM executor
    // harness: K concurrent pinned JVMs over disjoint chunk sets model
    // K executors (separate heaps/GC) — the north rule's actual shape.
    import org.apache.spark.sql.functions.{col, element_at, lit, pmod, split => fsplit, xxhash64}
    val (docs, media) = sys.env.get("SPARK_GRAFT_CHUNK").filter(_.nonEmpty) match {
      case Some(spec) =>
        val Array(i, n) = spec.split("/").map(_.toInt)
        val staged = java.nio.file.Paths.get(benchDir, s"staged$n")
        // trust the staged layout only behind its versioned sentinel
        // (params + row-group layout) — bare directory existence could
        // be a partial stage or an older layout (advisor, round 3)
        val sentinel = staged.resolve("_staged_complete")
        val expected = s"chunks=$n " + CorpusGen.markerContent(
          CorpusGen.Params(nDocs = nDocs)) + "\n"
        if (java.nio.file.Files.exists(sentinel) &&
            java.nio.file.Files.readString(sentinel) == expected) {
          // storage co-partitioned layout (CorpusWarm STAGE_CHUNKS=n):
          // the executor reads ONLY its partition directories — true
          // Iceberg-style pruning, no scan-and-discard of other chunks
          (spark.read.parquet(s"$staged/docs/chunk=$i"),
            spark.read.parquet(s"$staged/media/chunk=$i"))
        } else {
          // fallback: full scan + hash filter (models the same split,
          // but every executor pays the full-table scan)
          (spark.read.parquet(s"$benchDir/docs")
            .filter(pmod(xxhash64(col("doc_id")), lit(n)) === i),
            spark.read.parquet(s"$benchDir/media")
              .filter(pmod(xxhash64(
                element_at(fsplit(col("media_ref"), "/"), 2)), lit(n)) === i))
        }
      case None =>
        (spark.read.parquet(s"$benchDir/docs"),
          spark.read.parquet(s"$benchDir/media"))
    }
    val docCount = docs.count()

    // --- north-star: extraction pipeline docs/sec ---------------------
    // warm-up pass (JIT + code cache), then N measured passes; the JSON
    // carries best + median + the per-pass list so scaling comparisons
    // are robust to this VM's bursty noise (single multi-minute runs
    // spread up to 2x on identical config — measured rounds 1 and 2).
    // Default 3 so the DRIVER-run bench carries the same methodology
    // the committed tables use (round-2 verdict: measure_runs was 1).
    val measureRuns = sys.env.getOrElse("SPARK_GRAFT_MEASURE_RUNS", "3").toInt
    // SPARK_GRAFT_WARMUP_RUNS: the multi-JVM harness uses 2 — with K
    // executor JVMs launching together, the concurrent heap-pretouch
    // fault storm can outlast a single warm-up pass and bleed into the
    // first measured pass (measured: first 4-exec pass consistently
    // ~20% slow with 1 warmup)
    val warmupRuns = sys.env.getOrElse("SPARK_GRAFT_WARMUP_RUNS", "1").toInt
    // Paired-measurement mode (tools/executor_bench_paired.sh): the
    // orchestrator grants a go-token per measured pass so the single
    // and 4-exec configurations alternate round-by-round inside ONE
    // session, all JVMs alive and warm throughout. Per-round
    // efficiency ratios are then robust to this VM's multi-minute
    // host-steal bursts (a burst degrades both sides of the round it
    // lands in, instead of poisoning whichever configuration happened
    // to be running). No-op unless SPARK_GRAFT_SYNC_DIR is set.
    val syncDir = sys.env.get("SPARK_GRAFT_SYNC_DIR").filter(_.nonEmpty)
    val syncRole = sys.env.getOrElse("SPARK_GRAFT_SYNC_ROLE", "")
    def syncFile(name: String) =
      java.nio.file.Paths.get(syncDir.get, name)
    def syncAwait(r: Int): Unit = syncDir.foreach { _ =>
      while (!java.nio.file.Files.exists(syncFile(s"go_${syncRole}_$r")))
        Thread.sleep(200)
    }
    def syncMark(name: String): Unit = syncDir.foreach { _ =>
      java.nio.file.Files.writeString(syncFile(name), "")
    }
    (1 to warmupRuns).foreach(_ =>
      ExtractionPipeline.extract(docs, media, cpus * 4).count())
    syncMark(s"ready_$syncRole") // barrier: no measuring while peers warm up
    import org.apache.spark.sql.functions.{col, count, lit, size, sum}
    var spanCount = 0L
    val runSecs = (1 to measureRuns).map { r =>
      syncAwait(r)
      val t0 = System.nanoTime()
      // single job, no materialization side-channel: count rows + spans
      val agg = ExtractionPipeline.extract(docs, media, cpus * 4)
        .agg(count(lit(1)), sum(size(col("spans")))).head()
      spanCount = agg.getLong(1)
      val sec = (System.nanoTime() - t0) / 1e9
      syncMark(s"done_${syncRole}_$r")
      sec
    }
    val extractSec = runSecs.min
    val extractSecMedian = runSecs.sorted.apply(runSecs.length / 2)
    // SPARK_GRAFT_SKIP_INVOICE=1 -> extract-only timing (the scaling
    // harness measures the north-star extract stage; the invoice chain
    // has its own timing in full runs)
    val skipInvoice = sys.env.get("SPARK_GRAFT_SKIP_INVOICE").contains("1")
    val t1 = System.nanoTime()
    val invoiceCount = if (skipInvoice) 0L else InvoiceExtract.fromSpans(
      ExtractionPipeline.extract(docs, media, cpus * 4)).count()
    val invoiceSec = if (skipInvoice) 0.0 else (System.nanoTime() - t1) / 1e9

    // --- operator queries over the sf tables --------------------------
    // SPARK_GRAFT_SKIP_QUERIES=1 -> pipeline-only timing (tight scaling
    // trials on a noisy-neighbour box need short runs)
    val skipQueries = sys.env.get("SPARK_GRAFT_SKIP_QUERIES").contains("1")
    // a failed query reports null, NOT its time-to-crash (a crash
    // timed as a fast run would silently flatter the table) and NOT a
    // sentinel like -1.0 (downstream aggregation — the pooled
    // cross-round medians — would average it in silently; advisor,
    // round 5). null makes a naive consumer fail loudly; the total
    // excludes failures either way.
    def timeQuery(
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Option[Double] = {
      val q0 = System.nanoTime()
      try { fn(spark, sfDir).count(); Some((System.nanoTime() - q0) / 1e9) }
      catch { case _: Throwable => None }
    }
    def render(v: Option[Double]): String =
      v.map(s => f"$s%.3f").getOrElse("null")
    // Every query: one COLD pass (Catalyst plan-compile included —
    // stays the cross-round-comparable "queries" number) plus three
    // fresh re-plans under warmed codegen/JIT state. queries_warm is
    // the MEDIAN of the re-plans — the round-4/5 noise-resistance
    // mechanism, extended from the six heavy HOF-lattice queries to
    // the WHOLE suite (round-6 verdict task 7: light queries rode
    // single cold passes, and one host-steal blip — q02's 0.80 s vs
    // 0.22 everywhere else — polluted the committed artifact with no
    // way to self-diagnose). Raw passes ride in queries_warm_runs.
    val timed = (if (skipQueries) Map.empty[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame]
      else SparkEntry.queries).toSeq.sortBy(_._1).map { case (name, fn) =>
      (name, timeQuery(fn), (1 to 3).map(_ => timeQuery(fn)))
    }
    val results = timed.map { case (name, cold, _) => name -> cold }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + render(v) }
      .mkString("{", ",", "}")
    def medianOf(vs: Seq[Option[Double]]): Option[Double] = {
      val ok = vs.flatten.sorted
      if (ok.isEmpty) None else Some(ok(ok.length / 2))
    }
    val warmJson =
      if (timed.isEmpty) ""
      else timed.map { case (k, _, vs) =>
        "\"" + k + "\":" + render(medianOf(vs))
      }.mkString(""","queries_warm":{""", ",", "}") +
        timed.map { case (k, _, vs) =>
          "\"" + k + "\":" + vs.map(render).mkString("[", ",", "]")
        }.mkString(""","queries_warm_runs":{""", ",", "}")
    // --- IVF build/query split (round 6) ------------------------------
    // The materialized index exists for compute-once/probe-many;
    // quantify that split in the committed artifact: one timed
    // ivfBuild over the sf embeddings, then five timed ivfQuery calls
    // (median) — each query reads ONLY the nprobe probed cell
    // partitions, so its latency is the per-probe cost a serving
    // deployment pays, not the build's corpus pass (q35 in "queries"
    // stays the fused one-shot for cross-round comparability).
    val ivfJson = if (skipQueries) "" else {
      try {
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val ivfDir = java.nio.file.Files
          .createTempDirectory("graft_bench_ivf").toString
        val b0 = System.nanoTime()
        val index = graft.ops.SimilarityOps.ivfBuild(
          emb, "vec_id", "embedding", ivfDir)
        val buildSec = (System.nanoTime() - b0) / 1e9
        val qv = emb.filter(col("vec_id") === 0L).select(col("embedding"))
          .head().getSeq[Float](0).map(_.toDouble).toSeq
        val qSecs = (1 to 5).map { _ =>
          val t0 = System.nanoTime()
          graft.ops.SimilarityOps.ivfQuery(spark, index, qv, 10, 4).count()
          (System.nanoTime() - t0) / 1e9
        }
        val qMed = qSecs.sorted.apply(qSecs.length / 2)
        // SQ8 serving (round 7): same query through the quantized
        // scoring pass + exact re-rank — at 100 TB this pass reads
        // ~1/4 the bytes; here it evidences the path's latency parity
        val sqDir = java.nio.file.Files
          .createTempDirectory("graft_bench_sq8").toString
        val sqIndex = graft.ops.SimilarityOps.ivfBuild(
          emb, "vec_id", "embedding", sqDir, quantize = true)
        val sqSecs = (1 to 5).map { _ =>
          val t0 = System.nanoTime()
          graft.ops.SimilarityOps.ivfQuerySQ(
            spark, sqIndex, qv, 10, 4).count()
          (System.nanoTime() - t0) / 1e9
        }
        val sqMed = sqSecs.sorted.apply(sqSecs.length / 2)
        // --- measured ANN recall (round 7) ---------------------------
        // recall@10 against brute-force cosine over a 100-query sample
        // (every 20th vec_id), per nprobe for the IVF family and for
        // the hyperplane LSH — the operating curve a deployment tunes
        // nprobe/bits against. The planted-twin sbt tests prove the
        // MECHANISM; this reports the operating POINT on the real
        // corpus. All paths batched (one plan per configuration).
        val qdf = emb.filter(col("vec_id") % 20 === 0)
          .orderBy(col("vec_id")).limit(100)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("_qvec"))
        import org.apache.spark.sql.functions.{broadcast, round, row_number}
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("cos_sim").desc, col("vec_id").asc)
        def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
          df.select(col("query_id").cast("long"), col("vec_id").cast("long"))
            .collect().groupBy(_.getLong(0)).view
            .mapValues(_.map(_.getLong(1)).toSet).toMap
        val truth = topSets(emb.join(broadcast(qdf))
          .select(col("query_id"), col("vec_id"),
            round(graft.ops.SimilarityOps.cosine(
              col("embedding"), col("_qvec")), 6).as("cos_sim"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10))
        def recallOf(got: Map[Long, Set[Long]]): Double =
          if (truth.isEmpty) 0.0
          else truth.map { case (q, ts) =>
            got.getOrElse(q, Set.empty).intersect(ts).size / 10.0
          }.sum / truth.size
        val ivfRecall = Seq(1, 2, 4, 8, 16).map { np =>
          np -> recallOf(topSets(graft.ops.SimilarityOps.ivfQueryBatch(
            spark, index, qdf, "query_id", "_qvec", 10, np)))
        }
        val lshRecall = recallOf(topSets(graft.ops.SimilarityOps.lshTopKBatch(
          emb, "vec_id", "embedding", qdf, "query_id", "_qvec", 10)))
        // quantization cost at the default operating point: SQ8
        // shortlist (k·rerank = 40) + exact re-rank vs the same
        // full-precision nprobe — the recall delta IS the price of
        // reading 4× fewer candidate bytes
        val sq8Recall = recallOf(topSets(
          graft.ops.SimilarityOps.ivfQuerySQBatch(
            spark, sqIndex, qdf, "query_id", "_qvec", 10, 4)))
        val recallJson = s""","recall":{"k":10,"queries":${truth.size},""" +
          ivfRecall.map { case (np, r) =>
            f""""ivf_nprobe$np":$r%.4f""" }.mkString(",") +
          f""","sq8_nprobe4":$sq8Recall%.4f""" +
          f""","lsh_bits12":$lshRecall%.4f}"""
        graft.ops.SimilarityOps.deleteRecursively(ivfDir)
        graft.ops.SimilarityOps.deleteRecursively(sqDir)
        f""","ivf_build_sec":$buildSec%.3f,"ivf_query_sec_median":$qMed%.3f,"ivf_query_secs":${qSecs.map(s => f"$s%.3f").mkString("[", ",", "]")},"sq8_query_sec_median":$sqMed%.3f,"sq8_query_secs":${sqSecs.map(s => f"$s%.3f").mkString("[", ",", "]")}$recallJson"""
      } catch { case _: Throwable => ""","ivf_build_sec":null""" }
    }
    val total = results.flatMap(_._2).sum + extractSec + invoiceSec
    // headline throughput is MEDIAN-based (round-3 verdict: best-of
    // flatters on this bursty VM — the per-pass spread was 6×);
    // best-pass throughput stays in the JSON as docs_per_sec_best
    val docsPerSec = docCount / extractSecMedian
    val docsPerSecBest = docCount / extractSec
    val spansPerSec = spanCount / extractSecMedian
    // per-pass seconds: the executor harness aggregates 4-JVM passes by
    // PASS INDEX (same measured round across JVMs) — aggregating each
    // JVM's best-of-different-windows overstates concurrent throughput
    val secsArr = runSecs.map(s => f"$s%.3f").mkString("[", ",", "]")
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs$warmJson$ivfJson,"sf":"$sfDir","docs_per_sec":$docsPerSec%.1f,"docs_per_sec_best":$docsPerSecBest%.1f,"spans_per_sec":$spansPerSec%.1f,"extract_sec":$extractSec%.3f,"extract_sec_median":$extractSecMedian%.3f,"extract_secs":$secsArr,"measure_runs":$measureRuns,"invoice_sec":$invoiceSec%.3f,"bench_docs":$docCount,"invoices":$invoiceCount,"cpus":$cpus}"""
    println(json)
    // belt-and-braces for log-prefix scrapers: the same line lands in a file
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach(p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json + "\n"))
    spark.stop()
  }
}
