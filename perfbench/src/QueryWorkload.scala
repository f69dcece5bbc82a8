package perfbench

import java.nio.file.Paths
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.ops.SimilarityOps

/** `queries`: read-mostly analytics over the bundled sf tables. One
  * cold round of the 42 `SparkEntry.queries` in seed-permuted order (in
  * a fresh JVM, so plan, codegen and JIT costs are in it), then passes
  * of a closed-loop IVF serving block: single `ivfQuery` calls on seeded
  * query vectors, with an `ivfAppend` of a small seeded delta every
  * `IvfAppendEvery` queries. Every query result is checked against its
  * reference digest and every `ivfQuery` must return k distinct ids. No
  * extraction kernel runs here.
  *
  * Warm rounds of the 42 queries are left out: one costs ~18 s on four
  * cores, which the benchmark's run budget cannot hold.
  */
final case class QueryWorkload(spark: SparkSession, a: PerfBench.Args, r: PerfBench.Report,
    listener: StageMetrics, sessionS: Double) {
  import PerfBench._
  import spark.implicits._

  private val work = Paths.get(a.work)
  private val queries = SparkEntry.queries
  private val ref = readRef(a.ref)

  private final case class Block(ivfQueryS: Seq[Double], appendS: Seq[Double],
      probed: Seq[(SimilarityOps.IvfIndex, Seq[Double])])
  private final case class Pass(i: Int, traced: Boolean, wallS: Double, netS: Double, cpuS: Double,
      ivfQueryS: Seq[Double], appendS: Seq[Double], rowsExamined: Seq[Double])

  def run(): Unit = {
    val names = queries.keys.toSeq.sorted
    val missing = names.filterNot(ref.contains)
    require(missing.isEmpty, s"no reference digest for ${missing.mkString(",")}")
    val emb = spark.read.parquet(s"${a.data}/embeddings.parquet")

    val builds = (0 until SetupReps).map { i =>
      Timed(group(spark, "setup")(
        SimilarityOps.ivfBuild(emb, "vec_id", "embedding", work.resolve(s"ivf-$i").toString)))
    }
    val index = builds.last.value
    r.e2e("setup_s") = (sessionS + median(builds.map(_.netS)), "s")
    r.named("setup_cpu_s") = (median(builds.map(_.cpuS)), "s")

    // seeded inputs: query order, IVF query vectors, delta vectors, recall sample
    val rng = new Random(a.seed)
    val order = rng.shuffle(names)
    val vecs = group(spark, "setup") {
      emb.select(col("vec_id"), col("embedding"), col("label"))
        .as[(Long, Seq[Float], Int)].collect().sortBy(_._1)
    }
    def near(): (Seq[Float], Int) = {
      val (_, v, label) = vecs(rng.nextInt(vecs.length))
      (v.map(x => (x + rng.nextGaussian() * 0.05).toFloat), label)
    }
    val queryVecs = Seq.fill(200)(near()._1.map(_.toDouble))
    var nextDeltaId = vecs.map(_._1).max + 1
    def delta() = Seq.fill(IvfDeltaRows) {
      val (v, label) = near(); nextDeltaId += 1; (nextDeltaId, v, label)
    }.toDF("vec_id", "embedding", "label")
    val sampleIds = rng.shuffle(vecs.map(_._1).toSeq).take(RecallSample)
    val recall = if (a.trace) group(spark, "recall")(recallAt10(emb, index, sampleIds)) else 0.0
    println(s"input sf_dir ${a.data} embeddings ${vecs.length} dim ${vecs.head._2.length} " +
      s"queries ${names.length} ivf_queries_per_pass $IvfQueriesPerPass " +
      s"append_every $IvfAppendEvery delta_rows $IvfDeltaRows recall_sample ${sampleIds.length}")
    println(s"order ${order.mkString(",")}")

    var planS = 0.0
    def runQuery(q: String, forcePlan: Boolean): Double = {
      var ok = false
      val t = Timed(Trace.span(s"SparkEntry.queries.$q") {
        try {
          val df = queries(q)(spark, a.data)
          if (forcePlan) planS += Timed(df.queryExecution.executedPlan).wallS
          ok = digest(df) == ref(q)
        } catch { case e: Exception => r.problems += s"$q threw ${e.getClass.getSimpleName}: ${e.getMessage}" }
      })
      r.attempt(1, if (ok) 0 else 1, s"$q: result digest differs from the reference")
      t.wallS
    }

    val cellCache = scala.collection.mutable.Map.empty[Seq[String], Map[Int, Long]]
    def rowsExamined(idx: SimilarityOps.IvfIndex, qv: Seq[Double]): Double = {
      val cells = cellCache.getOrElseUpdate(idx.deltas, group(spark, "probe") {
        SimilarityOps.ivfCellStats(spark, idx).as[(Int, Long)].collect().toMap
      })
      val probes = idx.centroids.zipWithIndex
        .map { case (c, i) => (SimilarityOps.dotScala(qv, c), i) }
        .sortWith((x, y) => if (x._1 != y._1) x._1 > y._1 else x._2 < y._2)
        .take(IvfProbes).map(_._2)
      probes.map(cells.getOrElse(_, 0L)).sum.toDouble / IvfK
    }

    def servingBlock(p: Int): Block = {
      var idx = index.copy(deltas = Nil)
      val qs, apps = ArrayBuffer.empty[Double]
      val probed = ArrayBuffer.empty[(SimilarityOps.IvfIndex, Seq[Double])]
      (0 until IvfQueriesPerPass).foreach { j =>
        if (j > 0 && j % IvfAppendEvery == 0) {
          val d = delta()
          val t = Timed(Trace.span("SimilarityOps.ivfAppend")(SimilarityOps.ivfAppend(idx, d)))
          idx = t.value
          apps += t.wallS
        }
        val qv = queryVecs((p * IvfQueriesPerPass + j) % queryVecs.length)
        var ok = false
        val t = Timed(Trace.span("SimilarityOps.ivfQuery") {
          try {
            val ids = SimilarityOps.ivfQuery(spark, idx, qv, IvfK, IvfProbes)
              .select(col("vec_id")).as[Long].collect()
            ok = ids.length == IvfK && ids.distinct.length == IvfK
          } catch { case e: Exception => r.problems += s"ivfQuery threw $e" }
        })
        r.attempt(1, if (ok) 0 else 1, s"ivfQuery in pass $p did not return $IvfK distinct ids")
        qs += t.wallS
        probed += ((idx, qv))
      }
      Block(qs.toSeq, apps.toSeq, probed.toSeq)
    }

    Trace.enabled = a.trace
    val cold = Timed(Trace.pass("cold")(group(spark, "cold")(order.map(q => q -> runQuery(q, a.trace)).toMap)))
    Trace.enabled = false
    // a traced run makes five passes, untraced and traced in turn
    // (U T U T U), so each traced pass has untraced ones on both sides
    val total = if (a.trace) 5 else passCount(a.seconds, nominalS = 10, min = 3)
    val passes = ArrayBuffer.empty[Pass]
    (1 to total).foreach { i =>
      val traced = a.trace && i % 2 == 0
      Trace.enabled = traced
      val t = Timed(Trace.pass(s"p$i")(group(spark, s"pass-$i")(servingBlock(i))))
      Trace.enabled = false
      val examined = if (traced) t.value.probed.map { case (idx, qv) => rowsExamined(idx, qv) } else Nil
      passes += Pass(i, traced, t.wallS, t.netS, t.cpuS, t.value.ivfQueryS, t.value.appendS, examined)
      println(f"pass $i traced $traced wall_s ${t.wallS}%.3f steal_s ${t.stealS}%.3f cpu_s ${t.cpuS}%.3f")
    }

    val untraced = passes.filterNot(_.traced)
    val passS = median(untraced.map(_.netS))
    r.e2e("pass_s") = (passS, "s")
    r.e2e("cpu_s") = (median(untraced.map(_.cpuS)), "s")
    r.e2e("cold_pass_s") = (cold.netS, "s")
    r.e2e("cold_cpu_s") = (cold.cpuS, "s")
    val coldExec = cold.value.values.toSeq
    val ivfQ = untraced.flatMap(_.ivfQueryS)
    r.named("query_cold_suite_s") = (coldExec.sum, "s")
    r.named("query_cold_p50_s") = (median(coldExec), "s")
    r.named("query_cold_p90_s") = (pct(coldExec, 0.9), "s")
    r.named("ivf_query_p50_s") = (median(ivfQ), "s")
    r.named("ivf_query_p90_s") = (pct(ivfQ, 0.9), "s")
    r.named("ivf_append_s") = (median(untraced.flatMap(_.appendS)), "s")
    if (a.trace) r.named("ivf_recall_at10") = (recall, "ratio")
    r.named("pass_wall_s") = (median(untraced.map(_.wallS)), "s")
    r.named("cold_pass_wall_s") = (cold.wallS, "s")
    r.named("cold_steal_s") = (cold.stealS, "s")
    r.named("passes") = (passes.length.toDouble, "count")

    if (a.trace) {
      val L = r.layer
      names.foreach(q => L(s"Queries.$q.s") = (cold.value(q), "s"))
      L("Queries.plan_s") = (planS, "s")
      L("SimilarityOps.ivfBuild.s") = (median(builds.map(_.wallS)), "s")
      L("SimilarityOps.ivfQuery.s") = (median(passes.flatMap(_.ivfQueryS).toSeq), "s")
      L("SimilarityOps.ivfAppend.s") = (median(passes.flatMap(_.appendS).toSeq), "s")
      L("SimilarityOps.ivf.rows_examined_per_result") = (median(passes.flatMap(_.rowsExamined).toSeq), "ratio")
      L("SimilarityOps.ivf.recall_at10") = (recall, "ratio")
      sparkLayers(spark, listener, L, passes.map(p => s"pass-${p.i}").toSeq)
      traceOverhead(r, passes.map(p => (p.traced, p.netS)).toSeq)
      // the share of a traced serving pass that Spark spends executing
      // (top-level SQL executions and stray jobs of the pass's job group);
      // the rest is driver-side planning and index bookkeeping
      L("trace.layer_sum_over_pass") = (median(passes.filter(_.traced).map { p =>
        listener.timeline(spark.sparkContext, s"pass-${p.i}").map(_.durS).sum / p.wallS
      }.toSeq), "ratio")
    }
  }

  /** Mean share of the brute-force cosine top 10 that the index's
    * top 10 recovers, over the sampled corpus vectors.
    */
  private def recallAt10(emb: org.apache.spark.sql.DataFrame, index: SimilarityOps.IvfIndex,
      sampleIds: Seq[Long]): Double = {
    val qdf = emb.filter(col("vec_id").isin(sampleIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("_qvec"))
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select(col("query_id").cast("long"), col("vec_id").cast("long"))
        .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    val truth = topSets(emb.crossJoin(broadcast(qdf))
      .select(col("query_id"), col("vec_id"),
        round(SimilarityOps.cosine(col("embedding"), col("_qvec")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= IvfK))
    val got = topSets(SimilarityOps.ivfQueryBatch(spark, index, qdf, "query_id", "_qvec", IvfK, IvfProbes))
    truth.map { case (q, ts) => got.getOrElse(q, Set.empty).intersect(ts).size.toDouble / IvfK }
      .sum / math.max(1, truth.size)
  }
}
