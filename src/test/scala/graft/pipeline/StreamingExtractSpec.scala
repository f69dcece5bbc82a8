package graft.pipeline

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.fixtures.CorpusGen

/** §2.9 — streaming ingestion: docs arriving in waves stream through
  * the extraction dataflow; output accumulates to exactly the golden
  * spans; a restart with the same checkpoint processes only the new
  * files (no duplicates, no gaps).
  */
class StreamingExtractSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("two-wave streaming extraction matches goldens with no duplicates across restart") {
    val corpus = Files.createTempDirectory("graft_stream_corpus").toString
    CorpusGen.write(spark, corpus,
      CorpusGen.Params(nDocs = 120, kinds = Seq("text", "html", "pdf")))
    val media = spark.read.parquet(s"$corpus/media")
    val golden = spark.read.parquet(s"$corpus/golden_spans")

    // stream dir fed in waves with the corpus' own parquet part files
    val streamDir = Files.createTempDirectory("graft_stream_in").toString
    val outDir = Files.createTempDirectory("graft_stream_out").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt").toString
    val parts = new java.io.File(s"$corpus/docs").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length >= 2, "need at least two part files for two waves")
    val (wave1, wave2) = parts.splitAt(parts.length / 2)

    wave1.foreach(f => Files.copy(f.toPath,
      Paths.get(streamDir, f.getName)))
    val q1 = StreamingExtract.run(spark, streamDir, media, outDir, ckpt,
      partitions = 4)
    q1.awaitTermination()
    val afterWave1 = StreamingExtract.readOutput(spark, outDir).count()
    val wave1Docs = spark.read.parquet(
      wave1.map(_.getPath): _*).count()
    assert(afterWave1 == wave1Docs)

    // second wave + RESTARTED query on the same checkpoint: only the
    // new files process (the committed epochs and seen files skip)
    wave2.foreach(f => Files.copy(f.toPath,
      Paths.get(streamDir, f.getName)))
    val q2 = StreamingExtract.run(spark, streamDir, media, outDir, ckpt,
      partitions = 4)
    q2.awaitTermination()

    val out = StreamingExtract.readOutput(spark, outDir)
      .select(col("doc_id"), col("spans"))
    assert(out.count() == golden.count(), "every doc exactly once")
    val mismatches = out.select(col("doc_id"), col("spans").as("a"))
      .join(golden.select(col("doc_id"), col("spans").as("b")),
        Seq("doc_id"), "full_outer")
      .where(not(col("a") <=> col("b"))).count()
    assert(mismatches == 0L)
  }

  test("dedup guard drops wave-2 near-dups and exact dups of committed wave-1 docs on arrival") {
    import spark.implicits._
    import graft.model.{Doc, Span}
    val streamDir = Files.createTempDirectory("graft_guard_in").toString
    val outDir = Files.createTempDirectory("graft_guard_out").toString
    val ckpt = Files.createTempDirectory("graft_guard_ckpt").toString
    val emptyMedia = Seq.empty[graft.model.MediaBlob].toDF()
    def textDoc(id: String, text: String) =
      Doc(id, Seq(Span("text", text, "", 0)))
    val t1 = (0 until 60).map(i => s"alpha$i").mkString(" ")
    val t2 = (0 until 60).map(i => s"bravo$i").mkString(" ")
    val t2near = ((0 until 59).map(i => s"bravo$i") :+ "charlie").mkString(" ")
    val t3 = (0 until 60).map(i => s"delta$i").mkString(" ")
    // scenario sanity (deterministic — xxhash64 over fixed tokens): the
    // planted near-dup must sit within the guard radius, the fresh doc
    // far outside it. Measured through the guard's OWN fingerprint
    // (docFingerprint covers texts + media_refs), not raw simhash.
    def fpOf(d: Doc): Long = Seq(d).toDF()
      .select(StreamingExtract.docFingerprint(col("spans")))
      .as[Long].head()
    val ham2near = java.lang.Long.bitCount(
      fpOf(textDoc("x", t2)) ^ fpOf(textDoc("x", t2near)))
    val ham23 = java.lang.Long.bitCount(
      fpOf(textDoc("x", t2)) ^ fpOf(textDoc("x", t3)))
    assert(ham2near <= 12, s"planted near-dup hamming $ham2near > guard radius")
    assert(ham23 > 12, s"fresh doc hamming $ham23 inside guard radius")

    // wave 1: two distinct docs + an IN-BATCH exact dup (keeper = min
    // id) + a MEDIA-ONLY doc (no inline text — its fingerprint must
    // come from the ref, not collapse with other media-only docs)
    Seq(textDoc("w1-a", t1), textDoc("w1-b", t2), textDoc("w1-c", t1),
        Doc("w1-img1", Seq(Span("png", "", "m1.png", 0))))
      .toDF().coalesce(1).write.mode("append").parquet(streamDir)
    // media-only docs must NOT collide: their fingerprints differ via
    // the refs (deterministic precondition, like ham23 above)
    def imgDoc(id: String, ref: String) =
      Doc(id, Seq(Span("png", "", ref, 0)))
    val hamImgs = java.lang.Long.bitCount(
      fpOf(imgDoc("x", "m1.png")) ^ fpOf(imgDoc("x", "m2.png")))
    assert(hamImgs > 12, s"media-only docs collide at hamming $hamImgs")
    StreamingExtract.run(spark, streamDir, emptyMedia, outDir, ckpt,
      partitions = 4, dedupGuard = true,
      guardMaxHamming = 12, guardBandBits = 4).awaitTermination()
    val after1 = StreamingExtract.readOutput(spark, outDir)
      .select("doc_id").as[String].collect().toSet
    assert(after1 == Set("w1-a", "w1-b", "w1-img1"),
      s"in-batch exact dup must keep min doc_id: $after1")

    // wave 2: an exact dup of w1-a, a near-dup of w1-b (one of 60
    // tokens changed), a dup media-only doc (same ref as w1-img1), a
    // DISTINCT media-only doc, and a genuinely new text doc — only the
    // last two may pay extraction and commit
    Seq(textDoc("w2-dup", t1), textDoc("w2-near", t2near),
        textDoc("w2-new", t3), imgDoc("w2-img-dup", "m1.png"),
        imgDoc("w2-img2", "m2.png"))
      .toDF().coalesce(1).write.mode("append").parquet(streamDir)
    StreamingExtract.run(spark, streamDir, emptyMedia, outDir, ckpt,
      partitions = 4, dedupGuard = true,
      guardMaxHamming = 12, guardBandBits = 4).awaitTermination()
    val after2 = StreamingExtract.readOutput(spark, outDir)
      .select("doc_id").as[String].collect().toSet
    assert(after2 == Set("w1-a", "w1-b", "w1-img1", "w2-new", "w2-img2"),
      after2.toString)
    // the guard's committed hash table covers exactly the accepted docs
    assert(StreamingExtract.readCommittedHashes(spark, outDir).count() == 5L)

    // wave 3 (round 7): two IN-BATCH near-dup twins arriving together
    // — the in-batch closure must commit exactly one (the min doc_id);
    // a fresh doc in the same batch survives. Cross-batch behavior is
    // already pinned above and must not change.
    val t4 = (0 until 60).map(i => s"echo$i").mkString(" ")
    val t4near = ((0 until 59).map(i => s"echo$i") :+ "foxtrot")
      .mkString(" ")
    val t5 = (0 until 60).map(i => s"golf$i").mkString(" ")
    val ham4 = java.lang.Long.bitCount(
      fpOf(textDoc("x", t4)) ^ fpOf(textDoc("x", t4near)))
    assert(ham4 >= 1 && ham4 <= 12,
      s"planted in-batch near pair hamming $ham4 outside (0, radius]")
    // every wave-3 doc must be far from every committed fingerprint
    // AND the fresh doc far from the twins (deterministic preconditions)
    val committedFps = Seq(t1, t2, t3).map(t => fpOf(textDoc("x", t))) ++
      Seq(fpOf(imgDoc("x", "m1.png")), fpOf(imgDoc("x", "m2.png")))
    Seq(t4, t4near, t5).foreach { t =>
      val f = fpOf(textDoc("x", t))
      committedFps.foreach(c => assert(
        java.lang.Long.bitCount(f ^ c) > 12, s"wave-3 doc near committed"))
    }
    Seq(t4, t4near).foreach(t => assert(java.lang.Long.bitCount(
      fpOf(textDoc("x", t5)) ^ fpOf(textDoc("x", t))) > 12))
    Seq(textDoc("w3-a", t4), textDoc("w3-b", t4near), textDoc("w3-new", t5))
      .toDF().coalesce(1).write.mode("append").parquet(streamDir)
    StreamingExtract.run(spark, streamDir, emptyMedia, outDir, ckpt,
      partitions = 4, dedupGuard = true,
      guardMaxHamming = 12, guardBandBits = 4).awaitTermination()
    val after3 = StreamingExtract.readOutput(spark, outDir)
      .select("doc_id").as[String].collect().toSet
    assert(after3 == after2 ++ Set("w3-a", "w3-new"), after3.toString)
    assert(StreamingExtract.readCommittedHashes(spark, outDir).count() == 7L)
  }
}
