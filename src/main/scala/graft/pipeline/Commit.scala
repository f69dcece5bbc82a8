package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Idempotent chunked commits + lineage manifest — the engine's
  * Iceberg-semantics stand-in (no Iceberg runtime jar exists in this
  * environment, SURVEY.md env facts; snapshots/commits are emulated
  * over Parquet + an atomic manifest convention we own).
  *
  * The input is deterministically split into `chunks` by
  * pmod(xxhash64(doc_id), chunks). Each chunk is extracted and written
  * to `out/data/chunk=<k>/`, then a manifest record is written via
  * tmp-file + atomic rename to `out/_manifest/chunk-<k>.json`. A killed
  * run resumes by skipping manifested chunks — the cache-hit
  * anti-join semantics of the reference's Redis memoization (reference
  * app/utils/ocr_engine.py:123-135; SURVEY.md J3) at commit granularity:
  * input LEFT ANTI JOIN committed ON chunk(doc_id).
  *
  * Each manifest line carries lineage: run id, source snapshot, chunk,
  * row/span/error counts, wall time (north rule: per-partition lineage
  * + metrics).
  */
object Commit {

  /** Per-chunk lineage record (north rule: source snapshot, partition
    * id, row counts, span-mismatch counters). `mismatchCount` is the
    * number of output docs whose span sequence differs from the
    * `expected` table passed to [[run]] — 0 when no expectation is
    * supplied (the production case; goldens exist in validation runs).
    */
  final case class ChunkManifest(
      runId: String,
      chunk: Int,
      sourceSnapshot: String,
      rowCount: Long,
      spanCount: Long,
      errorCount: Long,
      wallMillis: Long,
      mismatchCount: Long = 0L)

  final case class RunSummary(
      committed: Seq[ChunkManifest],
      skipped: Seq[Int])

  def manifestDir(outDir: String): Path = Paths.get(outDir, "_manifest")

  /** Files.list with the directory stream CLOSED (a bare
    * `Files.list(...).iterator()` leaks one fd per call until GC —
    * reviewer finding; a long-lived driver staging/polling in a loop
    * can crawl toward the fd ulimit).
    */
  private def listDir(dir: Path): Seq[Path] = {
    if (!Files.isDirectory(dir)) return Nil
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Files.walk, deepest-first, stream closed (see [[listDir]]). */
  private def walkDeepestFirst(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.toSeq.reverse finally s.close()
  }

  /** Chunks already committed (resume set). */
  def committedChunks(outDir: String): Map[Int, ChunkManifest] = {
    listDir(manifestDir(outDir))
      .filter(_.getFileName.toString.matches("chunk-\\d+\\.json"))
      .flatMap(p => parseManifest(Files.readString(p)))
      .map(m => m.chunk -> m)
      .toMap
  }

  /** Stage the input partitioned by the chunk key — the
    * Iceberg-partitioned-table stand-in. Without this, every chunk
    * iteration re-scans the FULL docs and media tables and filters by
    * a hash predicate that cannot push down (k full scans — a
    * quadratic read bill at 100 TB with hundreds of chunks). Staged,
    * each iteration partition-prunes to exactly its slice; media is
    * co-partitioned by the chunk of the doc(s) referencing it, so a
    * chunk's payload bytes are read once, by that chunk only — the
    * storage co-partitioning design the media join relies on at scale.
    * One blob referenced from two chunks is duplicated across their
    * partitions (storage for read-locality, same trade Iceberg makes).
    *
    * INCREMENTAL invalidation (round 5; was all-or-nothing): staging
    * reuse is decided PER CHUNK, behind a per-chunk atomic sentinel
    * recording that chunk's content fingerprint — an order-independent
    * sum of per-row hashes plus row count, over the chunk's doc rows
    * and over its referenced media keys (two column-pruned aggregate
    * passes, collected as ≤ `chunks` rows). Appending one document
    * restages exactly the chunk it hashes into; every other chunk's
    * directories are untouched — the reference's per-document cache
    * semantics (ocr_engine.py:123-135) at chunk grain, matching the
    * granularity the commit manifests already resume at. Writes go
    * through dynamic partition overwrite so only dirty partitions are
    * replaced; chunks that vanished from the input are deleted.
    * Crash-safe: a dirty chunk's sentinel is removed BEFORE its
    * directories are rewritten and re-written (tmp + atomic rename)
    * only after, so a run killed mid-staging leaves the chunk dirty,
    * never half-trusted. Payload IMMUTABILITY BY REF is assumed (the
    * object-store/Iceberg contract): the media fingerprint covers the
    * chunk's ref SET, not payload bytes — re-hashing 100 TB of bytes
    * per staging call would defeat the point.
    *
    * Unchanged-input FAST PATH: an atomic `_input_snapshot` records
    * the input file set the sentinels were written under; when it
    * matches, even the fingerprint scan is skipped — the common
    * resume case costs a file listing, not a pass over the corpus.
    */
  def stageByChunk(
      spark: SparkSession,
      docs: DataFrame,
      media: DataFrame,
      outDir: String,
      chunks: Int): (DataFrame, DataFrame) = {
    val stagedRoot = Paths.get(outDir, s"_staged", s"chunks=$chunks")
    val sentDir = stagedRoot.resolve("_chunk_sentinels")
    Files.createDirectories(sentDir)
    // pre-round-5 whole-input sentinel: its presence marks a layout
    // without per-chunk fingerprints — drop it and let every chunk
    // re-fingerprint (their dirs are rewritten on mismatch anyway)
    Files.deleteIfExists(stagedRoot.resolve("_staged_complete"))
    // FAST PATH: if the input FILE SET (docs + media) is byte-for-byte
    // the set the sentinels were written under, the per-chunk
    // fingerprints cannot have changed — skip the content-hash scan
    // entirely. The common resume case (nothing changed) then costs a
    // file listing, not a pass over the corpus; any file-set change
    // falls through to the authoritative per-chunk content
    // fingerprints below. (Parquet writers never rewrite a file in
    // place under the same name, so the file set is a sound
    // unchanged-detector; the content hashes remain the decider
    // whenever it misses.)
    val inputSnap = snapshotId(docs) + "|" + snapshotId(media)
    val snapFile = stagedRoot.resolve("_input_snapshot")
    // in-memory frames have no input files — their snapshot degenerates
    // to a schema hash, which two different datasets share; only
    // file-backed inputs may take the fast path
    val unchangedFastPath =
      docs.inputFiles.nonEmpty && media.inputFiles.nonEmpty &&
      Files.exists(snapFile) && Files.readString(snapFile) == inputSnap
    val chunkOf = pmod(xxhash64(col("doc_id")), lit(chunks))
    if (!unchangedFastPath)
      stageByChunkSlow(docs, media, stagedRoot, sentDir,
        chunkOf, inputSnap, snapFile)
    // explicit schemas: an empty staged table (no media in the corpus)
    // reads back as an empty frame instead of failing schema inference
    Files.createDirectories(stagedRoot.resolve("docs"))
    Files.createDirectories(stagedRoot.resolve("media"))
    val chunkField = org.apache.spark.sql.types.StructField(
      "chunk", org.apache.spark.sql.types.LongType)
    (spark.read.schema(org.apache.spark.sql.types.StructType(
        docs.schema.fields :+ chunkField))
        .parquet(s"$stagedRoot/docs"),
      spark.read.schema(org.apache.spark.sql.types.StructType(
        media.schema.fields :+ chunkField))
        .parquet(s"$stagedRoot/media"))
  }

  /** The invalidation/rewrite half of [[stageByChunk]], run only when
    * the input file set changed (or first staging): per-chunk content
    * fingerprints decide which chunk partitions to rewrite.
    */
  private def stageByChunkSlow(
      docs: DataFrame,
      media: DataFrame,
      stagedRoot: Path,
      sentDir: Path,
      chunkOf: org.apache.spark.sql.Column,
      inputSnap: String,
      snapFile: Path): Unit = {
    // per-chunk content fingerprints: docs rows + referenced media keys
    // bit_xor folds are order-independent and cannot overflow (ANSI
    // mode makes sum() throw). TWO xor folds travel with the count:
    // the plain fold cancels on even-multiplicity swaps ({A,A}→{C,C}
    // keeps xor AND count identical — advisor, round 5), so a second
    // fold over the DISTINCT row hashes (A^B vs C^B differ) closes the
    // pair-cancellation hole; a change fooling all three simultaneously
    // would need equal xor, equal distinct-xor, and equal count.
    val rowHash = xxhash64(to_json(struct(docs.columns.toIndexedSeq.map(col): _*)))
    val docSums = docs.select(chunkOf.as("chunk"), rowHash.as("h"))
      .groupBy(col("chunk"))
      .agg(expr("bit_xor(h)").as("hsum"),
        expr("bit_xor(DISTINCT h)").as("hsumd"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val refChunks = docs
      .select(chunkOf.as("chunk"),
        explode(col("spans.media_ref")).as("media_ref"))
      .filter(col("media_ref") =!= "")
      .distinct()
    val mediaSums = media.select(col("media_ref")).join(refChunks, Seq("media_ref"))
      .select(col("chunk"), xxhash64(col("media_ref")).as("h"))
      .groupBy(col("chunk"))
      .agg(expr("bit_xor(h)").as("hsum"),
        expr("bit_xor(DISTINCT h)").as("hsumd"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // fpv is an EXPLICIT format version (advisor, round 6): any change
    // to the fingerprint recipe or the snapshotId fields invalidates
    // every sentinel written by prior releases, and the first run
    // after an upgrade then pays a ONE-TIME full re-stage of all
    // chunks — intentional (stale reuse would be worse), but operators
    // should see a version bump in the sentinel rather than diagnose
    // the rewrite as staleness. Bump fpv whenever the recipe changes
    // (round 5 changed it silently: second DISTINCT fold + len/mtime
    // in snapshotId).
    def fingerprint(k: Long): String = {
      val (dh, dhd, dn) = docSums.getOrElse(k, (0L, 0L, 0L))
      val (mh, mhd, mn) = mediaSums.getOrElse(k, (0L, 0L, 0L))
      s"fpv=7 docs:$dh:$dhd:$dn media:$mh:$mhd:$mn layout=rowgroup4m"
    }
    def sentinelPath(k: Long) = sentDir.resolve(s"chunk-$k")
    val live = docSums.keySet
    val sentineled = listDir(sentDir)
      .map(_.getFileName.toString)
      .collect { case s if s.matches("chunk-\\d+") => s.drop(6).toLong }
      .toSet
    def chunkDirs(k: Long) =
      Seq(stagedRoot.resolve(s"docs/chunk=$k"), stagedRoot.resolve(s"media/chunk=$k"))
    def deleteDir(p: Path): Unit =
      if (Files.isDirectory(p)) walkDeepestFirst(p).foreach(Files.delete)
    val dirty = live.filter { k =>
      !(Files.exists(sentinelPath(k)) &&
        Files.readString(sentinelPath(k)) == fingerprint(k))
    }.toSeq.sorted
    // the input changed: yesterday's snapshot no longer vouches for
    // the sentinels — remove it BEFORE rewriting so a crash mid-stage
    // cannot leave a stale fast-path marker
    Files.deleteIfExists(snapFile)
    // chunks staged before (sentinel or leftover dir) but gone from
    // the input: remove, or a pruned read would resurrect stale docs
    val dirIds = Seq("docs", "media").flatMap { t =>
      listDir(stagedRoot.resolve(t)).map(_.getFileName.toString)
        .collect { case s if s.matches("chunk=\\d+") => s.drop(6).toLong }
    }.toSet
    ((sentineled ++ dirIds) -- live).foreach { k =>
      Files.deleteIfExists(sentinelPath(k))
      chunkDirs(k).foreach(deleteDir)
    }
    if (dirty.nonEmpty) {
      // invalidate first (crash ⇒ still dirty), clear the partitions,
      // then rewrite ONLY the dirty partitions (dynamic overwrite)
      dirty.foreach { k =>
        Files.deleteIfExists(sentinelPath(k))
        chunkDirs(k).foreach(deleteDir)
      }
      docs.withColumn("chunk", chunkOf)
        .filter(col("chunk").isin(dirty: _*))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("chunk")
        .parquet(s"$stagedRoot/docs")
      // 4 MB row groups: scan-split = kernel-scheduling unit (see
      // CorpusGen.write / ExtractionPipeline session factory)
      media.join(refChunks.filter(col("chunk").isin(dirty: _*)),
          Seq("media_ref"), "inner")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("chunk")
        .option("parquet.block.size", s"${4 << 20}")
        .parquet(s"$stagedRoot/media")
      dirty.foreach { k =>
        val tmp = sentDir.resolve(s".chunk-$k.tmp")
        Files.writeString(tmp, fingerprint(k))
        Files.move(tmp, sentinelPath(k),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    // all sentinels now reflect THIS input — arm the fast path
    val tmp = stagedRoot.resolve("._input_snapshot.tmp")
    Files.writeString(tmp, inputSnap)
    Files.move(tmp, snapFile,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** A4 — progress % (reference models.py ProcessingStatus.progress ∈
    * [0,100] + the polling endpoint): task-level progress from a
    * SparkListener. Attach around a run; `percent` is completed/total
    * tasks over all submitted stages — the Spark-native equivalent of
    * the reference's per-file progress callback.
    */
  final class TaskProgressListener
      extends org.apache.spark.scheduler.SparkListener {
    private val total = new java.util.concurrent.atomic.AtomicLong
    private val done = new java.util.concurrent.atomic.AtomicLong
    override def onStageSubmitted(
        s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
      total.addAndGet(s.stageInfo.numTasks.toLong)
    // only SUCCESSFUL task ends count (advisor, round 4): failed/killed
    // attempts re-run and would double-count; speculative duplicates
    // and stage resubmission can still nudge done past total, so
    // percent clamps to 100 rather than overshooting the poll surface.
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (t.reason == org.apache.spark.Success) done.incrementAndGet()
    def completedTasks: Long = done.get
    def totalTasks: Long = total.get
    def percent: Double =
      if (total.get == 0L) 0.0
      else math.min(100.0, done.get * 100.0 / total.get)
  }

  /** Chunk-granularity progress record, written atomically to
    * `_manifest/progress.json` after every chunk commit — a resumable
    * run's poll surface (the reference polls task progress %,
    * main.py:311-317; here the unit is the chunk, the same grain the
    * lineage manifests use).
    */
  def writeProgress(outDir: String, runId: String, done: Int, total: Int): Unit = {
    val pct = if (total == 0) 100.0 else done * 100.0 / total
    val json =
      s"""{"runId":"$runId","chunksDone":$done,"chunksTotal":$total,""" +
        f""""percent":$pct%.1f}"""
    val dir = manifestDir(outDir)
    val tmp = dir.resolve(".progress.json.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, dir.resolve("progress.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def readProgress(outDir: String): Option[Double] = {
    val p = manifestDir(outDir).resolve("progress.json")
    if (!Files.exists(p)) None
    else """"percent":([0-9.]+)""".r.findFirstMatchIn(Files.readString(p))
      .map(_.group(1).toDouble)
  }

  /** Run the extraction chunk-by-chunk with idempotent commits.
    *
    * The media join is `ExtractionPipeline.extract`'s size-gated
    * broadcast of the bytes-free task metadata. `chunks` bounds what
    * that broadcast holds: each chunk reads only its partition-pruned
    * slice of the staged input, so raising `chunks` shrinks the
    * metadata side of every join until it fits under the cap.
    *
    * @param failAfterChunks test hook — throw after committing this many
    *        chunks (simulates a killed run for the resume test)
    */
  def run(
      spark: SparkSession,
      docs: DataFrame,
      media: DataFrame,
      outDir: String,
      runId: String,
      chunks: Int = 4,
      partitions: Int = 32,
      failAfterChunks: Int = Int.MaxValue,
      expected: Option[DataFrame] = None): RunSummary = {
    require(chunks > 0)
    Files.createDirectories(manifestDir(outDir))
    val sourceSnapshot = snapshotId(docs)
    val already = committedChunks(outDir)
    val (stagedDocs, stagedMedia) =
      stageByChunk(spark, docs, media, outDir, chunks)
    val committed = scala.collection.mutable.ArrayBuffer.empty[ChunkManifest]
    var done = 0
    writeProgress(outDir, runId, already.size, chunks)
    (0 until chunks).foreach { k =>
      if (already.contains(k)) ()
      else {
        if (done >= failAfterChunks)
          throw new RuntimeException(s"injected failure before chunk $k")
        val t0 = System.nanoTime()
        // partition-pruned reads: chunk k touches only its own slice of
        // docs AND media (PlanSpec asserts the PartitionFilters)
        val chunkDocs = stagedDocs.filter(col("chunk") === lit(k)).drop("chunk")
        val chunkMedia = stagedMedia.filter(col("chunk") === lit(k)).drop("chunk")
        val out = ExtractionPipeline.extract(chunkDocs, chunkMedia, partitions)
        out.write.mode("overwrite").parquet(s"$outDir/data/chunk=$k")
        // counts from the written files (what actually committed)
        val written = spark.read.parquet(s"$outDir/data/chunk=$k")
        val stats = written.select(
          count(lit(1)).as("rows"),
          coalesce(sum(size(col("spans"))), lit(0L)).as("spans"),
          coalesce(sum(size(filter(col("spans"), s => s("kind") === lit("error")))),
            lit(0L)).as("errors")).head()
        // span-mismatch counter (north rule lineage field): committed
        // docs whose span sequence differs from the expectation —
        // only the chunk's own rows join, so the check is pruned too
        val mismatches = expected.map { g =>
          written.select(col("doc_id"), col("spans").as("a"))
            .join(g.select(col("doc_id"), col("spans").as("b")),
              Seq("doc_id"), "left")
            .where(not(col("a") <=> col("b"))).count()
        }.getOrElse(0L)
        val m = ChunkManifest(runId, k, sourceSnapshot,
          stats.getLong(0), stats.getLong(1), stats.getLong(2),
          (System.nanoTime() - t0) / 1000000L, mismatches)
        writeManifest(outDir, m)
        committed += m
        done += 1
        writeProgress(outDir, runId, already.size + done, chunks)
      }
    }
    RunSummary(committed.toSeq, already.keys.toSeq.sorted)
  }

  /** Read the committed output table (all chunks). */
  def readOutput(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/data")

  // -------------------------------------------------------------------
  // S12 — maintenance (temp-file GC twin, reference
  // app/utils/maintenance.py:13-58): vacuum orphaned data dirs from
  // aborted writes, compact chunk manifests into a snapshot summary.
  // -------------------------------------------------------------------

  /** Delete `data/chunk=k` directories that have NO manifest entry —
    * leftovers of a write that died before its commit record. Returns
    * the vacuumed chunk ids. Never touches manifested chunks.
    */
  def vacuum(outDir: String): Seq[Int] = {
    val dataDir = Paths.get(outDir, "data")
    if (!Files.isDirectory(dataDir)) return Nil
    val committed = committedChunks(outDir).keySet
    val orphans = listDir(dataDir)
      .filter(p => p.getFileName.toString.matches("chunk=\\d+"))
      .filter(p => !committed.contains(p.getFileName.toString.drop(6).toInt))
    orphans.foreach(dir => walkDeepestFirst(dir).foreach(Files.delete))
    orphans.map(_.getFileName.toString.drop(6).toInt).sorted
  }

  /** Write `_manifest/snapshot.json` aggregating all chunk manifests —
    * the Iceberg-snapshot stand-in a downstream reader checks instead
    * of N chunk files.
    */
  def compact(outDir: String): ChunkManifest = {
    val all = committedChunks(outDir).values.toSeq.sortBy(_.chunk)
    require(all.nonEmpty, "nothing committed")
    val total = ChunkManifest(
      runId = all.map(_.runId).distinct.mkString("+"),
      chunk = -1,
      sourceSnapshot = all.map(_.sourceSnapshot).distinct.mkString("+"),
      rowCount = all.map(_.rowCount).sum,
      spanCount = all.map(_.spanCount).sum,
      errorCount = all.map(_.errorCount).sum,
      wallMillis = all.map(_.wallMillis).sum,
      mismatchCount = all.map(_.mismatchCount).sum)
    val json =
      s"""{"runId":"${total.runId}","chunks":${all.length},""" +
        s""""sourceSnapshot":"${total.sourceSnapshot}","rowCount":${total.rowCount},""" +
        s""""spanCount":${total.spanCount},"errorCount":${total.errorCount},""" +
        s""""mismatchCount":${total.mismatchCount},"wallMillis":${total.wallMillis}}"""
    val tmp = manifestDir(outDir).resolve(".snapshot.json.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, manifestDir(outDir).resolve("snapshot.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    total
  }

  /** Source snapshot id: stable fingerprint of the input's files/shape —
    * recorded in lineage so a manifest can be traced to its input.
    *
    * Each file contributes path + length + modificationTime (advisor,
    * round 5): the path set alone misses a file rewritten IN PLACE
    * under the same name (non-Spark tooling, object-store overwrite,
    * same-name compaction), and the `_input_snapshot` fast paths skip
    * the authoritative content fingerprints when the snapshot matches —
    * so the cheap path must itself detect in-place rewrites. Statuses
    * come from ONE listStatus per parent directory (not one RPC per
    * file — a 100-TB table has many thousands of files).
    */
  def snapshotId(docs: DataFrame): String = {
    val files = docs.inputFiles.sorted
    val h = java.security.MessageDigest.getInstance("MD5")
    if (files.isEmpty) h.update(docs.schema.catalogString.getBytes("UTF-8"))
    else {
      val conf = docs.sparkSession.sparkContext.hadoopConfiguration
      // keys normalized through Path.toString on BOTH sides: inputFiles
      // yields file:///x URIs, FileStatus.getPath file:/x — a raw-string
      // lookup would silently miss every file
      val statusByPath: Map[String, (Long, Long)] = files
        .map(f => new org.apache.hadoop.fs.Path(f))
        .groupBy(_.getParent)
        .flatMap { case (parent, _) =>
          try parent.getFileSystem(conf).listStatus(parent).toSeq
            .map(s => s.getPath.toString ->
              ((s.getLen, s.getModificationTime)))
          catch { case _: java.io.IOException => Nil }
        }
      files.foreach { f =>
        val key = new org.apache.hadoop.fs.Path(f).toString
        val (len, mtime) = statusByPath.getOrElse(key, (-1L, -1L))
        h.update(s"$f|$len|$mtime".getBytes("UTF-8"))
      }
    }
    h.digest().map("%02x".format(_)).mkString.take(16)
  }

  private def writeManifest(outDir: String, m: ChunkManifest): Unit = {
    val json =
      s"""{"runId":"${m.runId}","chunk":${m.chunk},"sourceSnapshot":"${m.sourceSnapshot}",""" +
        s""""rowCount":${m.rowCount},"spanCount":${m.spanCount},""" +
        s""""errorCount":${m.errorCount},"mismatchCount":${m.mismatchCount},""" +
        s""""wallMillis":${m.wallMillis}}"""
    val dir = manifestDir(outDir)
    val tmp = dir.resolve(s".chunk-${m.chunk}.json.tmp")
    Files.writeString(tmp, json)
    // Single-writer is the contract (as in Iceberg, where optimistic
    // manifest locking enforces it); if a concurrent run races us to
    // the same chunk anyway, losing the rename is NON-FATAL — the
    // winner committed the same deterministic output, so discard our
    // tmp record instead of dying after the data write. (The data-dir
    // write itself is not multi-writer-safe: don't run two
    // uncoordinated writers against one outDir.)
    try Files.move(tmp, dir.resolve(s"chunk-${m.chunk}.json"),
      StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
    }
  }

  // mismatchCount group optional: manifests written before round 4
  // lack the field and must keep parsing (read as 0)
  private val manifestPattern =
    ("""\{"runId":"([^"]*)","chunk":(\d+),"sourceSnapshot":"([^"]*)",""" +
      """"rowCount":(\d+),"spanCount":(\d+),"errorCount":(\d+),""" +
      """(?:"mismatchCount":(\d+),)?"wallMillis":(\d+)\}""").r

  def parseManifest(json: String): Option[ChunkManifest] = json.trim match {
    case manifestPattern(runId, chunk, snap, rows, spans, errs, mism, wall) =>
      Some(ChunkManifest(runId, chunk.toInt, snap, rows.toLong, spans.toLong,
        errs.toLong, wall.toLong,
        Option(mism).map(_.toLong).getOrElse(0L)))
    case _ => None
  }
}
