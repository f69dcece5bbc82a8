package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Task metrics summed per Spark job group. The benchmark tags every
  * action it issues with a job group (one per cut or pass), so each
  * measured wall time has its executor CPU, GC, task count and bytes
  * beside it.
  *
  * It also keeps each group's timeline of Spark work: every top-level
  * SQL execution, and every job that runs outside one (Parquet schema
  * inference, for one). The driver thread issues them one at a time, so
  * they do not overlap, and together they show how much of a call's
  * wall time Spark spent executing and where in the program it was
  * asked to.
  */
final class StageMetrics extends SparkListener {
  final class Agg {
    var cpuNs, gcMs, tasks, inputBytes, shuffleWriteBytes, spillBytes = 0L
    def +=(o: Agg): Unit = {
      cpuNs += o.cpuNs; gcMs += o.gcMs; tasks += o.tasks
      inputBytes += o.inputBytes; shuffleWriteBytes += o.shuffleWriteBytes
      spillBytes += o.spillBytes
    }
  }

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, Agg]()
  private val openExecs = new ConcurrentHashMap[Long, StageMetrics.Exec]()
  private val openJobs = new ConcurrentHashMap[Int, StageMetrics.Exec]()
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[StageMetrics.Exec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("untagged")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    if (props.forall(_.getProperty("spark.sql.execution.id") == null) && e.stageInfos.nonEmpty)
      openJobs.put(e.jobId, StageMetrics.Exec(g, sql = false, e.stageInfos.maxBy(_.stageId).details, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(openJobs.remove(e.jobId)).foreach(x => done.add(x.copy(endMs = e.time)))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
      openExecs.put(s.executionId,
        StageMetrics.Exec(s.jobGroupId.getOrElse("untagged"), sql = true, s.details, s.time))
    case s: SparkListenerSQLExecutionEnd =>
      Option(openExecs.remove(s.executionId)).foreach(x => done.add(x.copy(endMs = s.time)))
    case _ =>
  }

  /** The finished Spark work of one job group, in start order. */
  def timeline(sc: SparkContext, group: String): Seq[StageMetrics.Exec] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    done.toArray(Array.empty[StageMetrics.Exec]).toSeq.filter(_.group == group).sortBy(_.startMs)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val a = groups.computeIfAbsent(stageGroup.getOrDefault(e.stageId, "untagged"), _ => new Agg)
    a.synchronized {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.tasks += 1
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Sum over the groups whose name satisfies `p`, after every event
    * posted so far has been delivered.
    */
  def total(sc: SparkContext)(p: String => Boolean): Agg = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val out = new Agg
    groups.forEach((g, a) => if (p(g)) a.synchronized(out += a))
    out
  }
}

object StageMetrics {
  /** One SQL execution or stray job. `stack` is its call site as Spark
    * records it: the Spark method the program called (`parquet`,
    * `count`, ...) on the first line, the program's frames below it.
    */
  final case class Exec(group: String, sql: Boolean, stack: String, startMs: Long, endMs: Long = -1L) {
    def durS: Double = (endMs - startMs) / 1e3
    def action: String = stack.linesIterator.nextOption().map(_.takeWhile(_ != '(').split('.').last).getOrElse("")
    def calledFrom(frame: String): Boolean = stack.linesIterator.exists(_.contains(frame))
    def site: String = stack.linesIterator.drop(1).nextOption().getOrElse("").trim
  }
}

/** Process-level readers: CPU seconds of this JVM, host steal, peak RSS. */
object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** Time the host hypervisor ran other guests while this machine's CPUs
    * wanted to run, in seconds per CPU: the steal ticks of the `cpu` line
    * of /proc/stat (USER_HZ = 100) over the number of `cpuN` lines it
    * sums, not over the CPUs this JVM may use (a quota or affinity mask
    * can make those fewer); 0 without /proc.
    */
  def stealSeconds(): Double = {
    val f = java.nio.file.Paths.get("/proc/stat")
    if (!java.nio.file.Files.exists(f)) 0.0
    else {
      val lines = java.nio.file.Files.readAllLines(f).toArray.map(_.toString)
      val cpu = lines(0).trim.split("\\s+")
      val cpus = lines.count(_.matches("cpu\\d+\\s.*"))
      if (cpu(0) != "cpu" || cpu.length < 9 || cpus == 0) 0.0
      else cpu(8).toDouble / 100.0 / cpus
    }
  }

  /** VmHWM from /proc/self/status, in MB (0 where /proc is absent). */
  def peakRssMb(): Double = {
    val f = java.nio.file.Paths.get("/proc/self/status")
    if (!java.nio.file.Files.exists(f)) 0.0
    else java.nio.file.Files.readAllLines(f).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}

/** Wall, process CPU and host-steal seconds of one call. `netS` is the
  * wall time less the steal: the time the call would have taken had the
  * host not descheduled this machine, the figure the benchmark gates on.
  */
final case class Timed[T](value: T, wallS: Double, cpuS: Double, stealS: Double) {
  def netS: Double = wallS - stealS
}

object Timed {
  def apply[T](f: => T): Timed[T] = {
    val c0 = Proc.cpuSeconds(); val s0 = Proc.stealSeconds(); val t0 = System.nanoTime()
    val v = f
    Timed(v, (System.nanoTime() - t0) / 1e9, Proc.cpuSeconds() - c0, Proc.stealSeconds() - s0)
  }
}

/** In-memory span recorder for the traced run. A span covers one call
  * into the program; spans of one workload pass share a run id. The
  * driver is single-threaded, so a plain stack gives each span its
  * parent. Nothing is written until [[write]].
  */
object Trace {
  final case class Span(id: Int, name: String, parent: Int, runId: String,
      startNs: Long, var endNs: Long = -1L) {
    def durS: Double = (endNs - startNs) / 1e9
  }

  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var runId = ""

  def pass[T](id: String)(f: => T): T = {
    val prev = runId
    runId = id
    try span("pass")(f) finally runId = prev
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = Span(spans.length, name, stack.headOption.getOrElse(-1), runId, System.nanoTime())
      spans += s
      stack = s.id :: stack
      try f finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  def all: Seq[Span] = spans.toSeq

  /** Duration minus the time covered by direct children. */
  def selfS(s: Span): Double =
    s.durS - spans.iterator.filter(_.parent == s.id).map(_.durS).sum

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"${s.runId}",""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfS(s)}%.6f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
