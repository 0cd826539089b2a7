package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** One recorded span: a call into one layer of the engine, timed from
  * the benchmark's side of the call. Spans of one op share `op`.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Per-span Spark work, rolled up from listener events. */
final class Work {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** Spans and the Spark listeners behind them. With `enabled = false`
  * (the timed mode) `span` only runs its body: no listener is
  * registered and nothing is recorded, so the difference between a
  * timed and a traced run is the tracing overhead.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val spansBuf = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  private val propKey = "perfbench.span"

  // listener-side state: job/stage -> span id, span id -> work
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val work = new ConcurrentHashMap[Int, Work]()
  private def slot(id: Int): Work = work.computeIfAbsent(id, _ => new Work)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(propKey)))
        .map(_.toInt).getOrElse(-1)
      val w = slot(id)
      w.synchronized {
        w.jobs += 1
        w.stages += e.stageIds.size
      }
      e.stageIds.foreach(s => stageSpan.put(s, id))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = Option(stageSpan.get(e.stageId)).map(_.intValue).getOrElse(-1)
      val m = e.taskMetrics
      val w = slot(id)
      w.synchronized {
        w.tasks += 1
        w.taskMs += e.taskInfo.duration
        if (m != null) {
          w.cpuNs += m.executorCpuTime
          w.runMs += m.executorRunTime
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          w.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }

  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Time `body` as a span named `name` of op `op`; jobs it starts are
    * attributed to the innermost open span.
    */
  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val sc = spark.sparkContext
      sc.setLocalProperty(propKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(propKey,
          stack.headOption.map(_.toString).orNull)
        spansBuf += Span(id, name, parent, op, t0, t1)
      }
    }

  /** Wait for the listener bus so every event of finished jobs is in. */
  def drain(): Unit =
    if (enabled) {
      // the listener bus is asynchronous; a no-op job's end event
      // queues behind every earlier event
      spark.sparkContext.parallelize(Seq(1), 1).count()
      Thread.sleep(200)
    }

  /** Work attributed to the given spans (each job counted once: it is
    * attributed to the innermost span open when it started).
    */
  def workOf(spanIds: Iterable[Int]): Work = {
    val out = new Work
    spanIds.foreach { id =>
      Option(work.get(id)).foreach { w => w.synchronized {
        out.jobs += w.jobs; out.stages += w.stages; out.tasks += w.tasks
        out.cpuNs += w.cpuNs; out.runMs += w.runMs
        out.shuffleWrite += w.shuffleWrite; out.shuffleRead += w.shuffleRead
        out.spill += w.spill; out.inputBytes += w.inputBytes
        out.taskMs ++= w.taskMs
      } }
    }
    out
  }

  /** The spans of `ops` whose name is `name`. */
  def named(name: String, ops: Set[Int]): Seq[Span] =
    spansBuf.filter(s => s.name == name && ops.contains(s.op)).toSeq

  /** Every span id of the given ops. */
  def idsOf(ops: Set[Int]): Seq[Int] =
    spansBuf.filter(s => ops.contains(s.op)).map(_.id).toSeq

  def close(): Unit =
    if (enabled) spark.sparkContext.removeSparkListener(listener)

  def spansJson: String =
    Main.json.writeValueAsString(spansBuf.map(s =>
      ListMap("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
}

/** File-scan figures of an executed plan (AQE stages included). */
object Scans extends AdaptiveSparkPlanHelper {
  final case class ScanStats(files: Long, partitions: Long)

  def of(plan: SparkPlan): ScanStats = {
    val scans = collectWithSubqueries(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    def metric(s: SparkPlan, k: String): Long =
      s.metrics.get(k).map(_.value).getOrElse(0L)
    ScanStats(scans.map(metric(_, "numFiles")).sum,
      scans.map(metric(_, "numPartitions")).sum)
  }
}

/** Process, JVM and machine counters read at the edges of the timed
  * phase: CPU, GC, JIT, and the pressure and foreign CPU that say
  * whether something else on the machine disturbed the run.
  */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean

  def cpuNs: Long = math.max(0L, os.getProcessCpuTime)
  def gcMs: Long = gcs.map(b => math.max(0L, b.getCollectionTime)).sum
  def compileMs: Long =
    if (jit != null && jit.isCompilationTimeMonitoringSupported)
      jit.getTotalCompilationTime else 0L

  /** Heap in use after full collections, in MB: the least of five
    * collections 300 ms apart. Spark's ContextCleaner frees shuffle and
    * broadcast blocks only after a collection has found their handles
    * unreachable, so the first collections can still see them.
    */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(300)
      mem.getHeapMemoryUsage.getUsed
    }.min / (1024.0 * 1024.0)
  }

  private def read(p: String): Option[String] =
    try Some(Files.readString(Paths.get(p))) catch { case _: Exception => None }

  /** (some avg10, some total µs) of one /proc/pressure resource. */
  private def psi(res: String): Option[(Double, Long)] =
    read(s"/proc/pressure/$res").flatMap(_.linesIterator
      .find(_.startsWith("some")).map { l =>
        val kv = l.split("\\s+").drop(1).map(_.split("=")).map(a => a(0) -> a(1)).toMap
        (kv("avg10").toDouble, kv("total").toLong)
      })

  /** Machine busy jiffies (all CPUs) and this process's own jiffies. */
  private def jiffies: Option[(Long, Long)] =
    for {
      stat <- read("/proc/stat")
      self <- read("/proc/self/stat")
    } yield {
      val f = stat.linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      val busy = f.take(3).sum + f.slice(5, 8).sum
      val s = self.substring(self.lastIndexOf(')') + 2).trim.split("\\s+")
      (busy, s(11).toLong + s(12).toLong)
    }

  final case class Snap(wallNs: Long, psis: Map[String, (Double, Long)],
      jiff: Option[(Long, Long)], compile: Long, gc: Long, cpu: Long,
      codegen: Long)

  def snap(): Snap = Snap(System.nanoTime(),
    Seq("cpu", "memory", "io").flatMap(r => psi(r).map(r -> _)).toMap,
    jiffies, compileMs, gcMs, cpuNs,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** The noise report of the interval between two snapshots. */
  def noise(a: Snap, b: Snap): ListMap[String, Any] = {
    val wall = (b.wallNs - a.wallNs) / 1e9
    val psis = b.psis.map { case (r, (avg10, total)) =>
      val d = a.psis.get(r).map(x => total - x._2).getOrElse(0L)
      r -> ListMap("some_avg10" -> avg10, "some_total_us" -> d)
    }
    val foreign = (a.jiff, b.jiff) match {
      case (Some((b0, s0)), Some((b1, s1))) =>
        // USER_HZ is 100 on Linux
        math.max(0L, (b1 - b0) - (s1 - s0)) / 100.0
      case _ => -1.0
    }
    ListMap("wall_s" -> wall, "psi" -> ListMap(psis.toSeq: _*),
      "foreign_cpu_s" -> foreign,
      "foreign_cpu_share" -> (if (foreign < 0 || wall <= 0) -1.0
        else foreign / (wall * Runtime.getRuntime.availableProcessors)),
      "jvm_compile_ms" -> (b.compile - a.compile),
      "codegen_compiles" -> (b.codegen - a.codegen),
      "jvm_gc_ms" -> (b.gc - a.gc))
  }
}
