package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.SerializationFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.datatype.jsr310.JavaTimeModule
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** What one workload run measured. `failedInJvm` counts ops the JVM
  * side already saw fail; run.py adds the ops its own checks fail.
  */
final case class Result(e2e: Seq[(String, Double)], layers: Seq[(String, Double)],
    attempted: Int, failedInJvm: Int, info: Seq[(String, Any)])

/** The benchmark's JVM side. run.py builds it, makes the inputs and
  * starts it as
  * {{{
  * Main --workload <dashboards|replication> --inputs <dir> --scratch <dir>
  *      --trace <0|1> --start-ns <epoch ns of benchmark start> --out <file>
  * }}}
  * It writes one JSON object to `--out`; with `--trace 1` also the span
  * list to `<scratch>/spans.json`.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val scratch = o("scratch")
    val startNs = o("start-ns").toLong
    val jvmStartedS = (java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime * 1000000L - startNs) / 1e9
    val spark = graft.Graft.local("perfbench")
    val sessionS = sinceStart(startNs)
    spark.conf.set("spark.graft.warehouse", s"$scratch/wh")
    val tr = new Tracer(spark, o("trace") == "1")
    val code =
      try {
        val res = o("workload") match {
          case "dashboards" =>
            Dashboards.run(spark, tr, o("inputs"), scratch, startNs)
          case "replication" =>
            Replication.run(spark, tr, o("inputs"), scratch, startNs)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        tr.close()
        Files.writeString(Paths.get(o("out")), json.writeValueAsString(ListMap(
          "e2e" -> ListMap(res.e2e: _*),
          "layers" -> ListMap(res.layers: _*),
          "attempted" -> res.attempted,
          "failed" -> res.failedInJvm,
          "info" -> ListMap(res.info ++ Seq(
            "jvm_started_s" -> jvmStartedS, "session_ready_s" -> sessionS): _*))))
        if (tr.enabled)
          Files.writeString(Paths.get(s"$scratch/spans.json"), tr.spansJson)
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    spark.stop()
    System.exit(code)
  }

  /** Seconds since `startNs` (epoch nanoseconds). */
  def sinceStart(startNs: Long): Double = {
    val now = java.time.Instant.now()
    (now.getEpochSecond * 1000000000L + now.getNano - startNs) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The median and the highest percentile with at least ten samples
    * beyond it (none below forty samples), with the sample count.
    */
  def tail(xs: Seq[Double]): ListMap[String, Any] = {
    val s = xs.sorted
    val n = s.length
    val pct = Seq(99.9, 99.0, 95.0, 90.0, 75.0).find(p => n >= 40 &&
      n - math.ceil(p / 100 * n).toInt >= 10)
    ListMap(Seq("n" -> n, "p50" -> median(s)) ++ pct.map { p =>
      s"p$p" -> s(math.ceil(p / 100 * n).toInt - 1)
    }: _*)
  }

  /** Bytes of the data files under `dir` (hidden and marker files, such
    * as checksums and batch markers, excluded).
    */
  def dataBytes(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val walk = Files.walk(root)
      try walk.filter(p => Files.isRegularFile(p) && {
        val n = p.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }).mapToLong(p => Files.size(p)).sum()
      finally walk.close()
    }
  }

  /** Executor-side figures of the given spans, per op. */
  def operatorLayers(tr: Tracer, opSpans: Seq[Int], execSpans: Seq[Int],
      n: Int): Seq[(String, Double)] = {
    val all = tr.workOf(opSpans)
    val exec = tr.workOf(execSpans)
    val tasks = all.taskMs.map(_.toDouble).toSeq
    val med = median(tasks)
    Seq(
      "operators.exec_jobs" -> exec.jobs.toDouble / n,
      "operators.stages" -> all.stages.toDouble / n,
      "operators.tasks" -> all.tasks.toDouble / n,
      "operators.executor_cpu_ms" -> all.cpuNs / 1e6 / n,
      "operators.executor_run_ms" -> all.runMs.toDouble / n,
      "operators.task_skew" -> (if (med <= 0) 0.0 else tasks.max / med),
      "operators.shuffle_write_bytes" -> all.shuffleWrite.toDouble / n,
      "operators.shuffle_read_bytes" -> all.shuffleRead.toDouble / n,
      "operators.spill_bytes" -> all.spill.toDouble / n,
      "sources.input_bytes" -> all.inputBytes.toDouble / n)
  }

  /** GC and JIT time of the timed phase, per op. */
  def jvmLayers(a: Probe.Snap, b: Probe.Snap, n: Int): Seq[(String, Double)] =
    Seq("jvm.gc_ms" -> (b.gc - a.gc).toDouble / n,
      "jvm.compile_ms" -> (b.compile - a.compile).toDouble / n)

  /** The JSON writer of every output: the Jackson that Spark ships,
    * with Scala collections, and dates as ISO text.
    */
  val json: JsonMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule).addModule(new JavaTimeModule)
    .disable(SerializationFeature.WRITE_DATES_AS_TIMESTAMPS).build()
}
