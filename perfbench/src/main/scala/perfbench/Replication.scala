package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.schemas.Metrica
import graft.sources.{CsvGzip, Warehouse}
import graft.streaming.Ingest

/** The `replication` workload: Metrica CDC files (append-only hits;
  * visits whose versions are cancelled by late Sign = -1 rows) flow
  * through `Ingest` into the week-partitioned warehouse, with a
  * materialized view attached to visits.
  *
  *  1. Backlog phase (closed, fixed work): the backlog files are
  *     drained with AvailableNow and a fixed maxFilesPerTrigger, hits
  *     then visits; hits are exported day-sliced through CsvGzip and
  *     each day's re-read count is reconciled with the warehouse.
  *  2. Open-loop phase: visits files are dropped into the live source
  *     at a fixed interval, and each drop is timed from when it was due
  *     until the micro-batch holding it commits.
  *
  * Inputs (made by run.py from the seed) sit under `<inputs>/<set>/`
  * for the sets `warm` (the untimed warm-up pass) and `main`:
  * `hits/`, `visits/` and `drops/` hold one parquet file per CDC file,
  * and `params.txt` the batch size, the drop interval and the days.
  */
object Replication {

  /** Every streaming progress event with the time it arrived. */
  private final class Commits extends StreamingQueryListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[(Long, StreamingQueryProgress)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add((System.nanoTime(), e.progress))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def of(id: java.util.UUID): Seq[(Long, StreamingQueryProgress)] =
      events.asScala.filter(_._2.runId == id).toSeq
  }

  private final case class Params(maxFiles: Int, dropIntervalMs: Long,
      days: Seq[String])

  private def params(dir: String): Params = {
    val kv = Files.readAllLines(Paths.get(s"$dir/params.txt")).asScala
      .map(_.trim.split("\\s+").toSeq).filter(_.nonEmpty)
      .map(a => a.head -> a.tail).toMap
    Params(kv("max_files_per_trigger").head.toInt,
      kv("drop_interval_ms").head.toLong, kv("days"))
  }

  private def files(dir: String): Seq[Path] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
      .sortBy(_.getFileName.toString)
    finally s.close()
  }

  private def moveInto(f: Path, dir: String): Unit =
    Files.move(f, Paths.get(dir).resolve(f.getFileName),
      StandardCopyOption.ATOMIC_MOVE)

  /** One whole pass of the workload over `<inputs>/<set>`. */
  private final class Pass(spark: SparkSession, tr: Tracer, commits: Commits,
      inputs: String, scratch: String, set: String) {
    val in = s"$inputs/$set"
    val p: Params = params(in)
    val root = s"$scratch/$set"
    val srcHits = s"$root/src/hits"
    val srcVisits = s"$root/src/visits"
    Seq(srcHits, srcVisits).foreach(d => Files.createDirectories(Paths.get(d)))
    val hitsFiles = files(s"$in/hits")
    val visitsFiles = files(s"$in/visits")
    val dropFiles = files(s"$in/drops")
    private val hitsSchema = spark.read.parquet(hitsFiles.head.toString).schema
    private val visitsSchema = spark.read.parquet(visitsFiles.head.toString).schema
    // hits start from nothing: their first activation is the drain;
    // visits are attached once before it (below), so later activations
    // keep what is there
    val hitsSink = Ingest.Sink(s"$scratch/wh", "hits", set,
      Metrica.hitsPartitionDate, Metrica.hitsOrderKey, cleanupPolicy = "DROP")
    val visitsSink = Ingest.Sink(s"$scratch/wh", "visits", set,
      Metrica.visitsPartitionDate, Metrica.visitsOrderKey, cleanupPolicy = "DISABLED")
    val mv = s"mv_visits_day_$set"
    private val hitsPrep = (df: DataFrame) => Metrica.conform(df, Metrica.hits)
    private val visitsPrep = (df: DataFrame) => Metrica.conform(df, Metrica.visits)
    val backlogRows: Long =
      spark.read.parquet((hitsFiles ++ visitsFiles).map(_.toString): _*).count()
    private val dropRows = dropFiles.map(f => spark.read.parquet(f.toString).count())

    // attach the visits transfer to its empty source first, so the view
    // exists before the first row arrives (create-MV-then-attach order)
    Ingest.runToCompletion(spark, srcVisits, visitsSchema,
      visitsSink.copy(cleanupPolicy = "DROP"), s"$root/cp/visits", visitsPrep)
    spark.sql(s"""
      CREATE MATERIALIZED VIEW $mv ENGINE = AggregatingMergeTree AS
      SELECT StartDate AS d, sumState(Sign) AS visits,
             sumState(PageViews * Sign) AS pv, countState() AS n
      FROM ${Ingest.tableName(visitsSink)} GROUP BY d""")
    hitsFiles.foreach(moveInto(_, srcHits))
    visitsFiles.foreach(moveInto(_, srcVisits))

    var reconcileBadDays = 0
    var exportMs = 0.0
    var reconcileMs = 0.0
    var backlogIds: Set[java.util.UUID] = Set.empty
    var liveId: Option[java.util.UUID] = None

    /** Phase 1: drain, export, reconcile. */
    def backlog(op: Int): Unit = {
      def drain(name: String, src: String, schema: org.apache.spark.sql.types.StructType,
          s: Ingest.Sink, cp: String, prep: DataFrame => DataFrame): Unit =
        tr.span(name, op) {
          val q = Ingest.activate(spark, src, schema, s, cp, prep,
            availableNow = true, maxFilesPerTrigger = Some(p.maxFiles))
          backlogIds += q.runId
          q.awaitTermination()
        }
      drain("streaming.drain_hits", srcHits, hitsSchema, hitsSink,
        s"$root/cp/hits", hitsPrep)
      drain("streaming.drain_visits", srcVisits, visitsSchema, visitsSink,
        s"$root/cp/visits", visitsPrep)
      val hits = Warehouse.read(spark, Ingest.tableDir(hitsSink))
      val out = s"$root/export/hits"
      val t0 = System.nanoTime()
      tr.span("sources.export", op) {
        CsvGzip.exportDaySliced(CsvGzip.encodeComplex(hits),
          col(Metrica.hitsPartitionDate), p.days, out)
      }
      val t1 = System.nanoTime()
      val csvSchema = CsvGzip.encodedSchema(hits.schema)
      p.days.foreach { d =>
        tr.span("sources.reconcile", op) {
          val inCh = hits.filter(col(Metrica.hitsPartitionDate) ===
            java.sql.Date.valueOf(d)).count()
          val inS3 = CsvGzip.read(spark, s"$out/__day=$d", csvSchema).count()
          if (inCh != inS3) reconcileBadDays += 1
        }
      }
      exportMs = (t1 - t0) / 1e6
      reconcileMs = (System.nanoTime() - t1) / 1e6
    }

    /** Phase 2: open-loop drops; returns the latency of every drop that
      * committed, how late each drop was made (both ms), and the most
      * drops that were due but not yet committed at once.
      */
    def openLoop(op: Int): (Seq[Double], Seq[Double], Int) =
      tr.span("streaming.open_loop", op) {
        val q = Ingest.activate(spark, srcVisits, visitsSchema, visitsSink,
          s"$root/cp/visits", visitsPrep, availableNow = false)
        liveId = Some(q.runId)
        val interval = p.dropIntervalMs * 1000000L
        // the first drop is due one interval after the query started
        val t0 = System.nanoTime() + interval
        val due = dropFiles.indices.map(j => t0 + j * interval)
        val late = dropFiles.zip(due).map { case (f, d) =>
          val wait = d - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          val lateNs = math.max(0L, System.nanoTime() - d)
          moveInto(f, srcVisits)
          lateNs / 1e6
        }
        val total = dropRows.sum
        val deadline = System.nanoTime() + 60L * 1000000000L
        def committed = commits.of(q.runId).map(_._2.numInputRows).sum
        while (committed < total && System.nanoTime() < deadline) Thread.sleep(5)
        q.stop()
        val batches = commits.of(q.runId).filter(_._2.numInputRows > 0)
        val cum = batches.scanLeft(0L)(_ + _._2.numInputRows).tail
        val commitAt = dropRows.scanLeft(0L)(_ + _).tail.map { need =>
          batches.zip(cum).find(_._2 >= need).map(_._1._1)
        }
        val lat = commitAt.zip(due).collect { case (Some(c), d) => (c - d) / 1e6 }
        val backlogMax = due.map(d => commitAt.zip(due).count {
          case (c, dd) => dd <= d && c.forall(_ > d)
        }).max
        (lat, late, backlogMax)
      }

    /** Outputs for the checks run.py makes: per-day warehouse counts
      * of hits, the live (VisitID, VisitVersion) pairs after the Sign
      * collapse, and the materialized view's merged state.
      */
    def outputs(): ListMap[String, Any] = {
      val perDay = Warehouse.read(spark, Ingest.tableDir(hitsSink))
        .groupBy(col(Metrica.hitsPartitionDate).cast("string"))
        .count().collect().map(r => Seq(r.getString(0), r.getLong(1))).toSeq
      graft.operators.Relational.latestVersions(
          Warehouse.read(spark, Ingest.tableDir(visitsSink))
            .select("VisitID", "VisitVersion", "Sign"),
          Seq("VisitID"), "VisitVersion", "Sign")
        .select("VisitID", "VisitVersion")
        .write.mode("overwrite").parquet(s"$root/live_visits")
      val mvRows = spark.sql(s"""
        SELECT CAST(d AS STRING) AS d, toInt64(sumMerge(visits)) AS visits,
               toInt64(sumMerge(pv)) AS pv, toInt64(countMerge(n)) AS n
        FROM $mv GROUP BY d ORDER BY d""").collect()
        .map(r => Seq(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      ListMap("hits_per_day" -> perDay, "live_visits" -> s"$root/live_visits",
        "mv" -> mvRows, "reconcile_bad_days" -> reconcileBadDays)
    }

    def storedBytes: Long = Seq(Ingest.tableDir(hitsSink), Ingest.tableDir(visitsSink),
      s"$scratch/wh/.mv_$mv").map(Main.dataBytes).sum
  }

  def run(spark: SparkSession, tr: Tracer, inputs: String, scratch: String,
      setupStartNs: Long): Result = {
    val commits = new Commits
    spark.streams.addListener(commits)
    // fixed warm-up inside set-up: an untimed backlog pass on inputs of
    // its own
    val tWarm = System.nanoTime()
    new Pass(spark, tr, commits, inputs, scratch, "warm").backlog(-2)
    val warmupS = (System.nanoTime() - tWarm) / 1e9

    val pass = new Pass(spark, tr, commits, inputs, scratch, "main")
    val ops = pass.hitsFiles.length + pass.visitsFiles.length
    val setupS = Main.sinceStart(setupStartNs)
    val a = Probe.snap()
    pass.backlog(0)
    val b = Probe.snap()
    val stored = pass.storedBytes
    val (lat, late, backlogMax) = pass.openLoop(1)
    val c = Probe.snap()
    val heap = Probe.retainedHeapMb()
    val checks = pass.outputs()
    val backlogS = (b.wallNs - a.wallNs) / 1e9
    val attempted = ops + pass.dropFiles.length
    val failed = (if (pass.reconcileBadDays > 0) ops else 0) +
      (pass.dropFiles.length - lat.length)

    val e2e = Seq(
      "setup_s" -> setupS,
      "latency_ms" -> Main.median(lat),
      "throughput_per_s" -> pass.backlogRows / backlogS,
      "cpu_ms_per_op" -> (b.cpu - a.cpu) / 1e6 / ops,
      "retained_heap_mb" -> heap,
      "stored_bytes_per_row" -> stored.toDouble / pass.backlogRows)

    val dataBatches = commits.events.asScala.toSeq.map(_._2)
      .filter(_.numInputRows > 0)
    val backlogBatches = dataBatches.filter(e => pass.backlogIds.contains(e.runId))
    val liveBatches = dataBatches.filter(e => pass.liveId.contains(e.runId))
    // batch phase times over every batch of the pass, backlog and live
    val allBatches = backlogBatches ++ liveBatches
    def dur(pr: StreamingQueryProgress, keys: String*): Double =
      keys.map(k => Option(pr.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum.toDouble
    def med(keys: String*) = Main.median(allBatches.map(dur(_, keys: _*)))
    val days = pass.p.days.length
    val layers = if (!tr.enabled) Nil else {
      tr.drain()
      val ids = tr.idsOf(Set(0))
      Seq(
        "sources.export_ms" -> pass.exportMs / days,
        "sources.reconcile_ms" -> pass.reconcileMs / days,
        "streaming.batches" -> backlogBatches.length.toDouble,
        "streaming.rows_per_batch" ->
          backlogBatches.map(_.numInputRows).sum.toDouble / backlogBatches.length,
        "streaming.batch_ms" -> med("triggerExecution"),
        "streaming.add_batch_ms" -> med("addBatch"),
        "streaming.list_ms" -> med("latestOffset", "getBatch"),
        "streaming.plan_ms" -> med("queryPlanning"),
        "streaming.commit_ms" -> med("walCommit", "commit"),
        "streaming.backlog_files_max" -> backlogMax.toDouble,
        "streaming.mv_state_bytes" ->
          Main.dataBytes(s"$scratch/wh/.mv_${pass.mv}").toDouble) ++
        Main.operatorLayers(tr, ids, ids, ops) ++
        Main.jvmLayers(a, b, ops)
    }
    spark.streams.removeListener(commits)
    Result(e2e, layers, attempted, failed,
      info = Seq(
        "latency_tail" -> Main.tail(lat),
        "generator_late_ms" -> ListMap(
          "p50" -> Main.median(late), "max" -> (if (late.isEmpty) 0.0 else late.max)),
        "drop_interval_ms" -> pass.p.dropIntervalMs,
        "capacity_files_per_s" -> ops / backlogS,
        "backlog_s" -> backlogS,
        "warmup_s" -> warmupS,
        "backlog_rows" -> pass.backlogRows,
        "backlog_files" -> ops,
        "drops" -> pass.dropFiles.length,
        "open_loop_batches" -> liveBatches.length,
        "checks" -> checks,
        "noise" -> Probe.noise(a, b),
        "noise_open_loop" -> Probe.noise(b, c)))
  }
}
