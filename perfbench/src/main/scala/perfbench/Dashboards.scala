package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.plans.QueryParams
import graft.schemas.Metrica
import graft.sources.{Binding, Catalog, Warehouse}

/** The `dashboards` workload: one client refreshing one DataLens
  * dashboard in a closed loop. A refresh runs every chart in sequence
  * for one `{{interval_from}}`/`{{interval_to}}` draw and collects each
  * chart's rows, as DataLens fetches them.
  *
  * Inputs (made by run.py from the seed): `visits.parquet`, the
  * collapsing Sign/VisitVersion rows of a Metrica-shaped visits log;
  * `dim_browser_country/`, the SCD2 country dimension as CSV; and
  * `draws.txt`, the warm-up and timed interval draws.
  */
object Dashboards {

  private val charts: Seq[(String, Option[String])] = Seq(
    "q1_visits_totals" -> Some("""
      SELECT StartDate AS `ym:s:date`, toInt64(sum(Sign)) AS `ym:s:visits`
      FROM visits
      WHERE StartDate >= {{interval_from}} AND StartDate <= {{interval_to}}
      GROUP BY `ym:s:date` WITH TOTALS
      HAVING `ym:s:visits` >= 0
      ORDER BY `ym:s:date` ASC NULLS LAST
      LIMIT 0, 10"""),
    // Q2 goes through graft.queries.MetricaQueries, not SQL text
    "q2_traffic_sources" -> None,
    // FINAL reads a view of the columns the chart needs: over all 224
    // columns the collapse carries every column through its aggregate,
    // and one such query spent minutes in code generation
    "final_by_counter" -> Some("""
      SELECT CounterID, toInt64(count(1)) AS visits,
             toInt64(sum(PageViews)) AS pv, toInt64(sum(Duration)) AS dur
      FROM visits_collapsing FINAL
      WHERE StartDate >= {{interval_from}} AND StartDate <= {{interval_to}}
      GROUP BY CounterID ORDER BY CounterID"""),
    "goals_array_join" -> Some("""
      SELECT gid AS goal_id, toInt64(sum(Sign)) AS reaches,
             uniqExact(VisitID) AS visits,
             toInt64(sum(gprice * Sign)) AS revenue
      FROM visits
      ARRAY JOIN `Goals.ID` AS gid, `Goals.Price` AS gprice
      WHERE StartDate >= {{interval_from}} AND StartDate <= {{interval_to}}
      GROUP BY gid ORDER BY gid"""),
    "top_days_limit_by" -> Some("""
      SELECT CounterID, StartDate AS d, toInt64(sum(Sign)) AS visits
      FROM visits
      WHERE StartDate >= {{interval_from}} AND StartDate <= {{interval_to}}
      GROUP BY CounterID, d
      ORDER BY CounterID, visits DESC, d
      LIMIT 3 BY CounterID"""),
    "scd2_country" -> Some("""
      SELECT c.CountryName AS country, toInt64(sum(v.Sign)) AS visits,
             toInt64(sum(v.PageViews * v.Sign)) AS pv
      FROM visits v
      JOIN dim_browser_country c
        ON v.BrowserCountry = c.CountryID
       AND v.StartDate >= c.FromDT AND v.StartDate <= c.ToDT
      WHERE v.StartDate >= {{interval_from}} AND v.StartDate <= {{interval_to}}
      GROUP BY c.CountryName ORDER BY country"""))

  private val dimSchema = StructType(Seq(
    StructField("CountryID", IntegerType),
    StructField("CountryName", StringType),
    StructField("FromDT", DateType),
    StructField("ToDT", DateType)))

  /** The visits schema with the collapsing-engine stamps `FROM t FINAL`
    * reads: entity key, version and sign.
    */
  private def stampedVisits: StructType = StructType(Metrica.visits.fields.map { f =>
    val flag = f.name match {
      case "VisitID" => Some("graft.finalKey")
      case "VisitVersion" => Some("graft.finalVersion")
      case "Sign" => Some("graft.finalSign")
      case _ => None
    }
    flag.fold(f)(k => f.copy(metadata =
      new MetadataBuilder().withMetadata(f.metadata).putBoolean(k, true).build()))
  })

  private def readDraws(path: String): (Seq[(String, String)], Seq[(String, String)]) = {
    val lines = Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty)
    def section(tag: String) = lines.filter(_.startsWith(tag + " "))
      .map(_.split("\\s+")).map(a => (a(1), a(2)))
    (section("warmup"), section("timed"))
  }

  def run(spark: SparkSession, tr: Tracer, inputs: String, scratch: String,
      setupStartNs: Long): Result = {
    val whDir = s"$scratch/wh/visits"
    val source = spark.read.parquet(s"$inputs/visits.parquet")
    val sourceRows = source.count()
    val sourceReadS = Main.sinceStart(setupStartNs)
    val tw0 = System.nanoTime()
    // set-up work belongs to no op (-1)
    tr.span("sources.warehouse_write", -1) {
      Warehouse.write(Metrica.conform(source, Metrica.visits), whDir,
        Metrica.visitsPartitionDate, Metrica.visitsOrderKey, mode = "overwrite")
    }
    val warehouseWriteMs = (System.nanoTime() - tw0) / 1e6
    Catalog.register(spark,
      Binding("visits", whDir, schema = Some(stampedVisits),
        dateCol = Some(Metrica.visitsPartitionDate),
        orderKey = Metrica.visitsOrderKey),
      Binding("dim_browser_country", s"$inputs/dim_browser_country",
        format = "csv", schema = Some(dimSchema),
        options = Map("header" -> "true")))
    spark.table("visits").select("VisitID", "VisitVersion", "Sign", "CounterID",
      "StartDate", "PageViews", "Duration", Warehouse.weekCol)
      .createOrReplaceTempView("visits_collapsing")
    val registeredS = Main.sinceStart(setupStartNs)
    // week partitions of the warehouse, for the traced scan figures
    val weeks = if (!tr.enabled) Set.empty[java.time.LocalDate]
      else Warehouse.read(spark, whDir).select(Warehouse.weekCol).distinct()
        .collect().map(_.getDate(0).toLocalDate).toSet

    val (warm, timed) = readDraws(s"$inputs/draws.txt")
    val outputs = mutable.ArrayBuffer.empty[String]
    var scanParts = 0L
    var scanFiles = 0L
    var overlapped = 0L

    def refresh(op: Int, from: String, to: String, keep: Boolean): Unit = {
      QueryParams.setDate("interval_from", from)
      QueryParams.setDate("interval_to", to)
      try charts.foreach { case (name, sql) =>
        val df: DataFrame = sql match {
          case Some(text) => tr.span("plans.parse", op)(spark.sql(text))
          case None => tr.span("queries.build", op)(
            graft.queries.MetricaQueries.q2TrafficSources(
              spark.table("visits"), from, to))
        }
        val plan = tr.span("plans.plan", op)(df.queryExecution.executedPlan)
        val rows = tr.span("operators.exec", op)(df.collect())
        if (keep) {
          outputs += Main.json.writeValueAsString(ListMap("op" -> op,
            "chart" -> name, "from" -> from, "to" -> to,
            "rows" -> rows.toSeq.map(r => r.toSeq)))
          if (tr.enabled) {
            val st = Scans.of(plan)
            scanParts += st.partitions
            scanFiles += st.files
            overlapped += weeksOverlapped(weeks, from, to)
          }
        }
      } finally {
        QueryParams.remove("interval_from")
        QueryParams.remove("interval_to")
      }
    }

    // fixed warm-up inside set-up: codegen and JIT of every chart shape
    val tWarm = System.nanoTime()
    warm.zipWithIndex.foreach { case ((f, t), i) => refresh(-2 - i, f, t, keep = false) }
    val warmupS = (System.nanoTime() - tWarm) / 1e9

    val setupS = Main.sinceStart(setupStartNs)
    val a = Probe.snap()
    val lat = timed.zipWithIndex.map { case ((f, t), op) =>
      val t0 = System.nanoTime()
      tr.span("refresh", op)(refresh(op, f, t, keep = true))
      (System.nanoTime() - t0) / 1e6
    }
    val b = Probe.snap()
    val heap = Probe.retainedHeapMb()
    val wall = (b.wallNs - a.wallNs) / 1e9
    val n = timed.length
    Files.writeString(Paths.get(s"$scratch/dash_outputs.jsonl"),
      outputs.mkString("", "\n", "\n"))

    val stored = Main.dataBytes(whDir)
    val e2e = Seq(
      "setup_s" -> setupS,
      "latency_ms" -> Main.median(lat),
      "throughput_per_s" -> n * charts.length / wall,
      "cpu_ms_per_op" -> (b.cpu - a.cpu) / 1e6 / n,
      "retained_heap_mb" -> heap,
      "stored_bytes_per_row" -> stored.toDouble / sourceRows)

    val layers = if (!tr.enabled) Nil else {
      tr.drain()
      val ops = (0 until n).toSet
      def perOp(name: String) = tr.named(name, ops).map(_.ms).sum / n
      val buildIds = tr.named("queries.build", ops).map(_.id)
      val execIds = tr.named("operators.exec", ops).map(_.id)
      Seq(
        "queries.build_ms" -> perOp("queries.build"),
        "queries.build_jobs" -> tr.workOf(buildIds).jobs.toDouble / n,
        "plans.parse_ms" -> perOp("plans.parse"),
        "plans.plan_ms" -> perOp("plans.plan"),
        "operators.exec_ms" -> perOp("operators.exec"),
        "sources.files_read" -> scanFiles.toDouble / n,
        "sources.partitions_read_ratio" ->
          (if (overlapped == 0) 0.0 else scanParts.toDouble / overlapped),
        "sources.warehouse_write_ms" -> warehouseWriteMs) ++
        Main.operatorLayers(tr, tr.idsOf(ops), execIds, n) ++
        Main.jvmLayers(a, b, n)
    }
    Result(e2e, layers, attempted = n, failedInJvm = 0,
      info = Seq(
        "latency_tail" -> Main.tail(lat),
        "timed_s" -> wall,
        "source_rows" -> sourceRows,
        "refreshes" -> n,
        "warmup_refreshes" -> warm.length,
        "source_read_s" -> sourceReadS,
        "registered_s" -> registeredS,
        "warmup_s" -> warmupS,
        "warehouse_write_s" -> warehouseWriteMs / 1e3,
        "noise" -> Probe.noise(a, b)))
  }

  /** Week partitions (Mondays present in the warehouse) that
    * [from, to] overlaps.
    */
  private def weeksOverlapped(weeks: Set[java.time.LocalDate], from: String,
      to: String): Long = {
    val f = java.time.LocalDate.parse(from)
    val t = java.time.LocalDate.parse(to)
    weeks.count(w => !w.plusDays(6).isBefore(f) && !w.isAfter(t)).toLong
  }
}
