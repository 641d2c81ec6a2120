package graft.perfbench

import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.agg.Rollups
import graft.dedup.Dedup
import graft.ingest.{IngestJob, JsonlSource}
import graft.schema.Schemas
import graft.sink.IdempotentAppend
import graft.validate.{Rules, Validator}
import graft.views.{GenerationViews, Refresh}
import graft.warehouse.Warehouse

/** One ETL pass over a generated workload directory (`input/` with one
  * JSONL file per source, `warehouse/` empty or holding history):
  *
  *   Warehouse.createAllTables → (IngestJob.load + recordMetadata) × 8
  *   → Refresh.refreshForSources → Rollups.multiMetricMonthly +
  *   Warehouse.exportCsvByYear
  *
  * The traced pass calls the public functions `IngestJob.load`
  * composes, one span per layer, and materializes each layer's output
  * before the next call so that a layer's work lands in its own span. */
object EtlRun {

  val Sources = Seq("entsoe", "ons", "npp", "eia", "oe", "oe_facility", "occto", "chile")
  val CorruptKey = "_corrupt: unparseable JSON line"

  final case class Op(kind: String, name: String, ok: Boolean, error: String = "")

  def run(spark: SparkSession, work: String, nowMs: Long, tracer: Option[Tracer]): Json.Value = {
    val wh = s"$work/warehouse"
    val exportDir = s"$work/export/entsoe_country_fuel"
    val ops = Seq.newBuilder[Op]
    val loads = Seq.newBuilder[Json.Value]
    // layer spans count the data files that appear under the pass's dir
    def span[A](name: String, detail: String = "", outputs: Option[String] = Some(work))(f: => A): A =
      tracer.fold(f)(_.span(name, detail, outputs)(f))
    def timed[A](f: => A): (Try[A], Double) = {
      val t0 = Clock.nowMs
      val r = Try(f)
      (r, (Clock.nowMs - t0) / 1e3)
    }
    def msg(e: Throwable): String = e.toString.linesIterator.nextOption().getOrElse("").take(300)

    val firstCallMs = Clock.nowMs
    val compiles0 = compiles
    MemoryPeaks.start()
    span("warehouse.setup")(Warehouse.createAllTables(spark, wh))

    val etl0 = Clock.nowMs
    var loadSeconds = 0.0
    Sources.foreach { s =>
      val (r, secs) = timed(span("load", s, outputs = None) {
        val res =
          if (tracer.isEmpty)
            IngestJob.load(spark, s, s"$work/input/$s.jsonl", Warehouse.tablePath(wh, s), nowMs = nowMs)
          else tracedLoad(spark, tracer.get, s, s"$work/input/$s.jsonl", Warehouse.tablePath(wh, s), nowMs)
        span("ingest.metadata")(IngestJob.recordMetadata(
          spark, s"$wh/extraction_metadata", res, nowMs, sourceUrls = Seq(s"$s.jsonl")))
        res
      })
      loadSeconds += secs
      r match {
        case Success(res) =>
          ops += Op("load", s, ok = true)
          loads += Json.obj(
            "source" -> Json.str(s),
            "total" -> Json.num(res.report.total),
            "valid" -> Json.num(res.report.valid),
            "invalid" -> Json.num(res.report.invalid),
            "corrupt" -> Json.num(res.report.errorCounts.getOrElse(CorruptKey, 0L)),
            "incoming" -> Json.num(res.upsert.incoming),
            "inserted" -> Json.num(res.upsert.inserted),
            "duplicates" -> Json.num(res.upsert.duplicates),
            "seconds" -> Json.num(secs))
        case Failure(e) => ops += Op("load", s, ok = false, msg(e))
      }
    }

    val registry = GenerationViews.registry(wh)
    val views: Map[String, Long] =
      if (tracer.isEmpty) {
        try {
          val m = Refresh.refreshForSources(spark, wh, registry, Sources)
          m.keys.foreach(v => ops += Op("refresh", v, ok = true))
          m
        } catch { case NonFatal(e) => ops += Op("refresh", "all", ok = false, msg(e)); Map.empty }
      } else {
        Sources.flatMap(registry.viewsFor).distinctBy(_.name).flatMap { job =>
          val r = Try(span("views", job.name)(Refresh.refreshView(spark, wh, job)))
          ops += Op("refresh", job.name, r.isSuccess, r.failed.toOption.map(msg).getOrElse(""))
          r.toOption.map(job.name -> _)
        }.toMap
      }

    val ex = Try(span("warehouse.export")(export(spark, wh, exportDir)))
    ops += Op("export", "entsoe_country_fuel", ex.isSuccess, ex.failed.toOption.map(msg).getOrElse(""))
    val etlEnd = Clock.nowMs
    val (peakSparkMb, peakOldMb) = MemoryPeaks.stopMb()

    Json.obj(
      "first_call_ms" -> Json.num(firstCallMs),
      "etl_s" -> Json.num((etlEnd - etl0) / 1e3),
      "load_s" -> Json.num(loadSeconds),
      "peak_spark_memory_mb" -> Json.num(peakSparkMb),
      "peak_old_gen_mb" -> Json.num(peakOldMb),
      "codegen_compiles" -> Json.num(compiles - compiles0),
      "loads" -> Json.arr(loads.result()),
      "views" -> Json.map(views),
      "export_dir" -> Json.str(exportDir),
      "ops" -> Json.arr(ops.result().map(o => Json.obj(
        "kind" -> Json.str(o.kind), "name" -> Json.str(o.name), "ok" -> Json.bool(o.ok),
        "error" -> Json.str(o.error)))),
    )
  }

  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The multi-metric monthly ENTSOE rollup at country × fuel
    * granularity, one CSV per year (the CLI's aggregate-export). */
  def export(spark: SparkSession, wh: String, outDir: String): Unit = {
    val dims = Seq("country_code", "psr_type")
    val monthly = Rollups.multiMetricMonthly(
      spark.read.parquet(Warehouse.tablePath(wh, "entsoe")),
      Rollups.msToTs(col("timestamp_ms")),
      dims.map(d => d -> col(d)),
      col(Schemas.measureColumn("entsoe")),
    ).withColumn("year", substring(col("month"), 1, 4))
    Warehouse.exportCsvByYear(monthly, "year", outDir, sortCols = "month" +: dims)
  }

  /** `IngestJob.load`, layer by layer: each layer's output is cached
    * and counted inside its own span. The counts it returns are the
    * ones `IngestJob.load` reports for the same input. */
  def tracedLoad(
      spark: SparkSession,
      t: Tracer,
      source: String,
      path: String,
      tablePath: String,
      nowMs: Long,
  ): IngestJob.LoadResult = {
    val runId = java.util.UUID.randomUUID().toString
    val held = Seq.newBuilder[DataFrame]
    def keep(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); held += c; c }
    try {
      val (good, corrupt) = t.span("ingest.scan", source) {
        val raw = JsonlSource.readJsonlWithVariant(spark, path, Schemas.readSchemas(source))
        val (good, bad) = JsonlSource.splitCorrupt(raw) // caches the parse
        held += raw
        (good, bad.count())
      }
      val enriched = t.span("ingest.enrich", source)(keep(IngestJob.enrich(source, good, runId, nowMs)))
      val variant = col(JsonlSource.VariantCol)
      val (annotated, total, vc, effRunId) = t.span("validate", source) {
        val rules = IngestJob.rules(source, nowMs, isMissing = Rules.variantMissing(variant)) ++
          IngestJob.typeRules(source)
        val annotated = keep(Validator.annotate(enriched, rules))
        val stats = annotated.agg(
          count(lit(1)),
          coalesce(sum(when(Validator.isValid, 1L).otherwise(0L)), lit(0L)),
          min(when(Validator.isValid, col("extraction_run_id")))).head()
        (annotated, stats.getLong(0), stats.getLong(1), Option(stats.getString(2)).getOrElse(runId))
      }
      val deduped = t.span("dedup", source)(keep(Dedup
        .firstWinsByName(Validator.validRecords(annotated).drop(JsonlSource.VariantCol),
          Schemas.naturalKeys(source), Seq(JsonlSource.LineOrderCol))
        .drop(JsonlSource.LineOrderCol)))
      val upsert = t.span("sink", source, Some(tablePath))(IdempotentAppend.appendNew(
        spark, deduped, tablePath, Schemas.naturalKeys(source),
        nullSafeCols = Schemas.nullSafeKeyParts(source), incomingCount = Some(vc)))
      val report = t.span("validate", source)(Validator.reportWith(
        annotated, total, vc, total - vc, duplicates = upsert.duplicates, corrupt = corrupt))
      IngestJob.LoadResult(source, report, upsert, effRunId)
    } finally held.result().foreach(_.unpersist())
  }
}
