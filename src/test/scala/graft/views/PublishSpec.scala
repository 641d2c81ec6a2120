package graft.views

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.{Cli, SparkSpec}
import graft.ingest.IngestJob
import graft.sink.IdempotentAppend
import graft.validate.Validator
import graft.warehouse.Warehouse

/** The three states a crash can leave around a directory published
  * through [[Publish.replace]], run against every caller of the swap.
  * For each (caller, state): a reader sees the previous complete copy
  * or, between the two renames, nothing — never a torn one; the next
  * run publishes exactly what it publishes from an intact table; no
  * `.new`/`.old` sibling survives it; and a further run converges. */
class PublishSpec extends SparkSpec {
  import PublishSpec.Caller
  import spark.implicits._

  private val now = 1767282419683L
  private val runA = "550e8400-e29b-41d4-a716-446655440000"
  private val runB = "650e8400-e29b-41d4-a716-446655440000"

  private def fs: FileSystem = FileSystem.get(spark.sparkContext.hadoopConfiguration)
  private def exists(p: String): Boolean = fs.exists(new Path(p))
  private def rows(p: String): Seq[String] =
    spark.read.parquet(p).collect().map(_.toString).toSeq.sorted

  private def loadResult(run: String) = IngestJob.LoadResult("entsoe",
    Validator.Report(3L, 2L, 1L, 0L, Map("generation_mw" -> 1L), Seq("negative")),
    IdempotentAppend.UpsertResult(2L, 2L, 0L), run)

  private def metaPath(wh: String) = s"$wh/extraction_metadata"

  private def view(wh: String) = Refresh.ViewJob("mv_mod3", s =>
    s.read.parquet(s"$wh/src").groupBy($"id" % 3).count())

  private val callers = Seq(
    Caller("refreshView",
      wh => {
        spark.range(10).write.parquet(s"$wh/src")
        Refresh.refreshView(spark, wh, view(wh))
        Refresh.viewPath(wh, view(wh).name)
      },
      wh => {
        spark.range(20).write.mode("overwrite").parquet(s"$wh/src")
        Refresh.refreshView(spark, wh, view(wh))
        ()
      }),
    Caller("compact",
      wh => {
        spark.range(100).repartition(10).write.parquet(s"$wh/t")
        s"$wh/t"
      },
      wh => { Warehouse.compact(spark, s"$wh/t", targetFileBytes = 512L * 1024 * 1024); () }),
    Caller("updateSchema",
      wh => {
        // entsoe as stored before data_type existed, measure as float
        Seq((runA, now, 1577836800000L, "DE", "B04", "Plant A", "Fossil Gas", 100.5f, 60))
          .toDF("extraction_run_id", "created_at_ms", "timestamp_ms", "country_code",
            "psr_type", "plant_name", "fuel_type", "generation_mw", "resolution_minutes")
          .write.parquet(Warehouse.tablePath(wh, "entsoe"))
        Warehouse.tablePath(wh, "entsoe")
      },
      wh => { Warehouse.updateSchema(spark, wh, "entsoe"); () }),
    Caller("recordMetadata",
      wh => {
        IngestJob.recordMetadata(spark, metaPath(wh), loadResult(runA), now)
        metaPath(wh)
      },
      wh => IngestJob.recordMetadata(spark, metaPath(wh), loadResult(runB), now + 1)),
    Caller("backfill",
      wh => {
        Seq((runA, 1577836800000L), (runA, 1609459200000L))
          .toDF("extraction_run_id", "timestamp_ms")
          .write.parquet(Warehouse.tablePath(wh, "entsoe"))
        IngestJob.recordMetadata(spark, metaPath(wh), loadResult(runA), now)
        metaPath(wh)
      },
      wh => assert(Cli.run(spark, Seq("backfill", "entsoe", "--warehouse", wh)) == 0)),
  )

  private def junk(p: String): Unit = Seq(-1).toDF("torn").write.parquet(p)

  /** A crash state, made from a published copy at the given path. */
  private val states = Seq[(String, String => Unit)](
    "a leftover .new" -> (p => junk(p + ".new")),
    "only .old, target retired" -> (p => assert(fs.rename(new Path(p), new Path(p + ".old")))),
    "a stale .old beside a live target" -> (p => junk(p + ".old")),
  )

  private val intact = scala.collection.mutable.Map.empty[String, Seq[String]]

  /** What the caller publishes when no crash preceded its run. */
  private def fromIntact(c: Caller): Seq[String] = intact.getOrElseUpdate(c.name, {
    val wh = Files.createTempDirectory("graft-publish-intact").toString
    val p = c.prepare(wh)
    c.run(wh)
    rows(p)
  })

  for (c <- callers; (state, crash) <- states)
    test(s"${c.name} recovers from $state") {
      val wh = Files.createTempDirectory("graft-publish").toString
      val p = c.prepare(wh)
      val before = rows(p)
      crash(p)
      if (exists(p)) assert(rows(p) == before, "reader saw a torn copy")
      else assert(rows(p + ".old") == before, "retired copy is not the last complete one")

      c.run(wh)
      assert(rows(p) == fromIntact(c))
      assert(!exists(p + ".new") && !exists(p + ".old"), "swap sibling left behind")
      c.run(wh)
      assert(rows(p) == fromIntact(c), "re-run did not converge")
    }
}

object PublishSpec {

  /** A caller of the swap: `prepare` publishes a first copy into a
    * fresh warehouse and returns its path; `run` is the next write. */
  final case class Caller(name: String, prepare: String => String, run: String => Unit)
}
