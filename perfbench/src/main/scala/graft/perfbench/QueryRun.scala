package graft.perfbench

import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** The warm query suite: `SparkEntry.queries` entries over a generated
  * corpus, each executed through the noop sink (every output column is
  * evaluated, nothing is written), in a seed-chosen order.
  *
  * Set-up warms the session with untimed passes; timed passes follow
  * until the time budget is spent (and at least `minExecs` executions
  * are timed). A final untimed pass writes every
  * output as parquet with the oracle SQL beside it, for the DuckDB
  * comparison. */
object QueryRun {

  val WarmupPasses = 2

  /** One timed execution; `sparkMb` is its managed-memory peak (MemoryPeaks). */
  final case class Exec(name: String, pass: Int, seconds: Double, sparkMb: Double, ok: Boolean, error: String)

  private def noop(spark: SparkSession, corpus: String, name: String): Unit = {
    SparkEntry.queries(name)(spark, corpus).write.mode("overwrite").format("noop").save()
    // operators may cache intermediates; none may carry into the next query
    spark.catalog.clearCache()
  }

  private def exec(spark: SparkSession, corpus: String, name: String, pass: Int): Exec = {
    val base = MemoryPeaks.mark()
    val t0 = Clock.nowMs
    try {
      noop(spark, corpus, name)
      Exec(name, pass, (Clock.nowMs - t0) / 1e3, MemoryPeaks.managedAboveMb(base), ok = true, "")
    } catch {
      case NonFatal(e) =>
        spark.catalog.clearCache()
        Exec(name, pass, (Clock.nowMs - t0) / 1e3, MemoryPeaks.managedAboveMb(base), ok = false,
          e.toString.linesIterator.nextOption().getOrElse("").take(300))
    }
  }

  /** Visiting order of pass `pass`: a permutation drawn from the seed. */
  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names.sorted)

  def run(
      spark: SparkSession,
      corpus: String,
      names: Seq[String],
      seed: Long,
      seconds: Double,
      minExecs: Int,
      tracer: Option[Tracer],
      verifyDir: String,
  ): Json.Value = {
    // two untimed passes: the first compiles, the second warms the JIT.
    // Pass times keep falling over the first three timed passes (4.7, 4.4,
    // 4.2, 4.1, 4.1 s on 4 vCPUs); the per-query median over a run's
    // passes takes the settled ones.
    for (_ <- 1 to WarmupPasses)
      names.foreach(n => try noop(spark, corpus, n) catch { case NonFatal(_) => spark.catalog.clearCache() })

    val firstCallMs = Clock.nowMs
    MemoryPeaks.start()
    val execs = Seq.newBuilder[Exec]
    var pass = 0
    while (pass == 0 || Clock.nowMs - firstCallMs < seconds * 1e3 || pass * names.size < minExecs) {
      order(names, seed, pass).foreach(n => execs += exec(spark, corpus, n, pass))
      pass += 1
    }
    val (_, peakOldMb) = MemoryPeaks.stopMb()

    val traced = tracer.map { t =>
      t.install()
      val c0 = EtlRun.compiles
      val xs = order(names, seed, pass).map(n =>
        t.span(SuiteFamilies.layer(n), n)(exec(spark, corpus, n, -1)))
      t.drain()
      (xs, EtlRun.compiles - c0)
    }

    val verified = names.map { n =>
      try {
        SparkEntry.queries(n)(spark, corpus).repartition(1).write.mode("overwrite")
          .parquet(s"$verifyDir/$n")
        spark.catalog.clearCache()
        n -> ""
      } catch { case NonFatal(e) => spark.catalog.clearCache(); n -> e.toString.take(300) }
    }
    val oracle = SparkEntry.oracleSqlFor(corpus).filter(kv => names.contains(kv._1))
    Json.write(s"$verifyDir/oracle_sql.json",
      Json.obj(oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }: _*))

    def execJson(e: Exec) = Json.obj("name" -> Json.str(e.name), "pass" -> Json.num(e.pass.toLong),
      "seconds" -> Json.num(e.seconds), "spark_mb" -> Json.num(e.sparkMb), "ok" -> Json.bool(e.ok), "error" -> Json.str(e.error))
    Json.obj(
      "first_call_ms" -> Json.num(firstCallMs),
      "peak_old_gen_mb" -> Json.num(peakOldMb),
      "execs" -> Json.arr(execs.result().map(execJson)),
      "verify_errors" -> Json.obj(verified.filter(_._2.nonEmpty).map { case (n, e) => n -> Json.str(e) }: _*),
      "traced_execs" -> Json.arr(traced.toSeq.flatMap(_._1).map(execJson)),
      "traced_codegen_compiles" -> Json.num(traced.map(_._2).getOrElse(0L)),
    )
  }
}

/** Query layers: families, by the letters that open a query's name. */
object SuiteFamilies {
  def layer(name: String): String = name.takeWhile(_.isLetter) match {
    case "a" | "j" | "m" | "u" | "w" => "q.agg"
    case "p" | "s" | "i" | "d" => "q.pipeline"
    case "t" => "q.text"
    case "td" => "q.text_dedup"
    case "v" => "q.sim"
    case "tp" => "q.curation"
    case "mm" => "q.multimodal"
    case other => s"q.$other"
  }
}
