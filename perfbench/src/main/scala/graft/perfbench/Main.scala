package graft.perfbench

import graft.{Defaults, SparkEntry}

/** Benchmark harness process. `perfbench/run.py` starts it once per ETL
  * pass (a cold process, as the one-JVM-per-command CLI is) and once
  * per query-suite run (a warm, long-lived session):
  *
  *   etl   --work DIR --now-ms MS --trace 0|1 --out FILE
  *   query --corpus DIR --queries a,b,.. --seed N --seconds S
  *         [--min-execs N] --verify DIR --trace 0|1 --out FILE
  *
  * It writes its raw measurements as one JSON object to FILE. */
object Main {
  def main(args: Array[String]): Unit = {
    val mode = args.head
    val opt = args.tail.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val trace = opt.get("trace").contains("1")
    if (mode == "query") SparkEntry.purgePersistedIndexes(opt("corpus"))

    MemoryPeaks.install()
    val spark = Defaults.sessionBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (trace) Some(new Tracer(spark)) else None

    val result = mode match {
      case "etl" =>
        tracer.foreach(_.install())
        val pass = EtlRun.run(spark, opt("work"), opt("now-ms").toLong, tracer)
        tracer.foreach(_.drain())
        pass
      case "query" =>
        QueryRun.run(spark, opt("corpus"), opt("queries").split(',').toSeq, opt("seed").toLong,
          opt("seconds").toDouble, opt.getOrElse("min-execs", "0").toInt, tracer, opt("verify"))
      case other => throw new IllegalArgumentException(s"unknown mode: $other")
    }
    Json.write(opt("out"), Json.obj(
      "result" -> result,
      "trace" -> tracer.map(Tracer.toJson).getOrElse(Json.obj()),
    ))
    spark.stop()
  }
}
