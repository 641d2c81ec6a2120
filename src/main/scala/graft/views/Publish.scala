package graft.views

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

/** The one crash-safe way a directory is atomically replaced, and the
  * one persisted-index lifecycle built on it.
  *
  * Postgres gives the reference atomic replacement for free
  * (`REFRESH MATERIALIZED VIEW CONCURRENTLY`, one `INSERT … ON
  * CONFLICT` transaction). On plain parquet directories graft rebuilds
  * it as a rename protocol over two siblings of the published path:
  * the next copy is written complete to `<path>.new`, the live copy is
  * retired to `<path>.old`, `.new` is promoted, `.old` is dropped. Each
  * copy is complete before any rename, so a reader never sees a
  * half-written table. The protocol is NOT reader-atomic: between the
  * two renames the published path is absent, and a reader landing in
  * that window must retry (true atomicity needs a catalog/manifest
  * layer, out of scope for plain parquet directories).
  *
  * A crash leaves one of three states, each repaired by the next
  * writer of the path:
  *   - a leftover `.new` (died before or while promoting): overwritten
  *     by the next write;
  *   - only `.old` (died between the two renames): [[restore]] puts it
  *     back before anything reads or lists the path;
  *   - a stale `.old` beside a live target (died before the final
  *     drop): deleted before the next retire.
  *
  * This object is the only place that names the `.new`/`.old`
  * siblings; a spec fails if another main source builds one.
  */
object Publish {

  private def newPath(path: String): Path = new Path(path.stripSuffix("/") + ".new")
  private def oldPath(path: String): Path = new Path(path.stripSuffix("/") + ".old")

  private def fileSystem(spark: SparkSession): FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** Crash recovery: republish a retired `.old` copy when the published
    * path is absent. Returns whether the path exists afterwards. The
    * `.old` probe runs only when the path is absent, so the common case
    * costs the one `exists` call a caller would make anyway. A
    * concurrent restorer that wins the rename is not an error. */
  def restore(fs: FileSystem, path: String): Boolean = {
    val target = new Path(path)
    fs.exists(target) || {
      val old = oldPath(path)
      fs.exists(old) && (fs.rename(old, target) || fs.exists(target) ||
        (throw new java.io.IOException(s"cannot restore $old -> $target")))
    }
  }

  /** Replace the directory at `path` with the output of `build`:
    * restore a retired `.old` first (so `build` may read the current
    * copy), write `.new` with the row count observed on the write,
    * retire the live copy to `.old`, promote `.new`, drop `.old`.
    * Returns the published row count.
    *
    * `partitionBy` lays the copy out hive-partitioned on those columns.
    * The frame is first clustered on them: dynamic partitioning from
    * unclustered input makes every write task emit a file into every
    * value's directory (measured at the sf10 IVF index build: 32 tasks
    * × 2048 cells = 92k files for ONE table); one hash shuffle makes it
    * one file per value. */
  def replace(spark: SparkSession, path: String, partitionBy: Seq[String] = Nil)(
      build: => DataFrame): Long = {
    val fs = fileSystem(spark)
    val (target, tmp, old) = (new Path(path), newPath(path), oldPath(path))
    restore(fs, path)
    val built = build
    val df = if (partitionBy.isEmpty) built else built.repartition(partitionBy.map(col): _*)
    val obs = new Observation()
    val writer = df.observe(obs, count(lit(1)).as("n")).write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(tmp.toString)
    val n = obs.get("n").asInstanceOf[Long]
    if (fs.exists(old)) fs.delete(old, true)
    // Hadoop rename reports most failures by returning false — an
    // unchecked rename here silently publishes nothing.
    if (fs.exists(target) && !fs.rename(target, old))
      throw new java.io.IOException(s"cannot retire $target")
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"cannot publish $tmp -> $target")
    if (fs.exists(old)) fs.delete(old, true)
    n
  }

  /** Where a persisted index keeps its validity marker. */
  def metaPath(warehouse: String, name: String): String =
    Refresh.viewPath(warehouse, s"${name}_meta")

  // One monitor per index: concurrent queries sharing an index (Verify
  // runs the query map concurrently) build it exactly once.
  private val buildLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Persisted-index lifecycle: run `build` unless the index's meta
    * marker records exactly `signature` (the index's version, its
    * parameters and whatever drift detector it counts over its input).
    * The marker is deleted before `build` and published after it, so a
    * crash mid-build leaves no marker and the next call rebuilds
    * instead of serving a torn index. `build` publishes the index's
    * tables, normally through [[replace]]. Builds of one index are
    * serialized within the JVM; cross-process build races are out of
    * scope, as for every persisted query artifact here. */
  def ensure(spark: SparkSession, warehouse: String, name: String,
      signature: Seq[(String, Long)])(build: => Unit): Unit = {
    require(signature.map(_._1).distinct.size == signature.size,
      s"duplicate signature keys for index $name")
    val meta = metaPath(warehouse, name)
    buildLocks.computeIfAbsent(meta, _ => new Object).synchronized {
      val fs = fileSystem(spark)
      val current =
        if (!fs.exists(new Path(meta))) None
        else {
          val df = spark.read.parquet(meta)
          // a marker in another layout (an older build) never matches
          if (df.columns.toSeq != Seq("key", "value")) None
          else Some(df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
        }
      if (!current.contains(signature.toMap)) {
        fs.delete(new Path(meta), true)
        fs.delete(oldPath(meta), true)
        build
        import spark.implicits._
        replace(spark, meta)(signature.toDF("key", "value").repartition(1))
      }
    }
  }
}
