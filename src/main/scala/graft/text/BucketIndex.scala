package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.DecimalType

import graft.views.{Publish, Refresh}

/** Persisted, refresh-maintained LSH (band, bucket) index over an
  * already-admitted BASE corpus — the [[graft.sim.IvfIndex]] pattern
  * applied to the incremental near-dup gate. [[TextDedup]] documents
  * that "in production the base side is the stored bucket index, not
  * a re-derivation from base text"; until r17 the td11 query path
  * nevertheless re-shingled, re-signed and re-bucketed the full base
  * corpus inside every call. This module makes the stored index real:
  *
  *   - the index is the distinct (band, bucket) set of
  *     [[TextDedup.minhashBuckets]] over the base — byte-identical to
  *     the per-call derivation, so the gate's drop set is unchanged;
  *   - published through the atomic swap
  *     ([[graft.views.Publish.replace]]) under the shared
  *     persisted-index lifecycle ([[graft.views.Publish.ensure]]): a
  *     meta marker written LAST is the validity marker, and [[ensure]]
  *     rebuilds when it is missing or disagrees with (version, shingle
  *     k, numHashes, bands, base row count, base content hash) — a
  *     crash mid-build or a base change can never serve a stale index
  *     silently;
  *   - at 100 TB the build is a scheduled refresh job (one
  *     shingle+signature pass over the base, amortized across every
  *     batch admitted between refreshes — in steady state the
  *     streaming sink APPENDS each admitted batch's buckets instead of
  *     rebuilding, which is exactly what
  *     [[graft.streaming.StreamingIngest]] does with its bucket
  *     store); the gate's query path reads published slim
  *     (band, bucket) parquet and pays one left-semi join.
  *
  * Measurement contract: Bench/Verify purge the warehouse at startup
  * ([[graft.SparkEntry.purgePersistedIndexes]]), so every invocation
  * provably rebuilds the index from the parquet inputs (in Bench's
  * untimed warm-up — the IvfIndex/t30 pattern).
  */
object BucketIndex {

  /** Bumped whenever the bucket derivation changes — a persisted
    * index from an older version never serves. */
  val Version = 1

  final case class Handle(warehouse: String, name: String) {
    def bucketsPath: String = Refresh.viewPath(warehouse, s"${name}_buckets")
  }

  /** Return a handle to a valid bucket index for (base, params),
    * building it if absent or stale. Staleness = meta marker missing,
    * or any of (version, k, numHashes, bands, base row count, base
    * content hash) changed. The content hash is an order-independent
    * sum of per-row (id, text) hashes, computed in the same aggregate
    * that counts the base; it is summed as a decimal, which cannot
    * overflow at any real row count, and folded to its low 64 bits
    * once collected. It catches a base edited in place at the same row
    * count, which the row count alone (the [[graft.sim.IvfIndex]]
    * drift detector) serves stale. */
  def ensure(
      spark: SparkSession,
      warehouse: String,
      name: String,
      base: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      numHashes: Int,
      bands: Int,
  ): Handle = {
    val h = Handle(warehouse, name)
    val stats = base.agg(count(lit(1)),
      sum(xxhash64(col(idCol), col(textCol)).cast(DecimalType(38, 0)))).head()
    val contentHash = Option(stats.getDecimal(1)).fold(0L)(_.toBigInteger.longValue)
    val signature = Seq("version" -> Version.toLong, "n" -> stats.getLong(0),
      "content_hash" -> contentHash, "k" -> k.toLong,
      "num_hashes" -> numHashes.toLong, "bands" -> bands.toLong)
    Publish.ensure(spark, warehouse, name, signature)(
      Publish.replace(spark, h.bucketsPath)(
        TextDedup.minhashBuckets(base, idCol, textCol, k, numHashes, bands)
          .select("band", "bucket").distinct()))
    h
  }

  /** The published slim (band, bucket) table. */
  def buckets(spark: SparkSession, h: Handle): DataFrame =
    spark.read.parquet(h.bucketsPath)
}
