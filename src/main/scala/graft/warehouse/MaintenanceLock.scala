package graft.warehouse

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}

/** Advisory per-table writer lease — `<table>.lock`, created
  * atomically as a sibling of the table dir so the publish renames
  * never move it. ONE file serializes all three writer-vs-writer
  * hazards a plain-parquet warehouse has:
  *
  *   - maintenance vs append: [[Warehouse.compact]] /
  *     [[Warehouse.updateSchema]] rewrite a table through a
  *     snapshot-read → [[graft.views.Publish.replace]] swap; rows appended
  *     between the snapshot read and the final rename live only in the
  *     retired `.old` copy and are destroyed when it is dropped.
  *     Maintenance holds the lease ([[withLock]]) for the duration of
  *     the rewrite and appends refuse while it exists.
  *   - append vs maintenance (the reverse race): an append now HOLDS
  *     the lease ([[acquireAppend]]) across its read-keys → stage →
  *     publish critical section, so maintenance cannot snapshot a
  *     table an append is mid-way through publishing into.
  *   - append vs append: two concurrent upserts of overlapping batches
  *     would each anti-join against a table missing the other's rows
  *     and both insert the overlap — the one transactional guarantee
  *     the reference gets for free from Postgres (its upserts run in a
  *     single `INSERT … ON CONFLICT` transaction, database.py:296-300).
  *     The lease serializes the whole read→publish section, so the
  *     second append's anti-join sees the first append's rows.
  *
  * Crash recovery is OP-AWARE, recorded in the lock body:
  *   - a crashed MAINTENANCE leaves the lock held by design — no
  *     writer touches the table until an operator has confirmed the
  *     maintenance process is dead and calls [[release]] (CLI `unlock
  *     --force`). If the crash fell between the swap's two renames,
  *     the only complete copy sits at `.old`: the next writer (append,
  *     compact, update-schema) restores it through
  *     [[graft.views.Publish.restore]] before it reads or lists the
  *     table, so nothing is lost or hidden;
  *   - a crashed APPEND is safe to self-heal: it left either nothing
  *     or a partial batch that the next idempotent anti-join run
  *     repairs, so an `append` lease older than the staleness bound is
  *     BROKEN automatically by the next acquirer. Size the bound above
  *     the longest believable append wall time (default 15 min;
  *     override per call) — a live append that overruns it can lose
  *     its lease, which the pre-publish ownership re-check turns into
  *     a retryable error rather than a silent double-insert.
  *
  * Advisory means: the check-then-act races (a steal between the
  * holder's ownership re-check and its renames; two stealers racing a
  * fresh claimant) are narrowed to microseconds but not closed —
  * closing them needs a catalog with real transactions (or an FS with
  * compare-and-delete), the same boundary as the reader note on
  * [[graft.views.Publish]]. It turns every silent-corruption scenario into an explicit,
  * retryable error for cooperating writers. */
object MaintenanceLock {

  /** Lock-body op written by append leases; the ONLY op eligible for
    * stale-breaking (see crash-recovery contract above). */
  val AppendOp = "append"

  /** Default staleness bound for breaking an abandoned append lease. */
  val DefaultStaleAppendMs: Long = 15 * 60 * 1000L

  /** Proof of lease ownership: `id` is matched against the lock body
    * before owner-only operations (scoped release, pre-publish
    * re-check). */
  final case class Lease(id: String, op: String)

  def lockPath(tablePath: String): Path =
    new Path(tablePath.stripSuffix("/") + ".lock")

  def isLocked(fs: FileSystem, tablePath: String): Boolean =
    fs.exists(lockPath(tablePath))

  /** Throw (with the lock's contents for triage) if maintenance holds
    * the table. Called by the append path before it publishes. */
  def assertUnlocked(fs: FileSystem, tablePath: String, op: String): Unit = {
    val p = lockPath(tablePath)
    if (fs.exists(p)) {
      val body =
        try {
          val in = fs.open(p)
          try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim
          finally in.close()
        } catch { case _: Exception => "<unreadable>" }
      throw new IllegalStateException(
        s"$op: table $tablePath is under maintenance ($body at ${p}); " +
          "retry after the maintenance completes (retryWithBackoff), or remove a " +
          "stale lock only after verifying no maintenance process is alive")
    }
  }

  /** One claim attempt: `create(overwrite = false)`, body
    * `"<op> <epochMillis> <leaseId>"`, then CLAIM-VERIFY — re-read the
    * lock and keep the claim only if OUR lease id survived. On HDFS
    * the create is atomic server-side and the verify is a formality;
    * on LocalFileSystem (and other ChecksumFileSystem wrappers) the
    * create is check-then-create, so two racers can both "win" it —
    * observed in the concurrent-append spec — and the body read-back
    * is the tiebreak: at most one claimer sees its own id. (The
    * pathological both-lose outcome — interleaved writes corrupting
    * the body — leaves an ownerless lock that ages out via the
    * unparseable-body staleness rule in [[acquireAppend]].)
    * None = lease not obtained. */
  def tryClaim(fs: FileSystem, tablePath: String, op: String): Option[Lease] = {
    require(!op.contains(' '), s"lease op must be a single token, got '$op'")
    val p = lockPath(tablePath)
    val out =
      try fs.create(p, false)
      catch { case _: java.io.IOException => return None }
    val lease = Lease(java.util.UUID.randomUUID().toString, op)
    try out.write(s"$op ${System.currentTimeMillis()} ${lease.id}"
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (status(fs, tablePath).exists(_.ownerId.contains(lease.id))) Some(lease)
    else None
  }

  /** Claim the table's writer lease for an append, retrying with
    * exponential backoff while another writer holds it, and breaking
    * an `append`-op lease older than `staleAppendMs` (see the
    * crash-recovery contract in the object doc — maintenance leases
    * are NEVER broken here). Throws after `attempts` refusals: append
    * contention past the backoff horizon means a stuck writer or a
    * maintenance window; both want a human or an outer
    * [[Warehouse.withRetry]], not a silent unbounded wait. */
  def acquireAppend(
      fs: FileSystem,
      tablePath: String,
      attempts: Int = 20,
      baseDelayMs: Long = 50,
      maxDelayMs: Long = 2000,
      staleAppendMs: Long = DefaultStaleAppendMs,
  ): Lease = {
    require(attempts >= 1, s"attempts must be >= 1, got $attempts")
    var attempt = 0
    while (true) {
      tryClaim(fs, tablePath, AppendOp) match {
        case Some(l) => return l
        case None =>
          status(fs, tablePath) match {
            case Some(st) =>
              val now = System.currentTimeMillis()
              // Stealable: a crashed APPEND (partial output, if any, is
              // exactly what the idempotent anti-join repairs), or an
              // UNPARSEABLE body — a claimer that died (or lost a
              // local-FS claim race) between create and body write made
              // no table changes at all. A parseable MAINTENANCE lease
              // is never broken here. Age comes from the body epoch
              // when parseable, else the lock file's mtime.
              val stealable = st.op == AppendOp || st.claimedAtMs.isEmpty
              val stale = st.claimedAtMs match {
                case Some(t) => now - t > staleAppendMs
                case None =>
                  try now - fs.getFileStatus(lockPath(tablePath)).getModificationTime > staleAppendMs
                  catch { case _: Exception => false }
              }
              if (stealable && stale) {
                // Re-read immediately before the delete so a lease
                // released-and-reclaimed since the first read is not
                // broken by mistake; the residual microsecond window is
                // the documented advisory boundary.
                val again = status(fs, tablePath)
                if (again.exists(a => a.raw == st.raw)) {
                  fs.delete(lockPath(tablePath), false)
                  ()
                }
              }
            case None => () // released meanwhile: loop and re-claim
          }
          attempt += 1
          if (attempt >= attempts) {
            val holder = status(fs, tablePath).map(_.raw).getOrElse("<released>")
            throw new IllegalStateException(
              s"acquireAppend: could not claim writer lease for $tablePath after " +
                s"$attempts attempts (holder: $holder); a maintenance window or a " +
                "live long append is serializing writers — retry later, or triage " +
                s"the lock at ${lockPath(tablePath)}")
          }
          val delay = math.min(maxDelayMs, baseDelayMs << math.min(attempt, 20))
          Thread.sleep(delay + scala.util.Random.nextLong(delay / 2 + 1))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Owner-scoped release: deletes the lock only while its body still
    * carries `lease.id` — a lease lost to a staleness break (and
    * possibly re-claimed by another writer) is left alone. */
  def release(fs: FileSystem, tablePath: String, lease: Lease): Unit =
    if (status(fs, tablePath).exists(_.ownerId.contains(lease.id))) {
      fs.delete(lockPath(tablePath), false)
      ()
    }

  /** Throw unless `lease` still owns the table's lock — the holder's
    * pre-publish re-check: an append that overran the staleness bound
    * and lost its lease must abort (retryable; the idempotent re-run
    * skips whatever it already published) instead of publishing into a
    * table another writer may now be mid-append on. */
  def assertHeld(fs: FileSystem, tablePath: String, op: String, lease: Lease): Unit = {
    val st = status(fs, tablePath)
    if (!st.exists(_.ownerId.contains(lease.id)))
      throw new IllegalStateException(
        s"$op: writer lease for $tablePath no longer held (now: " +
          s"${st.map(_.raw).getOrElse("<released>")}) — the lease was broken as " +
          "stale (append exceeded the staleness bound?); abort and retry the " +
          "idempotent append")
  }

  /** Run `body` holding the table's maintenance lock. Releases on
    * SUCCESS only: a failed rewrite may have died mid-swap, and a
    * failure seen here does not prove the rewriting work has stopped
    * — the lock stays held so every writer keeps refusing until the
    * state is triaged, exactly the crash story above. Fails fast if
    * another maintenance holds it. */
  def withLock[T](fs: FileSystem, tablePath: String, op: String)(body: => T): T = {
    val p = lockPath(tablePath)
    val lease = tryClaim(fs, tablePath, op).getOrElse {
      throw new IllegalStateException(
        s"$op: could not claim writer lease $p — another maintenance or " +
          "append holds it (or a maintenance crashed leaving the lock; " +
          s"inspect, then remove): ${status(fs, tablePath).map(_.raw).getOrElse("<gone>")}")
    }
    val result = body // a throw here keeps the lock — see scaladoc
    release(fs, tablePath, lease)
    result
  }

  def release(fs: FileSystem, tablePath: String): Unit = {
    fs.delete(lockPath(tablePath), false)
    ()
  }

  /** What a held lock says, for triage: the operation that claimed it,
    * when (epoch millis, None for a body that does not parse), the
    * lease id when the claimer recorded one ([[tryClaim]] bodies), and
    * the raw body for display. */
  final case class LockStatus(
      op: String,
      claimedAtMs: Option[Long],
      raw: String,
      ownerId: Option[String] = None) {
    def ageMs(nowMs: Long): Option[Long] = claimedAtMs.map(nowMs - _)
  }

  /** Read the lock without touching it: None when the table is not
    * under maintenance. The body is `"<op> <epochMillis>"` as written
    * by [[withLock]]; an unreadable or foreign body still reports,
    * with what it found, so triage never dead-ends. */
  def status(fs: FileSystem, tablePath: String): Option[LockStatus] = {
    val p = lockPath(tablePath)
    if (!fs.exists(p)) None
    else {
      val raw =
        try {
          val in = fs.open(p)
          try new String(in.readAllBytes(), StandardCharsets.UTF_8).trim
          finally in.close()
        } catch { case _: Exception => "<unreadable>" }
      raw.split(' ') match {
        // "<op> <millis> <leaseId>" — tryClaim bodies (op is one token)
        case parts
            if parts.length == 3 && parts(1).nonEmpty && parts(1).forall(_.isDigit) =>
          Some(LockStatus(parts(0), Some(parts(1).toLong), raw, Some(parts(2))))
        // "<op…> <millis>" — withLock bodies (op may contain spaces)
        case parts if parts.length >= 2 && parts.last.nonEmpty && parts.last.forall(_.isDigit) =>
          Some(LockStatus(parts.init.mkString(" "), Some(parts.last.toLong), raw))
        case _ => Some(LockStatus(raw, None, raw))
      }
    }
  }
}
