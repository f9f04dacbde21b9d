package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** A second writer raced the single-writer warehouse contract: the
  * table's lease file names the holder. Fail-loud by design — the
  * reference serializes writers externally (Airflow sensors), and a
  * silent interleave of two staged swaps can lose rows.
  */
final class ConcurrentWriterException(msg: String)
  extends RuntimeException(msg)

/** Enforced single-writer lease for warehouse mutations.
  *
  * The reference's warehouse inherits Postgres MVCC, so two concurrent
  * `INSERT ... ON CONFLICT` writers are merely serialized
  * (`transformed_from_s3_to_pg.py:143-152` runs inside a transaction).
  * A parquet directory has no such referee: [[Upsert]]'s staged
  * append/merge is correct under the reference's own single-writer
  * discipline but nothing ENFORCED it — until here. Every mutating
  * publish path acquires `<table>.__writer_lease` for its duration;
  * a second concurrent writer fails immediately and loudly with the
  * holder's identity instead of silently interleaving half-applied
  * swaps.
  *
  * Mechanics: `FileSystem.create(path, overwrite = false)` — atomic
  * exclusive create on HDFS and HDFS-like stores (and on S3 since
  * conditional writes; best-effort check-then-create on the local
  * RawLocalFileSystem, which is fine for tests and single-host runs).
  * The lease carries holder host/pid/time for the diagnostic. Released
  * in `finally`; a writer that DIES leaves the lease behind on purpose
  * — a crashed staged swap needs a human (or orchestrator retry policy)
  * to look before the next write proceeds. [[breakLease]] is the
  * explicit recovery step, mirroring the reference's manual Airflow
  * task-clear.
  *
  * Stale-lease self-healing: a lease whose recorded holder is on THIS
  * host and provably dead (`ProcessHandle.of(pid)` empty or not alive)
  * is auto-broken and re-acquired. Without this, [[Retry.withRetries]]
  * — the reference's 5×5-min automatic policy, which self-heals there
  * because Postgres MVCC releases a dead connection's locks — would
  * dead-end: every retry of an idempotent run whose predecessor crashed
  * holding the lease fails on [[ConcurrentWriterException]] until a
  * human intervenes. Every mutation behind the lease is a staged
  * append/swap designed to be re-run over a half-finished predecessor
  * (see [[Upsert]]), so retaking a dead local writer's lease is safe.
  * A holder on ANOTHER host stays fail-loud: liveness can't be checked
  * remotely, and guessing wrong risks two interleaved swaps. (On a
  * multi-host cluster, pair this with the orchestrator's own
  * serialization, as the reference pairs Postgres locks with Airflow
  * sensors.)
  */
object WriterLease {

  /** Table paths whose lease THIS thread already holds — `withLease` is
    * reentrant per thread, so a lease-holding writer can compose other
    * lease-guarded steps (e.g. a merge deciding to `Manifest.vacuum`)
    * without reading its own live lease file as a concurrent writer.
    * Thread-local, not process-wide: two threads of one process racing
    * the same table ARE concurrent writers and must stay fail-loud.
    */
  private val held = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  /** Run `body` holding the exclusive writer lease for `tablePath`.
    * Reentrant within a thread (the inner call is a no-op pass-through).
    * @throws ConcurrentWriterException when another writer holds it
    */
  def withLease[A](spark: SparkSession, tablePath: String)(body: => A): A =
    if (held.get().contains(tablePath)) body
    else {
      held.set(held.get() + tablePath)
      try withLeaseAcquire(spark, tablePath)(body)
      finally held.set(held.get() - tablePath)
    }

  private def withLeaseAcquire[A](spark: SparkSession, tablePath: String)(
      body: => A): A = {
    val lease = leasePath(tablePath)
    val fs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (lease.getParent != null) fs.mkdirs(lease.getParent)
    val holder = s"host=${localHost()} " +
      s"pid=${ProcessHandle.current.pid} " +
      s"acquired=${java.time.Instant.now}"
    // Bounded acquisition loop: one stale-break buys one fresh create
    // attempt; losing that race to another healer is a live CONCURRENT
    // writer and correctly fails loud.
    var out: org.apache.hadoop.fs.FSDataOutputStream = null
    var staleBreaks = 0
    while (out == null) {
      try out = fs.create(lease, false)
      catch {
        case e: java.io.IOException =>
          val existing =
            try {
              val in = fs.open(lease)
              try new String(in.readAllBytes(), "UTF-8").trim
              finally in.close()
            } catch { case _: java.io.IOException => "<unreadable>" }
          if (staleBreaks < 1 && isStaleLocalHolder(existing)) {
            staleBreaks += 1
            fs.delete(lease, false)
          } else throw new ConcurrentWriterException(
            s"another writer holds the lease for $tablePath ($existing); " +
              s"single-writer contract violated — if that writer crashed " +
              s"on another host, inspect the table and " +
              s"WriterLease.breakLease it (${e.getMessage})")
      }
    }
    try out.write(holder.getBytes("UTF-8"))
    finally out.close()
    try body
    finally fs.delete(lease, false)
  }

  /** True iff the lease text names a holder on THIS host whose pid is
    * provably not running — the only case where breaking someone else's
    * lease is safe without remote liveness. Parse failures and live (or
    * reused-and-live) pids read as NOT stale: conservative fail-loud.
    */
  private[graft] def isStaleLocalHolder(leaseText: String): Boolean = {
    val kv = leaseText.split("\\s+").iterator
      .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    (kv.get("host"), kv.get("pid").flatMap(_.toLongOption)) match {
      case (Some(h), Some(pid)) if h == localHost() =>
        val ph = ProcessHandle.of(pid)
        !ph.isPresent || !ph.get().isAlive
      case _ => false
    }
  }

  private def localHost(): String =
    java.net.InetAddress.getLocalHost.getHostName

  /** Explicit recovery from a crashed writer: remove the stale lease
    * after inspecting the table. Returns true iff a lease was removed.
    */
  def breakLease(spark: SparkSession, tablePath: String): Boolean = {
    val lease = leasePath(tablePath)
    lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(lease, false)
  }

  private def leasePath(tablePath: String) =
    new Path(tablePath + ".__writer_lease")
}
