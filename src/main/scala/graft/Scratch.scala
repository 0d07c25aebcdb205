package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.graftshim.Bridge

/** The one lifecycle for harness-ephemeral data: streaming replay
  * chunks and checkpoints, lake-layout and interchange round-trip
  * dirs, docset round-trips. [[landed]] and [[withDir]] create a fresh
  * directory, run the caller's body in it and delete it afterwards, on
  * success and on failure; [[landed]] also materializes the body's
  * frame before the delete, so no caller can return a lazy read of
  * files that are gone. The allocator itself ([[dir]]) is private, and
  * `ScratchGuardSpec` keeps temp-directory creation and recursive
  * deletes out of the rest of `src/main`.
  *
  * It is also the one materialization barrier: [[pin]] is the only
  * `localCheckpoint` in `src/main`, [[pinnedRdds]] the only walk for
  * the blocks behind a pinned frame ([[unpin]] releases them), and
  * [[logged]] the record of every barrier a run passed.
  *
  * On hosts with a writable /dev/shm (and headroom — below) the
  * scratch lives on tmpfs; otherwise it falls back to the JVM's
  * original java.io.tmpdir.
  *
  * Why: every completion-harness micro-batch pays sink + checkpoint
  * + RocksDB commit IO, and the io_* layout queries pay manifest and
  * listing IO — all of it ephemeral-by-construction (the harness
  * deletes these dirs at query end). Paying disk fsync latency for
  * data that never needs durability both slows the suite (~20
  * streaming queries x several micro-batches each) and couples
  * benchmark numbers to host disk silicon (the r16 cross-VM
  * io_skipping/io_compaction residual). At deployment scale these
  * locations are object-store/NVMe paths chosen by the operator, so
  * the medium is a harness concern, not an engine semantic.
  *
  * What deliberately does NOT ride tmpfs: shuffle spill. Spill
  * exists to relieve memory pressure; spilling INTO RAM-backed tmpfs
  * consumes the memory it was relieving (and /dev/shm is commonly
  * capped at 50% of RAM — ENOSPC mid-run). [[redirectTmpdir]]
  * therefore pins `spark.local.dir` (the shuffle/block-manager
  * scratch, which otherwise follows java.io.tmpdir) to the ORIGINAL
  * disk tmpdir before moving java.io.tmpdir to tmpfs, and the
  * redirect itself is gated on tmpfs headroom. Bulk fixtures (e.g.
  * the scale probe's Nx parquet copies) use [[withDiskDir]], never
  * the tmpfs root.
  *
  * Stale-entry sweep: each JVM owns one `run-<pid>` subdirectory and
  * only ever allocates inside it. At first use, sibling run dirs are
  * removed iff their owning process is DEAD (`/proc/<pid>` gone) —
  * liveness, not mtime, so a concurrent run that has been going
  * longer than any age cutoff (a long scale probe) can never have
  * its live scratch swept out from under it. Unparseable leftovers
  * (a pre-run-dir layout, a crashed mkdir) fall back to a 6 h age
  * gate.
  */
object Scratch {

  /** The JVM's tmpdir as it was BEFORE any redirect — the disk
    * location for spill and bulk fixtures.
    */
  private[graft] val originalTmpdir: String =
    System.getProperty("java.io.tmpdir", "/tmp")

  private val RunDir = raw"run-(\d+)".r

  private def pidAlive(pid: Long): Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"/proc/$pid"))

  private def sweepStale(root: java.io.File): Unit = {
    val ageCutoff = System.currentTimeMillis() - 6L * 3600 * 1000
    Option(root.listFiles()).getOrElse(Array.empty).foreach { f =>
      f.getName match {
        case RunDir(pid) => if (!pidAlive(pid.toLong)) deleteRec(f)
        case _ => if (f.lastModified() < ageCutoff) deleteRec(f)
      }
    }
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete(): Unit
  }

  /** Require this much usable tmpfs before pointing ephemeral IO at
    * it: the harness working set (one query's replay chunks or
    * round-trip files + streaming checkpoints + RocksDB working dirs)
    * stays well under 1 GiB at sf0.1, so 4 GiB of headroom means the
    * redirect can never be the thing that fills /dev/shm.
    */
  private val MinTmpfsBytes = 4L << 30

  /** `<parent>/graft-scratch`, created and liveness-swept — or None
    * if it can't be created. Both the tmpfs and the disk-fallback
    * paths go through here so dead runs' scratch (replay chunks,
    * RocksDB checkpoints — GBs at probe scale) is swept on EITHER
    * medium, and the per-pid run dirs never sit unscoped in a shared
    * tmpdir root. The sweep only ever runs inside a graft-scratch
    * dir we own, never on the bare system tmpdir.
    */
  private[graft] def scopedRoot(parent: java.io.File): Option[java.io.File] = {
    val d = new java.io.File(parent, "graft-scratch")
    if (d.isDirectory || d.mkdirs()) { sweepStale(d); Some(d) }
    else None
  }

  /** This run's scratch root: tmpfs-backed if /dev/shm is writable
    * with headroom, else the original disk tmpdir. Always a per-pid
    * subdirectory (the liveness unit the sweep keys on).
    */
  lazy val base: java.nio.file.Path = {
    val shm = new java.io.File("/dev/shm")
    val tmpfsRoot =
      if (shm.isDirectory && shm.canWrite &&
          shm.getUsableSpace >= MinTmpfsBytes) scopedRoot(shm)
      else None
    val root = tmpfsRoot
      .orElse(scopedRoot(new java.io.File(originalTmpdir)))
      // Last resort (unwritable tmpdir root is already fatal for
      // Spark itself): unscoped and unswept by design — sweeping a
      // shared system tmpdir would delete files we don't own.
      .getOrElse(new java.io.File(originalTmpdir))
    val mine = new java.io.File(root,
      s"run-${ProcessHandle.current().pid()}")
    mine.mkdirs()
    mine.toPath
  }

  /** A fresh scratch directory under [[base]]. Private: callers get
    * one through [[landed]] or [[withDir]], which delete it.
    */
  private def dir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(base, prefix)

  /** Runs `body` in a fresh scratch directory and returns its frame
    * pinned under `prefix` (see [[pin]]), so the rows stay readable
    * after the directory is deleted — also when `body` returns a lazy
    * read of the files it wrote. The directory is deleted on success
    * and on failure.
    */
  def landed(prefix: String)(body: java.io.File => DataFrame): DataFrame =
    withDir(prefix)(d => pin(prefix, body(d)))

  /** [[landed]]'s lifecycle without the materialization, for a result
    * that never reads the directory (a memory-sink table).
    */
  def withDir[A](prefix: String)(body: java.io.File => A): A =
    deletedAfter(dir(prefix))(body)

  /** [[withDir]] on the DISK-backed original tmpdir, for bulk data that
    * must not compete with RAM: scale-probe fixture copies, anything
    * multi-GB.
    */
  def withDiskDir[A](prefix: String)(body: java.io.File => A): A =
    deletedAfter(java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(originalTmpdir), prefix))(body)

  private def deletedAfter[A](d: java.nio.file.Path)(
      body: java.io.File => A): A = {
    val f = d.toFile
    try body(f) finally deleteRec(f)
  }

  /** One entry of the barrier log: a frame's label, its
    * `QueryExecution` and, for a [[pin]], the pin's wall milliseconds
    * (None for a [[note]]).
    */
  final case class Logged(label: String, plan: QueryExecution,
      ms: Option[Double])

  private val log =
    new AtomicReference[Option[ConcurrentLinkedQueue[Logged]]](None)

  /** Runs `body` with the barrier log on and returns what it logged, in
    * order. Nothing is formatted here: a `QueryExecution` is explained
    * later, outside whatever `body` timed.
    */
  def logged[A](body: => A): (A, Seq[Logged]) = {
    val q = new ConcurrentLinkedQueue[Logged]()
    val was = log.getAndSet(Some(q))
    try { val a = body; (a, q.asScala.toSeq) } finally log.set(was)
  }

  private def append(e: => Logged): Unit = log.get.foreach(_.add(e))

  /** Logs `df`'s plan under `label` without pinning it: a frame a loop
    * only `head()`s or `collect()`s, whose shape the plan audit reads.
    * Its physical plan is built here, while the caches it reads are
    * live, so the later explain shows the plan that ran.
    */
  def note(label: String, df: DataFrame): Unit = append {
    df.queryExecution.executedPlan
    Logged(label, df.queryExecution, None)
  }

  /** The one materialization barrier: `df` as a `localCheckpoint`
    * (eager unless `eager = false`), or as it is when it is pinned
    * already, so a second pin never duplicates cached blocks. A frame
    * is pinned when its plan is a `LogicalRDD` over a checkpointed RDD
    * (materialized), or, for a lazy pin, over one that is only marked
    * for a local checkpoint. A `LogicalRDD` over a plain RDD
    * (`createDataFrame(rdd, schema)`) reads its input again on every
    * action, so it is pinned in both cases. While [[logged]] runs, the
    * pin is logged under `label` with `df`'s execution and wall time.
    *
    * A lazy pin is not free of jobs: under AQE, building the RDD of a
    * plan with an exchange materializes the query stages below it, so
    * the pin runs those shuffle stages when it is taken (the later
    * action then computes only the final stage). A lazy pin over an
    * exchange-free frame starts no job.
    */
  def pin(label: String, df: DataFrame, eager: Boolean = true): DataFrame = {
    val t0 = System.nanoTime()
    val pinned = rddOf(df.queryExecution.logical).exists(rdd =>
      rdd.isCheckpointed || (!eager && Bridge.isLocallyCheckpointed(rdd)))
    val out = if (pinned) df else df.localCheckpoint(eager)
    append(Logged(label, df.queryExecution,
      Some((System.nanoTime() - t0) / 1e6)))
    out
  }

  /** The RDDs behind `df`'s `LogicalRDD` leaves: the blocks its pins
    * hold (`df.rdd` would derive a fresh RDD from the plan instead).
    */
  private[graft] def pinnedRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectLeaves().flatMap(rddOf)

  /** Releases the blocks behind `df`'s pins ([[pinnedRdds]]). */
  private[graft] def unpin(df: DataFrame): Unit =
    pinnedRdds(df).foreach(_.unpersist(blocking = false))

  private def rddOf(plan: LogicalPlan): Option[RDD[_]] = plan match {
    case lr: LogicalRDD => Some(lr.rdd)
    case _ => None
  }

  /** Point the JVM's java.io.tmpdir at the tmpfs scratch root, so
    * the IMPLICIT ephemeral paths follow too: RocksDB state-store
    * working dirs, and the temporary checkpoint Spark creates for a
    * streaming query started without one (the registry's never are).
    * Shuffle spill does NOT follow: `spark.local.dir` is pinned first
    * (via system property, read by SparkConf at session build) to the
    * original disk tmpdir — see the class doc for why spill must stay
    * off RAM. Called by the Bench and Verify mains BEFORE
    * the session is built; a library user's JVM is never touched.
    */
  def redirectTmpdir(): Unit =
    if (base.toString.startsWith("/dev/shm")) {
      if (System.getProperty("spark.local.dir") == null)
        System.setProperty("spark.local.dir", originalTmpdir): Unit
      System.setProperty("java.io.tmpdir", base.toString): Unit
    }
}
