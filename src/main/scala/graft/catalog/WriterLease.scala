package graft.catalog

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Single-writer lease over numbered generations, built on the lake's
  * create-if-absent primitive ([[SnapshotLake.atomicCreate]]) the way
  * [[SnapshotLake.claimVersion]] claims versions. It serves the MUTABLE
  * stores (the streaming IVF vector store and the dedup signature
  * store): every writer entry point
  * ([[graft.operators.SimilarityOps.extendVectorStore]],
  * `compactVectorStore`, `splitHotCells`, `mergeColdCells`,
  * `maintainVectorStore`, [[graft.operators.DedupOps.compactStore]],
  * `DedupOps.probeAndExtend`) holds `<store>.writer.lease/` (a sibling
  * of the store path) for the duration of the call. The partitioned
  * lake takes no lease: its commits serialize on publishing a snapshot
  * file ([[PartitionedSnapshotLake]]).
  *
  * Why a lease: every store write commits one snapshot-lake version
  * ([[StoreLake]]), so any SINGLE writer is safe to kill anywhere, but
  * two CONCURRENT writers interleave destructively (a compaction
  * commits its own base, so an append that committed after the
  * compaction read its pin is dropped from every later read). The
  * lease makes that a loud [[ConcurrentWriterException]] instead of
  * quiet data loss.
  *
  * Layout: the lease directory holds generation files named `g`
  * (content: the holder's stamp `what pid= host= start=`) and release
  * markers `g.released`. The highest generation on disk decides.
  *  - CLAIM: list the directory once; the lease is claimable when
  *    there is no generation, or the highest generation `g` is
  *    released, older than `staleMs` on the filesystem clock
  *    ([[SnapshotLake.fsNow]], probed only when `g` is unreleased; no
  *    heartbeat — default [[DefaultStaleLeaseMs]], 10 min), this
  *    process's recorded orphan
  *    (its release failed), or stamped by a dead or recycled pid on
  *    this host. The claimant then creates `g+1` create-if-absent with
  *    its stamp, re-lists to check that no higher generation predates
  *    it (the [[SnapshotLake.claimVersion]] ABA recheck: a sweep may
  *    have freed an old number), and deletes the generations below,
  *    best-effort. Two contenders that judged `g` claimable both
  *    target `g+1` and exactly one create succeeds; the loser re-lists
  *    and finds a live holder. No takeover ever moves or deletes the
  *    file a holder holds, so no live holder is displaced by a
  *    contender acting on an outdated listing.
  *  - HOLD: a daemon heartbeat touches the held generation file every
  *    [[SnapshotLake.heartbeatIntervalMs]] (30 s), so a live writer
  *    never looks stale. A process FROZEN longer than `staleMs` (STW
  *    pause, SIGSTOP) can still be superseded — the bound inherent to
  *    lease-style locks.
  *  - RELEASE: create `g.released` for the holder's own generation;
  *    reads nothing. A superseded holder marks a generation no claim
  *    reads.
  *  - SAME-PROCESS contention never reaches the filesystem: a
  *    `putIfAbsent` registration admits one claiming or holding thread
  *    per store string.
  *  - BOUNDED WAIT (opt-in): `withLease(waitMs = …)` retries a refused
  *    claim every [[ClaimWaitPollMs]] until the window closes.
  *  - REENTRANT per thread: [[graft.operators.SimilarityOps
  *    .maintainVectorStore]] claims once and the primitives it
  *    sequences re-enter without touching the filesystem.
  *
  * READERS NEVER LOCK: a store reader pins the newest commit marker
  * and reads only immutable committed versions ([[StoreLake.pin]]). */
object WriterLease {

  /** A live concurrent writer holds the store's lease. The caller
    * must back off (or crash) — proceeding would interleave two
    * writers on a store whose contract is single-writer. */
  class ConcurrentWriterException(msg: String)
    extends IllegalStateException(msg)

  /** Takeover horizon: a generation this stale (no heartbeat for 20
    * production beat intervals) is a crashed holder's residue. */
  val DefaultStaleLeaseMs: Long = 10L * 60 * 1000

  /** Claim attempts before giving up — each retry means another
    * claimant created the generation this one targeted, and the next
    * listing normally shows it live; exceeding the bound means the
    * filesystem is misbehaving, which must surface. */
  private val MaxClaimAttempts = 5

  /** Poll interval for [[withLease]]'s bounded-wait claim. */
  private[catalog] val ClaimWaitPollMs: Long = 50L

  def leasePath(store: String): Path = new Path(store + ".writer.lease")

  private def genPath(lease: Path, g: Long) = new Path(lease, g.toString)

  private val ReleasedName = """^(\d+)\.released$""".r

  /** The stores whose lease this THREAD holds — the reentrancy set.
    * Keyed by the store string as passed. */
  private val held =
    new ThreadLocal[scala.collection.mutable.Set[String]] {
      override def initialValue(): scala.collection.mutable.Set[String] =
        scala.collection.mutable.Set.empty
    }

  /** The thread claiming or holding each store's lease in this
    * process. */
  private val liveInProcess =
    new java.util.concurrent.ConcurrentHashMap[String, Thread]()

  /** The generation this process last claimed per store, until its
    * release marker is written: a crashed call whose release failed
    * too leaves it unreleased, and a same-process restart reclaims it
    * at once instead of waiting out the horizon. Generations start at
    * 1, so 0 reads as "none". */
  private val orphans =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Run `body` holding the store's writer lease; claim on entry,
    * heartbeat while running, release on every exit. Reentrant within
    * the owning thread. With the default `waitMs = 0` a live holder
    * makes the claim throw [[ConcurrentWriterException]] at once; a
    * positive `waitMs` retries the claim (in-process and on disk)
    * every [[ClaimWaitPollMs]] until it wins or the window closes,
    * then throws the same exception. The wait covers the claim only:
    * exceptions from `body` propagate untouched. */
  def withLease[T](fs: FileSystem, store: String, what: String,
      staleMs: Long = DefaultStaleLeaseMs, waitMs: Long = 0L)
      (body: => T): T = {
    val mine = held.get()
    if (mine.contains(store)) return body // reentrant hold
    val lease = leasePath(store)
    val start = System.currentTimeMillis()
    val deadline = // saturated: waitMs = Long.MaxValue waits forever
      if (waitMs > Long.MaxValue - start) Long.MaxValue
      else start + math.max(0L, waitMs)
    var g = 0L
    while (g == 0L) {
      try g = registerAndClaim(fs, lease, store, what, staleMs)
      catch {
        case e: ConcurrentWriterException =>
          val now = System.currentTimeMillis()
          if (now >= deadline) throw e
          Thread.sleep(math.min(ClaimWaitPollMs, deadline - now))
      }
    }
    try {
      mine += store
      try SnapshotLake.withLockHeartbeat(fs, genPath(lease, g))(body)
      finally {
        mine -= store
        // runs while this thread is still the registered in-process
        // holder, so no sibling thread claims before the marker lands
        try {
          SnapshotLake.atomicCreate(fs, new Path(lease, s"$g.released"))
          orphans.remove(store, g): Unit
        } catch { case _: java.io.IOException => () } // stays an orphan
      }
    } finally
      liveInProcess.remove(store, Thread.currentThread()): Unit
  }

  /** One claim attempt: register this thread as the in-process holder
    * (atomic putIfAbsent), then claim on disk; unregisters on any
    * claim failure so a retry or another thread can claim next. */
  private def registerAndClaim(fs: FileSystem, lease: Path,
      store: String, what: String, staleMs: Long): Long = {
    val prev = liveInProcess.putIfAbsent(store, Thread.currentThread())
    if (prev != null)
      throw new ConcurrentWriterException(
        s"store writer lease $lease is held by live thread " +
          s"'${prev.getName}' in this process; refusing to run " +
          s"'$what' concurrently — the mutable stores are " +
          "single-writer")
    var ok = false
    try {
      val g = claim(fs, lease, store, what, staleMs)
      ok = true
      g
    } finally
      if (!ok) liveInProcess.remove(store, Thread.currentThread()): Unit
  }

  /** One listing of the lease directory; empty when it does not
    * exist. */
  private def listing(fs: FileSystem, lease: Path): Seq[FileStatus] =
    try fs.listStatus(lease).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** The generation a generation file or release marker belongs to. */
  private def genOf(st: FileStatus): Option[Long] =
    st.getPath.getName match {
      case ReleasedName(g) => Some(g.toLong)
      case name => name.toLongOption
    }

  /** The highest generation in a listing: its number, its generation
    * file (absent only when deleted by hand), and whether it is
    * released. */
  private final case class Top(gen: Long, file: Option[FileStatus],
      released: Boolean)

  private def top(ls: Seq[FileStatus]): Option[Top] =
    ls.flatMap(genOf).maxOption.map { g =>
      Top(g, ls.find(_.getPath.getName == g.toString),
        ls.exists(_.getPath.getName == s"$g.released"))
    }

  /** Why the unreleased highest generation may be superseded, or None
    * while its holder is live: older than `staleMs` on the filesystem
    * clock (`now`, [[SnapshotLake.fsNow]] — the clock that stamped the
    * generation's mtime), this process's orphan, or a dead or recycled
    * same-host pid. */
  private def vacancy(fs: FileSystem, lease: Path, store: String, t: Top,
      staleMs: Long, now: Long): Option[String] = {
    val age = t.file.fold(Long.MaxValue)(now - _.getModificationTime)
    if (age > staleMs)
      Some(s"stale: age $age ms > $staleMs ms — crashed holder")
    else if (orphans.getOrDefault(store, 0L) == t.gen)
      Some("this process's orphan: a failed call's release failed too")
    else readStamp(fs, genPath(lease, t.gen))
      .filter(isDeadLocalHolder)
      .map(s => s"dead same-host holder [$s]")
  }

  /** Claim the next generation; returns its number. */
  private def claim(fs: FileSystem, lease: Path, store: String,
      what: String, staleMs: Long): Long = {
    var attempt = 0
    while (attempt < MaxClaimAttempts) {
      attempt += 1
      val prev = top(listing(fs, lease))
      // the clock is probed only against an unreleased generation, so
      // an uncontended claim makes no filesystem call for it
      val why = prev.map { t =>
        if (t.released) "released"
        else {
          val now = SnapshotLake.fsNow(fs, lease)
          vacancy(fs, lease, store, t, staleMs, now)
            .getOrElse(throw liveHolder(fs, lease, t, what, staleMs, now))
        }
      }
      val g = prev.fold(1L)(_.gen + 1)
      if (SnapshotLake.atomicCreate(fs, genPath(lease, g), stamp(what))) {
        val ls = listing(fs, lease)
        if (top(ls).exists(_.gen == g)) {
          orphans.put(store, g)
          why.filter(_ != "released").foreach(w =>
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"took over writer lease $lease at generation $g for " +
                s"'$what' (generation ${g - 1}: $w)"))
          // sweep the generations below ours, and the clock probes
          // ([[SnapshotLake.fsNow]]) a failed delete left, once older
          // than `staleMs` on the clock our generation's mtime reads
          val now = ls.find(_.getPath.getName == g.toString)
            .map(_.getModificationTime)
          ls.filter(st => genOf(st).exists(_ < g) ||
              st.getPath.getName.startsWith("clock.") &&
                now.exists(_ - st.getModificationTime > staleMs))
            .foreach(st =>
              try fs.delete(st.getPath, false)
              catch { case _: java.io.IOException => () })
          return g
        }
        // a higher generation predates our create (our listing was
        // older than the sweep that freed `g`): ours is debris
        try fs.delete(genPath(lease, g), false)
        catch { case _: java.io.IOException => () }
      }
    }
    throw new IllegalStateException(
      s"could not claim writer lease $lease after $MaxClaimAttempts " +
        "attempts — generations keep appearing, which points at " +
        "filesystem misbehavior, not contention")
  }

  private def liveHolder(fs: FileSystem, lease: Path, t: Top, what: String,
      staleMs: Long, now: Long): ConcurrentWriterException = {
    val age = t.file.fold(0L)(now - _.getModificationTime)
    new ConcurrentWriterException(
      s"store writer lease $lease is held by a LIVE writer " +
        s"[${readStamp(fs, genPath(lease, t.gen)).getOrElse("(unstamped)")}] " +
        s"(generation ${t.gen}, age $age ms ≤ stale horizon $staleMs ms); " +
        s"refusing to run '$what' concurrently — the mutable stores are " +
        "single-writer")
  }

  /** The holder stamp a claim writes into its generation file. The
    * start field (the process's start instant, epoch ms, when the
    * kernel exposes one) makes the dead-pid check exact on a recycled
    * pid. */
  private def stamp(what: String): Array[Byte] = {
    val me = ProcessHandle.current()
    val start = startMillisOf(me).fold("")(ms => s"start=$ms ")
    (s"$what pid=${me.pid()} " +
      s"host=${java.net.InetAddress.getLocalHost.getHostName} $start")
      .getBytes("UTF-8")
  }

  /** Read a generation's stamp fully (a single read() may return short
    * on HDFS-likes). None on any fault or an empty file. */
  private def readStamp(fs: FileSystem, gen: Path): Option[String] =
    try {
      val in = fs.open(gen)
      try {
        val buf = new Array[Byte](512)
        var off = 0
        var n = in.read(buf, 0, buf.length)
        while (n > 0) {
          off += n
          n = if (off < buf.length) in.read(buf, off, buf.length - off)
            else 0
        }
        if (off > 0) Some(new String(buf, 0, off, "UTF-8")) else None
      } finally in.close()
    } catch { case _: java.io.IOException => None }

  private val PidHost = """ pid=(\d+) host=(\S+) """.r.unanchored

  /** Optional start-instant field (epoch ms); stamps without it keep
    * horizon rules. */
  private val StartField = """ start=(\d+) """.r.unanchored

  /** The process's start instant as epoch ms, if the kernel exposes
    * one. */
  private def startMillisOf(h: ProcessHandle): Option[Long] = {
    val si = h.info().startInstant()
    if (si.isPresent) Some(si.get().toEpochMilli) else None
  }

  /** Whether a stamp names a process on THIS host that no longer
    * exists, or whose pid now belongs to a process with a different
    * start instant (recycled). Conservative: foreign hosts, our own
    * pid, unreadable stamps and a live pid without start evidence on
    * both sides read as not dead. */
  private def isDeadLocalHolder(stamp: String): Boolean =
    stamp match {
      case s @ PidHost(pid, host) =>
        host == java.net.InetAddress.getLocalHost.getHostName &&
          pid != ProcessHandle.current().pid().toString &&
          scala.util.Try {
            val h = ProcessHandle.of(pid.toLong)
            if (!(h.isPresent && h.get().isAlive)) true
            else {
              val stampedStart = s match {
                case StartField(ms) => Some(ms.toLong)
                case _ => None
              }
              (stampedStart, startMillisOf(h.get())) match {
                case (Some(was), Some(now)) => was != now // recycled
                case _ => false // no start evidence: horizon rules
              }
            }
          }.getOrElse(false)
      case _ => false
    }
}
