package graft.catalog

import java.net.URI
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.operators.{DedupOps, SimilarityOps}

/** The single-writer lease on the mutable stores: exactly one of two
  * racing writers proceeds, the loser fails loudly, a crashed holder's
  * stale generation is superseded, a live holder's heartbeat defeats
  * the stale horizon, no contender acting on an outdated listing
  * displaces a live holder, and the store survives a refused writer
  * bit-for-bit. */
class WriterLeaseSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  import WriterLeaseSpec._

  private def localFs = new Path("/tmp")
    .getFileSystem(spark.sessionState.newHadoopConf())

  private def newStore(prefix: String): String = java.nio.file.Files
    .createTempDirectory(prefix).resolve("store").toString

  test("two racing writer threads: exactly one body runs, the loser " +
      "throws ConcurrentWriterException, the lease is gone afterward") {
    val store = newStore("leaserace")
    val fs = localFs
    val inBody = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val refused = new java.util.concurrent.atomic.AtomicInteger(0)
    def writer(): Runnable = () =>
      try WriterLease.withLease(fs, store, "race-test") {
        ran.incrementAndGet()
        inBody.countDown()
        release.await(20, TimeUnit.SECONDS): Unit
      } catch {
        case _: WriterLease.ConcurrentWriterException =>
          refused.incrementAndGet(): Unit
      }
    val t1 = new Thread(writer()); t1.start()
    assert(inBody.await(20, TimeUnit.SECONDS), "holder never entered")
    // t2 races while t1 provably holds the lease
    val t2 = new Thread(writer()); t2.start()
    t2.join(20000)
    assert(refused.get() == 1, "second writer was not refused")
    assert(ran.get() == 1, "both writers ran concurrently")
    release.countDown()
    t1.join(20000)
    assert(unreleased(fs, store).isEmpty, "lease not released on exit")
    // after release, a new claim proceeds
    WriterLease.withLease(fs, store, "race-test-2") { ran.incrementAndGet() }
    assert(ran.get() == 2)
  }

  test("a crashed holder's stale lease is reclaimed; a LIVE holder's " +
      "heartbeat keeps it fresh past the stale horizon") {
    val store = newStore("leasestale")
    val fs = localFs
    // a crashed holder: generation 1, far past the horizon, whose
    // owner will never heartbeat again
    plant(fs, store, 1L, "crashed pid=1 host=elsewhere ", ageMs = 3600000L)
    var reclaimed = false
    WriterLease.withLease(fs, store, "takeover-test",
        staleMs = 60000L) { reclaimed = true }
    assert(reclaimed, "stale lease was not taken over")
    assert(unreleased(fs, store).isEmpty, "takeover left a held generation")
    assert(!fs.exists(new Path(WriterLease.leasePath(store), "1")),
      "the superseded generation was not swept")

    // live holder: shrink the heartbeat so the generation's mtime
    // refreshes inside a sub-second stale horizon — the contender must
    // STILL be refused even though the holder entered longer than
    // staleMs ago
    val prevBeat = SnapshotLake.heartbeatIntervalMs
    SnapshotLake.heartbeatIntervalMs = 100L
    try {
      val entered = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val t = new Thread(() =>
        WriterLease.withLease(fs, store, "live-holder") {
          entered.countDown()
          release.await(20, TimeUnit.SECONDS): Unit
        })
      t.start()
      assert(entered.await(20, TimeUnit.SECONDS))
      Thread.sleep(1200) // > staleMs below; ≥ several heartbeats
      intercept[WriterLease.ConcurrentWriterException] {
        WriterLease.withLease(fs, store, "contender",
          staleMs = 800L) { fail("contender body must not run") }
      }
      release.countDown()
      t.join(20000)
    } finally SnapshotLake.heartbeatIntervalMs = prevBeat
  }

  test("lease ages are taken on the filesystem clock: on a filesystem " +
      "whose mtimes lag the host by 2 h, a fresh foreign generation " +
      "still refuses a contender") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.skewfs.impl", classOf[LaggingMtimeFs].getName)
    val store = "skewfs://" + newStore("leaseskew")
    val fs = new Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a holder on another host just claimed generation 1; on the host
    // clock its mtime reads 2 h old, past the 10 min stale horizon
    plant(fs, store, 1L, "holder pid=1 host=elsewhere ")
    val e = intercept[WriterLease.ConcurrentWriterException] {
      WriterLease.withLease(fs, store, "contender") {
        throw new AssertionError("the live holder was taken over")
      }
    }
    assert(e.getMessage.contains("LIVE"), e.getMessage)
    assert(unreleased(fs, store) == Seq(1L))
  }

  test("two contenders that both list a stale lease under two spellings " +
      "of one store: at most one body runs at a time, the late one " +
      "waits for the holder") {
    val fs = new StaleRaceFs
    fs.initialize(URI.create("racefs:///"),
      spark.sessionState.newHadoopConf())
    val store = newStore("leasestalerace")
    // two spellings of one store, so the in-process registry (keyed by
    // the store string) does not serialize the contenders: only the
    // on-disk protocol does
    val (storeA, storeB) = (store, s"racefs://$store")
    val lease = WriterLease.leasePath(store)
    val stale = System.currentTimeMillis() - 3600000L
    plant(localFs, store, 1L, "crashed pid=1 host=elsewhere ",
      ageMs = 3600000L)
    // the lease path itself aged too, so a layout that stats the path
    // also reads the lease as stale
    assert(new java.io.File(lease.toUri.getPath).setLastModified(stale))
    StaleRaceFs.reset(lease.toUri.getPath)
    val inBody = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInBody = new java.util.concurrent.atomic.AtomicInteger(0)
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def contender(r: String, st: String): Thread = new Thread(() => {
      StaleRaceFs.role.set(r)
      try WriterLease.withLease(fs, st, s"contender-$r", staleMs = 60000L,
          waitMs = 30000L) {
        maxInBody.accumulateAndGet(inBody.incrementAndGet(), math.max)
        if (r == "A") StaleRaceFs.aInBody.countDown()
        Thread.sleep(1000) // B acts on its outdated listing meanwhile
        inBody.decrementAndGet()
        ran.add(r)
      } catch { case t: Throwable => errors.add(t) }
    })
    val ts = Seq(contender("A", storeA), contender("B", storeB))
    ts.foreach(_.start()); ts.foreach(_.join(60000))
    assert(StaleRaceFs.timeouts.isEmpty,
      s"the race schedule did not run: ${StaleRaceFs.timeouts}")
    assert(errors.isEmpty, s"a contender failed: $errors")
    assert(maxInBody.get == 1,
      "two bodies ran at once: the late contender displaced the holder")
    assert(ran.size == 2, s"not both contenders ran in turn: $ran")
    assert(unreleased(localFs, store).isEmpty)
  }

  test("withLease(waitMs = Long.MaxValue) waits for the holder instead " +
      "of throwing at once") {
    val fs = localFs
    val store = newStore("leasemaxwait")
    val entered = new CountDownLatch(1)
    val t = new Thread(() =>
      WriterLease.withLease(fs, store, "holder") {
        entered.countDown()
        Thread.sleep(300)
      })
    t.start()
    assert(entered.await(20, TimeUnit.SECONDS), "holder never entered")
    var ran = false
    WriterLease.withLease(fs, store, "unbounded", waitMs = Long.MaxValue) {
      ran = true
    }
    t.join(20000)
    assert(ran)
  }

  test("a sweep-delete fault neither aborts a stale takeover nor leaks " +
      "the debris past the next claim's sweep") {
    val flaky = new FlakyDeleteFs(localFs)
    val store = newStore("leasesweep")
    val lease = WriterLease.leasePath(store)
    plant(flaky, store, 1L, "crashed pid=1 host=elsewhere ",
      ageMs = 3600000L)
    // takeover with EVERY delete faulted: generation 2 is claimed, so
    // the claim must succeed — and the stale generation stays behind
    flaky.failDeletes = true
    var ran = false
    try WriterLease.withLease(flaky, store, "sweep-faulted",
      staleMs = 60000L) { ran = true }
    finally flaky.failDeletes = false
    assert(ran, "takeover aborted on a best-effort sweep delete")
    assert(flaky.exists(new Path(lease, "1")),
      "expected the faulted sweep to leave generation 1 behind")
    // the next claim (deletes healthy) sweeps every generation below
    // its own; the faulted claim's filesystem-clock probe (its delete
    // failed too) is young, so it stays
    ran = false
    WriterLease.withLease(flaky, store, "sweeper") { ran = true }
    assert(ran)
    def names = flaky.listStatus(lease).map(_.getPath.getName).toSet
    val (probes, gens) = names.partition(_.startsWith("clock."))
    assert(gens == Set("3", "3.released"),
      "the next claim did not sweep the earlier generations")
    assert(probes.size == 1, s"expected the faulted probe, got $probes")
    // once the probe is older than the stale horizon, the next claim
    // drops it; a young probe (a contender's, mid-read) stays
    val old = new Path(lease, probes.head)
    flaky.setTimes(old, System.currentTimeMillis() - 3600000L, -1)
    val young = new Path(lease, "clock.young")
    flaky.create(young, true).close()
    WriterLease.withLease(flaky, store, "probe-sweeper") {}
    assert(!flaky.exists(old), "the aged clock probe was not swept")
    assert(flaky.exists(young), "a young clock probe was swept")
  }

  /** Local FS whose delete, create and open can each be made to throw.
    * It reports a scheme other than `file`, so the lease's
    * create-if-absent goes through [[create]] (non-atomic on a local
    * disk, which these single-claimant cases do not need). */
  private class FlakyDeleteFs(underlying: org.apache.hadoop.fs.FileSystem)
      extends org.apache.hadoop.fs.FilterFileSystem(underlying) {
    // FilterFileSystem does not delegate getScheme (the base throws
    // UnsupportedOperationException)
    override def getScheme: String = "flaky"
    @volatile var failDeletes = false
    @volatile var failCreates = false
    @volatile var failReads = false
    override def delete(p: Path, recursive: Boolean): Boolean =
      if (failDeletes) throw new java.io.IOException("injected delete fault")
      else super.delete(p, recursive)
    override def open(f: Path, bufferSize: Int)
        : org.apache.hadoop.fs.FSDataInputStream =
      if (failReads) throw new java.io.IOException("injected read fault")
      else super.open(f, bufferSize)
    override def create(f: Path,
        permission: org.apache.hadoop.fs.permission.FsPermission,
        overwrite: Boolean, bufferSize: Int, replication: Short,
        blockSize: Long,
        progress: org.apache.hadoop.util.Progressable)
        : org.apache.hadoop.fs.FSDataOutputStream =
      if (failCreates) throw new java.io.IOException("injected create fault")
      else super.create(f, permission, overwrite, bufferSize,
        replication, blockSize, progress)
  }

  /** A store whose writer crashed and whose release failed too (one
    * fault takes both — the kill-point fuzz's shape): its generation
    * stays unreleased. `emptyStamp` also empties the generation file,
    * as a stamp lost with the crash. */
  private def orphanedStore(flaky: FlakyDeleteFs, prefix: String,
      emptyStamp: Boolean = false): String = {
    val store = newStore(prefix)
    try {
      val e = intercept[RuntimeException] {
        WriterLease.withLease(flaky, store, "crasher") {
          if (emptyStamp)
            flaky.create(new Path(WriterLease.leasePath(store),
              unreleased(flaky, store).max.toString), true).close()
          flaky.failCreates = true
          throw new RuntimeException("body died")
        }
      }
      assert(e.getMessage == "body died", s"unexpected failure: $e")
    } finally flaky.failCreates = false
    assert(unreleased(flaky, store).nonEmpty,
      "crashed call left no orphan generation")
    store
  }

  test("same-process orphan: a crashed call whose release delete also " +
      "failed is reclaimed immediately (token match / unstamped), but a " +
      "foreign writer's fresh stamped lease is refused even with the " +
      "orphan marker set") {
    val flaky = new FlakyDeleteFs(localFs)

    // the unreleased generation is this process's recorded orphan →
    // immediate reclaim, no 10-minute horizon wait (default staleMs)
    val s1 = orphanedStore(flaky, "leaseorphan1")
    var ran = false
    WriterLease.withLease(flaky, s1, "restart") { ran = true }
    assert(ran, "same-process restart did not reclaim its own orphan")
    assert(unreleased(flaky, s1).isEmpty)

    // the orphan is recognized by its generation number, not its
    // content: an emptied generation file still reclaims
    val s2 = orphanedStore(flaky, "leaseorphan2", emptyStamp = true)
    ran = false
    WriterLease.withLease(flaky, s2, "restart") { ran = true }
    assert(ran, "unstamped same-process orphan was not reclaimed")

    // a foreign takeover beat the retry: a newer, fresh generation
    // carries ANOTHER writer's stamp — the orphan record must not
    // steal it
    val s3 = orphanedStore(flaky, "leaseorphan3")
    plant(flaky, s3, unreleased(flaky, s3).max + 1,
      "foreign-maint pid=99999 host=elsewhere ")
    intercept[WriterLease.ConcurrentWriterException] {
      WriterLease.withLease(flaky, s3, "retry") {
        fail("stole a live foreign writer's lease")
      }
    }
  }

  test("a thawed FROZEN writer's release leaves the takeover holder's " +
      "fresh lease intact (token-checked release, r14 ask #2)") {
    val fs = localFs
    val store = newStore("leasefrozen")
    val lease = WriterLease.leasePath(store)
    val entered = new CountDownLatch(1)
    val thaw = new CountDownLatch(1)
    val t = new Thread(() =>
      WriterLease.withLease(fs, store, "frozen-writer") {
        entered.countDown()
        // the "freeze": the body outlives a foreign takeover staged by
        // the test thread below, then thaws and runs its release
        thaw.await(20, TimeUnit.SECONDS): Unit
      })
    t.start()
    assert(entered.await(20, TimeUnit.SECONDS), "holder never entered")
    // the cross-process takeover the frozen writer cannot see: a
    // contender that judged generation 1 stale claims generation 2
    // (direct FS ops — a real second process would not be visible to
    // the in-process registries either, which is the point)
    plant(fs, store, 2L, "foreign-maint pid=1 host=elsewhere ")
    thaw.countDown()
    t.join(20000)
    assert(fs.exists(new Path(lease, "1.released")),
      "the thawed writer did not mark its own generation released")
    assert(unreleased(fs, store) == Seq(2L),
      "the thawed frozen writer released the takeover holder's lease")
    // and the fresh foreign generation still refuses the next claim —
    // no silent third writer
    intercept[WriterLease.ConcurrentWriterException] {
      WriterLease.withLease(fs, store, "third-writer") {
        fail("third writer ran against a live foreign lease")
      }
    }
  }

  test("unstamped-takeover release window: a thawed writer marks only " +
      "its own generation, an UNSTAMPED newer generation stays live, and " +
      "an unstamped own generation still releases") {
    val fs = localFs
    // (a) a takeover whose stamp was lost left a fresh EMPTY newer
    // generation; the thawed writer's release must leave it held
    val s1 = newStore("leaseunstamped")
    val entered = new CountDownLatch(1)
    val thaw = new CountDownLatch(1)
    val t = new Thread(() =>
      WriterLease.withLease(fs, s1, "frozen-writer") {
        entered.countDown()
        thaw.await(20, TimeUnit.SECONDS): Unit
      })
    t.start()
    assert(entered.await(20, TimeUnit.SECONDS), "holder never entered")
    plant(fs, s1, 2L, "") // fresh, unstamped
    thaw.countDown()
    t.join(20000)
    assert(unreleased(fs, s1) == Seq(2L),
      "the thawed writer released the takeover's UNSTAMPED generation")
    intercept[WriterLease.ConcurrentWriterException] {
      WriterLease.withLease(fs, s1, "third-writer") {
        fail("third writer ran against a live unstamped generation")
      }
    }

    // (b) the release reads nothing: a holder whose own generation
    // file lost its stamp still releases it (no leaked lease)
    val s2 = newStore("leasenostamp")
    var ran = false
    WriterLease.withLease(fs, s2, "stampless-writer") {
      ran = true
      val g = unreleased(fs, s2)
      assert(g == Seq(1L), s"claim did not create generation 1: $g")
      fs.create(new Path(WriterLease.leasePath(s2), "1"), true).close()
    }
    assert(ran)
    assert(unreleased(fs, s2).isEmpty,
      "an unstamped own generation was not released")
  }

  test("a transient stamp-read fault neither blocks a release (which " +
      "reads nothing) nor lets a claim take a live generation over") {
    val flaky = new FlakyDeleteFs(localFs)
    val store = newStore("leasereadfault")
    flaky.failReads = true
    try {
      var ran = false
      WriterLease.withLease(flaky, store, "read-faulted-release") {
        ran = true
      }
      assert(ran)
      assert(unreleased(flaky, store).isEmpty,
        "release depended on a read")
      // the next claim proceeds at once: the released generation is
      // decided from the listing alone
      ran = false
      WriterLease.withLease(flaky, store, "next") { ran = true }
      assert(ran)
      // a fresh generation stamped by a DEAD same-host pid: unreadable,
      // the stamp is no evidence of death, so the claim refuses
      val dead = new ProcessBuilder("true").start()
      dead.waitFor()
      plant(flaky, store, 10L, s"dead-holder pid=${dead.pid()} " +
        s"host=${java.net.InetAddress.getLocalHost.getHostName} ")
      intercept[WriterLease.ConcurrentWriterException] {
        WriterLease.withLease(flaky, store, "blind") {
          fail("took a live-looking generation over on an unread stamp")
        }
      }
      // readable again: the dead-pid path reclaims it at once
      flaky.failReads = false
      ran = false
      WriterLease.withLease(flaky, store, "sighted") { ran = true }
      assert(ran, "a dead same-host holder's generation was not reclaimed")
      assert(unreleased(flaky, store).isEmpty)
    } finally flaky.failReads = false
  }

  test("bounded-wait claim (r15 ask #5): a second claimant with waitMs " +
      "wins after the holder releases inside the window, and still " +
      "throws past it — on both the in-process and the on-disk path") {
    val fs = localFs
    val store = newStore("leasewait")
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val t = new Thread(() =>
      WriterLease.withLease(fs, store, "holder") {
        entered.countDown()
        release.await(20, TimeUnit.SECONDS): Unit
      })
    t.start()
    assert(entered.await(20, TimeUnit.SECONDS), "holder never entered")
    // past the window: the holder outlives waitMs → same loud refusal
    intercept[WriterLease.ConcurrentWriterException] {
      WriterLease.withLease(fs, store, "impatient", waitMs = 250L) {
        fail("impatient claimant body must not run")
      }
    }
    // inside the window: the queued claimant wins once the holder exits
    val won = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t2 = new Thread(() =>
      WriterLease.withLease(fs, store, "patient", waitMs = 20000L) {
        won.set(true)
      })
    t2.start()
    Thread.sleep(200) // let the claimant queue against the live holder
    release.countDown()
    t.join(20000); t2.join(20000)
    assert(won.get(),
      "queued claimant did not win after the release inside its window")
    assert(unreleased(fs, store).isEmpty)

    // on-disk path (no in-process holder): a fresh FOREIGN generation
    val lease = WriterLease.leasePath(store)
    plant(fs, store, 100L, "foreign-maint pid=99999 host=elsewhere ")
    intercept[WriterLease.ConcurrentWriterException] {
      WriterLease.withLease(fs, store, "impatient2", waitMs = 250L) {
        fail("claimant body must not run against a live foreign lease")
      }
    }
    val freer = new Thread(() => {
      Thread.sleep(300)
      fs.create(new Path(lease, "100.released"), false).close()
    })
    freer.start()
    var ran = false
    WriterLease.withLease(fs, store, "patient2", waitMs = 20000L) {
      ran = true
    }
    freer.join(20000)
    assert(ran, "claimant did not win after the foreign holder released " +
      "inside its window")
  }

  // SlowTest tier (~15 s: real maintenance ops on both stores) — the
  // lease MECHANISM is covered in-default by the two tests above;
  // this integration sweep runs in the bench window
  test("a refused maintenance writer leaves the store bit-identical, " +
      "and the reentrant cycle claim admits its own primitives",
      graft.SlowTest) {
    graft.GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("leaseparity")
    val store = s"$dir/store"
    val cents = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)))
      .toDF("cid", "cv")
    SimilarityOps.extendVectorStore(store, cents,
      Seq((1L, Seq(1.0, 0.1)), (2L, Seq(0.1, 1.0)), (3L, Seq(0.9, 0.2)))
        .toDF("vec_id", "v"))
    val fs = localFs
    def snapshot(): Map[String, Long] = {
      val it = fs.listFiles(new Path(store), true)
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) { val f = it.next(); b += f.getPath.toString -> f.getLen }
      b.result()
    }
    val before = snapshot()
    // every writer entry refuses while another writer holds the lease
    WriterLease.withLease(fs, store, "blocking-writer") {
      // calls from a DIFFERENT thread: the thread-local reentrancy
      // must not leak across threads
      val refusals = new java.util.concurrent.atomic.AtomicInteger(0)
      val t = new Thread(() => {
        def expectRefusal(body: => Any): Unit =
          try { body; () } catch {
            case _: WriterLease.ConcurrentWriterException =>
              refusals.incrementAndGet(): Unit
          }
        expectRefusal(SimilarityOps.compactVectorStore(spark, store))
        expectRefusal(SimilarityOps.splitHotCells(spark, store,
          hotCellThreshold = 1L))
        expectRefusal(SimilarityOps.mergeColdCells(spark, store,
          coldCellThreshold = 10L))
        expectRefusal(SimilarityOps.maintainVectorStore(spark, store,
          hotCellThreshold = 2L))
        expectRefusal(SimilarityOps.extendVectorStore(store, cents,
          Seq((9L, Seq(0.5, 0.5))).toDF("vec_id", "v")))
      })
      t.start(); t.join(60000)
      assert(refusals.get() == 5,
        s"expected all 5 writer entries refused, got ${refusals.get()}")
    }
    assert(snapshot() == before,
      "a refused writer modified the store")
    // with the lease free, the full cycle runs — one outer claim, the
    // three primitives re-entering it on the owning thread
    val report = SimilarityOps.maintainVectorStore(spark, store,
      hotCellThreshold = 100L, coldCellThreshold = 0L)
    assert(report.hot.isEmpty)
    assert(unreleased(fs, store).isEmpty,
      "cycle did not release its lease")

    // the dedup signature store's writer entry carries the lease too
    val dstore = s"$dir/bands"
    DedupOps.probeAndExtend(dstore,
      Seq((1L, "some shingled text long enough to band properly"))
        .toDF("doc_id", "text")).collect()
    WriterLease.withLease(fs, dstore, "blocking-writer") {
      val refused = new java.util.concurrent.atomic.AtomicInteger(0)
      val t = new Thread(() => {
        try DedupOps.compactStore(spark, dstore) catch {
          case _: WriterLease.ConcurrentWriterException =>
            refused.incrementAndGet(): Unit
        }
        // the APPEND path is a writer entry too: an append committed
        // after a concurrent compaction pinned its input would fall
        // below the compaction's base and drop out of every read
        try {
          DedupOps.probeAndExtend(dstore,
            Seq((2L, "another shingled text long enough to band"))
              .toDF("doc_id", "text")).collect(): Unit
        } catch {
          case _: WriterLease.ConcurrentWriterException =>
            refused.incrementAndGet(): Unit
        }
      })
      t.start(); t.join(60000)
      assert(refused.get() == 2,
        "compactStore/probeAndExtend were not both refused")
    }
    DedupOps.compactStore(spark, dstore) // free lease → proceeds
    assert(unreleased(fs, dstore).isEmpty)

    // r15 ask #5 plumbed through the operational entry points: a
    // cron-style compact queued with leaseWaitMs waits out a live
    // ingest writer's lease instead of crashing, then runs
    val entered2 = new CountDownLatch(1)
    val release2 = new CountDownLatch(1)
    val holderT = new Thread(() =>
      WriterLease.withLease(fs, dstore, "ingest-batch") {
        entered2.countDown()
        release2.await(60, java.util.concurrent.TimeUnit.SECONDS): Unit
      })
    holderT.start()
    assert(entered2.await(60, java.util.concurrent.TimeUnit.SECONDS))
    val compactErr =
      new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val cronT = new Thread(() =>
      try DedupOps.compactStore(spark, dstore, leaseWaitMs = 60000L)
      catch { case t: Throwable => compactErr.set(t) })
    cronT.start()
    Thread.sleep(300) // let the cron compact queue against the holder
    release2.countDown()
    holderT.join(60000); cronT.join(120000)
    assert(compactErr.get() == null,
      s"queued compact failed instead of waiting: ${compactErr.get()}")
    assert(unreleased(fs, dstore).isEmpty)
  }
}

object WriterLeaseSpec {

  /** The generations in `store`'s lease directory that carry no
    * release marker, ascending. */
  def unreleased(fs: FileSystem, store: String): Seq[Long] = {
    val lease = WriterLease.leasePath(store)
    val names =
      if (!fs.exists(lease)) Set.empty[String]
      else fs.listStatus(lease).map(_.getPath.getName).toSet
    names.toSeq.flatMap(_.toLongOption)
      .filterNot(g => names(s"$g.released")).sorted
  }

  /** Write generation `g` of `store`'s lease with `stamp`, its mtime
    * `ageMs` in the past — what a holder in another process leaves. */
  def plant(fs: FileSystem, store: String, g: Long, stamp: String,
      ageMs: Long = 0L): Unit = {
    val gen = new Path(WriterLease.leasePath(store), g.toString)
    val out = fs.create(gen, false)
    out.write(stamp.getBytes("UTF-8"))
    out.close()
    if (ageMs > 0)
      fs.setTimes(gen, System.currentTimeMillis() - ageMs, -1)
  }
}

/** A local filesystem under the `racefs` scheme that makes two lease
  * contenders (roles A and B, set per thread in [[StaleRaceFs.role]])
  * act on outdated reads: each contender's FIRST read (stat or listing)
  * of the lease path is taken, then waits until the other contender
  * has read too; B's read is then returned only once A's body runs. So
  * B acts on a view of the lease from before A claimed it. `getScheme`
  * reports `file`, so the lease's create-if-absent keeps its atomic
  * local path. */
class StaleRaceFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("racefs:///")
  override def getScheme: String = "file"
  override def getFileStatus(f: Path): FileStatus =
    StaleRaceFs.hold(f)(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    StaleRaceFs.hold(f)(super.listStatus(f))
}
object StaleRaceFs {
  val role: ThreadLocal[String] = new ThreadLocal[String]
  @volatile private var lease = ""
  @volatile private var bothRead = new CountDownLatch(2)
  @volatile var aInBody = new CountDownLatch(1)
  private val seen =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  val timeouts = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def reset(leasePath: String): Unit = {
    lease = leasePath
    bothRead = new CountDownLatch(2)
    aInBody = new CountDownLatch(1)
    seen.clear(); timeouts.clear()
  }

  def hold[T](f: Path)(read: => T): T = {
    val view = read
    val r = role.get
    if (r != null && f.toUri.getPath == lease && seen.add(r)) {
      bothRead.countDown()
      if (!bothRead.await(20, TimeUnit.SECONDS))
        timeouts.add(s"$r waiting for the other read")
      if (r == "B" && !aInBody.await(20, TimeUnit.SECONDS))
        timeouts.add("B waiting for A's body")
    }
    view
  }
}
