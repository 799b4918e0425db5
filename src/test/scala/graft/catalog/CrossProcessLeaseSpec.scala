package graft.catalog

import java.util.concurrent.TimeUnit

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** TRUE cross-process coverage for the writer lease: the default-tier
  * WriterLeaseSpec races threads inside one JVM, where the in-memory
  * registries participate — these cases spawn a REAL second JVM
  * ([[LeaseHolderMain]]) so the only shared state is the lease file
  * itself, exactly the production multi-writer shape:
  *
  *  - a live foreign HOLDER (other process, heartbeating) refuses our
  *    claim — no in-process registry can excuse it;
  *  - the foreign holder's clean exit releases the lease and our claim
  *    proceeds;
  *  - a SIGKILLed holder ON THIS HOST leaves a fresh lease that is
  *    reclaimed IMMEDIATELY via the dead-pid fast path (the kernel
  *    confirms the holder is gone — no 10-minute horizon wait for a
  *    crashed job's own restart);
  *  - a FOREIGN-host holder's fresh lease still refuses (no kernel to
  *    consult — horizon rules), and the SAME generation aged past the
  *    horizon is superseded by the next generation.
  *
  * SlowTest tier: two JVM spawns (~3-8 s). */
class CrossProcessLeaseSpec extends AnyFunSuite {
  import WriterLeaseSpec.{plant, unreleased}

  // force the shared session so the suite behaves like every other
  // spec under parallel execution (the FS calls don't need Spark)
  private lazy val spark = SharedSpark.spark

  private def localFs = new Path("/tmp")
    .getFileSystem(spark.sessionState.newHadoopConf())

  /** Spawn LeaseHolderMain on this JVM's own classpath and wait for
    * its HELD line (the claim is on disk once it prints). */
  private def spawnHolder(store: String, holdMs: Long): Process = {
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val opens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
      "java.io", "java.net", "java.nio", "java.util",
      "java.util.concurrent", "java.util.concurrent.atomic",
      "sun.nio.ch", "sun.nio.cs", "sun.security.action",
      "sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
    val cmd = (Seq(javaBin) ++ opens ++ Seq(
      "-cp", System.getProperty("java.class.path"),
      "graft.catalog.LeaseHolderMain", store, holdMs.toString))
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var line = in.readLine()
    while (line != null && line != "HELD" &&
        System.nanoTime() < deadline) line = in.readLine()
    assert(line == "HELD",
      s"child holder never claimed (last line: $line)")
    // keep draining in the background or the child blocks on a full
    // stdout pipe while sleeping
    val drain = new Thread(() => {
      try { while (in.readLine() != null) () }
      catch { case _: java.io.IOException => () }
    })
    drain.setDaemon(true)
    drain.start()
    proc
  }

  test("a LIVE holder in another JVM refuses our claim; its clean exit " +
      "frees the lease for us", graft.SlowTest) {
    val fs = localFs
    val store = java.nio.file.Files
      .createTempDirectory("xproclease").resolve("store").toString
    val proc = spawnHolder(store, holdMs = 6000L)
    try {
      intercept[WriterLease.ConcurrentWriterException] {
        WriterLease.withLease(fs, store, "cross-process-contender") {
          fail("claimed a lease a foreign PROCESS holds")
        }
      }
      assert(proc.waitFor(60, TimeUnit.SECONDS), "holder never exited")
      assert(proc.exitValue() == 0, "holder JVM failed")
      // released by the foreign process → our claim proceeds
      var ran = false
      WriterLease.withLease(fs, store, "after-release") { ran = true }
      assert(ran)
      assert(unreleased(fs, store).isEmpty)
    } finally proc.destroyForcibly(): Unit
  }

  test("a SIGKILLed holder ON THIS HOST is reclaimed immediately — the " +
      "dead-pid fast path, no horizon wait (r14 ask #6)", graft.SlowTest) {
    val fs = localFs
    val store = java.nio.file.Files
      .createTempDirectory("xprockill").resolve("store").toString
    val proc = spawnHolder(store, holdMs = 120000L)
    proc.destroyForcibly()
    assert(proc.waitFor(30, TimeUnit.SECONDS), "kill did not land")
    assert(unreleased(fs, store).nonEmpty,
      "SIGKILL should leave the crashed holder's generation behind")

    // the lease is FRESH (seconds old, default 10-min horizon) and
    // stamped with our host + the killed JVM's pid: the kernel says
    // that pid is gone, so the claim reclaims NOW — a crashed ingest
    // job must not block its own restart for 10 minutes
    val t0 = System.nanoTime()
    var ran = false
    WriterLease.withLease(fs, store, "same-host-restart") { ran = true }
    assert(ran, "dead same-host holder's fresh lease was not reclaimed")
    assert((System.nanoTime() - t0) < 30L * 1000 * 1000 * 1000,
      "fast reclaim took implausibly long — did it wait a horizon?")
    assert(unreleased(fs, store).isEmpty)
  }

  test("a FOREIGN-host holder's fresh lease refuses (no kernel to " +
      "consult) and is taken over only past the stale horizon",
      graft.SlowTest) {
    val fs = localFs
    val store = java.nio.file.Files
      .createTempDirectory("xprocforeign").resolve("store").toString
    // a crashed holder on ANOTHER machine: fresh mtime, live-looking
    // pid number, but a host we cannot ask — exactly what the fast
    // path must NOT touch. (Deliberately uses this machine's OWN
    // live pid as the stamp's pid: if the fast path wrongly consulted
    // the pid without the host check, the pid would read alive and
    // mask the bug — a dead pid here would pass for the wrong reason.)
    plant(fs, store, 1L, "cross-host-holder pid=" +
      ProcessHandle.current().pid() + " host=some-other-machine ")
    val e = intercept[WriterLease.ConcurrentWriterException] {
      WriterLease.withLease(fs, store, "too-early") {
        fail("claimed a fresh foreign-host lease")
      }
    }
    assert(e.getMessage.contains("cross-host-holder"),
      s"refusal should name the foreign holder's stamp: ${e.getMessage}")

    // age the SAME file past the horizon: the crashed holder never
    // heartbeats again, so this is exactly the state 10 minutes later
    fs.setTimes(new Path(WriterLease.leasePath(store), "1"),
      System.currentTimeMillis() - 11L * 60 * 1000, -1)
    var ran = false
    WriterLease.withLease(fs, store, "after-horizon") { ran = true }
    assert(ran, "stale foreign lease was not taken over")
    assert(unreleased(fs, store).isEmpty)
  }

  test("a RECYCLED pid is detected by the stamped start instant (r16 " +
      "ask #4): a live same-host pid whose start differs from the " +
      "stamp's is a dead holder — reclaimed now, not after the " +
      "horizon; the true start (and a start-less old stamp) still " +
      "refuse", graft.SlowTest) {
    val fs = localFs
    // a live process that is NOT this JVM, whose pid we can stamp:
    // exactly what a recycled pid looks like to the contender — the
    // kernel says "alive", but it is not the process that claimed
    val sleeper = new ProcessBuilder("sleep", "60").start()
    try {
      val h = sleeper.toHandle
      val si = h.info().startInstant()
      assume(si.isPresent,
        "kernel exposes no process start instant here — the exact " +
          "check is unavailable and the code path degrades to horizon " +
          "rules by design")
      val startMs = si.get().toEpochMilli
      val host = java.net.InetAddress.getLocalHost.getHostName
      def forge(store: String, startField: String): Unit =
        plant(fs, store, 1L, s"crashed-writer pid=${h.pid()} host=$host " +
          startField)

      // wrong start instant = the stamping process is DEAD and its
      // pid was recycled by the sleeper: fresh mtime, live pid, and
      // yet the claim must reclaim immediately
      val recycled = java.nio.file.Files
        .createTempDirectory("xprocrecycled").resolve("store").toString
      forge(recycled, s"start=${startMs + 987654321L} ")
      val t0 = System.nanoTime()
      var ran = false
      WriterLease.withLease(fs, recycled, "restart-after-recycle") {
        ran = true
      }
      assert(ran, "recycled-pid lease was not reclaimed")
      assert((System.nanoTime() - t0) < 30L * 1000 * 1000 * 1000,
        "recycled-pid reclaim took implausibly long — horizon wait?")
      assert(unreleased(fs, recycled).isEmpty)

      // control 1: the TRUE start instant = genuinely live holder —
      // the exact check must not turn into a false reclaim
      val live = java.nio.file.Files
        .createTempDirectory("xproclive").resolve("store").toString
      forge(live, s"start=$startMs ")
      intercept[WriterLease.ConcurrentWriterException] {
        WriterLease.withLease(fs, live, "too-eager") {
          fail("claimed a lease whose holder is provably live")
        }
      }

      // control 2: an OLD stamp (no start field) with a live pid
      // keeps the conservative pre-r16 behavior — horizon rules
      val old = java.nio.file.Files
        .createTempDirectory("xprocold").resolve("store").toString
      forge(old, "")
      intercept[WriterLease.ConcurrentWriterException] {
        WriterLease.withLease(fs, old, "old-stamp") {
          fail("claimed on an old start-less stamp with a live pid")
        }
      }
    } finally sleeper.destroyForcibly(): Unit
  }
}
