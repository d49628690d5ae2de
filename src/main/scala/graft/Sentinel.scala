package graft

/** Environment-health probes shared by Bench and Verify (VERDICT r4
  * items 3/6): fixed workloads whose cost is a machine constant on a
  * quiet box, so any inflation in an artifact self-identifies as
  * external contention rather than a code regression.
  *
  *  - [[spinSeconds]]: 400M dependent multiply-adds on ONE thread
  *    (~0.5 s quiet) — CPU contention probe; [[spinMtSeconds]] runs it
  *    on several threads at once — free-core probe.
  *  - [[diskSeconds]]: write 128 MB in 1 MB chunks + fsync + read-back
  *    on the temp filesystem the stage artifacts / checkpoints use —
  *    I/O probe. r4's bench showed a 16× dedup-stage-build blow-up with
  *    a CLEAN cpu sentinel; only an I/O probe can tell that story.
  *  - [[membwSeconds]]: 4 GB of streamed reads over a 512 MB array —
  *    memory-bandwidth probe. Round 6 observed ~8% total drift across
  *    broad entries with CLEAN cpu and disk sentinels: a register-only
  *    spin loop never touches DRAM and a co-tenant saturating the
  *    shared memory bus is invisible to it, while every shuffle/scan
  *    in the bench feels it. This probe closes that gap.
  */
object Sentinel {

  private def spin(iters: Long): Long = {
    var x = 0x9E3779B97F4A7C15L; var i = 0L
    while (i < iters) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    x
  }

  def spinSeconds(): Double = {
    val warm = spin(10L * 1000 * 1000)
    val t0 = System.nanoTime()
    val sink = spin(400L * 1000 * 1000)
    val dt = (System.nanoTime() - t0) / 1e9
    if (warm == 42L || sink == 42L) println("") // defeat DCE
    dt
  }

  /** The parallel twin of [[spinSeconds]]: `threads` threads spinning at
    * once. With that many free cores its wall time equals the
    * single-thread constant; inflation here with a clean [[spinSeconds]]
    * means the box has fewer free cores than assumed (another tenant, a
    * cgroup quota), which stretches multi-thread stages only. */
  def spinMtSeconds(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { _ =>
      new Thread(() => { if (spin(400L * 1000 * 1000) == 42L) println("") })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def diskSeconds(mb: Int = 128): Double = {
    import java.nio.channels.FileChannel
    import java.nio.file.StandardOpenOption._
    val path = java.nio.file.Files.createTempFile("graft_disk_probe_", ".bin")
    // whole probe under try/finally: an exception mid-probe must not
    // leak the 128 MB temp file
    try {
      val buf = new Array[Byte](1 << 20)
      var i = 0
      while (i < buf.length) { buf(i) = (i * 31 + 7).toByte; i += 1 }
      val t0 = System.nanoTime()
      val wch = FileChannel.open(path, WRITE, TRUNCATE_EXISTING)
      try {
        var k = 0
        while (k < mb) {
          // FileChannel.write may write fewer bytes than requested —
          // loop to completion or the probe silently shrinks
          val wbuf = java.nio.ByteBuffer.wrap(buf)
          while (wbuf.hasRemaining) wch.write(wbuf)
          k += 1
        }
        wch.force(true) // fsync — the part that feels a saturated device
      } finally wch.close()
      val rch = FileChannel.open(path, READ)
      try {
        val rbuf = java.nio.ByteBuffer.allocate(1 << 20)
        var n = rch.read(rbuf)
        while (n >= 0) { rbuf.clear(); n = rch.read(rbuf) }
      } finally rch.close()
      (System.nanoTime() - t0) / 1e9
    } finally {
      java.nio.file.Files.deleteIfExists(path)
      ()
    }
  }

  private def sumPass(arr: Array[Long]): Long = {
    var s = 0L; var i = 0
    while (i < arr.length) { s += arr(i); i += 1 }
    s
  }

  /** Streamed-read memory-bandwidth probe: one un-timed warm pass
    * (JIT + page commit), then `passes` sequential sums over a `mb`-MB
    * long array — 4 GB of DRAM traffic at the defaults, ~0.2-0.4 s at
    * quiet single-thread bandwidth. A simple linear sum is used on
    * purpose: the JIT vectorizes it enough to be bandwidth-bound, not
    * ALU-bound, so inflation means bus contention, not CPU share. */
  // probe buffer reused across calls (contents are deterministic):
  // allocating 512 MB fresh at the END-of-run probe inside the bench's
  // Spark JVM risks a humongous-allocation full GC / OOM after all the
  // gate work but before the artifact is written
  private var membwArr: Array[Long] = null

  def membwSeconds(mb: Int = 512, passes: Int = 8): Double = {
    val n = mb * 1024 * 1024 / 8
    val arr = synchronized {
      if (membwArr == null || membwArr.length != n) {
        membwArr = new Array[Long](n)
        var i = 0
        while (i < n) { membwArr(i) = i * 0x9E3779B97F4A7C15L; i += 1 }
      }
      membwArr
    }
    var sink = sumPass(arr) // warm pass, untimed
    // per-pass timing, report min × passes: inside the bench's Spark
    // JVM a GC pause could land mid-probe and fake a contended bus;
    // the fastest pass is GC-free, while SUSTAINED bus contention
    // inflates every pass including the minimum
    var best = Double.MaxValue
    var p = 0
    while (p < passes) {
      val t0 = System.nanoTime()
      sink += sumPass(arr)
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
      p += 1
    }
    if (sink == 42L) println("") // defeat DCE
    best * passes
  }

  // ---- machine-readable contention verdict (VERDICT r5 #4) ---------------

  /** Quiet-box constants, committed with the round records (README
    * "Bench methodology"): what the probes cost on this box with
    * nothing else running. Artifacts compare their measured sentinels
    * against these so a judge/driver can discount contended numbers
    * without forensics. */
  val QuietSpinSec = 0.60
  val QuietSpinMtSec = 0.70 // cpus threads at once: slightly above 1-thread
  val QuietDiskSec = 0.80
  val QuietMembwSec = 0.65 // measured quiet: ~0.62-0.64 s (≈6.5 GB/s/thread)
  // the MID-RUN disk sample (right after Bench's stage builds + a sync
  // drain of ~1 GB of freshly written artifacts) has its own quiet
  // constant because its quiet reading is a BAND, not a point: it
  // depends on how settled the device is when the probe lands.
  // Observed quiet-box readings across committed runs span 0.25 s
  // (fully drained — BENCH_FULL.json bench_sentinel_disk_mid = 0.254,
  // matching SCALE.md's ~0.4 s truly-idle figure) up to 1.36 s (probe
  // landing while the device still recovers from the forced flush);
  // external IO dips — what the sample exists to catch — read 2.2 s+.
  // QuietDiskMidSec = 1.0 is chosen so the 1.5 s trip point
  // (×ContentionFactor) clears the TOP of the observed quiet band with
  // margin while staying well under the contended regime. Comparing
  // against the idle-disk constant (0.8 → trip 1.2) cried wolf on the
  // recovering-device runs.
  val QuietDiskMidSec = 1.0
  val ContentionFactor = 1.5

  /** True when any probe ran ≥ [[ContentionFactor]]× its quiet-box
    * constant — the artifact was taken under external CPU, I/O, or
    * memory-bus contention and its wall numbers are not comparable
    * across rounds. `membw`/`diskMid` default empty so older call
    * sites stay source-compatible. */
  def contendedVerdict(spin: Seq[Double], spinMt: Seq[Double],
      disk: Seq[Double], membw: Seq[Double] = Seq.empty,
      diskMid: Seq[Double] = Seq.empty): Boolean =
    spin.exists(_ > QuietSpinSec * ContentionFactor) ||
      spinMt.exists(_ > QuietSpinMtSec * ContentionFactor) ||
      disk.exists(_ > QuietDiskSec * ContentionFactor) ||
      membw.exists(_ > QuietMembwSec * ContentionFactor) ||
      diskMid.exists(_ > QuietDiskMidSec * ContentionFactor)
}
