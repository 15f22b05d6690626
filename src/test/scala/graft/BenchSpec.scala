package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's mid-run-stall localizer (round-8 verdict #2): the
  * whole-run pre/post host control certified `host_factor 1.06`
  * around a stall that inflated two adjacent suite rows 4-12×, so
  * since round 9 every row that lands >2× over the committed
  * recording flags `suspect`, stamps its wall-clock position, and is
  * followed by an immediate 1-rep control probe. This spec drives
  * [[Bench.timeSuite]] with fake queries where ONE row carries an
  * induced stall and proves the marker fires on that row only, with
  * the probe taken right after it — plus the edge semantics (no
  * committed table, absolute floor, failed rows).
  */
class BenchSpec extends AnyFunSuite {

  /** Deterministic busy-wait: wall-clock, not CPU-quota — a stall
    * induced by load and a stall induced by sleep look identical to
    * the bench (it times wall seconds), so the spec induces the
    * cheaper one.
    */
  private def busy(sec: Double): Unit = {
    val until = System.nanoTime() + (sec * 1e9).toLong
    while (System.nanoTime() < until) {}
  }

  private val fakeProbe = Bench.HostProbe(1.23, 0.33, 444.0)

  test("suspect fires on the induced-stall row only, probe taken right after it") {
    val committed = Map("a" -> 0.2, "b" -> 0.2, "c" -> 0.2)
    val probedAfter = scala.collection.mutable.ArrayBuffer.empty[String]
    var running = ""
    val queries = Seq[(String, () => Unit)](
      "a" -> (() => { running = "a"; busy(0.2) }),
      "b" -> (() => { running = "b"; busy(0.55) }), // the induced stall: >2x committed
      "c" -> (() => { running = "c"; busy(0.2) }))
    val rows = Bench.timeSuite(queries, reps = 1, committed,
      probe = () => { probedAfter += running; fakeProbe })
    assert(rows.map(_.name) == Seq("a", "b", "c"))
    assert(rows.map(_.suspect) == Seq(false, true, false),
      s"marker must fire on the stalled row only: ${rows.map(r => r.name -> r.suspect)}")
    // the probe ran exactly once, immediately after the stalled row —
    // before c started — so it samples the host DURING the stall window
    assert(probedAfter.toSeq == Seq("b"))
    assert(rows(1).probeAfter.contains(fakeProbe))
    assert(rows.filterNot(_.suspect).forall(_.probeAfter.isEmpty))
    // t_start is monotone and row b starts after a's ~0.2 s of work:
    // the stamp localizes each row inside the run's wall-clock
    val ts = rows.map(_.tStart)
    assert(ts == ts.sorted && ts.head < 0.1 && ts(1) >= 0.15 && ts(2) >= ts(1) + 0.5)
  }

  test("no committed table -> nothing can flag; sub-floor overshoots don't flag") {
    // fresh checkout: empty committed map, even a huge overshoot stays quiet
    val rows = Bench.timeSuite(
      Seq("a" -> (() => busy(0.3))), reps = 1, Map.empty,
      probe = () => fail("probe must not run without a committed table"))
    assert(!rows.head.suspect && rows.head.probeAfter.isEmpty)
    // a 3x overshoot UNDER the absolute floor is scheduling jitter, not
    // a stall: 0.03 s vs committed 0.01 s must not burn a ~1 s probe
    assert(!Bench.isSuspect(0.03, Some(0.01)))
    assert(Bench.isSuspect(0.5, Some(0.2)))
    assert(!Bench.isSuspect(0.5, Some(0.3)))   // 1.7x — inside the band
    assert(!Bench.isSuspect(0.5, Some(0.0)))   // degenerate committed zero
  }

  test("a row whose every rep fails records runs=0 and never flags") {
    val rows = Bench.timeSuite(
      Seq("boom" -> (() => throw new RuntimeException("induced"))),
      reps = 2, Map("boom" -> 0.001),
      probe = () => fail("a failed row must not probe"))
    assert(rows.head.runs == 0 && rows.head.median == -1.0 && !rows.head.suspect)
    assert(rows.head.first.isEmpty, "a row with no successful rep has no cold time")
  }

  test("committedMedians parses the artifact, survives garbage, refuses a foreign sf") {
    val dir = java.nio.file.Files.createTempDirectory("benchspec").toFile
    val f = new java.io.File(dir, "bench_out.json")
    val w = new java.io.PrintWriter(f, "UTF-8")
    w.println("""{"metric":"total","value":1.5,"queries":{"q1":0.25,"q2":3},""" +
      """"kernel":{},"sf":"/root/testdata/sf0.1"}""")
    w.close()
    assert(Bench.committedMedians(f.getPath, "/root/testdata/sf0.1")
      == Map("q1" -> 0.25, "q2" -> 3.0))
    // a committed table from a DIFFERENT scale factor would flood-flag
    // every row (and burn a control probe per flag) — must disable
    assert(Bench.committedMedians(f.getPath, "/root/testdata/sf1").isEmpty)
    // an artifact without sf (pre-round-6 shape) stays usable
    val noSf = new java.io.File(dir, "nosf.json")
    val w3 = new java.io.PrintWriter(noSf, "UTF-8")
    w3.println("""{"queries":{"q1":0.5}}"""); w3.close()
    assert(Bench.committedMedians(noSf.getPath, "/x") == Map("q1" -> 0.5))
    assert(Bench.committedMedians(
      new java.io.File(dir, "absent.json").getPath, "/x").isEmpty)
    val g = new java.io.File(dir, "garbage.json")
    val w2 = new java.io.PrintWriter(g, "UTF-8"); w2.println("not json {"); w2.close()
    assert(Bench.committedMedians(g.getPath, "/x").isEmpty)
  }

  test("warm runs per query, immediately before its timing; first records rep 1") {
    // per-query warming is load-bearing: the codegen class cache is a
    // 100-entry LRU, so batch-warming a >100-query suite would evict
    // early queries' compiled fragments before their timed reps
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    var rep = 0
    val rows = Bench.timeSuite(
      Seq[(String, () => Unit)](
        "a" -> (() => { order += "run-a"; rep += 1
          if (rep == 1) busy(0.12) else busy(0.02) }),  // cold rep slowest
        "b" -> (() => order += "run-b")),
      reps = 2, Map.empty, probe = () => fakeProbe,
      warm = n => order += s"warm-$n")
    assert(order.take(3) == Seq("warm-a", "run-a", "run-a"),
      s"warm must precede its own query's reps only: $order")
    assert(order.drop(3) == Seq("warm-b", "run-b", "run-b"))
    // first = rep 1 in ARRIVAL order (the cold run), even though the
    // sorted max would be the same here; min must be the warm rep
    val a = rows.head
    assert(a.first.exists(_ >= 0.12) && a.min < 0.1,
      s"first must be the cold rep-1 time: first=${a.first} min=${a.min}")
  }

  test("cold_sec source is rep 1 or nothing: a failed rep 1 leaves first empty") {
    var rep = 0
    val rows = Bench.timeSuite(
      Seq("a" -> (() => { rep += 1
        if (rep == 1) throw new RuntimeException("induced cold-rep failure")
        busy(0.02) })),
      reps = 3, Map.empty, probe = () => fakeProbe)
    val a = rows.head
    // two warm reps succeeded, but neither may pose as the cold run
    // (the exact misattribution cold_sec exists to prevent — ADVICE r9)
    assert(a.runs == 2 && a.first.isEmpty,
      s"first must be empty when the arrival-order rep 1 failed: $a")
  }

  test("retrySuspects re-runs flagged rows only, records both medians, heals the total") {
    val committed = Map("slow" -> 0.05, "fine" -> 0.05)
    var stalled = true
    def runNamed(n: String): Unit =
      if (n == "slow" && stalled) busy(0.25) else busy(0.05)
    val rows = Bench.timeSuite(
      Seq[(String, () => Unit)](
        "slow" -> (() => runNamed("slow")), "fine" -> (() => runNamed("fine"))),
      reps = 1, committed, probe = () => fakeProbe)
    assert(rows.map(_.suspect) == Seq(false, true) ||
      rows.map(_.suspect) == Seq(true, false)) // sorted order is input order here
    assert(rows.count(_.suspect) == 1 && rows.find(_.suspect).get.name == "slow")
    // the "stall" has passed by retry time — the cooled-window re-run
    stalled = false
    var probes = 0
    val (healed, pre) = Bench.retrySuspects(rows, runNamed, reps = 3,
      probe = () => { probes += 1; fakeProbe })
    assert(probes == 1 && pre.contains(fakeProbe),
      "exactly one window-verification probe before the retries")
    val slow = healed.find(_.name == "slow").get
    assert(slow.retryMedian.exists(m => m < slow.median),
      s"retry median must be recorded and faster: $slow")
    assert(slow.effectiveMedian == slow.retryMedian.get,
      "the total must use the healed median")
    // the unflagged row is untouched
    val fine = healed.find(_.name == "fine").get
    assert(fine.retryMedian.isEmpty && fine.effectiveMedian == fine.median)
    // a retry that comes back SLOWER (still-contended window) must not
    // inflate the total: effectiveMedian keeps the original
    val worse = slow.copy(median = 0.1, retryMedian = Some(0.4))
    assert(worse.effectiveMedian == 0.1)
  }

  test("retrySuspects with no flagged rows: no probe, no retries, rows untouched") {
    val rows = Bench.timeSuite(
      Seq("a" -> (() => busy(0.02))), reps = 1, Map("a" -> 0.02),
      probe = () => fakeProbe)
    val (out, pre) = Bench.retrySuspects(rows,
      _ => fail("no retry may run when nothing flagged"), reps = 3,
      probe = () => fail("no probe may run when nothing flagged"))
    assert(out == rows && pre.isEmpty)
  }

  test("mc control sees an all-core load the single-thread control shrugs off") {
    // the probe is as wide as the host, as the Bench's 32-way probe is
    // on its 32-core host: with n cores and n-1 spinners an n-way probe
    // slows by (2n-1)/n (1.75x at n=4), while a fixed 8-way probe on 4
    // cores slows by only 11/8 = 1.375x, under the bar by arithmetic
    val cores = Runtime.getRuntime.availableProcessors()
    // quiet samples first (same JVM, same moment — relative, not pinned)
    val mcQuiet = Bench.mcControl(threads = cores, reps = 2)
    val ctlQuiet = Bench.cpuControl(reps = 1)
    // induce load on MOST cores (nproc-1 spinners): the box still has
    // ~1 free core, so one pinned thread runs near full speed while
    // all-core work must time-share
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val spinners = (0 until cores - 1).map { _ =>
      val t = new Thread(() => { var x = 1L; while (!stop.get()) { x = x * 6364136223846793005L + 1442695040888963407L }; if (x == 42) println("") })
      t.setDaemon(true); t.start(); t
    }
    try {
      val mcLoaded = Bench.mcControl(threads = cores, reps = 2)
      val ctlLoaded = Bench.cpuControl(reps = 1)
      // the discriminating shape, with slack for scheduler jitter: the
      // multi-core factor must move well past the single-thread factor
      val mcF = mcLoaded / mcQuiet
      val ctlF = ctlLoaded / ctlQuiet
      assert(mcF > 1.4, f"mc control must see the all-core load: $mcF%.2fx")
      assert(mcF > ctlF * 1.2,
        f"mc factor ($mcF%.2fx) must exceed the single-thread factor ($ctlF%.2fx) " +
          "under an all-core load — that asymmetry is the probe's whole point")
    } finally { stop.set(true); spinners.foreach(_.join(2000)) }
  }

  test("disk probe reads a fresh file with O_DIRECT and reports sane MB/s") {
    val mbps = Bench.diskProbe(System.getProperty("java.io.tmpdir"))
    // ext4-on-vda here; if a future environment refuses O_DIRECT the
    // probe must say -1, not fake a cached-read number
    assert(mbps == -1.0 || (mbps > 10 && mbps < 100000), s"disk probe: $mbps MB/s")
  }
}
