package graft

import org.scalatest.funsuite.AnyFunSuite

/** The rewrite swap's OBJECT-STORE contract: directory renames may be
  * per-file copy+delete (never atomic), yet a crash at ANY step after the
  * intent marker must roll FORWARD to the complete rewritten table on
  * recovery — no partial state survives, no rewrite is lost. The
  * [[WarehouseIO.nonAtomicDirMoves]] seam runs the per-file regime and
  * [[WarehouseIO.swapStepHook]] injects the crash at an exact step. */
class SwapCrashSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val wh = Fixtures.fresh("swapcrash_wh")

  private final case class SimCrash(step: String)
    extends RuntimeException(s"simulated crash at $step")

  private def mkSink(name: String): TableSink =
    new TableSink(SinkConfig(tableName = name, warehousePath = wh,
      versioned = true)) // unpartitioned: upsert takes the full-swap path

  private val baseRows = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0))
  private def base = baseRows.toDF("id", "v")
  private def patch = Seq((2L, 99.0), (4L, 40.0)).toDF("id", "v")
  private val expected = Set((1L, 10.0), (2L, 99.0), (3L, 30.0), (4L, 40.0))

  private def readPairs(sink: TableSink): Set[(Long, Double)] =
    sink.read(spark).select($"id", $"v").as[(Long, Double)].collect().toSet

  /** Crash at the step where `pred(step, phase2Seen)` first holds. */
  private def armCrash(pred: (String, Boolean) => Boolean): Unit = {
    var phase2 = false
    var fired = false
    WarehouseIO.swapStepHook = step => {
      if (step == "marker2") phase2 = true
      if (!fired && pred(step, phase2)) { fired = true; throw SimCrash(step) }
    }
  }

  private def disarm(): Unit = {
    WarehouseIO.swapStepHook = _ => ()
    WarehouseIO.nonAtomicDirMoves = false
  }

  test("swap survives a crash at every step under per-file move " +
    "semantics: recovery rolls forward to the complete rewrite") {
    // one scenario per crash point; each gets a FRESH table
    val scenarios: Seq[(String, (String, Boolean) => Boolean)] = Seq(
      // commit point written, nothing moved yet
      "at marker1" -> ((s, _) => s == "marker1"),
      // old root partially evacuated
      "mid phase 1" -> { (s, p2) =>
        !p2 && s.startsWith("movefile:") && s.contains("_graft_") },
      // old root fully out, new table not yet in
      "at marker2" -> ((s, _) => s == "marker2"),
      // new table partially in
      "mid phase 2" -> ((s, p2) => p2 && s.startsWith("movefile:")),
      // everything in place, trash not yet dropped
      "after moves" -> ((s, _) => s == "moved"))
    WarehouseIO.nonAtomicDirMoves = true
    try scenarios.zipWithIndex.foreach { case ((label, pred), i) =>
      val sink = mkSink(s"sc_t$i")
      sink.append(base)
      armCrash(pred)
      val e = intercept[RuntimeException](sink.upsert(patch, Seq("id")))
      assert(e.isInstanceOf[SimCrash] ||
        e.getCause.isInstanceOf[SimCrash], s"$label: $e")
      WarehouseIO.swapStepHook = _ => ()
      sink.recoverSwap()
      assert(readPairs(sink) == expected,
        s"$label: recovery must yield the COMPLETE rewritten table")
      assert(sink.snapshotVersions() == Seq(1),
        s"$label: recovered versioned table restarts history at v1")
      val root = new org.apache.hadoop.fs.Path(s"$wh/sc_t$i")
      WarehouseIO.scratchSiblings(root).foreach(p =>
        assert(!WarehouseIO.exists(p),
          s"$label: scratch ${p.getName} must be cleaned by recovery"))
      // and the recovered table keeps working
      sink.upsert(Seq((1L, 11.0)).toDF("id", "v"), Seq("id"))
      assert(readPairs(sink) == (expected - ((1L, 10.0)) + ((1L, 11.0))),
        s"$label: post-recovery ops must behave normally")
    } finally disarm()
  }

  test("recovery is triggered by the next rewriting op itself") {
    WarehouseIO.nonAtomicDirMoves = true
    try {
      val sink = mkSink("sc_auto")
      sink.append(base)
      armCrash((s, _) => s == "marker2")
      intercept[RuntimeException](sink.upsert(patch, Seq("id")))
      WarehouseIO.swapStepHook = _ => ()
      // no explicit recoverSwap: the op's own entry recovery repairs first
      sink.delete(spark, org.apache.spark.sql.functions.lit(false))
      assert(readPairs(sink) == expected)
    } finally disarm()
  }

  test("a PURE SQL reader heals a mid-swap-crashed table on catalog load") {
    WarehouseIO.nonAtomicDirMoves = true
    try {
      val sink = mkSink("sc_sql")
      sink.append(base)
      armCrash((s, p2) => p2 && s.startsWith("movefile:"))
      intercept[RuntimeException](sink.upsert(patch, Seq("id")))
      WarehouseIO.swapStepHook = _ => ()
      // no library call touches the table again — the catalog's load
      // rolls the committed swap forward before serving a single row
      spark.conf.set("spark.sql.catalog.heal_cat",
        classOf[GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.heal_cat.warehouse", wh)
      val got = spark.sql("SELECT id, v FROM heal_cat.sc_sql")
        .as[(Long, Double)].collect().toSet
      assert(got == expected,
        "the catalog must serve the COMPLETE rewritten table, not the " +
          "partial directory the crash left")
      WarehouseIO.scratchSiblings(
        new org.apache.hadoop.fs.Path(s"$wh/sc_sql")).foreach(p =>
        assert(!WarehouseIO.exists(p), s"${p.getName} must be cleaned"))
      assert(sink.snapshotVersions() == Seq(1),
        "the durable versioned declaration restores v1 through the " +
          "catalog's minimal recovery handle")
    } finally disarm()
  }

  test("a stale phase-1 marker left beside an already-healed table must " +
    "not destroy it (the competing-healer data-loss race)") {
    // the scenario: healer A and healer B both observe a phase-1 marker;
    // A completes the roll-forward (root = NEW table, tmp consumed,
    // marker gone) — then B replays phase 1 against the HEALED root and
    // rmTree(trash) deletes the entire new table. The swap lock
    // serializes live healers; this crafts B's view directly (marker
    // present, tmp already consumed) to pin the exists(tmp) guard that
    // makes even a breached-exclusion replay harmless.
    val sink = mkSink("sc_stale1")
    sink.append(base)
    val root = new org.apache.hadoop.fs.Path(s"$wh/sc_stale1")
    val marker = WarehouseIO.scratchSiblings(root)
      .find(_.getName.endsWith("_swap")).get
    WarehouseIO.writeStringAtomic(marker,
      s"1\n.sc_stale1_pre_rewrite\n.sc_stale1_rewriting")
    sink.recoverSwap()
    assert(readPairs(sink) == baseRows.toSet,
      "a phase-1 replay with its tmp already consumed must leave the " +
        "healed table intact")
    assert(!WarehouseIO.exists(marker), "the stale marker is cleaned up")
  }

  test("a second healer waits on the swap lock instead of racing the one " +
    "that holds it") {
    val sink = mkSink("sc_lock")
    sink.append(base)
    val root = new org.apache.hadoop.fs.Path(s"$wh/sc_lock")
    def sib(sfx: String) = WarehouseIO.scratchSiblings(root)
      .find(_.getName.endsWith(sfx)).get
    // craft a crashed phase-2 state: complete table sits in tmp, root out
    WarehouseIO.rename(root, sib("_rewriting"))
    WarehouseIO.writeStringAtomic(sib("_swap"),
      s"2\n.sc_lock_pre_rewrite\n.sc_lock_rewriting")
    // a foreign holder owns the lock (fresh mtime — not stale)
    WarehouseIO.writeStringAtomic(sib("_swaplock"), "foreign-holder")
    @volatile var healed = false
    val t = new Thread(() => { sink.recoverSwap(); healed = true })
    t.start()
    Thread.sleep(400)
    assert(!healed && !WarehouseIO.exists(root),
      "the healer must BLOCK while a live holder owns the lock")
    WarehouseIO.delete(sib("_swaplock")) // holder releases
    t.join(30000)
    assert(healed && readPairs(sink) == baseRows.toSet,
      "after the lock frees, the waiting healer completes the roll-forward")
    assert(!WarehouseIO.exists(sib("_swap")))
  }

  test("a lock stranded by a hard-crashed holder is broken by age and " +
    "the heal proceeds") {
    val sink = mkSink("sc_break")
    sink.append(base)
    val root = new org.apache.hadoop.fs.Path(s"$wh/sc_break")
    def sib(sfx: String) = WarehouseIO.scratchSiblings(root)
      .find(_.getName.endsWith(sfx)).get
    WarehouseIO.rename(root, sib("_rewriting"))
    WarehouseIO.writeStringAtomic(sib("_swap"),
      s"2\n.sc_break_pre_rewrite\n.sc_break_rewriting")
    WarehouseIO.writeStringAtomic(sib("_swaplock"), "dead-holder")
    val prev = WarehouseIO.swapLockStaleMs
    WarehouseIO.swapLockStaleMs = 50L
    try {
      Thread.sleep(150) // age the dead holder's lock past staleness
      sink.recoverSwap()
      assert(readPairs(sink) == baseRows.toSet,
        "the heal must complete after breaking the dead holder's lock")
      assert(!WarehouseIO.exists(sib("_swap")) &&
        !WarehouseIO.exists(sib("_swaplock")))
    } finally WarehouseIO.swapLockStaleMs = prev
  }

  test("a LIVE holder's long per-file move heartbeats the lock — its " +
    "mtime never ages past the stale threshold mid-swap") {
    // The hazard (ADVICE r10): under object-store move semantics a large
    // tree's move outlasts any fixed stale threshold; without heartbeats
    // a waiter would break the LIVE holder's lock and replay phase 1
    // concurrently. The holder now touches the lock between per-file
    // steps (throttled to staleMs/4), so observed staleness stays
    // bounded well below the threshold however long the move runs.
    val sink = mkSink("sc_beat")
    sink.append(base); sink.append(base); sink.append(base)
    val root = new org.apache.hadoop.fs.Path(s"$wh/sc_beat")
    val lock = WarehouseIO.scratchSiblings(root)
      .find(_.getName.endsWith("_swaplock")).get
    val prevStale = WarehouseIO.swapLockStaleMs
    WarehouseIO.swapLockStaleMs = 200L
    WarehouseIO.nonAtomicDirMoves = true
    @volatile var maxAge = 0L
    @volatile var steps = 0
    WarehouseIO.swapStepHook = step => {
      if (step.startsWith("movefile:")) {
        steps += 1
        Thread.sleep(25) // stretch the move past the stale threshold
        scala.util.Try(
          System.currentTimeMillis() - WarehouseIO.modifiedAtMs(lock))
          .foreach(age => if (age > maxAge) maxAge = age)
      }
    }
    try {
      sink.upsert(patch, Seq("id")) // full-swap rewrite (unpartitioned)
      assert(readPairs(sink) == expected)
      assert(steps * 25L > WarehouseIO.swapLockStaleMs,
        s"the move must outlast the stale threshold for this test to " +
          s"prove anything (took ${steps * 25} ms of injected sleep)")
      assert(maxAge < WarehouseIO.swapLockStaleMs,
        s"lock aged to $maxAge ms mid-move — a waiter would have broken " +
          "a LIVE holder's lock")
    } finally { disarm(); WarehouseIO.swapLockStaleMs = prevStale }
  }

  test("breaking a stale lock admits exactly ONE breaker (rename-based)") {
    // delete-then-create breaking was non-atomic: a slow breaker could
    // delete the FRESH lock another waiter had just claimed. The rename-
    // to-tombstone break has one winner on any store.
    val dir = new org.apache.hadoop.fs.Path(wh)
    val lock = new org.apache.hadoop.fs.Path(dir, ".sc_onebreak_lock")
    WarehouseIO.writeStringAtomic(lock, "dead-holder")
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        start.await()
        if (WarehouseIO.breakLock(lock)) wins.incrementAndGet()
        ()
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(wins.get() == 1,
      s"exactly one breaker must win the rename, got ${wins.get()}")
    assert(!WarehouseIO.exists(lock))
  }

  test("a full rewrite completes cleanly under per-file move semantics") {
    WarehouseIO.nonAtomicDirMoves = true
    try {
      val sink = mkSink("sc_clean")
      sink.append(base)
      sink.upsert(patch, Seq("id"))
      assert(readPairs(sink) == expected)
      val root = new org.apache.hadoop.fs.Path(s"$wh/sc_clean")
      WarehouseIO.scratchSiblings(root).foreach(p =>
        assert(!WarehouseIO.exists(p)))
    } finally disarm()
  }
}
