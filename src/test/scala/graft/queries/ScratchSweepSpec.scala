package graft.queries

import graft.SparkSpec

/** Round-16 internals: the scratch-dir registry/sweep (the measurement-
  * hygiene fix — gate stores used to leak forever and drift the FS-heavy
  * gates) and Sinks.awaitAllWrites' all-settled failure contract (ADVICE
  * r15 — the old fail-fast await unpersisted shared caches while sibling
  * writes still read them).
  */
class ScratchSweepSpec extends SparkSpec {

  test("sweep reclaims registered dirs and files; pinned dirs survive until sweepAll") {
    val d = Scratch.dir("graft_spec_sweep_")
    val f = Scratch.file("graft_spec_sweep_", ".txt")
    java.nio.file.Files.writeString(d.resolve("x.txt"), "x")
    val p = Scratch.pinnedDir("graft_spec_pin_")
    java.nio.file.Files.writeString(p.resolve("y.txt"), "y")
    Scratch.sweep()
    assert(!java.nio.file.Files.exists(d), "per-gate dir must be swept")
    assert(!java.nio.file.Files.exists(f), "per-gate file must be swept")
    assert(java.nio.file.Files.exists(p.resolve("y.txt")),
      "pinned dir must survive the per-gate sweep (memoized fixtures)")
    Scratch.sweepAll()
    assert(!java.nio.file.Files.exists(p), "sweepAll reclaims pinned dirs")
  }

  test("awaitAllWrites returns results in order on success") {
    val out = graft.sources.Sinks.awaitAllWrites(spark,
      Seq(() => 1, () => 2, () => 3))
    assert(out == Seq(1, 2, 3))
  }

  test("awaitAllWrites rethrows the root failure only after every thunk settled") {
    val bStarted = new java.util.concurrent.CountDownLatch(1)
    val bDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val boom = new RuntimeException("root failure")
    val thrown = intercept[RuntimeException] {
      graft.sources.Sinks.awaitAllWrites[Unit](spark, Seq(
        // the root throws only once its sibling runs: a sibling not yet
        // started when the root fails is skipped, by contract
        () => { bStarted.await(30, java.util.concurrent.TimeUnit.SECONDS); throw boom },
        () => { bStarted.countDown(); Thread.sleep(400); bDone.set(true) }))
    }
    assert(thrown.getMessage == "root failure",
      "the ROOT failure is rethrown, not a secondary cancellation")
    assert(bDone.get,
      "the call must not return (and a caller's finally must not run) " +
        "while a sibling thunk is still executing")
  }

  test("awaitAllWrites rethrows a root failure whose message says cancelled") {
    val sc = spark.sparkContext
    val rootMsg = "load cancelled upstream: the source file vanished"
    val thrown = intercept[Exception] {
      graft.sources.Sinks.awaitAllWrites[Unit](spark, Seq(
        // listed first: a sibling whose job the root failure cancels
        () => sc.parallelize(1 to 4, 4).foreach(_ => Thread.sleep(20000)),
        () => {
          val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
          while (sc.statusTracker.getActiveJobIds().isEmpty && System.nanoTime() < deadline)
            Thread.sleep(10)
          throw new IllegalStateException(rootMsg)
        }))
    }
    assert(thrown.getMessage == rootMsg,
      s"the root failure must be rethrown, not the cancellation it caused: $thrown")
  }
}
