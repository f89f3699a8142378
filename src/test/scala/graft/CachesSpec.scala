package graft

/** Registry semantics for the scoped cache — bounded live entries per
  * family (capacity 3 since r11: raw corpus + curated view + one-shot
  * index-build frame), same-key reuse, LRU eviction, and the r10
  * hit/miss counters the bench record reads.
  */
class CachesSpec extends SparkSpec {
  import spark.implicits._

  test("same key hits, capacity-overflow evicts LRU, counters record both") {
    val fam = s"spec-${System.nanoTime()}" // unique family per run
    // one DISTINCT plan per key: identical plans would alias in Spark's
    // CacheManager and an eviction of one would silently unpersist all
    def build(i: Int) = Seq(i, i + 1).toDF("x")
    val before = Caches.counters.getOrElse(fam, (0L, 0L))
    val a = Caches.cached(fam, "k1")(build(1))
    val b = Caches.cached(fam, "k1")(build(1))
    assert(a eq b, "same (family, key) must return the SAME persisted frame")
    val c = Caches.cached(fam, "k2")(build(2))
    assert(!(c eq a), "a new key must build its own frame")
    // capacity 3: all three corpora stay resident — the r11 fix for the
    // raw/curated/build-frame thrash (each re-request is a hit)
    assert(Caches.cached(fam, "k1")(sys.error("k1 must still be live")) eq a)
    assert(Caches.cached(fam, "k2")(sys.error("k2 must still be live")) eq c)
    val d = Caches.cached(fam, "k3")(build(3))
    assert(Caches.cached(fam, "k1")(sys.error("k1 must survive k3")) eq a)
    // a fourth key overflows capacity and evicts the LRU entry (touch
    // order is now k1, k3, k2 — so k2 is the evictee)...
    val e = Caches.cached(fam, "k4")(build(4))
    assert(Caches.cached(fam, "k3")(sys.error("k3 must survive k4")) eq d)
    // ...and re-requesting k2 rebuilds (a miss, proving the eviction)
    val c2 = Caches.cached(fam, "k2")(build(2))
    assert(!(c2 eq c), "the LRU entry must have been evicted at capacity")
    assert(e ne null)
    // (evictees unpersist blocking=false — their storageLevel flips
    // asynchronously, so only the just-built live frame is checked)
    assert(c2.storageLevel.useDisk, "live frames stay persisted")
    val (h, m) = Caches.counters(fam)
    assert(h - before._1 == 5 && m - before._2 == 5,
      s"expected 5 hits / 5 misses, got ${(h - before._1, m - before._2)}")
    // memo registry shares the counter surface
    val vfam = s"$fam-memo"
    assert(Caches.memo(vfam, "k")(41) == 41)
    assert(Caches.memo[Int](vfam, "k")(sys.error("must not recompute")) == 41)
    assert(Caches.counters(vfam) == ((1L, 1L)))
  }

  test("a build that throws runs once: a caller waiting on the same key " +
      "sees the same failure, and no persisted frame survives") {
    import scala.jdk.CollectionConverters._
    val fam = s"spec-fail-${System.nanoTime()}"
    // a distinct plan: nothing else in the session caches it
    def frame = Seq(7919, 7920).toDF("x")
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val started = new java.util.concurrent.CountDownLatch(1)
    @volatile var second: Thread = null
    def waitingOnHolder(t: Thread): Boolean =
      t != null && t.getState == Thread.State.BLOCKED &&
        t.getStackTrace.exists(_.getClassName.contains("Caches$Holder"))
    def build(): org.apache.spark.sql.DataFrame = {
      if (builds.incrementAndGet() == 1) {
        started.countDown()
        // fail only once the second caller is blocked on this very build
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (!waitingOnHolder(second) && System.nanoTime() < deadline)
          Thread.sleep(5)
        throw new IllegalStateException("boom")
      }
      frame
    }
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Any]()
    def call(): Unit = results.add(
      try Caches.cached(fam, "k")(build()) catch { case e: Throwable => e })
    val first = new Thread(() => call())
    first.start()
    started.await()
    second = new Thread(() => call())
    second.start()
    first.join()
    second.join()
    assert(builds.get == 1,
      "the failed build must not re-run for the caller waiting on it")
    assert(results.asScala.toSeq.map {
        case e: IllegalStateException => e.getMessage
        case other => s"value $other" } == Seq("boom", "boom"),
      "both callers must see the build's failure")
    assert(frame.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "no persisted frame may remain")
  }
}
