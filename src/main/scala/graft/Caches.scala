package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Scoped registry for persisted intermediate frames shared across queries
  * (the round-1 leak: `Dedup.postings` / `LogCorpus.parsed` persisted on
  * every invocation and nothing ever unpersisted, so a long-lived session
  * accreted cached partitions).
  *
  * BOUNDED live entries per family: requesting a key under a family at
  * capacity unpersists the least-recently-used frame first, so the session
  * holds at most [[Caches.frameCapacity]] cached corpora per family no
  * matter how many (sf, params) combinations a long-lived server sees.
  * Same-key requests return the SAME persisted instance, so the "Asked to
  * cache already cached data" re-persist warnings disappear too.
  *
  * Capacity is 3, not 1, since r11: the flagship curation pipeline runs
  * the near-dup/contamination index families over its post-dedup CURATED
  * frame while the dedup_* and text_contaminate* queries run them over the
  * RAW corpus, and the stored-index builds (dedup_lsh_incremental's
  * even-id half) pass one more transient frame through the same families
  * — a genuine three-corpus working set, interleaved by the bench's
  * alphabetical order. At capacity 1 each switch evicted the other
  * corpus's index and every warm pass re-paid both builds; at 2 the
  * one-shot build frame still evicted the curated view once per session
  * (the pass-2 curate_pipeline rebuild). Frames are DISK_ONLY, so the
  * residency cost is scratch disk, not heap — see the storage-level note
  * below.
  */
object Caches {
  // DISK_ONLY: read cost measured equivalent to MEMORY_AND_DISK(_SER) here
  // (the columnar-batch build dominates persist cost, reread ~0.1s at sf0.1
  // for all levels — the round-10 A/B in BENCHDIFF_r10.md), but on-heap cached blocks are
  // NOT free: with ~20 live family caches and this box's single-threaded
  // SerialGC, heap occupancy turned full collections into 2-3s pauses that
  // landed on whichever query ran next (the r9/r10 "perf-weak"
  // dedup_minhash_lsh and q_pagerank inflations — per-query gc maps in
  // BENCH_FULL_r10.json attribute 50-70% of their warm wall time to GC,
  // with zero cache misses). Keeping shared corpus frames off-heap trades a
  // page-cache read for a quiet heap — the same call a real executor makes
  // when cached partitions compete with task memory.
  /** Max resident frames per family (most-recently-used first). */
  val frameCapacity = 3

  /** Build-once cell: the registry lock below covers BOOKKEEPING only —
    * the actual build (which runs Spark jobs, possibly for seconds) runs
    * under this holder's OWN monitor, OUTSIDE the global one. Holding
    * the monitor across builds deadlocked the r18 parallel stage writes
    * (a `stagedPath` build fans out jobs whose threads call `cached` —
    * blocked on the monitor the building thread still held) and, more
    * generally, serialized every cache access behind whichever build was
    * in flight. `isBuilt` lets eviction skip entries another thread is
    * still constructing (the value to release does not exist yet — the
    * rare losing side of that race leaks one frame/dir, exactly the
    * pre-r18 behavior under eviction).
    *
    * SINGLE-SHOT: the build runs at most once. A build that throws
    * latches its Throwable and every later access rethrows it — a
    * `lazy val` would re-run the build for a caller already blocked on
    * the holder, persisting a frame its deregistered entry no longer
    * tracks.
    */
  private final class Holder[T](f: () => T) {
    @volatile private var built = false
    @volatile private var failure: Throwable = null
    private var result: T = _
    def value: T = synchronized {
      if (!built && failure == null)
        try { result = f(); built = true }
        catch { case e: Throwable => failure = e }
      if (failure != null) throw failure
      result
    }
    def isBuilt: Boolean = built
    def isFailed: Boolean = failure != null
  }

  private val live =
    scala.collection.mutable.Map.empty[String, List[(String, Holder[DataFrame])]]

  // Holders evicted (or replaced) while their build was still in flight:
  // the value to release did not exist at eviction time, so release is
  // DEFERRED — the list is swept on every later registry call and at
  // clear(), unpersisting/deleting entries whose build has since
  // completed (ADVICE r18: the losing side of the eviction race leaked
  // one frame/dir until clear()).
  private val pendingFrames =
    scala.collection.mutable.ArrayBuffer.empty[Holder[DataFrame]]
  private val pendingDirs =
    scala.collection.mutable.ArrayBuffer.empty[Holder[String]]

  /** Sweep deferred releases whose builds have completed. Called with the
    * registry lock held; the actual unpersist/delete runs on the built
    * value, outside any build.
    */
  private def sweepPending(blocking: Boolean = false): Unit = {
    // a failed build holds nothing to release: drop it with the rest
    pendingFrames --= pendingFrames.filter(_.isFailed)
    pendingDirs --= pendingDirs.filter(_.isFailed)
    val frames = pendingFrames.filter(_.isBuilt)
    pendingFrames --= frames
    frames.foreach(h => h.value.unpersist(blocking))
    val dirs = pendingDirs.filter(_.isBuilt)
    pendingDirs --= dirs
    dirs.foreach(h => deleteTree(h.value))
  }

  // Bench-visible hit/miss/evict counters (VERDICT r9 #3: a warm pass that
  // is SLOWER than cold smells like a silent cache eviction — make
  // hits/misses a recorded fact instead of a theory). Covers all three
  // registries; key = family.
  private val hits = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private val misses = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private def bump(m: java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong], family: String): Unit =
    m.computeIfAbsent(family, _ => new java.util.concurrent.atomic.AtomicLong).incrementAndGet()

  /** (family -> (hits, misses)) since JVM start; for the bench record. */
  def counters: Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    (hits.keySet.asScala ++ misses.keySet.asScala).map { f =>
      f -> ((Option(hits.get(f)).map(_.get).getOrElse(0L),
        Option(misses.get(f)).map(_.get).getOrElse(0L)))
    }.toMap
  }

  /** The cached frame for (family, key), building + persisting on first
    * use. A miss at family capacity evicts the least-recently-used entry.
    */
  def cached(family: String, key: String)(build: => DataFrame): DataFrame = {
    val (holder, evicted) = synchronized {
      sweepPending()
      val entries = live.getOrElse(family, Nil)
      entries.find(_._1 == key) match {
        case Some((_, h)) =>
          bump(hits, family)
          live(family) = (key, h) :: entries.filterNot(_._1 == key)
          (h, Nil)
        case None =>
          bump(misses, family)
          val h = new Holder(() => build.persist(StorageLevel.DISK_ONLY))
          val all = (key, h) :: entries
          live(family) = all.take(frameCapacity)
          (h, all.drop(frameCapacity))
      }
    }
    evicted.foreach { case (_, h) =>
      if (h.isBuilt) h.value.unpersist(blocking = false)
      else synchronized { pendingFrames += h }
    }
    try holder.value
    catch { case e: Throwable =>
      // a failed build must not stay registered: later callers would
      // count a HIT and rethrow the latched failure instead of retrying
      // (ADVICE r18 — hit/miss counters over-counted after failures)
      synchronized {
        live.get(family).foreach { entries =>
          live(family) = entries.filterNot(_._2 eq holder)
        }
      }
      throw e
    }
  }

  // STAGED on-disk artifacts (bucketed table copies, inverted indexes,
  // sketch stores): the r7 bench leak was four queries creating a fresh
  // Files.createTempDirectory and rewriting their fixture on EVERY
  // invocation — warm passes re-paid the build, and each pass leaked a
  // directory. Same one-live-entry-per-family discipline as `cached`:
  // the same key returns the staged path untouched (steady-state reads),
  // a key change deletes the predecessor tree and rebuilds.
  private val livePaths =
    scala.collection.mutable.Map.empty[String, (String, Holder[String])]

  /** The staged directory for (family, key), built once by `build(path)`.
    * Include a session marker in `key` when the artifact registers
    * catalog state (tables are per-session; a bare path is not).
    */
  def stagedPath(family: String, key: String)(build: String => Unit): String = {
    val (holder, stale) = synchronized {
      sweepPending()
      livePaths.get(family) match {
        case Some((k, h)) if k == key => bump(hits, family); (h, None)
        case prev =>
          bump(misses, family)
          val h = new Holder(() => {
            val path = java.nio.file.Files
              .createTempDirectory(s"graft-$family").toString
            // a failed build must not leak its partially-written tree
            // (ADVICE r18): delete before rethrowing — the holder is
            // deregistered below, so the next call is a true miss
            try build(path)
            catch { case e: Throwable => deleteTree(path); throw e }
            path
          })
          livePaths(family) = (key, h)
          (h, prev)
      }
    }
    stale.foreach { case (_, h) =>
      if (h.isBuilt) deleteTree(h.value)
      else synchronized { pendingDirs += h }
    }
    try holder.value
    catch { case e: Throwable =>
      synchronized {
        livePaths.get(family) match {
          case Some((_, h)) if h eq holder => livePaths.remove(family)
          case _ => ()
        }
      }
      throw e
    }
  }

  // DRIVER-SIDE memo (trained centroids, fitted thresholds): tiny values
  // whose computation runs Spark jobs — a consumer query (e.g. the cluster
  // profile joining the k-means assignment back to labels) must not re-pay
  // the whole training loop the assignment query just ran. Same
  // one-live-entry-per-family discipline.
  private val liveVals =
    scala.collection.mutable.Map.empty[String, (String, Holder[Any])]

  /** The memoized value for (family, key), computing on first use. A key
    * change within a family evicts the predecessor.
    */
  def memo[T](family: String, key: String)(compute: => T): T = {
    val holder = synchronized {
      liveVals.get(family) match {
        case Some((k, h)) if k == key => bump(hits, family); h
        case _ =>
          bump(misses, family)
          val h = new Holder[Any](() => compute)
          liveVals(family) = (key, h)
          h
      }
    }
    try holder.value.asInstanceOf[T]
    catch { case e: Throwable =>
      // same dereg-on-failure contract as cached()/stagedPath()
      synchronized {
        liveVals.get(family) match {
          case Some((_, h)) if h eq holder => liveVals.remove(family)
          case _ => ()
        }
      }
      throw e
    }
  }

  /** Driver-side DATA fingerprint of a frame's scanned files — one
    * (path, size, mtime) fold over `df.inputFiles`. A plan's
    * `semanticHash` covers paths and schema, NOT contents: a cache keyed
    * on it alone keeps serving a persisted frame after the source files
    * are rewritten in-session. Fold this in wherever that staleness is
    * not acceptable (the staged-fixture registry accepts it for
    * immutable bench fixtures; the curation keep set does not). Cost:
    * one driver stat call per input file — listing-sized, no job.
    */
  def dataFingerprint(df: DataFrame): String = {
    val parts = df.inputFiles.sorted.map { u =>
      val p =
        try java.nio.file.Paths.get(new java.net.URI(u))
        catch { case _: Exception => java.nio.file.Paths.get(u) }
      val (sz, mt) =
        try (java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)
        catch { case _: Exception => (-1L, -1L) }
      s"$u:$sz:$mt"
    }
    // full-strength digest of the joined parts — a 32-bit fold (the old
    // java.util.Objects.hash) collides at 1-in-2^32 and a same-size
    // rewrite inside one mtime millisecond must still change the key
    // with overwhelming probability, which MD5 over the exact
    // (path,size,mtime) list gives at listing cost
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(parts.mkString("\n").getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  private def deleteTree(root: String): Unit = {
    val p = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverseIterator
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** Release every cached frame and staged directory, and drop the
    * stored-index memo ([[graft.sources.StoredIndex.clearMemo]]) — test
    * teardown / session shutdown. Unpersists BLOCK, so no block removal
    * is still in flight when the caller stops the session.
    */
  def clear(): Unit = synchronized {
    sweepPending(blocking = true)
    graft.sources.StoredIndex.clearMemo()
    // entries still mid-build stay pending — their values do not exist
    // yet; a later clear()/registry call sweeps them once built
    live.values.flatten.foreach { case (_, h) =>
      if (h.isBuilt) h.value.unpersist(blocking = true)
      else pendingFrames += h
    }
    live.clear()
    livePaths.values.foreach { case (_, h) =>
      if (h.isBuilt) deleteTree(h.value) else pendingDirs += h
    }
    livePaths.clear()
    liveVals.clear()
  }
}
