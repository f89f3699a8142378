package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One policy decision of a family's nightly-ops `maintain` entry point:
  * which action the COMMITTED state indicated and how many units
  * (partitions / tables / rebuilds) it touched. The loop — inspect, act,
  * re-run converges to `noop` — is the same for every family; only the
  * inspected signals differ (segment budgets, overfull partitions and
  * live tombstones everywhere; the IVF family additionally weighs its
  * stored drift statistics and RETRAINS instead of compacting when the
  * arrival mix has left the trained quantizers behind).
  */
case class Maintenance(family: String, action: String, units: Long)

/** Shared plumbing for the seven STORED-INDEX families (LSH near-dup,
  * IVF vector, BM25 inverted, curation state, budget gate, stored n-gram
  * LM, aggregate view): manifest-pinned table reads (latest or AS-OF a
  * historical version), LSM merged views, tombstone serving, and the
  * MUTATION KERNEL every write path runs through.
  *
  * THE KERNEL: [[mutate]] is the one commit protocol — vacuum crash
  * leftovers, open an [[IndexTxn]], let the family stage its frames under
  * dot-dirs and move them in under fresh part names (the txn's
  * `stage`/`moveIn`/`moveToNextSeg`/`replace`), fire the
  * `<prefix>-before-commit` failpoint, publish ONE atomic [[IndexCommit]]
  * manifest rename when anything changed, then delete what the commit
  * retired. A crash at any point before the rename leaves the previous
  * version serving; the next call's vacuum converges. [[rewriteParts]]
  * (tombstone fold + small-files sweep) and [[foldLsm]] (LSM segment
  * fold) are the two compaction steps the families share. Families keep
  * only their LAYOUT decisions (what is partitioned by what, which
  * statistics are LSM-shaped, what a delete must correct) and the frames
  * they stage.
  *
  * TIME TRAVEL: every read here takes `asOf: Option[Int]`. None serves the
  * latest committed version (falling back to a direct directory read for
  * never-committed legacy dirs); Some(v) pins the file list of manifest
  * version v ([[IndexCommit.pinnedFilesAt]] semantics — resolvable along
  * pure-append chains, failing fast once a compaction rewrote a pinned
  * file). A nested index (the curation state's `lsh/` subtree) resolves
  * versions against its PARENT's manifest, so one version number snapshots
  * the whole composite state.
  */
object StoredIndex {

  /** One parquet file per partition value: shuffling on the partition
    * column before a partitionBy write sends each value to exactly one
    * task, so a table's file count is its PARTITION count, not
    * partitions x write tasks. Readers pay a file-listing pass once per
    * committed file list per session ([[readTable]]), which grows with
    * the file count — and without this the count compounds per LSM
    * segment / append (the classic
    * small-files problem; measured 2.2x on the bm25 route's decisions/s
    * and a 0.39 -> 0.135 scaling exponent, SCALING_r13).
    *
    * HOT-VALUE GUARD (`splitAbove`): one-task-per-value serializes a hot
    * value (a head-term postings bucket, a dense doc range) through a
    * single writer — at large scale that is a straggler and an OOM risk.
    * Passing a row threshold runs ONE extra per-value count aggregation
    * (driver result bounded by the number of HOT values, not partition
    * count) and salts rows of over-threshold values across
    * ceil(max_hot/splitAbove) writer tasks — the value's partition dir
    * then holds that many files instead of one, and readers are unchanged
    * (partition pruning is by directory, not file count). The default
    * (no threshold) keeps the exact one-file layout and runs no extra
    * job — the local test fixtures stay bit-stable; StateAndStoreSpec
    * proves the guarded write splits the hot value and serves identical
    * content.
    */
  def writeByPart(df: DataFrame, part: String, path: String,
                  splitAbove: Long = Long.MaxValue): Unit = {
    val keyed =
      if (splitAbove == Long.MaxValue) df.repartition(col(part))
      else {
        val hot = df.groupBy(col(part)).agg(count(lit(1)).as("__n"))
          .filter(col("__n") > splitAbove)
          .collect().map(r => (r.get(0), r.getLong(1)))
        if (hot.isEmpty) df.repartition(col(part))
        else {
          val slices =
            ((hot.map(_._2).max + splitAbove - 1) / splitAbove).toInt
          val hotVals = hot.map(_._1).toSeq
          // explicit partition COUNT: a by-column repartition is fair
          // game for AQE partition coalescing, which would fold the salt
          // slices right back into one writer task
          val nParts = math.max(df.sparkSession.conf
            .get("spark.sql.shuffle.partitions").toInt, slices)
          df.withColumn("__salt",
              when(col(part).isin(hotVals: _*),
                pmod(xxhash64(struct(df.columns.map(col): _*)),
                  lit(slices.toLong)))
                .otherwise(lit(0L)))
            .repartition(nParts, col(part), col("__salt")).drop("__salt")
        }
      }
    keyed.write.partitionBy(part).mode("overwrite").parquet(path)
  }

  /** Run INDEPENDENT stage-table writes as concurrent Spark jobs
    * (optimization guide §2.6 "overlap independent jobs"): a build/append
    * fans one materialized read-back into several small write actions
    * whose job tails each leave most of the box idle — submitting them
    * from a thread pool back-fills the idle executors, so the fan costs
    * ~max(stage) instead of Σ(stage). Callers pass only stages with NO
    * data dependence between them (each writes its own directory; the
    * shared read-back parquet is immutable). Job-group/description
    * properties are inherited by the pool threads (SparkContext local
    * properties are InheritableThreadLocal), so bench attribution is
    * unchanged. Exceptions propagate unwrapped; remaining stages are
    * awaited so no write outlives the call.
    */
  def parallelStages(stages: Seq[() => Unit]): Unit =
    if (stages.sizeIs <= 1) stages.foreach(_.apply())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(stages.size)
      try {
        val futs = stages.map(s => pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = s()
        }))
        var firstErr: Throwable = null
        futs.foreach { f =>
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              if (firstErr == null) {
                firstErr = e.getCause
                // first failure: cancel stages not yet started (queued
                // futures) so a doomed build stops fanning out writes —
                // in-flight siblings are still awaited below so no write
                // outlives the call (ADVICE r18: siblings used to run to
                // completion and tear extra stage dirs on append paths)
                futs.foreach(_.cancel(false))
              }
            case e: Throwable => if (firstErr == null) {
              firstErr = e
              futs.foreach(_.cancel(false))
            }
          }
        }
        if (firstErr != null) throw firstErr
      } finally pool.shutdown()
    }

  /** Driver memo of values derived from ONE committed state: per-serve
    * metadata collects ([[memoByCommit]]) and the scan relations of
    * pinned table reads ([[readTable]]). Both are immutable per commit,
    * yet every serve re-paid them — a plan-time collect job for the
    * metadata, a file-existence check plus a listing pass (a distributed
    * listing job above 32 paths) for each relation.
    *
    * Keyed on a COMMIT IDENTITY, never a bare version number: a wipe and
    * rebuild at a reused path restarts its manifest numbering at 0, but
    * its part files carry fresh write-job UUIDs, so a digest of the
    * pinned file list never repeats across rebuilds. Each (tag, scope)
    * keeps its [[memoDepth]] most recently used identities, so
    * alternating as-of and latest reads do not evict each other; the
    * least recently used scope past [[memoScopes]] is dropped whole.
    * Entries hold no rows — flag rows, centroid arrays, file statuses —
    * so they are not [[graft.Caches]] frames; [[graft.Caches.clear]]
    * clears them with the rest of the session state.
    */
  private val memoDepth = 4
  private val memoScopes = 512
  private val memo =
    new java.util.LinkedHashMap[(String, String), List[(String, Any)]](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), List[(String, Any)]]) =
        size > memoScopes
    }

  private def memoized[T](tag: String, scope: String,
                          id: String)(compute: => T): T = {
    val hit = memo.synchronized {
      Option(memo.get((tag, scope))).flatMap(_.find(_._1 == id))
    }
    hit match {
      case Some((_, v)) => v.asInstanceOf[T]
      case None =>
        val v = compute
        memo.synchronized {
          val rest = Option(memo.get((tag, scope))).getOrElse(Nil)
            .filterNot(_._1 == id)
          memo.put((tag, scope), ((id, v) :: rest).take(memoDepth))
        }
        v
    }
  }

  /** Drop every memoized value and relation (session teardown). */
  def clearMemo(): Unit = memo.synchronized(memo.clear())

  private def digest(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(lines.mkString("\n").getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  /** The commit identity of the state governing `dir` at `asOf` (latest
    * when None): the governing manifest root and a digest of that
    * version's file list. None for never-committed legacy dirs and for
    * versions absent from the history.
    */
  def commitId(dir: String, asOf: Option[Int] = None): Option[String] =
    IndexCommit.resolveRoot(dir).flatMap { case (root, latest) =>
      IndexCommit.manifestAt(root, asOf.getOrElse(latest))
        .map(files => s"$root|${digest(files)}")
    }

  /** `compute` memoized on the [[commitId]] of the state it reads; with
    * no commit identity it computes on every call.
    */
  def memoByCommit[T](tag: String, dir: String,
                       asOf: Option[Int] = None)(compute: => T): T =
    commitId(dir, asOf) match {
      case Some(id) => memoized(tag, dir, id)(compute)
      case None => compute
    }

  def emptyFrame(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  private def dirHasParquet(path: String): Boolean = {
    val root = java.nio.file.Paths.get(path)
    java.nio.file.Files.exists(root) && {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.exists(_.toString.endsWith(".parquet"))
      finally s.close()
    }
  }

  /** DIRECT directory read of an index table with a declared schema,
    * tolerating the EMPTY-BOOTSTRAP case: a write of zero rows can emit no
    * data files at all (a partitionBy write always, a plain write when the
    * frame has zero partitions). Schema inference has nothing to read
    * then, and in Spark 4 the failure surfaces lazily at ANALYSIS of the
    * consuming query — so the empty case is detected eagerly by listing
    * for data files (index dirs are local-path by the maintenance
    * contract) and served as a zero-row frame with the declared schema.
    * Used by bootstrap readbacks, stage-dir readbacks, and as the legacy
    * (never-committed-dir) fallback.
    */
  def readDirTable(spark: SparkSession, path: String, ddl: String,
                   recursive: Boolean = false): DataFrame =
    if (dirHasParquet(path)) {
      val r = spark.read
        .schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
      (if (recursive) r.option("recursiveFileLookup", "true") else r)
        .parquet(path)
    } else emptyFrame(spark, ddl)

  /** The files under `path` pinned by its governing manifest at `asOf`
    * (latest when None); None only for a latest read of a never-committed
    * legacy dir. As-of reads require a governing manifest and fail fast
    * on a version outside its history or no longer fully resolvable
    * ([[IndexCommit.pinnedFilesAt]]).
    */
  private def pinned(path: String, asOf: Option[Int]): Option[Seq[String]] =
    asOf match {
      case None => IndexCommit.pinnedUnder(path)
      case Some(v) =>
        require(IndexCommit.resolveRoot(path).nonEmpty,
          s"as-of read needs a committed manifest governing $path")
        Some(IndexCommit.pinnedUnder(path, asOf).getOrElse(sys.error(
          s"index version $v is not in the manifest history of $path")))
    }

  /** A scan of exactly `files` with the declared schema. The relation —
    * its file index, i.e. the existence checks and listing of `files` —
    * is built once per (session, table, schema, file list) and reused
    * through [[memoized]]: a committed file list never changes, and every
    * caller resolves the manifest before getting here, so a new commit
    * arrives as a new list. Each call wraps the shared relation in a
    * fresh plan node, so two reads of one table still self-join cleanly.
    */
  private def scanFiles(spark: SparkSession, path: String, ddl: String,
                        files: Seq[String], basePath: Boolean): DataFrame =
    if (files.isEmpty) emptyFrame(spark, ddl)
    else {
      def read: DataFrame = {
        val r = spark.read
          .schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
        (if (basePath) r.option("basePath", path) else r).parquet(files: _*)
      }
      val (owner, rel) = memoized(
          s"relation|${System.identityHashCode(spark)}|$basePath|$ddl", path,
          digest(files)) {
        (spark, read.queryExecution.analyzed.asInstanceOf[
          org.apache.spark.sql.execution.datasources.LogicalRelation].relation)
      }
      // an identity-hash collision between two sessions is a miss, never
      // a relation served outside its session
      if (owner eq spark) spark.baseRelationToDataFrame(rel) else read
    }

  /** SNAPSHOT-ISOLATED table read: resolve the governing committed
    * manifest ([[IndexCommit.pinnedUnder]] — the table's own root or an
    * enclosing composite root) and scan exactly its file list, so files an
    * in-flight or crashed append moved in are invisible and retired-but-
    * undeleted files never double-count. `basePath` recovers the table's
    * `key=value` partition columns from the pinned file paths. The manifest
    * is resolved on every call; the scan relation of a file list already
    * served in this session is reused ([[scanFiles]]).
    *
    * `asOf = Some(v)` serves manifest version v instead of the latest —
    * the manifest history IS the time-travel surface: appends and deletes
    * retire nothing, so every pre-compaction version stays fully
    * resolvable, and an as-of serve reproduces the exact state readers saw
    * at that commit. Unlike the latest-version path, as-of never falls
    * back to a directory walk — snapshot reads require a governing
    * manifest, and an unknown version fails fast.
    */
  def readTable(spark: SparkSession, path: String, ddl: String,
                asOf: Option[Int] = None): DataFrame =
    pinned(path, asOf) match {
      case Some(files) => scanFiles(spark, path, ddl, files, basePath = true)
      case None => readDirTable(spark, path, ddl)
    }

  /** Raw union of an LSM table's delta segments (no basePath — the
    * `seg-NNNNN` dir names are not partition-style, so there are no
    * partition columns to recover; the legacy fallback needs the
    * recursive lookup for the same reason).
    */
  private def lsmSegments(spark: SparkSession, path: String, ddl: String,
                          asOf: Option[Int]): DataFrame =
    pinned(path, asOf) match {
      case Some(files) => scanFiles(spark, path, ddl, files, basePath = false)
      case None => readDirTable(spark, path, ddl, recursive = true)
    }

  /** The merged view of an LSM-shaped index statistic: append-only delta
    * segments carrying per-key count deltas, summed at read. Appends
    * write O(batch keys) instead of rewriting the table-scale statistic;
    * compaction folds the segments back to one base past the family's
    * segment budget (the [[LogStore.compact]] discipline).
    */
  def mergedLsm(spark: SparkSession, path: String, ddl: String,
                keys: Seq[String], cnt: String,
                asOf: Option[Int] = None): DataFrame =
    lsmSum(keys, cnt)(lsmSegments(spark, path, ddl, asOf))

  /** The distinct rows of a route's partition-key frame (a batch's
    * probed IVF cells, BM25 term buckets, LM bigram buckets), collected
    * to the driver for a partition filter in ONE Spark job that adds no
    * exchange: each partition dedups its own rows, the driver dedups the
    * union. `df.distinct().collect()` plans an aggregate around a
    * shuffle — two jobs under AQE, a plan-time floor every serve pays.
    * Pass the frame BEFORE any per-query dedup (`dropDuplicates` is a
    * shuffle of its own); the key set is the same. The collect runs
    * outside a SQL execution (`Dataset.rdd`), so Spark renders no plan
    * for it either.
    */
  def distinctKeys(df: DataFrame): Array[Row] =
    df.rdd.mapPartitions(_.toSet.iterator).collect().distinct

  /** Whether the served version carries live tombstones — a driver-side
    * metadata check (pinned file list or directory walk), so the
    * no-delete common case keeps every served plan EXACTLY as before (no
    * empty anti-join is ever planned).
    */
  def hasTombstones(dir: String, asOf: Option[Int] = None): Boolean =
    asOf match {
      case None => IndexCommit.pinnedUnder(s"$dir/tombstones") match {
        case Some(files) => files.nonEmpty
        case None => dirHasParquet(s"$dir/tombstones")
      }
      case Some(_) =>
        IndexCommit.pinnedUnder(s"$dir/tombstones", asOf).exists(_.nonEmpty)
    }

  /** The served version's tombstoned id set — takedown-sized by contract,
    * cached per (dir, commit) under the family's cache name (route
    * consumers probe it every micro-batch; the set is version-stable
    * between commits). `distinct` for families whose tombstone table
    * carries multiple rows per id (the BM25 (id, tb) bucket list).
    */
  def tombstoneIds(spark: SparkSession, dir: String, family: String,
                   asOf: Option[Int] = None,
                   distinct: Boolean = false): DataFrame = {
    // keyed on the commit identity, not the version number, which a
    // rebuild at a reused dir restarts. The distinct flag is part of the
    // frame's SHAPE, so it must be part of the cache key — two callers
    // sharing dir+commit with different flags must not share one frame
    val id = commitId(s"$dir/tombstones", asOf).getOrElse("legacy")
    graft.Caches.cached(family, s"$dir|$id|d$distinct") {
      val ids = readTable(spark, s"$dir/tombstones", "id BIGINT", asOf)
      if (distinct) ids.distinct() else ids
    }
  }

  /** Exclude tombstoned ids from a served view (broadcast anti-join on
    * the tiny delete set, joined on `idCol`); the no-tombstones case
    * returns the plan untouched.
    */
  def antiTombstoned(spark: SparkSession, dir: String, family: String,
                     df: DataFrame, idCol: String = "id",
                     asOf: Option[Int] = None,
                     distinct: Boolean = false): DataFrame =
    if (!hasTombstones(dir, asOf)) df
    else {
      val ids = tombstoneIds(spark, dir, family, asOf, distinct)
      val keyed = if (idCol == "id") ids else ids.select(col("id").as(idCol))
      df.join(broadcast(keyed), Seq(idCol), "left_anti")
    }

  /** Next LSM segment NUMBER for `dir/table` whose segment dirs start
    * with `prefix` ("seg-", "seg=", "gen-"): max(existing)+1, never a
    * count — non-contiguous crash leftovers must not alias (and silently
    * overwrite) an existing segment. Scans the PHYSICAL directory, not
    * the manifest: a crashed append's moved-in orphan segment must also
    * never be aliased.
    */
  def nextSeg(dir: String, table: String, prefix: String): Int = {
    val root = java.nio.file.Paths.get(dir, table)
    if (!java.nio.file.Files.exists(root)) 0
    else {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(root)
      val names = try s.iterator().asScala.map(_.getFileName.toString).toSeq
        finally s.close()
      names.filter(_.startsWith(prefix)).map(_.stripPrefix(prefix).toInt)
        .maxOption.getOrElse(-1) + 1
    }
  }

  /** Dir name of LSM segment `n`: `seg=N` for partition-style prefixes,
    * zero-padded `seg-NNNNN` / `gen-NNNNN` otherwise.
    */
  private[sources] def segName(prefix: String, n: Int): String =
    if (prefix.endsWith("=")) s"$prefix$n" else f"$prefix$n%05d"

  /** THE MUTATION KERNEL — the one entry point of every append, delete,
    * compaction and rebuild of every family. Standalone (`parent` None)
    * it vacuums crash leftovers, opens an [[IndexTxn]] on `dir`, runs
    * `body`, fires the `<failpoint>-before-commit` failpoint (plain
    * `before-commit` for an empty prefix), commits only when the
    * transaction added or retired a file, and cleans up. A body that
    * throws leaves everything to the next call's vacuum — exactly a
    * crash. Under a `parent` transaction (a nested index mutated inside
    * its composite root's change) it only runs `body` on the parent's
    * transaction scoped to `dir`; the parent commits both together.
    */
  def mutate[T](dir: String, failpoint: String,
                parent: Option[IndexTxn] = None)(body: IndexTxn => T): T =
    parent match {
      case Some(p) => body(p.nested(dir))
      case None =>
        IndexCommit.vacuum(dir)
        val t = new IndexTxn(dir)
        val out = body(t)
        IndexCommit.hit(
          if (failpoint.isEmpty) "before-commit" else s"$failpoint-before-commit")
        if (t.changed) t.commit()
        t.cleanup()
        out
    }

  /** TOMBSTONE FOLD + SMALL-FILES SWEEP of one table of the index `t`
    * mutates. Partitioned by `partCol`: the partitions `keys` (those
    * holding tombstoned rows) plus every partition holding more than
    * `maxFiles` live files are rewritten, one file per partition.
    * Unpartitioned (`partCol` None): the whole table is rewritten to one
    * file when `dead` is given or it holds more than `maxFiles` files.
    * Rows whose `idCol` is in `dead` (an `id` column) are dropped; the
    * rewrite replaces the old files in the same transaction. Returns the
    * number of rewritten partitions (1 for a rewritten unpartitioned
    * table).
    */
  def rewriteParts(t: IndexTxn, table: String, ddl: String,
                   partCol: Option[String], keys: Seq[Long], maxFiles: Int,
                   dead: Option[DataFrame] = None,
                   idCol: String = "id"): Int = {
    val parts = t.liveParts(table)
    val units = partCol match {
      case Some(pc) =>
        (keys.map(k => s"$pc=$k").filter(parts.contains) ++
          parts.collect { case (k, fs) if k.contains("=") &&
            fs.size > maxFiles => k }).distinct
      case None =>
        val n = parts.values.map(_.size).sum
        if (n > 0 && (dead.nonEmpty || n > maxFiles)) Seq("") else Nil
    }
    if (units.nonEmpty) {
      val rows = readTable(SparkSession.active, s"${t.dir}/$table", ddl)
      val wanted = partCol.fold(rows)(pc => rows.filter(
        col(pc).isin(units.map(_.stripPrefix(s"$pc=").toLong): _*)))
      val keep = dead.fold(wanted)(d => wanted.join(
        broadcast(d.select(col("id").as(idCol))), Seq(idCol), "left_anti"))
      partCol match {
        case Some(pc) => writeByPart(keep, pc, t.stage(table))
        case None =>
          keep.coalesce(1).write.mode("overwrite").parquet(t.stage(table))
      }
      units.foreach(u => t.retireUnder(if (u.isEmpty) table else s"$table/$u"))
      t.moveIn(table, table)
    }
    units.size
  }

  /** The tombstones live in `t` (`tombstones` read with `ddl`), None when
    * there are none — the `dead` input of [[rewriteParts]].
    */
  def liveTombstones(t: IndexTxn,
                     ddl: String = "id BIGINT"): Option[DataFrame] =
    Option.when(t.liveUnder("tombstones").nonEmpty)(
      readTable(SparkSession.active, s"${t.dir}/tombstones", ddl))

  /** LSM FOLD of `table` (segments named by `segPrefix`, rows read with
    * `ddl`, evaluated only when a fold is due): once it holds more than
    * `budget` live segments, `merge` folds
    * their union to one row set, which replaces every live segment as ONE
    * segment — the next one, or `segName(segPrefix, 0)` when `toBase` —
    * partitioned by `partCol` when given. `merge` carries the family's
    * algebra: a keyed sum ([[lsmSum]]), custom aggregates, the filters
    * that drop annihilated rows. Returns the number of folded segments
    * (0 = under budget, nothing staged).
    */
  def foldLsm(t: IndexTxn, table: String, ddl: => String, segPrefix: String,
              budget: Int, partCol: Option[String] = None,
              toBase: Boolean = false)(merge: DataFrame => DataFrame): Int = {
    val segs = segCount(t, table, segPrefix)
    if (segs <= budget) 0
    else {
      val spark = SparkSession.active
      val path = s"${t.dir}/$table"
      val merged = merge(
        if (segPrefix.endsWith("=")) readTable(spark, path, ddl)
        else lsmSegments(spark, path, ddl, None))
      val stage = s"$table-fold"
      partCol match {
        case Some(pc) => writeByPart(merged, pc, t.stage(stage))
        case None => merged.write.mode("overwrite").parquet(t.stage(stage))
      }
      t.retireUnder(table)
      if (toBase) t.moveIn(stage, s"$table/${segName(segPrefix, 0)}")
      else t.moveToNextSeg(stage, table, segPrefix)
      segs
    }
  }

  /** The keyed-sum LSM merge: per `keys`, the sum of `cnt`. */
  def lsmSum(keys: Seq[String], cnt: String)(segs: DataFrame): DataFrame =
    segs.groupBy(keys.map(col): _*).agg(sum(col(cnt)).as(cnt))

  /** The family signature of one index directory — its TABLE LAYOUT:
    * `hashes` = curation state, `centroids` = IVF, `termdf` = BM25,
    * `bcounts` = LSH, `budgets` = budget gate, `bi` = stored n-gram LM,
    * `state` = aggregate view, checked in that order so nested subtrees
    * never double-dispatch (the curation state nests an `lsh/` its own
    * driver maintains).
    * Shared by [[maintain]] and [[catalog]].
    */
  private def familyOf(dir: java.nio.file.Path): Option[String] = {
    def has(t: String) = java.nio.file.Files.isDirectory(dir.resolve(t))
    if (has("hashes")) Some("curate")
    else if (has("centroids")) Some("ivf")
    else if (has("termdf")) Some("bm25")
    else if (has("bcounts")) Some("lsh")
    else if (has("budgets")) Some("budget")
    else if (has("bi")) Some("lm")
    else if (has("state")) Some("aggview")
    else None
  }

  /** Indexes under `root` (or `root` itself when it IS one), in path
    * order — the shared target list of [[maintain]] and [[catalog]].
    */
  private def indexesUnder(root: String): Seq[(String, String)] = {
    val rootP = java.nio.file.Paths.get(root)
    familyOf(rootP) match {
      case Some(f) => Seq((root, f))
      case None if java.nio.file.Files.isDirectory(rootP) =>
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.list(rootP)
        val children =
          try s.iterator().asScala
            .filter(java.nio.file.Files.isDirectory(_))
            .toSeq.sortBy(_.toString)
          finally s.close()
        children.flatMap(p => familyOf(p).map(f => (p.toString, f)))
      case None => Seq.empty
    }
  }

  /** INDEX CATALOG — the ops half of [[maintain]] (VERDICT r15 #5: you
    * cannot run a fleet of indexes you cannot list): ONE row per stored
    * index under `root`, derived from manifests and directory listings
    * alone — no data file is ever opened. Columns:
    *
    *   path, family, versions (RETAINED committed manifest count — a
    *   history-depth gauge, not monotone: vacuum prunes past its keep
    *   budget), live_files /
    *   live_bytes (the latest manifest's pinned list, stat'd), tables
    *   (distinct first-level table dirs among the pinned files),
    *   segments (distinct `seg=`/`seg-`/`gen-` LSM dirs — the
    *   compaction-pressure signal [[maintain]] acts on), and
    *   tombstone_files (live files under a `tombstones/` table — the
    *   forget-debt signal).
    *
    * Never-committed legacy dirs report versions 0 with the physical
    * walk as the file list. Driver-side by construction (metadata is
    * listing-sized); served as a DataFrame so fleets join it against
    * monitoring tables. q:`q_index_catalog` serves it rows-only
    * (engine-internal state is not oracle-expressible); MaintainSpec
    * asserts one row per planted family.
    */
  def catalog(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val segRe = "^(seg=|seg-|gen-).*".r
    val rows = indexesUnder(root).map { case (dir, fam) =>
      val versions = IndexCommit.versionsOf(dir).size
      val files = IndexCommit.pinnedFiles(dir)
        .getOrElse(IndexCommit.walkDataFiles(dir))
      val bytes = files.map { rel =>
        val f = java.nio.file.Paths.get(dir, rel)
        try java.nio.file.Files.size(f) catch { case _: Exception => 0L }
      }.sum
      val comps = files.map(_.split('/').toSeq)
      val tables = comps.flatMap(_.headOption).distinct.size
      val segments = comps.flatMap(c =>
        c.init.zipWithIndex.collect {
          case (d, i) if segRe.findFirstIn(d).nonEmpty =>
            c.take(i + 1).mkString("/")
        }).distinct.size
      val tombs = comps.count(_.headOption.contains("tombstones"))
      (dir, fam, versions, files.size.toLong, bytes, tables.toLong,
        segments.toLong, tombs.toLong)
    }
    rows.toDF("path", "family", "versions", "live_files", "live_bytes",
      "tables", "segments", "tombstone_files")
  }

  /** ONE nightly-ops entry for a whole TREE of stored indexes — the
    * umbrella the seven per-family policy drivers plug into (one cron
    * entry, N families): walk the immediate children of `root` (or
    * `root` itself when it IS an index), detect each index's family from
    * its TABLE LAYOUT ([[familyOf]] — the layout names are the family
    * signature, so there is no extra metadata to keep consistent) and run
    * that family's driver:
    * [[graft.operators.Curation.maintainCurateIndex]],
    * [[graft.operators.Similarity.maintainIvfIndex]],
    * [[graft.operators.TextIndex.maintainBm25Index]],
    * [[graft.operators.Dedup.maintainLshIndex]],
    * [[graft.operators.Curation.maintainBudgetGate]],
    * [[graft.operators.LangModel.maintainLmIndex]] and
    * [[AggView.maintain]]. Children matching no family are skipped (a
    * root may hold non-index data). Returns one audit row per dispatched
    * index, in path order; idempotent end-to-end — each driver converges
    * to `noop` and a no-op publishes no version (MaintainSpec).
    */
  def maintain(spark: SparkSession,
               root: String): Seq[(String, Maintenance)] = {
    indexesUnder(root).map { case (dir, fam) =>
      val m = fam match {
        case "curate" =>
          graft.operators.Curation.maintainCurateIndex(spark, dir)
        case "ivf" => graft.operators.Similarity.maintainIvfIndex(spark, dir)
        case "bm25" => graft.operators.TextIndex.maintainBm25Index(spark, dir)
        case "lsh" => graft.operators.Dedup.maintainLshIndex(spark, dir)
        case "budget" =>
          graft.operators.Curation.maintainBudgetGate(spark, dir)
        case "lm" => graft.operators.LangModel.maintainLmIndex(spark, dir)
        case "aggview" => AggView.maintain(spark, dir)
      }
      (dir, m)
    }
  }

  /** EXPORT a committed snapshot of a stored index — the publish /
    * disaster-recovery op: copy exactly the files one manifest version
    * pins (latest by default, any resolvable version via `asOf`) into
    * `outDir`, preserving relative paths, and commit them there as the
    * export's own version 0. The export serves IDENTICALLY to the
    * source at that version (same family layout + its own manifest) and
    * has an INDEPENDENT lineage — appends/compactions on either side
    * never affect the other. Works for every family (the copy is
    * layout-agnostic: whatever the manifest pins moves). Fails fast via
    * [[IndexCommit.pinnedFilesAt]] when the requested version is no
    * longer fully resolvable (a compaction rewrote its files — the
    * Delta-vacuum semantics). Returns the number of files exported.
    *
    * Scale note: this is a driver-side file copy sized by the index, not
    * the corpus — for cluster deployments swap the copy loop for a
    * distributed `hadoop distcp`-style move; the manifest protocol
    * (copy-then-commit, readers never see a partial export) is the part
    * that matters and is what the spec pins.
    *
    * DESTRUCTIVE on the target: the export DELETES `outDir`'s existing
    * tree before copying, so a non-empty target (another live index, any
    * prior data) is refused unless `overwrite = true` — a publish path
    * must never silently destroy what it points at.
    */
  def exportSnapshot(dir: String, outDir: String,
                     asOf: Option[Int] = None,
                     overwrite: Boolean = false): Int = {
    val outP = java.nio.file.Paths.get(outDir)
    if (!overwrite && java.nio.file.Files.isDirectory(outP)) {
      val s = java.nio.file.Files.list(outP)
      val occupied = try s.findFirst().isPresent finally s.close()
      require(!occupied,
        s"exportSnapshot target $outDir is not empty; the export deletes " +
          "the target tree first — pass overwrite = true to replace it")
    }
    val files = (asOf match {
      case Some(v) => IndexCommit.pinnedFilesAt(dir, v)
      case None => IndexCommit.pinnedFiles(dir)
    }).getOrElse(sys.error(
      s"no committed manifest${asOf.fold("")(v => s" version $v")} " +
        s"under $dir"))
    IndexCommit.deleteTree(java.nio.file.Paths.get(outDir))
    files.foreach { rel =>
      val from = java.nio.file.Paths.get(dir, rel)
      val to = java.nio.file.Paths.get(outDir, rel)
      java.nio.file.Files.createDirectories(to.getParent)
      java.nio.file.Files.copy(from, to,
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    }
    IndexCommit.commitFiles(outDir, IndexCommit.walkDataFiles(outDir))
    files.size
  }

  /** Distinct first-level segment dirs (by `prefix`) of the
    * transaction-live `table` — the LSM fold budget check.
    */
  def segCount(t: IndexTxn, table: String, prefix: String): Int =
    t.liveParts(table).keys.count(_.startsWith(prefix))
}
