package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL MATERIALIZED AGGREGATE VIEW — keyed aggregates (count +
  * decimal-exact sums, served avg, optional min/max) maintained by delta
  * segments instead of recomputation: the OLAP rollup a 100 TB append
  * stream cannot afford to rebuild nightly, as the engine's SEVENTH
  * stored-state family (the budget gate's fills ledger generalized from
  * per-source token sums to arbitrary group-by keys and measures).
  *
  * Semantics: `read(dir)` always equals `rows.groupBy(keys).agg(count,
  * sum(dec(v))…, min/max…)` over every row appended minus every row
  * forgotten — the append/forget deltas are themselves that aggregate
  * over the batch (positive/negated), and addition is associative/
  * commutative, so any interleaving of init/append/forget/compact folds
  * to the same view (AggViewSpec proves init+appends == one-shot,
  * forget == erasure, and q:`q_aggview` / q:`q_aggview_minmax`
  * hash-check full lifecycles against one DuckDB GROUP BY). Measures
  * follow the engine's oracle-parity rule ([[graft.Tables.dec]]):
  * doubles cast to decimal(12,2) BEFORE summing (order-independent
  * exact addition), accumulated as decimal(38,2). `avg_<v>` is served
  * from sum/cnt (one IEEE division of the exact decimal — free and
  * bit-reproducible); min/max pick RAW input values (no arithmetic), so
  * they hash-compare cross-engine too.
  *
  * MIN/MAX are NOT invertible under forget (a retracted maximum needs
  * the surviving rows of its key to re-derive the runner-up), so they
  * follow a different discipline than the additive measures:
  *  - state rows carry the key's extrema AS OF their segment, and the
  *    served value is LAST-WRITER-WINS per key (`max_by(value, seg)` —
  *    the LSM upsert rule) while cnt/sums still fold by sum;
  *  - `append` merges the batch extrema with the served ones for the
  *    touched keys (one kb-pruned read, bounded by batch keys — the
  *    classic LSM read-modify-write; additive-only views skip it and
  *    keep the read-free append);
  *  - `forget` REQUIRES the surviving base rows (`base`) and
  *    re-aggregates extrema for exactly the touched keys (bounded: a
  *    keys-semi-join on the base, never a full re-aggregate).
  * Views declared without `minmax` enforce the additivity contract by
  * construction — nothing non-invertible is ever stored.
  *
  * Layout under `dir` (one [[IndexCommit]] manifest):
  *  - `meta`  — one row (keycols, valcols, nbuckets, ddl, mmcols): the
  *              view definition, so appends/forgets re-derive the exact
  *              same aggregate, and the stored DDL makes reads
  *              schema-stable.
  *  - `state/seg=N/kb=K` — LSM delta segments, partitioned by
  *              `kb = pmod(xxhash64(keys…), nbuckets)` (the termdf
  *              layout: one file per partition value per segment, point
  *              lookups can prune by key bucket).
  *
  * Scale: every mutation is O(batch distinct keys) — one aggregate over
  * the batch, one staged segment, one manifest rename (crash-atomic,
  * failpoints `aggview-staged`/`aggview-before-commit`); the read folds
  * segment count x live keys, bounded by [[compact]]'s segment budget.
  * No corpus rescan exists anywhere in the lifecycle (a min/max forget
  * rescans only the touched keys' base rows — partition the base on the
  * view keys to make that a pruned scan).
  */
object AggView {

  /** Accumulator type: wide enough that 100 TB of decimal(12,2) measures
    * cannot overflow a key's running sum.
    */
  val SumType = "decimal(38,2)"

  private def kbCol(keys: Seq[String], nb: Int): Column =
    pmod(xxhash64(concat_ws("\u001f", keys.map(col): _*)), lit(nb.toLong))

  /** The view-defining aggregate of one row batch: (keys…, cnt,
    * sum_<v>…, min_<c>/max_<c>…). Shared by init, append, and (negated)
    * forget, so the delta algebra is exact by construction.
    */
  private def aggOf(df: DataFrame, keys: Seq[String], vals: Seq[String],
                    mm: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("cnt") +:
      (vals.map(v =>
        sum(graft.Tables.dec(col(v))).cast(SumType).as(s"sum_$v")) ++
        mm.flatMap(c => Seq(min(col(c)).as(s"min_$c"),
          max(col(c)).as(s"max_$c"))))
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  private case class Meta(keys: Seq[String], vals: Seq[String],
                          mm: Seq[String], nb: Int, ddl: String)

  private def metaOf(spark: SparkSession, dir: String,
                     asOf: Option[Int]): Meta = {
    // mmcols last: pre-r16 metas lack the column and read as null
    val r = StoredIndex.readTable(spark, s"$dir/meta",
      "keycols STRING, valcols STRING, nbuckets INT, ddl STRING, " +
        "mmcols STRING", asOf)
      .collect()
    require(r.nonEmpty, s"no agg-view meta under $dir")
    Meta(r(0).getString(0).split(',').toSeq,
      r(0).getString(1).split(',').filter(_.nonEmpty).toSeq,
      Option(r(0).getString(4)).toSeq
        .flatMap(_.split(',').filter(_.nonEmpty)),
      r(0).getInt(2), r(0).getString(3))
  }

  /** Fold of the state LSM to per-key totals: cnt/sums by exact sum,
    * extrema LAST-WRITER-WINS (`max_by(value, seg)` — every mutation
    * writes a touched key's current extrema, so the newest segment's
    * row is authoritative; segment numbers strictly increase and each
    * segment holds at most one row per key, so the pick is total-order
    * deterministic).
    */
  private def foldAggs(m: Meta): Seq[Column] =
    sum(col("cnt")).as("cnt") +:
      (m.vals.map(v => sum(col(s"sum_$v")).cast(SumType).as(s"sum_$v")) ++
        m.mm.flatMap(c => Seq(
          max_by(col(s"min_$c"), col("seg")).as(s"min_$c"),
          max_by(col(s"max_$c"), col("seg")).as(s"max_$c"))))

  /** The public served schema: keys, cnt, sums, avg_<v> (sum/cnt — one
    * IEEE division of the exact decimal, free to serve), extrema.
    */
  private def servedSelect(df: DataFrame, m: Meta): DataFrame =
    df.select((m.keys.map(col) :+ col("cnt")) ++
      m.vals.map(v => col(s"sum_$v")) ++
      m.vals.map(v => (col(s"sum_$v").cast("double") / col("cnt"))
        .as(s"avg_$v")) ++
      m.mm.flatMap(c => Seq(col(s"min_$c"), col(s"max_$c"))): _*)

  /** INITIALIZE the view: the defining aggregate over the initial rows as
    * the base segment, plus the committed view definition. `minmax`
    * declares the non-additive extrema measures (see the family scaladoc
    * for their forget contract); omit it and the view is additive by
    * construction.
    */
  def write(rows: DataFrame, dir: String, keys: Seq[String],
            vals: Seq[String], nBuckets: Int = 16,
            minmax: Seq[String] = Nil): Unit = {
    require(keys.nonEmpty, "an agg view needs at least one key column")
    require(nBuckets > 0, "nBuckets must be > 0")
    val spark = rows.sparkSession
    import spark.implicits._
    IndexCommit.deleteTree(java.nio.file.Paths.get(dir))
    val state = aggOf(rows, keys, vals, minmax)
    StoredIndex.writeByPart(state.withColumn("kb", kbCol(keys, nBuckets)),
      "kb", s"$dir/state/seg=0")
    val ddl = state.schema.toDDL + ", seg INT, kb BIGINT"
    Seq((keys.mkString(","), vals.mkString(","), nBuckets, ddl,
        minmax.mkString(",")))
      .toDF("keycols", "valcols", "nbuckets", "ddl", "mmcols")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    IndexCommit.commitFiles(dir, IndexCommit.walkDataFiles(dir))
  }

  /** One state delta segment of `delta` — the shared append/forget path
    * (failpoints `aggview-staged` / `aggview-before-commit`); a no-op when
    * the delta is empty. Returns the number of delta rows.
    */
  private def appendDelta(spark: SparkSession, dir: String)(
      delta: Meta => DataFrame): Long =
    StoredIndex.mutate(dir, "aggview") { t =>
      val m = metaOf(spark, dir, None)
      val d = delta(m)
      val n = d.count()
      if (n > 0) {
        StoredIndex.writeByPart(d.withColumn("kb", kbCol(m.keys, m.nb)),
          "kb", t.stage("state"))
        IndexCommit.hit("aggview-staged")
        t.moveToNextSeg("state", "state", "seg=")
      }
      n
    }

  /** APPEND rows into the view: one positive delta segment of the
    * defining aggregate over the batch. Empty batches are a no-op (no
    * segment, no version). For a min/max view the batch extrema MERGE
    * with the served ones first (one kb-pruned read of the touched
    * buckets — O(batch keys), the LSM read-modify-write; additive views
    * skip the read entirely). Returns the number of delta rows written.
    *
    * SINGLE WRITER (the standing stored-family contract, stated here
    * because min/max makes it load-bearing): additive appends commute —
    * two concurrent appends merge correctly in any commit order — but a
    * min/max append is a read-modify-write against the served extrema,
    * so two concurrent appends touching the same key can both read the
    * same `cur_*` and the later commit silently drop the earlier batch's
    * extremum. Writers serialize per view dir (the same one-maintainer
    * assumption every compaction in this engine states); readers are
    * never blocked (manifest snapshot isolation).
    */
  def append(rows: DataFrame, dir: String): Long =
    appendDelta(rows.sparkSession, dir) { m =>
      val spark = rows.sparkSession
      val delta0 = aggOf(rows, m.keys, m.vals, m.mm)
      if (m.mm.isEmpty) delta0 else {
        // bounded collect: the batch's touched kb buckets (<= nbuckets)
        val wanted = delta0.select(kbCol(m.keys, m.nb).as("kb")).distinct()
          .collect().map(_.getLong(0)).toSeq
        val curAggs = m.mm.flatMap(c => Seq(
          max_by(col(s"min_$c"), col("seg")).as(s"cur_min_$c"),
          max_by(col(s"max_$c"), col("seg")).as(s"cur_max_$c")))
        val cur = StoredIndex.readTable(spark, s"$dir/state", m.ddl, None)
          .filter(col("kb").isin(wanted: _*))
          .groupBy(m.keys.map(col): _*).agg(curAggs.head, curAggs.tail: _*)
        delta0.join(cur, m.keys, "left")
          .select(m.keys.map(col) ++ (col("cnt") +:
            (m.vals.map(v => col(s"sum_$v")) ++
              m.mm.flatMap(c => Seq(
                // least/greatest skip nulls: a key new to the view (or
                // nulled by a full erasure) restarts at the batch extrema
                least(col(s"cur_min_$c"), col(s"min_$c")).as(s"min_$c"),
                greatest(col(s"cur_max_$c"), col(s"max_$c"))
                  .as(s"max_$c"))))): _*)
      }
    }

  /** FORGET rows — erase exactly their contribution (takedowns / GDPR
    * erasure of fact rows whose rollup must stop counting them): the
    * SAME defining aggregate, negated, as one delta segment. The caller
    * asserts the rows were previously appended (no clamping — the budget
    * gate's refund rule: an over-forget is visible in the merged view
    * and the segment history, never silently absorbed).
    *
    * MIN/MAX views must pass `base` — the SURVIVING fact rows (the
    * system of record, post-deletion): extrema are not invertible, so
    * the touched keys' values re-derive from their surviving rows (a
    * keys-semi-join bounds the rescan to exactly those keys; a key with
    * no survivors serves null extrema and disappears with its cnt).
    * Additive views ignore `base`. Returns the number of delta rows
    * written.
    */
  def forget(rows: DataFrame, dir: String,
             base: Option[DataFrame] = None): Long =
    appendDelta(rows.sparkSession, dir) { m =>
      require(m.mm.isEmpty || base.nonEmpty,
        s"this view carries min/max measures (${m.mm.mkString(",")}), " +
          "which are not invertible under forget — pass base = the " +
          "surviving fact rows so the touched keys' extrema re-derive")
      val pos = aggOf(rows, m.keys, m.vals, Nil)
      val neg = pos.select(m.keys.map(col) ++
        ((-col("cnt")).as("cnt") +:
          m.vals.map(v => (-col(s"sum_$v")).cast(SumType).as(s"sum_$v"))): _*)
      if (m.mm.isEmpty) neg else {
        val touched = pos.select(m.keys.map(col): _*).distinct()
        val mmAggs = m.mm.flatMap(c => Seq(min(col(c)).as(s"min_$c"),
          max(col(c)).as(s"max_$c")))
        val fresh = base.get
          .join(broadcast(touched), m.keys, "left_semi")
          .groupBy(m.keys.map(col): _*).agg(mmAggs.head, mmAggs.tail: _*)
        // a touched key with no survivors joins null extrema — correct:
        // its cnt folds to zero and the read drops it
        neg.join(fresh, m.keys, "left")
          .select(m.keys.map(col) ++ (col("cnt") +:
            (m.vals.map(v => col(s"sum_$v")) ++
              m.mm.flatMap(c => Seq(col(s"min_$c"), col(s"max_$c"))))): _*)
      }
    }

  /** The SERVED VIEW: fold the delta segments to per-key totals (sums
    * exact-additive, extrema last-writer-wins — [[foldAggs]]), plus the
    * derived `avg_<v>` columns. Keys whose live count annihilated to
    * zero disappear (fully-erased); a NEGATIVE count (an over-forget)
    * surfaces as-is — auditable, the refund discipline. `asOf` serves
    * any committed version.
    */
  def read(spark: SparkSession, dir: String,
           asOf: Option[Int] = None): DataFrame = {
    val m = metaOf(spark, dir, asOf)
    val aggs = foldAggs(m)
    servedSelect(
      StoredIndex.readTable(spark, s"$dir/state", m.ddl, asOf)
        .groupBy(m.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
        .filter(col("cnt") =!= 0L), m)
  }

  /** POINT LOOKUP: the served totals of ONE key tuple, with the key's
    * `kb` bucket pushed as a partition filter — the O(1/nbuckets) read
    * the 100 TB serving story needs (a dashboard asking for one rollup
    * cell must not fold the whole view). The bucket is computed by the
    * SAME column expression the writers use, evaluated on a one-row
    * local frame (no index-sized job plans the pruning); AggViewSpec
    * asserts the partition filter and lookup == read().filter(keys).
    * `vals` align with the view's key columns in meta order.
    */
  def lookup(spark: SparkSession, dir: String, vals: Seq[Any],
             asOf: Option[Int] = None): DataFrame = {
    val m = metaOf(spark, dir, asOf)
    require(vals.length == m.keys.length,
      s"lookup needs ${m.keys.length} key values (${m.keys.mkString(",")})")
    import spark.implicits._
    val kb = Seq(0).toDF("__x")
      .select(m.keys.zip(vals).map { case (k, v) =>
        lit(v).as(k) }: _*)
      .select(kbCol(m.keys, m.nb).as("kb"))
      .collect()(0).getLong(0)
    val aggs = foldAggs(m)
    servedSelect(
      StoredIndex.readTable(spark, s"$dir/state", m.ddl, asOf)
        .filter(col("kb") === kb)
        .filter(m.keys.zip(vals).map { case (k, v) =>
          col(k) === lit(v) }.reduce(_ && _))
        .groupBy(m.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
        .filter(col("cnt") =!= 0L), m)
  }

  /** STREAMING ENRICHMENT — the family's route tier, and the online
    * FEATURE-STORE read path: each arrival picks up its key's served
    * totals (count + sums) from the committed view. Per micro-batch: ONE
    * bounded driver collect (the batch's probed `kb` buckets, <=
    * nbuckets values regardless of batch size) pushed as a partition
    * filter on the state scan, the pruned slice folded and joined back
    * on the keys. Arrivals under unknown keys answer with ZEROS (an
    * enrichment must answer for every arrival — the gate discipline),
    * so downstream logic never branches on null. Run under
    * `foreachBatch`; decisions track learns exactly like every route
    * (AggViewSpec replay).
    */
  def route(batch: DataFrame, dir: String,
            asOf: Option[Int] = None): DataFrame = {
    val spark = batch.sparkSession
    val m = metaOf(spark, dir, asOf)
    // the served aggregate columns join INTO the batch — a batch already
    // carrying one of their names (plausible for feature frames) would
    // make the join output ambiguous and fail far from here
    val reserved = "cnt" +: (m.vals.map(v => s"sum_$v") ++
      m.mm.flatMap(c => Seq(s"min_$c", s"max_$c")))
    val clash = batch.columns.intersect(reserved)
    require(clash.isEmpty,
      s"route batch column(s) ${clash.mkString(", ")} collide with the " +
        "view's served aggregate columns; rename them before routing")
    val wanted = batch.select(kbCol(m.keys, m.nb).as("kb")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val aggs = foldAggs(m)
    val view = StoredIndex.readTable(spark, s"$dir/state", m.ddl, asOf)
      .filter(col("kb").isin(wanted: _*))
      .groupBy(m.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .filter(col("cnt") =!= 0L)
    // additive measures answer zeros for unknown keys (the gate
    // discipline); extrema have no zero identity and pass through null
    batch.join(view, m.keys, "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .select(batch.columns.map(col) ++ (col("cnt") +:
        (m.vals.map(v => coalesce(col(s"sum_$v"), lit(0).cast(SumType))
          .as(s"sum_$v")) ++
          m.mm.flatMap(c =>
            Seq(col(s"min_$c"), col(s"max_$c"))))): _*)
  }

  /** Fold the state LSM back to ONE segment past `maxSegments` — the
    * served view is unchanged by construction; rows whose every measure
    * annihilated to zero are physically dropped (a key with cnt 0 but a
    * nonzero sum is a caller-side asymmetric forget and is KEPT, so the
    * audit trail survives the fold). Returns folded segment count (0 =
    * no-op).
    */
  def compact(spark: SparkSession, dir: String,
              maxSegments: Int = 8): Int =
    StoredIndex.mutate(dir, "aggview-compact") { t =>
      // read only when a fold is due: an under-budget call runs no job
      lazy val m = metaOf(spark, dir, None)
      StoredIndex.foldLsm(t, "state", m.ddl, "seg=", maxSegments,
          Some("kb")) { segs =>
        val aggs = foldAggs(m)
        val allZero = (col("cnt") === 0L) +: m.vals.map(v =>
          col(s"sum_$v") === lit(0).cast(SumType))
        segs.groupBy(m.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
          .filter(!allZero.reduce(_ && _))
          .withColumn("kb", kbCol(m.keys, m.nb))
      }
    }

  /** Nightly-ops policy driver ([[StoredIndex.maintain]] dispatch, family
    * signature `state`): fold past the segment budget, else noop;
    * idempotent.
    */
  def maintain(spark: SparkSession, dir: String,
               maxSegments: Int = 8): Maintenance = {
    val folded = compact(spark, dir, maxSegments)
    Maintenance("aggview", if (folded > 0) "compact" else "noop",
      folded.toLong)
  }
}
