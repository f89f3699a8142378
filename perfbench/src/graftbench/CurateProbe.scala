package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, element_at, typedlit}

import graft.operators.Curation

/** The curation layers, timed by the traced `ship` run after its stream has
  * stopped: `Curation.datasetBuild` (curate -> mix -> pack) over corpora the
  * session has never read, so no build can be served from an earlier
  * build's `graft.Caches` entries; the benchmark asserts that. A warm-up
  * build comes first, then two measured builds: one of a fresh corpus, and
  * one of the warm-up corpus read from another copy, which must give the
  * warm-up build's pack manifest.
  */
final class CurateProbe(ctx: Ctx) {
  import CurateProbe._

  private val spark = ctx.spark
  private val seed = ctx.s.seed
  private val sourcesOf = Seq("web", "code", "books")
  // budgets above any source's token total: the mix keeps every curated
  // document, so the pack manifest accounts for every survivor
  private val budgets = sourcesOf.map(_ -> 1000000000000L).toMap
  private val buildWall = mutable.HashMap.empty[String, Double]
  private val survivors = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  private var crossHits = 0L

  /** The curate layers, the `Caches` counters of the measured builds and
    * their cross-request hits. Tracing must be on.
    */
  def layers(): Map[String, Double] = {
    import spark.implicits._
    // the fresh corpus and the curateKeep twins, one partition each
    val corpora = ctx.dir("curate").resolve("corpora").toString
    val gens = (0 to KeepProbes).map(j => Gen.curateCorpus(seed, 1000 + j, Docs))
    gens.zipWithIndex.flatMap { case (c, j) => c.docs.map { case (d, t) => (j, d, t) } }
      .toDF("corpus", "doc_id", "text").repartition(1)
      .write.partitionBy("corpus").parquet(corpora)
    // the warm-up corpus, written twice: built from one copy first, and from
    // the other as a measured build, where it must give the same manifest
    val warmCorpus = Gen.curateCorpus(seed, 1, Docs)
    val copies = Seq("a", "b").map { c =>
      val p = ctx.dir("curate").resolve(s"warm-$c").toString
      warmCorpus.docs.toDF("doc_id", "text").coalesce(1).write.parquet(p)
      p
    }
    // the warm-up build, untraced: its hits are a fresh build's own
    val hits0 = hitsByFamily()
    val warmHash = manifestHash(datasetBuild(copies.head).collect())
    val ownHits = diff(hitsByFamily(), hits0)

    val (h0, m0) = ctx.cacheTotals
    val fresh = build(s"$corpora/corpus=0", gens.head, ownHits)
    val again = build(copies.last, warmCorpus, ownHits, Some(warmHash))
    val walls = (fresh ++ again).toSeq
    val (h1, m1) = ctx.cacheTotals
    ctx.require(walls.nonEmpty, "no curate build completed")
    // curateKeep alone, on same-shape twin corpora no build has read, so
    // the probe cannot warm a measured build's caches
    val keepMs = (1 to KeepProbes).map { j =>
      val t0 = System.nanoTime()
      Curation.curateKeep(spark.read.parquet(s"$corpora/corpus=$j"))
        .write.format("noop").mode("overwrite").save()
      Stats.ms(System.nanoTime() - t0)
    }
    ctx.log(s"curate probe: builds ${walls.map(_.round)}, curateKeep ${keepMs.map(_.round)}")
    val injected = gens.head.exactDups + gens.head.nearDups
    val recall = survivors.map { case (ex, nd, _) => 1.0 - (ex + nd).toDouble / injected }
    val kept = survivors.map(_._3.toDouble / Docs)
    ctx.sparkLayer("curate_build", buildWall.toMap) ++ Map(
      "curate.keep_ms" -> Stats.median(keepMs),
      "curate.pack_ms" -> Stats.orZero(Stats.median(walls) - Stats.median(keepMs)),
      "curate.dup_recall" -> Stats.orZero(Stats.median(recall.toSeq)),
      "curate.kept_frac" -> Stats.orZero(Stats.median(kept.toSeq)),
      "caches.hits" -> (h1 - h0).toDouble,
      "caches.misses" -> (m1 - m0).toDouble,
      "caches.cross_request_hits" -> crossHits.toDouble)
  }

  private def datasetBuild(path: String): DataFrame =
    Curation.datasetBuild(spark.read.parquet(path), sources, budgets)

  /** One measured build plus its checks (and, given `hash`, the manifest
    * hash check); the wall ms, or None if it threw.
    */
  private def build(corpusPath: String, corpus: Gen.CurateCorpus,
                    ownHits: Map[String, Long],
                    hash: Option[String] = None): Option[Double] = {
    val id = ctx.newId()
    val hits0 = hitsByFamily()
    try {
      val (wall, rows) = ctx.tracer.request("curate.build") {
        val t0 = System.nanoTime()
        val df = ctx.tracer.span("curate.build.plan")(ctx.grouped("curate_build", id, "plan")(
          datasetBuild(corpusPath)))
        val rows = ctx.tracer.span("curate.build.exec")(
          ctx.grouped("curate_build", id, "exec")(df.collect()))
        (Stats.ms(System.nanoTime() - t0), rows)
      }
      // hits beyond a fresh build's own are served from another request
      val cross = diff(hitsByFamily(), hits0).map { case (f, h) =>
        math.max(0L, h - ownHits.getOrElse(f, 0L))
      }.sum
      crossHits += cross
      buildWall(id.toString) = wall
      ctx.tally(check(rows, corpus, cross).orElse(hash.collect {
        case h if manifestHash(rows) != h => "the same corpus gave two different pack manifests"
      }))
      Some(wall)
    } catch {
      case e: Exception =>
        ctx.tally(Some(s"datasetBuild threw $e"))
        None
    }
  }

  /** The pack manifest lays documents out by shard = doc_id mod 8, and the
    * generator reserves one shard per injected class: the exact-duplicate
    * shard must be empty, and the other two count the class's survivors.
    */
  private def check(rows: Array[Row], corpus: Gen.CurateCorpus,
                    cross: Long): Option[String] = {
    def docsIn(shard: Long): Long =
      rows.filter(_.getAs[Long]("shard") == shard).map(_.getAs[Long]("n_docs")).sum
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    val exact = docsIn(Gen.ExactDupShard)
    survivors += ((exact, docsIn(Gen.NearDupShard), total))
    if (exact > 0) Some(s"$exact of ${corpus.exactDups} exact duplicates survived curation")
    else if (total == 0) Some("the pack manifest is empty")
    else if (cross > 0) Some(s"$cross Caches hits came from another request")
    else None
  }

  /** doc_id -> source for every id a corpus uses, round-robin over three. */
  private def sources: DataFrame =
    spark.range(Docs).select(col("id").as("doc_id"),
      element_at(typedlit(sourcesOf), (col("id") % sourcesOf.size + 1).cast("int"))
        .as("source"))

  private def hitsByFamily(): Map[String, Long] =
    graft.Caches.counters.map { case (f, (h, _)) => f -> h }

  private def diff(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    a.map { case (f, h) => f -> (h - b.getOrElse(f, 0L)) }

  private def manifestHash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.mkString(",")).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

object CurateProbe {
  /** Documents per corpus (each build gets its own corpus). */
  val Docs = 400
  /** Twin corpora for the `curateKeep` probes. */
  val KeepProbes = 2
}
