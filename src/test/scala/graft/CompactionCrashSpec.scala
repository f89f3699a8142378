package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, LangModel, Similarity, TextIndex}
import graft.sources.{AggView, IndexCommit}

/** Crash-atomicity of every family's compaction, table-driven: each
  * fixture holds real compaction work (live tombstones, or an LSM past a
  * segment budget lowered to keep the fixture small), a compaction killed at the mutation kernel's
  * `<prefix>-before-commit` failpoint (everything staged and moved in,
  * nothing published) must leave the pinned file list and the served rows
  * unchanged, and the re-run must land exactly where an uncrashed
  * compaction of an identical copy lands (same table / partition /
  * segment layout) and still serve the same rows. The LSH compaction's own kill test lives in
  * IndexMaintenanceSpec.
  */
class CompactionCrashSpec extends SparkSpec {

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft-compact-crash").toString

  private def docs: DataFrame =
    spark.read.parquet(s"$sf001/documents.parquet").select("doc_id", "text")

  private def emb: DataFrame =
    spark.read.parquet(s"$sf001/embeddings.parquet")
      .select("vec_id", "embedding")

  /** Byte copy of a whole index dir (manifests and side files included). */
  private def copyTree(from: String, to: String): Unit = {
    import scala.jdk.CollectionConverters._
    val src = java.nio.file.Paths.get(from)
    val s = java.nio.file.Files.walk(src)
    val all = try s.iterator().asScala.toSeq finally s.close()
    all.foreach { p =>
      val dst = java.nio.file.Paths.get(to).resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** The pinned files' directories with multiplicity — the layout minus
    * the write-job-unique part names.
    */
  private def layout(dir: String): Seq[String] =
    IndexCommit.pinnedFiles(dir).get
      .map(f => f.substring(0, math.max(0, f.lastIndexOf('/')))).sorted

  private def sorted(rows: Array[Row]): Seq[String] =
    rows.map(_.toString).toSeq.sorted

  private case class Family(point: String, build: String => Unit,
                            compact: String => Any,
                            serve: String => Seq[String])

  private def families: Seq[Family] = {
    val spark2 = spark
    import spark2.implicits._
    val probeEmb = emb.filter(col("vec_id") % 10 === 0)
    val budgetProbe = Seq((99L, "a", "tok tok tok"), (100L, "b", "tok"))
      .toDF("doc_id", "source", "text")
    Seq(
      Family("bm25-compact-before-commit",
        dir => {
          TextIndex.writeBm25Index(docs, dir)
          TextIndex.deleteFromBm25Index(
            docs.filter(col("doc_id") % 7 === 3).select("doc_id"), dir)
        },
        dir => TextIndex.compactBm25Index(spark, dir),
        dir => sorted(TextIndex.bm25TopK(spark, dir,
          Seq("spark", "merge", "vector"), k = 15).collect())),
      Family("ivf-compact-before-commit",
        dir => {
          Similarity.ivfWriteIndex(emb, dir)
          Similarity.deleteFromIvfIndex(
            emb.filter(col("vec_id") % 5 === 1).select("vec_id"), dir)
        },
        dir => Similarity.compactIvfIndex(spark, dir),
        dir => sorted(Similarity.annRoute(probeEmb, dir, k = 5).collect())),
      Family("lm-compact-before-commit",
        dir => {
          LangModel.writeLmIndex(docs.limit(50), dir, vocabTop = 50)
          for (i <- 1 to 2)
            LangModel.appendLmCounts(docs.filter(col("doc_id") === i.toLong),
              dir)
        },
        dir => LangModel.compactLmCounts(spark, dir, maxSegments = 1),
        dir => sorted(LangModel.lmRoute(docs.limit(20), dir, 35000000L)
          .collect())),
      Family("budget-compact-before-commit",
        dir => {
          Curation.writeBudgetGate(spark, dir, Map("a" -> 100L))
          for (i <- 1 to 3) {
            val b = Seq((i.toLong, "a", "tok tok")).toDF("doc_id", "source",
              "text")
            Curation.recordBudgetFills(Curation.budgetRoute(b, dir), dir)
          }
        },
        dir => Curation.compactBudgetFills(spark, dir, maxSegments = 1),
        dir => sorted(Curation.budgetRoute(budgetProbe, dir).collect())),
      Family("aggview-compact-before-commit",
        dir => {
          AggView.write(docs.limit(10), dir, Seq("doc_id"), Seq.empty)
          for (_ <- 1 to 2) AggView.append(docs.limit(5), dir)
        },
        dir => AggView.compact(spark, dir, maxSegments = 1),
        dir => sorted(AggView.read(spark, dir).collect())),
      Family("curate-compact-before-commit",
        dir => {
          Curation.writeCurateIndex(docs, dir)
          Curation.deleteFromCurateIndex(
            docs.filter(col("doc_id") % 5 === 2).select("doc_id"), dir)
        },
        dir => Curation.compactCurateIndex(spark, dir),
        dir => sorted(Curation.curateRoute(docs.filter(col("doc_id") % 3 === 0),
          dir).collect())))
  }

  test("every compaction killed before its commit publishes nothing, " +
      "serves unchanged, and its re-run equals an uncrashed compaction") {
    for (f <- families) {
      val dir = tmp()
      f.build(dir)
      val ref = tmp()
      copyTree(dir, ref)
      val pinnedBefore = IndexCommit.pinnedFiles(dir).get.toSet
      val servedBefore = f.serve(dir)
      IndexCommit.failpoint =
        p => if (p == f.point) throw new RuntimeException(s"boom:$p")
      val thrown = try { f.compact(dir); false }
        catch { case e: RuntimeException
          if e.getMessage == s"boom:${f.point}" => true }
        finally IndexCommit.failpoint = _ => ()
      assert(thrown, s"failpoint ${f.point} must fire")
      assert(IndexCommit.pinnedFiles(dir).get.toSet == pinnedBefore,
        s"${f.point}: a killed compaction must not move the manifest")
      assert(f.serve(dir) == servedBefore,
        s"${f.point}: a killed compaction must leave the rows served")

      f.compact(ref)
      assert(IndexCommit.pinnedFiles(ref).get.toSet != pinnedBefore,
        s"${f.point}: the fixture must hold real compaction work")
      f.compact(dir)
      assert(layout(dir) == layout(ref),
        s"${f.point}: the re-run must land the uncrashed compaction's layout")
      assert(f.serve(dir) == servedBefore,
        s"${f.point}: the re-run must serve the rows served before")
    }
  }
}
