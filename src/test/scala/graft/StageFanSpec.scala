package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.TextIndex
import graft.sources.IndexCommit

/** A failed branch of a stage-table fan (`StoredIndex.parallelStages`):
  * the caller sees that branch's error only once every started sibling
  * has finished, so no write outlives the call, no stage dir survives the
  * mutation's cleanup and the served index is unchanged.
  */
class StageFanSpec extends SparkSpec {

  test("a failed doclens branch of appendBm25Index's fan leaves no write, " +
      "stage dir or pool thread behind and the served index unchanged") {
    val dir = Files.createTempDirectory("graft-stage-fan").toString
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select("doc_id", "text")
    TextIndex.writeBm25Index(docs.filter(col("doc_id") % 2 === 0), dir)
    def served: Seq[String] = TextIndex.bm25TopK(spark, dir,
      Seq("spark", "merge", "vector"), k = 10).collect().map(_.toString).toSeq
    val version = IndexCommit.latestVersion(dir)
    val before = served

    @volatile var siblingDone = false
    val fanThreads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    val prev = IndexCommit.failpoint
    IndexCommit.failpoint = {
      case "bm25-append-termdf" => // the sibling branch, still running
        fanThreads.add(Thread.currentThread())
        Thread.sleep(3000)
        siblingDone = true
      case "bm25-append-doclens" =>
        fanThreads.add(Thread.currentThread())
        throw new IllegalStateException("doclens branch failed")
      case _ => ()
    }
    val err = try intercept[IllegalStateException](TextIndex.appendBm25Index(
        docs.filter(col("doc_id") % 2 === 1), dir))
      finally IndexCommit.failpoint = prev
    assert(err.getMessage == "doclens branch failed")
    assert(siblingDone, "the append returned while a sibling branch ran")
    assert(fanThreads.size == 2)
    fanThreads.asScala.foreach { t =>
      t.join(1000)
      assert(!t.isAlive, s"fan thread ${t.getName} outlived the append")
    }
    val stageDirs = Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith("-stage")).toSeq
    assert(stageDirs.isEmpty, stageDirs.mkString(", "))
    assert(IndexCommit.latestVersion(dir) == version)
    assert(served == before)

    // the index is still appendable
    TextIndex.appendBm25Index(docs.filter(col("doc_id") % 2 === 1), dir)
    assert(IndexCommit.latestVersion(dir) == version.map(_ + 1))
  }
}
