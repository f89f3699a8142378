package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.graftspec.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextIndex}
import graft.queries.TextQueries

/** The stored-index scan relations ([[graft.sources.StoredIndex.readTable]]):
  * a committed file list is listed once per session, and the next serve
  * after a commit scans the new list.
  */
class StoredRelationSpec extends SparkSpec {

  private val terms = Seq("spark", "merge", "vector")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docs: DataFrame =
    spark.read.parquet(s"$sf001/documents.parquet").select("doc_id", "text")

  private lazy val emb = Tables.t(spark, sf001, "embeddings")

  /** Descriptions of the Spark jobs `f` starts. */
  private def jobsOf(f: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(l)
    try { f; ListenerBus.drain(sc) } finally sc.removeSparkListener(l)
    seen.asScala.toSeq
  }

  test("the second bm25TopK and annRoute serve of a committed version " +
      "start no file-listing job") {
    val bm25 = tmp("graft-relmemo-bm25")
    val ivf = tmp("graft-relmemo-ivf")
    TextIndex.writeBm25Index(docs, bm25)
    Similarity.ivfWriteIndex(emb, ivf)
    val probe = emb.filter(col("vec_id") < 3)
    def serve(): (Seq[Row], Set[Row]) =
      (TextIndex.bm25TopK(spark, bm25, terms).collect().toSeq,
        Similarity.annRoute(probe, ivf, k = 5).collect().toSet)
    // every file listing runs as a Spark job (not only those above the
    // default 32-path threshold), so any listing a serve does shows up
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "0")
    try {
      assert(jobsOf(spark.read.parquet(s"$bm25/postings"))
        .exists(_.startsWith("Listing leaf files")))
      val first = serve()
      var second: (Seq[Row], Set[Row]) = null
      val jobs = jobsOf { second = serve() }
      assert(!jobs.exists(_.startsWith("Listing leaf files")),
        s"second serve listed files again:\n${jobs.mkString("\n")}")
      assert(second == first)
    } finally spark.conf.set(key, saved)
  }

  test("a serve right after an append sees the appended rows") {
    val bm25 = tmp("graft-relmemo-bm25app")
    TextIndex.writeBm25Index(docs.filter(col("doc_id") % 2 === 0), bm25)
    val before = TextIndex.bm25TopK(spark, bm25, terms).collect()
    assert(before.forall(_.getLong(0) % 2 == 0))
    TextIndex.appendBm25Index(docs.filter(col("doc_id") % 2 === 1), bm25)
    assert(TextIndex.bm25TopK(spark, bm25, terms).collect().toSeq ==
      TextQueries.textBm25(spark, sf001).collect().toSeq)

    val ivf = tmp("graft-relmemo-ivfapp")
    Similarity.ivfWriteIndex(emb.filter(col("vec_id") % 2 === 0), ivf)
    // odd vectors under fresh query ids: once appended, each one's own
    // vector is its nearest neighbour (cosine 1, same best cell)
    val probe = emb.filter(col("vec_id") % 2 === 1 && col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val nearest = () => Similarity.annRoute(probe, ivf, k = 3)
      .filter(col("rank") === 1).collect()
      .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("nid")).toMap
    assert(nearest().values.forall(_ % 2 == 0))
    Similarity.appendIvfIndex(emb.filter(col("vec_id") % 2 === 1), ivf)
    val after = nearest()
    assert(after.size == 10 && after.forall { case (q, n) => n == q - 1000000L },
      s"appended vectors must serve: $after")
  }
}
