package graft.tools

import org.apache.spark.sql.SparkSession

/** Reproduce the 500k-decade index builds in isolation:
  * BuildRepro <nDocs> [which: bm25|bm25f|lm|curate|all]
  */
object BuildRepro {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = args(0).toLong
    val which = if (args.length > 1) args(1) else "bm25"
    val docs = spark.read.parquet(SynthFixtures.ensureZipfDocs(spark, n))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-buildrepro").toString
    def time(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"$name%-12s ${(System.nanoTime() - t0) / 1e9}%6.1fs")
    }
    try {
      if (which == "bm25" || which == "all")
        time("bm25")(graft.operators.TextIndex.writeBm25Index(docs,
          s"$dir-bm25", nBuckets = 64, forward = true, impactBlocks = 4))
      if (which == "bm25f" || which == "all") {
        val vdocs = spark.read
          .parquet(SynthFixtures.ensureZipfDocsVar(spark, n))
        time("bm25f")(graft.operators.TextIndex.writeBm25Index(vdocs,
          s"$dir-bm25f", nBuckets = 64, impactFraction = 0.2))
      }
      if (which == "lm" || which == "all")
        time("lm")(graft.operators.LangModel.writeLmIndex(docs, s"$dir-lm"))
      if (which == "curate" || which == "all")
        time("curate")(graft.operators.Curation.writeCurateIndex(docs,
          s"$dir-curate"))
      if (which == "vec") {
        // the probe's vector tiers at this vec count, same batch shape
        val emb = spark.read
          .parquet(SynthFixtures.ensureEmbeddings(spark, n))
        val embBatch = emb.limit(20000).persist(); embBatch.count()
        time("ivf-build")(graft.operators.Similarity.ivfWriteIndex(emb,
          s"$dir-ivf", nCells = graft.operators.Similarity.AutoCells))
        time("ann_route")({ graft.operators.Similarity.annRoute(embBatch,
          s"$dir-ivf", k = 5).count(); () })
        time("ivfpq-build")(graft.operators.Similarity.ivfWriteIndex(emb,
          s"$dir-ivfpq", nCells = graft.operators.Similarity.AutoCells,
          pqM = 16, pqK = 16))
        time("ivfpq_route")({ graft.operators.Similarity.pqRoute(embBatch,
          s"$dir-ivfpq", k = 5, nprobe = 5, rerank = 8).count(); () })
        time("ivfpqf_route")({ graft.operators.Similarity.pqRoute(embBatch,
          s"$dir-ivfpq", k = 5, nprobe = 5, rerank = 8,
          probeFraction = 0.1, rerankFraction = 0.1).count(); () })
        val probeSub = embBatch.limit(500).persist(); probeSub.count()
        time("exact_ann")({ graft.operators.Similarity.annRoute(probeSub,
          s"$dir-ivf", k = 5, nprobe = 1 << 20).count(); () })
      }
      if (which == "routes") {
        // the probe's first two route tiers, same batch shape
        import org.apache.spark.sql.functions.col
        val docBatch = docs.limit(5000).persist(); docBatch.count()
        time("lm-build")(graft.operators.LangModel.writeLmIndex(docs,
          s"$dir-lm"))
        time("lm_route")({ graft.operators.LangModel.lmRoute(docBatch,
          s"$dir-lm", thrMean = 35000000L).count(); () })
        time("lm_route2")({ graft.operators.LangModel.lmRoute(docBatch,
          s"$dir-lm", thrMean = 35000000L).count(); () })
        time("curate-build")(graft.operators.Curation.writeCurateIndex(docs,
          s"$dir-curate"))
        time("curate_route")({ graft.operators.Curation.curateRoute(docBatch,
          s"$dir-curate").count(); () })
        time("curate_route2")({ graft.operators.Curation.curateRoute(docBatch,
          s"$dir-curate").count(); () })
      }
    } finally {
      Seq(s"$dir-bm25", s"$dir-bm25f", s"$dir-lm", s"$dir-curate",
          s"$dir-ivf", s"$dir-ivfpq", dir)
        .foreach(d => graft.sources.IndexCommit
          .deleteTree(java.nio.file.Paths.get(d)))
    }
    spark.stop()
  }
}
