package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Sanity probe for [[SynthFixtures]]: prints the generated corpus's
  * vocabulary statistics (distinct terms, df of the head and of typical
  * QUERY terms) and times one bm25Route batch against an index built on
  * it — the quick check that the Zipf fixture actually has the
  * prunable-tail shape the scaling axes claim to measure.
  *
  * Usage: SynthProbe [nDocs] [nQueries]
  */
object SynthProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(5000L)
    val nq = args.drop(1).headOption.map(_.toLong).getOrElse(2000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(SynthFixtures.ensureZipfDocs(spark, n))
    val terms = docs.select(explode(split(col("text"), " ")).as("t"))
    val df = terms.groupBy("t").agg(countDistinct(lit(1)).as("dummy"))
    val vocabSize = df.count()
    val dfTable = docs.select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"))
    val top = dfTable.limit(5).collect()
      .map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(", ")
    val qs = SynthFixtures.zipfQueries(spark, nq).persist()
    val qTermDf = qs.select(explode(split(col("qtext"), " ")).as("t"))
      .distinct().join(dfTable, "t")
      .agg(avg(col("df")).as("avg"), max(col("df")).as("max"),
        expr("percentile(df, 0.5)").as("med")).collect().head
    println(s"docs=$n vocab=$vocabSize topDf=[$top]")
    println(f"query-term df: avg=${qTermDf.getDouble(0)}%.1f " +
      s"median=${qTermDf.get(2)} max=${qTermDf.getLong(1)} (corpus $n)")

    val dir = java.nio.file.Files.createTempDirectory("graft-synthprobe")
      .toString
    val t0 = System.nanoTime()
    graft.operators.TextIndex.writeBm25Index(docs, dir, nBuckets = 64)
    val tBuild = (System.nanoTime() - t0) / 1e9
    def route(): Long =
      graft.operators.TextIndex.bm25Route(qs, dir, k = 10).count()
    route() // warm
    val times = (1 to 3).map { _ =>
      val t = System.nanoTime(); route(); (System.nanoTime() - t) / 1e9
    }
    println(f"bm25 build=$tBuild%.1fs route($nq queries) " +
      f"warm-min=${times.min}%.2fs -> ${nq / times.min}%.0f decisions/s")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    spark.stop()
  }
}
