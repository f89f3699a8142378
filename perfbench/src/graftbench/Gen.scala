package graftbench

import java.io.ByteArrayOutputStream
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

/** Seeded input generators. Every fixture is a pure function of
  * (seed, stream, parameters): the same seed gives byte-identical inputs,
  * independent streams of one seed never share random draws, and the
  * program under test only ever sees the generated files.
  */
object Gen {

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 1L)

  // ---------------------------------------------------------------------------
  // Zipf text
  // ---------------------------------------------------------------------------

  /** Bounded Zipf(s) ranks in [minRank, vocab] by the continuous inverse
    * CDF, the same law and token shape (`w` + 6-digit rank) as the
    * program's own synthetic corpora.
    */
  final case class Zipf(vocab: Int = 50000, s: Double = 1.1, minRank: Int = 1) {
    private val a = 1.0 - s
    private val vTerm = math.pow(vocab.toDouble, a) - 1.0
    private val pMin = (math.pow(minRank.toDouble, a) - 1.0) / vTerm
    def rank(u: Double): Int = {
      val uu = pMin + u * (1.0 - pMin)
      math.min(vocab, math.max(minRank,
        math.floor(math.pow(uu * vTerm + 1.0, 1.0 / a)).toInt))
    }
    def token(r: SplittableRandom): String = Gen.token(rank(r.nextDouble()))
  }

  def token(rank: Int): String = {
    val d = rank.toString
    "w" + ("0" * math.max(0, 6 - d.length)) + d
  }

  /** One document of uniform 30..(2*meanTokens-30) Zipf tokens — the
    * varied-length shape of the program's `zipfDocsVar` corpora.
    */
  def zipfDoc(r: SplittableRandom, z: Zipf, meanTokens: Int): Array[String] = {
    val len = 30 + r.nextInt(2 * (meanTokens - 30) + 1)
    Array.fill(len)(z.token(r))
  }

  /** `n` documents with ids `idBase until idBase + n`. */
  def zipfDocs(seed: Long, stream: Long, n: Int, idBase: Long,
               meanTokens: Int = 120): Vector[(Long, String)] = {
    val r = rng(seed, stream)
    val z = Zipf()
    Vector.tabulate(n)(i => (idBase + i, zipfDoc(r, z, meanTokens).mkString(" ")))
  }

  /** 3-term retrieval queries drawn from the Zipf tail (ranks >= 100), so
    * they carry informative terms, not the stopword head.
    */
  def tailQueries(seed: Long, stream: Long, n: Int, terms: Int = 3): Vector[Seq[String]] = {
    val r = rng(seed, stream)
    val z = Zipf(minRank = 100)
    Vector.fill(n)(Iterator.continually(z.token(r)).distinct.take(terms).toSeq)
  }

  // ---------------------------------------------------------------------------
  // Curation corpus
  // ---------------------------------------------------------------------------

  /** Shard (doc_id mod [[CurateShards]]) reserved for each injected class:
    * the pack manifest is laid out per shard, so a shard's rows count the
    * survivors of exactly one class.
    */
  val CurateShards = 8
  val ExactDupShard = 7
  val NearDupShard = 6
  val ContaminatedShard = 5
  /** Benchmark (held-out) documents: ids divisible by this, the screen's default. */
  val BenchMod = 97

  final case class CurateCorpus(docs: Vector[(Long, String)],
                                exactDups: Int, nearDups: Int)

  /** A training corpus with injected duplicates and leakage, by id:
    *  - id % 97 == 0: a held-out benchmark document (the screen's bench set);
    *  - else id % 8 == 7 (12.5%): an exact copy of an earlier plain document;
    *  - else id % 8 == 6 (12.5%): a near copy — an earlier plain document with
    *    one token in 40 (at least 2) substituted, so its word 3-gram Jaccard
    *    to the original stays well above the near-dup screen's 0.6;
    *  - else id % 8 == 5 (12.5%): a contaminated document — fresh text with a
    *    12-token span of an earlier benchmark document spliced in;
    *  - else: a plain document.
    */
  def curateCorpus(seed: Long, stream: Long, n: Int): CurateCorpus = {
    val r = rng(seed, stream)
    val z = Zipf()
    val tail = Zipf(minRank = 1000)
    val texts = new Array[Array[String]](n)
    val plain = scala.collection.mutable.ArrayBuffer.empty[Int]
    val bench = scala.collection.mutable.ArrayBuffer.empty[Int]
    var (ex, nd) = (0, 0)
    for (id <- 0 until n) {
      val shard = id % CurateShards
      texts(id) =
        if (id % BenchMod == 0) { bench += id; zipfDoc(r, z, 120) }
        else if (shard == ExactDupShard) {
          ex += 1; texts(plain(r.nextInt(plain.size))).clone()
        } else if (shard == NearDupShard) {
          nd += 1
          val t = texts(plain(r.nextInt(plain.size))).clone()
          val edits = math.max(2, t.length / 40)
          (0 until edits).foreach(_ => t(r.nextInt(t.length)) = tail.token(r))
          t
        } else if (shard == ContaminatedShard) {
          val src = texts(bench(r.nextInt(bench.size)))
          val at = r.nextInt(src.length - 12)
          val t = zipfDoc(r, z, 120)
          val cut = r.nextInt(t.length)
          t.take(cut) ++ src.slice(at, at + 12) ++ t.drop(cut)
        } else { plain += id; zipfDoc(r, z, 120) }
    }
    CurateCorpus(Vector.tabulate(n)(i => (i.toLong, texts(i).mkString(" "))), ex, nd)
  }

  // ---------------------------------------------------------------------------
  // Embeddings
  // ---------------------------------------------------------------------------

  /** `clusters` unit centers shared by every vector stream of one seed. */
  def centers(seed: Long, clusters: Int, dim: Int): Array[Array[Double]] = {
    val r = rng(seed, 9001L)
    Array.fill(clusters) {
      // Box-Muller normals -> uniform direction
      val v = Array.fill(dim) {
        val u1 = r.nextDouble() + 1e-12
        math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
      }
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nrm)
    }
  }

  /** `n` clustered vectors: a random center plus uniform noise in
    * [-noise, noise] per coordinate, as floats.
    */
  def vectors(seed: Long, stream: Long, n: Int, cs: Array[Array[Double]],
              noise: Double = 0.1): Vector[Array[Float]] = {
    val r = rng(seed, stream)
    Vector.fill(n) {
      val c = cs(r.nextInt(cs.length))
      c.map(x => (x + (r.nextDouble() * 2 - 1) * noise).toFloat)
    }
  }

  // ---------------------------------------------------------------------------
  // Kinesis envelopes
  // ---------------------------------------------------------------------------

  /** One envelope file of the shipper workload and what it must ship. */
  final case class EnvFile(index: Int, dueOffsetMs: Long, content: Array[Byte],
                           envelopes: Int, events: Int, platform: Int,
                           errors: Int, json: Int) {
    def docs: Int = events - platform
    def name: String = f"env-$index%06d.json"
  }

  private val words = Array("user", "order", "cart", "item", "checkout",
    "payment", "served", "cache", "request", "shipped", "queued", "route",
    "session", "profile", "upload", "render", "sync", "batch", "token",
    "lookup", "retry", "ready", "done", "fetched", "stored", "view")

  private def sentence(r: SplittableRandom): String =
    (0 until 4 + r.nextInt(5)).map(_ => words(r.nextInt(words.length)))
      .mkString(" ") + " " + r.nextInt(100000)

  private def hex(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder
    (0 until n).foreach(_ => sb.append("0123456789abcdef".charAt(r.nextInt(16))))
    sb.toString
  }

  private def uuid(r: SplittableRandom): String =
    s"${hex(r, 8)}-${hex(r, 4)}-${hex(r, 4)}-${hex(r, 4)}-${hex(r, 12)}"

  def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private val isoTs = "2024-03-01T12:00:00.000Z"

  /** Message mix, per event: 40% JSON objects (carrying the envelope's due
    * time as the `bench_due_ms` attribute), 20% tab-structured, 20% raw
    * text, 10% platform START/END lines, 10% error lines (runtime errors,
    * a structured error and a timeout — the classifier's three families).
    * Returns (message, platform?, error?, json?).
    */
  private def message(r: SplittableRandom, dueMs: Long): (String, Boolean, Boolean, Boolean) = {
    val u = r.nextDouble()
    if (u < 0.4) {
      val m = s"""{"requestId":${jsonString(uuid(r))},"timestamp":"$isoTs",""" +
        s""""message":${jsonString(sentence(r))},"level":"info",""" +
        s""""bench_due_ms":"$dueMs"}"""
      (m, false, false, true)
    } else if (u < 0.6) (s"$isoTs\t${uuid(r)}\t${sentence(r)}", false, false, false)
    else if (u < 0.8) (sentence(r), false, false, false)
    else if (u < 0.9) {
      val m = if (r.nextBoolean()) s"START RequestId: ${uuid(r)} Version: $$LATEST"
        else s"END RequestId: ${uuid(r)}"
      (m, true, false, false)
    } else {
      val m = r.nextInt(3) match {
        case 0 => s"ERROR Invoke Error: handler failed on ${sentence(r)}"
        case 1 => s"$isoTs\t${uuid(r)}\tError: connection refused by db-${r.nextInt(9)}"
        case _ => s"Task timed out after ${1 + r.nextInt(9)}.00 seconds"
      }
      (m, false, true, false)
    }
  }

  private def gzipBase64(s: String): String = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(s.getBytes("UTF-8"))
    gz.close()
    java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
  }

  /** File `index` of an envelope stream: `envelopes` gzip+base64 CloudWatch
    * payloads of `fanout` events each, as Kinesis-record JSON lines, due
    * `index * cadenceMs` after the schedule starts.
    */
  def envFile(seed: Long, index: Int, envelopes: Int, fanout: Int,
              cadenceMs: Long): EnvFile = {
    val r = rng(seed, 100000L + index)
    val due = index * cadenceMs
    val sb = new StringBuilder
    var (events, platform, errors, json) = (0, 0, 0, 0)
    for (e <- 0 until envelopes) {
      val evs = (0 until fanout).map { i =>
        val (m, p, err, j) = message(r, due)
        events += 1
        if (p) platform += 1
        if (err) errors += 1
        if (j) json += 1
        s"""{"id":"${index}_${e}_$i","timestamp":${1709294400000L + due + i},""" +
          s""""message":${jsonString(m)}}"""
      }
      val payload = s"""{"messageType":"DATA_MESSAGE","owner":"123456789012",""" +
        s""""logGroup":"/aws/lambda/fn-${r.nextInt(8)}",""" +
        s""""logStream":"2024/03/01/[$$LATEST]${hex(r, 32)}",""" +
        s""""subscriptionFilters":["all"],"logEvents":[${evs.mkString(",")}]}"""
      sb.append(s"""{"data":"${gzipBase64(payload)}","region":"us-east-1"}""").append('\n')
    }
    EnvFile(index, due, sb.toString.getBytes("UTF-8"), envelopes, events,
      platform, errors, json)
  }
}
