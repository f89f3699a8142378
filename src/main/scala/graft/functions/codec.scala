package graft.functions

import java.io.ByteArrayOutputStream


import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BinaryType, DataType}

/** JVM gzip codec used by both the interpreted and the generated code paths.
  *
  * Re-expresses the reference's decompress step (`/root/reference/shipper.js:123`,
  * `Zlib.gunzipSync(payload).toString('utf8')`) as a distributed scalar primitive.
  * Kept as a plain static-forwarding object so whole-stage codegen can call it
  * directly (`graft.functions.GzipCodec.gunzip(bytes)`).
  */
object GzipCodec {
  // Per-thread Inflater + scratch buffers: a fresh GZIPInputStream per call
  // pays a native inflateInit + three buffer allocations per ROW, which
  // dominates small-payload decode (probe on a ~160-byte CloudWatch
  // envelope: 10.2 us/call allocating vs 3.0 us/call reused — the decode
  // plane's single largest per-row constant). Codegen calls arrive on task
  // threads, so ThreadLocal state is safe; the gzip header is parsed by
  // hand (flag fields per RFC 1952) and CRC32 + ISIZE are verified exactly
  // as GZIPInputStream would, so corrupt input still throws ZipException.
  private val tlInflater =
    ThreadLocal.withInitial[java.util.zip.Inflater](() =>
      new java.util.zip.Inflater(true))
  private val tlOut =
    ThreadLocal.withInitial[ByteArrayOutputStream](() =>
      new ByteArrayOutputStream(8192))
  private val tlBuf =
    ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](8192))
  private val tlCrc =
    ThreadLocal.withInitial[java.util.zip.CRC32](() => new java.util.zip.CRC32())

  private def le32(b: Array[Byte], pos: Int): Long =
    (b(pos) & 0xffL) | ((b(pos + 1) & 0xffL) << 8) |
      ((b(pos + 2) & 0xffL) << 16) | ((b(pos + 3) & 0xffL) << 24)

  // Scratch output streams larger than this are replaced after use: the
  // ThreadLocal lives as long as the pooled task thread, so one outlier
  // multi-MB payload would otherwise pin that much heap per thread forever.
  private val ScratchTrimBytes = 1 << 20

  /** End offset of the member header starting at `start` (RFC 1952).
    *
    * Matches GZIPInputStream.readHeader exactly: every optional-field read
    * is bounds-checked (truncation = EOFException, same as a truncated
    * body), and FHCRC — when present — is verified against the low 16 bits
    * of the CRC32 over the header bytes before it.
    */
  private def headerEnd(b: Array[Byte], start: Int): Int = {
    if (b.length < start + 10 || b(start) != 0x1f.toByte ||
        b(start + 1) != 0x8b.toByte)
      throw new java.util.zip.ZipException("Not in GZIP format")
    if (b(start + 2) != 8)
      throw new java.util.zip.ZipException("Unsupported compression method")
    val flg = b(start + 3)
    var pos = start + 10
    def need(n: Int): Unit =
      if (pos + n > b.length)
        throw new java.io.EOFException("Unexpected end of ZLIB input stream")
    if ((flg & 4) != 0) { // FEXTRA
      need(2)
      val xlen = (b(pos) & 0xff) | ((b(pos + 1) & 0xff) << 8)
      pos += 2
      need(xlen)
      pos += xlen
    }
    if ((flg & 8) != 0) { while ({ need(1); b(pos) != 0 }) pos += 1; pos += 1 } // FNAME
    if ((flg & 16) != 0) { while ({ need(1); b(pos) != 0 }) pos += 1; pos += 1 } // FCOMMENT
    if ((flg & 2) != 0) { // FHCRC: JDK verifies it — so do we
      need(2)
      val crc = tlCrc.get() // safe: body CRC use starts (with a reset) only
      crc.reset()           // after the member's headerEnd returns
      crc.update(b, start, pos - start)
      val got = (b(pos) & 0xff) | ((b(pos + 1) & 0xff) << 8)
      if (got != (crc.getValue & 0xffff).toInt)
        throw new java.util.zip.ZipException("Corrupt GZIP header")
      pos += 2
    }
    pos
  }

  def gunzip(bytes: Array[Byte]): Array[Byte] = {
    val inf = tlInflater.get()
    val out = tlOut.get()
    val buf = tlBuf.get()
    val crc = tlCrc.get()
    out.reset()
    var pos = headerEnd(bytes, 0) // malformed FIRST header: always loud
    var more = true
    while (more) { // one iteration per gzip member (concatenation is legal)
      inf.reset()
      inf.setInput(bytes, pos, bytes.length - pos)
      crc.reset()
      val memberStart = out.size()
      while (!inf.finished()) {
        val k = inf.inflate(buf)
        if (k > 0) { out.write(buf, 0, k); crc.update(buf, 0, k) }
        else if (!inf.finished() && (inf.needsInput() || inf.needsDictionary()))
          throw new java.io.EOFException("Unexpected end of ZLIB input stream")
      }
      pos = pos + (bytes.length - pos - inf.getRemaining)
      if (pos + 8 > bytes.length)
        throw new java.io.EOFException("Unexpected end of ZLIB input stream")
      if (le32(bytes, pos) != crc.getValue ||
          le32(bytes, pos + 4) != ((out.size() - memberStart) & 0xffffffffL))
        throw new java.util.zip.ZipException("Corrupt GZIP trailer")
      pos += 8
      // Concatenation leniency per GZIPInputStream.readTrailer: attempt a
      // further member only when at least header(10)+trailer(8) bytes
      // remain, and treat a malformed next header as trailing garbage
      // (end of stream), not an error. Only the FIRST header is strict.
      if (bytes.length - pos >= 18) {
        try pos = headerEnd(bytes, pos)
        catch {
          case _: java.io.EOFException | _: java.util.zip.ZipException =>
            more = false
        }
      } else more = false
    }
    val res = out.toByteArray
    if (out.size() > ScratchTrimBytes) tlOut.set(new ByteArrayOutputStream(8192))
    res
  }

  // Compress side, same treatment (fresh GZIPOutputStream = native
  // deflateInit per call; probe: 10.7 us/call allocating vs ~3 reused on
  // the same payload). Header matches the JDK's: CM=8, no flags, MTIME=0,
  // OS=0. Separate scratch state from gunzip's so nested
  // gunzip(gzip(x)) in one projection can never alias buffers.
  private val tlDeflater =
    ThreadLocal.withInitial[java.util.zip.Deflater](() =>
      new java.util.zip.Deflater(
        java.util.zip.Deflater.DEFAULT_COMPRESSION, true))
  private val tlZOut =
    ThreadLocal.withInitial[ByteArrayOutputStream](() =>
      new ByteArrayOutputStream(8192))
  private val tlZBuf =
    ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](8192))
  private val tlZCrc =
    ThreadLocal.withInitial[java.util.zip.CRC32](() => new java.util.zip.CRC32())

  def gzip(bytes: Array[Byte]): Array[Byte] = {
    val d = tlDeflater.get()
    val out = tlZOut.get()
    val buf = tlZBuf.get()
    val crc = tlZCrc.get()
    out.reset()
    out.write(Array[Byte](0x1f.toByte, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0))
    d.reset()
    d.setInput(bytes)
    d.finish()
    while (!d.finished()) {
      val k = d.deflate(buf)
      if (k > 0) out.write(buf, 0, k)
    }
    crc.reset()
    crc.update(bytes)
    var v = crc.getValue
    var i = 0
    while (i < 4) { out.write((v & 0xff).toInt); v >>= 8; i += 1 }
    var n = bytes.length.toLong
    i = 0
    while (i < 4) { out.write((n & 0xff).toInt); n >>= 8; i += 1 }
    val res = out.toByteArray
    if (out.size() > ScratchTrimBytes) tlZOut.set(new ByteArrayOutputStream(8192))
    res
  }
}

/** Catalyst-native gunzip: `binary -> binary`.
  *
  * A custom `UnaryExpression` (not a Scala UDF) so the decode stays inside
  * whole-stage codegen: no Row boxing, null-safe short-circuit for free, and
  * the expression participates in Catalyst rules (e.g. constant folding when
  * the input is a literal).
  */
case class Gunzip(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def dataType: DataType = BinaryType
  // declared input type => SQL callers get the standard string->binary
  // implicit cast instead of a runtime ClassCastException
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(BinaryType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "gunzip"

  override def nullSafeEval(input: Any): Any =
    GzipCodec.gunzip(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GzipCodec.gunzip($c)")

  override protected def withNewChildInternal(newChild: Expression): Gunzip =
    copy(child = newChild)
}

/** Catalyst-native gzip (the encode side — used to build CloudWatch-shaped
  * envelopes for fixtures and round-trip tests): `binary -> binary`.
  */
case class Gzip(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {
  override def dataType: DataType = BinaryType
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(BinaryType)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "gzip"

  override def nullSafeEval(input: Any): Any =
    GzipCodec.gzip(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GzipCodec.gzip($c)")

  override protected def withNewChildInternal(newChild: Expression): Gzip =
    copy(child = newChild)
}

/** Column-level API for the graft-native expressions. */
object gcolumns {
  /** Decompress a gzip-compressed binary column. */
  def gunzip(c: Column): Column = Bridge.column(Gunzip(Bridge.expression(c)))

  /** Gzip-compress a binary column. */
  def gzip(c: Column): Column = Bridge.column(Gzip(Bridge.expression(c)))

  /** 64-bit SimHash of a token array column. */
  def simhash64(c: Column): Column = Bridge.column(SimHash64(Bridge.expression(c)))

  /** Polynomial rolling-hash fingerprint of a string column (mod 2^61-1). */
  def rolling_hash(c: Column): Column = Bridge.column(RollingHash(Bridge.expression(c)))

  /** Distinct k-word shingles of a string column (codegen'd). */
  def word_shingles(c: Column, k: Int): Column =
    Bridge.column(WordShingles(Bridge.expression(c), k))

  /** Sequential (oracle-parity) dot product of two double-array columns. */
  def dotp(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** The `nprobe` best IVF cells of a double-array column against a
    * held centroid table (codegen'd; [[IvfCells]]): the probe side. */
  def ivf_cells(v: Column, cents: IvfCentroids, nprobe: Int): Column =
    Bridge.column(IvfCells(Bridge.expression(v), cents, nprobe,
      nullsFirst = true))

  /** The argmax IVF cell of a double-array column, zero-norm cells
    * last ([[IvfCells]] with nprobe = 1): the build side. A one-cell
    * index assigns every row to cell 0, null vectors included. */
  def ivf_cell(v: Column, cents: IvfCentroids): Column =
    if (cents.size == 1) org.apache.spark.sql.functions.lit(0L)
    else Bridge.column(IvfCells(Bridge.expression(v), cents, 1,
      nullsFirst = false)).getItem(0)

  /** Centroid vector of a 0-based IVF cell-id column ([[IvfCentroid]]). */
  def ivf_centroid(cell: Column, cents: IvfCentroids): Column =
    Bridge.column(IvfCentroid(Bridge.expression(cell), cents))

  /** Intersection size of two sorted string-array columns (codegen'd
    * linear merge — the route tier's verification kernel). */
  def sorted_intersect_count(a: Column, b: Column): Column =
    Bridge.column(SortedIntersectCount(Bridge.expression(a), Bridge.expression(b)))

  /** Phrase-chain join of two sorted int position-array columns:
    * left positions p with p + offset in the right array (codegen'd
    * linear merge — the positional phrase kernel). */
  def phrase_join(a: Column, b: Column, offset: Int): Column =
    Bridge.column(PhraseJoin(Bridge.expression(a), Bridge.expression(b), offset))

  /** Minimum |x - y| over two sorted int position-array columns
    * (codegen'd two-pointer walk — the proximity kernel). */
  def sorted_min_gap(a: Column, b: Column): Column =
    Bridge.column(SortedMinGap(Bridge.expression(a), Bridge.expression(b)))

  /** n-ary minimum cover span over an array of sorted int position lists
    * (codegen'd) — the k-term window kernel. */
  def sorted_min_cover(lists: Column): Column =
    Bridge.column(SortedMinCover(Bridge.expression(lists)))

  /** ADC lookup sum Σ_s lut(s)(codes(s)) (codegen'd) — the IVF-PQ
    * candidate-scoring kernel. */
  def adc_sum(codes: Column, lut: Column): Column =
    Bridge.column(AdcSum(Bridge.expression(codes), Bridge.expression(lut)))

  /** Z-order (Morton) value of two int columns' low 16 bits. */
  def zorder2(x: Column, y: Column): Column =
    Bridge.column(ZOrder2(Bridge.expression(x), Bridge.expression(y)))
}
