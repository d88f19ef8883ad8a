package perfbench

import java.io.ByteArrayOutputStream
import java.math.{BigDecimal => JBigDecimal}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

/** The benchmark's own scheme-66 encoder, written from the documented wire
  * layout (SURVEY §1.1 and the `ColType` docs), not from the program's
  * `CdcCodec.encode*`, so a decode check compares the program against an
  * independent writer.
  *
  * Frame: `header_sz:int4 (16) | payload_sz:int4 | scheme:int4 (66) |
  * record_number:int4`, then the payload. All integers and IEEE floats are
  * big-endian. Row images carry `seq:int8 | txid:int4 | tabid:int4 |
  * flags:int4`, then one int4 length per variable-length column (the
  * length includes the type's prefix), then the column bytes in declared
  * order.
  */
object Wire {
  val HeaderSz = 16
  val Scheme = 66

  // Record numbers.
  val BEGIN = 1; val COMMIT = 2; val ROLLBACK = 3
  val INSERT = 40; val DELETE = 41; val UPDBEF = 42; val UPDAFT = 43
  val DISCARD = 62; val TRUNCATE = 119; val TABSCHEM = 200; val TIMEOUT = 201

  val RecordNames: Map[Int, String] = Map(
    BEGIN -> "begin", COMMIT -> "commit", ROLLBACK -> "rollback",
    INSERT -> "insert", DELETE -> "delete", UPDBEF -> "updbef",
    UPDAFT -> "updaft", DISCARD -> "discard", TRUNCATE -> "truncate",
    TABSCHEM -> "tabschem", TIMEOUT -> "timeout")

  /** Column wire kinds, one per decoder branch. */
  sealed trait Kind
  case object KInt8 extends Kind      // sign:int2 | lo:uint4 | hi:uint4
  case object KInt4 extends Kind
  case object KBigint extends Kind
  case object KInt2 extends Kind
  case object KDate extends Kind      // int4 days since 1899-12-31
  case object KBool extends Kind      // null flag byte | value byte
  final case class KChar(n: Int) extends Kind
  case object KVarchar extends Kind   // 1-byte prefix
  case object KLvarchar extends Kind  // 3-byte prefix
  case object KFloat8 extends Kind
  case object KFloat4 extends Kind
  final case class KDec(p: Int, s: Int) extends Kind // sign byte | BCD digits
  case object KDTime extends Kind     // flag byte | 10 BCD bytes

  final case class Col(name: String, ddl: String, kind: Kind)

  /** Every column type of the reference's all-types table
    * (`sql/informixcdc_test.sql`, FIXTURES §1.2), plus BOOLEAN, so each
    * wire kind the decoder knows appears once. */
  val AllTypes: IndexedSeq[Col] = IndexedSeq(
    Col("cdc_serial8", "serial8", KInt8),
    Col("cdc_int8", "int8", KInt8),
    Col("cdc_bigint", "bigint", KBigint),
    Col("cdc_char", "char(16)", KChar(16)),
    Col("cdc_date", "date", KDate),
    Col("cdc_datetime", "datetime year to fraction(5)", KDTime),
    Col("cdc_decimal", "decimal(32,16)", KDec(32, 16)),
    Col("cdc_float", "float", KFloat8),
    Col("cdc_integer", "integer", KInt4),
    Col("cdc_smallfloat", "smallfloat", KFloat4),
    Col("cdc_smallint", "smallint", KInt2),
    Col("cdc_varchar", "varchar(255,16)", KVarchar),
    Col("cdc_lvarchar", "lvarchar(256)", KLvarchar),
    Col("cdc_bool", "boolean", KBool))

  def colsDesc(cols: Seq[Col]): String =
    cols.map(c => s"${c.name} ${c.ddl}").mkString(", ")

  private def isVar(k: Kind): Boolean = k == KVarchar || k == KLvarchar
  private def prefix(k: Kind): Int = if (k == KVarchar) 1 else 3
  private def fixedSize(k: Kind): Int = k match {
    case KInt8 => 10
    case KInt4 | KDate | KFloat4 => 4
    case KBigint | KFloat8 => 8
    case KInt2 | KBool => 2
    case KChar(n) => n
    case KDec(p, _) => 1 + (p + 1) / 2
    case KDTime => 11
    case KVarchar | KLvarchar => -1
  }

  private val DateEpoch = LocalDate.of(1899, 12, 31).toEpochDay

  // ------------------------------------------------------------- frames

  def frame(out: ByteArrayOutputStream, recordNumber: Int, payload: Array[Byte]): Unit = {
    val h = ByteBuffer.allocate(HeaderSz)
      .putInt(HeaderSz).putInt(payload.length).putInt(Scheme).putInt(recordNumber)
    out.write(h.array())
    out.write(payload)
  }

  def tabschem(out: ByteArrayOutputStream, tabid: Int, cols: Seq[Col]): Unit = {
    val text = colsDesc(cols).getBytes(UTF_8)
    val fixed = cols.filterNot(c => isVar(c.kind))
    val bb = ByteBuffer.allocate(20 + text.length + 1)
      .putInt(tabid).putInt(0).putInt(fixed.map(c => fixedSize(c.kind)).sum)
      .putInt(fixed.size).putInt(cols.size - fixed.size)
      .put(text).put(0.toByte)                   // NUL-terminated text
    frame(out, TABSCHEM, bb.array())
  }

  def begin(out: ByteArrayOutputStream, seq: Long, txid: Int, time: Long, user: Int): Unit =
    frame(out, BEGIN, ByteBuffer.allocate(24).putLong(seq).putInt(txid)
      .putLong(time).putInt(user).array())

  def commit(out: ByteArrayOutputStream, seq: Long, txid: Int, time: Long): Unit =
    frame(out, COMMIT, ByteBuffer.allocate(20).putLong(seq).putInt(txid).putLong(time).array())

  def rollback(out: ByteArrayOutputStream, seq: Long, txid: Int): Unit =
    frame(out, ROLLBACK, ByteBuffer.allocate(12).putLong(seq).putInt(txid).array())

  def discard(out: ByteArrayOutputStream, seq: Long, txid: Int): Unit =
    frame(out, DISCARD, ByteBuffer.allocate(12).putLong(seq).putInt(txid).array())

  def truncate(out: ByteArrayOutputStream, seq: Long, txid: Int, tabid: Int): Unit =
    frame(out, TRUNCATE, ByteBuffer.allocate(16).putLong(seq).putInt(txid).putInt(tabid).array())

  def timeout(out: ByteArrayOutputStream, seq: Long): Unit =
    frame(out, TIMEOUT, ByteBuffer.allocate(8).putLong(seq).array())

  /** A row image; `values` in declared column order, `null` for NULL.
    * Host values: Long (int8, bigint), Int, Short, LocalDate, Boolean,
    * String, Double, Float, java.math.BigDecimal, Instant. */
  def row(out: ByteArrayOutputStream, recordNumber: Int, seq: Long, txid: Int,
          tabid: Int, cols: IndexedSeq[Col], values: IndexedSeq[Any]): Unit =
    frame(out, recordNumber, rowPayload(seq, txid, tabid, cols, values))

  def rowPayload(seq: Long, txid: Int, tabid: Int, cols: IndexedSeq[Col],
                 values: IndexedSeq[Any]): Array[Byte] = {
    require(values.length == cols.length)
    val varBytes = cols.indices.map { i =>
      if (!isVar(cols(i).kind)) null
      else if (values(i) == null) Array[Byte](0)  // NULL: one 0x00 data byte
      else values(i).asInstanceOf[String].getBytes(UTF_8)
    }
    val size = 20 + cols.indices.map { i =>
      if (varBytes(i) == null) fixedSize(cols(i).kind)
      else 4 + prefix(cols(i).kind) + varBytes(i).length
    }.sum
    val bb = ByteBuffer.allocate(size)
    bb.putLong(seq).putInt(txid).putInt(tabid).putInt(0)
    cols.indices.foreach { i =>
      if (varBytes(i) != null) bb.putInt(prefix(cols(i).kind) + varBytes(i).length)
    }
    cols.indices.foreach { i =>
      if (varBytes(i) != null) {
        bb.put(new Array[Byte](prefix(cols(i).kind)))
        bb.put(varBytes(i))
      } else putFixed(bb, cols(i).kind, values(i))
    }
    require(!bb.hasRemaining)
    bb.array()
  }

  private def bcd(v: Int): Byte = (((v / 10) << 4) | (v % 10)).toByte

  private def putFixed(bb: ByteBuffer, kind: Kind, v: Any): Unit = kind match {
    case KInt2 => bb.putShort(if (v == null) Short.MinValue else v.asInstanceOf[Short])
    case KInt4 => bb.putInt(if (v == null) Int.MinValue else v.asInstanceOf[Int])
    case KBigint => bb.putLong(if (v == null) Long.MinValue else v.asInstanceOf[Long])
    case KInt8 =>
      if (v == null) { bb.putShort(0x7fff.toShort); bb.putLong(0L) }
      else {
        val x = v.asInstanceOf[Long]
        require(x != Long.MinValue, "INT8 magnitude must fit 63 bits")
        val mag = math.abs(x)
        bb.putShort(if (x < 0) (-1).toShort else 1.toShort)
        bb.putInt((mag & 0xffffffffL).toInt)
        bb.putInt((mag >>> 32).toInt)
      }
    case KDate =>
      bb.putInt(if (v == null) Int.MinValue
        else (v.asInstanceOf[LocalDate].toEpochDay - DateEpoch).toInt)
    case KBool =>
      if (v == null) { bb.put(1.toByte); bb.put(0.toByte) }
      else { bb.put(0.toByte); bb.put(if (v.asInstanceOf[Boolean]) 1.toByte else 0.toByte) }
    case KChar(n) =>
      if (v == null) { bb.put(0.toByte); bb.put(Array.fill[Byte](n - 1)(' '.toByte)) }
      else {
        val b = v.asInstanceOf[String].getBytes(UTF_8)
        require(b.length <= n && (b.isEmpty || b(0) != 0))
        bb.put(b); bb.put(Array.fill[Byte](n - b.length)(' '.toByte))
      }
    case KFloat8 =>
      if (v == null) bb.putLong(-1L) else bb.putDouble(v.asInstanceOf[Double])
    case KFloat4 =>
      if (v == null) bb.putInt(-1) else bb.putFloat(v.asInstanceOf[Float])
    case KDec(p, s) =>
      val nBytes = (p + 1) / 2
      if (v == null) bb.put(new Array[Byte](1 + nBytes))
      else {
        val d = v.asInstanceOf[JBigDecimal]
        require(d.scale == s)
        bb.put(if (d.signum < 0) 2.toByte else 1.toByte)
        val digits = d.unscaledValue.abs.toString
        val padded = "0" * (2 * nBytes - digits.length) + digits
        var i = 0
        while (i < nBytes) {
          bb.put((((padded.charAt(2 * i) - '0') << 4) | (padded.charAt(2 * i + 1) - '0')).toByte)
          i += 1
        }
      }
    case KDTime =>
      if (v == null) bb.put(new Array[Byte](11))
      else {
        val t = LocalDateTime.ofInstant(v.asInstanceOf[Instant], ZoneOffset.UTC)
        val us = t.getNano / 1000
        bb.put(1.toByte)
        bb.put(bcd(t.getYear / 100)); bb.put(bcd(t.getYear % 100))
        bb.put(bcd(t.getMonthValue)); bb.put(bcd(t.getDayOfMonth))
        bb.put(bcd(t.getHour)); bb.put(bcd(t.getMinute)); bb.put(bcd(t.getSecond))
        bb.put(bcd(us / 10000)); bb.put(bcd(us / 100 % 100)); bb.put(bcd(us % 100))
      }
    case KVarchar | KLvarchar => throw new IllegalStateException("variable length")
  }
}
