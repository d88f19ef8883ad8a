package graft.cdc

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDate, LocalDateTime, LocalTime, ZoneOffset}

/** Binary codec for the scheme-66 CDC wire format (SURVEY.md §1.1, M1).
  *
  * Frame: 16-byte header `header_sz:int4 | payload_sz:int4 | scheme:int4
  * (=66) | record_number:int4`, payload at offset 16 (ec:58-63, 774-781).
  * Row-image payloads carry a 20-byte change header `seq:int8 | txid:int4 |
  * tabid:int4 | flags:int4`, a var-len length array (4 bytes per
  * variable-length column, length INCLUDES the type's prefix), then column
  * bytes — fixed-width columns advance by their wire size, var-length by the
  * decoded length (ec:1183-1207).
  *
  * All multi-byte integers are big-endian (`ld2/ld4/ld8`, ec:2647-2678);
  * IEEE floats are big-endian on the wire (`lddbl/ldfloat` byte-swap on
  * little-endian hosts, ec:2680-2720). The encoder writes through a
  * `ByteBuffer` (big-endian by default); the decoder reads both with
  * shifts at absolute offsets.
  *
  * Decode is in place, as the reference's `fetchone` decodes in its read
  * buffer (ec:2228-2368): a record is decoded at (array, offset, length)
  * wherever its frame's bytes already are — the caller's chunk, or the
  * head of [[FrameBuffer]]'s buffer for a frame that spanned two chunks —
  * and no payload is copied. A row image's columns go straight into one
  * value array per row, with no tuple or `ColValue` per column
  * ([[RowColumns]]); DECIMAL digits go straight into a long (or 128 bits
  * past 18 digits), with no digit string. What a decoded record allocates
  * is what the `CdcRecord` API returns: the record, its value array, and
  * each column's host value.
  *
  * NULLs are in-band sentinels per type, as Informix's `risnull` checks
  * (ec:823, 848, 865...). The reference links against the closed ESQL/C
  * runtime for the exact patterns; we fix them explicitly:
  *   - SMALLINT `0x8000`, INT/SERIAL/DATE `0x80000000`, BIGINT
  *     `0x8000000000000000` (the standard Informix integer sentinels);
  *   - INT8: sign word `0x7fff` (valid signs are 1/-1);
  *   - FLOAT/SMALLFLOAT: all bytes `0xff` (a quiet-NaN pattern);
  *   - BOOL: first byte 1 = null, else second byte is the value — explicit
  *     in the reference (ec:888-897);
  *   - CHAR: first byte `0x00` (a blank-padded CHAR never contains NUL);
  *   - VARCHAR/LVARCHAR: data length 1 with a single `0x00` byte;
  *   - DECIMAL/DATETIME: lead flag byte 0.
  *
  * DECIMAL and DATETIME decode correctly here — the reference DISABLED both
  * (returns literal "0.0", ec:1031-1040, 1075-1084) to dodge an `lddecimal`
  * memory leak (ec:18-21). DECIMAL(p,s) is packed BCD: sign byte then p
  * digits two-per-byte, fixed-point with s fractional digits. DATETIME is
  * the `YYYYMMDDhhmmss` + fraction digit-group layout the reference's dead
  * path sliced out of `dectoasc` text (ec:1140-1146), packed as 20 BCD
  * digits (fraction widened to 6 digits = microseconds, Spark's precision).
  *
  * The encoder exists for fixture generation and round-trip verification —
  * the reference's record mode (`write_testing_sblob`, ec:201-217) captured
  * live streams instead; with no committed golden file, encode→decode
  * identity is the testable contract (property specs + the DuckDB-checked
  * `q_cdc_roundtrip` query).
  */
object CdcCodec {
  import CdcRecords._

  val NullInt2: Short = Short.MinValue
  val NullInt4: Int = Int.MinValue
  val NullInt8: Long = Long.MinValue
  val NullSign: Short = 0x7fff.toShort

  /** Informix DATE epoch: day 1 = 1900-01-01 (`rjulmdy`, ec:863-886). */
  private val DateEpoch: Long = LocalDate.of(1899, 12, 31).toEpochDay

  // ------------------------------------------------------------ column codec

  /** Write one FIXED-WIDTH column value into `bb` at its current position
    * (var-length text goes through [[encodeRowPayload]]'s pre-encoded
    * bytes). Hot path: no per-column allocation — one shared buffer per
    * row, exactly the reference's write-into-the-frame discipline. */
  private def writeFixedColumn(spec: ColSpec, value: Any, bb: ByteBuffer): Unit = {
    spec.colType match {
      case ColType.Int2 =>
        bb.putShort(if (value == null) NullInt2 else value.asInstanceOf[Short])
      case ColType.Int4 =>
        bb.putInt(if (value == null) NullInt4 else value.asInstanceOf[Int])
      case ColType.Bigint =>
        bb.putLong(if (value == null) NullInt8 else value.asInstanceOf[Long])
      case ColType.Int8 =>
        if (value == null) { bb.putShort(NullSign); bb.putInt(0); bb.putInt(0) }
        else {
          val v = value.asInstanceOf[Long]
          val mag = math.abs(v)
          bb.putShort(if (v < 0) -1 else 1)
          bb.putInt((mag & 0xffffffffL).toInt)         // lo at +2 (ec:820)
          bb.putInt((mag >>> 32).toInt)                // hi at +6 (ec:821)
        }
      case ColType.DateDay =>
        bb.putInt(if (value == null) NullInt4
          else (localDateOf(value).toEpochDay - DateEpoch).toInt)
      case ColType.Bool =>
        if (value == null) { bb.put(1.toByte); bb.put(0.toByte) }
        else { bb.put(0.toByte)
          bb.put(if (value.asInstanceOf[Boolean]) 1.toByte else 0.toByte) }
      case ColType.Float8 =>
        if (value == null) bb.putLong(-1L)
        else bb.putDouble(value.asInstanceOf[Double])
      case ColType.Float4 =>
        if (value == null) bb.putInt(-1)
        else bb.putFloat(value.asInstanceOf[Float])
      case ColType.Char(n) =>
        val start = bb.position()
        if (value == null) {
          bb.put(0.toByte)
          var i = 1
          while (i < n) { bb.put(' '.toByte); i += 1 }
        } else {
          val raw = value.asInstanceOf[String].getBytes(UTF_8)
          require(raw.length <= n, s"CHAR($n) overflow for ${spec.name}")
          bb.put(raw)
          var i = raw.length
          while (i < n) { bb.put(' '.toByte); i += 1 }
        }
        assert(bb.position() == start + n)
      case ColType.Dec(p, s) =>
        val start = bb.position()
        val nBytes = (p + 1) / 2
        if (value == null) {
          var i = 0
          while (i <= nBytes) { bb.put(0.toByte); i += 1 }
        } else {
          val bd = value.asInstanceOf[java.math.BigDecimal].setScale(s)
          bb.put(if (bd.signum() < 0) 2.toByte else 1.toByte)
          packDigits(bd.abs.unscaledValue().toString, p, bb.array(),
            bb.arrayOffset() + bb.position())
          bb.position(bb.position() + nBytes)
        }
        assert(bb.position() == start + 1 + nBytes)
      case ColType.DTime =>
        if (value == null) {
          var i = 0
          while (i < 11) { bb.put(0.toByte); i += 1 }
        } else {
          val ldt = localDateTimeOf(value)
          bb.put(1.toByte)
          // Digit pairs packed directly (no string formatting — hot path).
          def bcd(v: Int): Byte = (((v / 10) << 4) | (v % 10)).toByte
          val y = ldt.getYear
          bb.put(bcd(y / 100)); bb.put(bcd(y % 100))
          bb.put(bcd(ldt.getMonthValue)); bb.put(bcd(ldt.getDayOfMonth))
          bb.put(bcd(ldt.getHour)); bb.put(bcd(ldt.getMinute))
          bb.put(bcd(ldt.getSecond))
          val us = ldt.getNano / 1000
          bb.put(bcd(us / 10000)); bb.put(bcd(us / 100 % 100)); bb.put(bcd(us % 100))
        }
      case _: ColType.Varchar.type | _: ColType.Lvarchar.type =>
        throw new IllegalStateException("var-length columns are pre-encoded")
    }
  }

  /** Encode one column value; returns (wire bytes, var-len array entry if
    * the type is variable-length). Spec-test surface — the row hot path
    * writes into a shared buffer via [[writeFixedColumn]] instead. */
  private[cdc] def encodeColumn(spec: ColSpec, value: Any): (Array[Byte], Option[Int]) =
    spec.colType match {
      case v: ColType.Varchar.type => encodeVarText(value, v.prefix)
      case v: ColType.Lvarchar.type => encodeVarText(value, v.prefix)
      case t =>
        val bb = ByteBuffer.allocate(t.wireSize)
        writeFixedColumn(spec, value, bb)
        (bb.array(), None)
    }

  /** Accept every host representation Spark hands out for DATE — the
    * decoded value is always `java.time.LocalDate` (UTC wall-clock). */
  private def localDateOf(value: Any): LocalDate = value match {
    case d: java.sql.Date => d.toLocalDate
    case d: LocalDate => d
    case other => throw new IllegalArgumentException(s"not a date: $other")
  }

  /** Accept every host representation Spark hands out for TIMESTAMP /
    * TIMESTAMP_NTZ; wall-clock digits are taken in UTC for instants. */
  private def localDateTimeOf(value: Any): LocalDateTime = value match {
    case t: java.sql.Timestamp => LocalDateTime.ofInstant(t.toInstant, ZoneOffset.UTC)
    case t: java.time.Instant => LocalDateTime.ofInstant(t, ZoneOffset.UTC)
    case t: LocalDateTime => t
    case other => throw new IllegalArgumentException(s"not a timestamp: $other")
  }

  private def encodeVarText(value: Any, prefix: Int): (Array[Byte], Option[Int]) = {
    val data = if (value == null) Array[Byte](0)
      else value.asInstanceOf[String].getBytes(UTF_8)
    (new Array[Byte](prefix) ++ data, Some(prefix + data.length))
  }

  /** Pack a digit string right-aligned (zero-filled) into `width` BCD
    * digits at `off`, without building a padded copy. */
  private def packDigits(digits: String, width: Int, out: Array[Byte], off: Int): Unit = {
    require(digits.length <= width, s"decimal overflow: $digits > $width digits")
    val total = width + (width & 1) // whole bytes
    val pad = total - digits.length
    var d = 0
    while (d < digits.length) {
      val pos = pad + d
      val digit = digits.charAt(d) - '0'
      if ((pos & 1) == 0) out(off + pos / 2) = (digit << 4).toByte
      else out(off + pos / 2) = (out(off + pos / 2) | digit).toByte
      d += 1
    }
  }

  // Big-endian reads at absolute offsets (`ld2/ld4/ld8`, ec:2647-2678):
  // the walk decodes in place in the caller's array, with no buffer view.
  private def int2(b: Array[Byte], i: Int): Short =
    ((b(i) << 8) | (b(i + 1) & 0xff)).toShort
  private def int4(b: Array[Byte], i: Int): Int =
    (b(i) << 24) | ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) |
      (b(i + 3) & 0xff)
  private def int8(b: Array[Byte], i: Int): Long =
    (int4(b, i).toLong << 32) | (int4(b, i + 4) & 0xffffffffL)

  /** Decode one column (extract_column_to_dict, ec:783-1161); returns
    * (value-or-null, bytes consumed from the column area, var entries used).
    * Spec-test surface — the row walk calls [[decodeValue]] directly. */
  private[cdc] def decodeColumn(spec: ColSpec, bytes: Array[Byte], off: Int,
                                varLens: IndexedSeq[Int], varIdx: Int): (Any, Int, Int) = {
    val t = spec.colType
    val len = if (t.isVarLen) varLens(varIdx) else t.wireSize
    (decodeValue(t, bytes, off, len), len, if (t.isVarLen) 1 else 0)
  }

  /** The value of one column whose wire bytes are `b[off, off + len)`:
    * `len` is the type's wire size, or for var-length text its var-len
    * array entry (prefix included). */
  private def decodeValue(t: ColType, b: Array[Byte], off: Int, len: Int): Any =
    t match {
      case ColType.Int4 =>
        val v = int4(b, off)
        if (v == NullInt4) null else v
      case ColType.Bigint =>
        val v = int8(b, off)
        if (v == NullInt8) null else v
      case ColType.Int2 =>
        val v = int2(b, off)
        if (v == NullInt2) null else v
      case ColType.Int8 =>
        val sign = int2(b, off)
        if (sign == NullSign) null else {
          val lo = int4(b, off + 2) & 0xffffffffL
          val hi = int4(b, off + 6) & 0xffffffffL
          sign * ((hi << 32) | lo)
        }
      case ColType.DateDay =>
        val v = int4(b, off)
        // java.time.LocalDate, not java.sql.Date: epoch-day arithmetic with
        // no calendar/timezone round-trip, and Spark encoders map it to
        // DateType directly — the envelope stays primitive-friendly.
        if (v == NullInt4) null else LocalDate.ofEpochDay(v + DateEpoch)
      case ColType.Bool => if (b(off) == 1) null else b(off + 1) != 0
      case _: ColType.Char => if (b(off) == 0) null else new String(b, off, len, UTF_8)
      case v: ColType.Varchar.type => decodeVarText(b, off, len, v.prefix)
      case v: ColType.Lvarchar.type => decodeVarText(b, off, len, v.prefix)
      case ColType.Float8 =>
        val raw = int8(b, off)
        if (raw == -1L) null else java.lang.Double.longBitsToDouble(raw)
      case ColType.Float4 =>
        val raw = int4(b, off)
        if (raw == -1) null else java.lang.Float.intBitsToFloat(raw)
      case ColType.Dec(p, s) => decodeDecimal(b, off, p, s)
      case ColType.DTime =>
        if (b(off) == 0) null else {
          def un(i: Int): Int = { val x = b(off + i) & 0xff; (x >> 4) * 10 + (x & 0xf) }
          // LocalDate/LocalTime.of validate the digit groups; the result is
          // a java.time.Instant (UTC wall clock), not java.sql.Timestamp —
          // see the DateDay note.
          val day = LocalDate.of(un(1) * 100 + un(2), un(3), un(4)).toEpochDay
          val time = LocalTime.of(un(5), un(6), un(7),
            (un(8) * 10000 + un(9) * 100 + un(10)) * 1000)
          Instant.ofEpochSecond(day * 86400L + time.toSecondOfDay, time.getNano)
        }
    }

  private def decodeVarText(b: Array[Byte], off: Int, varLen: Int, prefix: Int): String = {
    val colLen = varLen - prefix
    if (colLen == 1 && b(off + prefix) == 0) null
    else new String(b, off + prefix, colLen, UTF_8)
  }

  /** One packed BCD byte as its two digits' value, 0..99. */
  private def digitPair(x: Byte): Int = {
    val hi = (x >> 4) & 0xf
    val lo = x & 0xf
    require(hi <= 9 && lo <= 9, f"invalid BCD byte 0x${x & 0xff}%02x in a DECIMAL")
    hi * 10 + lo
  }

  /** DECIMAL(p,s): the sign byte, then ⌈p/2⌉ BCD digit pairs, straight to
    * the unscaled value. Up to 18 digits (9 pairs) fit a long exactly; a
    * wider column carries on in 128 bits, enough for Spark's 38 digits. */
  private def decodeDecimal(b: Array[Byte], off: Int, p: Int,
                            s: Int): java.math.BigDecimal = {
    val sign = b(off)
    if (sign == 0) null else {
      val end = off + 1 + (p + 1) / 2
      var i = off + 1
      var lo = 0L
      val longEnd = math.min(end, i + 9)
      while (i < longEnd) { lo = lo * 100 + digitPair(b(i)); i += 1 }
      if (i == end) java.math.BigDecimal.valueOf(if (sign == 2) -lo else lo, s)
      else {
        var hi = 0L
        while (i < end) {       // (hi, lo) = (hi, lo) * 100 + pair, unsigned
          val lo100 = lo * 100
          hi = hi * 100 + Math.multiplyHigh(lo, 100L) + ((lo >> 63) & 100L)
          lo = lo100 + digitPair(b(i))
          if (java.lang.Long.compareUnsigned(lo, lo100) < 0) hi += 1
          i += 1
        }
        val mag = new Array[Byte](16)
        var k = 0
        while (k < 8) {
          mag(k) = (hi >>> (56 - 8 * k)).toByte
          mag(8 + k) = (lo >>> (56 - 8 * k)).toByte
          k += 1
        }
        val signum = if ((hi | lo) == 0L) 0 else if (sign == 2) -1 else 1
        new java.math.BigDecimal(new java.math.BigInteger(signum, mag), s)
      }
    }
  }

  // --------------------------------------------------------------- row codec

  /** Encode a row image payload: change header + var-len array + columns
    * (layout per ec:1183-1207). `values` in declared column order.
    *
    * Hot path (the streaming fixture recorder and `q_cdc_roundtrip` run
    * this once per change): one size pass, one allocation, direct writes —
    * only var-length text pre-encodes its UTF-8 bytes (needed for the
    * length array that precedes the column area). */
  def encodeRowPayload(schema: TableSchema, seq: Long, txid: Int, flags: Int,
                       values: IndexedSeq[Any]): Array[Byte] = {
    val n = schema.cols.length
    require(values.length == n,
      s"${schema.tabname}: ${values.length} values for $n columns")
    val varData = new Array[Array[Byte]](n)   // null ⇒ fixed-width column
    val varPrefix = new Array[Int](n)
    var colBytes = 0
    var nVar = 0
    var i = 0
    while (i < n) {
      schema.cols(i).colType match {
        case v: ColType.Varchar.type =>
          val d = varTextBytes(values(i))
          varData(i) = d; varPrefix(i) = v.prefix; nVar += 1
          colBytes += v.prefix + d.length
        case v: ColType.Lvarchar.type =>
          val d = varTextBytes(values(i))
          varData(i) = d; varPrefix(i) = v.prefix; nVar += 1
          colBytes += v.prefix + d.length
        case t => colBytes += t.wireSize
      }
      i += 1
    }
    val bb = ByteBuffer.allocate(ChangeHeaderSz + 4 * nVar + colBytes)
    bb.putLong(seq).putInt(txid).putInt(schema.tabid).putInt(flags)
    i = 0
    while (i < n) {                            // var-len length array
      if (varData(i) != null) bb.putInt(varPrefix(i) + varData(i).length)
      i += 1
    }
    i = 0
    while (i < n) {                            // column area
      if (varData(i) != null) {
        var p = 0
        while (p < varPrefix(i)) { bb.put(0.toByte); p += 1 }
        bb.put(varData(i))
      } else writeFixedColumn(schema.cols(i), values(i), bb)
      i += 1
    }
    bb.array()
  }

  /** Var-length text data bytes; null encodes as one 0x00 sentinel byte. */
  private def varTextBytes(value: Any): Array[Byte] =
    if (value == null) NullVarText
    else value.asInstanceOf[String].getBytes(UTF_8)
  private val NullVarText = Array[Byte](0)

  /** Decode a row image in place — payload `b[off, off + len)` — with the
    * registered schema (extract_columns_to_list + extract_iud,
    * ec:1163-1304). Fixed-width columns advance by their wire size,
    * var-length ones by their next var-len array entry. */
  private def decodeRow(recordNumber: Int, b: Array[Byte], off: Int, len: Int,
                        registry: SchemaRegistry): RowImage = {
    requirePayload(recordNumber, len, ChangeHeaderSz)
    val tabid = int4(b, off + 12)
    val schema = registry(tabid)
    val types = schema.colTypes
    val values = new Array[Any](types.length)
    var varEntry = off + ChangeHeaderSz
    var pos = varEntry + 4 * schema.numVarCols
    var c = 0
    while (c < types.length) {
      val t = types(c)
      val w = if (t.isVarLen) { val l = int4(b, varEntry); varEntry += 4; l }
        else t.wireSize
      values(c) = decodeValue(t, b, pos, w)
      pos += w
      c += 1
    }
    require(pos <= off + len,
      s"row image of tabid $tabid overruns its $len-byte payload by ${pos - off - len} bytes")
    RowImage(recordNumber, int8(b, off), int4(b, off + 8), tabid,
      int4(b, off + 16), new RowColumns(schema.colNames, values))
  }

  /** In-place decode reads at absolute offsets, so a short payload must
    * fail here instead of reading the next frame's bytes. */
  private def requirePayload(recordNumber: Int, len: Int, min: Int): Unit =
    require(len >= min,
      s"record $recordNumber: payload of $len bytes, at least $min expected")

  // ------------------------------------------------------------ record codec

  /** Encode any record to a complete frame (header + payload). */
  def encodeFrame(rec: CdcRecord, registryForRows: SchemaRegistry = null,
                  rowValues: IndexedSeq[Any] = null): Array[Byte] = {
    val payload: Array[Byte] = rec match {
      case r: BeginTx =>
        ByteBuffer.allocate(24).putLong(r.seqNumber).putInt(r.transactionId)
          .putLong(r.startTime).putInt(r.userId).array()
      case r: CommitTx =>
        ByteBuffer.allocate(20).putLong(r.seqNumber).putInt(r.transactionId)
          .putLong(r.commitTime).array()
      case r: RollbackTx =>
        ByteBuffer.allocate(12).putLong(r.seqNumber).putInt(r.transactionId).array()
      case r: DiscardTx =>
        ByteBuffer.allocate(12).putLong(r.seqNumber).putInt(r.transactionId).array()
      case r: TruncateTab =>
        ByteBuffer.allocate(16).putLong(r.seqNumber).putInt(r.transactionId)
          .putInt(r.tabid).array()
      case r: TimeoutBeat =>
        ByteBuffer.allocate(8).putLong(r.seqNumber).array()
      case r: TabSchema =>
        val text = r.colsDesc.getBytes(UTF_8)
        // cols_desc is NUL-terminated on the wire: decode reads payload_sz-1
        // bytes of text (ec:1346).
        ByteBuffer.allocate(20 + text.length + 1).putInt(r.tabid).putInt(r.flags)
          .putInt(r.fixLenSz).putInt(r.fixLenCols).putInt(r.varLenCols)
          .put(text).put(0.toByte).array()
      case r: RowImage =>
        encodeRowPayload(registryForRows(r.tabid), r.seqNumber, r.transactionId,
          r.flags, r.columns.map(_.value))
      case ErrorRecord => Array.emptyByteArray
    }
    frame(rec.recordNumber, payload)
  }

  /** Convenience: build a row-image frame directly from raw values. */
  def encodeRowFrame(recordNumber: Int, schema: TableSchema, seq: Long,
                     txid: Int, flags: Int, values: IndexedSeq[Any]): Array[Byte] =
    frame(recordNumber, encodeRowPayload(schema, seq, txid, flags, values))

  private def frame(recordNumber: Int, payload: Array[Byte]): Array[Byte] =
    ByteBuffer.allocate(RecordHeaderOffset + payload.length)
      .putInt(RecordHeaderOffset).putInt(payload.length)
      .putInt(PacketScheme).putInt(recordNumber)
      .put(payload).array()

  /** Decode one record whose payload is `bytes[off, off + len)`, in place,
    * by record number (extract_record dispatcher, ec:1806-1923). Unknown
    * numbers raise — the dispatcher's explicit CDC_REC_UNKNOWN error
    * path. */
  def decodeRecord(recordNumber: Int, bytes: Array[Byte], off: Int, len: Int,
                   registry: SchemaRegistry): CdcRecord = {
    def need(min: Int): Unit = requirePayload(recordNumber, len, min)
    recordNumber match {
      case INSERT | DELETE | UPDBEF | UPDAFT =>
        decodeRow(recordNumber, bytes, off, len, registry)
      case BEGINTX =>
        need(24)
        BeginTx(int8(bytes, off), int4(bytes, off + 8), int8(bytes, off + 12),
          int4(bytes, off + 20))
      case COMMTX =>
        need(20)
        CommitTx(int8(bytes, off), int4(bytes, off + 8), int8(bytes, off + 12))
      case RBTX => need(12); RollbackTx(int8(bytes, off), int4(bytes, off + 8))
      case DISCARD => need(12); DiscardTx(int8(bytes, off), int4(bytes, off + 8))
      case TRUNCATE =>
        need(16)
        TruncateTab(int8(bytes, off), int4(bytes, off + 8), int4(bytes, off + 12))
      case TIMEOUT => need(8); TimeoutBeat(int8(bytes, off))
      case ERROR => ErrorRecord
      case TABSCHEM =>
        need(21)
        TabSchema(int4(bytes, off), int4(bytes, off + 4), int4(bytes, off + 8),
          int4(bytes, off + 12), int4(bytes, off + 16),
          new String(bytes, off + 20, len - 21, UTF_8))
      case n =>
        throw new IllegalArgumentException(s"unknown CDC record number $n")
    }
  }

  /** Length of the frame whose header starts at `bytes(at)` — at least 16
    * bytes must be there. Corrupt headers fail loudly, not mis-walk: a
    * negative payload_sz would move the cursor backwards (infinite loop),
    * an undersized header would overlap payloads. The reference trusts the
    * server; a decoder over arbitrary files cannot. A Long, so that a
    * payload_sz near Int.MaxValue cannot wrap negative and pass as a
    * complete frame. */
  private[cdc] def frameLength(bytes: Array[Byte], at: Int): Long = {
    val headerSz = int4(bytes, at)
    val payloadSz = int4(bytes, at + 4)
    require(headerSz == RecordHeaderOffset,
      s"invalid header_sz $headerSz (scheme-66 headers are $RecordHeaderOffset bytes)")
    require(payloadSz >= 0, s"invalid negative payload_sz $payloadSz")
    val scheme = int4(bytes, at + 8)
    require(scheme == PacketScheme, s"invalid packet scheme $scheme")
    headerSz.toLong + payloadSz
  }

  /** Decode the complete frame at `bytes(at)`, in place. */
  private[cdc] def decodeFrameAt(bytes: Array[Byte], at: Int, len: Int,
                                 registry: SchemaRegistry): CdcRecord =
    decodeRecord(int4(bytes, at + 12), bytes, at + RecordHeaderOffset,
      len - RecordHeaderOffset, registry)

  /** Decode exactly one frame (hot path for one-frame-per-message sources;
    * [[FrameBuffer]] handles multi-frame chunked streams). */
  def decodeFrame(bytes: Array[Byte], registry: SchemaRegistry): CdcRecord = {
    require(bytes.length >= RecordHeaderOffset,
      s"frame of ${bytes.length} bytes is shorter than its header")
    val len = frameLength(bytes, 0)
    require(len == bytes.length,
      s"frame size mismatch: header says $len, got ${bytes.length}")
    decodeFrameAt(bytes, 0, bytes.length, registry)
  }

  /** Decode every complete frame in a buffer, threading registry updates on
    * in-band TABSCHEM records (the fetchone side-effect, ec:2310-2316).
    * Returns the records and the updated registry. Trailing partial bytes
    * raise — callers with chunked input use [[FrameBuffer]]. */
  def decodeAll(bytes: Array[Byte],
                registry: SchemaRegistry): (Vector[CdcRecord], SchemaRegistry) = {
    val fb = new FrameBuffer(registry)
    val out = fb.append(bytes)
    require(fb.pendingBytes == 0,
      s"${fb.pendingBytes} trailing bytes do not form a complete frame")
    (out, fb.registry)
  }
}

/** Chunk-boundary-safe frame walk — the buffered pull loop of `fetchone`
  * (ec:2228-2368) as a reusable class: bytes arrive in arbitrary chunks
  * (`ifx_lo_read` returns whatever the server has), complete frames are
  * decoded and returned, and a trailing partial frame waits for the next
  * chunk.
  *
  * Frames decode in place, at (array, offset, length), wherever their
  * bytes already are. With nothing pending, `append` walks the caller's
  * chunk itself, and copies only its trailing partial frame to the head of
  * `buf` — the reference's memcpy (ec:2334-2338). With a frame pending,
  * it first moves just the bytes that complete that frame from the head of
  * the next chunk into `buf` (write cursor `end`), decodes it there, and
  * then walks the rest of the chunk in place. `buf` only ever holds one
  * partial frame, always at its head (the read cursor is 0 between
  * appends); it grows to the largest frame seen and is then reused, so a
  * steady stream allocates nothing for buffering.
  *
  * Registry updates (TABSCHEM) happen inline during the walk, exactly where
  * the reference hooks `add_tabschema` (ec:2310-2316), so a row image
  * arriving after its schema record in the same chunk decodes correctly.
  */
final class FrameBuffer(initial: SchemaRegistry) {
  import CdcRecords._
  private var reg = initial
  private var buf: Array[Byte] = Array.emptyByteArray
  private var end = 0

  def registry: SchemaRegistry = reg
  def pendingBytes: Int = end

  /** Append a chunk; return all records whose frames completed. */
  def append(chunk: Array[Byte]): Vector[CdcRecord] = {
    val out = Vector.newBuilder[CdcRecord]
    var at = 0
    if (end > 0) {                            // complete the pending frame
      if (end < RecordHeaderOffset) at = take(chunk, at, RecordHeaderOffset - end)
      if (end >= RecordHeaderOffset) {
        val len = CdcCodec.frameLength(buf, 0)
        at += take(chunk, at, len - end)
        if (end == len) { out += decode(buf, 0, end); end = 0 }
      }
    }
    if (end == 0) {                           // walk the chunk in place
      var whole = true
      while (whole && chunk.length - at >= RecordHeaderOffset) {
        val len = CdcCodec.frameLength(chunk, at)
        whole = chunk.length - at >= len
        if (whole) { out += decode(chunk, at, len.toInt); at += len.toInt }
      }
      take(chunk, at, chunk.length - at)      // the trailing partial frame
    }
    out.result()
  }

  /** Copy up to `want` bytes of `chunk` from `at` to `buf(end)`, growing
    * `buf` if needed; returns the number copied. */
  private def take(chunk: Array[Byte], at: Int, want: Long): Int = {
    val n = math.min(want, (chunk.length - at).toLong).toInt
    if (end + n > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(end + n, 2 * buf.length))
    System.arraycopy(chunk, at, buf, end, n)
    end += n
    n
  }

  private def decode(bytes: Array[Byte], at: Int, len: Int): CdcRecord = {
    val rec = CdcCodec.decodeFrameAt(bytes, at, len, reg)
    rec match {
      case ts: TabSchema => reg = reg.withTabSchema(ts)
      case _ =>
    }
    rec
  }
}
