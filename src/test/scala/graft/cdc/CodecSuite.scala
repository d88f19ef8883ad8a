package graft.cdc

import org.scalatest.funsuite.AnyFunSuite

/** Example-based codec tests: the reference's type-coverage fixture values
  * (sql/informixcdc_test.sql:7-28 — every supported type at extreme
  * defaults), wire-layout facts, and dispatcher error paths. */
class CodecSuite extends AnyFunSuite {

  /** The all-types table of sql/informixcdc_test.sql with its extreme
    * default values — the inserts that "exercise every decoder branch". */
  private val fixtureDdl =
    "cdc_serial8 serial8, cdc_int8_low int8, cdc_int8_high int8, " +
      "cdc_bigint_low bigint, cdc_bigint_high bigint, cdc_char char(16), " +
      "cdc_date date, cdc_datetime datetime year to fraction, " +
      "cdc_decimal_low decimal(32,16), cdc_decimal_high decimal(32,16), " +
      "cdc_float_low float, cdc_float_high float, " +
      "cdc_integer_low integer, cdc_integer_high integer, " +
      "cdc_smallfloat_low smallfloat, cdc_smallfloat_high smallfloat, " +
      "cdc_smallint_low smallint, cdc_smallint_high smallint, " +
      "cdc_varchar varchar(255, 16), cdc_lvarchar lvarchar(256)"

  private val schema = DdlParser.parse(5, "informixcdc_test", fixtureDdl)
  private val registry = SchemaRegistry(Map(5 -> "informixcdc_test"), Map(5 -> schema))

  private val fixtureValues: IndexedSeq[Any] = IndexedSeq(
    1L,                                       // serial8
    -9223372036854775807L, 9223372036854775807L,  // int8 extremes
    -9223372036854775807L, 9223372036854775807L,  // bigint extremes
    "I heart CDC",                            // char(16)
    java.time.LocalDate.parse("2026-08-12"),  // date
    java.time.LocalDateTime.parse("2026-08-12T06:30:59.123456")
      .toInstant(java.time.ZoneOffset.UTC),   // datetime
    new java.math.BigDecimal("-1234567890123456.1234567890123456"),
    new java.math.BigDecimal("1234567890123456.1234567890123456"),
    -99.99999999999999, 99.99999999999999,    // float extremes
    -2147483647, 2147483647,                  // integer extremes
    -99.99999999999999f, 99.99999999999999f,  // smallfloat extremes
    (-32767).toShort, 32767.toShort,          // smallint extremes
    "I still love CDC", "Almost as much as waffles")

  test("type-coverage fixture round-trips at full precision") {
    val frame = CdcCodec.encodeRowFrame(CdcRecords.INSERT, schema,
      287784092040L, 9, 0, fixtureValues)
    val (recs, _) = CdcCodec.decodeAll(frame, registry)
    val img = recs.head.asInstanceOf[RowImage]
    assert(img.seqNumber == 287784092040L)
    assert(img.transactionId == 9)
    assert(img.recordType == "CDC_REC_INSERT")
    val got = img.columns.map(_.value)
    // CHAR decodes blank-padded to declared size (ec:899-913).
    assert(got(5) == "I heart CDC     ")
    val expect = fixtureValues.updated(5, "I heart CDC     ")
    assert(got == expect)
  }

  test("the DECIMAL(32,16) values the reference returned as '0.0' decode exactly") {
    // ec:1031-1040 disables decimal decode; SURVEY §1.3 commits to fixing it.
    val dec = ColSpec("d", ColType.Dec(32, 16))
    for (s <- Seq("-1234567890123456.1234567890123456",
                  "1234567890123456.1234567890123456",
                  "0.0000000000000001", "-0.0000000000000001", "0",
                  "1844.6744073709551616", "-1844.6744073709551616")) { // ±2^64 unscaled
      val v = new java.math.BigDecimal(s).setScale(16)
      val (bytes, _) = CdcCodec.encodeColumn(dec, v)
      assert(bytes.length == 17) // 1 sign byte + 32 digits BCD
      val (got, adv, _) = CdcCodec.decodeColumn(dec, bytes, 0, IndexedSeq.empty, 0)
      assert(adv == 17)
      assert(got == v, s"for $s")
    }
  }

  test("DATETIME year-to-fraction decodes to microsecond precision") {
    // ec:1075-1084 disables datetime decode; digit-group layout per the
    // dead path (ec:1140-1146).
    val dt = ColSpec("t", ColType.DTime)
    // encode still accepts java.sql.Timestamp (what Spark Rows hand out);
    // decode returns the java.time.Instant of the same wall-clock micros
    val ts = java.sql.Timestamp.valueOf("1999-12-31 23:59:59.999999")
    val (bytes, _) = CdcCodec.encodeColumn(dt, ts)
    assert(bytes.length == 11)
    val (got, _, _) = CdcCodec.decodeColumn(dt, bytes, 0, IndexedSeq.empty, 0)
    assert(got == ts.toInstant)
  }

  test("Informix DATE day numbers anchor at 1900-01-01 = day 1 (rjulmdy)") {
    val d = ColSpec("d", ColType.DateDay)
    val (bytes, _) = CdcCodec.encodeColumn(d, java.sql.Date.valueOf("1900-01-01"))
    assert(java.nio.ByteBuffer.wrap(bytes).getInt == 1)
  }

  test("every NULL sentinel decodes to null and re-encodes identically") {
    val allNull: IndexedSeq[Any] = IndexedSeq.fill(schema.cols.length)(null)
    val frame = CdcCodec.encodeRowFrame(CdcRecords.DELETE, schema, 1L, 1, 0, allNull)
    val (recs, _) = CdcCodec.decodeAll(frame, registry)
    val img = recs.head.asInstanceOf[RowImage]
    assert(img.recordType == "CDC_REC_DELETE")
    assert(img.columns.forall(_.value == null))
  }

  test("frame header layout: header_sz | payload_sz | scheme 66 | record_number") {
    val frame = CdcCodec.encodeFrame(TimeoutBeat(123456789L))
    val bb = java.nio.ByteBuffer.wrap(frame)
    assert(bb.getInt(0) == 16)                      // RECORD_HEADER_OFFSET
    assert(bb.getInt(4) == 8)                       // payload = seq only
    assert(bb.getInt(8) == 66)                      // PACKET_SCHEME (ec:56)
    assert(bb.getInt(12) == CdcRecords.TIMEOUT)     // 201
    assert(bb.getLong(16) == 123456789L)
  }

  test("unknown record numbers raise (the reference silently mislabels, ec:1889-1892)") {
    intercept[IllegalArgumentException] {
      CdcCodec.decodeRecord(77, Array.fill[Byte](12)(0), 0, 12, SchemaRegistry(Map.empty))
    }
  }

  test("wrong packet scheme raises (ec:1816-1820)") {
    val frame = CdcCodec.encodeFrame(TimeoutBeat(1L))
    frame(11) = 65.toByte // corrupt the scheme field
    intercept[IllegalArgumentException] {
      new FrameBuffer(SchemaRegistry(Map.empty)).append(frame)
    }
  }

  test("corrupt frame sizes fail loudly instead of mis-walking the buffer") {
    // negative payload_sz would move the cursor backwards (infinite loop)
    val neg = CdcCodec.encodeFrame(TimeoutBeat(1L))
    java.nio.ByteBuffer.wrap(neg).putInt(4, -8)
    intercept[IllegalArgumentException] {
      new FrameBuffer(SchemaRegistry(Map.empty)).append(neg)
    }
    // undersized header_sz would overlap header and payload bytes
    val shortHdr = CdcCodec.encodeFrame(TimeoutBeat(1L))
    java.nio.ByteBuffer.wrap(shortHdr).putInt(0, 8)
    intercept[IllegalArgumentException] {
      new FrameBuffer(SchemaRegistry(Map.empty)).append(shortHdr)
    }
  }

  test("row image without a registered TABSCHEM raises") {
    val frame = CdcCodec.encodeRowFrame(CdcRecords.INSERT, schema, 1L, 1, 0,
      IndexedSeq.fill(schema.cols.length)(null))
    intercept[NoSuchElementException] {
      CdcCodec.decodeAll(frame, SchemaRegistry(Map.empty))
    }
  }

  test("re-registration REPLACES the schema wholesale: DROP + widen mid-stream") {
    // The reference registrar drops and re-describes on a repeated tabid
    // (ec:1722-1804) — so DROP COLUMN and type-widen arrive exactly like
    // ADD COLUMN: a second TABSCHEM. Rows after it must decode under the
    // NEW layout (new offsets, new widths), not cached v1 offsets.
    val v1 = DdlParser.parse(7, "t", "k int, nm varchar(8), price smallfloat")
    val v2 = DdlParser.parse(7, "t", "k bigint, price float")
    val out = new java.io.ByteArrayOutputStream()
    out.write(CdcCodec.encodeFrame(TabSchema(7, 0, 8, 2, 1, "k int, nm varchar(8), price smallfloat")))
    out.write(CdcCodec.encodeRowFrame(CdcRecords.INSERT, v1, 1L, 1, 0,
      IndexedSeq[Any](11, "a", 1.5f)))
    out.write(CdcCodec.encodeFrame(TabSchema(7, 0, 16, 2, 0, "k bigint, price float")))
    out.write(CdcCodec.encodeRowFrame(CdcRecords.INSERT, v2, 2L, 1, 0,
      IndexedSeq[Any](1L << 40, 2.25)))
    val (recs, reg) = CdcCodec.decodeAll(out.toByteArray, SchemaRegistry(Map(7 -> "t")))
    val rows = recs.collect { case r: RowImage => r }
    assert(rows.map(_.columns.map(c => c.name -> c.value)) == Vector(
      Vector("k" -> 11, "nm" -> "a", "price" -> 1.5f),
      Vector("k" -> (1L << 40), "price" -> 2.25)))
    assert(reg(7).cols == v2.cols)            // v1 is gone, not merged
  }

  test("TABSCHEM round-trip carries the DDL text NUL-terminated") {
    val ts = TabSchema(5, 0, 44, 18, 2, fixtureDdl)
    val frame = CdcCodec.encodeFrame(ts)
    val (recs, reg) = CdcCodec.decodeAll(frame, SchemaRegistry(Map(5 -> "informixcdc_test")))
    assert(recs == Vector(ts))
    // The registry learned the schema in-band (add_tabschema, ec:1722-1804).
    assert(reg(5).cols == schema.cols)
    assert(reg(5).numVarCols == 2)
  }
}
