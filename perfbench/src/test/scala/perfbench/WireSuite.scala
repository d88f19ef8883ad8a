package perfbench

import java.io.ByteArrayOutputStream
import java.time.{Instant, LocalDate}
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's encoder against frames built by hand from the wire
  * layout, one column of each FIXTURES §1.2 type at a time, with the
  * reference fixture's extreme defaults and with NULL. */
class WireSuite extends AnyFunSuite {

  private def hex(s: String): Array[Byte] =
    s.replace(" ", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private val header = "0000000000000001 00000002 00000007 00000000" // seq 1, txid 2, tabid 7, flags

  /** Payload of a one-column row image: change header, length array, column. */
  private def payload(col: Wire.Col, value: Any): String =
    Wire.rowPayload(1L, 2, 7, IndexedSeq(col), IndexedSeq(value)).map(b => f"$b%02x").mkString

  private def col(ddl: String): Wire.Col = Wire.AllTypes.find(_.ddl == ddl).get

  private val cases: Seq[(String, Any, String)] = Seq(
    ("serial8", 9223372036854775807L, "0001 ffffffff 7fffffff"),
    ("int8", -9223372036854775807L, "ffff ffffffff 7fffffff"),
    ("int8", null, "7fff 00000000 00000000"),
    ("bigint", -9223372036854775807L, "8000000000000001"),
    ("bigint", null, "8000000000000000"),
    ("char(16)", "I heart CDC     ", "49206865617274204344432020202020"),
    ("char(16)", null, "00202020202020202020202020202020"),
    ("date", LocalDate.of(1900, 1, 1), "00000001"),
    ("date", null, "80000000"),
    ("datetime year to fraction(5)", Instant.parse("2024-02-29T12:34:56.123450Z"),
      "01 2024 02 29 12 34 56 123450"),
    ("datetime year to fraction(5)", null, "00 00000000000000000000"),
    ("decimal(32,16)", new java.math.BigDecimal("-1234567890123456.1234567890123456"),
      "02 12345678901234561234567890123456"),
    ("decimal(32,16)", null, "00 00000000000000000000000000000000"),
    ("float", 99.99999999999999, "4058ffffffffffff"),
    ("float", null, "ffffffffffffffff"),
    ("integer", -2147483647, "80000001"),
    ("integer", null, "80000000"),
    ("smallfloat", -99.99999999999999f, "c2c80000"),
    ("smallfloat", null, "ffffffff"),
    ("smallint", 32767.toShort, "7fff"),
    ("smallint", null, "8000"),
    ("varchar(255,16)", "I still love CDC", "00000011 00 49207374696c6c206c6f766520434443"),
    ("varchar(255,16)", null, "00000002 00 00"),
    ("lvarchar(256)", "Almost as much as waffles",
      "0000001c 000000 416c6d6f7374206173206d75636820617320776166666c6573"),
    ("boolean", true, "0001"),
    ("boolean", null, "0100"))

  cases.foreach { case (ddl, value, column) =>
    test(s"$ddl ${Option(value).getOrElse("NULL")} encodes as $column") {
      assert(payload(col(ddl), value) == (header + column).replace(" ", ""))
    }
  }

  test("a frame is a 16-byte header then the payload") {
    val out = new ByteArrayOutputStream()
    Wire.commit(out, seq = 0x0102L, txid = 3, time = 4L)
    assert(out.toByteArray.sameElements(hex(
      "00000010 00000014 00000042 00000002 0000000000000102 00000003 0000000000000004")))
  }

  test("a TABSCHEM frame carries the column counts and NUL-terminated text") {
    val out = new ByteArrayOutputStream()
    Wire.tabschem(out, 7, Seq(col("integer"), col("varchar(255,16)")))
    val text = "cdc_integer integer, cdc_varchar varchar(255,16)".getBytes("UTF-8")
    val body = hex("00000007 00000000 00000004 00000001 00000001") ++ text ++ Array[Byte](0)
    assert(out.toByteArray.sameElements(
      hex(f"00000010 ${body.length}%08x 00000042 000000c8") ++ body))
  }

  test("the program decodes each hand-built column to the encoded value") {
    val reg = AllTypesStream.registry
    cases.foreach { case (ddl, value, column) =>
      val c = col(ddl)
      val out = new ByteArrayOutputStream()
      Wire.tabschem(out, 7, Seq(c))
      Wire.frame(out, Wire.INSERT, hex(header + column))
      val recs = graft.cdc.CdcCodec.decodeAll(out.toByteArray, reg)._1
      val img = recs(1).asInstanceOf[graft.cdc.RowImage]
      assert(img.columns.map(_.value) == Seq(value), ddl)
    }
  }
}
