package graft.cdc

import org.apache.spark.sql.types._

/** The CDC data model (SURVEY.md §1): a change stream is a totally-ordered
  * sequence of framed records, tagged by a record number and carrying either
  * transaction events, row images, in-band schema, or control markers.
  *
  * Mirrors the reference's record taxonomy (ext/_informixcdcmodule.ec:69-80)
  * as a sealed Scala ADT instead of a tagged Python dict — the discriminator
  * is the type itself; `recordType` reproduces the reference's string tag
  * (ec:1827-1892) for envelope-style DataFrames.
  */
sealed trait CdcRecord {
  def recordNumber: Int
  def recordType: String
}

/** BEGIN (ec:1430-1501): seq:int8 | txid:int4 | start_time:int8 | user_id:int4. */
final case class BeginTx(seqNumber: Long, transactionId: Int,
                         startTime: Long, userId: Int) extends CdcRecord {
  val recordNumber = CdcRecords.BEGINTX
  val recordType = "CDC_REC_BEGINTX"
}

/** COMMIT (ec:1503-1564): seq:int8 | txid:int4 | commit_time:int8. */
final case class CommitTx(seqNumber: Long, transactionId: Int,
                          commitTime: Long) extends CdcRecord {
  val recordNumber = CdcRecords.COMMTX
  val recordType = "CDC_REC_COMMTX"
}

/** ROLLBACK (ec:1566-1615): seq:int8 | txid:int4. */
final case class RollbackTx(seqNumber: Long, transactionId: Int) extends CdcRecord {
  val recordNumber = CdcRecords.RBTX
  val recordType = "CDC_REC_RBTX"
}

/** One decoded column of a row image: name-tagged, declared order preserved
  * (ec:1186-1208). `value` is the decoded host value or null. */
final case class ColValue(name: String, value: Any)

/** The columns of one decoded row image: the schema's shared name array
  * and the row's own value array. A [[ColValue]] is built only when a
  * column is read, so decoding a row allocates one array for its values,
  * not one tuple and one `ColValue` per column. */
final class RowColumns private[cdc] (names: Array[String], values: Array[Any])
    extends scala.collection.immutable.AbstractSeq[ColValue]
    with IndexedSeq[ColValue] with Serializable {
  def length: Int = values.length
  def apply(i: Int): ColValue = ColValue(names(i), values(i))
}

/** INSERT/DELETE/UPDBEF/UPDAFT row image (ec:1220-1304): 20-byte change
  * header seq:int8 | txid:int4 | tabid:int4 | flags:int4, then the var-len
  * length array, then column bytes. `recordNumber` distinguishes the four.
  * The decoder hands out `columns` as a [[RowColumns]]; any other
  * `IndexedSeq` (a test's hand-built image) compares equal element-wise. */
final case class RowImage(recordNumber: Int, seqNumber: Long,
                          transactionId: Int, tabid: Int, flags: Int,
                          columns: IndexedSeq[ColValue]) extends CdcRecord {
  val recordType: String = recordNumber match {
    case CdcRecords.INSERT => "CDC_REC_INSERT"
    case CdcRecords.DELETE => "CDC_REC_DELETE"
    case CdcRecords.UPDBEF => "CDC_REC_UPDBEF"
    case CdcRecords.UPDAFT => "CDC_REC_UPDAFT"
    case n => s"CDC_REC_ROWIMAGE_$n"
  }
}

/** DISCARD (ec:1617-1655): server instructs the client to drop the tail of
  * a partial transaction after `seqNumber`. */
final case class DiscardTx(seqNumber: Long, transactionId: Int) extends CdcRecord {
  val recordNumber = CdcRecords.DISCARD
  val recordType = "CDC_REC_DISCARD"
}

/** TRUNCATE (ec:1657-1720): table-level delete-all marker. */
final case class TruncateTab(seqNumber: Long, transactionId: Int,
                             tabid: Int) extends CdcRecord {
  val recordNumber = CdcRecords.TRUNCATE
  val recordType = "CDC_REC_TRUNCATE"
}

/** TABSCHEM (ec:1306-1401): in-band schema — tabid, flags, fixed-width byte
  * count, fixed/var column counts, and the DDL-ish column list text that the
  * registry parses (ec:1722-1804). */
final case class TabSchema(tabid: Int, flags: Int, fixLenSz: Int,
                           fixLenCols: Int, varLenCols: Int,
                           colsDesc: String) extends CdcRecord {
  val recordNumber = CdcRecords.TABSCHEM
  val recordType = "CDC_REC_TABSCHEM"
}

/** TIMEOUT heartbeat (ec:1403-1428): carries the current LSN so progress
  * (and a streaming watermark) can advance without data. */
final case class TimeoutBeat(seqNumber: Long) extends CdcRecord {
  val recordNumber = CdcRecords.TIMEOUT
  val recordType = "CDC_REC_TIMEOUT"
}

/** ERROR (ec:1883-1886): payload ignored, type tag only. */
case object ErrorRecord extends CdcRecord {
  val recordNumber = CdcRecords.ERROR
  val recordType = "CDC_REC_ERROR"
}

/** Record numbers and frame constants (ec:56-80). */
object CdcRecords {
  val PacketScheme = 66
  val RecordHeaderOffset = 16
  val ChangeHeaderSz = 20

  val BEGINTX = 1
  val COMMTX = 2
  val RBTX = 3
  val INSERT = 40
  val DELETE = 41
  val UPDBEF = 42
  val UPDAFT = 43
  val DISCARD = 62
  val TRUNCATE = 119
  val TABSCHEM = 200
  val TIMEOUT = 201
  val ERROR = 202
}

/** The 14 column wire types (SURVEY.md §1.3, decoders at ec:783-1218).
  *
  * Each type knows its fixed wire width (var-length types report -1 and are
  * sized by the frame's var-len length array; a constructor field, so the
  * row walk calls one accessor for every type), its Spark [[DataType]], and
  * whether it participates in the var-len array walk. NULLs are in-band
  * sentinels, as in Informix (`risnull`, e.g. ec:823, 848); the concrete
  * sentinel per type is defined in [[CdcCodec]] where it is encoded/decoded.
  *
  * The reference DISABLED its DECIMAL and DATETIME decoders (ec:1031-1040,
  * 1075-1084, returning literal "0.0") to dodge a memory leak; we implement
  * both correctly (SURVEY §1.3 commitment): DECIMAL as packed BCD digits,
  * DATETIME as the `YYYYMMDDhhmmss.ffffff` digit groups its dead code parsed.
  */
sealed abstract class ColType(val isVarLen: Boolean,
    /** Fixed wire width in bytes; -1 for var-length types. */
    val wireSize: Int) extends Serializable {
  def sparkType: DataType
}

object ColType {
  /** INT8/SERIAL8 (ec:816-843): sign:int2 at +0, lo:uint4 at +2, hi:uint4
    * at +6 — 10 bytes. */
  case object Int8 extends ColType(false, 10) {
    val sparkType = LongType
  }
  /** SERIAL/INT (ec:845-861): int4. */
  case object Int4 extends ColType(false, 4) {
    val sparkType = IntegerType
  }
  /** DATE (ec:863-886): int4 day number; the reference converts via
    * `rjulmdy` — Informix day 1 = 1900-01-01, i.e. days since 1899-12-31. */
  case object DateDay extends ColType(false, 4) {
    val sparkType = DateType
  }
  /** BOOL (ec:888-897): 2 bytes — null flag then value. */
  case object Bool extends ColType(false, 2) {
    val sparkType = BooleanType
  }
  /** CHAR(n) (ec:899-913): n bytes, blank-padded to declared size. */
  final case class Char(n: Int) extends ColType(false, n) {
    val sparkType = StringType
  }
  /** VARCHAR/NVARCHAR (ec:915-934): length from the var-len array
    * (includes the 1-byte prefix), data after the prefix. */
  case object Varchar extends ColType(true, -1) {
    val sparkType = StringType
    val prefix = 1
  }
  /** LVARCHAR (ec:936-954): same walk with a 3-byte prefix. */
  case object Lvarchar extends ColType(true, -1) {
    val sparkType = StringType
    val prefix = 3
  }
  /** BIGINT (ec:956-971): int8. */
  case object Bigint extends ColType(false, 8) {
    val sparkType = LongType
  }
  /** FLOAT (ec:973-988): 8-byte IEEE, big-endian on the wire (lddbl
    * byte-swaps on little-endian hosts, ec:2680-2700). */
  case object Float8 extends ColType(false, 8) {
    val sparkType = DoubleType
  }
  /** SMALLFLOAT (ec:990-1005): 4-byte IEEE, big-endian on the wire. */
  case object Float4 extends ColType(false, 4) {
    val sparkType = FloatType
  }
  /** SMALLINT (ec:1007-1022): int2. */
  case object Int2 extends ColType(false, 2) {
    val sparkType = ShortType
  }
  /** DECIMAL/MONEY(p,s) (ec:1029-1066): packed decimal digits. Wire layout
    * (ours — the reference's decode is disabled dead code): 1 lead byte
    * (0 = NULL, 1 = +, 2 = −) then ceil(p/2) bytes of BCD digit pairs,
    * fixed-point with s fractional digits. */
  final case class Dec(p: Int, s: Int) extends ColType(false, 1 + (p + 1) / 2) {
    val sparkType = DecimalType(p, s)
  }
  /** DATETIME year-to-fraction / INTERVAL (ec:1073-1126): packed digit
    * groups `YYYYMMDDhhmmss` + 6 fractional digits (µs), exactly the string
    * layout the reference's dead decode path sliced (ec:1140-1146). Wire:
    * 1 null-flag byte + 10 BCD bytes (20 digits). */
  case object DTime extends ColType(false, 11) {
    val sparkType = TimestampType
  }
}

/** One registered column: name + wire type (registry entry, ec:97-102). */
final case class ColSpec(name: String, colType: ColType)

/** Per-table schema in the registry (table_t, ec:93-105): declared column
  * order, var-len column count (drives the row walk, ec:1183-1184), and the
  * derived Spark schema. */
final case class TableSchema(tabid: Int, tabname: String, cols: IndexedSeq[ColSpec]) {
  val numVarCols: Int = cols.count(_.colType.isVarLen)
  /** Column names and types as arrays for the row walk; every decoded
    * [[RowColumns]] of this schema shares `colNames`. */
  private[cdc] val colNames: Array[String] = cols.map(_.name).toArray
  private[cdc] val colTypes: Array[ColType] = cols.map(_.colType).toArray
  def sparkSchema: StructType =
    StructType(cols.map(c => StructField(c.name, c.colType.sparkType, nullable = true)))
}
