package graft.operators

import graft.Tables
import graft.cdc._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-checked queries for the CDC binary codec (SURVEY.md §2.a rows
  * 8-10, 26 — frame parser, column decoder, row decoder, byte readers).
  *
  * The reference has no committed golden stream (its `tests/` fixture is
  * record-mode output, not in the repo), so the testable contract is
  * encode→decode identity: every lineitem row is encoded into a scheme-66
  * INSERT/DELETE/UPDBEF/UPDAFT frame and decoded back ON THE EXECUTORS
  * (plain `Dataset.map`, no collect), and the decoded table must hash-match
  * a straight SQL projection of the source — DuckDB never sees the binary,
  * so any codec asymmetry (endianness, NULL sentinels, BCD packing, the
  * DECIMAL/DATETIME paths the reference disabled) breaks the oracle.
  *
  * Scale: the codec is a per-row map between two scans — no shuffle, fully
  * pipelined inside whole-stage codegen's mapelements stage. The schema
  * registry here is pre-built from the capture-registration DDL (the
  * `enable()` path, ec:1994-2077) and ships in the task closure — the
  * in-band TABSCHEM discovery path is exercised by the streaming pipeline
  * (per-segment schema frames) and the codec specs.
  */
object CodecQueries {

  /** The all-types capture table, mirroring the reference's type-coverage
    * fixture (sql/informixcdc_test.sql:7-28): every wire type appears. */
  val AllTypesDdl: String =
    "v_serial8 serial8, v_int8 int8, v_bigint bigint, v_int integer, " +
      "v_smallint smallint, v_char char(20), v_varchar varchar(255, 16), " +
      "v_lvarchar lvarchar(256), v_date date, " +
      "v_datetime datetime year to fraction, v_decimal decimal(32,16), " +
      "v_float float, v_smallfloat smallfloat, v_bool boolean"

  val AllTypesSchema: TableSchema = DdlParser.parse(7, "informixcdc_test", AllTypesDdl)

  /** Decoded row envelope (seq/txid/type tag + the 14 typed columns).
    *
    * Nullable fields are java boxed / java.time values, NOT Options or
    * java.sql dates: the encoder then writes each field with a single
    * null-check and no wrapper allocation, keeps the map inside the
    * codegen'd serializer, and skips java.sql.Date/Timestamp's
    * calendar-based conversions (LocalDate is epoch-day arithmetic,
    * Instant is epoch-micros). v_decimal is converted to double inside
    * the map — the oracle compares doubles anyway, and it avoids a
    * Decimal(38,18) encode + downstream cast entirely. */
  final case class DecodedRow(
      seq_number: Long, transaction_id: Int, record_type: String,
      v_serial8: java.lang.Long, v_int8: java.lang.Long,
      v_bigint: java.lang.Long, v_int: java.lang.Integer,
      v_smallint: java.lang.Short, v_char: String,
      v_varchar: String, v_lvarchar: String,
      v_date: java.time.LocalDate, v_datetime: java.time.Instant,
      v_decimal: java.lang.Double, v_float: java.lang.Double,
      v_smallfloat: java.lang.Float, v_bool: java.lang.Boolean)

  /** Typed source projection; l_linenumber == 7 rows go NULL in several
    * columns to exercise every NULL sentinel path. */
  private def srcProjection(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      (col("l_orderkey") * 8 + col("l_linenumber")).as("seq"),
      (col("l_orderkey") % 1000).cast("int").as("txid"),
      (col("l_linenumber") % 4).cast("int").as("op"),
      col("l_orderkey").as("v_serial8"),
      (-col("l_partkey")).as("v_int8"),
      col("l_partkey").as("v_bigint"),
      when(col("l_linenumber") === 7, lit(null))
        .otherwise(col("l_suppkey").cast("int")).as("v_int"),
      col("l_linenumber").cast("smallint").as("v_smallint"),
      concat(col("l_returnflag"), col("l_linestatus")).as("v_char"),
      when(col("l_linenumber") === 7, lit(null))
        .otherwise(concat_ws("_", col("l_returnflag"), col("l_linestatus")))
        .as("v_varchar"),
      concat(lit("order_"), col("l_orderkey")).as("v_lvarchar"),
      col("l_shipdate").cast("date").as("v_date"),
      when(col("l_linenumber") === 7, lit(null))
        .otherwise(col("l_shipdate")).as("v_datetime"),
      when(col("l_linenumber") === 7, lit(null))
        .otherwise(col("l_quantity").cast("decimal(32,16)")).as("v_decimal"),
      col("l_extendedprice").as("v_float"),
      col("l_discount").cast("float").as("v_smallfloat"),
      when(col("l_linenumber") === 7, lit(null))
        .otherwise(col("l_returnflag") === "R").as("v_bool"))

  private def qCdcRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val schema = AllTypesSchema
    val src = srcProjection(s, d)
    // Executor-side encode→decode in one pipelined map: row → complete wire
    // frame → decoded envelope (a single mapelements stage inside
    // whole-stage codegen; no intermediate dataset serialization).
    val registry = SchemaRegistry(Map(7 -> "informixcdc_test"),
      Map(7 -> schema))
    val decoded = Tables.spread(s, src).map { row =>
      val values: IndexedSeq[Any] =
        (3 until row.length).map(i => if (row.isNullAt(i)) null else row.get(i))
      val bytes = CdcCodec.encodeRowFrame(CdcRecords.INSERT + row.getInt(2),
        schema, row.getLong(0), row.getInt(1), 0, values)
      val r = CdcCodec.decodeFrame(bytes, registry).asInstanceOf[RowImage]
      def v[T](i: Int): T = r.columns(i).value.asInstanceOf[T]
      val dec = v[java.math.BigDecimal](10)
      DecodedRow(r.seqNumber, r.transactionId, r.recordType,
        v(0), v(1), v(2), v(3), v(4),
        v(5), v(6), v(7), v(8), v(9),
        if (dec == null) null else java.lang.Double.valueOf(dec.doubleValue),
        v(11), v(12), v(13))
    }

    // Decimal → double at the output edge only (oracle-parity convention,
    // RelationalQueries header); the BCD wire path above ran at full
    // (32,16) precision — doubleValue on the exact decoded value equals
    // the former Decimal(32,16)→double cast bit for bit.
    // (seq, v_bigint, v_float) ⇔ (orderkey, linenumber, partkey,
    // extendedprice) is verified unique at every SF — a TOTAL order, so the
    // hash compare cannot depend on partitioning (seq alone ties: the
    // synthetic lineitem repeats (orderkey, linenumber) pairs).
    decoded.toDF()
      .orderBy(col("seq_number"), col("v_bigint"), col("v_float"))
  }

  // ------------------------------------------------- schema evolution

  val EvolveTabid = 9
  val EvolveV1Ddl: String = "k int, nm varchar(64), price smallfloat"
  val EvolveV2Ddl: String = EvolveV1Ddl + ", extra bigint"
  /** v3 REPLACES wholesale: DROPS `nm` and WIDENS `k` int→bigint and
    * `price` smallfloat→float — the evolution modes that break a naive
    * decoder keyed on column count or cached offsets. */
  val EvolveV3Ddl: String = "k bigint, price float, extra bigint"
  val EvolveV1: TableSchema = DdlParser.parse(EvolveTabid, "evolve_test", EvolveV1Ddl)
  val EvolveV2: TableSchema = DdlParser.parse(EvolveTabid, "evolve_test", EvolveV2Ddl)
  val EvolveV3: TableSchema = DdlParser.parse(EvolveTabid, "evolve_test", EvolveV3Ddl)

  final case class EvolvedRow(segment: Int, seq_number: Long, n_cols: Int,
      k: java.lang.Long, nm: String, price: java.lang.Double,
      extra: java.lang.Long)

  /** In-band schema EVOLUTION under the oracle gate (r11, extended r13):
    * the registrar's UPDATE path (add_tabschema re-registering a tabid,
    * ec:1722-1804) driven through the stateful [[FrameBuffer]] walk. The
    * reference registrar REPLACES the schema wholesale on
    * re-registration (drop + re-describe), so ALL evolution modes arrive
    * the same way — and this query now exercises the three that matter:
    * each segment's byte stream is v1-TABSCHEM → 3-column rows →
    * v2-TABSCHEM (ADD COLUMN `extra`) → 4-column rows → v3-TABSCHEM
    * (DROP COLUMN `nm`, WIDEN `k` int→bigint and `price`
    * smallfloat→float — a SMALLER, retyped layout) → 3-column rows,
    * with rows decoding under whichever version is in force at their
    * position. Decoded arity (`n_cols`), the added column's
    * null-before/value-after shape, the dropped column's
    * value-before/null-after shape, and the float32-vs-float64 price
    * values on either side of the widen are what the oracle checks —
    * a registrar that failed to re-register, applied a version
    * retroactively, or kept stale column offsets breaks the hash.
    * Decode extraction is BY NAME (the only stable identity across
    * versions), normalizing narrow decoded values up (int→long,
    * float→double is exact in IEEE).
    *
    * Scale shape: segments decode INDEPENDENTLY on the executors
    * (`flatMapGroups` — each group is one bounded chunk of the stream,
    * the reference's segment size, so group state is O(chunk)); the
    * registry is per-segment walk state, exactly as the pull loop holds
    * it. No shuffle after the group exchange; output order is the
    * roundtrip query's (seq, k, price) key — verified unique at every
    * SF including under the v1/v2 float32 price rounding. */
  private def qSchemaEvolve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val src = Tables.lineitem(s, d).select(
      (col("l_orderkey") % 64).cast("int").as("segment"),
      (col("l_orderkey") * 8 + col("l_linenumber")).as("seq"),
      when(col("l_linenumber") <= 2, 1)
        .when(col("l_linenumber") <= 4, 2).otherwise(3).as("phase"),
      col("l_partkey").as("k"),
      concat_ws("_", col("l_returnflag"), col("l_linestatus")).as("nm"),
      col("l_extendedprice").as("price"),
      col("l_suppkey").as("extra"))
    val names = Map(EvolveTabid -> "evolve_test")
    Tables.spread(s, src)
      .as[(Int, Long, Int, Long, String, Double, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (seg, it) =>
        val rows = it.toArray
        val out = new java.io.ByteArrayOutputStream()
        out.write(CdcCodec.encodeFrame(
          TabSchema(EvolveTabid, 0, 8, 2, 1, EvolveV1Ddl)))
        rows.filter(_._3 == 1).sortBy(t => (t._2, t._4, t._6)).foreach { t =>
          out.write(CdcCodec.encodeRowFrame(CdcRecords.INSERT, EvolveV1,
            t._2, seg, 0, IndexedSeq(t._4.toInt, t._5, t._6.toFloat)))
        }
        out.write(CdcCodec.encodeFrame(
          TabSchema(EvolveTabid, 0, 16, 3, 1, EvolveV2Ddl)))
        rows.filter(_._3 == 2).sortBy(t => (t._2, t._4, t._6)).foreach { t =>
          out.write(CdcCodec.encodeRowFrame(CdcRecords.INSERT, EvolveV2,
            t._2, seg, 0, IndexedSeq(t._4.toInt, t._5, t._6.toFloat, t._7)))
        }
        out.write(CdcCodec.encodeFrame(
          TabSchema(EvolveTabid, 0, 24, 3, 0, EvolveV3Ddl)))
        rows.filter(_._3 == 3).sortBy(t => (t._2, t._4, t._6)).foreach { t =>
          out.write(CdcCodec.encodeRowFrame(CdcRecords.INSERT, EvolveV3,
            t._2, seg, 0, IndexedSeq[Any](t._4, t._6, t._7)))
        }
        val fb = new FrameBuffer(SchemaRegistry(names))
        val recs = fb.append(out.toByteArray)
        require(fb.pendingBytes == 0, "evolve segment ends mid-frame")
        recs.iterator.collect { case r: RowImage =>
          val byName = r.columns.map(c => c.name -> c.value).toMap
          val kL: java.lang.Long = byName("k") match {
            case null => null
            case i: java.lang.Integer => java.lang.Long.valueOf(i.longValue)
            case l: java.lang.Long => l
          }
          val priceD: java.lang.Double = byName("price") match {
            case null => null
            case f: java.lang.Float => java.lang.Double.valueOf(f.doubleValue)
            case d: java.lang.Double => d
          }
          EvolvedRow(seg, r.seqNumber, r.columns.length, kL,
            byName.getOrElse("nm", null).asInstanceOf[String], priceD,
            byName.getOrElse("extra", null).asInstanceOf[java.lang.Long])
        }
      }
      .toDF()
      .orderBy(col("seq_number"), col("k"), col("price"), col("segment"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cdc_roundtrip" -> qCdcRoundtrip _,
    "q_schema_evolve" -> qSchemaEvolve _
  )

  val oracle: Map[String, String] = Map(
    "q_schema_evolve" ->
      """SELECT CAST(l_orderkey % 64 AS integer) AS segment,
        |       l_orderkey * 8 + l_linenumber AS seq_number,
        |       CASE WHEN l_linenumber <= 2 THEN 3
        |            WHEN l_linenumber <= 4 THEN 4 ELSE 3 END AS n_cols,
        |       l_partkey AS k,
        |       CASE WHEN l_linenumber <= 4
        |            THEN l_returnflag || '_' || l_linestatus END AS nm,
        |       CASE WHEN l_linenumber <= 4
        |            THEN CAST(CAST(l_extendedprice AS REAL) AS DOUBLE)
        |            ELSE l_extendedprice END AS price,
        |       CASE WHEN l_linenumber <= 2 THEN NULL ELSE l_suppkey END AS extra
        |FROM lineitem
        |ORDER BY seq_number, k, price, segment""".stripMargin,
    "q_cdc_roundtrip" ->
      """SELECT l_orderkey * 8 + l_linenumber AS seq_number,
        |       CAST(l_orderkey % 1000 AS integer) AS transaction_id,
        |       CASE l_linenumber % 4 WHEN 0 THEN 'CDC_REC_INSERT'
        |            WHEN 1 THEN 'CDC_REC_DELETE' WHEN 2 THEN 'CDC_REC_UPDBEF'
        |            ELSE 'CDC_REC_UPDAFT' END AS record_type,
        |       l_orderkey AS v_serial8,
        |       -l_partkey AS v_int8,
        |       l_partkey AS v_bigint,
        |       CASE WHEN l_linenumber = 7 THEN NULL
        |            ELSE CAST(l_suppkey AS integer) END AS v_int,
        |       CAST(l_linenumber AS smallint) AS v_smallint,
        |       rpad(l_returnflag || l_linestatus, 20, ' ') AS v_char,
        |       CASE WHEN l_linenumber = 7 THEN NULL
        |            ELSE l_returnflag || '_' || l_linestatus END AS v_varchar,
        |       'order_' || l_orderkey AS v_lvarchar,
        |       CAST(l_shipdate AS DATE) AS v_date,
        |       CASE WHEN l_linenumber = 7 THEN NULL
        |            ELSE CAST(l_shipdate AS TIMESTAMP) END AS v_datetime,
        |       CASE WHEN l_linenumber = 7 THEN NULL
        |            ELSE CAST(CAST(l_quantity AS DECIMAL(32,16)) AS DOUBLE)
        |            END AS v_decimal,
        |       l_extendedprice AS v_float,
        |       CAST(l_discount AS REAL) AS v_smallfloat,
        |       CASE WHEN l_linenumber = 7 THEN NULL
        |            ELSE l_returnflag = 'R' END AS v_bool
        |FROM lineitem ORDER BY seq_number, v_bigint, v_float""".stripMargin
  )
}
