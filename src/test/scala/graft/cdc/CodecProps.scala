package graft.cdc

import org.scalacheck.{Arbitrary, Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property tests for the binary codec (SURVEY.md §5: decoder round-trip =
  * identity, over arbitrary schemas, values, NULLs, and chunk boundaries). */
object CodecProps extends Properties("CdcCodec") {

  // --------------------------------------------------------- value generators

  private val genColType: Gen[ColType] = Gen.oneOf(
    Gen.const(ColType.Int2), Gen.const(ColType.Int4), Gen.const(ColType.Bigint),
    Gen.const(ColType.Int8), Gen.const(ColType.DateDay), Gen.const(ColType.Bool),
    Gen.choose(1, 24).map(ColType.Char(_)), Gen.const(ColType.Varchar),
    Gen.const(ColType.Lvarchar), Gen.const(ColType.Float8),
    Gen.const(ColType.Float4),
    // every precision Spark's DecimalType admits: up to 18 digits decode
    // through one long, wider ones through 128 bits
    Gen.choose(1, 38).flatMap(p => Gen.choose(0, p).map(ColType.Dec(p, _))),
    Gen.const(ColType.DTime))

  /** Text of 0–20 code points of every UTF-8 width: ASCII letters and
    * digits, and 2-, 3- and 4-byte code points (a 4-byte one is a
    * surrogate pair in the String). Lone surrogates, which UTF-8 cannot
    * carry, and U+0000, the NULL sentinel's byte, are never drawn. */
  private val utf8Text: Gen[String] = {
    val codePoint = Gen.frequency(
      4 -> Gen.alphaNumChar.map(_.toInt),
      2 -> Gen.choose(0x80, 0x7ff),
      2 -> Gen.oneOf(Gen.choose(0x800, 0xd7ff), Gen.choose(0xe000, 0xfffd)),
      1 -> Gen.choose(0x10000, 0x10ffff))
    Gen.chooseNum(0, 20).flatMap(n => Gen.listOfN(n, codePoint))
      .map(cps => new String(cps.toArray, 0, cps.length))
  }

  /** DECIMAL(p,s) at full precision: an unscaled value of 0 to p digits
    * (so zero, and both sides of 18 digits), either sign, the extremes
    * ±(10^p − 1), and the values at the edges of one and two longs
    * (2^64 needs the carry out of the low long). */
  private def genDecimal(p: Int, s: Int): Gen[java.math.BigDecimal] = {
    import java.math.BigInteger.{ONE, TEN}
    val top = TEN.pow(p).subtract(ONE)
    val edges = Seq(TEN.pow(18).subtract(ONE), TEN.pow(18),
        ONE.shiftLeft(63).subtract(ONE), ONE.shiftLeft(63),
        ONE.shiftLeft(64).subtract(ONE), ONE.shiftLeft(64))
      .filter(_.compareTo(top) <= 0)
    val unscaled = Gen.frequency(
      6 -> Gen.zip(Gen.choose(0, p), Arbitrary.arbitrary[Long]).map {
        case (digits, seed) =>
          new java.math.BigInteger(4 * digits + 8, new java.util.Random(seed))
            .mod(TEN.pow(digits))
      },
      2 -> Gen.oneOf(top +: edges))
    Gen.zip(unscaled, Arbitrary.arbitrary[Boolean]).map { case (u, neg) =>
      new java.math.BigDecimal(if (neg) u.negate else u, s)
    }
  }

  /** A value of the given type, or null (~1 in 5). */
  private def genValue(t: ColType): Gen[Any] = {
    val nonNull: Gen[Any] = t match {
      case ColType.Int2 => Arbitrary.arbitrary[Short]
        .suchThat(_ != CdcCodec.NullInt2).map(x => x: Any)
      case ColType.Int4 => Arbitrary.arbitrary[Int]
        .suchThat(_ != CdcCodec.NullInt4).map(x => x: Any)
      case ColType.Bigint => Arbitrary.arbitrary[Long]
        .suchThat(_ != CdcCodec.NullInt8).map(x => x: Any)
      case ColType.Int8 => Arbitrary.arbitrary[Long]
        .suchThat(_ != Long.MinValue).map(x => x: Any)
      case ColType.DateDay => Gen.choose(-100000L, 100000L)
        .map(d => java.time.LocalDate.ofEpochDay(d): Any)
      case ColType.Bool => Arbitrary.arbitrary[Boolean].map(x => x: Any)
      case ColType.Char(n) =>
        Gen.chooseNum(0, n).flatMap(k =>
          Gen.listOfN(k, Gen.alphaNumChar).map(_.mkString)).map(x => x: Any)
      case ColType.Varchar | ColType.Lvarchar => utf8Text.map(x => x: Any)
      case ColType.Float8 => Arbitrary.arbitrary[Double]
        .suchThat(d => !d.isNaN).map(x => x: Any)
      case ColType.Float4 => Arbitrary.arbitrary[Float]
        .suchThat(f => !f.isNaN).map(x => x: Any)
      case ColType.Dec(p, s) => genDecimal(p, s).map(x => x: Any)
      case ColType.DTime =>
        Gen.choose(0L, 4102444800000000L) // micros up to year 2100
          .map(us => java.time.Instant.EPOCH
            .plus(us, java.time.temporal.ChronoUnit.MICROS): Any)
    }
    Gen.frequency(4 -> nonNull, 1 -> Gen.const(null: Any))
  }

  private val genSchema: Gen[TableSchema] =
    Gen.chooseNum(1, 12).flatMap { n =>
      Gen.listOfN(n, genColType).map { ts =>
        TableSchema(3, "t_prop",
          ts.zipWithIndex.map { case (t, i) => ColSpec(s"c$i", t) }.toIndexedSeq)
      }
    }

  private val genRow: Gen[(TableSchema, IndexedSeq[Any])] =
    genSchema.flatMap(sch =>
      Gen.sequence[IndexedSeq[Any], Any](sch.cols.map(c => genValue(c.colType)))
        .map(vs => (sch, vs)))

  /** A decoded value against the written one. CHAR decode keeps blank
    * padding (ec:899-913), so it is trimmed first; a DECIMAL must be
    * `BigDecimal.equals` to the written one, which compares the scale too. */
  private def same(t: ColType, got: Any, want: Any): Boolean = (t, got) match {
    case (ColType.Char(_), s: String) => s.reverse.dropWhile(_ == ' ').reverse == want
    case (ColType.Dec(_, sc), d: java.math.BigDecimal) => d.scale == sc && d.equals(want)
    case _ => got == want
  }

  // --------------------------------------------------------------- properties

  property("row encode→decode is identity (schema-random)") = forAll(genRow) {
    case (schema, values) =>
      val reg = SchemaRegistry(Map(3 -> "t_prop"), Map(3 -> schema))
      val frame = CdcCodec.encodeRowFrame(CdcRecords.INSERT, schema, 42L, 7, 0, values)
      val (recs, _) = CdcCodec.decodeAll(frame, reg)
      val img = recs.head.asInstanceOf[RowImage]
      val ok = img.seqNumber == 42L && img.transactionId == 7 &&
        img.columns.map(_.name) == schema.cols.map(_.name) &&
        schema.cols.zip(img.columns.map(_.value)).zip(values).forall {
          case ((spec, got), want) => same(spec.colType, got, want)
        }
      if (!ok) println(s"schema=$schema\nwant=$values\ngot =${img.columns.map(_.value)}")
      ok
  }

  property("control records encode→decode is identity") = {
    val genControl: Gen[CdcRecord] = Gen.oneOf(
      Gen.zip(Gen.posNum[Long], Gen.posNum[Int], Gen.posNum[Long], Gen.posNum[Int])
        .map { case (s, t, st, u) => BeginTx(s, t, st, u) },
      Gen.zip(Gen.posNum[Long], Gen.posNum[Int], Gen.posNum[Long])
        .map { case (s, t, c) => CommitTx(s, t, c) },
      Gen.zip(Gen.posNum[Long], Gen.posNum[Int]).map { case (s, t) => RollbackTx(s, t) },
      Gen.zip(Gen.posNum[Long], Gen.posNum[Int]).map { case (s, t) => DiscardTx(s, t) },
      Gen.zip(Gen.posNum[Long], Gen.posNum[Int], Gen.posNum[Int])
        .map { case (s, t, tb) => TruncateTab(s, t, tb) },
      Gen.posNum[Long].map(TimeoutBeat(_)),
      Gen.const(ErrorRecord))
    forAll(genControl) { rec =>
      val (recs, _) = CdcCodec.decodeAll(CdcCodec.encodeFrame(rec),
        SchemaRegistry(Map.empty))
      recs == Vector(rec)
    }
  }

  private val genStream: Gen[(TableSchema, List[IndexedSeq[Any]])] =
    genSchema.flatMap { sch =>
      Gen.listOfN(6,
        Gen.sequence[IndexedSeq[Any], Any](sch.cols.map(c => genValue(c.colType))))
        .map(rows => (sch, rows))
    }

  property("FrameBuffer reassembles frames across arbitrary chunk splits") =
    forAll(genStream, Gen.choose(1L, Long.MaxValue)) { case ((schema, values), seed) =>
      // Schema announced in-band via TABSCHEM, then the row frames —
      // delivered in pseudo-random partial chunks (the ifx_lo_read model,
      // ec:2334-2346).
      val ddl = schema.cols.map(c => s"${c.name} ${ddlOf(c.colType)}").mkString(", ")
      val stream = new java.io.ByteArrayOutputStream()
      stream.write(CdcCodec.encodeFrame(TabSchema(3, 0, 0,
        schema.cols.count(!_.colType.isVarLen), schema.numVarCols, ddl)))
      values.zipWithIndex.foreach { case (vs, i) =>
        stream.write(CdcCodec.encodeRowFrame(CdcRecords.UPDAFT, schema,
          100L + i, 1, 0, vs))
      }
      val bytes = stream.toByteArray
      // Anywhere from no cut to a cut after every byte: whole frames,
      // single-byte pieces, and frames spanning many appends, which grow
      // the buffer and refill it from its head.
      val rnd = new scala.util.Random(seed)
      val cuts = rnd.shuffle((1 until bytes.length).toVector)
        .take(rnd.nextInt(bytes.length))
      val bounds = (0 +: cuts :+ bytes.length).sorted
      val fb = new FrameBuffer(SchemaRegistry(Map(3 -> "t_prop")))
      val got = bounds.sliding(2).flatMap { case Seq(a, b) =>
        val piece = java.util.Arrays.copyOfRange(bytes, a, b)
        val recs = fb.append(piece)
        // the caller may reuse its read buffer once append returns
        java.util.Arrays.fill(piece, 0xff.toByte)
        recs
      }.toVector
      fb.pendingBytes == 0 && got.length == 1 + values.length &&
        got.head.isInstanceOf[TabSchema] &&
        got.tail.zipWithIndex.forall { case (r, i) =>
          val img = r.asInstanceOf[RowImage]
          img.seqNumber == 100L + i &&
            schema.cols.zip(img.columns.map(_.value)).zip(values(i)).forall {
              case ((spec, g), w) => same(spec.colType, g, w)
            }
        }
    }

  property("re-registration REPLACES wholesale (schema-random evolution)") =
    forAll(genRow, genRow) { case ((s1, v1), (s2, v2)) =>
      // The same tabid re-registers with an UNRELATED random schema
      // mid-stream (the registrar's drop-and-redescribe, ec:1722-1804):
      // each row must decode under the version in force at its position,
      // for ANY pair of layouts — every add/drop/retype/reorder/width
      // change is a special case of this.
      def tab(sch: TableSchema) = TabSchema(3, 0, 0,
        sch.cols.count(!_.colType.isVarLen), sch.numVarCols,
        sch.cols.map(c => s"${c.name} ${ddlOf(c.colType)}").mkString(", "))
      val out = new java.io.ByteArrayOutputStream()
      out.write(CdcCodec.encodeFrame(tab(s1)))
      out.write(CdcCodec.encodeRowFrame(CdcRecords.INSERT, s1, 1L, 1, 0, v1))
      out.write(CdcCodec.encodeFrame(tab(s2)))
      out.write(CdcCodec.encodeRowFrame(CdcRecords.INSERT, s2, 2L, 1, 0, v2))
      val (recs, reg) = CdcCodec.decodeAll(out.toByteArray,
        SchemaRegistry(Map(3 -> "t_prop")))
      val rows = recs.collect { case r: RowImage => r }
      rows.length == 2 &&
        s1.cols.zip(rows(0).columns.map(_.value)).zip(v1).forall {
          case ((spec, g), w) => same(spec.colType, g, w) } &&
        s2.cols.zip(rows(1).columns.map(_.value)).zip(v2).forall {
          case ((spec, g), w) => same(spec.colType, g, w) } &&
        reg(3).cols == s2.cols // v1 is gone, not merged
    }

  private def ddlOf(t: ColType): String = t match {
    case ColType.Int2 => "smallint"
    case ColType.Int4 => "integer"
    case ColType.Bigint => "bigint"
    case ColType.Int8 => "int8"
    case ColType.DateDay => "date"
    case ColType.Bool => "boolean"
    case ColType.Char(n) => s"char($n)"
    case ColType.Varchar => "varchar(255)"
    case ColType.Lvarchar => "lvarchar(2048)"
    case ColType.Float8 => "float"
    case ColType.Float4 => "smallfloat"
    case ColType.Dec(p, s) => s"decimal($p,$s)"
    case ColType.DTime => "datetime year to fraction"
  }

  property("DDL parse of generated schema matches the schema") =
    forAll(genSchema) { schema =>
      val ddl = schema.cols.map(c => s"${c.name} ${ddlOf(c.colType)}").mkString(", ")
      DdlParser.parse(3, "t_prop", ddl).cols == schema.cols
    }
}
