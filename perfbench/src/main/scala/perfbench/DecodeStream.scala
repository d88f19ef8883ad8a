package perfbench

import graft.cdc._
import java.io.ByteArrayOutputStream
import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.time.{Instant, LocalDate}
import java.util.SplittableRandom

/** One record the generator wrote, in the terms of the wire layout. Control
  * records keep their integer fields in `seq`/`txid`/`a`/`b`; row images
  * keep their column values. */
final case class Expected(number: Int, seq: Long, txid: Int, a: Long, b: Int,
                          values: IndexedSeq[Any])

/** Scheme-66 change streams over the all-types table, generated from a seed:
  * chunk `i` is a pure function of (seed, i), so the check pass regenerates
  * what the timed pass decoded instead of keeping it in memory. */
object AllTypesStream {
  val Tabid = 7
  val Tabname = "bench:informix.all_types"
  def registry: SchemaRegistry = SchemaRegistry(Map(Tabid -> Tabname))

  private val Letters = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 "
  private val Wide = Array("é", "ß", "中", "文", "ж", "€", "😀")

  private def text(r: SplittableRandom, maxLen: Int, wide: Boolean): String = {
    val n = r.nextInt(maxLen + 1)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (wide && r.nextInt(8) == 0) sb.append(Wide(r.nextInt(Wide.length)))
      else sb.append(Letters.charAt(r.nextInt(Letters.length)))
      i += 1
    }
    sb.toString
  }

  private def nonMin(r: SplittableRandom): Long = {
    val x = r.nextLong(); if (x == Long.MinValue) Long.MaxValue else x
  }

  /** One row of the 14 columns: about one value in ten is NULL, one in
    * twenty is the reference fixture's extreme default. */
  def values(r: SplittableRandom): IndexedSeq[Any] = {
    def pick(extreme: => Any, normal: => Any): Any = r.nextInt(20) match {
      case 0 | 1 => null
      case 2 => extreme
      case _ => normal
    }
    val neg = r.nextBoolean()
    def sgn[A](x: A)(negate: A => A): A = if (neg) negate(x) else x
    IndexedSeq(
      pick(9223372036854775807L, r.nextLong(1L, Long.MaxValue)),
      pick(sgn(9223372036854775807L)(-_), nonMin(r)),
      pick(sgn(9223372036854775807L)(-_), nonMin(r)),
      pick("I heart CDC".padTo(16, ' '), text(r, 16, wide = false).padTo(16, ' ')),
      pick(LocalDate.of(2024, 2, 29), LocalDate.of(1900, 1, 1).plusDays(r.nextInt(73000).toLong)),
      pick(Instant.parse("1999-12-31T23:59:59.999990Z"),
        Instant.ofEpochSecond(r.nextLong(-2208988800L, 4102444800L), r.nextInt(1000000) * 1000L)),
      pick(sgn(new JBigDecimal("1234567890123456.1234567890123456"))(_.negate),
        new JBigDecimal(new BigInteger(100, new java.util.Random(r.nextLong()))
          .mod(BigInteger.TEN.pow(32)), 16).multiply(if (neg) JBigDecimal.ONE.negate else JBigDecimal.ONE)),
      pick(sgn(99.99999999999999)(-_), (r.nextDouble() - 0.5) * 2e9),
      pick(sgn(2147483647)(-_), r.nextInt(Int.MinValue + 1, Int.MaxValue)),
      pick(sgn(99.99999999999999f)(-_), ((r.nextDouble() - 0.5) * 2e6).toFloat),
      pick(sgn(32767.toShort)(x => (-x).toShort), (r.nextInt(65535) - 32767).toShort),
      pick("I still love CDC", text(r, 60, wide = true)),
      pick("Almost as much as waffles", text(r, 200, wide = true)),
      pick(true, r.nextBoolean()))
  }

  /** The logical records of chunk `i`: its TABSCHEM, whole transactions of
    * every row-image kind (some rolled back, some with a DISCARD or
    * TRUNCATE), and a closing TIMEOUT heartbeat. Roughly `rows` images. */
  def chunk(seed: Long, i: Int, rows: Int): Vector[Expected] = {
    val r = new SplittableRandom(seed * 1000003L + i)
    val out = Vector.newBuilder[Expected]
    var seq = (i.toLong + 1) << 32
    def next(): Long = { seq += 1; seq }
    out += Expected(Wire.TABSCHEM, 0, 0, 0, 0, IndexedSeq.empty)
    var images = 0
    var txid = i * 100000
    while (images < rows) {
      txid += 1
      out += Expected(Wire.BEGIN, next(), txid, r.nextLong(0, 1L << 40), r.nextInt(1000), null)
      val n = 1 + r.nextInt(8)
      var k = 0
      while (k < n) {
        r.nextInt(10) match {
          case 0 | 1 | 2 | 3 | 4 =>
            out += Expected(Wire.INSERT, next(), txid, 0, 0, values(r))
          case 5 | 6 | 7 =>
            val v = values(r)
            out += Expected(Wire.UPDBEF, next(), txid, 0, 0, v)
            out += Expected(Wire.UPDAFT, next(), txid, 0, 0, values(r))
            images += 1
          case _ =>
            out += Expected(Wire.DELETE, next(), txid, 0, 0, values(r))
        }
        images += 1
        k += 1
      }
      r.nextInt(100) match {
        case 0 => out += Expected(Wire.DISCARD, next(), txid, 0, 0, null)
        case 1 => out += Expected(Wire.TRUNCATE, next(), txid, Tabid, 0, null)
        case _ =>
      }
      if (r.nextInt(10) == 0) out += Expected(Wire.ROLLBACK, next(), txid, 0, 0, null)
      else out += Expected(Wire.COMMIT, next(), txid, r.nextLong(0, 1L << 40), 0, null)
    }
    out += Expected(Wire.TIMEOUT, next(), 0, 0, 0, null)
    out.result()
  }

  def encode(recs: Seq[Expected]): Array[Byte] = {
    val out = new ByteArrayOutputStream(1 << 20)
    recs.foreach { e =>
      e.number match {
        case Wire.TABSCHEM => Wire.tabschem(out, Tabid, Wire.AllTypes)
        case Wire.BEGIN => Wire.begin(out, e.seq, e.txid, e.a, e.b)
        case Wire.COMMIT => Wire.commit(out, e.seq, e.txid, e.a)
        case Wire.ROLLBACK => Wire.rollback(out, e.seq, e.txid)
        case Wire.DISCARD => Wire.discard(out, e.seq, e.txid)
        case Wire.TRUNCATE => Wire.truncate(out, e.seq, e.txid, e.a.toInt)
        case Wire.TIMEOUT => Wire.timeout(out, e.seq)
        case n => Wire.row(out, n, e.seq, e.txid, Tabid, Wire.AllTypes, e.values)
      }
    }
    out.toByteArray
  }

  /** Split `bytes` into read-buffer-sized pieces, as the pull loop reads. */
  def pieces(bytes: Array[Byte], readSz: Int): Array[Array[Byte]] =
    bytes.grouped(readSz).toArray
}

object DecodeStream {
  val Chunks = 24
  val RowsPerChunk = 2000
  val WarmupSeconds = 5.0
  val WarmupSeed = 0L

  /** Decode one chunk file through a fresh [[FrameBuffer]], piece by piece
    * (the reference's pull loop); returns the records. */
  def decodeChunk(pieces: Array[Array[Byte]]): Vector[CdcRecord] = {
    val fb = new FrameBuffer(AllTypesStream.registry)
    val out = Vector.newBuilder[CdcRecord]
    pieces.foreach(p => out ++= fb.append(p))
    require(fb.pendingBytes == 0, s"${fb.pendingBytes} bytes left mid-frame")
    out.result()
  }

  /** The seed's stream: each chunk as read-size pieces. */
  def stream(seed: Long): Array[Array[Array[Byte]]] = (0 until Chunks).map { i =>
    AllTypesStream.pieces(AllTypesStream.encode(
      AllTypesStream.chunk(seed, i, RowsPerChunk)), CdcConfig().loReadSz)
  }.toArray

  /** The same loop, untimed, until the JIT has settled. It decodes a stream
    * of a fixed seed, so the profile the JIT compiles from is the same in
    * every run whatever `--seed` is. */
  private def warmUp(): Unit = {
    val warm = stream(WarmupSeed)
    val warmEnd = System.nanoTime() + (WarmupSeconds * 1e9).toLong
    while (System.nanoTime() < warmEnd) warm.foreach(decodeChunk)
  }

  def run(ctx: Ctx): Result = {
    val readSz = CdcConfig().loReadSz
    val chunks = stream(ctx.seed)
    val streamBytes = chunks.map(_.map(_.length.toLong).sum).sum
    warmUp()

    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val me = Thread.currentThread().getId
    val chunkS = Vector.newBuilder[Double]
    var records = 0L
    var passes = 0
    var busyNs = 0L
    var allocBytes = 0L
    ctx.startTimed()
    val gc0 = Main.gcSeconds()
    val t0 = System.nanoTime()
    val end = t0 + (ctx.seconds * 1e9).toLong
    while (System.nanoTime() < end) {            // whole passes only
      var c = 0
      while (c < chunks.length) {
        val a0 = if (ctx.trace) threads.getThreadAllocatedBytes(me) else 0L
        val s0 = System.nanoTime()
        val recs = Trace.span("cdc.decode_chunk")(decodeChunk(chunks(c)))
        val s1 = System.nanoTime()
        if (ctx.trace) allocBytes += threads.getThreadAllocatedBytes(me) - a0
        busyNs += s1 - s0
        chunkS += (s1 - s0) / 1e9
        records += recs.length
        c += 1
      }
      passes += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val gcS = Main.gcSeconds() - gc0
    val heap = Main.liveHeapMb()

    // Check: every decoded record equals what the encoder wrote. Each
    // timed pass decoded the same bytes, so a record wrong here was wrong
    // in every pass.
    val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val errors = (0 until Chunks).flatMap { i =>
      val exp = AllTypesStream.chunk(ctx.seed, i, RowsPerChunk)
      val got = decodeChunk(chunks(i))
      got.foreach(r => counts(Wire.RecordNames.getOrElse(r.recordNumber, "other")) += 1)
      Checks.decode(exp, got).map(e => s"chunk $i: $e")
    }
    val expectedRecords = (0 until Chunks).map(i =>
      AllTypesStream.chunk(ctx.seed, i, RowsPerChunk).length.toLong).sum
    val countOk = records == expectedRecords * passes
    val samples = chunkS.result()
    val info = Seq(
      f"decode_stream: $passes passes of $Chunks chunks, ${streamBytes / 1e6}%.1f MB and " +
        s"$expectedRecords records per pass, read size $readSz B",
      s"per-type records per pass: ${counts.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")}",
      s"chunk time: n=${samples.length} p50=${Main.median(samples)} " +
        Main.tail(samples).map { case (l, v) => s"$l=$v" }.getOrElse("")) ++
      errors.take(5).map("MISMATCH " + _) ++
      (if (countOk) Nil else Seq(s"MISMATCH record count $records != ${expectedRecords * passes}"))
    val perRecordType = Wire.RecordNames.values.map(n =>
      s"cdc.records.$n" -> (counts(n).toDouble, "count")).toMap
    Result(
      correct = errors.isEmpty && countOk,
      attempted = records,
      failed = math.min(records, errors.size.toLong * passes + (if (countOk) 0 else 1)),
      endToEnd = Map(
        "setup_s" -> (ctx.setup, "s"),
        "throughput" -> (records / wall, "items/s"),
        "batch_p50_s" -> (Main.median(samples), "s"),
        "live_heap_mb" -> (heap, "MB")),
      perLayer = Layers.empty ++ perRecordType ++ Map(
        "cdc.decode_busy_s" -> (busyNs / 1e9 / passes, "s/pass"),
        "cdc.alloc_bytes_per_record" -> (allocBytes.toDouble / records, "B/record"),
        "cdc.gc_s" -> (gcS / passes, "s/pass")),
      info = info)
  }
}
