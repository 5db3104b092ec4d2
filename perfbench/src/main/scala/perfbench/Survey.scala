package perfbench

import java.io.{File, RandomAccessFile}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.StandardOpenOption

/** A seeded, synthetic 3-D post-stack survey written as standard rev-1
  * SEG-Y with format-1 IBM32 samples. Every amplitude follows a closed form,
  * so any trace, slice or statistic can be checked without reading the file.
  *
  * Amplitude of sample `j` at (il, xl) is `m(il, xl, j) / 8` where `m` is an
  * integer with |m| < 2^19. Such values have at most 20 significant bits and
  * at most three binary fraction digits, so they are exact in IBM32, IEEE
  * float32 and the DECIMAL(28, 6) accumulators the ingest statistics use.
  * `m` is a triangle-wave wavelet under an (il, xl) envelope plus 12 bits of
  * hashed noise: a real survey's entropy, not a periodic pattern that
  * compresses 50x.
  *
  * A seeded share of the grid's cells is dead: those traces are absent from
  * the file, so the grid is sparse and grid QC has real work to do.
  *
  * The file is written by this class's own IBM encoder; no library code
  * takes part, so reading it back is never a self-roundtrip.
  */
final class Survey(val seed: Long, val nIl: Int, val nXl: Int, val ns: Int,
                   val deadPerMille: Int = 100) {
  val il0 = 1000
  val xl0 = 2000
  val sampleIntervalUs = 2000
  val traceBytes: Int = 240 + 4 * ns

  def dead(il: Int, xl: Int): Boolean =
    java.lang.Long.remainderUnsigned(
      Survey.mix(seed * 0x632BE59BD9B4E019L + il * 0x9E3779B97F4A7C15L +
        xl * 0xC2B2AE3D27D4EB4FL + 0x165667B19E3779F9L), 1000) < deadPerMille

  def live(il: Int, xl: Int): Boolean = !dead(il, xl)

  /** The closed form, as the integer numerator of amplitude / 8. */
  def m(il: Int, xl: Int, j: Int): Int = {
    val h = Survey.mix(seed * 0x632BE59BD9B4E019L + il * 0x9E3779B97F4A7C15L +
      xl * 0xC2B2AE3D27D4EB4FL + j * 0xD6E8FEB86659FD93L)
    val noise = (h >>> 52).toInt - 2048
    val phase = (j * 7 + il * 3 + xl * 5 + (seed & 1023).toInt) & 1023
    val tri = math.abs(phase - 512) - 256
    val env = 512 + ((il + xl) & 511)
    tri * env + noise
  }

  def amplitude(il: Int, xl: Int, j: Int): Float = m(il, xl, j) / 8.0f

  /** Live cells in file order (inline-major), with their trace index. */
  lazy val liveCells: Array[Long] = {
    val b = Array.newBuilder[Long]
    var il = il0
    while (il < il0 + nIl) {
      var xl = xl0
      while (xl < xl0 + nXl) {
        if (live(il, xl)) b += (il.toLong << 32) | xl
        xl += 1
      }
      il += 1
    }
    b.result()
  }

  lazy val traceIndex: Map[(Int, Int), Int] =
    liveCells.zipWithIndex.map { case (c, i) => ((c >>> 32).toInt, c.toInt) -> i }.toMap

  def nLive: Int = liveCells.length
  def fileBytes: Long = 3600L + nLive.toLong * traceBytes

  /** Exact ingest statistics over the non-zero samples, as the library's
    * sidecar records them: count, sum and sum of squares of the decimal
    * amplitudes, min and max. Sums are exact decimals converted once. */
  lazy val stats: Survey.Stats = {
    var n = 0L; var sum = 0L; var sumSq = BigInt(0); var lo = Int.MaxValue; var hi = Int.MinValue
    var sq = 0L // batched to stay inside Long
    liveCells.foreach { c =>
      val il = (c >>> 32).toInt; val xl = c.toInt
      var j = 0
      while (j < ns) {
        val v = m(il, xl, j)
        if (v != 0) {
          n += 1; sum += v; sq += v.toLong * v
          if (v < lo) lo = v
          if (v > hi) hi = v
        }
        j += 1
      }
      sumSq += sq; sq = 0L
    }
    Survey.Stats(n,
      (BigDecimal(sum) / 8).toDouble,
      (BigDecimal(sumSq) / 64).toDouble,
      lo / 8.0, hi / 8.0)
  }

  /** Write the survey; returns the file's size in bytes. */
  def write(file: File): Long = {
    val ch = FileChannel.open(file.toPath, StandardOpenOption.CREATE,
      StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
    try {
      val head = ByteBuffer.allocate(3600)
      head.put(Survey.textHeader(
        Seq(s"C 1 PERFBENCH SYNTHETIC SURVEY SEED $seed",
          s"C 2 $nIl INLINES X $nXl CROSSLINES X $ns SAMPLES FORMAT 1 IBM32",
          s"C 3 DEAD TRACES PER MILLE $deadPerMille ABSENT FROM FILE")))
      head.putShort(3200 + 16, sampleIntervalUs.toShort)
      head.putShort(3200 + 20, ns.toShort)
      head.putShort(3200 + 24, 1.toShort) // format 1: IBM32
      head.putShort(3200 + 300, 0x0100.toShort) // revision 1.0
      head.putShort(3200 + 302, 1.toShort) // fixed-length traces
      head.position(3600); head.flip()
      ch.write(head)
      val buf = ByteBuffer.allocate(traceBytes * math.max(1, nXl))
      var seq = 0
      var il = il0
      while (il < il0 + nIl) {
        buf.clear()
        var xl = xl0
        while (xl < xl0 + nXl) {
          if (live(il, xl)) {
            seq += 1
            val base = buf.position()
            buf.put(new Array[Byte](240))
            buf.putInt(base + 0, seq)
            buf.putShort(base + 28, 1.toShort) // trace id: live
            buf.putShort(base + 114, ns.toShort)
            buf.putShort(base + 116, sampleIntervalUs.toShort)
            buf.putInt(base + 188, il)
            buf.putInt(base + 192, xl)
            var j = 0
            while (j < ns) { buf.putInt(Survey.ibm(m(il, xl, j))); j += 1 }
          }
          xl += 1
        }
        buf.flip()
        while (buf.hasRemaining) ch.write(buf)
        il += 1
      }
    } finally ch.close()
    val len = file.length()
    require(len == fileBytes, s"survey file is $len bytes, expected $fileBytes")
    len
  }

  /** Order-independent checksum of a set of traces restricted to samples
    * [j0, j0 + n): the same function the slice check applies to rows. */
  def expectedChecksum(cells: Iterable[(Int, Int)], j0: Int, n: Int): (Long, Long) = {
    var rows = 0L; var sum = 0L
    cells.foreach { case (il, xl) =>
      if (live(il, xl)) {
        rows += 1
        sum += Survey.traceChecksum(il, xl, (j0 until j0 + n).map(amplitude(il, xl, _)))
      }
    }
    (rows, sum)
  }

  /** Read trace `t` (0-based, file order) of `file`, a SEG-Y file laid out
    * like this survey: (inline, crossline, payload bytes). */
  def readTrace(raf: RandomAccessFile, t: Long): (Int, Int, Array[Byte]) = {
    val off = 3600L + t * traceBytes
    raf.seek(off + 188)
    val il = raf.readInt(); val xl = raf.readInt()
    val p = new Array[Byte](4 * ns)
    raf.seek(off + 240); raf.readFully(p)
    (il, xl, p)
  }
}

object Survey {
  final case class Stats(count: Long, sum: Double, sumSquares: Double,
                         min: Double, max: Double)

  /** splitmix64 finaliser. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def traceSeed(il: Long, xl: Long): Long = mix(il * 1000003L + xl)

  /** Checksum of one decoded trace (the per-row half of
    * [[Survey.expectedChecksum]]). */
  def traceChecksum(il: Long, xl: Long, samples: scala.collection.Seq[Float]): Long = {
    var h = traceSeed(il, xl)
    samples.foreach(v => h = h * 31 + java.lang.Float.floatToRawIntBits(v))
    mix(h)
  }

  /** IBM System/360 float32 of `m / 8`, canonical (normalised) form, from
    * integer arithmetic alone. Exact for |m| < 2^21. */
  def ibm(m: Int): Int = {
    if (m == 0) return 0
    val sign = if (m < 0) 0x80000000 else 0
    val a = math.abs(m)
    val bits = 32 - Integer.numberOfLeadingZeros(a)
    // a / 8 = 0.f * 16^e with the fraction's top hex digit non-zero:
    // 16^(e-1) <= a / 8 < 16^e  <=>  4e <= bits <= 4e + 3
    val e = bits / 4
    val shift = 21 - 4 * e
    val f = if (shift >= 0) a << shift else a >>> -shift
    sign | ((e + 64) << 24) | (f & 0x00ffffff)
  }

  /** 40 EBCDIC (cp037) cards of 80 columns. */
  def textHeader(cards: Seq[String]): Array[Byte] = {
    val all = (cards ++ (cards.size + 1 to 40).map(i => f"C$i%2d")).take(40)
    all.map(_.padTo(80, ' ').take(80)).mkString.getBytes("Cp037")
  }
}
