package perfbench

import java.io.File
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.StandardOpenOption

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.{IbmFloatDecode, IbmFloatEncode}

/** Ceilings and kernel costs measured in the same run as the workload. */
object Probes {

  /** Sequential FileChannel write (with fsync) and read of a `bytes`-sized
    * file, and JVM memory copy bandwidth, in MB/s. */
  def device(dir: File, bytes: Long): Map[String, Double] = {
    dir.mkdirs()
    val f = new File(dir, "device-probe.bin")
    val chunk = ByteBuffer.allocateDirect(8 << 20)
    val rnd = new java.util.Random(7)
    while (chunk.hasRemaining) chunk.put(rnd.nextInt().toByte)
    val total = math.max(bytes, 16L << 20)
    try {
      val t0 = System.nanoTime()
      val w = FileChannel.open(f.toPath, StandardOpenOption.CREATE,
        StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
      try {
        var done = 0L
        while (done < total) {
          chunk.clear()
          chunk.limit(math.min(chunk.capacity().toLong, total - done).toInt)
          while (chunk.hasRemaining) done += w.write(chunk)
        }
        w.force(true)
      } finally w.close()
      val writeS = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val r = FileChannel.open(f.toPath, StandardOpenOption.READ)
      var read = 0L
      try {
        var n = 0
        while ({ chunk.clear(); n = r.read(chunk); n > 0 }) read += n
      } finally r.close()
      val readS = (System.nanoTime() - t1) / 1e9
      require(read == total, s"device probe read $read of $total bytes")
      val src = new Array[Byte](64 << 20); val dst = new Array[Byte](64 << 20)
      rnd.nextBytes(src)
      val reps = 8
      val t2 = System.nanoTime()
      (1 to reps).foreach(_ => System.arraycopy(src, 0, dst, 0, src.length))
      val copyS = (System.nanoTime() - t2) / 1e9
      Map("device.write_mb_s" -> total / 1e6 / writeS,
        "device.read_mb_s" -> total / 1e6 / readS,
        "device.copy_mb_s" -> reps * src.length / 1e6 / copyS)
    } finally f.delete()
  }

  /** IBM32 decode and encode cost per value: a plain JVM loop over the
    * library's scalar kernels, and the same kernels inside one Spark task
    * (whole-stage codegen). The difference is Spark's per-value overhead. */
  def ibmKernels(spark: SparkSession): Map[String, Double] = {
    val n = 1 << 22
    val bits = Array.tabulate(n)(i => Survey.ibm((i * 2654435761L % 500000L).toInt - 250000))
    val floats = Array.tabulate(n)(i => ((i * 2654435761L % 500000L).toInt - 250000) / 8.0f)
    def med(f: () => Double): Double = {
      val xs = (1 to 5).map(_ => f()).sorted
      xs(2)
    }
    var sink = 0.0
    val decodeJvm = med { () =>
      val t0 = System.nanoTime(); var s = 0.0; var i = 0
      while (i < n) { s += IbmFloatDecode.decode(bits(i)); i += 1 }
      sink += s
      (System.nanoTime() - t0).toDouble / n
    }
    val encodeJvm = med { () =>
      val t0 = System.nanoTime(); var s = 0L; var i = 0
      while (i < n) { s += IbmFloatEncode.encode(floats(i)); i += 1 }
      sink += s
      (System.nanoTime() - t0).toDouble / n
    }
    val ids = spark.range(0, n.toLong, 1, 1)
    val bitsCol = (col("id") % 500000L - 250000L).cast("int")
    def spark1(c: org.apache.spark.sql.Column): Double = med { () =>
      val t0 = System.nanoTime()
      sink += ids.select(sum(c.cast("double"))).head().getDouble(0)
      (System.nanoTime() - t0).toDouble / n
    }
    val decodeSpark = spark1(IbmFloatDecode(bitsCol + lit(0x46000000)))
    val encodeSpark = spark1(IbmFloatEncode((bitsCol / 8.0).cast("float")))
    require(!sink.isNaN)
    Map("functions.ibm_decode_ns_per_value" -> decodeJvm,
      "functions.ibm_decode_codegen_ns_per_value" -> decodeSpark,
      "functions.ibm_encode_ns_per_value" -> encodeJvm,
      "functions.ibm_encode_codegen_ns_per_value" -> encodeSpark)
  }
}
