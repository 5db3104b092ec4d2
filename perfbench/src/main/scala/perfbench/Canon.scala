package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent result hash, computed the same way here over Spark rows
  * and in `derive_expected.py` over DuckDB rows.
  *
  * A row is rendered as `name=value` pairs in column-name order, joined by
  * U+0001. Numbers of every type render as the bit pattern of their double
  * value (so INT vs BIGINT and DECIMAL vs DOUBLE agree, as in the oracle
  * compare), strings with an `s` prefix, dates as ISO days, timestamps (naive ones
  * read as UTC) as epoch microseconds, arrays as `[a,b]` in order. The row hash is the first
  * 8 bytes of the rendering's MD5; the result hash is their sum mod 2^64.
  */
object Canon {
  def dbl(d: Double): String =
    if (d.isNaN) "NaN"
    else java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))

  def value(v: Any): String = v match {
    case null                     => "∅"
    case b: Boolean               => if (b) "T" else "F"
    case x: Byte                  => dbl(x.toDouble)
    case x: Short                 => dbl(x.toDouble)
    case x: Int                   => dbl(x.toDouble)
    case x: Long                  => dbl(x.toDouble)
    case x: Float                 => dbl(x.toDouble)
    case x: Double                => dbl(x)
    case x: java.math.BigDecimal  => dbl(java.lang.Double.parseDouble(x.toString))
    case x: scala.math.BigDecimal => dbl(java.lang.Double.parseDouble(x.bigDecimal.toString))
    case x: String                => "s" + x
    case x: java.sql.Date         => x.toLocalDate.toString
    case x: java.time.LocalDate   => x.toString
    case x: java.sql.Timestamp    =>
      (Math.floorDiv(x.getTime, 1000L) * 1000000L + x.getNanos / 1000).toString
    case x: java.time.Instant     =>
      (x.getEpochSecond * 1000000L + x.getNano / 1000).toString
    case x: java.time.LocalDateTime => // TIMESTAMP_NTZ: a naive UTC wall time
      value(x.toInstant(java.time.ZoneOffset.UTC))
    case x: Array[Byte]           => x.map(b => f"${b & 0xff}%02x").mkString("x", "", "")
    case x: scala.collection.Seq[_] => x.map(value).mkString("[", ",", "]")
    case x: Row                   => x.toSeq.map(value).mkString("(", ",", ")")
    case x: scala.collection.Map[_, _] =>
      x.toSeq.map { case (k, w) => value(k) + ":" + value(w) }.sorted.mkString("{", ",", "}")
    case other                    => "?" + other.toString
  }

  def rowHash(names: Array[String], order: Array[Int], r: Row): Long = {
    val s = order.map(i => names(i) + "=" + value(r.get(i))).mkString("\u0001")
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** (row count, result hash as 16 hex digits) of a DataFrame, computed on
    * the executors. */
  def hash(df: DataFrame): (Long, String) = {
    val names = df.columns
    val order = names.indices.sortBy(names(_)).toArray
    val (n, h) = df.rdd.mapPartitions { it =>
      var n = 0L; var h = 0L
      it.foreach { r => n += 1; h += rowHash(names, order, r) }
      Iterator((n, h))
    }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    (n, f"$h%016x")
  }
}
