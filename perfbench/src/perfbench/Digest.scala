package perfbench

import org.apache.spark.sql.Row

/** Order-independent digest of a result: the row count plus the sum
  * (mod 2^64) of a 64-bit hash of each row's canonical text. A multiset
  * of rows maps to one digest whatever order the engine returns them in.
  *
  * Canonical text: doubles and floats to 9 significant digits (partial
  * aggregates merge in shuffle-fetch order, so the last bits of a double
  * sum may differ between runs of the same plan), timestamps as epoch
  * microseconds, decimals without trailing zeros, arrays and structs
  * element-wise. */
object Digest {

  final case class Result(rows: Long, digest: String) {
    override def toString: String = s"$rows:$digest"
  }

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
        .stripTrailingZeros().toPlainString
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros().toPlainString
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000 % 1000000).toString
    case i: java.time.Instant => (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case r: Row => r.toSeq.map(canon).mkString("(", "\u0001", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "\u0001", "]")
    case a: Array[_] => a.toSeq.map(canon).mkString("[", "\u0001", "]")
    case other => other.toString
  }

  private def rowHash(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(md, 0, 8).getLong
  }

  def ofCanon(rows: Iterable[String]): Result =
    Result(rows.size.toLong, f"${rows.foldLeft(0L)((acc, r) => acc + rowHash(r))}%016x")

  def of(rows: Seq[Row]): Result = ofCanon(rows.map(canon))
}
