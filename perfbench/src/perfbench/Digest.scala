package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.json4s._

/** Order-insensitive digest of a result, computed the same way by the
  * DuckDB reference (`perfbench/digest.py`): the row count, the sum
  * modulo 2^64 of each row's MD5 over its non-floating values (a NULL
  * counts as non-floating), and for the k-th floating value of each row
  * a sum weighted by the row hash. Floating sums are
  * compared with a tolerance, since engines may add in different
  * orders; every other value must match exactly. */
object Digest {
  final case class Value(rows: Long, hash: Long, fsums: Array[Double]) {
    def toJson: JValue = JObject(
      "rows" -> JInt(rows),
      "hash" -> JString(java.lang.Long.toUnsignedString(hash)),
      "fsums" -> JArray(fsums.toList.map(JDouble(_))))
  }

  def of(rows: Array[Row]): Value = {
    val md5 = MessageDigest.getInstance("MD5")
    var total = 0L
    val fsums = scala.collection.mutable.ArrayBuffer.empty[Double]
    rows.foreach { r =>
      val text = new StringBuilder
      val floats = scala.collection.mutable.ArrayBuffer.empty[Double]
      var first = true
      (0 until r.length).foreach { i =>
        r.get(i) match {
          case d: java.lang.Double => floats += d
          case f: java.lang.Float => floats += f.toDouble
          case v =>
            if (!first) text.append('\u001f')
            first = false
            text.append(canonical(v))
        }
      }
      val h = java.nio.ByteBuffer.wrap(md5.digest(text.toString.getBytes(UTF_8))).getLong
      total += h
      while (fsums.length < floats.length) fsums += 0.0
      val w = 1.0 + (h & 1023L) / 1024.0
      floats.indices.foreach { i => fsums(i) += floats(i) * w }
    }
    Value(rows.length.toLong, total, fsums.toArray)
  }

  private def canonical(v: Any): String = v match {
    case null => "\\N"
    case b: java.lang.Boolean => if (b) "true" else "false"
    case n: java.lang.Number if !n.isInstanceOf[java.math.BigDecimal] => n.toString
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime =>
      (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000).toString
    case s: String => s
    case other => throw new IllegalArgumentException(
      s"digest: unsupported value type ${other.getClass.getName}")
  }
}
