package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive digest of a collected result.
  *
  * Every row is rendered to a canonical byte string (doubles by their exact
  * shortest repr, binary by its bytes, maps with sorted entries), hashed with
  * SHA-256, and the first 8 bytes of the row hashes are summed modulo 2^64.
  * A sum, unlike an XOR, keeps duplicate rows distinct, and neither depends
  * on row order.
  */
object Digest {

  def of(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    var acc = 0L
    val sb = new java.lang.StringBuilder
    rows.foreach { r =>
      sb.setLength(0)
      render(r, sb)
      val h = md.digest(sb.toString.getBytes(UTF_8))
      acc += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    f"$acc%016x"
  }

  private def render(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append('∅')
    case r: Row =>
      sb.append('(')
      var i = 0
      while (i < r.length) {
        if (i > 0) sb.append(',')
        render(r.get(i), sb)
        i += 1
      }
      sb.append(')')
    case b: Array[Byte] =>
      sb.append("0x")
      b.foreach(x => sb.append(Character.forDigit((x >> 4) & 0xf, 16))
        .append(Character.forDigit(x & 0xf, 16)))
    case d: Double => sb.append("d").append(java.lang.Double.toString(d))
    case f: Float => sb.append("f").append(java.lang.Float.toString(f))
    case m: scala.collection.Map[_, _] =>
      val entries = m.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder
        render(k, e); e.append("->"); render(x, e); e.toString
      }.sorted
      sb.append('{').append(entries.mkString(",")).append('}')
    case s: scala.collection.Seq[_] =>
      sb.append('[')
      s.iterator.zipWithIndex.foreach { case (x, i) =>
        if (i > 0) sb.append(',')
        render(x, sb)
      }
      sb.append(']')
    case s: String => sb.append('"').append(s.replace("\"", "\\\"")).append('"')
    case other => sb.append(other.toString)
  }
}
