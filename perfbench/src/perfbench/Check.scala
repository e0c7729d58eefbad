package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive digest of a result, with the comparison rules of
  * tools/check.py: columns by sorted name, rows as a multiset, numbers
  * equal when their exact values are (so 5, 5.0 and DECIMAL 5.00 agree,
  * -0.0 equals 0.0), NaN equal to NaN. perfbench/oracle.py computes the
  * same encoding from DuckDB's answer, so equal digests mean equal
  * results. Every value is length- or bracket-delimited, so distinct
  * rows never encode alike. */
object Check {
  final case class Digest(columns: Seq[String], rows: Long, sha: String)

  def digest(columns: Seq[String], rows: Array[Row]): Digest =
    Digest(columns.sorted, rows.length.toLong, sha(encode(columns, rows).map(sha).sorted.mkString("\n")))

  /** Each row's canonical encoding, columns in sorted-name order. */
  def encode(columns: Seq[String], rows: Array[Row]): Array[String] = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    rows.map { r =>
      val sb = new StringBuilder
      order.foreach(i => enc(r.get(i), sb))
      sb.toString
    }
  }

  def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  private def num(d: java.math.BigDecimal, sb: StringBuilder): Unit =
    if (d.signum == 0) sb.append("n0;")
    else sb.append('n').append(d.stripTrailingZeros.toPlainString).append(';')

  private def dbl(d: Double, sb: StringBuilder): Unit =
    if (d.isNaN) sb.append("nNaN;")
    else if (d.isInfinite) sb.append(if (d > 0) "nInf;" else "n-Inf;")
    else num(new java.math.BigDecimal(d), sb)

  private def enc(v: Any, sb: StringBuilder): Unit = v match {
    case null => sb.append("N;")
    case s: String => sb.append('s').append(s.getBytes(UTF_8).length).append(':').append(s)
    case b: Boolean => sb.append(if (b) "b1;" else "b0;")
    case d: Double => dbl(d, sb)
    case f: Float => dbl(f.toDouble, sb)
    case i: Int => sb.append('n').append(i).append(';')
    case l: Long => sb.append('n').append(l).append(';')
    case s: Short => sb.append('n').append(s).append(';')
    case b: Byte => sb.append('n').append(b).append(';')
    case d: java.math.BigDecimal => num(d, sb)
    case t: java.sql.Timestamp => micros(t.toInstant, sb)
    case t: java.time.LocalDateTime => micros(t.toInstant(java.time.ZoneOffset.UTC), sb)
    case d: java.sql.Date => sb.append('d').append(d.toLocalDate.toString).append(';')
    case b: Array[Byte] => sb.append('x').append(b.map("%02x".format(_)).mkString).append(';')
    case m: scala.collection.Map[_, _] =>
      val items = m.toSeq.map { case (k, x) =>
        val ks = new StringBuilder; enc(k, ks)
        val vs = new StringBuilder; enc(x, vs)
        (ks.toString, vs.toString)
      }.sortBy(_._1)
      sb.append('m').append(items.size).append('[')
      items.foreach { case (k, x) => sb.append(k).append(x) }
      sb.append(']')
    case r: Row =>
      val names = if (r.schema != null) r.schema.fieldNames.toSeq
        else r.toSeq.indices.map(i => s"_$i")
      sb.append('r').append(r.length).append('[')
      names.zipWithIndex.sortBy(_._1).foreach { case (n, i) =>
        enc(n, sb); enc(r.get(i), sb)
      }
      sb.append(']')
    case s: scala.collection.Seq[_] =>
      sb.append('l').append(s.size).append('[')
      s.foreach(enc(_, sb))
      sb.append(']')
    case other => enc(other.toString, sb)
  }

  private def micros(t: java.time.Instant, sb: StringBuilder): Unit =
    sb.append('t').append(t.getEpochSecond * 1000000L + t.getNano / 1000).append(';')

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var an = 0.0; var bn = 0.0; var j = 0
    while (j < a.length) { dot += a(j) * b(j); an += a(j) * a(j); bn += b(j) * b(j); j += 1 }
    dot / math.sqrt(an * bn)
  }

  /** Exact top-k by cosine over an in-memory corpus, ties broken by id:
    * the reference every ANN answer is graded against. */
  def exactTopK(ids: Array[Long], vecs: Array[Array[Double]], q: Array[Double],
                k: Int): Seq[(Long, Double)] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) })
    var i = 0
    while (i < ids.length) {
      heap.enqueue((cosine(vecs(i), q), ids(i)))
      if (heap.size > k) heap.dequeue()
      i += 1
    }
    heap.dequeueAll[(Double, Long)].reverse.map { case (s, id) => (id, s) }.toSeq
  }
}
