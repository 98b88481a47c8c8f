package perfbench

import java.math.MathContext
import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive fingerprint of a query result: the row count plus
  * a hash over the sorted canonical rows and the column names and
  * types. Doubles are rounded to 9 significant digits, so a different
  * summation order inside an aggregate does not change the hash. */
object Fingerprint {
  final case class Fp(rows: Long, hash: String)

  private val Digits = new MathContext(9)

  private def canonD(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(Digits).stripTrailingZeros.toString

  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: Double => canonD(d)
    case f: Float => canonD(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString("0x", "", "")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def of(df: DataFrame): Fp = {
    val schema = df.schema.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val rows = df.collect().map(r => canon(r)).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(schema.getBytes("UTF-8"))
    rows.foreach { r => md.update('\n'.toByte); md.update(r.getBytes("UTF-8")) }
    Fp(rows.length.toLong, md.digest().take(8).map("%02x".format(_)).mkString)
  }
}
