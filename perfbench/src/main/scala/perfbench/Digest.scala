package perfbench

import java.math.{MathContext, BigDecimal => JBigDecimal}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.{BooleanType, DecimalType, StructType}

/** Order-insensitive result digests. */
object Digest {
  private val mc = new MathContext(10)

  /** Canonical text of one cell. Floating-point values keep 10
    * significant digits, so a sum whose last bits depend on partition
    * order still digests the same; everything else is exact.
    */
  def cell(v: Any): String = v match {
    case null => "~"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else new JBigDecimal(d).round(mc).stripTrailingZeros.toString
    case f: Float => cell(f.toDouble)
    case d: JBigDecimal => d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => cell(d.bigDecimal)
    case t: java.sql.Timestamp => t.toInstant.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "=" + cell(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Digest of a collected result: columns in name order, rows sorted,
    * SHA-256 over the canonical lines (first 16 hex digits).
    */
  def rows(schema: StructType, rs: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rs.map(r => order.map(i => cell(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(schema.fieldNames.sorted.mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    md.digest().take(8).map(x => f"$x%02x").mkString
  }

  /** All-column digest of a table, computed by Spark: row count plus the
    * exact sum of a per-row hash over every column in name order, each
    * cast to string. Booleans hash as 0/1, the form the document-store
    * round trip returns them in (first-document inference reads a bool
    * as int64).
    */
  def table(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      val c = col(s"`${f.name}`")
      (if (f.dataType == BooleanType) c.cast("int") else c).cast("string")
    }
    val r = df.agg(count(lit(1)), sum(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }
}
