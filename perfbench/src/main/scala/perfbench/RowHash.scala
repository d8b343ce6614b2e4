package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, concat_ws, format_string, lit}

/** Canonical sorted-row hash, the same shape as `graft.Verify`'s
  * `canonicalRowHash`: columns sorted by name, NULL rendered as NUL,
  * floats as 12-significant-digit scientific, everything else through
  * Spark's cast to string; rows sorted, md5 over the newline-joined lines,
  * suffixed with the row count. */
object RowHash {
  def of(df: DataFrame): String = {
    val rendered = df.columns.sorted.toSeq.map { cn =>
      val base = df.schema(cn).dataType.typeName match {
        case "double" | "float" => format_string("%.12e", col(cn).cast("double"))
        case _ => col(cn).cast("string")
      }
      coalesce(base, lit("\u0000"))
    }
    val lines = df.select(concat_ws("\u0001", rendered: _*).as("l"))
      .collect().map(_.getString(0)).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString + s":rows=${lines.length}"
  }
}
