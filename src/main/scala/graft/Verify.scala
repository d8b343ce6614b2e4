package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryName ...] — the optional tail restricts the
    // dump to named queries (local iteration; the driver passes only two).
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Environment-drift guard: stamp a content fingerprint of every input
    // table into the artifact dir, so a regenerated corpus (the round-8
    // post-close surprise) is self-evident in the record.
    try {
      val (full, combined) = CorpusCheck.stamp(spark, sfDir)
      Files.writeString(Paths.get(s"$outDir/corpus_fingerprint.json"),
        s"""{"corpus_md5":"$combined","sf":"$sfDir","tables":$full}""")
      System.err.println(s"[verify] corpus_md5=$combined")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] corpus fingerprint failed: ${e.getMessage}")
    }
    // Fail-loud: a query that throws must not silently vanish from the
    // compare (r4 shipped a broken query with no oracle evidence that way).
    // Record every failure in a manifest AND write a poison one-row parquet
    // whose schema can never match any oracle — so a per-oracle-entry
    // compare reports FAIL instead of skipping the query.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Driver-hash self-check (r10, VERDICT item 5): after dumping each query,
    // compute and LOG a canonical sorted-row md5 of the written parquet —
    // columns sorted by name, values rendered to canonical strings, rows
    // sorted lexicographically, md5 over the newline-joined corpus. This is
    // the same *shape* of hash the driver's compare uses (sorted-row md5
    // over normalized values); it may not be byte-identical to the driver's
    // Python rendering, but it is STABLE across local runs, so any future
    // driver hash-red can be reproduced and bisected locally (did MY hash
    // move between corpora/commits?) instead of guessed at. Rows are capped
    // to keep the collect bounded; over-cap queries log "skipped".
    val rowHashes = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def canonicalRowHash(name: String): Unit = {
      val maxRows = 2000000L
      try {
        val df = spark.read.parquet(s"$outDir/$name")
        val cols = df.columns.sorted
        val n = df.count()
        if (n > maxRows) {
          rowHashes(name) = s"skipped:rows=$n"
        } else {
          import org.apache.spark.sql.functions.{col => c, _}
          // canonical rendering: null → NUL (\u0000) marker (distinct from the
          // string "null"), float/double → 12-significant-digit scientific
          // (stable across JVM runs; tolerant of the last-ulp), everything
          // else via Spark's cast-to-string.
          val rendered = cols.map { cn =>
            val dt = df.schema(cn).dataType.typeName
            val base = dt match {
              case "double" | "float" =>
                format_string("%.12e", c(cn).cast("double"))
              case _ => c(cn).cast("string")
            }
            coalesce(base, lit("\u0000"))
          }
          val lines = df.select(concat_ws("\u0001", rendered: _*).as("l"))
            .collect().map(_.getString(0)).sorted
          val md = java.security.MessageDigest.getInstance("MD5")
          lines.foreach { l =>
            md.update(l.getBytes("UTF-8")); md.update('\n'.toByte)
          }
          rowHashes(name) =
            md.digest().map(b => f"$b%02x").mkString + s":rows=$n"
        }
        System.err.println(s"[verify] rowhash $name=${rowHashes(name)}")
      } catch { case e: Throwable =>
        rowHashes(name) = s"error:${e.getMessage}"
      }
    }
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        canonicalRowHash(name)
        // Same isolation hygiene as Bench (r11, ADVICE): the parquet write
        // fully consumed the result, so any localCheckpoint blocks a query
        // pinned can be released now instead of waiting on ContextCleaner
        // GC across a 244-query run.
        Bench.release(spark)
      }
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        failures(name) = msg
        System.err.println(s"[verify] $name FAILED: $msg")
        try {
          import spark.implicits._
          Seq(msg).toDF("_verify_failed").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failures.json"), failJson)
    val hashJson = rowHashes
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/row_hashes.json"), hashJson)
    if (failures.nonEmpty)
      System.err.println(
        s"[verify] ${failures.size} QUERY FAILURE(S): ${failures.keys.mkString(", ")}")
    spark.stop()
  }
}
