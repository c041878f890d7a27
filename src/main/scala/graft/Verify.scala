package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * UN-ZEROABLE HANDOFF (r12 verdict item 1 — that round's driver gate
  * arrived as `{}` and the correctness signal was silently lost): the
  * run now ends with a machine-parsable sentinel line on stdout and a
  * `SUMMARY.json` beside the dumps carrying per-query row counts, so a
  * downstream reader that sees zero entries can distinguish "nothing
  * ran" from "ran 251, dumped 251". The oracle JSON renderer is
  * exposed ([[renderOracleJson]]) and spec-gated by a round-trip
  * through Jackson's STRICT parser (`VerifyJsonSpec`), not just the
  * escaper's own assumptions. */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness. */
  def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The exact bytes written to `oracle_sql.json` — one flat string →
    * string object. Kept as a pure function so the spec can round-trip
    * it through a strict parser against the source map. */
  def renderOracleJson(m: Map[String, String]): String =
    m.map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }
      .mkString("{", ",", "}")

  /** The exact bytes written to `SUMMARY.json`: total/failed counts
    * plus per-query rows (−1 = that query threw; its error string is
    * in `errors`). */
  def renderSummaryJson(rows: Seq[(String, Long)],
                        errors: Seq[(String, String)]): String = {
    val rj = rows.map { case (k, n) => s"${jsonQuote(k)}: $n" }
      .mkString("{", ",", "}")
    val ej = errors.map { case (k, e) => s"${jsonQuote(k)}: ${jsonQuote(e)}" }
      .mkString("{", ",", "}")
    s"""{"verify": "done", "queries": ${rows.size + errors.size}, """ +
      s""""dumped": ${rows.size}, "failed": ${errors.size}, """ +
      s""""rows": $rj, "errors": $ej}"""
  }

  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryName...] — the optional name filter is
    // dev-only (fast single-query iteration); the driver passes two.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val rowCounts = Seq.newBuilder[(String, Long)]
    val errors = Seq.newBuilder[(String, String)]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val path = s"$outDir/$name"
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(path)
        // read-back count is footer-metadata-only on parquet: ~free,
        // and it counts what was WRITTEN, not what the plan promises
        rowCounts += name -> spark.read.parquet(path).count()
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors += name -> Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      renderOracleJson(SparkEntry.oracleSql))
    val (rows, errs) = (rowCounts.result(), errors.result())
    Files.writeString(Paths.get(s"$outDir/SUMMARY.json"),
      renderSummaryJson(rows, errs))
    // the sentinel: greppable, strict-JSON after the prefix, ALWAYS
    // the last line of a successful run — its absence means Verify
    // itself died and the round's gate must not be read as empty-green
    println(s"""[verify-summary] {"verify":"done","queries":${rows.size + errs.size},"dumped":${rows.size},"failed":${errs.size}}""")
    spark.stop()
  }
}
