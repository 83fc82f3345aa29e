package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // optional extra args: run only these query names (local iteration;
    // the driver always passes exactly two args → full run)
    val only = rest.toSet
    // a misspelled filter name would otherwise run nothing and leave an
    // empty output dir that looks like a clean run
    Measure.requireKnown("verify", rest)
    val spark = Tables.session()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Self-checking claim columns: ANN dumps carry `recall_ok`, the
    // accuracy-gated sketch queries carry `within_*`/`*_ok` booleans
    // (r8). A false claim row at ANY scale must fail the dump loudly —
    // for oracle-gated queries the driver would also hash-mismatch,
    // but the local dump should not need the DuckDB pass to notice.
    def claimCols(cols: Array[String]): Seq[String] =
      cols.filter(c => c == "recall_ok" || c.startsWith("within_") ||
        c.endsWith("_ok")).toSeq
    var recallFailures = List.empty[String]
    // Queries that THREW (r11, advisor finding): previously only logged
    // to stderr, so a total dump failure still exited 0 and the
    // regression surfaced only as a pass-count drop a human had to
    // notice. Thrown queries now (a) join the hard-failure list that
    // forces exit 3 and (b) have their dump directory deleted — a
    // partial overwrite would otherwise leave a STALE parquet from a
    // prior attempt that check_oracle.py could compare and "pass".
    var hardFailures = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val written = spark.read.parquet(s"$outDir/$name")
        claimCols(written.columns).foreach { c =>
          // NULL claims fail loudly like false ones (r9): a claim built
          // from when(...) without otherwise, or comparing against a
          // NULL exact side, evaluates to NULL — where(!col) would drop
          // those rows and pass silently.
          import org.apache.spark.sql.functions.{col, coalesce, lit}
          val bad = written.where(!coalesce(col(c), lit(false))).count()
          if (bad > 0) {
            recallFailures ::= name
            System.err.println(s"[verify] $name CLAIM FAILURE: $bad $c=false rows")
          }
        }
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        hardFailures ::= name
        Artifacts.deleteRecursively(Paths.get(s"$outDir/$name"))
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
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
    spark.stop()
    if (recallFailures.nonEmpty || hardFailures.nonEmpty) {
      if (recallFailures.nonEmpty)
        System.err.println(s"[verify] CLAIM GATE FAILED: ${recallFailures.mkString(", ")}")
      if (hardFailures.nonEmpty)
        System.err.println(s"[verify] DUMP FAILED: ${hardFailures.mkString(", ")}")
      sys.exit(3)
    }
  }
}
