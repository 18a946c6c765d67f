package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.battery()
    val failed =
      try dump(spark, sfDir, outDir, SparkEntry.queries.keys.toSeq)
      finally spark.stop()
    exitOnFailure(failed)
  }

  /** Writes the named queries' results to `<outDir>/<query>` and their
    * oracle SQL to `<outDir>/oracle_sql.json`; a failing query is
    * reported on stderr and the sweep goes on. Returns the names that
    * failed. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = names.filterNot { name =>
      val ok =
        try {
          SparkEntry.queries(name)(spark, sfDir).coalesce(1).write
            .mode("overwrite").parquet(s"$outDir/$name")
          true
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          false
        }
      // drop any intermediates the dedup operators cached for this query
      // — a full-battery sweep must not accumulate executor storage
      graft.operators.Dedup.releasePersisted()
      ok
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
    val json = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }

  /** A sweep with a failed query must not read as a pass: name the
    * failures and exit 1 (the results and oracle_sql.json are already
    * written). */
  private[graft] def exitOnFailure(failed: Seq[String]): Unit =
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: " +
        failed.mkString(" "))
      sys.exit(1)
    }
}
