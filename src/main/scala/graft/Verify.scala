package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry query result → parquet, plus
  * oracle_sql.json (its DuckDB twin, rendered for `sfDir`), for the driver's
  * DuckDB compare.
  *
  * Usage: Verify <sfDir> <outDir> [queryName...] — with no names it runs
  * every query (the driver contract); with names, only those, so a changed
  * query can be DuckDB-compared locally in seconds (tools/oracle_check.py).
  * One failing query still dumps the rest AND oracle_sql.json.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val names = args.drop(2).toSet
    val unknown = names -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    val selected =
      if (names.isEmpty) SparkEntry.all else SparkEntry.all.filter(query => names(query.name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // oracle side-dumps (IVF candidates, k-means centroids, pipeline
    // expectations) exist for THIS entrypoint's DuckDB compare; production
    // plans — and therefore Bench — leave them off (ADVICE r7)
    SparkEntry.oracleDumpsEnabled = true
    selected.foreach { query =>
      try query.plan(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${query.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${query.name} failed: ${e.getMessage}")
      }
    }
    val json = selected
      .map(query => s"${q(query.name)}: ${q(query.oracle(sfDir))}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    * Shared with Bench's JSON output so the two can't drift.
    */
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
