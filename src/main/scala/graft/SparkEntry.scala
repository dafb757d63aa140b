package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see SURVEY.md §7.
  *
  * Queries run against the driver's parquet tables in `dir`
  * (region/nation/customer/supplier/part/orders/lineitem/events/documents/
  * embeddings). Every [[graft.queries.Query]] pairs its plan with a DuckDB
  * twin, which the driver compares byte-for-byte; the queries live in family
  * modules under `graft.queries`, and this object is their registry.
  *
  * Numeric discipline for oracle parity: aggregates over doubles go through
  * DECIMAL casts (bit-exact in any engine), then the FINAL projection casts
  * DECIMAL back to DOUBLE — decimal-to-double is correctly-rounded in both
  * engines, while raw DECIMAL output is hash-unstable in the driver's compare
  * (round-1 adjudication: 4 value-identical queries hash-mismatched on decimal
  * rendering alone). Float similarity queries emit ranks, not raw floats.
  */
object SparkEntry {

  /** Oracle side-dumps (IVF candidate universe, k-means centroids, payload
    * and expectation tables) are dev/verification artifacts: the ivfProbe
    * contract says production probes leave them None. Only the Verify
    * entrypoint flips this on, so Bench times the PRODUCTION plan — not an
    * extra pass plus single-task parquet I/O per invocation (ADVICE r7).
    */
  @volatile private[graft] var oracleDumpsEnabled = false

  /** Every driver query, one family after another. Fails fast on a repeated
    * name: the driver keys results and oracles by name, and a map built from
    * a repeated key would silently keep only the last query.
    */
  val all: Seq[Query] = {
    val qs = PdfQueries.all ++ TextQueries.all ++ DedupQueries.all ++
      SimilarityQueries.all ++ MultimodalQueries.all ++ RelationalQueries.all ++
      StreamingQueries.all
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.plan).toMap

  /** The DuckDB twin of every query, rendered for input dir `dir`. */
  def oracleSql(dir: String): Map[String, String] =
    all.map(q => q.name -> q.oracle(dir)).toMap
}
