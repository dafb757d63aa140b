package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: the Spark plan and its DuckDB twin, paired by
  * construction. `plan` runs against the driver's parquet tables in `dir`;
  * `oracle` renders the DuckDB SQL for the same `dir` (only queries with oracle
  * side-dumps read it — see [[Query.oraclePath]]).
  *
  * Every query is value-checked, including q_ann_ivf: the IVF probe is
  * approximate BY DESIGN (coarse-quantized ANN), but its ranking stage is
  * exact over the deterministic probed-candidate universe, which the query
  * dumps for the twin to replay; recall stays spec-gated against the
  * brute-force oracle in OperatorsSpec. Wrapping 64-bit hash loops (FNV-1a,
  * splitmix64, simhash) are re-expressed exactly via HUGEINT mod-2^64
  * arithmetic (see the helpers in [[DedupQueries]]).
  *
  * r9 NOTE — no presentational output sorts: the driver's hash compare sorts
  * rows before hashing (proven since the r6 q_pdf_chars swap and re-verified
  * against tools/oracle_check.py, which mirrors it), so a trailing global
  * orderBy bought nothing but a range-partitioning sample job + exchange +
  * sort per query — the guide's §2.4 "orderBy used only to make output
  * deterministic" accidental shuffle. Sorts that SELECT rows (orderBy ...
  * limit top-k) and window orderings are semantic and stay.
  */
final case class Query(
    name: String,
    plan: (SparkSession, String) => DataFrame,
    oracle: String => String)

object Query {

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Oracle side-dump path, KEYED BY THE QUERY'S INPUT DIR (round-7 fix): ten
    * queries write payload/expectation/centroid parquet to a path the DuckDB
    * twin reads back, and the path must be stable for one dir yet distinct
    * across scale factors — a Bench or ExplainAudit run at another SF would
    * otherwise clobber the shared fixed paths between Verify's dump and the
    * driver's DuckDB compare and silently zero the round's correctness (found
    * locally exactly that way). The plan and its twin both derive the path
    * from the same `dir`, so the rendered SQL always points at the dumps the
    * plan wrote for that dir. Every dumping query owns its `leaf` (even
    * identically trained centroids), so no twin assumes another query ran
    * first in the same Verify process.
    */
  def oraclePath(dir: String, leaf: String): String = {
    val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9._-]", "_") match {
      case "" => "default"
      case t  => t
    }
    s"/tmp/graft-oracle/$tag/$leaf"
  }

  /** [[oraclePath]] for operators that take an optional dump path: None
    * unless [[SparkEntry.oracleDumpsEnabled]].
    */
  private[queries] def dumpPath(dir: String, leaf: String): Option[String] =
    if (SparkEntry.oracleDumpsEnabled) Some(oraclePath(dir, leaf)) else None

  /** Write `df` as the single-file oracle side-dump `leaf` — only when
    * [[SparkEntry.oracleDumpsEnabled]]: the dump feeds only the DuckDB twin.
    */
  private[queries] def dump(dir: String, leaf: String)(df: => DataFrame): Unit =
    if (SparkEntry.oracleDumpsEnabled)
      df.coalesce(1).write.mode("overwrite").parquet(oraclePath(dir, leaf))
}
