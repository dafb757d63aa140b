package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Query

/** The query registry: every plan has exactly one DuckDB twin under the same
  * name, and oracle side-dump paths come from the query's own input dir.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("every query name is unique and pairs its plan with one oracle") {
    val names = SparkEntry.all.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql("/data/sf0.01").keySet == names.toSet)
  }

  test("oracle dump paths are keyed by the input dir, not by the last query run") {
    val a = SparkEntry.oracleSql("/data/sf0.01")("q_extract_pipeline")
    val b = SparkEntry.oracleSql("/data/sf0.1/")("q_extract_pipeline")
    assert(a.contains("read_parquet('/tmp/graft-oracle/sf0.01/pipeline_expected/*.parquet')"))
    assert(b.contains("read_parquet('/tmp/graft-oracle/sf0.1/pipeline_expected/*.parquet')"))
    assert(Query.oraclePath("/data/sf 0.1", "bpe_merges") == "/tmp/graft-oracle/sf_0.1/bpe_merges")
    assert(Query.oraclePath("", "bpe_merges") == "/tmp/graft-oracle/default/bpe_merges")
  }
}
