package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Query

/** The query registry: every plan has exactly one DuckDB twin under the same
  * name, and oracle side-dump paths come from the query's own input dir. And
  * the session recipe Verify shares with Bench, as the specs run it.
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

  test("ExplainAudit masks the run-specific tokens of a plan") {
    val scratch = Scratch.base.getPath
    val plan = "Arguments: graft.operators.Similarity$$$Lambda$3661/0x00007f5a67131f58@46199519, " +
      "obj#69: scala.Tuple3, lambda x_20#2221L, [plan_id=311], MapPartitionsRDD[750], " +
      s"UnsafeArrayData@782494cd, [file:$scratch/graft-ivf3917812305044139026/data], x_20, id_2, " +
      "MapPartitionsRDD[4021] at localCheckpoint at Dedup.scala:552"
    assert(tools.ExplainAudit.stable(plan) ==
      "Arguments: graft.operators.Similarity$$$Lambda@H, obj#N: scala.Tuple3, lambda x_N#NL, " +
      "[plan_id=N], MapPartitionsRDD[N], UnsafeArrayData@H, [file:<scratch>/graft-ivfN/data], x_20, id_2, " +
      "MapPartitionsRDD[N] at localCheckpoint at Dedup.scala:N")
  }

  test("the specs run on SparkEnv's recipe: Bench's partitions, split size and uncompressed local shuffle") {
    val spark = graft.pipeline.SparkTestSession.spark
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.files.maxPartitionBytes") == (16L * 1024 * 1024).toString)
    assert(spark.sparkContext.getConf.getOption("spark.shuffle.compress").contains("false"))
  }
}
