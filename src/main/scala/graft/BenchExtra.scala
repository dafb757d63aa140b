package graft

/** Dev-only per-query bench harness for the optimization rounds
  * (guide §1.1/§1.4): times SELECTED SparkEntry queries in isolation with
  * Bench's session ([[SparkEnv.session]]) and the same noop-sink
  * methodology, printing one JSON line per query with every sample. Plans come from
  * [[graft.tools.ExplainAudit]].
  *
  * This is NOT the driver's bench: Bench.scala stays the frozen harness of
  * record; BenchExtra exists so an A/B of one operator does not cost a full
  * 95-query suite run.
  *
  * Usage: runMain graft.BenchExtra [--reps N] q_a q_b ...
  *        runMain graft.BenchExtra --all
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    var reps = 3
    val names = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--reps"    => reps = args(i + 1).toInt; i += 2
        case "--all"     => names ++= SparkEntry.queries.keys.toSeq.sorted; i += 1
        case q           => names += q; i += 1
      }
    }
    val spark = SparkEnv.session("graft-bench-extra")
    val qs = SparkEntry.queries
    names.distinct.foreach { name =>
      val fn = qs.getOrElse(name, sys.error(s"unknown query $name"))
      spark.sparkContext.setJobDescription(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm (JIT, codegen cache, parquet footers) — matches Bench
      val samples = Seq.fill(reps)(once())
      spark.sparkContext.setJobDescription(null)
      val ss = samples.map(s => f"$s%.3f").mkString("[", ",", "]")
      println(f"""{"query":"$name","min":${samples.min}%.3f,"samples":$ss}""")
    }
    spark.stop()
  }
}
