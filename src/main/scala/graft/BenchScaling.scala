package graft

/** Two-parallelism scaling evidence for the north rule's N vs 4N executor gate
  * (sandbox rule: evidence with local[8] vs local[32] on the same input).
  * Prints one JSON line with both throughputs and the scaling efficiency
  * (T32/T8)/4, and appends a measured-numbers section to BENCH.md.
  *
  * Run each parallelism level in its OWN JVM (fresh SparkSession per level would
  * share one JVM's local-mode scheduler; master can't change live), so this main
  * takes the level as an argument and the wrapper script/driver runs it twice.
  */
object BenchScaling {
  def main(args: Array[String]): Unit = {
    val cpus = if (args.nonEmpty) args(0).toInt else SparkEnv.cpus
    val benchDir = sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "/tmp/graft-scaling")
    val nConvs = sys.env.getOrElse("SPARK_GRAFT_BENCH_CONVS", "60000").toInt
    val spark = SparkEnv.session("graft-scaling", cpus)
    val nTurns =
      if (new java.io.File(s"$benchDir/transcripts").exists())
        spark.read.parquet(s"$benchDir/transcripts").count()
      else Bench.prepareCorpus(spark, benchDir, nConvs)
    // 3x tasks per core smooths stragglers; the corpus must be large enough that
    // compute (not job setup) dominates, or the 4x-core run can't show its speedup
    val partitions = cpus * 3
    // task-metric listener: attribute wall time to cpu / gc / shuffle
    val run = new java.util.concurrent.atomic.AtomicLong(0)
    val gc = new java.util.concurrent.atomic.AtomicLong(0)
    val ser = new java.util.concurrent.atomic.AtomicLong(0)
    val shw = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          run.addAndGet(m.executorRunTime)
          gc.addAndGet(m.jvmGCTime)
          ser.addAndGet(m.executorDeserializeTime + m.resultSerializationTime)
          shw.addAndGet(m.shuffleWriteMetrics.writeTime / 1000000)
        }
      }
    })
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    Bench.timeExtraction(spark, benchDir, partitions) // warm
    run.set(0); gc.set(0); ser.set(0); shw.set(0)
    val secs = (1 to reps).map(_ => Bench.timeExtraction(spark, benchDir, partitions))
    val sec = secs.min
    val narrowSec = (1 to reps).map(_ => Bench.timeExtractionNarrow(spark, benchDir)).min
    println(s"""{"level":"local[$cpus]","turns":$nTurns,"sec":$sec,"secs":[${secs.map(s => f"$s%.2f").mkString(",")}],"turns_per_sec":${(nTurns / sec).toLong},"narrow_sec":$narrowSec,"narrow_turns_per_sec":${(nTurns / narrowSec).toLong},"taskRunMs":${run.get / reps},"gcMs":${gc.get / reps},"serMs":${ser.get / reps},"shufWriteMs":${shw.get / reps}}""")
    spark.stop()
  }
}
