package graft

import org.apache.spark.sql.SparkSession
import graft.pipeline._

object SparkEnv {
  def session(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_PARTITIONS", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Generate a seeded synthetic transcripts+golden table pair as parquet.
  * Usage: GenMain <outDir> <nConvs> [turnsPerConv] [longConvs] [longTurns]
  */
object GenMain {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val nConvs = args(1).toInt
    val turnsPerConv = if (args.length > 2) args(2).toInt else 6
    val longConvs = if (args.length > 3) args(3).toInt else 2
    val longTurns = if (args.length > 4) args(4).toInt else 1000
    val spark = SparkEnv.session("graft-gen")
    val gen = SynthGen.generate(spark, nConvs, turnsPerConv, longConvs, longTurns).cache()
    SynthGen.turns(gen).write.mode("overwrite").parquet(s"$outDir/transcripts")
    SynthGen.golden(gen).write.mode("overwrite").parquet(s"$outDir/golden")
    val n = spark.read.parquet(s"$outDir/transcripts").count()
    println(s"generated $n turns at $outDir")
    spark.stop()
  }
}

/** The production extraction job (north-rule shape): scan transcripts ->
  * shard-aligned salted repartition -> mapPartitions extraction -> sort
  * (shard, conv_id, turn_idx) -> write + per-shard checkpoint manifests. Each
  * task holds one shard, so a wave of W shards runs W * ceil(partitions / W)
  * tasks and writes that many files, each in (conv_id, turn_idx) order.
  * Rerunning after a failure resumes from the manifests.
  * Usage: ExtractMain <transcriptsParquet> <outDir> [shards] [partitions]
  *   partitions is rounded up to a multiple of the wave size (at least one
  *   task per shard). A long conversation spreads over the
  *   ceil(partitions / W) tasks of its shard only, so at partitions <= shards
  *   (the defaults: 8 and 8) the salt does not split it.
  */
object ExtractMain {
  def main(args: Array[String]): Unit = {
    val in = args(0)
    val outDir = args(1)
    val shards = if (args.length > 2) args(2).toInt else 8
    val partitions = if (args.length > 3) args(3).toInt else
      sys.env.getOrElse("SPARK_GRAFT_PARTITIONS", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")).toInt
    val failAt = sys.env.get("SPARK_GRAFT_FAIL_AT_SHARD").map(_.toInt).getOrElse(-1)
    val spark = SparkEnv.session("graft-extract")
    import spark.implicits._
    val t0 = System.nanoTime()
    val turns = ParquetTableIO.readTurns(spark, in)
    // crash injection (failAt >= 0) forces shard-granular waves inside
    // runWithManifests; the production path is the default single wave = ONE
    // input scan
    ExtractJob.runWithManifests(spark, turns, outDir, shards, partitions, failAt)
    val wall = (System.nanoTime() - t0) / 1e9
    val m = ExtractJob.manifests(spark, outDir).collect()
    val rows = m.map(_.rows).sum
    val errs = ExtractJob.readOutput(spark, outDir).where($"error".isNotNull).count()
    println(f"extracted rows=$rows errors=$errs shards=${m.length} wall=$wall%.2fs rate=${rows / wall}%.0f turns/s")
    // a shard's rate comes from its own wall_ms, its summed write-task time
    m.sortBy(_.part_id).foreach(pm =>
      println(f"  shard=${pm.part_id}%-3d wave=${pm.wave_id}%-3d rows=${pm.rows}%-8d bytes=${pm.bytes}%-10d wall_ms=${pm.wall_ms}%-6d rate=${if (pm.wall_ms > 0) pm.rows * 1000 / pm.wall_ms else 0}%d turns/s"))
    spark.stop()
  }
}

/** Golden gate check: byte-exact per-turn equality against the golden table.
  * Usage: GateMain <extractedOutDir> <goldenParquet>
  */
object GateMain {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val goldenPath = args(1)
    val spark = SparkEnv.session("graft-gate")
    import spark.implicits._
    val extracted = ExtractJob.readOutput(spark, outDir)
    val golden = spark.read.parquet(goldenPath).as[Golden]
    val diff = ExtractJob.goldenDiff(extracted, golden).cache()
    val n = diff.count()
    if (n == 0) println(s"GATE PASS: ${extracted.count()} turns byte-exact")
    else {
      println(s"GATE FAIL: $n diffs")
      diff.show(20, truncate = false)
      sys.exit(1)
    }
    spark.stop()
  }
}

/** Small-file compaction for an extraction output dir (pipeline/Compaction).
  * Usage: CompactMain <outDir> [targetBytes]
  */
object CompactMain {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val target = if (args.length > 1) args(1).toLong else 128L * 1024 * 1024
    val spark = SparkEnv.session("graft-compact")
    val r = graft.pipeline.Compaction.compactOutput(spark, outDir, target)
    println(s"compacted $outDir: files ${r.filesBefore} -> ${r.filesAfter}, " +
      s"rows=${r.rows}, targetBytes=${r.targetBytes}")
    spark.stop()
  }
}
