package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}

/** Storage for the north rule's Iceberg tables (SURVEY §1.2).
  *
  * The build ships no iceberg-spark-runtime jar, so this is an Iceberg-shaped
  * layout on Parquet: hive-partitioned shard directories plus self-written
  * per-shard manifests — which the checkpoint / resume feature needs as
  * first-class data anyway. An Iceberg backend keeps these signatures, wired
  * to `spark.read.format("iceberg")` / `df.writeTo(table).append()` with
  * snapshot commits replacing directory overwrites; every ExtractJob behavior
  * (partitioning, manifests, resume, lineage metrics) goes through this
  * object, so swapping the backend touches only it.
  */
object ParquetTableIO {
  def readTurns(spark: SparkSession, path: String): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(path)
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts").as[Turn]
  }

  /** Parquet writer option that turns the dictionary encoding off for the
    * `extracted_text` column alone. Extracted texts are almost all distinct
    * (every row of both benchmark corpora is), so parquet-mr falls back to
    * PLAIN after hashing every value into a dictionary it then drops; the
    * other columns keep their dictionaries.
    */
  val NoTextDictionary: (String, String) = "parquet.enable.dictionary#extracted_text" -> "false"

  /** Write extracted rows carrying a `shard` column in ONE pass: hive-style
    * `data/shard=k/` layout via partitionBy + DYNAMIC partition overwrite, so
    * only the shards present in `out` are replaced (a half-written shard from a
    * crashed run is cleanly overwritten on resume; committed shards are never
    * touched). Iceberg backend: `overwritePartitions()` — same contract.
    * `extracted_text` is written without a dictionary ([[NoTextDictionary]]),
    * so a corpus of repeated texts gives up dictionary compression of it.
    */
  def writeShards(out: DataFrame, outDir: String): Unit =
    out.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .option(NoTextDictionary._1, NoTextDictionary._2)
      .partitionBy("shard")
      .parquet(s"$outDir/data")

  def readOutput(spark: SparkSession, outDir: String): Dataset[ExtractedTurn] = {
    import spark.implicits._
    spark.read.parquet(s"$outDir/data")
      .select("conv_id", "turn_idx", "extracted_text", "spans", "payload_kind", "error")
      .as[ExtractedTurn]
  }

  def appendManifests(spark: SparkSession, outDir: String, rows: Seq[PartManifest]): Unit = {
    import spark.implicits._
    rows.toDS().write.mode(SaveMode.Append).parquet(s"$outDir/_manifests")
  }

  def readManifests(spark: SparkSession, outDir: String): Dataset[PartManifest] = {
    import spark.implicits._
    // Resume must survive manifests written by an OLDER engine version:
    // pre-wave_id manifests (no wave grouping yet) read as wave -1 instead of
    // failing analysis — shard completion (part_id/status) is what resume
    // needs, and that never changed.
    val raw = spark.read.parquet(s"$outDir/_manifests")
    val withWave =
      if (raw.columns.contains("wave_id")) raw
      else raw.withColumn("wave_id", org.apache.spark.sql.functions.lit(-1))
    withWave.as[PartManifest]
  }

  /** Whether any manifest was written — checked on the table's own Hadoop
    * filesystem, so resume works for `file:`/`hdfs:`/`s3a:` URIs, not just
    * local paths.
    */
  def manifestsExist(spark: SparkSession, outDir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(s"$outDir/_manifests")
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
  }
}
