package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small-file COMPACTION for the extraction output (engine addition — the
  * maintenance job every long-lived 100TB table needs). Wave-based runs and
  * resume-after-crash reruns accrete small parquet files per shard partition;
  * a scan then pays per-file open/footer cost and the scheduler per-split
  * overhead. Compaction rewrites `outDir/data` with bounded file sizes and
  * IDENTICAL data. (Structured-streaming SINK directories are out of scope:
  * they carry a `_spark_metadata` exactly-once log that rewriting would
  * invalidate — compact those by re-materializing downstream.)
  *
  * Shape: ONE shuffle. Parallelism comes from (shard, conv-hash bucket) keys
  * — each shard contributes ~ceil(shardBytes / targetBytes) buckets (via a
  * flat map-literal lookup, codegen-friendly at any shard count), so a hot
  * shard rewrites at cluster width instead of in one task. The file-size
  * bound itself does NOT depend on hash-partition collisions: the writer's
  * `maxRecordsPerFile` (computed from the table's measured bytes/row)
  * splits any oversized task output into ~targetBytes files exactly.
  *
  * Swap protocol (no self-overwrite — Spark cannot overwrite a path it is
  * reading): write to `.data_compacting`, then `data` -> `.data_old`,
  * compacted -> `data`, drop `.data_old`. Crash states and recovery:
  * before the first rename the original `data` is untouched (a rerun cleans
  * the temp and starts over); BETWEEN the renames `data` is absent but TWO
  * full copies exist (`.data_old` = original, `.data_compacting` =
  * compacted) — the rerun guard refuses with exact instructions; after the
  * second rename only `.data_old` cleanup remains. At every instant at
  * least one full copy exists on disk.
  *
  * Verification reads METADATA only: the pre-swap row-parity check is
  * Spark's `count()` of the compacted table, which needs no column and so
  * reads only the parquet footers' row-group row counts (exact by the
  * format's contract). The table's data pages are scanned once for the
  * rewrite and never again.
  */
object Compaction {

  final case class CompactionReport(filesBefore: Long, filesAfter: Long,
                                    rows: Long, targetBytes: Long)

  def compactOutput(spark: SparkSession, outDir: String,
                    targetBytes: Long = 128L * 1024 * 1024): CompactionReport = {
    require(targetBytes >= 1024 * 1024, s"targetBytes=$targetBytes below 1MB makes files smaller, not larger")
    val dataPath = new Path(s"$outDir/data")
    val fs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oldPath = new Path(s"$outDir/.data_old")
    val tmpPath = new Path(s"$outDir/.data_compacting")
    if (fs.exists(oldPath))
      throw new IllegalStateException(
        s"$oldPath exists — a previous compaction crashed mid-swap. If $dataPath is " +
          s"ABSENT, restore one full copy: rename $oldPath (the pre-compaction data) " +
          s"or $tmpPath (the compacted data, if complete) to $dataPath. If $dataPath " +
          "exists, it is already a full copy. Then delete the leftover dirs and rerun.")
    if (fs.exists(tmpPath)) fs.delete(tmpPath, true): Unit // pre-swap crash leftover

    // visible data files only: committer attempt dirs (_temporary/...) and
    // other hidden paths are ignored by spark.read and must not skew sizing
    def visibleParquets(): Iterator[org.apache.hadoop.fs.LocatedFileStatus] = {
      val it = fs.listFiles(dataPath, true)
      new Iterator[org.apache.hadoop.fs.LocatedFileStatus] {
        private var nxt: org.apache.hadoop.fs.LocatedFileStatus = advance()
        private def hidden(p: Path): Boolean = {
          var cur = p
          while (cur != null && cur.depth() > dataPath.depth()) {
            val n = cur.getName
            if (n.startsWith("_") || n.startsWith(".")) return true
            cur = cur.getParent
          }
          false
        }
        private def advance(): org.apache.hadoop.fs.LocatedFileStatus = {
          while (it.hasNext) {
            val st = it.next()
            if (st.getPath.getName.endsWith(".parquet") && !hidden(st.getPath)) return st
          }
          null
        }
        def hasNext: Boolean = nxt != null
        def next(): org.apache.hadoop.fs.LocatedFileStatus = {
          val r = nxt; nxt = advance(); r
        }
      }
    }
    var filesBefore = 0L
    val shardBytesM = scala.collection.mutable.Map[Int, Long]().withDefaultValue(0L)
    visibleParquets().foreach { st =>
      filesBefore += 1
      val parent = st.getPath.getParent.getName
      if (parent.startsWith("shard=")) {
        val sid =
          try parent.stripPrefix("shard=").toInt
          catch {
            case e: NumberFormatException => throw new IllegalArgumentException(
              s"compaction: unexpected partition directory '$parent' under $dataPath — " +
                "expected shard=<int> (is this really an extraction output dir?)", e)
          }
        shardBytesM(sid) += st.getLen
      }
    }
    // fail fast BEFORE any read: a data dir without shard= partition dirs
    // would silently size to one bucket and then fail only at write time
    // (partitionBy("shard")) after a full scan
    if (filesBefore == 0L)
      throw new IllegalArgumentException(
        s"compaction: no parquet data files under $dataPath — nothing to compact")
    if (shardBytesM.isEmpty)
      throw new IllegalArgumentException(
        s"compaction: no shard=<int> partition directories under $dataPath — " +
          "compactOutput only operates on shard-partitioned extraction output")
    val shardBytes = shardBytesM.toMap
    val totalBytes = math.max(1L, shardBytes.values.sum)

    val df = spark.read.parquet(s"$outDir/data")
    val nRowsBefore = math.max(1L, df.count())
    val bytesPerRow = math.max(1L, totalBytes / nRowsBefore)
    val rowsPerFile = math.max(1L, targetBytes / bytesPerRow)

    val buckets: Map[Int, Int] =
      shardBytes.map { case (s, b) => s -> math.max(1, ((b + targetBytes - 1) / targetBytes).toInt) }
    val totalBuckets = math.max(1, buckets.values.sum)
    // flat map-literal (codegen-friendly at any shard count); unknown shards
    // (none in practice) fall back to 1 bucket via coalesce
    val bucketMap = map(buckets.toSeq.sortBy(_._1)
      .flatMap { case (s, n) => Seq(lit(s), lit(n)) }: _*)
    val nBuckets = coalesce(element_at(bucketMap, col("shard").cast("int")), lit(1))

    df.withColumn("__b", pmod(hash(col("conv_id")), nBuckets))
      .repartition(totalBuckets, col("shard"), col("__b"))
      .drop("__b")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", rowsPerFile)
      .option(ParquetTableIO.NoTextDictionary._1, ParquetTableIO.NoTextDictionary._2)
      .partitionBy("shard").parquet(tmpPath.toString)
    // row-parity check from the footers alone: a count reads no column
    val nRows = spark.read.parquet(tmpPath.toString).count()
    if (nRows != nRowsBefore) {
      fs.delete(tmpPath, true)
      throw new IllegalStateException(
        s"compaction aborted: rewrote $nRows rows but source holds $nRowsBefore — original untouched")
    }

    if (!fs.rename(dataPath, oldPath))
      throw new IllegalStateException(s"compaction: could not stage $dataPath aside; original untouched")
    if (!fs.rename(tmpPath, dataPath)) {
      if (!fs.rename(oldPath, dataPath))
        throw new IllegalStateException(
          s"compaction: install AND rollback failed — $dataPath is absent; restore it " +
            s"by renaming $oldPath (original) or $tmpPath (compacted) back to $dataPath")
      throw new IllegalStateException(s"compaction: could not install compacted data; rolled back")
    }
    fs.delete(oldPath, true)
    val filesAfter = {
      var n = 0L
      visibleParquets().foreach(_ => n += 1)
      n
    }
    CompactionReport(filesBefore, filesAfter, nRows, targetBytes)
  }
}
