package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.html.HtmlBoilerplate

/** The extraction pipeline — SURVEY §2.10 stages P1-P9.
  *
  * Plan shape (one wide transformation, one narrow map, one write):
  *   scan -> filter -> Exchange hashpartitioning(conv_id, salt) ->
  *   MapPartitions(extractTurn) -> sortWithinPartitions -> write(+manifest)
  *
  * The salted repartition bounds any single conversation's share of a partition at
  * 1/SALT (north rule: "explicit salted repartitioning on conv_id to defeat
  * long-conversation skew"); per-turn extraction is row-independent so splitting a
  * conversation never affects correctness. Throughput then scales with cores because
  * post-shuffle partitions are uniform and extraction is CPU-bound.
  */
object ExtractJob {

  /** Salt fan-out: a 10^6-turn conversation spreads over SALT buckets. */
  val SALT = 64

  /** Per-row extraction. The reference panics on malformed input; here every parse
    * failure lands in the `error` column so one poison payload cannot kill a
    * 10^12-row job (the golden gate separately asserts zero errors on fixture rows).
    *
    * One route table for every tool label. `auto` (unlabeled corpora) first
    * sniffs a route from the payload (PDF magic, base64-of-PDF magic, HTML tag
    * presence) and then takes the same branch as the labelled tool; only the
    * raw "%PDF-" route is auto-specific. A labelled `tool = "pdf"` stays plain
    * passthrough, and error rows keep `payload_kind = t.tool`.
    */
  def extractTurn(t: Turn): ExtractedTurn = {
    try {
      val auto = t.tool == "auto"
      val route = if (auto) graft.functions.TextFunctions.sniffKind(t.text) else t.tool
      val (res, kind) = route match {
        case "pdf-b64" =>
          (Pdf(b64(t.text)).extractResult(ExtractText), "pdf")
        case "pdf-b64-lenient" =>
          // engine extension: lenient xref layer for 1.5+ documents (xref
          // streams / object streams / predictors) the reference cannot open;
          // strict "pdf-b64" stays the byte-exact default
          (Pdf.lenient(b64(t.text)).extractResult(ExtractText), "pdf-lenient")
        case "pdf-b64-lenient-text" =>
          // widest lenient surface: lenient xref + the Tw/Tz/TL/Ts/'/" text
          // operators (its own flag — forks text assembly, so it never rides
          // the plain lenient route silently)
          (Pdf.lenientText(b64(t.text)).extractResult(ExtractText), "pdf-lenient-text")
        case "html" =>
          (HtmlBoilerplate.extract(t.text), "html")
        case "pdf" if auto =>
          // a raw "%PDF-" payload in a string column is decoded best-effort as
          // ISO-8859-1 (binary PDFs normally arrive base64-encoded)
          val bytes = t.text.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
          (Pdf(bytes).extractResult(ExtractText), "pdf")
        case _ =>
          (ExtractResult(t.text, Vector(Span("plain", 0, t.text.length))), "plain")
      }
      ExtractedTurn(t.conv_id, t.turn_idx, res.text,
        res.spans.map(s => SpanRow(s.op, s.start, s.end)), kind, null)
    } catch {
      case e: PdfParseException =>
        ExtractedTurn(t.conv_id, t.turn_idx, null, Seq.empty, t.tool, e.getMessage)
      case scala.util.control.NonFatal(e) =>
        ExtractedTurn(t.conv_id, t.turn_idx, null, Seq.empty, t.tool,
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
      case e: StackOverflowError =>
        // Backstop behind the parser depth limits (ObjParser.MaxNesting,
        // PageTree.MaxTreeDepth, XRef.MaxPrevChain): NonFatal excludes SOE, and
        // an uncaught one would fail the task — after retries, the whole
        // 10^12-row job — on one crafted payload. Per-row scope: the frame has
        // fully unwound here and no shared state exists, so catching is safe.
        ExtractedTurn(t.conv_id, t.turn_idx, null, Seq.empty, t.tool,
          "StackOverflowError: recursion limit exceeded in payload parse")
    }
  }

  private def b64(text: String): Array[Byte] = java.util.Base64.getDecoder.decode(text)

  /** P3: explicit salted repartition keyed (conv_id, salt). */
  def saltedRepartition(input: Dataset[Turn], partitions: Int): Dataset[Turn] =
    input.repartition(partitions, col("conv_id"),
      pmod(hash(col("conv_id"), col("turn_idx")), lit(SALT)))

  /** P3+P4: the batch extraction transform — the salted repartition, then the
    * one extraction map.
    */
  def extract(input: Dataset[Turn], partitions: Int): Dataset[ExtractedTurn] =
    extractNarrow(saltedRepartition(input, partitions))

  /** P4: the extraction map, the only per-partition `extractTurn` pass over a
    * `Dataset[Turn]` — batch ([[extract]]), shuffle-free and streaming callers
    * all run it, so their per-turn semantics agree by construction.
    * mapPartitions (not a per-row udf) keeps per-partition setup amortized and
    * object churn off Catalyst's serializer path.
    *
    * Called directly it runs on the scan partitions with NO shuffle. That is
    * correct whenever the source layout is already splittable-uniform (parquet
    * row groups split a long conversation across tasks by construction). At
    * 100TB the salted repartition (P3) is for sources whose layout clusters
    * heavy conversations (e.g. Iceberg bucketed by conv); when it isn't needed,
    * skipping the exchange removes the full-payload shuffle — the pipeline's
    * only wide stage.
    */
  def extractNarrow(input: Dataset[Turn]): Dataset[ExtractedTurn] = {
    import input.sparkSession.implicits._
    input.mapPartitions(_.map(extractTurn))
  }

  /** P6: golden gate — byte-exact per-turn text equality. Returns diff rows
    * (empty => gate passes). Broadcast hints go only where the SMALL golden table
    * is the build side (mismatch inner join, extra anti-join). The missing-branch
    * anti-join probes golden against all extracted keys — broadcasting the
    * extracted side would ship the whole output through the driver, so that join
    * is left to shuffle (tiny: keys only, and the left side is small).
    */
  def goldenDiff(extracted: Dataset[ExtractedTurn], golden: Dataset[Golden]): DataFrame = {
    val e = extracted.toDF()
    val g = golden.toDF()
    val keys = Seq("conv_id", "turn_idx")
    val keyCols = keys.map(col)
    val mismatches = e.join(broadcast(g), keys)
      .where(col("error").isNotNull ||
        (col("gate").isin("exact", "snapshot") && !(col("extracted_text") <=> col("expected_text"))))
      .select(keyCols :+ lit("mismatch").as("reason"): _*)
    val missing = g.join(e.select(keyCols: _*), keys, "left_anti")
      .select(keyCols :+ lit("missing").as("reason"): _*)
    val extra = e.join(broadcast(g.select(keyCols: _*)), keys, "left_anti")
      .select(keyCols :+ lit("extra").as("reason"): _*)
    mismatches.union(missing).union(extra)
  }

  // ----- P8: checkpoint manifests + resume ---------------------------------------

  /** Output layout: `outDir/data/shard=<k>/...parquet` + `outDir/_manifests`,
    * stored through [[ParquetTableIO]] (SURVEY §1.2; Iceberg on clusters that
    * ship the runtime jar). A shard is the resume unit: an idempotent
    * overwrite of one directory followed by a manifest append. A failed run
    * leaves completed shards' manifests in place; `runWithManifests` skips
    * them on rerun, so the final table equals an uninterrupted run and
    * per-shard extraction-rate metrics survive.
    */
  def completedShards(spark: SparkSession, outDir: String): Set[Int] = {
    if (!ParquetTableIO.manifestsExist(spark, outDir)) Set.empty
    else {
      import spark.implicits._
      ParquetTableIO.readManifests(spark, outDir)
        .filter(_.status == "done").map(_.part_id).collect().toSet
    }
  }

  /** Run extraction with per-shard checkpoint manifests. `shards` counts resume
    * units; `partitions` is the shuffle width. `failAtShard` injects a crash
    * after N committed shards (resume tests).
    *
    * ONE input scan per wave (default: all remaining shards in a single wave):
    * filter to the remaining shards -> extract -> partitionBy(shard) write with
    * DYNAMIC partition overwrite -> manifest rows for the wave from one
    * partition-pruned scan of the just-written output. At 100TB this is 1 input
    * pass + 1 (much smaller) output pass — never O(shards) input rescans.
    * `waveSize` trades scan count for resume granularity: a crashed wave
    * recommits only its own shards on rerun (its partial directories are
    * dynamically overwritten, committed shards untouched).
    */
  def runWithManifests(
      spark: SparkSession,
      input: Dataset[Turn],
      outDir: String,
      shards: Int,
      partitions: Int,
      failAtShard: Int = -1,
      waveSize: Int = Int.MaxValue
  ): Unit = {
    val done = completedShards(spark, outDir)
    val remaining = (0 until shards).filterNot(done)
    val shardOf = pmod(hash(col("conv_id")), lit(shards))
    var committed = done.size
    // crash injection promises "fail after N COMMITTED SHARDS" — meaningless at
    // a multi-shard wave granularity, so it forces shard-granular waves
    val effectiveWave = if (failAtShard >= 0) 1 else math.max(1, waveSize)
    remaining.grouped(effectiveWave).foreach { wave =>
      // wave_id = the wave's first shard: unique across resume runs too (a
      // shard's manifest commits exactly once), unlike a per-run counter
      val waveId = wave.head
      if (failAtShard >= 0 && committed >= failAtShard)
        throw new RuntimeException(s"injected failure after $committed shards")
      val t0 = System.nanoTime()
      val waveInput = input.where(shardOf.isin(wave: _*))
      val out = extract(waveInput, partitions)
        .withColumn("shard", shardOf)
        .sortWithinPartitions("conv_id", "turn_idx") // P5 (prod-scale ordering)
      ParquetTableIO.writeShards(out, outDir)
      val wallMs = (System.nanoTime() - t0) / 1000000L
      // P7 per-shard stats (exact rows and bytes; error rows count as rows
      // with 0 bytes): one partition-pruned scan of the wave's output. An
      // all-empty TABLE writes no partition directories (only _SUCCESS), which
      // legitimately means 0 rows for every wave shard — detected EXPLICITLY
      // from the partition listing, never by matching exception text (a read
      // failure on a table with data is real corruption and must propagate,
      // not be committed as 0-row done manifests).
      val stats: Map[Int, (Long, Long)] =
        if (ParquetTableIO.shardsPresent(spark, outDir).isEmpty) Map.empty
        else ParquetTableIO.readOutputRaw(spark, outDir)
          .where(col("shard").isin(wave: _*))
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("rows"),
            coalesce(sum(length(col("extracted_text"))), lit(0L)).as("bytes"))
          .collect()
          .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      // per-shard wall_ms = the wave's wall split PROPORTIONALLY by bytes (the
      // extraction-cost driver), falling back to rows, then to an equal split
      // for all-empty waves. Cumulative allocation makes each wave's shard
      // sum EXACTLY the wave wall, so per-shard rates are honest at any
      // waveSize (a 4-shard wave no longer reports 4x the wall) and wave-level
      // wall is reconstructable as sum(wall_ms) group by wave_id.
      val weights: Seq[Long] = {
        val bytes = wave.map(k => stats.getOrElse(k, (0L, 0L))._2)
        if (bytes.sum > 0) bytes
        else {
          val rows = wave.map(k => stats.getOrElse(k, (0L, 0L))._1)
          if (rows.sum > 0) rows else wave.map(_ => 1L)
        }
      }
      val totW = weights.sum
      val cumW = weights.scanLeft(0L)(_ + _)
      // wallMs * cumW must not overflow Long: a 17-minute wave over ~10 TB
      // puts the product past 2^63 (ADVICE round 5) — BigInteger keeps the
      // cumulative allocation exact at any scale (once per shard, off the hot
      // path)
      val wallBig = java.math.BigInteger.valueOf(wallMs)
      val totBig = java.math.BigInteger.valueOf(totW)
      def alloc(c: Long): Long =
        wallBig.multiply(java.math.BigInteger.valueOf(c)).divide(totBig).longValueExact()
      ParquetTableIO.appendManifests(spark, outDir, wave.zipWithIndex.map { case (k, i) =>
        val (rows, bytes) = stats.getOrElse(k, (0L, 0L))
        val share = alloc(cumW(i + 1)) - alloc(cumW(i))
        PartManifest(k, SALT, rows, bytes, share, waveId, "done")
      })
      committed += wave.size
    }
  }

  def readOutput(spark: SparkSession, outDir: String): Dataset[ExtractedTurn] =
    ParquetTableIO.readOutput(spark, outDir)

  def manifests(spark: SparkSession, outDir: String): Dataset[PartManifest] =
    ParquetTableIO.readManifests(spark, outDir)
}
