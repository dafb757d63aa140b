package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator
import graft.core._
import graft.html.HtmlBoilerplate
import scala.jdk.CollectionConverters._

/** The extraction pipeline — SURVEY §2.10 stages P1-P9.
  *
  * Plan shape of [[runWithManifests]] (one wide transformation, one narrow
  * map, one write, and no read-back):
  *   scan -> filter(shard in wave) ->
  *   Exchange partition-id pass-through(slot(shard) * per + salted hash) ->
  *   MapPartitions(extractTurn, counting P7 stats per task) ->
  *   Sort(shard, conv_id, turn_idx) -> write(partitionBy shard) -> manifests
  *
  * Each post-shuffle partition holds exactly one shard of the wave, so each
  * task writes one file, and the writer's required `[shard]` ordering is a
  * prefix of the P5 sort, so Spark keeps that sort. The salt spreads a long
  * conversation over the `per` partitions of its shard (north rule: "explicit
  * salted repartitioning on conv_id to defeat long-conversation skew"), so a
  * task holds about 1/min(SALT, per) of any one conversation; per-turn
  * extraction is row-independent so splitting a conversation never affects
  * correctness. The spread a conversation gets and the files its shard gets
  * are the same number, `per`: a caller that needs more spread raises
  * `partitions`. Throughput scales with cores while no conversation is a
  * large part of its shard, because post-shuffle partitions are then as
  * uniform as the shards and extraction is CPU-bound.
  */
object ExtractJob {

  /** Salt fan-out: a 10^6-turn conversation spreads over SALT buckets. */
  val SALT = 64

  /** The name of the per-wave P7 stats accumulator of [[runWithManifests]].
    * Spark reports only named accumulators to listeners.
    */
  val StatsSinkName = "graft.extract.p7_stats"

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

  /** The resume unit of a row: its conversation's hash bucket. */
  def shardOf(shards: Int): Column = pmod(hash(col("conv_id")), lit(shards))

  /** P3: the salted exchange, shard-aligned. `wave` holds the shards (of
    * `shards`) that the input carries. Each shard gets
    * `per = ceil(partitions / wave.size)` partitions of its own:
    *
    *   pid = slot(shard) * per + pmod(hash(conv_id, salt), per)
    *
    * where `slot` is the shard's position in the wave. So the exchange runs
    * `wave.size * per` tasks — `partitions` rounded up to a multiple of
    * `wave.size`, at least one task per shard — and every task holds one
    * shard. The salt `pmod(hash(conv_id, turn_idx), SALT)` spreads a long
    * conversation over the `per` partitions of its shard only, so a task
    * holds about 1/min(SALT, per) of a conversation: with `partitions <=
    * wave.size` (`per` = 1) the salt does nothing.
    *
    * With one shard (the default) the id is `pmod(hash(conv_id, salt),
    * partitions)`: the same assignment as `repartition(partitions, conv_id,
    * salt)`, since both hash with Murmur3, seed 42.
    */
  def saltedRepartition(input: Dataset[Turn], partitions: Int,
      shards: Int = 1, wave: Seq[Int] = Seq(0)): Dataset[Turn] = {
    require(partitions > 0 && wave.nonEmpty, s"partitions=$partitions wave=$wave")
    val per = partitionsPerShard(partitions, wave)
    val salt = pmod(hash(col("conv_id"), col("turn_idx")), lit(SALT))
    val slot = (array_position(typedLit(wave), shardOf(shards)) - 1).cast("int")
    input.repartitionById(wave.size * per, slot * per + pmod(hash(col("conv_id"), salt), lit(per)))
  }

  /** `per` of [[saltedRepartition]]: shard `wave(s)` owns the partition ids
    * `s * per until (s + 1) * per`.
    */
  private def partitionsPerShard(partitions: Int, wave: Seq[Int]): Int =
    (partitions + wave.size - 1) / wave.size

  /** The shard that partition `pid` of [[saltedRepartition]]`(_, partitions,
    * _, wave)` holds: `wave(pid / per)`.
    */
  def shardOfPartition(pid: Int, partitions: Int, wave: Seq[Int]): Int =
    wave(pid / partitionsPerShard(partitions, wave))

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
    * With a `stats` sink each task also counts its rows and the code points
    * of every non-null `extracted_text` (Spark's `length`; an error row adds
    * 0) on the `String` the map has just built, and adds one
    * `(partition id, rows, bytes, ms)` to the sink when the task completes:
    * `ms` is the task's elapsed time from the start of the map to its
    * completion (everything the task does downstream of the map, the sort
    * and the file write included), floored to whole milliseconds.
    * `String.codePointCount` is O(1) on a Latin-1 string. The counts are
    * exact only where the map runs in a ResultStage (see
    * [[runWithManifests]]).
    *
    * Streams run this map too ([[graft.streaming.StreamingExtract.run]]);
    * the windowed metric stream calls [[extractTurn]] per row instead, since
    * its metric rows carry each turn's `ts`.
    *
    * Called directly it runs on the scan partitions with NO shuffle. That is
    * correct whenever the source layout is already splittable-uniform (parquet
    * row groups split a long conversation across tasks by construction). At
    * 100TB the salted repartition (P3) is for sources whose layout clusters
    * heavy conversations (e.g. Iceberg bucketed by conv); when it isn't needed,
    * skipping the exchange removes the full-payload shuffle — the pipeline's
    * only wide stage.
    */
  def extractNarrow(input: Dataset[Turn],
      stats: Option[CollectionAccumulator[(Int, Long, Long, Long)]] = None): Dataset[ExtractedTurn] = {
    import input.sparkSession.implicits._
    input.mapPartitions { it =>
      stats match {
        case None => it.map(extractTurn)
        case Some(sink) =>
          val t0 = System.nanoTime()
          var rows = 0L
          var bytes = 0L
          val ctx = TaskContext.get()
          ctx.addTaskCompletionListener[Unit](_ =>
            sink.add((ctx.partitionId(), rows, bytes, (System.nanoTime() - t0) / 1000000L)))
          it.map { t =>
            val e = extractTurn(t)
            rows += 1
            if (e.extracted_text != null)
              bytes += e.extracted_text.codePointCount(0, e.extracted_text.length)
            e
          }
      }
    }
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
    * units. `partitions` sets the shuffle width: a wave runs `partitions`
    * rounded up to a multiple of its size, at least one task per shard (see
    * [[saltedRepartition]]). `failAtShard` injects a crash after N committed
    * shards (resume tests).
    *
    * ONE input scan per wave (default: all remaining shards in a single wave):
    * filter to the wave's shards -> shard-aligned salted exchange -> extract
    * -> sort (shard, conv_id, turn_idx) -> partitionBy(shard) write with
    * DYNAMIC partition overwrite -> manifest rows for the wave. A task holds
    * one shard, so a wave writes at most `ceil(partitions / wave.size)` files
    * per shard, each in (conv_id, turn_idx) order (P5). At 100TB this is one
    * pass over the data — never O(shards) input rescans, and no read-back.
    *
    * The manifests' P7 `rows` and `bytes` are counted by the extraction map
    * itself, into a per-wave accumulator of per-partition counts. The map
    * runs after the only exchange, so it runs in the write job's ResultStage,
    * and the DAGScheduler applies a ResultTask's accumulator updates only for
    * the first successful completion of each output partition: updates from
    * failed attempts are dropped (`countFailedValues` is false) and so are
    * those of a speculative or retried duplicate. The counts are exact. An
    * exchange added after the map would move it into a ShuffleMapStage,
    * whose re-runs count again; PipelineSpec pins the stage.
    *
    * A manifest's `wall_ms` is measured the same way: the sum of the
    * shard's write tasks' own elapsed times (see [[extractNarrow]]), so it
    * leaves out the scan and exchange stage and the job commit. A retried
    * task's earlier attempts are not counted.
    *
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
    val shard = shardOf(shards)
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
      val waveInput = input.where(shard.isin(wave: _*))
      // a fresh P7 sink per wave, filled by the write job's own tasks
      val sink = spark.sparkContext.collectionAccumulator[(Int, Long, Long, Long)](StatsSinkName)
      // one shard per task, so the shard prefix costs nothing and satisfies
      // the writer's required [shard] ordering: without it Spark replaces
      // this sort with its own Sort [shard] and P5 is lost
      val out = extractNarrow(saltedRepartition(waveInput, partitions, shards, wave), Some(sink))
        .withColumn("shard", shard)
        .sortWithinPartitions("shard", "conv_id", "turn_idx") // P5
      ParquetTableIO.writeShards(out, outDir)
      // P7 per-shard stats (exact rows and bytes; error rows count as rows
      // with 0 bytes) and wall_ms, summed over the shard's tasks: each
      // partition held one shard
      val stats: Map[Int, (Long, Long, Long)] = sink.value.asScala.toSeq
        .groupMapReduce(c => shardOfPartition(c._1, partitions, wave))(c => (c._2, c._3, c._4)) {
          case ((r1, b1, t1), (r2, b2, t2)) => (r1 + r2, b1 + b2, t1 + t2)
        }
      ParquetTableIO.appendManifests(spark, outDir, wave.map { k =>
        val (rows, bytes, ms) = stats.getOrElse(k, (0L, 0L, 0L))
        PartManifest(k, SALT, rows, bytes, ms, waveId, "done")
      })
      committed += wave.size
    }
  }

  def readOutput(spark: SparkSession, outDir: String): Dataset[ExtractedTurn] =
    ParquetTableIO.readOutput(spark, outDir)

  def manifests(spark: SparkSession, outDir: String): Dataset[PartManifest] =
    ParquetTableIO.readManifests(spark, outDir)
}
