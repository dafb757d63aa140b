package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{ExtractJob, MiniPdf, SparkTestSession, SynthGen, Turn}

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def turn(conv: String, idx: Int, text: String, tool: String, tsSec: Long): Turn =
    Turn(conv, idx, "user", text, tool, new java.sql.Timestamp(tsSec * 1000))

  test("streaming extraction matches batch extraction row-for-row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val body = SynthGen.prose(11L, 8, 20)
    val rows = Seq(
      turn("c1", 0, body, "plain", 100),
      turn("c1", 1, MiniPdf.synthesizeBase64(body), "pdf-b64", 160),
      turn("c2", 0, SynthGen.wrapHtml(body), "html", 200),
      turn("c2", 1, "!!!bad base64", "pdf-b64", 260)
    )
    val q = ExtractJob.extractNarrow(input.toDS()).writeStream
      .format("memory").queryName("stream_out").outputMode(OutputMode.Append).start()
    input.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("stream_out")
      .orderBy("conv_id", "turn_idx")
      .select("conv_id", "turn_idx", "extracted_text", "payload_kind", "error").collect()
    val batch = ExtractJob.extract(rows.toDS(), 2)
      .orderBy("conv_id", "turn_idx")
      .select("conv_id", "turn_idx", "extracted_text", "payload_kind", "error").collect()
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.count(_.getAs[String]("error") != null) == 1) // the poison row
  }

  test("stateful sessionization: gap closes a session in-batch; watermark timeout closes the open one") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingExtract.sessionizeStream(input.toDS(), gapSec = 1800, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append).start()
    // session 1: two turns 60s apart (off zero: rows at/below the initial
    // watermark of 0 are late-dropped); then a turn >30min later reveals the gap
    input.addData(turn("c1", 0, "a", "plain", 100), turn("c1", 1, "b", "plain", 160))
    q.processAllAvailable()
    input.addData(turn("c1", 2, "c", "plain", 10000))
    q.processAllAvailable()
    val closedInBatch = spark.table("sessions_out").as[ConvSession].collect()
    assert(closedInBatch.length == 1, closedInBatch.mkString(", "))
    assert(closedInBatch(0).conv_id == "c1" && closedInBatch(0).n_turns == 2, closedInBatch(0))
    assert(closedInBatch(0).session_start.getTime == 100000 && closedInBatch(0).session_end.getTime == 160000)
    // advance the watermark far past c1's open session -> EventTimeTimeout fires
    input.addData(turn("c2", 0, "d", "plain", 100000))
    q.processAllAvailable()
    input.addData(turn("c2", 1, "e", "plain", 200000)) // extra batch to evaluate timeouts
    q.processAllAvailable()
    q.stop()
    val all = spark.table("sessions_out").as[ConvSession].collect().sortBy(s => (s.conv_id, s.session_start.getTime))
    assert(all.exists(s => s.conv_id == "c1" && s.n_turns == 1 && s.session_start.getTime == 10000000),
      s"open c1 session should close by timeout; got ${all.mkString(", ")}")
  }

  test("sessionization tolerates null-ts rows (dropped, not a query-killing NPE)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingExtract.sessionizeStream(input.toDS(), gapSec = 1800, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sessions_nullts")
      .outputMode(OutputMode.Append).start()
    input.addData(turn("c1", 0, "a", "plain", 100),
      Turn("c1", 1, "user", "b", "plain", null), // null ts: batch job tolerates; stream must too
      turn("c1", 2, "c", "plain", 160))
    q.processAllAvailable()
    input.addData(turn("c1", 3, "d", "plain", 10000)) // gap reveals session 1
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("sessions_nullts").as[ConvSession].collect()
    assert(closed.length == 1 && closed(0).n_turns == 2, closed.mkString(", "))
  }

  test("streaming dedup: cross-batch duplicates collapse through the state store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingExtract.dedupStream(input.toDS(), watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    // batch 1: two distinct texts, one in-batch duplicate
    input.addData(turn("c1", 0, "alpha text", "plain", 100),
      turn("c2", 0, "beta text", "plain", 110),
      turn("c3", 0, "alpha text", "plain", 120))
    q.processAllAvailable()
    // batch 2: a CROSS-batch duplicate (must hit the state store, not in-batch
    // dedup) plus one new text; null-ts rows drop like the batch job's
    input.addData(turn("c4", 0, "alpha text", "plain", 200),
      turn("c5", 0, "gamma text", "plain", 210),
      Turn("c6", 0, "user", "delta with null ts", "plain", null))
    q.processAllAvailable()
    q.stop()
    val hashes = spark.table("dedup_out").as[String].collect().toSeq
    assert(hashes.length == 3, s"expected 3 distinct hashes, got $hashes")
    assert(hashes.distinct.length == 3)
    val expected = Seq("alpha text", "beta text", "gamma text")
      .map(t => java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes).map(b => f"$b%02x").mkString).toSet
    assert(hashes.toSet == expected)
  }

  test("streaming incremental probe: cross-batch matches equal the batch probe; pair state dedups bands") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    // corpus of three docs; stream two near-copies (one per micro-batch) plus
    // one unrelated doc — matches must equal the batch minhashProbe exactly
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different words about spark structured streaming state"),
      (3L, "a third document with its own unmistakable vocabulary choices here")
    ).toDF("doc_id", "text")
    val index = Dedup.minhashIndex(corpus, "text", "doc_id")
    val newRows = Seq(
      (11L, "the quick brown fox jumps over the lazy dog again and again today", 100L),
      (12L, "completely different words about spark structured streaming state", 200L),
      (13L, "nothing in common with any corpus entry at all whatsoever", 300L))
    val batchExpected = Dedup.minhashProbe(
        newRows.map(r => (r._1, r._2)).toDF("doc_id", "text"), index, corpus,
        "text", "doc_id", threshold = 0.9)
      .select($"id_new", $"id_corpus").as[(Long, Long)].collect().toSet
    assert(batchExpected == Set((11L, 1L), (12L, 2L)), s"batch probe sanity: $batchExpected")
    val input = MemoryStream[(Long, String, Long)]
    val stream = input.toDS()
      .select($"_1".as("doc_id"), $"_2".as("text"),
        ($"_3" * 1000).cast("timestamp").as("ts"))
    val q = StreamingExtract.probeStream(stream, index, corpus, threshold = 0.9)
      .writeStream.format("memory").queryName("probe_out")
      .outputMode(OutputMode.Append).start()
    input.addData(newRows.head)
    q.processAllAvailable()
    input.addData(newRows(1), newRows(2))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("probe_out")
      .select($"id_new", $"id_corpus").as[(Long, Long)].collect()
    // every (new, corpus) pair exactly once — identical signatures collide in
    // ALL 32 bands, so the watermarked pair-dedup state did its job
    assert(got.length == got.toSet.size, s"duplicate pair emissions: ${got.toSeq}")
    assert(got.toSet == batchExpected, s"stream/batch divergence: ${got.toSeq} vs $batchExpected")
  }

  test("stream-static enrichment: broadcast LEFT join across batches, stream side never shuffles") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "segment")
    // batch analog (same function): plan gate — dimension broadcasts, the
    // event side reaches the join without an Exchange
    val batchEv = Seq((10L, 1L), (11L, 3L)).toDF("event_id", "user_id")
    val plan = StreamingExtract.enrichStream(batchEv, dim, "user_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"dim must broadcast:\n${plan.take(800)}")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"stream side must not shuffle:\n${plan.take(800)}")
    // streaming: enrichment holds across micro-batches; unknown users keep
    // nulls (LEFT semantics — they are data, not errors)
    val input = MemoryStream[(Long, Long)]
    val q = StreamingExtract.enrichStream(
        input.toDS().toDF("event_id", "user_id"), dim, "user_id")
      .select("event_id", "user_id", "segment") // join-on-key reorders: key first
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode(OutputMode.Append).start()
    input.addData((100L, 1L), (101L, 9L))
    q.processAllAvailable()
    input.addData((102L, 2L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enrich_out")
      .as[(Long, Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(got == Seq((100L, 1L, Some("gold")), (101L, 9L, None), (102L, 2L, Some("basic"))),
      s"got $got")
    // an oversized "dimension" refuses the broadcast loudly, naming the knob
    val e = intercept[IllegalArgumentException] {
      StreamingExtract.enrichStream(batchEv, dim, "user_id", maxDimRows = 1)
    }
    assert(e.getMessage.contains("maxDimRows"), e.getMessage)
  }

  test("streaming rebalance equals batch rebalance row-for-row; stream side is stateless (VERDICT r7 #7)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus stats = the stored (domain, count) table a nightly stats job
    // writes; 60 web / 30 books / 10 code
    val corpus = ((0L until 60L).map((_, "web")) ++ (60L until 90L).map((_, "books")) ++
      (90L until 100L).map((_, "code"))).toDF("doc_id", "dom")
    val stats = corpus.groupBy($"dom").agg(org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("c"))
    val targets = Map("web" -> 0.4, "books" -> 0.4) // code unlisted -> share 0
    val batch = graft.operators.Sampling.rebalance(corpus, "doc_id", "dom", targets, salt = 9L)
      .select("doc_id", "dom", "keep_frac", "keep")
      .as[(Long, String, Double, Boolean)].collect().sortBy(_._1).toSeq
    // stream: same rows across TWO micro-batches, stats from the stored table
    val input = MemoryStream[(Long, String)]
    val q = graft.operators.Sampling.rebalanceStream(
        input.toDS().toDF("doc_id", "dom"), "doc_id", "dom", targets, stats, salt = 9L)
      .writeStream.format("memory").queryName("reb_out")
      .outputMode(OutputMode.Append).start()
    val rows = corpus.as[(Long, String)].collect().toSeq
    input.addData(rows.take(50): _*)
    q.processAllAvailable()
    input.addData(rows.drop(50): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("reb_out")
      .as[(Long, String, Double, Boolean)].collect().sortBy(_._1).toSeq
    assert(streamed == batch, "stream and batch rebalance must agree row-for-row")
    // stateless plan: the stream side is a pure projection — no Exchange, no
    // aggregation (the batch analog through rebalanceWith proves the shape)
    val counts = Seq(("web", 60L), ("books", 30L), ("code", 10L))
    val plan = graft.operators.Sampling.rebalanceWith(
      corpus, "doc_id", "dom", targets, counts, salt = 9L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Aggregate"),
      s"rebalanceWith must be stateless/narrow:\n${plan.take(600)}")
  }

  test("streaming kmeans assignment equals the batch assignment across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // block layout so the deterministic init seeds one centroid per direction
    // (see OperatorsSpec's kmeansAssign test)
    val dirs = Array(Array(10f, 0f, 0f), Array(0f, 10f, 0f), Array(0f, 0f, 10f))
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 60L).map { i =>
      (i, dirs((i / 20L).toInt).map(x => x + rnd.nextFloat() * 0.5f))
    }
    val batchDf = vecs.toDF("vec_id", "embedding")
    val centroids = graft.operators.Similarity.trainCentroids(batchDf, 3)
    val batch = graft.operators.Similarity.kmeansAssignWith(batchDf, centroids)
      .as[(Long, Int)].collect().toMap
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.operators.Similarity.kmeansAssignWith(
        input.toDS().toDF("vec_id", "embedding"), centroids)
      .writeStream.format("memory").queryName("kmeans_stream_out")
      .outputMode(OutputMode.Append).start()
    input.addData(vecs.take(25): _*)
    q.processAllAvailable()
    input.addData(vecs.drop(25): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("kmeans_stream_out").as[(Long, Int)].collect().toMap
    assert(streamed == batch, "stream and batch assignments diverge")
  }

  test("windowed metrics aggregate per payload kind with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val body = "some plain text content"
    val q = StreamingExtract.windowedMetrics(input.toDS(), "1 minute", "10 minutes")
      .writeStream.format("memory").queryName("metrics_out")
      .outputMode(OutputMode.Append).start()
    // n_chars counts code points, like its DuckDB twin and the manifests:
    // "a\uD83D\uDE00\u00E9" (a, U+1F600, e-acute) is 4 UTF-16 units and counts 3
    val astral = "a\uD83D\uDE00\u00E9"
    // two windows of plain turns, then advance the watermark past them
    input.addData(turn("c1", 0, body, "plain", 0), turn("c1", 1, body, "plain", 30),
      turn("c2", 0, astral, "plain", 45))
    q.processAllAvailable()
    input.addData(turn("c1", 2, body, "plain", 90))
    q.processAllAvailable()
    input.addData(turn("c1", 3, body, "plain", 5000)) // advances watermark, closes windows
    q.processAllAvailable()
    q.stop()
    val out = spark.table("metrics_out").select("payload_kind", "n_turns", "n_chars").collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[Long]("n_turns")).sum == 4) // first two windows emitted
    assert(out.map(_.getAs[Long]("n_chars")).sum == 3 * body.length + 3)
  }
}
