package graft.pipeline

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, hash, input_file_name, length, lit, pmod, spark_partition_id, sum, xxhash64}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.html.HtmlBoilerplate

object SparkTestSession {
  lazy val spark: SparkSession = graft.SparkEnv.session("graft-test", 4)
}

class HtmlSpec extends AnyFunSuite {
  test("boilerplate strip keeps article text, drops nav/header/footer/aside/links") {
    val body = "the quick brown fox jumps over the lazy dog"
    val res = HtmlBoilerplate.extract(SynthGen.wrapHtml(body))
    assert(res.text == body)
    assert(res.spans == Vector(graft.core.Span("html", 0, body.length)))
  }

  test("entities decode and scripts are dropped") {
    val html = "<html><body><script>var x = '<p>no</p>';</script><p>a &amp; b &lt;c&gt; d e f</p></body></html>"
    assert(HtmlBoilerplate.extract(html).text == "a & b <c> d e f")
  }

  test("link-dense block outside containers is dropped") {
    val html = "<body><div><a href='x'>one two three four five six</a></div><p>real content stays right here ok</p></body>"
    assert(HtmlBoilerplate.extract(html).text == "real content stays right here ok")
  }

  test("script skip is case-insensitive and linear on script-heavy pages") {
    // mixed-case close tag must terminate the raw-text skip
    val mixed = "<body><script>var x=1;</SCRIPT><p>kept words one two three</p></body>"
    assert(HtmlBoilerplate.extract(mixed).text == "kept words one two three")
    // 5,000 script blocks: the old per-tag whole-document toLowerCase was O(n^2);
    // the regionMatches scan handles this instantly and correctly
    val heavy = new StringBuilder("<body>")
    (0 until 5000).foreach { i =>
      heavy.append(s"<script>var v$i = '<p>never emitted</p>';</script><p>block $i has five words</p>")
    }
    heavy.append("</body>")
    val res = HtmlBoilerplate.extract(heavy.toString)
    assert(res.text.linesIterator.size == 5000)
    assert(!res.text.contains("never emitted"))
  }

  test("multiple paragraphs join with newline and spans align") {
    val html = "<body><p>first paragraph has five words</p><p>second paragraph also has words</p></body>"
    val res = HtmlBoilerplate.extract(html)
    assert(res.text == "first paragraph has five words\nsecond paragraph also has words")
    res.spans.foreach(s => assert(!res.text.substring(s.start, s.end).contains("\n")))
  }
}

class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark

  /** The raw output table, its `shard` partition column included. */
  private def readOutputRaw(dir: String): DataFrame = spark.read.parquet(s"$dir/data")

  /** Shard partitions physically present in an output table. An all-empty
    * table has none: its writer leaves only `_SUCCESS`.
    */
  private def shardsPresent(dir: String): Set[Int] = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/data")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Set.empty
    else fs.listStatus(path).iterator
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("shard="))
      .map(_.getPath.getName.stripPrefix("shard=").toInt).toSet
  }

  /** The P7 oracle, the read-back the manifests used to be computed by:
    * per shard, `count` and `sum(length(extracted_text))` over the written
    * output.
    */
  private def readBackStats(dir: String): Map[Int, (Long, Long)] =
    if (shardsPresent(dir).isEmpty) Map.empty
    else readOutputRaw(dir).groupBy("shard")
      .agg(count(lit(1)), coalesce(sum(length(col("extracted_text"))), lit(0L)))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** Every manifest's `rows` and `bytes` equal the read-back, (0, 0) for a
    * shard with no output, and every shard with output has a manifest.
    */
  private def assertManifestsExact(dir: String): Unit = {
    val oracle = readBackStats(dir)
    val ms = ExtractJob.manifests(spark, dir).collect()
    ms.foreach { m =>
      assert((m.rows, m.bytes) == oracle.getOrElse(m.part_id, (0L, 0L)), s"$dir: shard ${m.part_id}")
    }
    assert(oracle.keySet.subsetOf(ms.map(_.part_id).toSet), s"$dir: shards without a manifest")
  }

  /** Parquet data files in each `shard=k` directory of an output table. */
  private def filesPerShard(dir: String): Map[Int, Int] = {
    val root = new org.apache.hadoop.fs.Path(s"$dir/data")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    shardsPresent(dir).map { k =>
      k -> fs.listStatus(new org.apache.hadoop.fs.Path(root, s"shard=$k"))
        .count(_.getPath.getName.endsWith(".parquet"))
    }.toMap
  }

  /** The output files whose rows, read back in file order, are not in
    * (conv_id, turn_idx) order.
    */
  private def unorderedFiles(dir: String): Seq[String] = {
    import spark.implicits._
    readOutputRaw(dir)
      .select(input_file_name(), $"conv_id", $"turn_idx").as[(String, String, Int)]
      .collect().toSeq.groupMap(_._1)(r => (r._2, r._3))
      .collect { case (f, keys) if keys != keys.sorted => f }
      .toSeq
  }

  /** Runs `body` with `listener` registered and returns once the listener
    * bus has delivered every event of `body`: the bus is FIFO, so once the
    * end of a marker job run after `body` arrives, everything before it has.
    */
  private def listening(listener: SparkListener)(body: => Unit): Unit = {
    val marker = s"drain-${System.nanoTime()}"
    @volatile var markerJob = -1
    @volatile var markerDone = false
    val drain = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.job.description") == marker)
          markerJob = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) markerDone = true
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.addSparkListener(drain)
    try {
      body
      sc.setJobDescription(marker)
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!markerDone && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerDone, "listener bus did not drain")
    } finally {
      sc.removeSparkListener(drain)
      sc.removeSparkListener(listener)
    }
  }

  /** An input in scrambled order: any order in the output comes from the job. */
  private def scrambled(turns: Dataset[Turn]): Dataset[Turn] = {
    import spark.implicits._
    turns.orderBy(xxhash64($"conv_id", $"turn_idx"))
  }

  test("golden gate: extraction matches expectations on the synthetic corpus") {
    import spark.implicits._
    val gen = SynthGen.generate(spark, nConvs = 60, turnsPerConv = 6, longConvs = 2, longTurns = 150).cache()
    val turns = SynthGen.turns(gen)
    val extracted = ExtractJob.extract(turns, partitions = 8)
    val diffs = ExtractJob.goldenDiff(extracted, SynthGen.golden(gen))
    val bad = diffs.limit(5).collect()
    assert(bad.isEmpty, s"golden mismatches: ${bad.mkString("\n")}")
    assert(extracted.count() == turns.count())
    gen.unpersist()
  }

  test("generator is deterministic across runs") {
    import spark.implicits._
    val a = SynthGen.generate(spark, 20, 5, 1, 50).collect().sortBy(r => (r.conv_id, r.turn_idx))
    val b = SynthGen.generate(spark, 20, 5, 1, 50).collect().sortBy(r => (r.conv_id, r.turn_idx))
    assert(a.toSeq == b.toSeq)
  }

  test("ordering stability: results identical under different partition counts") {
    import spark.implicits._
    val gen = SynthGen.generate(spark, 30, 5, 1, 80, includeFixturePdfs = false).cache()
    val turns = SynthGen.turns(gen)
    val r2 = ExtractJob.extract(turns, 2).orderBy("conv_id", "turn_idx")
      .select("conv_id", "turn_idx", "extracted_text").collect()
    val r8 = ExtractJob.extract(turns, 8).orderBy("conv_id", "turn_idx")
      .select("conv_id", "turn_idx", "extracted_text").collect()
    assert(r2.toSeq == r8.toSeq)
    gen.unpersist()
  }

  test("salted repartition bounds long-conversation share per partition") {
    import spark.implicits._
    val gen = SynthGen.generate(spark, 10, 4, 1, 400, includeFixturePdfs = false)
    val turns = SynthGen.turns(gen)
    val parts = ExtractJob.saltedRepartition(turns, 16)
      .mapPartitions(it => Iterator.single(it.count(_.conv_id == "conv-000010")))
      .collect()
    val total = parts.sum
    assert(total == 400)
    // without salting one partition would hold all 400; with SALT=64 over 16
    // partitions expect a roughly uniform spread
    assert(parts.max <= 100, s"skew not defeated: ${parts.mkString(",")}")
    // shard-aligned (the runWithManifests path): the conversation spreads over
    // the per = ceil(partitions / 8) partitions of its shard only, so a task
    // holds about 1/per of it; 64 partitions (per = 8) meet the bound above
    for ((partitions, bound) <- Seq(16 -> 250, 64 -> 100)) {
      val per = partitions / 8
      val aligned = ExtractJob.saltedRepartition(turns, partitions, 8, 0 until 8)
        .mapPartitions(it => Iterator.single(it.count(_.conv_id == "conv-000010")))
        .collect()
      assert(aligned.sum == 400 && aligned.count(_ > 0) == per, s"$partitions: ${aligned.mkString(",")}")
      assert(aligned.max <= bound, s"$partitions: skew not defeated: ${aligned.mkString(",")}")
    }
  }

  test("one-shard salted exchange keeps the layout of repartition(n, conv_id, salt)") {
    import spark.implicits._
    val turns = SynthGen.turns(SynthGen.generate(spark, 30, 4, 1, 200, includeFixturePdfs = false)).cache()
    def layout(ds: Dataset[Turn]): Set[(Int, String, Int)] =
      ds.select(spark_partition_id(), $"conv_id", $"turn_idx").as[(Int, String, Int)].collect().toSet
    for (n <- Seq(7, 16)) {
      val salted = ExtractJob.saltedRepartition(turns, n)
      val hashed = turns.repartition(n, $"conv_id", pmod(hash($"conv_id", $"turn_idx"), lit(ExtractJob.SALT)))
      assert(salted.rdd.getNumPartitions == n)
      val l = layout(salted)
      assert(l.map(_._1).size > 1, s"degenerate layout at $n")
      assert(l == layout(hashed), s"partitions differ at $n")
    }
    turns.unpersist()
  }

  test("shard-aligned salted exchange: wave.size * ceil(partitions / wave.size) partitions, one shard each") {
    import spark.implicits._
    val turns = SynthGen.turns(SynthGen.generate(spark, 40, 4, 1, 200, includeFixturePdfs = false)).cache()
    // a full wave, an offset contiguous wave and a non-contiguous wave (as a resume leaves)
    for ((shards, wave, partitions) <- Seq((8, 0 until 8, 12), (6, 3 until 6, 4), (6, Seq(0, 2, 5), 7))) {
      val shard = ExtractJob.shardOf(shards)
      val parts = ExtractJob.saltedRepartition(turns.where(shard.isin(wave: _*)), partitions, shards, wave)
        .select(spark_partition_id(), shard).as[(Int, Int)].collect()
      val per = (partitions + wave.size - 1) / wave.size
      val byPid = parts.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      assert(byPid.values.forall(_.size == 1), s"$wave: a partition holds several shards: $byPid")
      // partition ids are shard-major: slot(shard) * per until (slot + 1) * per,
      // the layout the P7 stats map back to shards through
      byPid.foreach { case (pid, ks) =>
        assert(wave.indexOf(ks.head) == pid / per, s"$wave: pid $pid")
        assert(ExtractJob.shardOfPartition(pid, partitions, wave) == ks.head, s"$wave: pid $pid")
      }
      assert(byPid.keySet.max < wave.size * per)
    }
    turns.unpersist()
  }

  test("runWithManifests: every file in (conv_id, turn_idx) order (P5), at most ceil(partitions / shards) files per shard") {
    val turns = scrambled(SynthGen.turns(
      SynthGen.generate(spark, 40, 5, 1, 120, includeFixturePdfs = false))).cache()
    val n = turns.count()
    for ((shards, partitions) <- Seq((4, 2), (8, 12), (3, 7))) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-p5-$shards-$partitions").toString
      ExtractJob.runWithManifests(spark, turns, dir, shards, partitions)
      assert(ExtractJob.readOutput(spark, dir).count() == n)
      val bad = unorderedFiles(dir)
      assert(bad.size == 0, s"($shards, $partitions): out of (conv_id, turn_idx) order: ${bad.take(3)}")
      val files = filesPerShard(dir)
      assert(files.size == shards && files.values.forall(_ <= (partitions + shards - 1) / shards),
        s"($shards, $partitions): files per shard $files")
    }
    turns.unpersist()
  }

  test("manifests count rows and bytes; error rows count as rows with 0 bytes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest-counts").toString
    // bytes counts characters (code points): "a\uD83D\uDE00\u00E9" (a, U+1F600,
    // e-acute) is 4 UTF-16 units and 7 UTF-8 bytes, and counts 3
    val chars = "a\uD83D\uDE00\u00E9"
    val rows = Seq(
      Turn("c1", 0, "user", "plain text here", "plain", new java.sql.Timestamp(0)),
      Turn("c1", 1, "user", "!!!bad", "pdf-b64", new java.sql.Timestamp(0)),
      Turn("c2", 0, "user", chars, "plain", new java.sql.Timestamp(0))
    ).toDS()
    ExtractJob.runWithManifests(spark, rows, dir, shards = 4, partitions = 2)
    val ms = ExtractJob.manifests(spark, dir).collect()
    assert(ms.map(_.rows).sum == 3)
    assert((chars.length, chars.getBytes("UTF-8").length) == (4, 7))
    assert(ms.map(_.bytes).sum == "plain text here".length + 3)
    assert(ExtractJob.readOutput(spark, dir).where($"error".isNotNull).count() == 1)
  }

  test("P7: manifest rows and bytes equal the read-back of the written output") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0)
    // an error row (0 bytes), a surrogate pair and a lone surrogate: Java's
    // codePointCount counts "a\uD83D\uDE00\u00E9" (a, U+1F600, e-acute) as 3
    // and "x\uD800y" as 3, and Spark's length must agree (the writer stores
    // the lone surrogate as '?')
    val special = Seq(
      Turn("p7-err", 0, "user", "!!!bad", "pdf-b64", ts),
      Turn("p7-pair", 0, "user", "a\uD83D\uDE00\u00E9", "plain", ts),
      Turn("p7-lone", 0, "user", "x\uD800y", "plain", ts)
    ).toDS()
    val turns = SynthGen.turns(SynthGen.generate(spark, 40, 5, 1, 120, includeFixturePdfs = false))
      .union(special).cache()
    val n = turns.count()
    for ((shards, partitions, waveSize) <- Seq((4, 2, Int.MaxValue), (8, 12, Int.MaxValue), (6, 4, 1))) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-p7-$shards-$partitions").toString
      ExtractJob.runWithManifests(spark, turns, dir, shards, partitions, waveSize = waveSize)
      assertManifestsExact(dir)
      val ms = ExtractJob.manifests(spark, dir).collect()
      assert(ms.length == shards && ms.map(_.rows).sum == n, s"($shards, $partitions, $waveSize)")
    }
    // all-empty waves: 16 shards over 3 conversations at waveSize 1
    val sparse = java.nio.file.Files.createTempDirectory("graft-p7-sparse").toString
    ExtractJob.runWithManifests(spark, special, sparse, shards = 16, partitions = 2, waveSize = 1)
    assertManifestsExact(sparse)
    assert(ExtractJob.manifests(spark, sparse).collect().count(_.rows == 0) >= 13)
    // an all-empty table: no shard directory is written, every manifest is (0, 0)
    val empty = java.nio.file.Files.createTempDirectory("graft-p7-empty").toString
    ExtractJob.runWithManifests(spark, special.limit(0), empty, shards = 3, partitions = 2)
    assert(shardsPresent(empty).isEmpty)
    assert(ExtractJob.manifests(spark, empty).collect().map(m => (m.part_id, m.rows, m.bytes)).sorted
      .toSeq == Seq((0, 0L, 0L), (1, 0L, 0L), (2, 0L, 0L)))
    turns.unpersist()
  }

  test("P7: stats sink updates come only from the write job's final stage") {
    // The sink is exact because the DAGScheduler applies a ResultTask's
    // accumulator updates once per output partition. local[4] allows no task
    // retries (Spark fixes local-mode maxFailures at 1), so that rule is not
    // exercised here; it is pinned structurally: every update must come from
    // a ResultTask of its job's final stage. An exchange after the extraction
    // map would move the updates into a ShuffleMapStage and fail this test.
    val finalStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val reports = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val parents = e.stageInfos.flatMap(_.parentIds).toSet
        e.stageInfos.map(_.stageId).filterNot(parents).foreach(finalStages.add(_))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskInfo.accumulables.exists(_.name.contains(ExtractJob.StatsSinkName)))
          reports.add((e.stageId, e.taskType))
    }
    val turns = SynthGen.turns(SynthGen.generate(spark, 40, 5, 0, 0, includeFixturePdfs = false))
    val dir = java.nio.file.Files.createTempDirectory("graft-p7-stage").toString
    listening(listener) {
      // two waves of 3 shards, each 3 * ceil(4 / 3) = 6 tasks
      ExtractJob.runWithManifests(spark, turns, dir, shards = 6, partitions = 4, waveSize = 3)
    }
    import scala.jdk.CollectionConverters._
    val rs = reports.asScala.toSeq
    assert(rs.map(_._2).toSet == Set("ResultTask"), s"stats updates from $rs")
    val stages = rs.map(_._1).toSet
    assert(stages.size == 2 && stages.forall(finalStages.contains), s"stages $stages, final $finalStages")
    assert(rs.size == 12, s"one update per write task: $rs")
    assertManifestsExact(dir)
  }

  test("manifests: shards with no input commit 0-row done manifests (empty-wave path)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-shards").toString
    // 2 conversations over 16 shards: most shards are empty; with waveSize=1
    // some waves write no partition files at all
    val gen = SynthGen.generate(spark, 2, 3, 0, 0, includeFixturePdfs = false)
    val turns = SynthGen.turns(gen)
    ExtractJob.runWithManifests(spark, turns, dir, shards = 16, partitions = 2, waveSize = 1)
    val ms = ExtractJob.manifests(spark, dir).collect()
    assert(ms.length == 16, s"all shards must commit: ${ms.length}")
    assert(ms.forall(_.status == "done"))
    assert(ms.map(_.rows).sum == turns.count())
    // idempotent rerun stays a no-op
    ExtractJob.runWithManifests(spark, turns, dir, shards = 16, partitions = 2)
    assert(ExtractJob.manifests(spark, dir).count() == 16)
  }

  test("manifests: each shard's wall_ms is within its write tasks' run time") {
    // wall_ms is measured in the write tasks themselves, so it can never
    // exceed what Spark's own task metrics say those tasks ran; a wave wall
    // timed around the whole write (scan and exchange stage and job commit
    // included) and split across shards can
    val runTimes = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long)]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskInfo.accumulables.exists(_.name.contains(ExtractJob.StatsSinkName)))
          runTimes.add((e.stageId, e.taskInfo.partitionId, e.taskMetrics.executorRunTime))
    }
    val turns = SynthGen.turns(SynthGen.generate(spark, 30, 4, 1, 200, includeFixturePdfs = false)).cache()
    for ((shards, partitions, waveSize) <- Seq((4, 1, 1), (8, 4, Int.MaxValue))) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-wall-$shards-$partitions").toString
      runTimes.clear()
      listening(listener) {
        ExtractJob.runWithManifests(spark, turns, dir, shards, partitions, waveSize = waveSize)
      }
      import scala.jdk.CollectionConverters._
      // one write stage per wave, in wave order; each task holds one shard
      val waves = (0 until shards).grouped(waveSize).toSeq
      val stages = runTimes.asScala.map(_._1).toSeq.distinct.sorted
      assert(stages.length == waves.length, s"($shards, $partitions): stages $stages")
      val taskMs: Map[Int, Long] = runTimes.asScala.toSeq.groupMapReduce { case (stage, pid, _) =>
        ExtractJob.shardOfPartition(pid, partitions, waves(stages.indexOf(stage)))
      }(_._3)(_ + _)
      val ms = ExtractJob.manifests(spark, dir).collect()
      assert(ms.length == shards, s"($shards, $partitions)")
      ms.foreach { m =>
        assert(m.wall_ms <= taskMs.getOrElse(m.part_id, 0L),
          s"($shards, $partitions): shard ${m.part_id} wall_ms ${m.wall_ms} > task time ${taskMs.get(m.part_id)}")
      }
      ms.groupBy(_.wave_id).foreach { case (w, g) =>
        assert(g.map(_.wall_ms).sum > 0, s"($shards, $partitions): wave $w recorded no time")
      }
    }
    turns.unpersist()
  }

  test("checkpoint manifests: resume after injected failure completes identically") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-resume").toString
    val gen = SynthGen.generate(spark, 40, 5, 0, 0, includeFixturePdfs = false).cache()
    val turns = SynthGen.turns(gen).cache()
    val direct = ExtractJob.extract(turns, 4)
      .orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "extracted_text").collect()

    // a plain path and a URI outDir (file:/...) must both resume: a java.io
    // probe of a URI never finds the manifests, so a rerun re-extracts every
    // shard and appends a second manifest per shard
    for (dir <- Seq(s"$tmp/path", new java.io.File(s"$tmp/uri").toURI.toString)) {
      // crash run at waveSize=1 (shard-granular commits) so exactly 3 shards land
      val failed = intercept[RuntimeException] {
        ExtractJob.runWithManifests(spark, turns, dir, shards = 6, partitions = 4,
          failAtShard = 3, waveSize = 1)
      }
      assert(failed.getMessage.contains("injected failure"), dir)
      val doneBefore = ExtractJob.completedShards(spark, dir)
      assert(doneBefore.size == 3, dir)

      // resume with the default single-wave (one input scan) path
      ExtractJob.runWithManifests(spark, turns, dir, shards = 6, partitions = 4)
      assert(ExtractJob.completedShards(spark, dir).size == 6, dir)
      // the resumed wave (shards 3-5) puts one shard in each task, so each
      // resumed shard holds at most ceil(4 / 3) = 2 files
      val resumed = filesPerShard(dir).filter { case (k, _) => !doneBefore(k) }
      assert(resumed.size == 3 && resumed.values.forall(_ <= 2), s"$dir: $resumed")

      val out = ExtractJob.readOutput(spark, dir)
        .orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "extracted_text").collect()
      assert(out.toSeq == direct.toSeq, dir)

      // extraction-rate metrics intact: every shard has rows + wall time
      val ms = ExtractJob.manifests(spark, dir).collect()
      assert(ms.groupBy(_.part_id).values.forall(_.length == 1), s"one manifest per part_id: $dir")
      assert(ms.length == 6 && ms.forall(m => m.rows > 0 && m.wall_ms >= 0 && m.status == "done"), dir)
      assert(ms.map(_.rows).sum == turns.count(), dir)
    }
    gen.unpersist(); turns.unpersist()
  }

  test("resume over non-contiguous committed shards writes one shard per task") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-resume-gaps").toString
    val turns = SynthGen.turns(SynthGen.generate(spark, 40, 5, 0, 0, includeFixturePdfs = false)).cache()
    val full = s"$tmp/full"
    ExtractJob.runWithManifests(spark, turns, full, shards = 6, partitions = 4)
    // commit shards 1 and 4 only, so the resumed wave is (0, 2, 3, 5)
    val dir = s"$tmp/gaps"
    ParquetTableIO.writeShards(readOutputRaw(full).where($"shard".isin(1, 4)), dir)
    ParquetTableIO.appendManifests(spark, dir,
      ExtractJob.manifests(spark, full).collect().filter(m => m.part_id == 1 || m.part_id == 4).toSeq)
    ExtractJob.runWithManifests(spark, scrambled(turns), dir, shards = 6, partitions = 4)
    assert(ExtractJob.completedShards(spark, dir) == (0 until 6).toSet)
    def rows(d: String) = ExtractJob.readOutput(spark, d)
      .orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "extracted_text").collect().toSeq
    assert(rows(dir) == rows(full))
    val resumed = filesPerShard(dir).filter { case (k, _) => k != 1 && k != 4 }
    assert(resumed.size == 4 && resumed.values.forall(_ == 1), s"ceil(4 / 4) = 1 file per shard: $resumed")
    assert(unorderedFiles(dir).size == 0)
    // the resumed wave's manifests count its own shards exactly
    assertManifestsExact(dir)
    turns.unpersist()
  }

  test("compaction: fewer files, identical data, manifests and resume state untouched") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val gen = SynthGen.generate(spark, 40, 5, 0, 0, includeFixturePdfs = false).cache()
    val turns = SynthGen.turns(gen).cache()
    // waveSize=1 writes each shard in its own pass -> many small files
    ExtractJob.runWithManifests(spark, turns, dir, shards = 6, partitions = 4, waveSize = 1)
    val before = ExtractJob.readOutput(spark, dir)
      .orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "extracted_text").collect()
    val report = Compaction.compactOutput(spark, dir, targetBytes = 1024L * 1024 * 1024)
    // a 1GB target on a tiny corpus -> exactly one file per shard
    assert(report.filesAfter < report.filesBefore || report.filesBefore <= 6,
      s"no compaction happened: $report")
    assert(report.filesAfter <= 6, s"expected <= 1 file per shard: $report")
    assert(report.rows == turns.count())
    // data byte-identical, row for row
    val after = ExtractJob.readOutput(spark, dir)
      .orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "extracted_text").collect()
    assert(after.toSeq == before.toSeq)
    // manifests (resume state) untouched: still 6 done shards
    assert(ExtractJob.completedShards(spark, dir).size == 6)
    // a stale mid-swap leftover refuses to run with recovery instructions
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/.data_old"))
    val e = intercept[IllegalStateException] {
      Compaction.compactOutput(spark, dir, targetBytes = 1024L * 1024 * 1024)
    }
    assert(e.getMessage.contains("restore one full copy"), e.getMessage)
    gen.unpersist(); turns.unpersist()
  }

  /** (column path, has a dictionary page) of every column chunk the data
    * files under `dir/data` hold, read from the parquet footers.
    */
  private def dictionaryPages(dir: String): Seq[(String, Boolean)] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val data = new org.apache.hadoop.fs.Path(s"$dir/data")
    val files = data.getFileSystem(conf).listFiles(data, true)
    val out = Seq.newBuilder[(String, Boolean)]
    while (files.hasNext) {
      val f = files.next().getPath
      if (f.getName.endsWith(".parquet")) {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
        try reader.getFooter.getBlocks.asScala.foreach(_.getColumns.asScala.foreach { c =>
          out += c.getPath.toDotString -> c.hasDictionaryPage
        })
        finally reader.close()
      }
    }
    out.result()
  }

  test("writer: extracted_text has no dictionary page, conv_id and spans.op keep theirs, also after compaction") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dictionary").toString
    // four texts repeated over 400 rows: parquet-mr would dictionary-encode them
    val texts = Seq("the same text", "another repeated text", "a third one", "and a fourth")
    val ts = new java.sql.Timestamp(0)
    val turns = (0 until 400).map(i => Turn(f"c${i % 10}%02d", i / 10, "user", texts(i % 4), "plain", ts)).toDS()
    ExtractJob.runWithManifests(spark, turns, dir, shards = 2, partitions = 2)
    def check(when: String): Unit = {
      val byColumn = dictionaryPages(dir).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      assert(byColumn.get("extracted_text").contains(Set(false)), s"$when: $byColumn")
      assert(byColumn.get("conv_id").contains(Set(true)), s"$when: $byColumn")
      val ops = byColumn.keySet.filter(k => k.startsWith("spans.") && k.endsWith(".op"))
      assert(ops.nonEmpty && ops.forall(k => byColumn(k) == Set(true)), s"$when: $byColumn")
    }
    check("written")
    Compaction.compactOutput(spark, dir, targetBytes = 1024L * 1024 * 1024)
    check("compacted")
  }

  test("compaction fails fast on non-shard-partitioned or empty data dirs (round 6)") {
    import spark.implicits._
    // a plain parquet dir without shard= partition dirs: refuse BEFORE any
    // read (the old behavior silently sized to 1 bucket and failed only at
    // write time, after a full scan)
    val flat = java.nio.file.Files.createTempDirectory("graft-flatdir").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$flat/data")
    val e1 = intercept[IllegalArgumentException] {
      Compaction.compactOutput(spark, flat, targetBytes = 1024L * 1024 * 1024)
    }
    assert(e1.getMessage.contains("no shard="), e1.getMessage)
    // an empty data dir refuses with its own message
    val empty = java.nio.file.Files.createTempDirectory("graft-emptydir").toString
    new java.io.File(s"$empty/data").mkdirs()
    val e2 = intercept[IllegalArgumentException] {
      Compaction.compactOutput(spark, empty, targetBytes = 1024L * 1024 * 1024)
    }
    assert(e2.getMessage.contains("no parquet data files"), e2.getMessage)
    // an unparseable shard=<non-int> dir name names itself in the error
    val bad = java.nio.file.Files.createTempDirectory("graft-baddir").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$bad/data/shard=oops")
    val e3 = intercept[IllegalArgumentException] {
      Compaction.compactOutput(spark, bad, targetBytes = 1024L * 1024 * 1024)
    }
    assert(e3.getMessage.contains("shard=oops"), e3.getMessage)
  }

  test("manifests written by an older engine version (no wave_id) still resume") {
    import spark.implicits._
    // a live deployment upgrades mid-job: the _manifests dir holds rows from
    // the pre-wave_id schema; resume must read them (wave -1) instead of
    // failing analysis
    val dir = java.nio.file.Files.createTempDirectory("graft-oldmanifest").toString
    Seq((0, 17, 100L, 1000L, 50L, "done"))
      .toDF("part_id", "conv_salt", "rows", "bytes", "wall_ms", "status")
      .write.parquet(s"$dir/_manifests")
    val ms = ParquetTableIO.readManifests(spark, dir).collect()
    assert(ms.toSeq == Seq(PartManifest(0, 17, 100L, 1000L, 50L, -1, "done")))
    assert(ExtractJob.completedShards(spark, dir) == Set(0))
  }
}
