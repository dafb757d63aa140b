package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.core.{ExtractText, Pdf}
import graft.html.HtmlBoilerplate

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
}

class MiniPdfSpec extends AnyFunSuite {
  test("synthesized PDF round-trips byte-exactly through the extractor") {
    for (text <- Seq(
        "Hello, world!",
        "parens (nested (deep)) and \\ backslash",
        "multi\nline\ntext",
        SynthGen.prose(7L, 8, 40))) {
      val pdf = Pdf(MiniPdf.synthesize(text))
      assert(pdf.extract(ExtractText) == text)
    }
  }

  test("multi-Tj synthesis: same text, one span per chunk, substring invariant") {
    for ((text, chunk) <- Seq(("Hello, world!", 5), ("", 40),
        ("parens (nested (deep)) and \\ backslash", 7),
        (SynthGen.prose(11L, 10, 60), 40))) {
      val r = Pdf(MiniPdf.synthesizeMultiTj(text, chunk)).extractResult(ExtractText)
      assert(r.text == text, "multi-Tj must not change the extracted text")
      val expected = text.grouped(chunk).filter(_.nonEmpty).size
      assert(r.spans.length == expected, s"one span per non-empty $chunk-char chunk")
      r.spans.zipWithIndex.foreach { case (sp, i) =>
        assert(sp.op == "Tj")
        assert(sp.start == i * chunk && sp.end == math.min((i + 1) * chunk, text.length))
        assert(r.text.substring(sp.start, sp.end) == text.substring(sp.start, sp.end))
      }
    }
  }

  test("multi-page synthesis: pages join with newline, each page trims leading ' '/'\\n'") {
    def expected(text: String, chunk: Int): String = {
      val chunks = if (text.isEmpty) Seq("") else text.grouped(chunk).toSeq
      chunks.map(_.dropWhile(c => c == ' ' || c == '\n')).mkString("\n")
    }
    for ((text, chunk) <- Seq(("Hello, world!", 5), ("", 40),
        ("space boundary x yz", 6), // a chunk starting with ' ' gets page-trimmed
        ("line\nbreaks\ninside pages", 7),
        (SynthGen.prose(13L, 12, 50), 100))) {
      val got = Pdf(MiniPdf.synthesizeMultiPage(text, chunk)).extract(graft.core.ExtractText)
      assert(got == expected(text, chunk), s"chunk=$chunk text=$text")
    }
  }

  test("synthesized PDF raw content matches the content stream shape") {
    val raw = Pdf(MiniPdf.synthesize("Hi")).extract(graft.core.ExtractRawContent)
    assert(raw == "BT\n70 50 TD\n/F1 12 Tf\n(Hi) Tj\nET\n")
  }

  test("synthesized PDF info dictionary round-trips") {
    val info = Pdf(MiniPdf.synthesize("parens (x) and more text beyond the title cut")).readInfo
    assert(info.isDefined)
    assert(info.get.title == Some("parens (x) and more text"))
    assert(info.get.author == Some("graft"))
    assert(info.get.creator == Some("minipdf"))
  }

  test("chars mode emits per-glyph diagnostic lines (non-gated format)") {
    val out = Pdf(MiniPdf.synthesize("Hi")).extract(graft.core.ExtractChars)
    assert(out ==
      "'H', \"Type1\", \"Helvetica\", (1, 0, 0, 1, 70, 50)\n" +
      "'i', \"Type1\", \"Helvetica\", (1, 0, 0, 1, 70, 50)\n")
  }

  test("font mode lists the page fonts") {
    val out = Pdf(MiniPdf.synthesize("Hi")).extract(graft.core.ExtractFont)
    assert(out.contains("Subtype: \"Type1\""))
    assert(out.contains("BaseFont: \"Helvetica\""))
  }
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
  }

  test("manifests count rows and bytes; error rows count as rows with 0 bytes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest-counts").toString
    val rows = Seq(
      Turn("c1", 0, "user", "plain text here", "plain", new java.sql.Timestamp(0)),
      Turn("c1", 1, "user", "!!!bad", "pdf-b64", new java.sql.Timestamp(0))
    ).toDS()
    ExtractJob.runWithManifests(spark, rows, dir, shards = 4, partitions = 2)
    val ms = ExtractJob.manifests(spark, dir).collect()
    assert(ms.map(_.rows).sum == 2)
    assert(ms.map(_.bytes).sum == "plain text here".length)
    assert(ExtractJob.readOutput(spark, dir).where($"error".isNotNull).count() == 1)
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

  test("manifests: wide-wave wall_ms shares sum exactly to the wave wall (no overstated rates)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-wave-wall").toString
    val gen = SynthGen.generate(spark, 30, 4, 1, 200, includeFixturePdfs = false)
    val turns = SynthGen.turns(gen)
    val t0 = System.nanoTime()
    // one 8-shard wave: pre-fix every shard reported the FULL wave wall (8x
    // overstated total); the fix splits it byte-proportionally
    ExtractJob.runWithManifests(spark, turns, dir, shards = 8, partitions = 4, waveSize = 8)
    val jobMs = (System.nanoTime() - t0) / 1000000L
    val ms = ExtractJob.manifests(spark, dir).collect()
    assert(ms.length == 8 && ms.map(_.wave_id).distinct.length == 1, "one wave expected")
    val sumMs = ms.map(_.wall_ms).sum
    // the per-wave sum is the wave wall — bounded by the whole job's wall; the
    // old behavior (8x the wave wall) cannot satisfy this
    assert(sumMs <= jobMs, s"shard wall shares ($sumMs ms) exceed the job wall ($jobMs ms)")
    assert(sumMs > 0, "wave wall must be recorded")
    // proportionality: the byte-heaviest shard carries the largest share
    val byBytes = ms.sortBy(-_.bytes)
    assert(byBytes.head.wall_ms == ms.map(_.wall_ms).max,
      "largest shard must carry the largest wall share")
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
