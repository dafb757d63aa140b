package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextFunctions
import graft.pipeline.SparkTestSession

/** Gates for the operators that have no SQL oracle: brute-force comparisons and
  * invariants run on the driver's sf0.001 tables.
  */
class OperatorsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val docs: Array[(Long, String)] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
  }

  test("minhash LSH near-dups: finds every exact duplicate and only >=threshold pairs") {
    import spark.implicits._
    val df = spark.read.parquet(s"$sfDir/documents.parquet").select($"doc_id", $"text")
    val dupes = df.union(df.select(($"doc_id" + 10000).as("doc_id"), $"text"))
    val found = Dedup.minhashNearDups(dupes, "text", "doc_id", threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // every constructed exact duplicate pair must be found (jaccard 1.0 -> every band agrees)
    docs.foreach { case (id, _) => assert(found.contains((id, id + 10000)), s"missed exact dup $id") }
    // verification step guarantees precision: spot-check reported pairs are truly >= 0.8
    val byId = docs.toMap ++ docs.map { case (id, t) => (id + 10000, t) }.toMap
    found.take(50).foreach { case (a, b) =>
      val j = Dedup.exactJaccard(Dedup.shingles(byId(a), 3), Dedup.shingles(byId(b), 3))
      assert(j >= 0.8, s"pair ($a,$b) below threshold: $j")
    }
  }

  test("minhash signature approximates jaccard") {
    val a = Dedup.shingles(docs(0)._2, 3)
    val b = Dedup.shingles(docs(0)._2 + " extra words here", 3)
    val sa = Dedup.minhashSignature(a, 256)
    val sb = Dedup.minhashSignature(b, 256)
    val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / 256
    val exact = Dedup.exactJaccard(a, b)
    assert(math.abs(est - exact) < 0.15, s"est=$est exact=$exact")
  }

  test("ngram-jaccard near-dups: bottom-k sketch finds every exact dup; verify is exact") {
    import spark.implicits._
    val df = spark.read.parquet(s"$sfDir/documents.parquet").select($"doc_id", $"text")
    val dupes = df.union(df.select(($"doc_id" + 10000).as("doc_id"), $"text"))
    val found = Dedup.ngramJaccardNearDups(dupes, "text", "doc_id", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    docs.foreach { case (id, _) => assert(found.contains((id, id + 10000)), s"missed exact dup $id") }
    val byId = docs.toMap ++ docs.map { case (id, t) => (id + 10000, t) }.toMap
    found.take(50).foreach { case (a, b) =>
      val j = Dedup.exactJaccard(Dedup.ngramShingles(byId(a)), Dedup.ngramShingles(byId(b)))
      assert(j >= 0.9, s"pair ($a,$b) below threshold: $j")
    }
    // char n-grams survive a tokenization-breaking edit that word shingles miss:
    // removing spaces keeps most 5-gram overlap at ~zero word-shingle overlap
    val t0 = docs(0)._2
    val squashed = t0.replace(" ", "")
    assert(Dedup.exactJaccard(Dedup.ngramShingles(t0), Dedup.ngramShingles(squashed)) >
      Dedup.exactJaccard(Dedup.shingles(t0, 3), Dedup.shingles(squashed, 3)))
    // the sketch-equality prefilter is exact at set-equality thresholds: same
    // pairs with it on (set equality implies sketch equality)
    val strict = Dedup.ngramJaccardNearDups(dupes, "text", "doc_id", threshold = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val prefiltered = Dedup.ngramJaccardNearDups(dupes, "text", "doc_id", threshold = 0.999,
      sketchEqualityPrefilter = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(prefiltered == strict, "prefilter must not change set-equality results")
  }

  test("simhash near-dups: identical docs have hamming 0; pigeonhole catches hamming<=3") {
    import spark.implicits._
    val df = spark.read.parquet(s"$sfDir/documents.parquet").select($"doc_id", $"text")
    val dupes = df.union(df.select(($"doc_id" + 10000).as("doc_id"), $"text"))
    val pairs = Dedup.simhashNearDups(dupes, "text", "doc_id")
      .as[(Long, Long, Long)].collect()
    val asMap = pairs.map(p => ((p._1, p._2), p._3)).toMap
    docs.foreach { case (id, _) =>
      assert(asMap.get((id, id + 10000)).contains(0L), s"exact dup $id not at hamming 0")
    }
    // brute-force completeness on the raw corpus: all hamming<=3 pairs found
    val hashes = docs.map { case (id, t) => (id, Dedup.simhash64(t)) }
    val brute = (for {
      i <- hashes.indices.iterator
      j <- (i + 1) until hashes.length
      h = java.lang.Long.bitCount(hashes(i)._2 ^ hashes(j)._2)
      if h <= 3
    } yield (hashes(i)._1, hashes(j)._1)).toSet
    val foundRaw = pairs.collect { case (a, b, _) if a < 10000 && b < 10000 => (a, b) }.toSet
    assert(brute.subsetOf(foundRaw), s"pigeonhole missed ${(brute -- foundRaw).take(5)}")
  }

  test("ann brute-force matches a local exact computation") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val vecs = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    val got = Similarity.bruteTopK(emb, 0L until 3L, 5)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val byId = vecs.toMap
    (0L until 3L).foreach { qid =>
      val expected = vecs.filter(_._1 != qid)
        .map { case (id, v) => (id, Similarity.cosine(byId(qid), v)) }
        .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSeq
      assert(got(qid) == expected, s"query $qid")
    }
  }

  test("ann brute top-k is partition-invariant (heap merge is exact)") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val expected = Similarity.bruteTopK(emb, 0L until 5L, 7)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSeq
      .sortBy(r => (r._1, r._2))
    for (parts <- Seq(1, 3, 17)) {
      val got = Similarity.bruteTopK(emb.repartition(parts), 0L until 5L, 7)
        .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSeq
        .sortBy(r => (r._1, r._2))
      assert(got == expected, s"top-k differs at $parts partitions")
    }
  }

  test("ann IVF (trained centroids, spill=2, cell-partitioned): recall >= 0.9 at nprobe=4") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val brute = Similarity.bruteTopK(emb, 0L until 10L, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // the driver's embeddings are uniform-random (no cluster structure), so high
    // recall at nprobe=4 needs the 8-cell config; on clustered corpora 16+ cells
    // prune much harder at the same recall (see ivfBuildIndex scaladoc)
    val ivf = Similarity.ivfTopK(emb, 0L until 10L, 5, nCells = 8, nprobe = 4, spill = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"IVF recall too low: $recall")
    assert(ivf.size == brute.size)
  }

  test("ivfProbe candidate dump: universe matches probed cells; probe = exact top-k over it") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-cand").toString
    val queryIds = 0L until 10L
    val k = 5
    Similarity.ivfBuildIndex(emb, dir, nCells = 8, spill = 2)
    val got = Similarity.ivfProbe(spark, dir, queryIds, k = k, nprobe = 4,
        candidatesOut = Some(s"$dir/cand"))
      .select("query_id", "rank", "neighbor_id", "sim")
      .as[(Long, Int, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._3, r._4)).toSeq).toMap
    val cand = spark.read.parquet(s"$dir/cand")
      .as[(Long, Long)].collect().toSeq
    // 1. dump invariants: distinct pairs, no self-pairs, every candidate's
    //    assigned cell set intersects the query's probed cell set (re-derive
    //    probe cells from the index's own centroids, exactly like ivfProbe)
    assert(cand.distinct.size == cand.size, "duplicate candidate pairs in dump")
    assert(cand.forall { case (q, c) => q != c }, "self-pair in candidate dump")
    val centroids = spark.read.parquet(s"$dir/centroids")
      .as[(Int, Array[Float])].collect().sortBy(_._1)
    val byId = emb.select(org.apache.spark.sql.functions.col("vec_id").cast("long"), org.apache.spark.sql.functions.col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    val probeCells: Map[Long, Set[Int]] = queryIds.map { qid =>
      qid -> centroids.map { case (ci, cv) => (ci, Similarity.cosine(cv, byId(qid))) }
        .sortBy { case (ci, s) => (-s, ci) }.take(4).map(_._1).toSet
    }.toMap
    val cellsOf: Map[Long, Set[Int]] = spark.read.parquet(s"$dir/data")
      .select(org.apache.spark.sql.functions.col("id"), org.apache.spark.sql.functions.col("cell")).as[(Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    cand.foreach { case (q, c) =>
      assert((cellsOf(c) & probeCells(q)).nonEmpty, s"candidate $c not in $q's probed cells")
    }
    // completeness: every indexed id whose cells hit the probe set IS in the dump
    queryIds.foreach { q =>
      val expectedUniverse = cellsOf.collect {
        case (id, cells) if id != q && (cells & probeCells(q)).nonEmpty => id
      }.toSet
      val dumped = cand.filter(_._1 == q).map(_._2).toSet
      assert(dumped == expectedUniverse, s"query $q universe mismatch")
    }
    // 2. the oracle contract: exact top-k cosine over exactly the dumped pairs
    //    equals the probe output, ranks and sims included
    queryIds.foreach { q =>
      val exact = cand.filter(_._1 == q).map(_._2)
        .map(c => (c, Similarity.cosine(byId(q), byId(c))))
        .sortBy { case (id, s) => (-s, id) }.take(k).toSeq
      assert(got(q) == exact, s"query $q: probe != exact top-k over dumped universe")
    }
  }

  test("ann IVF on a clustered corpus: recall >= 0.9 while probing a strict cell fraction") {
    import spark.implicits._
    // the driver's embeddings are uniform-random, where NO coarse quantizer can
    // prune (ivfBuildIndex scaladoc caveat) — this gate evidences the pruning
    // claim on a corpus where pruning is possible: 32 planted clusters, points
    // = center + small noise, so a query's neighbors share its cluster and its
    // top-nprobe cells cover them
    val rnd = new scala.util.Random(123)
    val dim = 32
    val centers = Array.fill(32)(Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
    val rows = (0 until 2000).map { i =>
      val c = centers(i % 32)
      (i.toLong, c.map(v => v + (rnd.nextDouble() * 0.1 - 0.05).toFloat))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-clustered").toString
    Similarity.ivfBuildIndex(emb, dir, nCells = 16, spill = 2)
    val queryIds = 0L until 10L
    val brute = Similarity.bruteTopK(emb, queryIds, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val nprobe = 2
    val ivf = Similarity.ivfProbe(spark, dir, queryIds, k = 5, nprobe = nprobe)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"clustered-corpus IVF recall too low at nprobe=$nprobe: $recall")
    // pruning evidence: the union of the queries' probe cells is a strict
    // fraction of the index (re-derive the probe list from the index's own
    // centroids, exactly like ivfProbe does)
    val centroids = spark.read.parquet(s"$dir/centroids")
      .as[(Int, Array[Float])].collect().sortBy(_._1)
    val qVecs = rows.take(10)
    val probed = qVecs.flatMap { case (_, qv) =>
      centroids.map { case (ci, cv) => (ci, Similarity.cosine(cv, qv)) }
        .sortBy { case (ci, s) => (-s, ci) }.take(nprobe).map(_._1)
    }.toSet
    assert(probed.size < 16, s"probe set must prune cells, probed ${probed.size}/16")
    // scanned-row fraction: probed partitions hold a strict subset of the corpus
    val scanned = spark.read.parquet(s"$dir/data")
      .where(org.apache.spark.sql.functions.col("cell").isin(probed.toSeq: _*)).count()
    val total = spark.read.parquet(s"$dir/data").count()
    assert(scanned < total, s"pruned scan must skip rows: $scanned/$total")
  }

  test("ann IVF index layout is cell-partitioned and probes prune partitions") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-layout").toString
    Similarity.ivfBuildIndex(emb, dir, nCells = 16)
    val cellDirs = new java.io.File(s"$dir/data").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.length > 1, "index must be hive-partitioned by cell")
    // the probe plan must push the cell filter to the scan as a partition filter
    val probe = Similarity.ivfProbe(spark, dir, 0L until 3L, k = 5, nprobe = 4)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"probe scan should partition-prune on cell:\n${plan.take(2000)}")
  }

  test("incremental minhash probe: finds exactly the cross-slice near-dups, capped and observable") {
    import spark.implicits._
    val df = spark.read.parquet(s"$sfDir/documents.parquet").select($"doc_id", $"text")
    // corpus = the originals (fingerprinted once); new slice = exact copies of
    // HALF the corpus (ids +10000) plus unrelated docs (ids +20000, reversed
    // word order kills 3-shingle overlap for texts > a few words)
    val corpus = df
    val copies = df.where($"doc_id" % 2 === 0)
      .select(($"doc_id" + 10000).as("doc_id"), $"text")
    val unrelated = df.where($"doc_id" % 2 === 1)
      .select(($"doc_id" + 20000).as("doc_id"),
        org.apache.spark.sql.functions.array_join(
          org.apache.spark.sql.functions.reverse(
            org.apache.spark.sql.functions.split($"text", " ")), " ").as("text"))
    val fresh = copies.union(unrelated)
    val index = Dedup.minhashIndex(corpus, "text", "doc_id")
    val found = Dedup.minhashProbe(fresh, index, corpus, "text", "doc_id", threshold = 0.999)
      .select("id_new", "id_corpus").as[(Long, Long)].collect().toSet
    // every planted copy matches its original (J=1.0 -> every band collides)
    docs.filter(_._1 % 2 == 0).foreach { case (id, _) =>
      assert(found.contains((id + 10000, id)), s"missed planted copy of $id")
    }
    // precision at threshold 0.999: only set-equal texts qualify
    val byId = docs.toMap
    found.foreach { case (n, c) =>
      val t = if (n >= 20000) byId(n - 20000).split(" ").reverse.mkString(" ") else byId(n - 10000)
      assert(Dedup.exactJaccard(Dedup.shingles(t, 3), Dedup.shingles(byId(c), 3)) >= 0.999,
        s"pair ($n,$c) below threshold")
    }
    // the probe's index prune must be a broadcast semi join, and no plan node
    // may fall back to a nested-loop/cartesian strategy
    val plan = Dedup.minhashProbe(fresh, index, corpus, "text", "doc_id", threshold = 0.999)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), s"index prune not broadcast-semi:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), "banned join strategy")
    // cap observability on a degenerate index (every corpus row identical)
    val deg = (0 until 200).map(i => (i.toLong, "the same text in every single row")).toDF("doc_id", "text")
    val probe1 = Seq((9999L, "the same text in every single row")).toDF("doc_id", "text")
    val obs = new org.apache.spark.sql.Observation("probe-trunc")
    val hits = Dedup.minhashProbe(probe1, Dedup.minhashIndex(deg, "text", "doc_id"), deg,
      "text", "doc_id", threshold = 0.999, maxBucket = 50, obs = Some(obs)).count()
    assert(hits <= 50, s"candidate blowup not capped: $hits")
    assert(obs.get("truncated_buckets").asInstanceOf[Long] > 0, "truncation must be reported")
  }

  test("minhashIndex: build-time maxBucket caps buckets with observable truncation (ADVICE r7)") {
    import spark.implicits._
    // 200 identical docs: every (band, bkey) bucket holds 200 ids uncapped
    val deg = (0 until 200).map(i => (i.toLong, "the same text in every single row")).toDF("doc_id", "text")
    val obs = new org.apache.spark.sql.Observation("index-trunc")
    val capped = Dedup.minhashIndex(deg, "text", "doc_id", maxBucket = Some(25), obs = Some(obs))
    val maxPerBucket = capped.groupBy("band", "bkey").count()
      .agg(org.apache.spark.sql.functions.max("count")).as[Long].head()
    assert(maxPerBucket <= 25, s"bucket escaped the build-time cap: $maxPerBucket")
    assert(obs.get("truncated_buckets").asInstanceOf[Long] > 0, "truncation must be reported")
    // deterministic survivors: the FIRST ids in sorted order stay, so the
    // batch probe over the capped index still finds the planted originals
    val probe1 = Seq((9999L, "the same text in every single row")).toDF("doc_id", "text")
    val found = Dedup.minhashProbe(probe1, capped, deg, "text", "doc_id", threshold = 0.999)
      .select("id_corpus").as[Long].collect().toSet
    assert(found.nonEmpty && found.forall(_ < 25), s"capped index survivors wrong: $found")
  }

  test("duplicateRuns: hand-built runs merge as islands; unique segments emit nothing") {
    import spark.implicits._
    // segTokens = 2. doc1: segments [a b][c d][e f][g h][zz qq]
    //               doc2: segments [a b][c d][x y][g h][e f]
    // duplicated seg texts: "a b", "c d", "g h", "e f"
    // doc1 islands: segs 0,1,2,3 -> ONE run (start 0, len 4, tokens 8)
    // doc2 islands: segs 0,1 and 3,4 -> runs (0,2,4) and (3,2,4)
    val docs = Seq(
      (1L, "a b c d e f g h zz qq"),
      (2L, "a b c d x y g h e f"),
      (3L, "only unique words here nine more pad tail")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateRuns(docs, "text", "doc_id", segTokens = 2)
      .as[(Long, Int, Int, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(out == Seq((1L, 0, 4, 8L), (2L, 0, 2, 4L), (2L, 3, 2, 4L)), s"got $out")
    // remainder tokens counted exactly: two docs sharing a 3-token text at
    // width 2 -> one run of 2 segments, 3 tokens
    val rem = Dedup.duplicateRuns(
      Seq((1L, "p q r"), (2L, "p q r")).toDF("doc_id", "text"), "text", "doc_id", segTokens = 2)
      .as[(Long, Int, Int, Long)].collect().toSet
    assert(rem == Set((1L, 0, 2, 3L), (2L, 0, 2, 3L)), s"got $rem")
    // within-doc repetition alone is NOT a cross-doc duplicate (minDocs counts
    // DISTINCT docs)
    val self = Dedup.duplicateRuns(
      Seq((1L, "r s r s"), (2L, "t u v w")).toDF("doc_id", "text"), "text", "doc_id", segTokens = 2)
    assert(self.count() == 0)
  }

  test("winnowProbe: planted containment found from the index alone; screen is slice-stable") {
    import spark.implicits._
    val df = spark.read.parquet(s"$sfDir/documents.parquet").select($"doc_id", $"text")
    def doubled(ids: Long => Boolean) = df.filter(r => ids(r.getLong(0)))
      .select(($"doc_id" + 10000).as("doc_id"),
        org.apache.spark.sql.functions.concat($"text",
          org.apache.spark.sql.functions.lit(" "), $"text").as("text"))
    // at the defaults, and with the index and the probe both at other (k, w)
    Seq((8, 4), (5, 3)).foreach { case (k, w) =>
      val index = Dedup.winnowIndex(df, "text", "doc_id", k, w)
      val sliceA = doubled(_ < 10)
      val obs = org.apache.spark.sql.Observation()
      val outA = Dedup.winnowProbe(sliceA, index, "text", "doc_id", k, w, obs = Some(obs))
        .select("id_new", "id_corpus", "overlap").as[(Long, Long, Double)].collect()
      val pairsA = outA.map { case (n, c, _) => (n, c) }.toSet
      (0L until 10L).foreach { id =>
        assert(pairsA.contains((id + 10000, id)), s"missed planted containment $id at k=$k w=$w")
      }
      outA.filter { case (n, c, _) => n == c + 10000 }.foreach { case (n, _, ov) =>
        assert(ov == 1.0, s"planted pair $n containment $ov != 1.0 at k=$k w=$w")
      }
      assert(obs.get("stop_fps").asInstanceOf[Long] > 0, "tiny-vocab corpus must have stop fps")
      // slice stability: the same pair scores identically however big the slice
      // is (df comes from the CORPUS index only, never the slice)
      val outAB = Dedup.winnowProbe(doubled(_ < 40), index, "text", "doc_id", k, w)
        .select("id_new", "id_corpus", "overlap").as[(Long, Long, Double)].collect()
        .map { case (n, c, ov) => ((n, c), ov) }.toMap
      outA.foreach { case (n, c, ov) =>
        assert(outAB.get((n, c)).contains(ov), s"pair ($n,$c) score changed with slice size")
      }
    }
  }

  test("winnowProbe: maxStopFps guard fires loudly on an all-hot-fp corpus (VERDICT r7 #6)") {
    import spark.implicits._
    // crafted pathology: 60 identical docs -> EVERY fingerprint has df 60, so
    // with maxDf=10 the entire fp universe is stop fps; the contract guard
    // must fail the probe up-front (bounded check), not melt the anti join
    val hot = (0L until 60L).map(i => (i, "the same boilerplate text repeated across every document"))
      .toDF("doc_id", "text")
    val hotIndex = Dedup.winnowIndex(hot, "text", "doc_id")
    val slice = Seq((9000L, "the same boilerplate text repeated across every document"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.winnowProbe(slice, hotIndex, "text", "doc_id", maxDf = 10, maxStopFps = 3).count()
    }
    assert(e.getMessage.contains("maxStopFps"), s"wrong failure: ${e.getMessage}")
    // the same corpus passes with the cap above its stop count — and yields
    // no pairs, because every fp is hot (rare-fp containment has no signal)
    val ok = Dedup.winnowProbe(slice, hotIndex, "text", "doc_id", maxDf = 10,
      maxStopFps = 5000000)
    assert(ok.count() == 0)
  }

  test("transcripts: rendered docs and offset/mask sidecar align to the character") {
    import spark.implicits._
    val turns = Seq(
      (1L, 0, "system", "be helpful"),
      (1L, 2, "assistant", "hi there"), // idx gap: order by idx, not density
      (1L, 1, "user", "hello"),
      (2L, 0, "user", "solo")
    ).toDF("conv_id", "turn_idx", "role", "text")
    val docs = Transcripts.renderDocs(turns, "conv_id", "turn_idx", "role", "text")
      .as[(Long, String)].collect().toMap
    assert(docs(1L) == "<|system|>\nbe helpful\n<|user|>\nhello\n<|assistant|>\nhi there\n")
    assert(docs(2L) == "<|user|>\nsolo\n")
    val offs = Transcripts.turnOffsets(turns, "conv_id", "turn_idx", "role", "text")
      .as[(Long, Int, String, Long, Long, Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // the sidecar's [start, end) slice of the rendered doc must be exactly
    // the turn's own rendered segment — alignment to the character
    val segs = Map(
      (1L, 0) -> "<|system|>\nbe helpful\n",
      (1L, 1) -> "<|user|>\nhello\n",
      (1L, 2) -> "<|assistant|>\nhi there\n",
      (2L, 0) -> "<|user|>\nsolo\n")
    segs.foreach { case (key @ (conv, _), seg) =>
      val (role, s, e, mask) = offs(key)
      assert(docs(conv).substring(s.toInt, e.toInt) == seg, s"$key misaligned")
      assert(mask == (role != "assistant"), s"$key mask wrong")
    }
    // spans tile the doc exactly (no gaps/overlap)
    assert(offs.filter(_._1._1 == 1L).values.map(v => v._3 - v._2).sum == docs(1L).length)
    // DUPLICATE turn_idx: ties order by the rendered segment (the same total
    // order renderDocs uses), so doc and sidecar agree and offsets are
    // rerun/layout-deterministic
    val dup = Seq((5L, 0, "user", "bbb"), (5L, 0, "user", "aaa"))
      .toDF("conv_id", "turn_idx", "role", "text")
    val dupDoc = Transcripts.renderDocs(dup, "conv_id", "turn_idx", "role", "text")
      .as[(Long, String)].collect().toMap
    assert(dupDoc(5L) == "<|user|>\naaa\n<|user|>\nbbb\n")
    val dupOffs = Transcripts.turnOffsets(dup.repartition(4), "conv_id", "turn_idx", "role", "text")
      .as[(Long, Int, String, Long, Long, Boolean)].collect().sortBy(_._4)
    assert(dupOffs.map(r => dupDoc(5L).substring(r._4.toInt, r._5.toInt)).toSeq ==
      Seq("<|user|>\naaa\n", "<|user|>\nbbb\n"))
  }

  test("semDedup: planted duplicates drop under the min-id rule; guard fires on collapsed clustering") {
    import spark.implicits._
    // RANDOM 16-dim base vectors (uniform random high-dim cosines sit near 0,
    // far under tau — NOT the jittered-direction kmeans geometry, where every
    // same-cluster pair is ~0.999 and legitimately a semantic dup) + exact
    // copies of ids 0..9 at +1000 and a near-copy (1e-4 jitter) of id 20
    val rnd = new scala.util.Random(5)
    val baseVecs = (0L until 90L).map { i =>
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }
    val near = baseVecs(20)._2.clone(); near(0) += 1e-4f
    val vecs = baseVecs ++ baseVecs.take(10).map { case (i, v) => (i + 1000L, v) } :+ ((2000L, near))
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.semDedup(df, k = 3, tauMicro = 950000L)
      .as[(Long, Int, Option[Long], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out.size == 101)
    (0L until 10L).foreach { i =>
      assert(out(i)._3, s"original $i must keep")
      assert(!out(i + 1000L)._3, s"planted copy of $i must drop")
      // identical vectors: dot/(norm·norm) lands an ulp under 1.0, so the
      // floor quantizer gives 999999 or 1000000 — both are exact-copy signal
      assert(out(i + 1000L)._2.exists(_ >= 999999L), s"exact copy cosine must quantize to ~1.0")
      assert(out(i)._1 == out(i + 1000L)._1, "copy must share its original's cluster")
    }
    assert(!out(2000L)._3 && out(20L)._3, "near-copy drops, its original keeps")
    // everything unplanted keeps (jittered directions stay below tau)
    (21L until 30L).foreach(i => assert(out(i)._3, s"unplanted $i dropped"))
    // layout invariance: same keep set after a repartition
    val out2 = Similarity.semDedup(df.repartition(7), k = 3, tauMicro = 950000L)
      .as[(Long, Int, Option[Long], Boolean)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(out.view.mapValues(_._3).toMap == out2, "keep set must be layout-invariant")
    // collapsed clustering fails loudly before the quadratic join
    val e = intercept[IllegalArgumentException] {
      Similarity.semDedup(df, k = 3, maxClusterSize = 10).count()
    }
    assert(e.getMessage.contains("maxClusterSize"))
  }

  test("kmeansAssign: argmax re-derivation, layout invariance, planted clusters separate") {
    import spark.implicits._
    // planted geometry: 3 well-separated directions + jitter
    val dirs = Array(Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f), Array(0f, 0f, 10f, 0f))
    // block id layout (0-29 dir0, 30-59 dir1, 60-89 dir2): the deterministic
    // evenly-spaced-rank init then seeds one centroid per direction —
    // interleaved ids would seed all three from dir0 and converge to a
    // k-means local optimum that merges directions (observed; init
    // sensitivity is inherent to Lloyd, not an engine defect)
    val rnd = new scala.util.Random(5)
    val vecs = (0L until 90L).map { i =>
      val d = dirs((i / 30L).toInt)
      (i, d.map(x => x + rnd.nextFloat() * 0.5f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.kmeansAssign(df, k = 3).as[(Long, Int)].collect().toMap
    assert(out.size == 90 && out.values.forall(c => c >= 0 && c < 3))
    // local re-derivation: assignment must be the argmax cosine over the SAME
    // trained centroids with the (sim desc, cluster asc) tie rule
    val cents = Similarity.trainCentroids(df, 3)
    vecs.foreach { case (id, v) =>
      val best = cents.indices.map(c => (c, Similarity.cosine(cents(c), v)))
        .minBy { case (c, s) => (-s, c) }._1
      assert(out(id) == best, s"vec $id: got ${out(id)}, argmax $best")
    }
    // planted structure recovered: each direction maps to ONE cluster, all distinct
    val byDir = (0 until 3).map(d => vecs.filter(_._1 / 30 == d).map(v => out(v._1)).distinct)
    assert(byDir.forall(_.size == 1), s"mixed clusters within a planted direction: $byDir")
    assert(byDir.flatten.toSet.size == 3, s"directions collapsed: $byDir")
    // layout invariance: a repartition must not move any assignment
    val out2 = Similarity.kmeansAssign(df.repartition(7), k = 3).as[(Long, Int)].collect().toMap
    assert(out2 == out, "assignment changed under repartition")
  }

  test("kmeansOutliers: clusters agree with kmeansAssign; a planted off-manifold vector scores lowest") {
    import spark.implicits._
    val dirs = Array(Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f), Array(0f, 0f, 10f, 0f))
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 90L).map { i =>
      (i, dirs((i / 30L).toInt).map(x => x + rnd.nextFloat() * 0.5f))
    } :+ ((99L, Array(1f, 1f, 1f, 5f))) // off every planted direction
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.kmeansOutliers(df, k = 3)
      .as[(Long, Int, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val assign = Similarity.kmeansAssign(df, k = 3).as[(Long, Int)].collect().toMap
    out.foreach { case (id, (c, _)) => assert(assign(id) == c, s"cluster mismatch at $id") }
    val outlierSim = out(99L)._2
    assert(vecs.dropRight(1).forall { case (id, _) => out(id)._2 > outlierSim },
      s"planted outlier must have the lowest sim_micro ($outlierSim)")
    // quantized sims are near-unit for on-manifold members
    assert(out(0L)._2 > 990000L, s"on-manifold sim_micro ${out(0L)._2}")
  }

  test("near-dup bucket caps are observable, never silent (degenerate all-identical corpus)") {
    import spark.implicits._
    val n = 200
    val degenerate = (0 until n).map(i => (i.toLong, "the same text in every single row")).toDF("doc_id", "text")
    val obsM = new org.apache.spark.sql.Observation("minhash-trunc")
    val pairsM = Dedup.minhashNearDups(degenerate, "text", "doc_id",
      threshold = 0.999, maxBucket = 50, obs = Some(obsM)).count()
    // capped: at most C(50,2) per bucket (buckets coincide for identical sigs)
    assert(pairsM <= 50L * 49 / 2, s"pair blowup not capped: $pairsM")
    assert(obsM.get("truncated_buckets").asInstanceOf[Long] > 0, "truncation must be reported")
    val obsS = new org.apache.spark.sql.Observation("simhash-trunc")
    val pairsS = Dedup.simhashNearDups(degenerate, "text", "doc_id",
      maxBucket = 50, obs = Some(obsS)).count()
    assert(pairsS <= 50L * 49 / 2, s"simhash pair blowup not capped: $pairsS")
    assert(obsS.get("truncated_buckets").asInstanceOf[Long] > 0)
  }

  test("near-dup observations report exact counts on the degenerate corpus") {
    import spark.implicits._
    import org.apache.spark.sql.Observation
    // the all-identical corpus plus a rare duplicate pair and one unique doc:
    // the identical docs fill one bucket per band, the pair adds two-id
    // buckets, the unique doc singletons. The pair paths count only buckets
    // that can pair; the index and probe caps count singletons too. The rare
    // pair also keeps every output non-empty, so the metrics are reported.
    val same = "the same text in every single row"
    val rare = "very unusual phrasing zyxwv qpjkt marsupial quixotic"
    val unique = "alpha bravo charlie delta echo foxtrot golf hotel"
    val deg = ((0 until 200).map(i => (i.toLong, same)) ++
      Seq((1000L, rare), (1001L, rare), (1002L, unique))).toDF("doc_id", "text")
    def observe(keys: String*)(run: Option[Observation] => Long): Seq[Long] = {
      val o = Observation()
      run(Some(o))
      val m = o.get
      keys.map(m(_).asInstanceOf[Long])
    }
    val trunc = observe("truncated_buckets", "buckets") _
    val stop = observe("stop_fps", "fps") _
    val slice = Seq((9999L, same), (9998L, unique)).toDF("doc_id", "text")
    val v = Array(0.5f, 0.25f, -0.125f, 1.0f)
    val vecs = ((0 until 200).map(i => (i.toLong, v)) ++
      Seq((1000L, Array(-1f, 2f, 0.5f, 0.25f)), (1001L, Array(-1f, 2f, 0.5f, 0.25f)),
        (1002L, v.map(-_)))).toDF("vec_id", "embedding")
    val got = Seq(
      "graft.dedup.minhash" -> trunc(o => Dedup.minhashNearDups(deg, "text", "doc_id",
        threshold = 0.999, maxBucket = 50, obs = o).count()),
      "graft.dedup.ngram" -> trunc(o => Dedup.ngramJaccardNearDups(deg, "text", "doc_id",
        threshold = 0.999, maxBucket = 50, obs = o).count()),
      "graft.dedup.simhash" -> trunc(o => Dedup.simhashNearDups(deg, "text", "doc_id",
        maxBucket = 50, obs = o).count()),
      "graft.dedup.minhash_index" -> trunc(o => Dedup.minhashIndex(deg, "text", "doc_id",
        maxBucket = Some(25), obs = o).count()),
      "graft.dedup.minhash_probe" -> trunc(o => Dedup.minhashProbe(slice,
        Dedup.minhashIndex(deg, "text", "doc_id"), deg, "text", "doc_id",
        threshold = 0.999, maxBucket = 50, obs = o).count()),
      "graft.similarity.cosine" -> trunc(o => Similarity.cosineNearDups(vecs,
        threshold = 0.999, maxBucket = 16, obs = o).count()),
      "graft.dedup.winnow" -> stop(o => Dedup.winnowNearDups(deg, "text", "doc_id",
        obs = o).count()),
      "graft.dedup.winnow_probe" -> stop(o => Dedup.winnowProbe(
        Seq((9999L, rare)).toDF("doc_id", "text"), Dedup.winnowIndex(deg, "text", "doc_id"),
        "text", "doc_id", obs = o).count()))
    // computed by the operators before their bucket and stop-fp stages were
    // shared. The pair paths: one truncated bucket of identical rows per band
    // (minhash 16, ngram 3), chunk (simhash 4) or table (cosine 8), and as
    // many pair buckets. The index (32 bands): identical, pair and unique
    // buckets; the probe: the identical and the unique doc's buckets.
    val want = Seq(
      "graft.dedup.minhash" -> Seq(16L, 32L),
      "graft.dedup.ngram" -> Seq(3L, 6L),
      "graft.dedup.simhash" -> Seq(4L, 8L),
      "graft.dedup.minhash_index" -> Seq(32L, 96L),
      "graft.dedup.minhash_probe" -> Seq(32L, 64L),
      "graft.similarity.cosine" -> Seq(8L, 16L),
      "graft.dedup.winnow" -> Seq(9L, 41L),
      "graft.dedup.winnow_probe" -> Seq(9L, 41L))
    assert(got == want)
  }

  test("cosine near-dup LSH finds all exact-duplicate vectors") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val dupes = emb.select($"vec_id", $"embedding")
      .union(emb.select(($"vec_id" + 10000).as("vec_id"), $"embedding"))
    val found = Similarity.cosineNearDups(dupes, threshold = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val ids = emb.select($"vec_id").as[Long].collect()
    ids.foreach(id => assert(found.contains((id, id + 10000)), s"missed identical vector $id"))
  }

  test("TopKHeap keeps the exact top-k under (sim desc, id asc), with ties") {
    val rnd = new scala.util.Random(7)
    val items = (0 until 500).map(i => (math.floor(rnd.nextDouble() * 20) / 20.0, i.toLong))
    val h = new TopKHeap(10)
    items.foreach { case (s, id) => h.add(s, id) }
    val got = (0 until h.size).map(i => (h.simAt(i), h.idAt(i)))
      .sortBy { case (s, id) => (-s, id) }
    val expected = items.sortBy { case (s, id) => (-s, id) }.take(10)
    assert(got == expected)
  }

  test("cosine near-dup candidates come from capped buckets (planted identical cluster)") {
    import spark.implicits._
    // 2000 identical vectors: every row lands in ONE sign bucket per table — the
    // round-2 uncapped self-join went quadratic here; the capped path is bounded
    // and reports truncation
    val rows = (0 until 2000).map(i => (i.toLong, Array(0.5f, 0.25f, -0.125f, 1.0f)))
      .toDF("vec_id", "embedding")
    val obs = new org.apache.spark.sql.Observation("cosine-trunc")
    val nPairs = Similarity.cosineNearDups(rows, threshold = 0.999, maxBucket = 16,
      obs = Some(obs)).count()
    assert(nPairs <= 16L * 15 / 2, s"identical-cluster pair blowup not capped: $nPairs")
    assert(obs.get("truncated_buckets").asInstanceOf[Long] > 0, "truncation must be reported")
  }

  test("trainCentroids: pushed id-range sample, with fallback for offset id domains") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val c1 = Similarity.trainCentroids(emb, nCells = 8)
    assert(c1.length == 8 && c1.forall(_.nonEmpty))
    // ids offset far beyond the default idBound: the range filter finds nothing
    // and the documented TakeOrdered fallback must still train
    val offset = emb.select(($"vec_id" + 1000000000L).as("vec_id"), $"embedding")
    val c2 = Similarity.trainCentroids(offset, nCells = 8)
    assert(c2.length == 8)
    // and the same offset domain with an explicit idBound uses the pushed range
    val c3 = Similarity.trainCentroids(offset, nCells = 8, idBound = 1000000000L + 16384L)
    assert(c2.map(_.toSeq).toSeq == c3.map(_.toSeq).toSeq,
      "idBound range sample must equal the fallback sample on a dense-offset domain")
  }

  test("sampling: deterministic across layouts/reruns, near-exact fractions, stratified CASE") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val n = events.count().toDouble
    val s25 = Sampling.bernoulli(events, "event_id", 0.25)
    val ids = s25.select($"event_id").as[Long].collect().toSet
    // same subset regardless of partitioning (the built-in sample() breaks here)
    val idsRepart = Sampling.bernoulli(events.repartition(7), "event_id", 0.25)
      .select($"event_id").as[Long].collect().toSet
    assert(ids == idsRepart, "hash sampling must be layout-independent")
    // multiplicative hash on sequential ids: realized fraction tracks target tightly
    assert(math.abs(ids.size / n - 0.25) < 0.02, s"realized ${ids.size / n}")
    // edge fractions
    assert(Sampling.bernoulli(events, "event_id", 1.0).count() == n.toLong)
    assert(Sampling.bernoulli(events, "event_id", 0.0).count() == 0L)
    // snowflake-scale ids: the 2^31 pre-fold keeps the multiply overflow-free
    // (under ANSI mode an unfolded multiply would kill the job)
    val bigIds = Seq(10000000000L, Long.MaxValue, 0L, -5L).toDF("event_id")
    assert(Sampling.bernoulli(bigIds, "event_id", 0.5).count() >= 0) // must not throw
    // stratified == per-stratum bernoulli applied manually
    val strat = Sampling.stratified(events, "event_id", "event_type",
      Map("purchase" -> 1.0, "view" -> 0.1), default = 0.5)
    val manual = events.where(
      (col("event_type") === "purchase" && Sampling.idHash(col("event_id")) < math.round(1.0 * 4294967296L)) ||
      (col("event_type") === "view" && Sampling.idHash(col("event_id")) < math.round(0.1 * 4294967296.0)) ||
      (!col("event_type").isin("purchase", "view") && Sampling.idHash(col("event_id")) < math.round(0.5 * 4294967296.0)))
    assert(strat.select($"event_id").as[Long].collect().toSet ==
      manual.select($"event_id").as[Long].collect().toSet)
  }

  test("weighted sampling: probability-proportional keep, clamp, null drop, layout-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = (0L until 4000L).map(i =>
      (i, if (i % 97 == 0) None else Some((i % 100).toDouble / 100.0)))
    val df = rows.toDF("id", "w")
    val kept = Sampling.weighted(df, "id", $"w").select($"id").as[Long].collect().toSet
    // exactly the manual predicate: hash < round(clamp(w) * 2^32)
    rows.foreach { case (id, w) =>
      val expect = w.exists(x =>
        ((id % 2147483648L) * 2654435761L) % 4294967296L < math.round(x * 4294967296.0))
      assert(kept.contains(id) == expect, s"id $id w $w")
    }
    // null weights drop (no probability defined), never throw
    assert(!kept.exists(_ % 97 == 0))
    // keep rate tracks the mean weight (~0.495 here) on the hash's equidistribution
    val rate = kept.size.toDouble / rows.count(_._2.isDefined)
    assert(math.abs(rate - 0.495) < 0.03, s"rate $rate")
    // out-of-range weights clamp: w>=1 keeps everything, w<=0 keeps nothing
    assert(Sampling.weighted(df, "id", lit(7.5)).count() == 4000L)
    assert(Sampling.weighted(df, "id", lit(-3.0)).count() == 0L)
    // layout-invariant: repartitioned input keeps the same ids
    val kept2 = Sampling.weighted(df.repartition(7), "id", $"w")
      .select($"id").as[Long].collect().toSet
    assert(kept2 == kept)
  }

  test("decontaminate: planted benchmark overlap counted exactly, big side stays shuffle-free") {
    import spark.implicits._
    val w = (1 to 30).map(i => s"w$i") // 30 distinct words
    val benchText = w.take(12).mkString(" ")       // shingles w1..w5, ..., w5..w12
    val docRows = Seq(
      (1L, benchText),                              // the benchmark itself: all 5 shingles hit
      (2L, w.slice(2, 10).mkString(" ")),           // w3..w10 = exactly one 8-shingle, contained
      (3L, w.slice(11, 19).mkString(" ")),          // w12..w19: no benchmark 8-shingle
      (4L, "short doc"),                            // < 8 words: whole-text shingle, no hit
      (5L, benchText + " " + w.slice(20, 25).mkString(" ")) // superset: 5 hits + clean tail
    ).toDF("doc_id", "text")
    val bench = Seq(benchText).toDF("text")
    val got = Dedup.decontaminate(docRows, "text", "doc_id", bench, "text", k = 8)
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 5, 2L -> 1, 3L -> 0, 4L -> 0, 5L -> 5), s"got $got")
    // the short benchmark-free doc and its twin: whole-text shingle matches only itself
    val shortBench = Seq("short doc").toDF("text")
    val gotShort = Dedup.decontaminate(docRows, "text", "doc_id", shortBench, "text", k = 8)
      .as[(Long, Int)].collect().toMap
    assert(gotShort(4L) == 1 && gotShort(3L) == 0)
    // scale shape: the document side is a narrow map — NO exchange in the plan
    val plan = Dedup.decontaminate(docRows, "text", "doc_id", bench, "text", k = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"decontaminate must not shuffle the corpus:\n${plan.take(1200)}")
    // oversized "benchmark" fails loudly instead of collecting the world
    val e = intercept[IllegalArgumentException] {
      Dedup.decontaminate(docRows, "text", "doc_id", docRows.select("text"), "text",
        k = 8, maxBenchShingles = 3)
    }
    assert(e.getMessage.contains("near-dup join"))
    // the loud failure NAMES the parameter to raise (and its ceiling exists)
    assert(e.getMessage.contains("maxBenchShingles=3"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.decontaminate(docRows, "text", "doc_id", bench, "text",
        k = 8, maxBenchShingles = 50000001)
    }
    assert(e2.getMessage.contains("maxBenchShingles"), e2.getMessage)
  }

  test("clusters: path graphs collapse transitively, components stay separate") {
    import spark.implicits._
    // a-b-c is a PATH (no a-c edge): transitivity must still merge all three;
    // {10,11} is a separate component; 99 appears only as id_b
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (42L, 99L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      42L -> 42L, 99L -> 42L))
    // a longer chain exercises the pointer-jumping acceleration
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val gotChain = Dedup.clusters(chain).as[(Long, Long)].collect()
    assert(gotChain.length == 65 && gotChain.forall(_._2 == 0L))
  }

  test("vector column functions agree with the Scala twins (codegen'd zip_with/aggregate)") {
    import spark.implicits._
    import graft.functions.VectorFunctions._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val pairs = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    // column-side cosine/l2/norm against the all-ones vector vs the Scala loop
    val ones = org.apache.spark.sql.functions.transform($"embedding",
      _ => org.apache.spark.sql.functions.lit(1.0f))
    val got = emb.select($"vec_id", cosineSim($"embedding", ones).as("c"),
      l2Dist($"embedding", ones).as("d"), norm($"embedding").as("n"),
      nAbove($"embedding", 0.0).as("np"))
      .as[(Long, Double, Double, Double, Int)].collect().map(r => r._1 -> r).toMap
    pairs.foreach { case (id, v) =>
      val onesV = Array.fill(v.length)(1.0f)
      val (_, c, d, n, np) = got(id)
      assert(math.abs(c - Similarity.cosine(v, onesV)) < 1e-12, s"cosine vec $id")
      assert(math.abs(n - Similarity.norm(v)) < 1e-12, s"norm vec $id")
      val l2 = math.sqrt(v.zip(onesV).map { case (a, b) => val x = a.toDouble - b; x * x }.sum)
      assert(math.abs(d - l2) < 1e-12, s"l2 vec $id")
      assert(np == v.count(_ > 0), s"nAbove vec $id")
    }
    // l2Normalize yields unit vectors (and leaves the zero vector untouched)
    val normed = Seq((1L, Array(3.0f, 4.0f)), (2L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
      .select(norm(l2Normalize($"embedding")).as("n")).as[Double].collect()
    assert(math.abs(normed(0) - 1.0) < 1e-6 && normed(1) == 0.0)
    // and the plan is codegen'd column math, no (de)serialized UDF
    val plan = emb.select(cosineSim($"embedding", ones)).queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("scalaudf"),
      s"vector ops must stay in Catalyst expressions:\n${plan.take(800)}")
  }

  test("int8 quantization: bounded reconstruction error, exact integer dot, saturation clamp") {
    import spark.implicits._
    import graft.functions.VectorFunctions._
    val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // scale PROJECTED first per the quantizeInt8 contract (inline O(d) scale
    // subtrees re-evaluate per element inside HOF lambdas)
    val emb = emb0.select($"vec_id", $"embedding", int8Scale($"embedding").as("sc"))
    // per-element reconstruction error <= scale/2 (round) — the quantization
    // grid guarantee, checked against the original floats
    val rows = emb.select($"vec_id", $"embedding", $"sc",
      dequantizeInt8(quantizeInt8($"embedding", $"sc"), $"sc").as("rec"))
      .as[(Long, Array[Float], Double, Array[Float])].collect()
    rows.foreach { case (id, v, s, rec) =>
      assert(v.length == rec.length)
      v.zip(rec).foreach { case (x, r) =>
        assert(math.abs(x - r) <= s / 2 + 1e-6, s"vec $id: |$x - $r| > ${s / 2}")
      }
    }
    // rescaled int8 dot approximates the float dot within the quantization
    // error bound (and IS exact integer arithmetic underneath)
    val ones = org.apache.spark.sql.functions.transform($"embedding",
      _ => org.apache.spark.sql.functions.lit(1.0f))
    val staged = emb.select($"vec_id", $"embedding", $"sc", ones.as("ones"))
      .select($"vec_id", $"embedding", $"sc", $"ones", int8Scale($"ones").as("osc"))
    val approx = staged.select($"vec_id",
      (dotInt8(quantizeInt8($"embedding", $"sc"), quantizeInt8($"ones", $"osc"))
        .cast("double") * $"sc" * $"osc").as("qdot"),
      dot($"embedding", $"ones").as("fdot"),
      org.apache.spark.sql.functions.size($"embedding").as("nd"), $"sc")
      .as[(Long, Double, Double, Int, Double)].collect()
    approx.foreach { case (id, qd, fd, nd, s) =>
      // error budget: nd elements, each off by <= scale/2 (ones quantize exactly)
      assert(math.abs(qd - fd) <= nd * (s / 2) + 1e-6, s"vec $id: $qd vs $fd")
    }
    // an outlier element saturates at the clamp instead of overflowing int8
    val sat = Seq((1L, Array(1000.0f, -1000.0f, 0.5f)))
      .toDF("vec_id", "embedding")
      .select(quantizeInt8($"embedding", org.apache.spark.sql.functions.lit(0.001)).as("q"))
      .as[Array[Int]].collect().head
    assert(sat.toSeq == Seq(127, -127, 127))
    // the all-zero vector quantizes to zeros (no divide-by-zero)
    val z = Seq((1L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
      .select(quantizeInt8($"embedding", int8Scale($"embedding")).as("q"))
      .as[Array[Int]].collect().head
    assert(z.toSeq == Seq(0, 0))
  }

  test("langId is deterministic and picks the profile language") {
    assert(TextFunctions.langId("the cat is on the mat and it is happy") == "en")
    assert(TextFunctions.langId("der hund ist nicht in der schule und das ist gut") == "de")
    assert(TextFunctions.langId("le chat est dans la maison et il est content") == "fr")
    assert(TextFunctions.langId("el perro es grande y la casa es bonita") == "es")
    assert(TextFunctions.langId("") == "und")
    assert(TextFunctions.langId("zzz qqq xxx") == "und")
  }

  test("fingerprints: deterministic, edit-local rolling hash robustness") {
    val t = docs(0)._2
    assert(TextFunctions.fnv1a64(t) == TextFunctions.fnv1a64(t))
    assert(TextFunctions.fnv1a64(t) != TextFunctions.fnv1a64(t + "x"))
    // rolling-min fingerprint usually survives a small local edit (min over windows)
    val edited = "zz " + t
    assert(TextFunctions.rollingMinHash(t) == TextFunctions.rollingMinHash(t + " "), "normalization")
    val survived = TextFunctions.rollingMinHash(t) == TextFunctions.rollingMinHash(edited)
    assert(survived, "min-window fingerprint should survive a prefix edit on long text")
  }

  test("winnowFingerprints: coverage guarantee, containment under doubling, short-text fallback") {
    val t = docs(0)._2
    // determinism + set semantics
    assert(TextFunctions.winnowFingerprints(t).sameElements(TextFunctions.winnowFingerprints(t)))
    // winnowing guarantee: a doc embedded in a larger doc shares EVERY
    // fingerprint selected strictly inside it — the doubled doc's set must
    // contain the single doc's set (positions are preserved for the prefix)
    val single = TextFunctions.winnowFingerprints(t).toSet
    val doubled = TextFunctions.winnowFingerprints(t + " " + t).toSet
    assert(single.subsetOf(doubled), "doubled doc lost fingerprints of its half")
    // a local edit at the front leaves the tail's fingerprints shared
    val edited = TextFunctions.winnowFingerprints("zzzz qqqq " + t).toSet
    val sharedFrac = (single & edited).size.toDouble / single.size
    assert(sharedFrac > 0.8, s"prefix edit destroyed $sharedFrac of the fingerprint set")
    // below k + w - 1 normalized bytes: single FNV fallback
    assert(TextFunctions.winnowFingerprints("ab cd ef")
      .sameElements(Array(TextFunctions.fnv1a64("ab cd ef"))))
    // exactly at the boundary (11 bytes, k=8 w=4): one full window, one fp
    assert(TextFunctions.winnowFingerprints("abcdefghijk").length == 1)
  }

  test("winnowNearDups: planted containment pairs score exactly 1.0; stop-fp drop is observable") {
    import spark.implicits._
    val df = spark.read.parquet(s"$sfDir/documents.parquet").select($"doc_id", $"text")
    val planted = df.union(df.select(($"doc_id" + 10000).as("doc_id"),
      org.apache.spark.sql.functions.concat($"text",
        org.apache.spark.sql.functions.lit(" "), $"text").as("text")))
    val obs = org.apache.spark.sql.Observation()
    val out = Dedup.winnowNearDups(planted, "text", "doc_id",
      maxDf = 50, minOverlap = 0.9, obs = Some(obs))
      .select("id_a", "id_b", "overlap").as[(Long, Long, Double)].collect()
    val found = out.map { case (a, b, _) => (a, b) }.toSet
    docs.foreach { case (id, _) =>
      assert(found.contains((id, id + 10000)), s"missed planted containment pair $id")
    }
    out.filter { case (a, b, _) => b == a + 10000 }.foreach { case (a, _, ov) =>
      assert(ov == 1.0, s"planted pair $a containment $ov != 1.0")
    }
    // the sf vocabulary is ~30 words, so stop fingerprints MUST exist and be counted
    val m = obs.get
    assert(m("stop_fps").asInstanceOf[Long] > 0, "expected stop-fp drops on the tiny-vocab corpus")
    assert(m("fps").asInstanceOf[Long] > m("stop_fps").asInstanceOf[Long])
  }

  test("winnowNearDups: maxDf drops clique fingerprints by construction; drop is observable") {
    import spark.implicits._
    // a 30-doc identical clique (every fp has df=30 > maxDf=10 -> all stop fps,
    // ZERO clique pairs despite 435 naive ones) + one rare pair (df=2 fps) that
    // must survive. The pair also keeps the output non-empty: AQE's
    // empty-relation propagation would otherwise collapse the plan and the
    // CollectMetrics node with it (observed metrics are harvested from the
    // FINAL adaptive plan — an all-filtered run reports none; same caveat as
    // the LSH bucket-cap observations).
    val clique = (0L until 30L).map(i => (i, "identical text repeated across the corpus body here"))
    val pair = Seq((100L, "very unusual phrasing zyxwv qpjkt marsupial quixotic"),
      (101L, "very unusual phrasing zyxwv qpjkt marsupial quixotic"))
    val obs = org.apache.spark.sql.Observation()
    val out = Dedup.winnowNearDups((clique ++ pair).toDF("doc_id", "text"),
      "text", "doc_id", maxDf = 10, obs = Some(obs))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out == Set((100L, 101L)), s"expected only the rare pair, got $out")
    val m = obs.get
    assert(m("stop_fps").asInstanceOf[Long] > 0, "clique fps must be dropped as stop fps")
    assert(m("fps").asInstanceOf[Long] > m("stop_fps").asInstanceOf[Long], "rare fps must survive")
  }

  /** A fully valid 1x1 8-bit RGB PNG (zlib-compressed IDAT, real CRCs). */
  private val realPng: Array[Byte] = Array(
    0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, 0x00, 0x00, 0x00, 0x0d,
    0x49, 0x48, 0x44, 0x52, 0x00, 0x00, 0x00, 0x01, 0x00, 0x00, 0x00, 0x01,
    0x08, 0x02, 0x00, 0x00, 0x00, 0x90, 0x77, 0x53, 0xde, 0x00, 0x00, 0x00,
    0x0c, 0x49, 0x44, 0x41, 0x54, 0x78, 0x9c, 0x63, 0xf8, 0xcf, 0xc0, 0x00,
    0x00, 0x03, 0x01, 0x01, 0x00, 0xc9, 0xfe, 0x92, 0xef, 0x00, 0x00, 0x00,
    0x00, 0x49, 0x45, 0x4e, 0x44, 0xae, 0x42, 0x60, 0x82).map(_.toByte)

  /** A 3x5 JFIF JPEG whose SOF0 sits at byte 104, behind APP0 + COM + DQT
    * segments — exercises the marker walk, not a fixed offset.
    */
  private val realJpeg: Array[Byte] = (Array(0xff, 0xd8,
    0xff, 0xe0, 0x00, 0x10, 0x4a, 0x46, 0x49, 0x46, 0x00, 0x01, 0x01, 0x00,
    0x00, 0x01, 0x00, 0x01, 0x00, 0x00,
    0xff, 0xfe, 0x00, 0x0d) ++ "hello jpeg!".getBytes.map(_.toInt) ++
    Array(0xff, 0xdb, 0x00, 0x43, 0x00) ++ Array.fill(64)(0) ++
    Array(0xff, 0xc0, 0x00, 0x11, 0x08, 0x00, 0x05, 0x00, 0x03, 0x03,
      0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01,
      0xff, 0xda, 0x00, 0x0c, 0x03, 0x01, 0x00, 0x02, 0x11, 0x03, 0x11,
      0x00, 0x3f, 0x00, 0x12, 0x34, 0xff, 0xd9)).map(_.toByte)

  test("multimodal: real PNG/JPEG header bytes decode to true dimensions") {
    val png = Multimodal.decode(realPng)
    assert((png.width, png.height, png.frames, png.bytes) == (1, 1, 1, 69L))
    val jpg = Multimodal.decode(realJpeg)
    assert((jpg.width, jpg.height, jpg.frames, jpg.bytes) == (3, 5, 1, realJpeg.length.toLong))
    // envelopes round-trip their declared dims through the same parsers
    val pe = Multimodal.decode(Multimodal.pngEnvelope(640, 480, "tail".getBytes))
    assert(pe.width == 640 && pe.height == 480 && pe.frames == 1)
    val je = Multimodal.decode(Multimodal.jpegEnvelope(123, 77, "tail".getBytes))
    assert(je.width == 123 && je.height == 77 && je.frames == 1)
    // corrupt/truncated image payload falls back to the stub, never throws
    val truncated = realJpeg.take(6)
    assert(Multimodal.decode(truncated) == Multimodal.decodeStub(truncated))
    val notImage = "plain text payload".getBytes
    assert(Multimodal.decode(notImage) == Multimodal.decodeStub(notImage))
  }

  test("multimodal: WAV/RIFF and MP4 tkhd headers decode via real chunk/box walks") {
    // WAV: audio flattens as (rate, channels, sample frames); 100-byte data
    // chunk at 2ch/16-bit = 25 sample frames
    val tail = Array.fill(100)(0x42.toByte)
    val wav = Multimodal.decode(Multimodal.wavEnvelope(44100, 2, tail))
    assert((wav.width, wav.height, wav.frames) == ((44100, 2, 25)), s"wav: $wav")
    // the walk is real, not offset-pinned: an extra chunk before fmt still decodes
    val shifted = {
      val base = Multimodal.wavEnvelope(8000, 1, tail)
      val extra = new java.io.ByteArrayOutputStream()
      extra.write(base, 0, 12)
      extra.write("LIST".getBytes, 0, 4)
      extra.write(Array[Byte](4, 0, 0, 0), 0, 4) // LE32 size 4
      extra.write("info".getBytes, 0, 4)
      extra.write(base, 12, base.length - 12)
      extra.toByteArray
    }
    val sh = Multimodal.decode(shifted)
    assert((sh.width, sh.height, sh.frames) == ((8000, 1, 50)), s"shifted wav: $sh")
    // MP4: nested moov > trak > tkhd box walk, 16.16 fixed-point dims
    val mp4 = Multimodal.decode(Multimodal.mp4Envelope(1920, 1080, tail))
    assert((mp4.width, mp4.height, mp4.frames) == ((1920, 1080, 1)), s"mp4: $mp4")
    // truncated containers fall back to the stub, never throw
    val cutWav = Multimodal.wavEnvelope(8000, 1, tail).take(30)
    assert(Multimodal.decode(cutWav) == Multimodal.decodeStub(cutWav))
    val cutMp4 = Multimodal.mp4Envelope(64, 48, tail).take(40)
    assert(Multimodal.decode(cutMp4) == Multimodal.decodeStub(cutMp4))
    // a data-chunk size near 2^31 must not wrap the bounds check: both
    // overrunning sizes fall back to the stub
    for (size <- Seq(0x7ffffff0, 0x10000000)) {
      val big = Multimodal.wavEnvelope(8000, 1, new Array[Byte](8))
      java.nio.ByteBuffer.wrap(big).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(40, size)
      assert(Multimodal.decode(big) == Multimodal.MediaMeta(53, 16, 1, 52L), f"data size 0x$size%x")
    }
  }

  test("mp4 box-size escapes: largesize mdat before moov; trailing size==0 mdat (ADVICE r6)") {
    def be32(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
    val tail = Array.fill(24)(0x07.toByte)
    val env = Multimodal.mp4Envelope(320, 240, tail)
    val moovSize = be32(env, 16)
    // non-faststart layout: a LARGESIZE mdat (size==1 + 64-bit length field,
    // the >4GB convention) sits AHEAD of moov — the walk must skip it by its
    // largesize, not bail to the stub at the size<8 guard
    val bos = new java.io.ByteArrayOutputStream()
    def w32(v: Int): Unit = {
      bos.write((v >>> 24) & 0xff); bos.write((v >>> 16) & 0xff)
      bos.write((v >>> 8) & 0xff); bos.write(v & 0xff)
    }
    bos.write(env, 0, 16) // ftyp
    w32(1); bos.write("mdat".getBytes("US-ASCII"), 0, 4); w32(0); w32(16 + tail.length)
    bos.write(tail, 0, tail.length)
    bos.write(env, 16, moovSize) // moov after the data
    val reordered = bos.toByteArray
    val m = Multimodal.decode(reordered)
    assert((m.width, m.height) == ((320, 240)), s"largesize-mdat layout degraded: $m")
    // trailing mdat with size==0 (extends to end of file): metadata stays
    // real and the top-level walk terminates cleanly
    val fr = Multimodal.mp4EnvelopeFrames(64, 48, 1000, 3, 100, 2, 200, Array.fill(8)(1.toByte))
    (232 until 236).foreach(i => fr(i) = 0) // mdat size field at fixed offset 232
    assert(Multimodal.mp4FrameMeta(fr).contains(Multimodal.Mp4Frames(5, 700L, 1000)))
    val meta = Multimodal.decode(fr)
    assert((meta.width, meta.height, meta.frames) == ((64, 48, 5)), s"size==0 mdat: $meta")
  }

  test("multimodal: mp4FrameMeta walks stsz/stts/mdhd (round 6)") {
    val tail = Array.fill(40)(0x37.toByte)
    val b = Multimodal.mp4EnvelopeFrames(640, 360, 90000, 100, 3000, 20, 1500, tail)
    // duration sums BOTH stts entries: 100*3000 + 20*1500
    assert(Multimodal.mp4FrameMeta(b).contains(
      Multimodal.Mp4Frames(120, 330000L, 90000)), s"got ${Multimodal.mp4FrameMeta(b)}")
    // decode() now reports the stsz frame count for containers with an stbl
    val meta = Multimodal.decode(b)
    assert((meta.width, meta.height, meta.frames) == ((640, 360, 120)), s"decode: $meta")
    // the tables-free envelope keeps frames = 1 (no mdia -> walk returns None)
    assert(Multimodal.mp4FrameMeta(Multimodal.mp4Envelope(64, 48, tail)).isEmpty)
    // v1 mdhd: 64-bit create/modify times shift the timescale by 8 bytes —
    // patch version to 1 and splice 8 extra zero bytes into mdhd, fixing up
    // the enclosing moov/trak/mdia/mdhd box sizes
    val v1 = {
      val base = b.clone()
      def bump(off: Int): Unit = {
        val size = java.nio.ByteBuffer.wrap(base, off, 4).getInt + 8
        base(off) = (size >>> 24).toByte; base(off + 1) = (size >>> 16).toByte
        base(off + 2) = (size >>> 8).toByte; base(off + 3) = size.toByte
      }
      bump(16); bump(24); bump(124); bump(132) // moov, trak, mdia, mdhd
      // splice: [0,140) header, version=1 flags=0, 8-byte wide times x2 = 16,
      // then timescale onward from the v0 layout (bytes 152..)
      val o2 = new java.io.ByteArrayOutputStream()
      o2.write(base, 0, 140)
      o2.write(Array[Byte](1, 0, 0, 0), 0, 4) // version 1
      o2.write(new Array[Byte](16), 0, 16)    // 64-bit creation/modification
      o2.write(base, 152, base.length - 152)  // timescale..end unchanged
      o2.toByteArray
    }
    assert(Multimodal.mp4FrameMeta(v1).contains(
      Multimodal.Mp4Frames(120, 330000L, 90000)), s"v1 mdhd: ${Multimodal.mp4FrameMeta(v1)}")
    // hostile stts entry_count (table would run past the box end) -> None, no throw
    val poison = b.clone()
    poison(192) = 0x7f.toByte // entry_count @192 -> huge
    assert(Multimodal.mp4FrameMeta(poison).isEmpty)
    // hostile stts values: u32 count*delta pairs that overflow Long -> None
    val ovf = b.clone()
    for (off <- Seq(196, 200, 204, 208); i <- 0 until 4) ovf(off + i) = 0xff.toByte
    assert(Multimodal.mp4FrameMeta(ovf).isEmpty, "Long-overflow stts must refuse")
    // truncation never throws
    assert(Multimodal.mp4FrameMeta(b.take(200)).isEmpty)
    // a corrupt FRAME table must degrade decode() to frames = 1, never
    // discard the already-parsed dims through the outer catch (review #3):
    // truncate right after the tkhd so mdia is absent -> dims survive
    val dimsOnly = Multimodal.mp4Envelope(320, 200, Array[Byte](1, 2, 3))
    val d2 = Multimodal.decode(dimsOnly)
    assert((d2.width, d2.height, d2.frames) == ((320, 200, 1)))
    val m2 = Multimodal.decode(ovf) // readable dims + refusing sample table
    assert((m2.width, m2.height, m2.frames) == ((640, 360, 1)), s"got $m2")
  }

  test("multimodal: pngGray round-trips through javax.imageio pixel-exactly") {
    // the handcrafted stored-block zlib must be a VALID png for the JDK
    // decoder, and every pixel must come back bit-exact — including a
    // multi-stored-block image (raw > 64KiB forces block splitting)
    for ((w, h) <- Seq((7, 5), (1, 1), (300, 250))) {
      def pix(x: Int, y: Int): Int = (x * 31 + y * 7 + w) % 256
      val bytes = Multimodal.pngGray(w, h, pix)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null, s"ImageIO rejected pngGray($w x $h)")
      assert(img.getWidth == w && img.getHeight == h)
      val raster = img.getRaster
      for (y <- 0 until h; x <- 0 until w)
        assert(raster.getSample(x, y, 0) == pix(x, y), s"pixel ($x,$y) of $w x $h")
    }
  }

  test("multimodal: decodePixelStats — real decode, dims cross-check, graceful reject") {
    import spark.implicits._
    val rows = Seq(
      Multimodal.MediaRow(1L, Multimodal.pngGray(4, 3, (x, y) => x * 10 + y)),
      Multimodal.MediaRow(2L, Multimodal.pngGray(2, 2, (_, _) => 200)),
      Multimodal.MediaRow(3L, "not an image at all".getBytes)).toDS()
    val got = Multimodal.decodePixelStats(rows).collect().sortBy(_.doc_id)
    // undecodable payload is dropped, not fatal
    assert(got.map(_.doc_id).toSeq == Seq(1L, 2L))
    val a = got(0)
    // 4x3 gray: samples x*10+y, sum = sum_{x<4,y<3}(10x+y) = 3*10*(0+1+2+3) + 4*(0+1+2)
    assert((a.px_width, a.px_height, a.px_sum, a.px_min, a.px_max, a.px_gt127, a.dims_match) ==
      ((4, 3, 192L, 0, 32, 0L, true)), s"got $a")
    val b = got(1)
    assert((b.px_sum, b.px_min, b.px_max, b.px_gt127, b.dims_match) ==
      ((800L, 200, 200, 4L, true)), s"got $b")
    // direct API: undecodable returns None (never throws)
    assert(Multimodal.decodePixels(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.decodePixels(Multimodal.pngGray(3, 3, (_, _) => 1).take(20)).isEmpty)
  }

  test("multimodal: WAV PCM-16 sample decode is byte-exact; non-PCM rejects; BMP pixels round-trip") {
    import spark.implicits._
    // signed 16-bit LE samples, full range incl. negatives
    val samples = Array(-32768, -1, 0, 1, 32767, 12345, -12345)
    val tail = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (v, i) =>
      tail(2 * i) = (v & 0xff).toByte; tail(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val st = Multimodal.decodeWavSamples(Multimodal.wavEnvelope(44100, 1, tail)).get
    assert((st.sampleRate, st.channels, st.nSamples) == ((44100, 1, 7L)), st)
    assert((st.sum, st.min, st.max) == ((samples.map(_.toLong).sum, -32768, 32767)), st)
    // empty data chunk: zero samples, zeroed extrema (not MaxValue garbage)
    val empty = Multimodal.decodeWavSamples(
      Multimodal.wavEnvelope(8000, 2, Array.emptyByteArray)).get
    assert((empty.nSamples, empty.sum, empty.min, empty.max) == ((0L, 0L, 0, 0)))
    // non-WAV payloads and truncated containers return None, never throw
    assert(Multimodal.decodeWavSamples("not audio".getBytes).isEmpty)
    assert(Multimodal.decodeWavSamples(
      Multimodal.wavEnvelope(8000, 1, tail).take(30)).isEmpty)
    // BMP (ImageIO-written) pixels decode byte-exact through decodePixelStats
    val bmp = Multimodal.bmpGray(6, 4, (x, y) => (x * 40 + y * 11) % 256)
    val rows = Multimodal.decodePixelStats(
      Seq(Multimodal.MediaRow(1L, bmp)).toDS()).collect()
    val expectedSum = (for (y <- 0 until 4; x <- 0 until 6) yield (x * 40 + y * 11) % 256).sum
    assert(rows.length == 1 &&
      (rows.head.px_width, rows.head.px_height, rows.head.px_sum, rows.head.dims_match) ==
      ((6, 4, expectedSum.toLong, true)), rows.toSeq)
  }

  test("redactPii masks URL/email/phone with fixed placeholders, idempotently") {
    import spark.implicits._
    val in = Seq(
      "mail me at a.b+c@sub.example.org today",
      "see https://example.com/path?q=1#frag and http://x.example.net",
      "call +12025550000 or 98765432 now",
      "an email inside a url https://example.com/u/a@b.cd stays one <URL>",
      "short digits 123456 survive").toDF("text")
    val got = in.select(TextFunctions.redactPii($"text").as("r")).as[String].collect().toSeq
    assert(got == Seq(
      "mail me at <EMAIL> today",
      "see <URL> and <URL>",
      "call <PHONE> or <PHONE> now",
      "an email inside a url <URL> stays one <URL>",
      "short digits 123456 survive"))
    // idempotent: placeholders contain no redactable substrings
    val again = got.toDF("text").select(TextFunctions.redactPii($"text").as("r"))
      .as[String].collect().toSeq
    assert(again == got)
  }

  test("word/line repetition counts (Gopher-style integer metrics)") {
    import spark.implicits._
    val in = Seq("a b a\na b a\n\n  \nunique").toDF("text")
    val (nw, ndw) = TextFunctions.wordCounts($"text")
    val (nl, ndl) = TextFunctions.lineCounts($"text")
    val r = in.select(nw, ndw, nl, ndl).as[(Int, Int, Int, Int)].head()
    assert(r == ((7, 3, 3, 2)), s"got $r") // 7 words / {a,b,unique}; 3 non-empty lines / 2 distinct
  }

  test("payload sniffing: sniffKind classifies; auto route round-trips") {
    val text = docs(0)._2
    val payloads = Seq(
      text,
      graft.pipeline.SynthGen.wrapHtml(text),
      graft.pipeline.MiniPdf.synthesizeBase64(text),
      new String(graft.pipeline.MiniPdf.synthesize(text), java.nio.charset.StandardCharsets.ISO_8859_1),
      "", "JVBERi0 not really base64... actually sniffed as pdf-b64")
    assert(payloads.map(TextFunctions.sniffKind) ==
      Seq("plain", "html", "pdf-b64", "pdf", "plain", "pdf-b64"))
    def run(p: String, tool: String) =
      graft.pipeline.ExtractJob.extractTurn(graft.pipeline.Turn("c", 0, "user", p, tool, null))
    // auto-routing extracts the same text for all three labeled-equivalent kinds
    Seq(payloads(0), payloads(1), payloads(2), payloads(3)).foreach { p =>
      val e = run(p, "auto")
      assert(e.error == null && e.extracted_text == text, s"auto route failed for ${e.payload_kind}")
    }
    // the raw-PDF route is auto-only: a labelled "pdf" row is plain passthrough
    val labelled = run(payloads(3), "pdf")
    assert(labelled.error == null && labelled.payload_kind == "plain" &&
      labelled.extracted_text == payloads(3))
    // corrupt base64-of-PDF and truncated raw PDF: error rows keep the "auto" label
    Seq(payloads(5), payloads(3).take(40)).foreach { p =>
      val e = run(p, "auto")
      assert(e.error != null && e.extracted_text == null && e.payload_kind == "auto",
        s"corrupt auto payload must land in error: $e")
    }
  }

  test("asofJoin: latest right value at or before each left ts, per key") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val left = Seq((1L, ts(10), "a"), (1L, ts(20), "b"), (1L, ts(5), "c"),
      (2L, ts(10), "d")).toDF("k", "ts", "tag")
    val right = Seq((1L, ts(10), 1.5), (1L, ts(15), 2.5), (2L, ts(11), 9.0))
      .toDF("k", "ts", "v")
    val got = Temporal.asofJoin(left, right, "k", "ts", Seq("v"))
      .select($"tag", $"asof_v").as[(String, Option[Double])].collect().toMap
    // equal ts matches (inclusive); earlier left rows get nulls; keys isolate
    assert(got == Map("a" -> Some(1.5), "b" -> Some(2.5), "c" -> None, "d" -> None))
  }

  test("asofJoin: latest right row travels whole — its nulls are preserved, all cols from one row") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    // the latest right row (ts=20) has v1=null: SQL ASOF attaches THAT row's
    // null, never an older row's non-null v1; v1/v2 must come from the same row
    val left = Seq((1L, ts(25), "q")).toDF("k", "ts", "tag")
    val right = Seq(
      (1L, ts(10), Option(1.0), Option("x")),
      (1L, ts(20), Option.empty[Double], Option("y"))).toDF("k", "ts", "v1", "v2")
    val got = Temporal.asofJoin(left, right, "k", "ts", Seq("v1", "v2"))
      .select($"asof_v1", $"asof_v2").as[(Option[Double], Option[String])].collect().toSeq
    assert(got == Seq((None, Some("y"))),
      s"nulls of the matched right row must be preserved, got $got")
  }

  test("asofJoin: toleranceSec discards stale matches whole-row (Polars/pandas semantics)") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val left = Seq((1L, ts(100), "fresh"), (1L, ts(5000), "stale"), (1L, ts(3600 + 50), "edge"))
      .toDF("k", "ts", "tag")
    val right = Seq((1L, ts(50), 1.5, "x")).toDF("k", "ts", "v1", "v2")
    val got = Temporal.asofJoin(left, right, "k", "ts", Seq("v1", "v2"),
      toleranceSec = Some(3600L))
      .select($"tag", $"asof_v1", $"asof_v2")
      .as[(String, Option[Double], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // "fresh" matches (50 >= 100-3600); "edge" sits exactly at the bound
    // (50 >= 3650-3600 inclusive); "stale" is beyond it — BOTH values null
    // together (the whole matched row is discarded, never mixed)
    assert(got == Map(
      "fresh" -> ((Some(1.5), Some("x"))),
      "edge" -> ((Some(1.5), Some("x"))),
      "stale" -> ((None, None))), s"got $got")
    // brute-force parity with tolerance on a random dense set
    val rnd = new scala.util.Random(13)
    val ls = (0 until 300).map(i => (rnd.nextInt(3).toLong, i.toLong, ts(rnd.nextInt(5000))))
    val rs = (0 until 40).map(i => (rnd.nextInt(3).toLong, ts(rnd.nextInt(5000)), i.toDouble))
    val tol = 600L
    val gotD = Temporal.asofJoin(ls.toDF("k", "eid", "ts"), rs.toDF("k", "ts", "v"),
      "k", "ts", Seq("v"), sliceSec = 500L, toleranceSec = Some(tol))
      .select($"eid", $"asof_v").as[(Long, Option[Double])].collect().toMap
    val expected = ls.map { case (k, eid, t) =>
      val prior = rs.filter(r => r._1 == k && !r._2.after(t) &&
        r._2.getTime / 1000 >= t.getTime / 1000 - tol)
      eid -> (if (prior.isEmpty) None else Some(prior.maxBy(_._2.getTime)._3))
    }.toMap
    assert(gotD == expected)
  }

  test("asofJoin forward: earliest right row at/after each left ts; tolerance bounds lookahead") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val left = Seq((1L, ts(100), "a"), (1L, ts(250), "b"), (2L, ts(100), "c"))
      .toDF("k", "ts", "tag")
    val right = Seq((1L, ts(100), 1.0), (1L, ts(200), 2.0), (2L, ts(50), 9.0))
      .toDF("k", "ts", "v")
    // inclusive at equal ts; "b" has no following right row; key 2's only
    // right row is in the past
    val got = Temporal.asofJoin(left, right, "k", "ts", Seq("v"), forward = true)
      .select($"tag", $"asof_v").as[(String, Option[Double])].collect().toMap
    assert(got == Map("a" -> Some(1.0), "b" -> None, "c" -> None), s"got $got")
    // brute-force parity across slice boundaries, with lookahead tolerance
    val rnd = new scala.util.Random(17)
    val ls = (0 until 300).map(i => (rnd.nextInt(3).toLong, i.toLong, ts(rnd.nextInt(5000))))
    val rs = (0 until 40).map(i => (rnd.nextInt(3).toLong, ts(rnd.nextInt(5000)), i.toDouble))
    for (tol <- Seq(None, Some(400L))) {
      val gotD = Temporal.asofJoin(ls.toDF("k", "eid", "ts"), rs.toDF("k", "ts", "v"),
        "k", "ts", Seq("v"), sliceSec = 300L, toleranceSec = tol, forward = true)
        .select($"eid", $"asof_v").as[(Long, Option[Double])].collect().toMap
      val expected = ls.map { case (k, eid, t) =>
        val next = rs.filter(r => r._1 == k && !r._2.before(t) &&
          tol.forall(x => r._2.getTime / 1000 <= t.getTime / 1000 + x))
        eid -> (if (next.isEmpty) None else Some(next.minBy(_._2.getTime)._3))
      }.toMap
      assert(gotD == expected, s"tolerance $tol")
    }
  }

  test("asofJoin: NULL-key left rows survive with null values (SQL LEFT semantics)") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    // SQL equality: a NULL key matches nothing — the row is KEPT with null
    // values (a raw window partition would instead group null keys together
    // and let a null-key right row leak its value in)
    val left = Seq((Option(1L), ts(20), "a"), (Option.empty[Long], ts(20), "b"))
      .toDF("k", "ts", "tag")
    val right = Seq((Option(1L), ts(10), 1.5), (Option.empty[Long], ts(10), 9.9))
      .toDF("k", "ts", "v")
    val got = Temporal.asofJoin(left, right, "k", "ts", Seq("v"))
      .select($"tag", $"asof_v").as[(String, Option[Double])].collect().toMap
    assert(got == Map("a" -> Some(1.5), "b" -> None), s"got $got")
  }

  test("asofJoin/asofNearest: chained pass with the same prefix fails loudly (round 6)") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val left = Seq((1L, ts(20))).toDF("k", "ts")
    val right = Seq((1L, ts(10), 1.5)).toDF("k", "ts", "v")
    val once = Temporal.asofJoin(left, right, "k", "ts", Seq("v")) // has asof_v
    // a second pass with the default prefix would silently emit duplicate
    // asof_v columns — the guard refuses instead
    val e1 = intercept[IllegalArgumentException] {
      Temporal.asofJoin(once, right, "k", "ts", Seq("v"))
    }
    assert(e1.getMessage.contains("asof_v"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Temporal.asofNearest(once, right, "k", "ts", Seq("v"))
    }
    assert(e2.getMessage.contains("asof_v"), e2.getMessage)
    // a different prefix chains fine
    val chained = Temporal.asofJoin(once, right, "k", "ts", Seq("v"), prefix = "asof2_")
    assert(chained.columns.count(_ == "asof_v") == 1 && chained.columns.contains("asof2_v"))
  }

  test("asofJoin: brute-force parity on a dense random set across slice boundaries") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val rnd = new scala.util.Random(11)
    val ls = (0 until 400).map(i => (rnd.nextInt(4).toLong, i.toLong, ts(rnd.nextInt(5000))))
    val rs = (0 until 60).map(i =>
      (rnd.nextInt(4).toLong, ts(rnd.nextInt(5000)), if (i % 7 == 0) None else Some(i.toDouble)))
    // sliceSec smaller than the time range: seeds must carry across many buckets
    val got = Temporal.asofJoin(ls.toDF("k", "eid", "ts"), rs.toDF("k", "ts", "v"),
      "k", "ts", Seq("v"), sliceSec = 300L)
      .select($"eid", $"asof_v").as[(Long, Option[Double])].collect().toMap
    // dedup equal (k, ts) right rows like the operator contract demands
    // (ambiguous by definition); this seed has none — assert that first
    val rKeys = rs.map(r => (r._1, r._2.getTime))
    assert(rKeys.distinct.size == rKeys.size, "seed produced ambiguous right rows")
    val expected = ls.map { case (k, eid, t) =>
      val prior = rs.filter(r => r._1 == k && !r._2.after(t))
      eid -> (if (prior.isEmpty) None else prior.maxBy(_._2.getTime)._3)
    }.toMap
    assert(got == expected,
      s"diff: ${(got.toSet diff expected.toSet).take(5)} vs ${(expected.toSet diff got.toSet).take(5)}")
  }

  test("asofJoin: hot key is time-sliced — window tasks bounded by (key, bucket), not key") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    // one user with 20,000 events among tiny keys — the round-3 plan serialized
    // all 20k into ONE window task; the sliced plan bounds each task by the
    // events inside one sliceSec bucket
    val sliceSec = 1000L
    val hot = (0 until 20000).map(i => (1L, i.toLong, ts(i.toLong)))
    val cold = (0 until 50).map(i => (100L + i, 90000L + i, ts(i * 37L)))
    val ls = hot ++ cold
    val rs = (0 until 200).map(i => (1L, ts(i * 100L), i.toDouble)) ++
      (0 until 50).map(i => (100L + i, ts(5L), -1.0))
    val df = Temporal.asofJoin(ls.toDF("k", "eid", "ts"), rs.toDF("k", "ts", "v"),
      "k", "ts", Seq("v"), sliceSec = sliceSec)
    // plan evidence: the carry window partitions on (key, bucket)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("__bucket"), s"window must partition on the time slice:\n${plan.take(1500)}")
    // data evidence: the largest (key, bucket) group is bucket-sized, far below
    // the hot key's row count
    val maxGroup = ls.groupBy(l => (l._1, l._3.getTime / 1000 / sliceSec))
      .values.map(_.size).max
    assert(maxGroup <= sliceSec + 1 && maxGroup < hot.size / 10,
      s"hot key not sliced: max group $maxGroup of ${hot.size}")
    // correctness unchanged by slicing
    val got = df.select($"eid", $"asof_v").as[(Long, Option[Double])].collect().toMap
    val expected = ls.map { case (k, eid, t) =>
      val prior = rs.filter(r => r._1 == k && !r._2.after(t))
      eid -> (if (prior.isEmpty) None else Some(prior.maxBy(_._2.getTime)._3))
    }.toMap
    assert(got == expected)
  }

  test("asofNearest: closest right row either direction, backward wins ties, tolerance bounds both") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    // exact tie at distance 50 -> backward (v=1.0); forward closer -> 9.0;
    // backward only -> 1.0; no match inside tolerance -> null
    val left = Seq((1L, 10L, ts(100)), (1L, 11L, ts(149)), (1L, 12L, ts(400)), (2L, 20L, ts(500)))
      .toDF("k", "eid", "ts")
    val right = Seq((1L, ts(50), 1.0), (1L, ts(150), 9.0), (2L, ts(5000), 7.0))
      .toDF("k", "ts", "v")
    val got = Temporal.asofNearest(left, right, "k", "ts", Seq("v"))
      .select($"eid", $"asof_v").as[(Long, Option[Double])].collect().toMap
    assert(got == Map(10L -> Some(1.0), 11L -> Some(9.0), 12L -> Some(9.0), 20L -> Some(7.0)),
      s"got $got")
    val gotTol = Temporal.asofNearest(left, right, "k", "ts", Seq("v"), toleranceSec = Some(100L))
      .select($"eid", $"asof_v").as[(Long, Option[Double])].collect().toMap
    assert(gotTol(20L).isEmpty && gotTol(10L) == Some(1.0), s"got $gotTol")
    // brute-force parity on a dense random set across slice boundaries
    val rnd = new scala.util.Random(41)
    val ls = (0 until 300).map(i => (rnd.nextInt(3).toLong, i.toLong, ts(rnd.nextInt(5000))))
    val rs = (0 until 40).map(i => (rnd.nextInt(3).toLong, ts(rnd.nextInt(5000)), i.toDouble))
    val gotD = Temporal.asofNearest(ls.toDF("k", "eid", "ts"), rs.toDF("k", "ts", "v"),
      "k", "ts", Seq("v"), sliceSec = 400L)
      .select($"eid", $"asof_v").as[(Long, Option[Double])].collect().toMap
    val expected = ls.map { case (k, eid, t) =>
      val cand = rs.filter(_._1 == k)
      val back = cand.filter(r => !r._2.after(t)).sortBy(-_._2.getTime).headOption
      val fwd = cand.filter(r => !r._2.before(t)).sortBy(_._2.getTime).headOption
      val pick = (back, fwd) match {
        case (Some(b), Some(f)) =>
          val db = t.getTime - b._2.getTime // millisecond distances
          val df = f._2.getTime - t.getTime
          if (db <= df) Some(b._3) else Some(f._3)
        case (Some(b), None) => Some(b._3)
        case (None, Some(f)) => Some(f._3)
        case _               => None
      }
      eid -> pick
    }.toMap
    assert(gotD == expected,
      s"diff ${(gotD.toSet diff expected.toSet).take(4)} vs ${(expected.toSet diff gotD.toSet).take(4)}")
    // MICROSECOND distances (round 6): sub-millisecond differences decide the
    // winner — under the old unix_millis truncation both distances below
    // floored to 0ms and backward won the phantom tie; full precision picks
    // the closer forward row. An EXACT-microsecond tie still goes backward.
    def tsu(sec: Long, micros: Int) = {
      val t = new java.sql.Timestamp(sec * 1000); t.setNanos(micros * 1000); t
    }
    val lm = Seq((1L, 30L, tsu(1000, 500))).toDF("k", "eid", "ts")
    val rm = Seq((1L, tsu(1000, 0), 1.0), (1L, tsu(1000, 900), 2.0)).toDF("k", "ts", "v")
    val gotM = Temporal.asofNearest(lm, rm, "k", "ts", Seq("v"))
      .select($"eid", $"asof_v").as[(Long, Option[Double])].collect().toMap
    assert(gotM == Map(30L -> Some(2.0)), s"microsecond distances: $gotM")
    val rmT = Seq((1L, tsu(1000, 100), 1.0), (1L, tsu(1000, 900), 2.0)).toDF("k", "ts", "v")
    val gotT = Temporal.asofNearest(lm, rmT, "k", "ts", Seq("v"))
      .select($"eid", $"asof_v").as[(Long, Option[Double])].collect().toMap
    assert(gotT == Map(30L -> Some(1.0)), s"exact-microsecond tie: $gotT")
  }

  test("rollingAgg: parity with the plain RANGE-frame window across slice widths") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val rnd = new scala.util.Random(23)
    // dense random set with deliberate ts TIES (peer rows) and values
    val rows = (0 until 500).map(i =>
      (rnd.nextInt(4).toLong, i.toLong, ts(rnd.nextInt(3000) / 7 * 7), rnd.nextInt(100).toDouble))
    val df = rows.toDF("k", "eid", "ts", "v")
    val wPlain = Window.partitionBy($"k").orderBy(unix_timestamp($"ts")).rangeBetween(-600L, 0L)
    val expected = df.select($"eid",
      count(lit(1)).over(wPlain).as("n"), sum($"v").over(wPlain).as("s"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // default bucket (=window, 2x) and a finer bucket (m=3, 4x) must both match
    for (bucket <- Seq(0L, 200L)) {
      val got = Temporal.rollingAgg(df, "k", "ts",
        Seq((count(lit(1)), "n"), (sum($"v"), "s")), windowSec = 600L, bucketSec = bucket)
        .select($"eid", $"n", $"s").as[(Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == expected, s"bucketSec=$bucket: " +
        s"diff ${(got.toSet diff expected.toSet).take(3)} vs ${(expected.toSet diff got.toSet).take(3)}")
    }
    // amplification cap is loud, names the parameter
    val boom = intercept[IllegalArgumentException] {
      Temporal.rollingAgg(df, "k", "ts", Seq((count(lit(1)), "n")),
        windowSec = 600L, bucketSec = 1L)
    }
    assert(boom.getMessage.contains("bucketSec"), boom.getMessage)
    // windowSec = 0: frame = current-second peers only, no contributor copies
    // (a descending sequence() would otherwise double-count every row)
    val w0 = Window.partitionBy($"k").orderBy(unix_timestamp($"ts")).rangeBetween(0L, 0L)
    val exp0 = df.select($"eid", count(lit(1)).over(w0).as("n"))
      .as[(Long, Long)].collect().toMap
    val got0 = Temporal.rollingAgg(df, "k", "ts", Seq((count(lit(1)), "n")), windowSec = 0L)
      .select($"eid", $"n").as[(Long, Long)].collect().toMap
    assert(got0 == exp0,
      s"windowSec=0 diff: ${(got0.toSet diff exp0.toSet).take(3)}")
  }

  test("rollingAgg: hot key is time-sliced — window tasks bounded by (key, slice), not key") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    // one user with 20,000 events in 20,000s against a 600s trailing window:
    // the plain per-key window serializes all 20k into ONE task; sliced, each
    // (key, slice) group holds at most 2 window-widths of the timeline
    val winSec = 600L
    val hot = (0 until 20000).map(i => (1L, i.toLong, ts(i.toLong), 1.0))
    val cold = (0 until 50).map(i => (100L + i, 90000L + i, ts(i * 37L), 2.0))
    val rows = hot ++ cold
    val df = Temporal.rollingAgg(rows.toDF("k", "eid", "ts", "v"), "k", "ts",
      Seq((count(lit(1)), "n"), (sum($"v"), "s")), windowSec = winSec)
    // plan evidence: the window partitions on the slice, not the bare key
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("__rslice"), s"window must partition on the time slice:\n${plan.take(1500)}")
    // data evidence: max (key, slice) group (emit + contributor copies) is
    // ~2 window-widths, far below the hot key's row count
    val maxGroup = {
      val bySlice = rows.groupBy(r => (r._1, r._3.getTime / 1000 / winSec)).view.mapValues(_.size)
      bySlice.map { case ((k, s), n) => n + bySlice.getOrElse((k, s - 1), 0) }.max
    }
    assert(maxGroup <= 2 * winSec + 2 && maxGroup < hot.size / 10,
      s"hot key not sliced: max group $maxGroup of ${hot.size}")
    // correctness unchanged by slicing
    val got = df.select($"eid", $"n").as[(Long, Long)].collect().toMap
    val expected = rows.map { case (k, eid, t, _) =>
      eid -> rows.count(r => r._1 == k &&
        r._3.getTime / 1000 >= t.getTime / 1000 - winSec && !r._3.after(t)).toLong
    }.toMap
    assert(got == expected,
      s"diff: ${(got.toSet diff expected.toSet).take(5)} vs ${(expected.toSet diff got.toSet).take(5)}")
  }

  test("TopKPairs: bounded custom aggregate matches the row_number window, partials merge") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(31)
    // random scores with deliberate TIES (id tiebreak must be deterministic)
    // and planted nulls (unrankable, skipped)
    val rows = (0 until 800).map(i => (rnd.nextInt(5).toLong, i.toLong,
      if (i % 97 == 0) None else Some(rnd.nextInt(40).toDouble)))
    val df = rows.toDF("k", "id", "score")
    val got = df.groupBy($"k")
      .agg(graft.functions.TopK.topK($"score", $"id", 4).as("top"))
      .select($"k", posexplode($"top"))
      .select($"k", ($"pos" + 1).as("rank"), $"col.id".as("id"), $"col.score".as("score"))
      .as[(Long, Long, Long, Double)].collect().toSet
    val w = Window.partitionBy($"k").orderBy($"score".desc, $"id".asc)
    val expected = df.where($"score".isNotNull)
      .select($"k", row_number().over(w).as("rank"), $"id", $"score")
      .where($"rank" <= 4)
      .as[(Long, Int, Long, Double)].collect().map(r => (r._1, r._2.toLong, r._3, r._4)).toSet
    assert(got == expected,
      s"diff ${(got diff expected).take(3)} vs ${(expected diff got).take(3)}")
    // plan: PARTIAL aggregation runs map-side (state bounded at k per group
    // per task — the scale property the per-key window lacks)
    val plan = df.groupBy($"k")
      .agg(graft.functions.TopK.topK($"score", $"id", 4).as("top"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_topk"), s"no map-side partial:\n${plan.take(1200)}")
    // k larger than the group emits the whole group, ordered
    val small = Seq((1L, 10L, 2.0), (1L, 11L, 9.0)).toDF("k", "id", "score")
    val whole = small.groupBy($"k")
      .agg(graft.functions.TopK.topK($"score", $"id", 100).as("top"))
      .select(explode($"top")).select($"col.id").as[Long].collect().toSeq
    assert(whole == Seq(11L, 10L))
    // pathological doubles: NaN ranks GREATEST (like both engines' DESC
    // sorts) and never wedges the heap; -0.0 ties with 0.0 (id breaks it)
    val weird = Seq((1L, 1L, Double.NaN), (1L, 2L, 5.0), (1L, 3L, 7.0),
      (1L, 4L, -0.0), (1L, 5L, 0.0), (1L, 6L, 1.0)).toDF("k", "id", "score")
    val wTop = weird.groupBy($"k")
      .agg(graft.functions.TopK.topK($"score", $"id", 5).as("top"))
      .select(explode($"top")).select($"col.id").as[Long].collect().toSeq
    assert(wTop == Seq(1L, 3L, 2L, 6L, 4L), s"got $wTop")
  }

  test("rollingAgg: NULL keys and NULL timestamps follow SQL window semantics") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    // NULL keys partition together (SQL window partitioning); NULL-ts rows are
    // mutual peers in the sentinel slice — both must match the plain window
    val df = Seq(
      (Option(1L), Option(ts(100)), 1.0), (Option(1L), Option(ts(150)), 2.0),
      (Option.empty[Long], Option(ts(100)), 3.0), (Option.empty[Long], Option(ts(120)), 4.0),
      (Option(1L), Option.empty[java.sql.Timestamp], 5.0),
      (Option(1L), Option.empty[java.sql.Timestamp], 6.0)
    ).toDF("k", "ts", "v")
    val wPlain = Window.partitionBy($"k").orderBy(unix_timestamp($"ts")).rangeBetween(-600L, 0L)
    val expected = df.select($"k", $"ts", $"v", count(lit(1)).over(wPlain).as("n"))
      .select($"v", $"n").as[(Double, Long)].collect().toSet
    val got = Temporal.rollingAgg(df, "k", "ts", Seq((count(lit(1)), "n")), windowSec = 600L)
      .select($"v", $"n").as[(Double, Long)].collect().toSet
    assert(got == expected, s"got $got vs $expected")
  }

  test("rangeJoin: hostile interval is clamped with an observable truncation count, job survives") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    // end in the year 3000: unclamped this explodes to ~18M bucket rows (or
    // trips MAX_ROUNDED_ARRAY_LENGTH and fails the job); clamped it completes
    // with the truncation observable — the pipeline's poison-row discipline
    val year3000 = 32503680000L
    val events = Seq((1L, 100L, ts(10)), (1L, 101L, ts(3000)), (1L, 102L, ts(999999)))
      .toDF("k", "eid", "ts")
    val intervals = Seq((1L, 900L, ts(0), ts(year3000)), (1L, 901L, ts(0), ts(3600)))
      .toDF("k", "iid", "lo", "hi")
    val obs = new org.apache.spark.sql.Observation("range-trunc")
    val got = Temporal.rangeJoin(events, intervals, "k", "ts", "lo", "hi",
      bucketSec = 1800L, maxIntervalSec = 86400L, obs = Some(obs))
      .select($"eid", $"iid").as[(Long, Long)].collect().toSet
    // matches inside the clamp window survive; the 999999s event (past the
    // 86400s clamp) is the documented recall loss
    assert(got == Set((100L, 900L), (101L, 900L), (100L, 901L), (101L, 901L)), s"got $got")
    assert(obs.get("truncated_intervals").asInstanceOf[Long] == 1L,
      "clamping must be reported, never silent")
    assert(obs.get("intervals").asInstanceOf[Long] == 2L)
    // degenerate interval (end < start) matches nothing and never explodes
    val degenerate = Seq((1L, 902L, ts(100), ts(50))).toDF("k", "iid", "lo", "hi")
    assert(Temporal.rangeJoin(events, degenerate, "k", "ts", "lo", "hi").count() == 0L)
  }

  test("clusters: durable checkpointDir variant labels identically; convergence is join-free") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val got = Dedup.clusters(pairs, checkpointDir = Some(dir)).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // the durable checkpoint actually landed in the requested dir
    assert(new java.io.File(dir).listFiles().nonEmpty, "checkpointDir unused")
  }

  test("ivfProbe: pre-meta index layout fails loudly instead of guessing spill") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-premeta").toString
    Similarity.ivfBuildIndex(emb, dir, nCells = 8)
    // simulate a legacy index: remove the meta file
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete(): Unit
    }
    rm(new java.io.File(s"$dir/meta"))
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfProbe(spark, dir, 0L until 2L, k = 3)
    }
    assert(e.getMessage.contains("maxSpill"))
    // and the documented escape hatch works
    val ok = Similarity.ivfProbe(spark, dir, 0L until 2L, k = 3, maxSpill = 2)
    assert(ok.count() > 0)
  }

  test("ivfAppend: new vectors join the index under the STORED centroids; probes find them") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    val half = emb.filter(_._1 % 2 == 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-append").toString
    Similarity.ivfBuildIndex(half.toSeq.toDF("vec_id", "embedding"), dir,
      nCells = 8, spill = 2)
    // append the other half PLUS a planted near-duplicate of vector 0
    val q0 = emb.find(_._1 == 0L).get._2
    val planted = (900001L, q0.map(x => x * 1.0001f))
    val rest = emb.filter(_._1 % 2 == 1).toSeq :+ planted
    val appended = Similarity.ivfAppend(rest.toDF("vec_id", "embedding"), dir)
    assert(appended == rest.size * 2L, s"appended $appended") // spill = 2
    // layout: every appended row sits in one of ITS top-spill cells under the
    // centroids the index stores (build and append can't drift — shared code)
    val centroids = spark.read.parquet(s"$dir/centroids")
      .as[(Int, Array[Float])].collect().sortBy(_._1).map(_._2)
    val data = spark.read.parquet(s"$dir/data")
      .select($"id", $"vec", $"cell").as[(Long, Array[Float], Int)].collect()
    val byId = (half ++ rest).toMap
    data.foreach { case (id, _, cell) =>
      val top2 = centroids.indices.map(c => (c, Similarity.cosine(centroids(c), byId(id))))
        .sortBy { case (c, s) => (-s, c) }.take(2).map(_._1).toSet
      assert(top2.contains(cell), s"row $id landed in cell $cell, not its top-2 $top2")
    }
    // probing vector 0 finds the APPENDED planted near-duplicate at rank 1
    val top = Similarity.ivfProbe(spark, dir, Seq(0L), k = 3)
      .orderBy("rank").select($"neighbor_id").as[Long].head()
    assert(top == 900001L, s"planted appended neighbor not found, got $top")
    // a pre-meta layout refuses the append loudly
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete(): Unit
    }
    rm(new java.io.File(s"$dir/meta"))
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfAppend(rest.toDF("vec_id", "embedding"), dir)
    }
    assert(e.getMessage.contains("rebuilt"), e.getMessage)
  }

  test("rangeJoin: inclusive containment, bucket-boundary-spanning intervals, key isolation") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val events = Seq((1L, 100L, ts(0)), (1L, 101L, ts(50)), (1L, 102L, ts(120)),
      (1L, 103L, ts(121)), (2L, 200L, ts(50))).toDF("k", "eid", "ts")
    // interval [0, 120] spans several 60s buckets; bounds inclusive both ends
    val intervals = Seq((1L, 900L, ts(0), ts(120))).toDF("k", "iid", "lo", "hi")
    val got = Temporal.rangeJoin(events, intervals, "k", "ts", "lo", "hi", bucketSec = 60L)
      .select($"eid", $"iid").as[(Long, Long)].collect().toSet
    assert(got == Set((100L, 900L), (101L, 900L), (102L, 900L)),
      s"expected inclusive [0,120] matches for key 1 only, got $got")
    // brute-force parity on a denser random set
    val rnd = new scala.util.Random(5)
    val es = (0 until 200).map(i => (rnd.nextInt(3).toLong, i.toLong, ts(rnd.nextInt(1000))))
    val is = (0 until 30).map { i =>
      val lo = rnd.nextInt(900); (rnd.nextInt(3).toLong, 1000L + i, ts(lo), ts(lo + rnd.nextInt(200)))
    }
    val gotDense = Temporal.rangeJoin(es.toDF("k", "eid", "ts"),
      is.toDF("k", "iid", "lo", "hi"), "k", "ts", "lo", "hi", bucketSec = 90L)
      .select($"eid", $"iid").as[(Long, Long)].collect().toSet
    val brute = (for {
      (ek, eid, ets) <- es
      (ik, iid, lo, hi) <- is
      if ek == ik && !ets.before(lo) && !ets.after(hi)
    } yield (eid, iid)).toSet
    assert(gotDense == brute, s"diff: ${(gotDense diff brute) ++ (brute diff gotDense)}")
  }

  test("multimodal decode stub: deterministic meta + feature shape") {
    val payload = "some media bytes standing in for a jpeg".getBytes
    val meta = Multimodal.decodeStub(payload)
    assert(meta.bytes == payload.length)
    val f = Multimodal.featuresStub(payload)
    assert(f.length == 8 && f.forall(v => v >= 0f && v <= 1f))
  }

  /** Independent re-derivation of the C4-style segment-dedup contract. */
  private def expectedSegDedup(
      docs: Seq[(Long, String)], w: Int, minDocs: Int): Map[Long, (String, Int, Int)] = {
    def toks(t: String) = t.trim.split("\\s+").filter(_.nonEmpty).toSeq
    def segsOf(t: String) =
      toks(t).grouped(w).map(_.mkString(" ")).zipWithIndex.map { case (s, i) => (i, s) }.toSeq
    val all = docs.flatMap { case (id, t) => segsOf(t).map { case (i, s) => (id, i, s) } }
    val keeper = all.groupBy(_._3).collect {
      case (s, occ) if occ.map(_._1).distinct.size >= minDocs =>
        s -> occ.map(o => (o._1, o._2)).min
    }
    docs.map { case (id, t) =>
      val own = segsOf(t)
      val kept = own.filter { case (i, s) => keeper.get(s).forall(_ == (id, i)) }
      id -> ((kept.map(_._2).mkString(" "), own.size, own.size - kept.size))
    }.toMap
  }

  test("dedupSegments: planted duplicates — keeper survives, later occurrences removed") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"), // keeper of "a b c"
      (2L, "a b c x y z"), // cross-doc dup: removed here
      (3L, "a b c a b c q"), // BOTH later occurrences removed (global keeper rule)
      (4L, "   "), // zero tokens -> ('', 0, 0)
      (5L, "p q r p q r"), // intra-doc repetition only: 1 distinct doc -> kept
      (6L, "unique tokens entirely of their own making"))
    val got = Dedup.dedupSegments(docs.toDF("doc_id", "text"), "text", "doc_id", 3, 2)
      .as[(Long, String, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == expectedSegDedup(docs, 3, 2))
    assert(got(1L) == (("a b c d e f", 2, 0)))
    assert(got(2L) == (("x y z", 2, 1)))
    assert(got(3L) == (("q", 3, 2)))
    assert(got(4L) == (("", 0, 0)))
    assert(got(5L) == (("p q r p q r", 2, 0)))
  }

  test("dedupSegments: randomized corpus matches the re-derivation; minDocs=3 loosens removal") {
    import spark.implicits._
    // tiny vocab forces natural segment collisions, like the sf corpus
    val vocab = Vector("red", "blue", "green", "gold")
    val docs = (0L until 60L).map { i =>
      val n = 5 + (i % 13).toInt
      (i, (0 until n).map(j => vocab(((i * 31 + j * 7) % 4).toInt)).mkString(" "))
    }
    for (minDocs <- Seq(2, 3)) {
      val got = Dedup.dedupSegments(docs.toDF("doc_id", "text"), "text", "doc_id", 2, minDocs)
        .as[(Long, String, Int, Int)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got == expectedSegDedup(docs, 2, minDocs), s"minDocs=$minDocs")
    }
    // the tiny vocab must actually exercise removal, or the test is vacuous
    val got2 = Dedup.dedupSegments(docs.toDF("doc_id", "text"), "text", "doc_id", 2, 2)
      .as[(Long, String, Int, Int)].collect()
    assert(got2.map(_._4).sum > 20, "corpus failed to produce cross-doc duplicate segments")
  }
}
