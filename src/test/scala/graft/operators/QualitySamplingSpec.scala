package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.SparkTestSession

/** Gates for unigram surprisal scoring and deterministic split assignment that
  * the DuckDB twins (q_surprisal / q_split_assign) don't cover: hand-derived
  * expectations on a controlled corpus, vocab-cut and OOV-cost contracts,
  * split coverage/fraction/decorrelation properties.
  */
class QualitySamplingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Independent re-derivation of the surprisal contract in plain Scala. */
  private def expectedSurprisal(
      docs: Seq[(Long, String)], vocabSize: Int): Map[Long, (Long, Long, Long)] = {
    def toks(t: String) = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val all = docs.flatMap { case (_, t) => toks(t) }
    val counts = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nTotal = counts.values.sum
    val vocab = counts.toSeq.sortBy { case (w, c) => (-c, w) }.take(vocabSize).toMap
    def bits(c: Long): Long = java.lang.Long.toBinaryString(nTotal / c).length.toLong
    val oovBits = java.lang.Long.toBinaryString(nTotal).length.toLong + 1
    docs.map { case (id, t) =>
      val ws = toks(t)
      val oov = ws.count(w => !vocab.contains(w)).toLong
      val s = ws.map(w => vocab.get(w).map(bits).getOrElse(oovBits)).sum
      id -> ((ws.size.toLong, oov, s))
    }.toMap
  }

  test("unigramSurprisal matches an independent re-derivation, incl. OOV and empty docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog  ate THE homework"), // double space + case folding
      (3L, "zyzzyva the"),
      (4L, "   "), // zero tokens: must report (0,0,0), not vanish
      (5L, "cat dog cat"))
    for (v <- Seq(3, 5, 100)) {
      val got = Quality.unigramSurprisal(docs.toDF("doc_id", "text"), "text", "doc_id", v)
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got == expectedSurprisal(docs, v), s"vocabSize=$v")
    }
  }

  test("unigramSurprisal contracts: OOV costs max+1 bits; shrinking vocab never lowers a doc's score") {
    import spark.implicits._
    val docs = (0L until 50L).map(i => (i, s"common common rare_$i")).toDF("doc_id", "text")
    val wide = Quality.unigramSurprisal(docs, "text", "doc_id", 1000)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r._4).toMap
    val narrow = Quality.unigramSurprisal(docs, "text", "doc_id", 1)
      .as[(Long, Long, Long, Long)].collect().map(r => (r._1, r._3, r._4))
    // vocab=1 keeps only "common": every rare_<i> token is OOV at the fixed cost
    val nTotal = 150L // 50 docs x 3 tokens
    val oovBits = java.lang.Long.toBinaryString(nTotal).length.toLong + 1
    val commonBits = java.lang.Long.toBinaryString(nTotal / 100).length.toLong
    narrow.foreach { case (id, oov, s) =>
      assert(oov == 1L, s"doc $id")
      assert(s == 2 * commonBits + oovBits, s"doc $id score $s")
      assert(s >= wide(id), s"doc $id: narrowing vocab lowered the score")
    }
  }

  /** Independent re-derivation of the Gopher duplicate-n-gram contract. */
  private def expectedGopher(docs: Seq[(Long, String)]): Map[Long, (Int, Int, Int, Int, Int, Int)] = {
    def toks(t: String) = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    def top(ws: Seq[String], k: Int): (Int, Int) = {
      val grams = ws.sliding(k).filter(_.size == k).map(_.mkString(" ")).toSeq
      val dup = grams.groupBy(identity).view.mapValues(_.size).filter(_._2 >= 2)
      if (dup.isEmpty) (0, 0)
      else {
        val (g, c) = dup.toSeq.minBy { case (g, c) => (-c, g) }
        (c, c * g.length)
      }
    }
    def dup5(ws: Seq[String]): Int = {
      val occ = ws.sliding(5).filter(_.size == 5).zipWithIndex
        .map { case (g, i) => (g.mkString(" "), i) }.toSeq
      val dup = occ.groupBy(_._1).filter(_._2.size >= 2).keySet
      val covered = occ.filter(o => dup(o._1)).flatMap(o => o._2 until o._2 + 5).distinct
      covered.map(p => ws(p).length).sum
    }
    docs.map { case (id, t) =>
      val ws = toks(t)
      val (c2, ch2) = top(ws, 2); val (c3, ch3) = top(ws, 3)
      id -> ((ws.map(_.length).sum, c2, ch2, c3, ch3, dup5(ws)))
    }.toMap
  }

  test("gopherRepetition: hand-derived masses incl. the overlap-once coverage rule") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b c"), // top2 = ("a b", 2) -> 6 chars; no dup tri/5-gram
      (2L, "x y z w v x y z w v"), // doubled 5 tokens: dup5 covers ALL 10
      (3L, "   "), // empty -> all zero
      (4L, "q r s"), // nothing repeats
      (5L, "a a a a a a")) // two overlapping "a a a a a" -> 6 covered, NOT 10
    val got = Quality.gopherRepetition(docs.toDF("doc_id", "text"), "text", "doc_id")
      .as[(Long, Int, Int, Int, Int, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7))).toMap
    assert(got == expectedGopher(docs))
    assert(got(1L) == ((5, 2, 6, 0, 0, 0)))
    assert(got(2L) == ((10, 2, 6, 2, 10, 10))) // top2 tie -> "w v"; top3 -> "x y z"
    assert(got(3L) == ((0, 0, 0, 0, 0, 0)))
    assert(got(5L) == ((6, 5, 15, 4, 20, 6))) // overlap counted once
  }

  test("gopherRepetition: randomized small-vocab corpus matches the re-derivation") {
    import spark.implicits._
    val vocab = Vector("aa", "bb", "cc")
    val base = (0L until 40L).map { i =>
      val n = 6 + (i % 9).toInt
      (i, (0 until n).map(j => vocab(((i * 17 + j * 5) % 3).toInt)).mkString(" "))
    }
    // doubled docs guarantee duplicated 5-grams flow through the union path
    val docs = base ++ base.take(8).map { case (id, t) => (id + 100, s"$t $t") }
    val got = Quality.gopherRepetition(docs.toDF("doc_id", "text"), "text", "doc_id")
      .as[(Long, Int, Int, Int, Int, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7))).toMap
    assert(got == expectedGopher(docs))
    assert(got.values.count(_._6 > 0) >= 8, "dup5 path not exercised")
  }

  test("tokenizeWithVocab: rank-order ids, OOV id, empty docs, round-trip through the vocab") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat the cat"),
      (2L, "zyzzyva the unknown"),
      (3L, "   "),
      (4L, "cat CAT Cat")) // case folding: all three are the same word
    // corpus counts: the=4, cat=5 (3 from doc4 + 2 doc1), sat/on/mat/zyzzyva/unknown=1
    val got = Quality.tokenizeWithVocab(docs.toDF("doc_id", "text"), "text", "doc_id", 4)
      .as[(Long, Seq[Int], Int, Int)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // vocab (count desc, word asc), V=4: cat=0, the=1, mat=2, on=3; OOV id=4
    assert(got(1L) == ((Seq(1, 0, 4, 3, 1, 2, 1, 0), 8, 1))) // sat is OOV
    assert(got(2L) == ((Seq(4, 1, 4), 3, 2)))
    assert(got(3L) == ((Seq(), 0, 0)))
    assert(got(4L) == ((Seq(0, 0, 0), 3, 0)))
    // oversized vocab: every word in-vocab, ids still rank-ordered, zero OOV
    val full = Quality.tokenizeWithVocab(docs.toDF("doc_id", "text"), "text", "doc_id", 100)
      .as[(Long, Seq[Int], Int, Int)].collect()
    assert(full.map(_._4).sum == 0)
    intercept[IllegalArgumentException] {
      Quality.tokenizeWithVocab(docs.toDF("doc_id", "text"), "text", "doc_id", 100000)
    }
  }

  test("splitAssign: total coverage, target fractions, layout invariance") {
    import spark.implicits._
    val n = 20000L
    val ids = (0L until n).toDF("doc_id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    def labels(parts: Int): Map[Long, String] =
      Sampling.splitAssign(ids.repartition(parts), "doc_id", splits, salt = 7L)
        .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    val a = labels(1)
    assert(a.size == n && a == labels(11), "labels must cover every row and ignore layout")
    val byLabel = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byLabel.keySet == Set("train", "val", "test"))
    assert(math.abs(byLabel("train") / n.toDouble - 0.8) < 0.01, s"train ${byLabel("train")}")
    assert(math.abs(byLabel("val") / n.toDouble - 0.1) < 0.01, s"val ${byLabel("val")}")
    // rerun stability is the point: same ids, same labels, forever
    assert(labels(1) == a)
  }

  /** Plain-Scala replica of Sampling.saltedHash for independent checking. */
  private def saltedHashScala(id: Long, salt: Long): Long = {
    val F = 2147483648L; val S = 4294967296L
    val s = ((((id % F) + F) % F) + (salt % F)) % F
    val h1 = (s * 2654435761L) % S
    val m1 = h1 ^ (m1Shift(h1))
    ((m1 % F) * 2246822519L) % S
  }
  private def m1Shift(h1: Long): Long = h1 >>> 16

  test("perplexityBuckets matches an independent re-derivation, incl. terciles, empty docs and keep") {
    import spark.implicits._
    // rare_<i> tokens push per-doc surprisal up with i's repetition profile:
    // a spread of bits/token values so the terciles cut somewhere real
    val docs = (0L until 60L).map { i =>
      val common = Seq.fill(3 + (i % 5).toInt)("common")
      val rare = (0 until (i % 7).toInt).map(j => s"rare_${i}_$j")
      (i, (common ++ rare).mkString(" "))
    } ++ Seq((60L, "   "), (61L, "")) // empty docs -> bucket 'empty', keep false
    val got = Quality.perplexityBuckets(docs.toDF("doc_id", "text"), "text", "doc_id", 256)
      .as[(Long, Long, Option[Long], String, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap

    // independent derivation: surprisal -> bpt -> exact-rank terciles -> keep
    val sur = expectedSurprisal(docs, 256)
    val bpt = sur.collect { case (id, (nt, _, sb)) if nt > 0 => id -> (sb * 1000 / nt) }
    val sorted = bpt.values.toSeq.sorted
    val n = sorted.size
    val t33 = sorted((n + 2) / 3 - 1); val t66 = sorted((2 * n + 2) / 3 - 1)
    docs.foreach { case (id, _) =>
      val (nt, b, bucket, keep) = got(id)
      assert(nt == sur(id)._1, s"doc $id n_tokens")
      if (sur(id)._1 == 0) {
        assert(b.isEmpty && bucket == "empty" && !keep, s"doc $id empty contract")
      } else {
        assert(b.contains(bpt(id)), s"doc $id bpt")
        val exp = if (bpt(id) <= t33) "head" else if (bpt(id) <= t66) "middle" else "tail"
        assert(bucket == exp, s"doc $id bucket $bucket != $exp (bpt ${bpt(id)} t33 $t33 t66 $t66)")
        val hv = saltedHashScala(id, 11L)
        val expKeep = bucket match {
          case "head" => true
          case "middle" => hv < 2147483648L
          case _ => hv < 429496730L
        }
        assert(keep == expKeep, s"doc $id keep")
      }
    }
    // the corpus must actually populate all three buckets or the test is weak
    val byBucket = got.values.map(_._3).groupBy(identity).view.mapValues(_.size).toMap
    assert(Set("head", "middle", "tail").subsetOf(byBucket.keySet), s"buckets: $byBucket")
  }

  test("splitAssign: salt decorrelates; invalid fractions fail loudly") {
    import spark.implicits._
    val ids = (0L until 10000L).toDF("doc_id")
    val splits = Seq("a" -> 0.5, "b" -> 0.5)
    def setA(salt: Long) =
      Sampling.splitAssign(ids, "doc_id", splits, salt)
        .where($"split" === "a").select($"doc_id").as[Long].collect().toSet
    val s0 = setA(0); val s9 = setA(9001)
    // independent 50% draws overlap ~25% of the universe; identical draws 50%
    val overlap = (s0 & s9).size / 10000.0
    assert(overlap > 0.15 && overlap < 0.35, s"salts failed to decorrelate: $overlap")
    intercept[IllegalArgumentException] {
      Sampling.splitAssign(ids, "doc_id", Seq("a" -> 0.5, "b" -> 0.4))
    }
    intercept[IllegalArgumentException] {
      Sampling.splitAssign(ids, "doc_id", Seq("a" -> 1.1, "b" -> -0.1))
    }
  }

  test("bigramSurprisal matches an independent re-derivation; repetition scores lower") {
    import spark.implicits._
    def bitlen(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong
    def toks(t: String) = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    // same multiset of tokens in both docs: one repetitive, one scrambled
    val docs = Seq(
      (1L, "the cat sat the cat sat the cat sat"),
      (2L, "sat the cat cat the sat cat sat the"),
      (3L, "lonely words appear once each here"),
      (4L, "   "))
    val all = docs.flatMap { case (_, t) => toks(t) }
    val cu = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = all.size.toLong
    val cb = docs.flatMap { case (_, t) => toks(t).sliding(2).filter(_.size == 2).map(p => (p(0), p(1))) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = docs.map { case (id, t) =>
      val ws = toks(t)
      var bits = 0L; var hits = 0L
      ws.zipWithIndex.foreach { case (w0, i) =>
        if (i == 0) bits += bitlen(n / cu(w0))
        else cb.get((ws(i - 1), w0)) match {
          case Some(c) => bits += bitlen(cu(ws(i - 1)) / c); hits += 1
          case None    => bits += bitlen(n / cu(w0)) + 1
        }
      }
      id -> ((ws.size.toLong, hits, bits))
    }.toMap
    val got = Quality.bigramSurprisal(docs.toDF("doc_id", "text"), "text", "doc_id")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == want, s"\n got=$got\nwant=$want")
    assert(got(4L) == ((0L, 0L, 0L)), "empty doc must report zeros")
    // the repetitive doc's bigrams all repeat -> fewer bits than the scramble
    assert(got(1L)._3 < got(2L)._3,
      s"repetition must score lower: ${got(1L)._3} vs ${got(2L)._3}")
  }

  test("gopherQuality: each rule flips on its hand-built boundary document") {
    import spark.implicits._
    val good = (Seq("the", "with") ++ (1 to 48).map(i => "word" + (i % 9))).mkString(" ")
    val docs = Seq(
      (1L, good),                                        // passes all rules
      (2L, (Seq("the", "with") ++ (1 to 47).map(_ => "w")).mkString(" ")), // 49 words: ok_words false; mean len 49*... short
      (3L, good + " " + Seq.fill(10)("#####").mkString(" ")), // symbol-heavy
      (4L, (Seq("the", "with") ++ (1 to 48).map(_ => "1234")).mkString(" ")), // digits: alpha frac 2/50 < 0.8
      (5L, (1 to 50).map(i => "word" + (i % 9)).mkString(" ")) // no stop words
    ).toDF("doc_id", "text")
    val out = Quality.gopherQuality(docs, "text", "doc_id")
      .select("doc_id", "ok_words", "ok_mean_len", "ok_alpha", "ok_symbols", "ok_stop", "keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L)._7, s"good doc rejected: ${out(1L)}")
    assert(!out(2L)._2 && !out(2L)._7, "49-word doc must fail ok_words")
    assert(!out(3L)._5 && !out(3L)._7, "symbol-heavy doc must fail ok_symbols")
    assert(!out(4L)._4 && !out(4L)._7, "digit-word doc must fail ok_alpha")
    assert(!out(5L)._6 && !out(5L)._7, "stopword-free doc must fail ok_stop")
    // integer milli mean: "aa bbbb" -> 6*1000 div 2 = 3000, exactly on the boundary
    val edge = Quality.gopherQuality(Seq((9L, "aa bbbb")).toDF("doc_id", "text"), "text", "doc_id")
      .select("mean_len_milli", "ok_mean_len").collect()(0)
    assert(edge.getLong(0) == 3000L && edge.getBoolean(1), s"boundary milli mean: $edge")
  }

  test("tfidfKeywords: rarer words outrank frequent common ones; rank ties break by word") {
    import spark.implicits._
    // 4 docs; 'common' appears in all (idf bits = len(bin(4//4)) = 1),
    // 'rare' in one (len(bin(4//1)) = 3)
    val docs = Seq(
      (1L, "common common common rare zeta zeta"),
      (2L, "common alpha"),
      (3L, "common beta"),
      (4L, "common gamma")
    ).toDF("doc_id", "text")
    val out = Quality.tfidfKeywords(docs, "text", "doc_id", topK = 2)
      .select("doc_id", "rank", "word", "score")
      .as[(Long, Int, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(t => (t._3, t._4)).toSeq).toMap
    // doc 1: zeta tf=2 idf=3 -> 6; rare tf=1 idf=3 -> 3; common tf=3 idf=1 -> 3
    // tie at 3 breaks by word asc: 'common' < 'rare'
    assert(out(1L) == Seq(("zeta", 6L), ("common", 3L)), s"doc1: ${out(1L)}")
    // doc 2: alpha (tf=1, idf=3) -> 3 beats common (tf=1, idf=1) -> 1
    assert(out(2L) == Seq(("alpha", 3L), ("common", 1L)), s"doc2: ${out(2L)}")
    // empty doc: absent from output
    val withEmpty = Quality.tfidfKeywords(docs.union(Seq((9L, "  ")).toDF("doc_id", "text")),
      "text", "doc_id", topK = 2)
    assert(withEmpty.where($"doc_id" === 9L).count() == 0)
  }

  /** Independent single-threaded BPE trainer (Sennrich et al. 2016 alg.) to
    * gate the distributed one: word-frequency table, argmax adjacent pair by
    * (count desc, lhs asc, rhs asc), greedy non-overlapping merge, stop when
    * no pair repeats.
    */
  private def refBpe(texts: Seq[String], nMerges: Int, marker: Option[String])
      : Seq[(Int, String, String, Long)] = {
    var vocab: Map[Seq[String], Long] = texts
      .flatMap(_.trim.toLowerCase.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) =>
        val chars: Seq[String] = w.map(_.toString)
        (marker.fold(chars)(chars :+ _), ws.size.toLong)
      }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var idx = 0
    var done = false
    while (idx < nMerges && !done) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.sliding(2).foreach {
          case Seq(a, b) => pc((a, b)) = pc.getOrElse((a, b), 0L) + f
          case _         =>
        }
      }
      val cands = pc.filter(_._2 >= 2)
      if (cands.isEmpty) done = true
      else {
        val ((l, r), c) = cands.minBy { case ((a, b), n) => (-n, a, b) }
        out += ((idx, l, r, c))
        vocab = vocab.groupBy { case (syms, _) =>
          Quality.mergeGreedy(syms, l, r)
        }.map { case (k, vs) => (k, vs.values.sum) }
        idx += 1
      }
    }
    out.toSeq
  }

  test("bpeTrain matches an independent re-derivation on the classic corpus; trainer is deterministic") {
    import spark.implicits._
    // the Sennrich paper's corpus shape: low x5, lower x2, newest x6, widest x3
    val texts = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (marker <- Seq(None, Some("</w>"))) {
      val got = Quality.bpeTrain(df, "text", nMerges = 10, marker = marker)
        .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
      val want = refBpe(texts, 10, marker)
      assert(got == want, s"marker=$marker\n got=$got\nwant=$want")
    }
    // first merge with the end marker must be (e, s) with count 9 — the
    // (es,st,t</w>) 9-way tie broken by lhs ascending
    val first = refBpe(texts, 1, Some("</w>")).head
    assert((first._2, first._3, first._4) == (("e", "s", 9L)), s"classic first merge: $first")
    // greedy non-overlap: "aaa" under (a,a) -> ["aa","a"]
    assert(Quality.mergeGreedy(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    // exhaustion: a corpus with no repeating pair learns nothing
    assert(Quality.bpeTrain(Seq((1L, "ab cd")).toDF("doc_id", "text"), "text", 5).count() == 0)
  }

  test("bpeTrain: driver-side incremental loop == distributed loop, merge for merge (VERDICT r7 #3)") {
    import spark.implicits._
    // the sf corpus slice gives a real Zipf shape; maxDistinctWords=0 forces
    // the distributed per-round fallback, the default takes the driver loop
    val df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select($"doc_id", $"text").where($"doc_id" < 200)
    for (marker <- Seq(None, Some("</w>"))) {
      val fast = Quality.bpeTrain(df, "text", nMerges = 16, marker = marker)
        .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
      val dist = Quality.bpeTrain(df, "text", nMerges = 16, marker = marker,
        maxDistinctWords = 0)
        .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
      assert(fast == dist, s"marker=$marker driver/distributed diverged:\n fast=$fast\n dist=$dist")
      assert(fast.nonEmpty, "sf corpus must learn merges")
    }
    // exhaustion agrees too
    assert(Quality.bpeTrain(Seq((1L, "ab cd")).toDF("doc_id", "text"), "text", 5,
      maxDistinctWords = 0).count() == 0)
  }

  test("one tokenizer: every operator sees the same words, whitespace edge cases and null text included") {
    import spark.implicits._
    import org.apache.spark.sql.{DataFrame, Row}
    // Spark's trim strips spaces only: the tab- and newline-led docs split to
    // a leading empty token, which every operator must drop
    val docs = Seq[(Long, String)](
      (1L, "\tAlpha beta"), (2L, "\nGamma  delta\n"),
      (3L, "Mixed \t\n WHITE\u000B space\f Runs "), (4L, "UPPER lower MiXeD alpha"),
      (5L, ""), (6L, " \t\n "), (7L, null))
    val df = docs.toDF("doc_id", "text")
    val toks: Map[Long, Seq[String]] = docs.collect { case (id, t) if t != null =>
      id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    }.toMap
    assert(toks(1L) == Seq("alpha", "beta") && toks(3L).length == 4 && toks(6L).isEmpty)
    def rows(d: DataFrame): Map[Long, Row] = d.collect().map(r => r.getLong(0) -> r).toMap
    val weights = spark.range(64).select($"id".cast("int").as("bucket"), ($"id" * 3 - 90).as("w_milli"))
    val uni = rows(Quality.unigramSurprisal(df, "text", "doc_id", 4))
    val bi = rows(Quality.bigramSurprisal(df, "text", "doc_id"))
    val tv = rows(Quality.tokenizeWithVocab(df, "text", "doc_id", 4))
    val cls = rows(Quality.classifierScore(df, "text", "doc_id", weights, 64, biasMilli = 7L))
    val gq = rows(Quality.gopherQuality(df, "text", "doc_id"))
    val gr = rows(Quality.gopherRepetition(df, "text", "doc_id"))
    val bpe = rows(Quality.applyBpe(df, "text", "doc_id", Nil))
    toks.foreach { case (id, ws) =>
      val n = ws.length
      assert(uni(id).getLong(1) == n, s"unigramSurprisal doc $id")
      assert(bi(id).getLong(1) == n, s"bigramSurprisal doc $id")
      assert(tv(id).getSeq[Int](1).length == n && tv(id).getInt(2) == n, s"tokenizeWithVocab doc $id")
      assert(cls(id).getInt(1) == n, s"classifierScore doc $id")
      assert(gq(id).getLong(1) == n, s"gopherQuality doc $id")
      assert(gr(id).getInt(1) == ws.map(_.length).sum, s"gopherRepetition doc $id")
      assert(bpe(id).getSeq[String](1) == ws.flatMap(_.map(_.toString)), s"applyBpe doc $id")
    }
    val (_, table) = Quality.bpeTrainWithWords(df, "text", nMerges = 0)
    assert(table.get.toMap ==
      toks.values.flatten.groupBy(identity).map { case (w, o) => w -> o.size.toLong })
    // a null text: the operators do not agree on it, so each output is pinned
    assert(uni(7L) == Row(7L, 0L, 0L, 0L))
    assert(bi(7L) == Row(7L, 0L, 0L, 0L))
    assert(tv(7L) == Row(7L, null, null, null))
    assert(cls(7L) == Row(7L, 0, 7L, true))
    assert(gq(7L) == Row(7L, null, 0L, null, 0L, null, null, false, null, null, null, false))
    assert(gr(7L) == Row(7L, 0, 0, 0, 0, 0, 0))
    assert(bpe(7L).getSeq[String](1).isEmpty)
  }

  test("applyBpe + tokenizeWithVocabTable: subword ids re-derive; beyond-64k vocab broadcasts") {
    import spark.implicits._
    val texts = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Quality.bpeTrain(df, "text", nMerges = 4)
      .as[(Int, String, String, Long)].collect().sortBy(_._1)
      .map(m => (m._2, m._3)).toSeq
    val sub = Quality.applyBpe(df, "text", "doc_id", merges)
      .as[(Long, Seq[String])].collect().toMap
    // local re-derivation: same mergeGreedy fold per word
    texts.zipWithIndex.foreach { case (t, i) =>
      val want = t.split("\\s+").filter(_.nonEmpty).toSeq.flatMap { w =>
        merges.foldLeft(w.map(_.toString): Seq[String]) { case (s, (l, r)) =>
          Quality.mergeGreedy(s, l, r)
        }
      }
      assert(sub(i.toLong) == want, s"doc $i: ${sub(i.toLong)} != $want")
    }
    // vocab table: every distinct subword gets an id, PLUS 70k filler rows to
    // exceed the literal-map variant's 64k cap — the broadcast path must not
    // care; drop one real subword to exercise OOV
    val realSubs = sub.values.flatten.toSeq.distinct.sorted
    val dropped = realSubs.last
    val real = realSubs.filterNot(_ == dropped).zipWithIndex
      .map { case (w, i) => (w, i) }.toDF("word", "tid")
    val filler = spark.range(70000)
      .select(format_string("sub_%06d", $"id").as("word"), ($"id" + 1000).cast("int").as("tid"))
    val vocab = real.union(filler)
    val oovId = 999999
    val out = Quality.tokenizeWithVocabTable(
      Quality.applyBpe(df, "text", "doc_id", merges), "doc_id", col("subwords"), vocab, oovId)
      .as[(Long, Seq[Int], Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val idOf = realSubs.filterNot(_ == dropped).zipWithIndex.toMap
    texts.zipWithIndex.foreach { case (_, i) =>
      val subs = sub(i.toLong)
      val want = subs.map(w => idOf.getOrElse(w, oovId))
      val (ids, n, oov) = out(i.toLong)
      assert(ids == want, s"doc $i ids $ids != $want")
      assert(n == subs.length && oov == subs.count(_ == dropped))
    }
    // empty doc comes back with an empty array, kept
    val empty = Quality.tokenizeWithVocabTable(
      Seq((7L, Seq.empty[String])).toDF("doc_id", "subwords"), "doc_id",
      col("subwords"), vocab, oovId)
      .as[(Long, Seq[Int], Int, Int)].collect().toSeq
    assert(empty == Seq((7L, Seq.empty[Int], 0, 0)))
    // the guard fires loudly on an oversized vocab
    val e = intercept[IllegalArgumentException] {
      Quality.tokenizeWithVocabTable(df.select($"doc_id", split($"text", " ").as("w")),
        "doc_id", col("w"), vocab, oovId, maxVocabRows = 100).count()
    }
    assert(e.getMessage.contains("maxVocabRows"))
  }

  test("rebalance: over-share domains thin toward target, under-share kept whole, realized mix tracks") {
    import spark.implicits._
    // 8000 'web' + 1000 'books' + 1000 'code'; uniform 1/3 target each:
    // web frac = (1/3·10000)/8000 ≈ 0.4167, books/code cap at 1.0
    val df = ((0L until 8000L).map((_, "web")) ++
      (8000L until 9000L).map((_, "books")) ++
      (9000L until 10000L).map((_, "code"))).toDF("doc_id", "dom")
    val third = 1.0 / 3.0
    val out = Sampling.rebalance(df, "doc_id", "dom",
      Map("web" -> third, "books" -> third, "code" -> third), salt = 5L)
    val byDom = out.groupBy("dom").agg(
      sum(when($"keep", 1L).otherwise(0L)).as("kept"),
      first($"keep_frac").as("frac"),
      count(lit(1)).as("n")
    ).collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(byDom("books")._2 == 1.0 && byDom("books")._1 == 1000L, "under-share domain must keep all")
    assert(byDom("code")._2 == 1.0 && byDom("code")._1 == 1000L)
    val webFrac = byDom("web")._2
    assert(math.abs(webFrac - third * 10000 / 8000) < 1e-12, s"web frac $webFrac")
    // realized keep tracks the target fraction (hash equidistributes sequential ids)
    assert(math.abs(byDom("web")._1 / 8000.0 - webFrac) < 0.02,
      s"realized web keep ${byDom("web")._1} far from $webFrac")
    // unlisted domain drops everything; keep is layout-invariant
    val out2 = Sampling.rebalance(df, "doc_id", "dom", Map("web" -> 1.0), salt = 5L)
    assert(out2.where($"dom" =!= "web" && $"keep").count() == 0L)
    val kept1 = out.where($"keep").select("doc_id").as[Long].collect().toSet
    val kept2 = Sampling.rebalance(df.repartition(13), "doc_id", "dom",
      Map("web" -> third, "books" -> third, "code" -> third), salt = 5L)
      .where($"keep").select("doc_id").as[Long].collect().toSet
    assert(kept1 == kept2, "rebalance keep set must be layout-invariant")
    intercept[IllegalArgumentException] {
      Sampling.rebalance(df, "doc_id", "dom", Map("web" -> 1.2))
    }
  }

  test("Fnv1a64Expr: native codegen expression matches the Scala hash bit for bit") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    val rnd = new scala.util.Random(7)
    val samples = Seq("", "a", "alpha", "élève", "中文 words",
      new String(Character.toChars(0x1F600)) + "mix") ++
      (0 until 500).map(_ => rnd.alphanumeric.take(rnd.nextInt(24)).mkString)
    // codegen path (DataFrame projection)
    val got = samples.toDF("s")
      .select(graft.functions.FnvExpr.fnv1a64($"s").as("h"))
      .as[Long].collect().toSeq
    val want = samples.map(graft.functions.TextFunctions.fnv1a64)
    assert(got == want, "codegen path diverged from TextFunctions.fnv1a64")
    // interpreted path (direct eval) + null propagation
    samples.take(20).foreach { s =>
      val e = graft.functions.Fnv1a64Expr(Literal(org.apache.spark.unsafe.types.UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType))
      assert(e.eval(null) == graft.functions.TextFunctions.fnv1a64(s))
    }
    assert(graft.functions.Fnv1a64Expr(
      Literal(null, org.apache.spark.sql.types.StringType)).eval(null) == null)
    // the classifier's feature stage stays in whole-stage codegen: no typed
    // map boundary in the plan, and the native expression is present
    val weights = spark.range(16).select($"id".cast("int").as("bucket"), $"id".as("w_milli"))
    val plan = Quality.classifierScore(Seq((1L, "a b")).toDF("doc_id", "text"),
      "text", "doc_id", weights, dim = 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject") && !plan.contains("SerializeFromObject"),
      s"typed-map boundary leaked into the classifier plan:\n${plan.take(800)}")
    assert(plan.contains("graft_fnv1a64"), "native fnv expression missing from plan")
  }

  test("classifierScore: hashed-feature integer scores re-derive exactly; guards fire") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "Alpha  ALPHA alpha"), // case folding + repeated feature
      (3L, "")                    // empty doc scores the bias alone
    ).toDF("doc_id", "text")
    val dim = 4096
    val weights = spark.range(dim).select($"id".cast("int").as("bucket"),
      (($"id" * 2654435761L) % 4097L - 2048L).as("w_milli"))
    val out = Quality.classifierScore(docs, "text", "doc_id", weights, dim,
      biasMilli = 100L, thresholdMilli = 0L)
      .as[(Long, Int, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def wOf(word: String): Long = {
      val h = graft.functions.TextFunctions.fnv1a64(word.toLowerCase)
      val b = ((h % dim) + dim) % dim
      (b * 2654435761L) % 4097L - 2048L
    }
    val s1 = 100L + Seq("alpha", "beta", "gamma").map(wOf).sum
    val s2 = 100L + 3 * wOf("alpha")
    assert(out(1L) == ((3, s1, s1 >= 0)), s"doc 1: ${out(1L)} != $s1")
    assert(out(2L) == ((3, s2, s2 >= 0)), s"doc 2: ${out(2L)} != $s2")
    assert(out(3L) == ((0, 100L, true)))
    // guards: non-power-of-two dim; oversized weight table
    intercept[IllegalArgumentException] {
      Quality.classifierScore(docs, "text", "doc_id", weights, dim = 1000)
    }
    val e = intercept[IllegalArgumentException] {
      Quality.classifierScore(docs, "text", "doc_id", weights, dim, maxWeightRows = 10)
    }
    assert(e.getMessage.contains("maxWeightRows"))
    // duplicate keys in the broadcast tables fail loudly instead of silently
    // double-counting (classifier weights + tokenizer vocab + rebalance counts)
    val dupW = weights.union(weights.limit(1))
    val e2 = intercept[IllegalArgumentException] {
      Quality.classifierScore(docs, "text", "doc_id", dupW, dim)
    }
    assert(e2.getMessage.contains("duplicate bucket"))
    val dupV = Seq(("alpha", 0), ("alpha", 1)).toDF("word", "tid")
    val e3 = intercept[IllegalArgumentException] {
      Quality.tokenizeWithVocabTable(docs.select($"doc_id", split($"text", " ").as("w")),
        "doc_id", col("w"), dupV, oovId = 99)
    }
    assert(e3.getMessage.contains("duplicate word"))
    val e4 = intercept[IllegalArgumentException] {
      Sampling.rebalanceWith(docs, "doc_id", "text", Map("x" -> 0.5),
        Seq(("x", 1L), ("x", 2L)))
    }
    assert(e4.getMessage.contains("duplicate domain"))
  }

  test("epochMix: under-share domains replicate across epochs, realized counts track targets") {
    import spark.implicits._
    // 9000 web / 1000 books; books targeted at 0.5 share -> epochs = 5.0
    // exactly (4 full + the fractional 1.0 -> threshold 2^32, everyone gets
    // the 5th); web at 0.05 -> epochs = 0.055... (pure fractional thinning)
    val df = ((0L until 9000L).map((_, "web")) ++ (9000L until 10000L).map((_, "books")))
      .toDF("doc_id", "dom")
    val out = Sampling.epochMix(df, "doc_id", "dom",
      Map("books" -> 0.5, "web" -> 0.05), salt = 3L)
    val byDom = out.groupBy("dom").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // books: 0.5*10000/1000 = 5.0 epochs -> exactly 5000 rows, epochs 0..4
    assert(byDom("books") == 5000L, s"books rows ${byDom("books")}")
    assert(out.where($"dom" === "books").agg(max($"epoch")).as[Int].head() == 4)
    // web: 0.0555... epochs -> ~500 rows (hash equidistributes), all epoch 0
    assert(math.abs(byDom("web") - 500L) < 60, s"web rows ${byDom("web")}")
    assert(out.where($"dom" === "web").agg(max($"epoch")).as[Int].head() == 0)
    // untargeted domain emits nothing
    val out2 = Sampling.epochMix(df, "doc_id", "dom", Map("books" -> 0.2), salt = 3L)
    assert(out2.where($"dom" === "web").count() == 0L)
    // deterministic + layout-invariant row multiset
    val a = out.select("doc_id", "epoch").as[(Long, Int)].collect().sorted.toSeq
    val b = Sampling.epochMix(df.repartition(13), "doc_id", "dom",
      Map("books" -> 0.5, "web" -> 0.05), salt = 3L)
      .select("doc_id", "epoch").as[(Long, Int)].collect().sorted.toSeq
    assert(a == b, "epoch set must be layout-invariant")
    // runaway replication fails loudly
    val e = intercept[IllegalArgumentException] {
      Sampling.epochMix(df, "doc_id", "dom", Map("books" -> 0.5), maxEpochs = 3)
    }
    assert(e.getMessage.contains("maxEpochs"))
  }

  test("rebalance: NULL domains land on keep false without failing the job (ADVICE r7)") {
    import spark.implicits._
    // 100 'web' + 50 NULL-domain rows: the null group used to reach the
    // driver-side Ordering[String] sort and NPE the whole job; the contract
    // is share 0 / keep_frac 0.0 / keep false for null rows, with `total`
    // counting only domains that can realize a target (so web's fraction is
    // exactly 1.0 here, not 1.5 capped)
    val df = ((0L until 100L).map(i => (i, Option("web"))) ++
      (100L until 150L).map(i => (i, Option.empty[String]))).toDF("doc_id", "dom")
    val out = Sampling.rebalance(df, "doc_id", "dom", Map("web" -> 1.0), salt = 3L)
    val nulls = out.where($"dom".isNull).select("keep_frac", "keep")
      .as[(Double, Boolean)].collect()
    assert(nulls.length == 50)
    assert(nulls.forall { case (f, k) => f == 0.0 && !k }, "null domain must be share-0 dropped")
    // total excludes nulls: web's keep fraction is min(1, 1.0*100/100) = 1.0
    val web = out.where($"dom" === "web")
    assert(web.where($"keep").count() == 100L)
    assert(web.select("keep_frac").distinct().as[Double].collect().toSeq == Seq(1.0))
  }
}
