package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions
import graft.operators.{Chunking, Dedup, Similarity}
import graft.pipeline._
import Query._
import DedupQueries.{fnvSql, m64, normSql, splitmix64Sql, toSigned64}

/** Text analysis and curation funnels, plus chunking, deterministic shuffle
  * and sequence packing.
  */
object TextQueries {

  val all: Seq[Query] = Seq(
    Query("q_token_count", (s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.bpeTokenEstimate(col("text")).as("bpe_tokens"),
        length(col("text")).as("n_chars_obs"))
    }, _ =>
      "SELECT doc_id, CASE WHEN length(trim(text))=0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens, CASE WHEN length(trim(text))=0 THEN 0 ELSE CAST(list_aggregate(list_transform(regexp_split_to_array(trim(text), '\\s+'), w -> CAST(ceil(length(w)/4.0) AS INT)), 'sum') AS INT) END AS bpe_tokens, length(text) AS n_chars_obs FROM documents ORDER BY doc_id"),
    Query("q_quality_counts", (s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.nAlpha(col("text")).as("n_alpha"),
        TextFunctions.nDigit(col("text")).as("n_digit"),
        TextFunctions.nPunct(col("text")).as("n_punct"),
        TextFunctions.nStopwords(col("text")).as("n_stop"))
    }, _ =>
      "SELECT doc_id, length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_alpha, length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit, length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS n_punct, len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), w -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], w))) AS n_stop FROM documents ORDER BY doc_id"),
    Query("q_lang_id", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) => (id, TextFunctions.langId(text)) })
        .toDF("doc_id", "lang_pred")
    }, _ =>
      ("WITH w AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents), " +
        "s AS (SELECT doc_id, " +
        "len(list_filter(ws, x -> list_contains(['the','and','of','to','in','is','that','it','was','for','with','as'], x))) AS en, " +
        "len(list_filter(ws, x -> list_contains(['der','die','das','und','ist','nicht','ein','eine','mit','von','zu','den'], x))) AS de, " +
        "len(list_filter(ws, x -> list_contains(['le','la','les','et','est','un','une','des','du','que','pour','dans'], x))) AS fr, " +
        "len(list_filter(ws, x -> list_contains(['el','la','los','las','y','es','un','una','de','que','por','con'], x))) AS es, " +
        "len(list_filter(ws, x -> list_contains(['il','la','di','e','che','un','una','per','sono','del','con','non'], x))) AS it " +
        "FROM w) " +
        "SELECT doc_id, CASE WHEN greatest(en,de,fr,es,it) = 0 THEN 'und' " +
        "WHEN en = greatest(en,de,fr,es,it) THEN 'en' WHEN de = greatest(en,de,fr,es,it) THEN 'de' " +
        "WHEN fr = greatest(en,de,fr,es,it) THEN 'fr' WHEN es = greatest(en,de,fr,es,it) THEN 'es' " +
        "ELSE 'it' END AS lang_pred FROM s ORDER BY doc_id")),
    // FNV-1a 64 + winnowing rolling-min re-expressed exactly in SQL: wrapping
    // 64-bit multiplies via HUGEINT (32-bit limbs for the splitmix constants).
    // Signed min == unsigned min because all values live in [0, 2^64) HUGEINT.
    Query("q_fingerprint", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          (id, TextFunctions.fnv1a64(text), TextFunctions.rollingMinHash(text))
        })
        .toDF("doc_id", "fnv64", "rolling_min")
    }, _ =>
      (s"WITH d AS (SELECT doc_id, text, ${normSql.format("text")} AS nt FROM documents), " +
        s"fnv AS (SELECT doc_id, ${fnvSql("text")} AS h FROM d), " +
        "polys AS (SELECT doc_id, unnest(list_transform(range(1, length(nt) - 6), " +
        "i -> list_reduce(list_transform(range(0, 8), j -> CAST(unicode(substr(nt, CAST(i AS INT) + CAST(j AS INT), 1)) AS HUGEINT)), " +
        s"(a, c) -> (a * 1000003 + c) % $m64))) AS ph FROM d WHERE length(nt) >= 8), " +
        s"rolling AS (SELECT doc_id, min(${splitmix64Sql("ph")}) AS rm FROM polys GROUP BY doc_id " +
        s"UNION ALL SELECT doc_id, ${fnvSql("nt")} AS rm FROM d WHERE length(nt) < 8) " +
        s"SELECT f.doc_id, ${toSigned64("f.h")} AS fnv64, ${toSigned64("r.rm")} AS rolling_min " +
        "FROM fnv f JOIN rolling r USING (doc_id) ORDER BY f.doc_id")),
    // PII redaction over planted URL/email/phone tokens (the corpus itself is
    // clean prose, so the fixtures are injected deterministically per doc).
    // Same URL-then-email-then-digit-run replacement chain; the regexes use the
    // RE2/Java-common subset so both engines match identically.
    Query("q_redact_pii", (s, dir) => {
      val injected = concat(col("text"),
        lit(" contact user@example.com via https://example.com/a?b=1 or +12025550000"))
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.redactPii(injected).as("redacted"))
    }, _ =>
      ("SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(" +
        "text || ' contact user@example.com via https://example.com/a?b=1 or +12025550000', " +
        "'https?://[^\\s]+', '<URL>', 'g'), " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\\.[A-Za-z0-9-]+)+', '<EMAIL>', 'g'), " +
        "'\\+?[0-9]{7,15}', '<PHONE>', 'g') AS redacted FROM documents ORDER BY doc_id")),
    // Gopher-style repetition metrics as INTEGER counts (exactly reproducible):
    // planted duplication — each doc becomes (text \n text \n unique tail).
    Query("q_repetition_counts", (s, dir) => {
      val tripled = concat_ws("\n", col("text"), col("text"), lit("unique tail line"))
      val (nw, ndw) = TextFunctions.wordCounts(tripled)
      val (nl, ndl) = TextFunctions.lineCounts(tripled)
      t(s, dir, "documents")
        .select(col("doc_id"), nw.as("n_words"), ndw.as("n_distinct_words"),
          nl.as("n_lines"), ndl.as("n_distinct_lines"))
    }, _ =>
      ("WITH d AS (SELECT doc_id, text || chr(10) || text || chr(10) || 'unique tail line' AS t FROM documents), " +
        "x AS (SELECT doc_id, " +
        "list_filter(regexp_split_to_array(trim(t), '\\s+'), w -> length(w) > 0) AS ws, " +
        "list_filter(string_split(t, chr(10)), l -> length(trim(l)) > 0) AS ls FROM d) " +
        "SELECT doc_id, CAST(len(ws) AS INT) AS n_words, CAST(len(list_distinct(ws)) AS INT) AS n_distinct_words, " +
        "CAST(len(ls) AS INT) AS n_lines, CAST(len(list_distinct(ls)) AS INT) AS n_distinct_lines " +
        "FROM x ORDER BY doc_id")),
    // Format sniffing + auto-routing: unlabeled payloads (plain / HTML / base64
    // PDF by doc_id % 3) flow through the pipeline's "auto" tool and must both
    // classify correctly and round-trip the text. The plain-branch payload is
    // sanitized ("t " prefix kills the %PDF-/JVBERi0 magics, '<'->'(' kills
    // any tag match) so its sniff class is guaranteed BY CONSTRUCTION on any
    // corpus — the oracle's expected kind then never depends on whether a
    // document happens to contain '<p>' or start with a PDF magic (the html
    // and pdf branches are construction-guaranteed already).
    // the plain branch's payload is sanitized on the Spark side (see the query)
    // so every branch's sniff class holds by construction on any corpus
    Query("q_sniff_route", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select($"doc_id", $"text").as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val payload = (id % 3) match {
            case 0 => "t " + text.replace('<', '(')
            case 1 => SynthGen.wrapHtml(text)
            case _ => MiniPdf.synthesizeBase64(text)
          }
          val e = ExtractJob.extractTurn(Turn(id.toString, 0, "user", payload, "auto", null))
          (id, e.payload_kind, e.extracted_text, e.error == null)
        })
        .toDF("doc_id", "payload_kind", "extracted_text", "ok")
    }, _ =>
      ("SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 'plain' WHEN doc_id % 3 = 1 THEN 'html' " +
        "ELSE 'pdf' END AS payload_kind, " +
        "CASE WHEN doc_id % 3 = 0 THEN 't ' || replace(text, '<', '(') ELSE text END AS extracted_text, " +
        "true AS ok FROM documents ORDER BY doc_id")),
    // The COMPOSED curation pass a 100TB training-data pipeline actually runs:
    // exact-dedup keeper selection -> language filter -> minimum-length gate ->
    // PII redaction, value-checked end to end as one plan.
    // Composed: dedup keepers (min id per text), 'en' argmax with langId's
    // first-profile-wins tie rule (en = greatest), >= 5 words, redaction chain.
    Query("q_curation_pipeline", (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dupes = docs.union(docs.select(col("doc_id") + 10000, col("text")))
      val keepers = Dedup.exact(dupes, "text", "doc_id")
        .select(col("keeper_id").as("doc_id"))
      dupes.join(keepers, "doc_id")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .filter { case (_, text) => TextFunctions.langId(text) == "en" }
        .toDF("doc_id", "text")
        .where(TextFunctions.wordCounts(col("text"))._1 >= 5)
        .select(col("doc_id"), TextFunctions.redactPii(col("text")).as("redacted"))
    }, _ =>
      ("WITH u AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 10000, text FROM documents), " +
        "k AS (SELECT min(doc_id) AS doc_id FROM u GROUP BY text), " +
        "kept AS (SELECT u.doc_id, u.text FROM u JOIN k USING (doc_id)), " +
        "w AS (SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS ws FROM kept), " +
        "sc AS (SELECT doc_id, text, " +
        "len(list_filter(ws, x -> list_contains(['the','and','of','to','in','is','that','it','was','for','with','as'], x))) AS en, " +
        "len(list_filter(ws, x -> list_contains(['der','die','das','und','ist','nicht','ein','eine','mit','von','zu','den'], x))) AS de, " +
        "len(list_filter(ws, x -> list_contains(['le','la','les','et','est','un','une','des','du','que','pour','dans'], x))) AS fr, " +
        "len(list_filter(ws, x -> list_contains(['el','la','los','las','y','es','un','una','de','que','por','con'], x))) AS es, " +
        "len(list_filter(ws, x -> list_contains(['il','la','di','e','che','un','una','per','sono','del','con','non'], x))) AS it " +
        "FROM w), " +
        "l AS (SELECT doc_id, text FROM sc WHERE greatest(en,de,fr,es,it) > 0 AND en = greatest(en,de,fr,es,it)), " +
        "q AS (SELECT doc_id, text FROM l WHERE " +
        "len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> length(x) > 0)) >= 5) " +
        "SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text, " +
        "'https?://[^\\s]+', '<URL>', 'g'), " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\\.[A-Za-z0-9-]+)+', '<EMAIL>', 'g'), " +
        "'\\+?[0-9]{7,15}', '<PHONE>', 'g') AS redacted FROM q ORDER BY doc_id")),
    // The round-4 composed curation pass, ONE plan end to end: minhash pairs ->
    // connected-component clustering -> keeper = cluster minimum -> test-set
    // decontamination (broadcast probe) -> deterministic hash sample -> token
    // counts. This is the keeper-graph + decontaminate + reproducible-sample
    // shape a production curation rerun needs (a resumed run re-derives the
    // SAME final corpus).
    // keeper = min id of each word-3-shingle-set equality class (every doc has
    // a planted twin, so clusters() sees every id); then drop keepers sharing
    // any 8-shingle with docs 0-4; then the Knuth hash-threshold sample; then
    // whitespace token counts — each stage re-derived from its own oracle twin
    Query("q_curation_v2", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dupes = docs.union(docs.select(col("doc_id") + 10000, col("text")))
      val pairs = Dedup.minhashNearDups(dupes, "text", "doc_id",
        threshold = 0.999, maxBucket = 30000)
      val cl = Dedup.clusters(pairs)
      // every doc has a planted twin, so every id appears in a cluster;
      // keeper = the member that IS the cluster minimum
      // keepers feed both the decontamination probe and the clean join —
      // checkpoint so the dupes-join-clusters chain runs once (guide §5)
      val keepers = dupes.join(cl, dupes("doc_id") === cl("id"))
        .where(col("doc_id") === col("cluster_id"))
        .select(col("doc_id"), col("text"))
        .localCheckpoint(eager = false)
      val bench = docs.where(col("doc_id") < 5).select(col("text"))
      val flags = Dedup.decontaminate(keepers, "text", "doc_id", bench, "text", k = 8)
      val clean = keepers.join(flags, "doc_id").where(col("n_contaminated") === 0)
      graft.operators.Sampling.bernoulli(clean, "doc_id", 0.5)
        .select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n_tokens"))
    }, _ =>
      (s"WITH u AS (SELECT doc_id AS id, ${normSql.format("text")} AS t, text AS raw FROM documents " +
        s"UNION ALL SELECT doc_id + 10000, ${normSql.format("text")}, text FROM documents), " +
        "sets3 AS (SELECT id, raw, CASE WHEN len(string_split(t, ' ')) < 3 THEN [t] " +
        "ELSE list_sort(list_distinct(list_transform(range(1, len(string_split(t, ' ')) - 1), " +
        "i -> array_to_string(list_slice(string_split(t, ' '), CAST(i AS INT), CAST(i AS INT) + 2), ' ')))) END AS s3 FROM u), " +
        "keep AS (SELECT id, raw FROM (SELECT id, raw, min(id) OVER (PARTITION BY s3) AS m FROM sets3) WHERE id = m), " +
        s"kn AS (SELECT id, raw, ${normSql.format("raw")} AS t FROM keep), " +
        "sets8 AS (SELECT id, raw, CASE WHEN len(string_split(t, ' ')) < 8 THEN [t] " +
        "ELSE list_sort(list_distinct(list_transform(range(1, len(string_split(t, ' ')) - 6), " +
        "i -> array_to_string(list_slice(string_split(t, ' '), CAST(i AS INT), CAST(i AS INT) + 7), ' ')))) END AS sh FROM kn), " +
        s"bn AS (SELECT ${normSql.format("text")} AS t FROM documents WHERE doc_id < 5), " +
        "bsets AS (SELECT CASE WHEN len(string_split(t, ' ')) < 8 THEN [t] " +
        "ELSE list_sort(list_distinct(list_transform(range(1, len(string_split(t, ' ')) - 6), " +
        "i -> array_to_string(list_slice(string_split(t, ' '), CAST(i AS INT), CAST(i AS INT) + 7), ' ')))) END AS sh FROM bn), " +
        "b AS (SELECT DISTINCT g FROM (SELECT unnest(sh) AS g FROM bsets)), " +
        "e AS (SELECT id, unnest(sh) AS g FROM sets8), " +
        "dirty AS (SELECT DISTINCT e.id FROM e JOIN b USING (g)), " +
        "clean AS (SELECT id, raw FROM sets8 WHERE id NOT IN (SELECT id FROM dirty)), " +
        "sampled AS (SELECT id, raw FROM clean WHERE ((((id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296 < 2147483648) " +
        "SELECT id AS doc_id, CASE WHEN length(trim(raw)) = 0 THEN 0 " +
        "ELSE len(regexp_split_to_array(trim(raw), '\\s+')) END AS n_tokens " +
        "FROM sampled ORDER BY doc_id")),
    // CURATION v3 (round 7, composed): the continuation-session operators
    // chained the way a real pipeline runs them — Gopher rule battery
    // (minWords=40 so the 30-99-token corpus splits both ways) -> target-mix
    // rebalance of the SURVIVORS to a uniform language mix (per-domain counts
    // over the filtered corpus; bounded collect) -> deterministic 90/5/5
    // split assignment, all decisions salted independently (17 / 23).
    // curation-v3 twin: the gopher rule chain at minWords=40, survivor-only
    // language counts -> least(1, 0.2·N/c) fractions, the salt-17 keep and
    // salt-23 split hashes (cut points round(0.9·2^32)=3865470566 and
    // round(0.95·2^32)=4080218931), token counts on what survives
    Query("q_curation_v3", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
      // rebalance runs a per-domain count job over its input before the main
      // pass — checkpoint so the Gopher battery + join run once (r9)
      val kept = docs.join(
        graft.operators.Quality.gopherQuality(docs, "text", "doc_id", minWords = 40)
          .where(col("keep")).select("doc_id"),
        "doc_id")
        .localCheckpoint(eager = false)
      val balanced = graft.operators.Sampling.rebalance(kept, "doc_id", "lang",
        Map("en" -> 0.2, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.2, "zh" -> 0.2),
        salt = 17L).where(col("keep"))
      graft.operators.Sampling.splitAssign(balanced, "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), salt = 23L)
        .select(col("doc_id"), col("lang"), col("split"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
    }, _ =>
      ("WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> length(x) > 0) AS w FROM documents), " +
        "b AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words, " +
        "CAST(coalesce(list_aggregate(list_transform(w, x -> CAST(length(x) AS BIGINT)), 'sum'), 0) AS BIGINT) AS n_chars, " +
        "CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha_words, " +
        "array_to_string(w, ' ') AS joined, " +
        "CAST(len(list_filter(w, x -> list_contains(['the','be','to','of','and','that','have','with'], x))) AS BIGINT) AS n_stop FROM t), " +
        "g AS (SELECT doc_id, n_words, " +
        "CASE WHEN n_words > 0 THEN n_chars * 1000 // n_words ELSE 0 END AS mlm, " +
        "n_alpha_words, " +
        "CAST(length(joined) - length(regexp_replace(joined, '#|…', '', 'g')) + " +
        "(length(joined) - length(regexp_replace(joined, '\\.\\.\\.', '', 'g'))) // 3 AS BIGINT) AS n_symbols, " +
        "n_stop FROM b), " +
        "k AS (SELECT doc_id FROM g WHERE n_words >= 40 AND n_words <= 100000 " +
        "AND mlm >= 3000 AND mlm <= 10000 AND n_alpha_words * 5 >= n_words * 4 " +
        "AND n_symbols * 10 <= n_words AND n_stop >= 2), " +
        "kd AS (SELECT d.doc_id, d.text, d.lang FROM documents d JOIN k USING (doc_id)), " +
        "cc AS (SELECT lang, count(*) AS c FROM kd GROUP BY lang), " +
        "tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cc), " +
        "f AS (SELECT lang, least(CAST(1.0 AS DOUBLE), " +
        "CAST(0.2 AS DOUBLE) * CAST(n AS DOUBLE) / CAST(c AS DOUBLE)) AS frac FROM cc, tot), " +
        "h1 AS (SELECT kd.*, ((((doc_id % 2147483648) + 2147483648) % 2147483648) + 17) % 2147483648 AS s0 FROM kd), " +
        "h2 AS (SELECT *, (s0 * 2654435761) % 4294967296 AS ha FROM h1), " +
        "h3 AS (SELECT *, xor(ha, ha >> 16) AS m1 FROM h2), " +
        "h4 AS (SELECT doc_id, text, lang, ((m1 % 2147483648) * 2246822519) % 4294967296 AS hv FROM h3), " +
        "bal AS (SELECT h4.doc_id, h4.text, h4.lang FROM h4 JOIN f USING (lang) " +
        "WHERE hv < round(f.frac * 4294967296.0)), " +
        "s1 AS (SELECT *, ((((doc_id % 2147483648) + 2147483648) % 2147483648) + 23) % 2147483648 AS s0 FROM bal), " +
        "s2 AS (SELECT *, (s0 * 2654435761) % 4294967296 AS ha FROM s1), " +
        "s3 AS (SELECT *, xor(ha, ha >> 16) AS m1 FROM s2), " +
        "s4 AS (SELECT doc_id, text, lang, ((m1 % 2147483648) * 2246822519) % 4294967296 AS hv FROM s3) " +
        "SELECT doc_id, lang, CASE WHEN hv < 3865470566 THEN 'train' " +
        "WHEN hv < 4080218931 THEN 'val' ELSE 'test' END AS split, " +
        "CASE WHEN length(trim(text)) = 0 THEN 0 " +
        "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens " +
        "FROM s4 ORDER BY doc_id")),
    // TRAINING-MIX builder (round 5, composed, ONE plan): exact-dedup keeper
    // -> INTEGER quality score (2*n_alpha + 10*n_stop - n_punct, exact column
    // exprs) -> per-source top-5 via the custom bounded TopKPairs aggregate
    // (no per-key window, no collect_list) -> token counts + per-source
    // cumulative token budget over the tiny exploded result. The shape every
    // data-mixture pipeline runs: best-N-per-source under a token budget.
    // training-mix twin: the keeper stage is REPLAYED (min doc_id per text
    // hash over the planted-dupe union — no uniqueness assumption about the
    // generator's texts), score/tokens from the exact integer formulas with a
    // null-score guard matching TopKPairs' null skip, the TopKPairs stage as
    // a row_number window, cumulative budget as a running sum over rank
    Query("q_training_mix", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // the keeper stage below re-joins `documents` (the SQL twin's kd CTE does
      // the same), which is only equivalent to joining the union if no planted
      // id collides with a real one — pin the generator's doc_id < 10000
      // contract with a LOAD-BEARING per-row guard (it computes the offset, so
      // column pruning cannot silently drop it; a collision fails loudly)
      val guardedOffset = when(col("doc_id") < 10000, lit(10000L))
        .otherwise(raise_error(lit(
          "q_training_mix planted-dupe contract violated: generator doc_id >= 10000")))
      val dupes = docs.union(docs.select(col("doc_id") + guardedOffset, col("text")))
      val keepers = Dedup.exact(dupes, "text", "doc_id")
        .join(dupes, col("keeper_id") === col("doc_id"))
        .select(col("doc_id"), col("text"))
      val scored = keepers.select(col("doc_id"), col("text"),
        (col("doc_id") % 7).cast("int").as("source"),
        (TextFunctions.nAlpha(col("text")) * 2 + TextFunctions.nStopwords(col("text")) * 10
          - TextFunctions.nPunct(col("text"))).cast("int").as("score"))
      val top = scored.groupBy(col("source"))
        .agg(graft.functions.TopK.topK(col("score"), col("doc_id"), 5).as("top"))
        .select(col("source"), posexplode(col("top")))
        .select(col("source"), (col("pos") + 1).cast("int").as("rank"),
          col("col.id").as("doc_id"), col("col.score").cast("int").as("score"))
      val wCum = Window.partitionBy(col("source")).orderBy(col("rank"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      top.join(docs, "doc_id")
        .select(col("source"), col("rank"), col("doc_id"), col("score"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(wCum))
    }, _ =>
      ("WITH keep AS (SELECT min(doc_id) AS doc_id FROM " +
        "(SELECT doc_id, text FROM documents UNION ALL SELECT doc_id + 10000, text FROM documents) " +
        "GROUP BY md5(text)), " +
        "kd AS (SELECT d.doc_id, d.text FROM documents d JOIN keep USING (doc_id)), " +
        "sc AS (SELECT doc_id, text, CAST(doc_id % 7 AS INT) AS source, " +
        "CAST((length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) * 2 " +
        "+ len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), " +
        "w -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], w))) * 10 " +
        "- (length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g'))) AS INT) AS score " +
        "FROM kd), " +
        "rk AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rnk " +
        "FROM sc WHERE score IS NOT NULL), " +
        "top AS (SELECT source, CAST(rnk AS INT) AS rank, doc_id, score, " +
        "CAST(CASE WHEN length(trim(text))=0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS INT) AS n_tokens " +
        "FROM rk WHERE rnk <= 5) " +
        "SELECT source, rank, doc_id, score, n_tokens, " +
        "CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY rank " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens " +
        "FROM top ORDER BY source, rank")),
    // ---- chunking, deterministic shuffle, sequence packing --------------------------
    // Fixed-size overlapping token windows — the preprocessing cut between
    // curation and packing. Wholly codegen'd column math (split -> chunk-count
    // arithmetic -> posexplode -> slice), NARROW: chunking happens inside the
    // scan stage, no shuffle, no UDF.
    // r9: no output sort OR exchange at all — the driver's hash compare is
    // order-normalized (the q_pdf_chars r6 lesson taken to its end), so the
    // chunk table stays entirely inside the scan stage.
    // chunk twin: same whitespace-split token convention as q_token_count,
    // same window arithmetic (stride 56 = 64 - 8; nChunks = 1 + ceil(max(0,
    // n-64)/56) spelled as integer division); list_slice clamps past the end
    // exactly like Spark's slice
    Query("q_chunk_docs", (s, dir) => {
      Chunking.chunkDocs(t(s, dir, "documents"), "text", "doc_id", maxTokens = 64, overlap = 8)
    }, _ =>
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "c AS (SELECT doc_id, w, len(w) AS n, 1 + (greatest(len(w) - 64, 0) + 55) // 56 AS k FROM t), " +
        "e AS (SELECT doc_id, w, n, unnest(range(k)) AS ci FROM c) " +
        "SELECT doc_id, CAST(ci AS INT) AS chunk_idx, " +
        "array_to_string(list_slice(w, CAST(ci * 56 + 1 AS INT), CAST(ci * 56 + 64 AS INT)), ' ') AS chunk_text, " +
        "CAST(least(n - ci * 56, 64) AS INT) AS n_tokens " +
        "FROM e ORDER BY doc_id, chunk_idx")),
    // chunk -> deterministic corpus shuffle (pos = pure hash of doc_id+seed, so
    // a rerun/resume lands the SAME training order regardless of layout) ->
    // shard-local concat-then-split packing at a 256-token capacity. The only
    // shuffle is the hash exchange on `shard` that materializing the training
    // order needs anyway; the window cumsum is per-shard, never global.
    // pack twin: replays the chunk CTE, then the two-round multiply-fold-xor
    // shuffle position (pmod spelled ((x % m) + m) % m; every product under
    // 2^63 by the 2^31 pre-fold), then the shard-local cumulative-sum packing
    // window — SUM over ROWS UNBOUNDED PRECEDING TO 1 PRECEDING, order
    // (pos, doc_id, chunk_idx), integer-divided by the 256-token capacity
    Query("q_pack_sequences", (s, dir) => {
      val chunks = Chunking.chunkDocs(t(s, dir, "documents"), "text", "doc_id", 64, 8)
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"))
      val sharded = Chunking.deterministicShuffle(chunks, "doc_id", seed = 42L, nShards = 8)
      Chunking.packSequences(sharded, "doc_id", "chunk_idx", "n_tokens", capacity = 256)
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"), col("shard"),
          col("pos"), col("tokens_before"), col("seq_id"))
    }, _ =>
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w " +
        "FROM documents WHERE length(trim(text)) > 0), " +
        "c AS (SELECT doc_id, len(w) AS n, 1 + (greatest(len(w) - 64, 0) + 55) // 56 AS k FROM t), " +
        "e AS (SELECT doc_id, n, unnest(range(k)) AS ci FROM c), " +
        "x AS (SELECT doc_id, CAST(ci AS INT) AS chunk_idx, CAST(least(n - ci * 56, 64) AS INT) AS n_tokens FROM e), " +
        "p AS (SELECT *, ((((doc_id % 2147483648) + 2147483648) % 2147483648) + 42) % 2147483648 AS s0 FROM x), " +
        "h AS (SELECT *, (s0 * 2654435761) % 4294967296 AS h1 FROM p), " +
        "m AS (SELECT *, xor(h1, h1 >> 16) AS m1 FROM h), " +
        "q AS (SELECT doc_id, chunk_idx, n_tokens, ((m1 % 2147483648) * 2246822519) % 4294967296 AS pos FROM m), " +
        "r AS (SELECT *, CAST(pos % 8 AS INT) AS shard FROM q), " +
        "f AS (SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard " +
        "ORDER BY pos, doc_id, chunk_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before FROM r) " +
        "SELECT doc_id, chunk_idx, n_tokens, shard, pos, tokens_before, tokens_before // 256 AS seq_id " +
        "FROM f ORDER BY doc_id, chunk_idx")),
    // Chat-template rendering + per-turn loss-mask offsets: the SFT step
    // between extraction and tokenization. Turns derive deterministically
    // from the documents table (conv = doc_id/10, turn = doc_id%10, role
    // cycles system/user/assistant), so the twin replays from the same
    // parquet with no side dump; doc_md5 pins the rendered text, the
    // offsets pin the sidecar alignment.
    // chat-render twin: same template as a string concat, offsets via the
    // same cumulative window, doc_md5 over the ordered string_agg
    Query("q_render_chat", (s, dir) => {
      val turns = t(s, dir, "documents").select(
        floor(col("doc_id") / 10).cast("long").as("conv_id"),
        (col("doc_id") % 10).cast("int").as("turn_idx"),
        when(col("doc_id") % 3 === 0, "system")
          .when(col("doc_id") % 3 === 1, "user")
          .otherwise("assistant").as("role"),
        col("text"))
      val offs = graft.operators.Transcripts.turnOffsets(turns, "conv_id", "turn_idx", "role", "text")
      val docs = graft.operators.Transcripts.renderDocs(turns, "conv_id", "turn_idx", "role", "text")
        .select(col("conv_id"), md5(col("doc").cast("binary")).as("doc_md5"))
      offs.join(docs, "conv_id")
        .select("conv_id", "turn_idx", "role", "char_start", "char_end", "mask", "doc_md5")
    }, _ =>
      ("WITH t AS (SELECT doc_id // 10 AS conv_id, CAST(doc_id % 10 AS INT) AS turn_idx, " +
        "CASE WHEN doc_id % 3 = 0 THEN 'system' WHEN doc_id % 3 = 1 THEN 'user' ELSE 'assistant' END AS role, text FROM documents), " +
        "r AS (SELECT *, '<|' || role || '|>' || chr(10) || text || chr(10) AS seg FROM t), " +
        "o AS (SELECT conv_id, turn_idx, role, " +
        "CAST(coalesce(SUM(length(seg)) OVER (PARTITION BY conv_id ORDER BY turn_idx ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS char_start, " +
        "CAST(length(seg) AS BIGINT) AS seg_len, role <> 'assistant' AS mask FROM r), " +
        "d AS (SELECT conv_id, md5(string_agg(seg, '' ORDER BY turn_idx)) AS doc_md5 FROM r GROUP BY conv_id) " +
        "SELECT o.conv_id, o.turn_idx, o.role, o.char_start, o.char_start + o.seg_len AS char_end, o.mask, d.doc_md5 " +
        "FROM o JOIN d USING (conv_id) ORDER BY conv_id, turn_idx")),
    // Duplication-aware epoch upsampling: zh (rare in the skewed sf mix) is
    // replicated toward a 0.5 share (epochs > 1 — multiple full copies plus
    // a deterministic fractional epoch), en is thinned (epochs < 1), the
    // other languages are untargeted and emit nothing.
    // epoch-mix twin: counts + uncapped IEEE epochs (share*total/avail in
    // the same op order), floor/fractional split, the salt-21 hash chain,
    // epochs generated by range()
    Query("q_epoch_mix", (s, dir) => {
      graft.operators.Sampling.epochMix(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", Map("zh" -> 0.5, "en" -> 0.05), salt = 21L)
    }, _ =>
      ("WITH cc AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang), " +
        "tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cc), " +
        "sh AS (SELECT * FROM (VALUES ('zh', CAST(0.5 AS DOUBLE)), ('en', CAST(0.05 AS DOUBLE))) s(lang, share)), " +
        "f AS (SELECT cc.lang, sh.share * CAST(n AS DOUBLE) / CAST(c AS DOUBLE) AS epochs FROM cc JOIN sh USING (lang) CROSS JOIN tot), " +
        "g AS (SELECT lang, CAST(floor(epochs) AS INT) AS n_full, CAST(round((epochs - floor(epochs)) * 4294967296.0) AS BIGINT) AS thresh FROM f), " +
        "p AS (SELECT d.doc_id, d.lang, g.n_full, g.thresh, ((((d.doc_id % 2147483648) + 2147483648) % 2147483648) + 21) % 2147483648 AS s0 FROM documents d JOIN g USING (lang)), " +
        "h AS (SELECT *, (s0 * 2654435761) % 4294967296 AS h1 FROM p), " +
        "m AS (SELECT *, xor(h1, h1 >> 16) AS m1 FROM h), " +
        "q AS (SELECT doc_id, lang, n_full + CASE WHEN ((m1 % 2147483648) * 2246822519) % 4294967296 < thresh THEN 1 ELSE 0 END AS ne FROM m) " +
        "SELECT doc_id, lang, CAST(i AS INT) AS epoch FROM q, unnest(range(ne)) AS t(i) WHERE ne > 0 ORDER BY doc_id, epoch")),
    // CURATION v4 — the round-8 operators composed as one modern funnel over
    // a crawl-with-duplicates (every doc and its embedding appear again at
    // +10000): model-based quality filter (classifierScore keep) ->
    // SEMANTIC dedup over the survivors' embeddings (semDedup: planted
    // copies drop, min-id originals keep) -> duplication-aware epoch mix
    // (en thins, zh/de replicate; salt 27) -> deterministic 90/5/5 split
    // (salt 29 — a doc's every epoch lands in ONE split: no train/val
    // leakage through replication). The twin replays the entire chain in
    // one DuckDB query from the dumped centroids.
    // curation v4 twin: classifier keep (fnv chain + weight table over the
    // doubled corpus) -> semDedup keep (assignment from the dumped v4
    // centroids, smaller-id max-cosine, micro threshold) -> epoch mix at
    // salt 27 over the survivors -> split cut points at salt 29, all in one
    // WITH chain
    Query("q_curation_v4", (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val docs2 = docs.select($"doc_id", $"lang", $"text")
        .union(docs.select(($"doc_id" + 10000).as("doc_id"), $"lang", $"text"))
      val emb2 = emb.select($"vec_id", $"embedding")
        .union(emb.select(($"vec_id" + 10000).as("vec_id"), $"embedding"))
      val weights = s.range(4096).select($"id".cast("int").as("bucket"),
        (($"id" * 2654435761L) % 4097L - 2048L).as("w_milli"))
      val cls = graft.operators.Quality.classifierScore(
          docs2, "text", "doc_id", weights, dim = 4096, biasMilli = 100L)
        .where($"keep").select($"doc_id", $"score_milli")
      // classifier survivors feed FOUR downstream consumers (semDedup's two
      // trainCentroids sample jobs + its assignment map, and the survivor
      // join) — materialize once instead of re-running the hashed-BoW scoring
      // chain per consumer (the semDedup localCheckpoint rationale; guide §5)
      val clsDocs = docs2.select($"doc_id", $"lang").join(cls, "doc_id")
        .localCheckpoint(eager = false) // lazy: rides the first consumer's job
      // semDedup only sees classifier survivors that HAVE an embedding; a doc
      // with no embedding row can't be semantically deduped and passes the
      // stage untouched (the twin's LEFT JOIN pp ... WHERE pp.nn IS NULL rule).
      // An inner join on the KEPT side here silently dropped every
      // embedding-less doc — invisible at sf0.001/sf0.01 (embeddings cover all
      // docs there) but 4x the funnel at sf0.1, where only 2000 of 5000 docs
      // carry vectors. Anti-join on the DROPPED side instead: dropped is the
      // small set by construction, and absence == kept.
      val semDropped = Similarity.semDedup(
          emb2.join(clsDocs.select($"doc_id".as("vec_id")), "vec_id"),
          k = 8, centroidsOut = dumpPath(dir, "semdedup_v4_centroids"))
        .where(!$"keep").select($"vec_id".as("doc_id"))
      // epochMix runs a per-domain count job over its input BEFORE the main
      // pass — without a checkpoint that job re-runs the whole
      // classifier->semDedup funnel a second time
      val surv = clsDocs.join(semDropped, Seq("doc_id"), "left_anti")
        .localCheckpoint(eager = false)
      val mixed = graft.operators.Sampling.epochMix(surv, "doc_id", "lang",
        Map("en" -> 0.3, "zh" -> 0.3, "de" -> 0.2), salt = 27L)
      graft.operators.Sampling.splitAssign(mixed, "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), salt = 29L)
        .select($"doc_id", $"lang", $"epoch", $"split", $"score_milli")
    }, dir =>
      (s"WITH w AS (SELECT CAST(i AS INT) AS bucket, (i * 2654435761) % 4097 - 2048 AS wm FROM unnest(range(4096)) t(i)), " +
        "d0 AS (SELECT doc_id, lang, text FROM documents UNION ALL SELECT doc_id + 10000, lang, text FROM documents), " +
        "tok AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> length(x) > 0)) AS word FROM d0), " +
        s"b AS (SELECT doc_id, CAST(${fnvSql("word")} % 4096 AS INT) AS bucket FROM tok), " +
        "g AS (SELECT doc_id, CAST(sum(coalesce(w.wm, 0)) + 100 AS BIGINT) AS score_milli FROM b LEFT JOIN w USING (bucket) GROUP BY doc_id), " +
        "cls AS (SELECT d0.doc_id, d0.lang, CAST(coalesce(g.score_milli, 100) AS BIGINT) AS score_milli " +
        "FROM d0 LEFT JOIN g USING (doc_id) WHERE coalesce(g.score_milli, 100) >= 0), " +
        s"c AS (SELECT cluster, centroid FROM read_parquet('${oraclePath(dir, "semdedup_v4_centroids")}/*.parquet')), " +
        "u AS (SELECT vec_id, embedding FROM embeddings UNION ALL SELECT vec_id + 10000, embedding FROM embeddings), " +
        "ue AS (SELECT u.vec_id, u.embedding FROM u JOIN cls ON cls.doc_id = u.vec_id), " +
        "sa AS (SELECT vec_id, cluster FROM (SELECT ue.vec_id, c.cluster, " +
        "row_number() OVER (PARTITION BY ue.vec_id ORDER BY " +
        "list_cosine_similarity(CAST(ue.embedding AS DOUBLE[]), CAST(c.centroid AS DOUBLE[])) DESC, c.cluster ASC) AS rn " +
        "FROM ue CROSS JOIN c) WHERE rn = 1), " +
        "e2 AS (SELECT sa.vec_id, sa.cluster, ue.embedding FROM sa JOIN ue USING (vec_id)), " +
        "pp AS (SELECT a.vec_id AS vid, " +
        "max(CAST(floor(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b2.embedding AS DOUBLE[])) * 1000000) AS BIGINT)) AS nn " +
        "FROM e2 a JOIN e2 b2 ON a.cluster = b2.cluster AND b2.vec_id < a.vec_id GROUP BY a.vec_id), " +
        "surv AS (SELECT cls.doc_id, cls.lang, cls.score_milli FROM cls LEFT JOIN pp ON pp.vid = cls.doc_id " +
        "WHERE pp.nn IS NULL OR pp.nn < 950000), " +
        "cc AS (SELECT lang, count(*) AS cn FROM surv GROUP BY lang), " +
        "tot AS (SELECT CAST(sum(cn) AS BIGINT) AS n FROM cc), " +
        "sh AS (SELECT * FROM (VALUES ('en', CAST(0.3 AS DOUBLE)), ('zh', CAST(0.3 AS DOUBLE)), " +
        "('de', CAST(0.2 AS DOUBLE))) s(lang, share)), " +
        "f AS (SELECT cc.lang, sh.share * CAST(n AS DOUBLE) / CAST(cn AS DOUBLE) AS epochs FROM cc JOIN sh USING (lang) CROSS JOIN tot), " +
        "g2 AS (SELECT lang, CAST(floor(epochs) AS INT) AS n_full, CAST(round((epochs - floor(epochs)) * 4294967296.0) AS BIGINT) AS thresh FROM f), " +
        "p1 AS (SELECT s2.doc_id, s2.lang, s2.score_milli, g2.n_full, g2.thresh, " +
        "((((s2.doc_id % 2147483648) + 2147483648) % 2147483648) + 27) % 2147483648 AS s0 FROM surv s2 JOIN g2 USING (lang)), " +
        "h1c AS (SELECT *, (s0 * 2654435761) % 4294967296 AS h1 FROM p1), " +
        "m1c AS (SELECT *, xor(h1, h1 >> 16) AS m1 FROM h1c), " +
        "q1 AS (SELECT doc_id, lang, score_milli, n_full + CASE WHEN ((m1 % 2147483648) * 2246822519) % 4294967296 < thresh THEN 1 ELSE 0 END AS ne FROM m1c), " +
        "ex AS (SELECT doc_id, lang, score_milli, CAST(i AS INT) AS epoch FROM q1, unnest(range(ne)) AS t(i) WHERE ne > 0), " +
        "p2 AS (SELECT *, ((((doc_id % 2147483648) + 2147483648) % 2147483648) + 29) % 2147483648 AS s0b FROM ex), " +
        "h2 AS (SELECT *, (s0b * 2654435761) % 4294967296 AS h1b FROM p2), " +
        "m2 AS (SELECT *, xor(h1b, h1b >> 16) AS m1b FROM h2), " +
        "q2 AS (SELECT doc_id, lang, score_milli, epoch, ((m1b % 2147483648) * 2246822519) % 4294967296 AS hv FROM m2) " +
        "SELECT doc_id, lang, epoch, CASE WHEN hv < 3865470566 THEN 'train' WHEN hv < 4080218931 THEN 'val' ELSE 'test' END AS split, score_milli " +
        "FROM q2 ORDER BY doc_id, epoch"))
  )
}
