package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SURVEY.md §2.8 X28 ⊕ — text analysis over the `documents` fixture:
  * the operations a training-data pipeline runs over every document.
  * Everything is built-in string/regex/array expressions (codegen'd, no
  * UDFs), so each query is a single scan + hash aggregate — the shape
  * that holds at 100 TB (per-document work is row-local; only the final
  * roll-up shuffles, on low-cardinality keys).
  */
object TextQueries {

  /** X28 core — char/token statistics per (lang, source) facet, plus a
    * validation that the stored n_chars matches length(text). */
  val stats = Q(
    "x28_text_stats",
    "Facet roll-up: doc counts, char/token count stats, stored-n_chars consistency check. Single scan, one shuffle on (lang, source).",
    (s, dir) => {
      val t = Tables(s, dir)
      t.documents
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 4).as("avg_chars"),
          round(avg(col("n_tokens")), 4).as("avg_tokens"),
          max(col("n_tokens")).as("max_tokens"),
          count(when(length(col("text")) === col("n_chars"), 1)).as("n_chars_consistent")
        )
    },
    Some("""SELECT lang, source, count(*) AS n_docs,
            round(avg(n_chars), 4) AS avg_chars,
            round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
            max(len(string_split(text, ' '))) AS max_tokens,
            count(CASE WHEN length(text) = n_chars THEN 1 END) AS n_chars_consistent
            FROM documents GROUP BY lang, source""")
  )

  /** X28 quality scoring — length/punctuation/stopword-ratio heuristics
    * composed into a [0,1] score + keep/filter bucket. */
  val quality = Q(
    "x28_quality_score",
    "Per-document quality heuristic: token count, mean token length, stopword ratio, alpha ratio -> weighted score + keep/filter class.",
    (s, dir) => {
      val t = Tables(s, dir)
      t.documents
        .filter(col("doc_id") < 100)
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .withColumn("mean_tok_len",
          round((length(col("text")) - col("n_tokens") + 1).cast("double") / col("n_tokens"), 6))
        .withColumn("stop_ratio",
          round(size(filter(split(col("text"), " "), tk => tk.isin("the", "a")))
            .cast("double") / col("n_tokens"), 6))
        .withColumn("len_score",
          least(col("n_tokens").cast("double") / 100.0, lit(1.0)))
        .withColumn("quality",
          round(lit(0.5) * col("len_score") + lit(0.5) * (lit(1.0) - col("stop_ratio")), 6))
        .withColumn("bucket", when(col("quality") >= 0.8, "keep").otherwise("review"))
        .select("doc_id", "n_tokens", "mean_tok_len", "stop_ratio", "quality", "bucket")
    },
    Some("""WITH d AS (
              SELECT doc_id, text, len(string_split(text, ' ')) AS n_tokens FROM documents WHERE doc_id < 100
            ), m AS (
              SELECT doc_id, n_tokens,
                round(CAST(length(text) - n_tokens + 1 AS DOUBLE) / n_tokens, 6) AS mean_tok_len,
                round(CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS DOUBLE) / n_tokens, 6) AS stop_ratio,
                least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) AS len_score
              FROM d)
            SELECT doc_id, n_tokens, mean_tok_len, stop_ratio,
              round(0.5 * len_score + 0.5 * (1.0 - stop_ratio), 6) AS quality,
              CASE WHEN round(0.5 * len_score + 0.5 * (1.0 - stop_ratio), 6) >= 0.8
                   THEN 'keep' ELSE 'review' END AS bucket
            FROM m""")
  )

  /** X28 language-ID — stopword-hit heuristic: score each candidate
    * language by marker-token ratio, predict the argmax, compare to the
    * labeled lang. (The fixture corpus is English-vocab for every label,
    * so the confusion roll-up itself is the interesting output.) */
  val langId = Q(
    "x28_lang_id",
    "N-gram/stopword language-ID heuristic: per-language marker ratios, argmax prediction, labeled-vs-predicted confusion counts.",
    (s, dir) => {
      val t = Tables(s, dir)
      t.documents
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("en_hits", size(filter(col("toks"), tk => tk.isin("the", "a", "and", "of"))))
        .withColumn("es_hits", size(filter(col("toks"), tk => tk.isin("el", "la", "de", "y"))))
        .withColumn("predicted",
          when(col("en_hits") >= col("es_hits") && col("en_hits") > 0, "en")
            .when(col("es_hits") > col("en_hits"), "es")
            .otherwise("unknown"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("en_hits").cast("double") / col("n_tokens")), 6).as("avg_en_ratio"))
    },
    Some("""WITH d AS (
              SELECT lang, string_split(text, ' ') AS toks FROM documents
            ), h AS (
              SELECT lang, len(toks) AS n_tokens,
                len(list_filter(toks, t -> t IN ('the', 'a', 'and', 'of'))) AS en_hits,
                len(list_filter(toks, t -> t IN ('el', 'la', 'de', 'y'))) AS es_hits
              FROM d)
            SELECT lang,
              CASE WHEN en_hits >= es_hits AND en_hits > 0 THEN 'en'
                   WHEN es_hits > en_hits THEN 'es' ELSE 'unknown' END AS predicted,
              count(*) AS n,
              round(avg(CAST(en_hits AS DOUBLE) / n_tokens), 6) AS avg_en_ratio
            FROM h GROUP BY 1, 2""")
  )

  /** X28 fingerprinting + BPE-ish tokenization — md5 of the
    * whitespace-normalized text as the doc fingerprint; regex token count
    * (letter runs / digits / punctuation as separate tokens). */
  val fingerprint = Q(
    "x28_fingerprint",
    "Document fingerprint (md5 of normalized text) + BPE-ish regex token census; per-lang distinct-fingerprint counts.",
    (s, dir) => {
      val t = Tables(s, dir)
      t.documents
        .withColumn("fp", md5(regexp_replace(lower(col("text")), "\\s+", " ")))
        .withColumn("n_bpe_tokens",
          size(expr("regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9\\\\s]', 0)")))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          count_distinct(col("fp")).as("n_distinct_fp"),
          round(avg(col("n_bpe_tokens")), 4).as("avg_bpe_tokens")
        )
    },
    Some("""SELECT lang, count(*) AS n_docs,
            count(DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS n_distinct_fp,
            round(avg(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9\s]'))), 4) AS avg_bpe_tokens
            FROM documents GROUP BY lang""")
  )

  /** X28 token counting — whitespace tokens vs BPE-granularity subword
    * pieces (greedy ≤4-char letter chunks, digit runs, punctuation — the
    * piece-length profile a BPE vocabulary produces). The subword/word
    * ratio is the "fertility" statistic used to budget LLM token costs
    * per corpus slice. Row-local regex work, one low-cardinality shuffle. */
  val tokenCount = Q(
    "x28_token_count",
    "Token budget census: whitespace tokens vs subword pieces (greedy 4-char chunks) per source; fertility = pieces per word.",
    (s, dir) => {
      val t = Tables(s, dir)
      t.documents
        .withColumn("ws_tokens", size(expr("regexp_extract_all(text, '\\\\S+', 0)")))
        .withColumn("subword_tokens",
          size(expr("regexp_extract_all(lower(text), '[a-z]{1,4}|[0-9]{1,3}|[^a-z0-9\\\\s]', 0)")))
        .groupBy(col("source"))
        .agg(
          sum(col("ws_tokens")).as("ws_tokens"),
          sum(col("subword_tokens")).as("subword_tokens"),
          round(sum(col("subword_tokens")).cast("double") / sum(col("ws_tokens")), 6)
            .as("fertility"))
    },
    Some("""SELECT source,
            CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS ws_tokens,
            CAST(sum(len(regexp_extract_all(lower(text), '[a-z]{1,4}|[0-9]{1,3}|[^a-z0-9\s]'))) AS BIGINT) AS subword_tokens,
            round(CAST(sum(len(regexp_extract_all(lower(text), '[a-z]{1,4}|[0-9]{1,3}|[^a-z0-9\s]'))) AS DOUBLE)
                  / sum(len(regexp_extract_all(text, '\S+'))), 6) AS fertility
            FROM documents GROUP BY source""")
  )

  /** X28 filter chain — the C4-style document quality gate: an ORDERED
    * rule cascade (length bounds → mean word length → symbol ratio →
    * stopword presence → exact-dup) where each document gets keep or its
    * FIRST failing rule as the drop reason. One scan + a window for the
    * dup rule + one low-cardinality roll-up; the per-reason counts are
    * the corpus-curation dashboard every training-data pipeline keeps. */
  val filterChain = Q(
    "x28_filter_chain",
    "C4-style quality cascade: length/word-length/symbol/stopword/dup rules in order, first failure wins; per-source drop-reason census.",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val w = Window.partitionBy(col("fp")).orderBy(col("doc_id").asc)
      t.documents
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .withColumn("mean_word_len",
          (col("n_chars") - col("n_tokens") + 1).cast("double") / col("n_tokens"))
        .withColumn("symbol_ratio",
          size(expr("regexp_extract_all(text, '[^a-z0-9 ]', 0)")).cast("double") / col("n_chars"))
        .withColumn("has_stopword",
          arrays_overlap(split(col("text"), " "),
            array(lit("the"), lit("a"), lit("and"), lit("of"))))
        .withColumn("fp", md5(col("text")))
        .withColumn("dup_rank", row_number().over(w))
        .withColumn("drop_reason",
          when(col("n_chars") < 100, "too_short")
            .when(col("n_chars") > 20000, "too_long")
            .when(col("mean_word_len") < 3 || col("mean_word_len") > 10, "word_length")
            .when(col("symbol_ratio") >= 0.1, "symbol_ratio")
            .when(!col("has_stopword"), "no_stopwords")
            .when(col("dup_rank") > 1, "duplicate")
            .otherwise("kept"))
        .groupBy(col("source"), col("drop_reason"))
        .agg(count(lit(1)).as("n"))
    },
    Some("""WITH d AS (
              SELECT source, doc_id, n_chars,
                len(string_split(text, ' ')) AS n_tokens,
                CAST(n_chars - len(string_split(text, ' ')) + 1 AS DOUBLE)
                  / len(string_split(text, ' ')) AS mean_word_len,
                CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE) / n_chars AS symbol_ratio,
                len(list_filter(string_split(text, ' '),
                    t -> t IN ('the', 'a', 'and', 'of'))) > 0 AS has_stopword,
                row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS dup_rank
              FROM documents)
            SELECT source,
              CASE WHEN n_chars < 100 THEN 'too_short'
                   WHEN n_chars > 20000 THEN 'too_long'
                   WHEN mean_word_len < 3 OR mean_word_len > 10 THEN 'word_length'
                   WHEN symbol_ratio >= 0.1 THEN 'symbol_ratio'
                   WHEN NOT has_stopword THEN 'no_stopwords'
                   WHEN dup_rank > 1 THEN 'duplicate'
                   ELSE 'kept' END AS drop_reason,
              count(*) AS n
            FROM d GROUP BY 1, 2""")
  )

  /** X28 depth — Gopher-style repetition signals (Rae et al. 2021,
    * Table A1): repeated n-grams and repeated-token runs are the
    * strongest single predictor of low-quality machine-generated text.
    * Four signals per document: top-word occurrence share, top-2-gram
    * share, duplicate-5-gram fraction, and the longest same-word run.
    *
    * Cross-engine exactness: every metric is an integer numerator /
    * denominator pair — never a rounded ratio (quotients land on round()
    * half-boundaries; see w3_tumbling) — and the verdict compares by
    * integer cross-multiplication. The Gopher thresholds (2-gram share
    * > 0.18, dup-5-gram > 0.30) are kept verbatim but never fire on this
    * low-repetition fixture, so two corpus-scaled rules (top word > 10%,
    * run >= 3) keep both verdict branches exercised (46/120 drop at
    * sf0.001 — no vacuous predicates).
    *
    * Scale shape: every shuffle keys on doc_id (windows and n-gram
    * counts are per-document, bounded by document length); no cross-doc
    * join anywhere, so the query is embarrassingly key-parallel at
    * 100 TB. */
  val repetition = Q(
    "x28_repetition",
    "Gopher repetition filters: top-word/top-2-gram share, duplicate-5-gram fraction, longest same-word run; exact integer-ratio verdict.",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val d = t.documents.filter(col("doc_id") < 120)
        .select(col("doc_id"), split(col("text"), " ").as("words"))
        .withColumn("n_words", size(col("words")).cast("long"))
      val pos = d.select(col("doc_id"), col("n_words"),
        posexplode(col("words")).as(Seq("pos", "word")))

      val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
      val maxRun = pos
        .withColumn("new_run",
          when(col("word") === lag(col("word"), 1).over(byPos), 0).otherwise(1))
        .withColumn("run_id", sum(col("new_run")).over(byPos))
        .groupBy(col("doc_id"), col("run_id")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("max_run"))

      // argmax by (count DESC, word ASC) — min over the (-count, word)
      // struct makes the tie-break deterministic in both engines
      val topWord = pos.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(min(struct((-col("c")).as("neg"), col("word").as("w"))).as("m"))
        .select(col("doc_id"), col("m.w").as("top_word"), (-col("m.neg")).as("top_word_cnt"))

      def grams(n: Int): DataFrame = d.filter(col("n_words") >= n)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(1, cast(n_words - ${n - 1} as int)), i -> concat_ws(' ', " +
            (0 until n).map(k => s"element_at(words, i + $k)").mkString(", ") + "))")).as("g"))
      val topBigram = grams(2).groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("top_bigram_cnt"))
      val dup5 = grams(5).groupBy(col("doc_id"))
        .agg((count(lit(1)) - countDistinct(col("g"))).as("dup5_cnt"))

      d.select(col("doc_id"), col("n_words"))
        .join(topWord, Seq("doc_id")).join(maxRun, Seq("doc_id"))
        .join(topBigram, Seq("doc_id"), "left").join(dup5, Seq("doc_id"), "left")
        .withColumn("top_bigram_cnt", coalesce(col("top_bigram_cnt"), lit(0L)))
        .withColumn("n_bigrams", greatest(col("n_words") - 1, lit(0L)))
        .withColumn("dup5_cnt", coalesce(col("dup5_cnt"), lit(0L)))
        .withColumn("n_5grams", greatest(col("n_words") - 4, lit(0L)))
        .withColumn("verdict",
          when(col("top_bigram_cnt") * 100 > col("n_bigrams") * 18 ||
            col("dup5_cnt") * 100 > col("n_5grams") * 30 ||
            col("top_word_cnt") * 10 > col("n_words") ||
            col("max_run") >= 3, "drop").otherwise("keep"))
        .select(col("doc_id"), col("n_words"), col("top_word"), col("top_word_cnt"),
          col("top_bigram_cnt"), col("n_bigrams"), col("dup5_cnt"), col("n_5grams"),
          col("max_run"), col("verdict"))
    },
    Some("""WITH d AS (
              SELECT doc_id, string_split(text, ' ') AS words,
                     len(string_split(text, ' ')) AS n_words
              FROM documents WHERE doc_id < 120
            ), p AS (
              SELECT doc_id, words, n_words, unnest(generate_series(1, n_words)) AS pos FROM d
            ), wp AS (
              SELECT doc_id, pos, words[pos] AS word,
                     CASE WHEN pos > 1 AND words[pos] = words[pos-1] THEN 0 ELSE 1 END AS nr
              FROM p
            ), runs AS (
              SELECT doc_id, sum(nr) OVER (PARTITION BY doc_id ORDER BY pos) AS rid FROM wp
            ), rl AS (
              SELECT doc_id, CAST(max(c) AS BIGINT) AS max_run FROM (
                SELECT doc_id, rid, count(*) AS c FROM runs GROUP BY 1, 2) GROUP BY 1
            ), tw AS (
              SELECT doc_id, word AS top_word, CAST(c AS BIGINT) AS top_word_cnt FROM (
                SELECT doc_id, word, count(*) AS c,
                       row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, word ASC) AS rn
                FROM wp GROUP BY doc_id, word)
              WHERE rn = 1
            ), tb AS (
              SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_cnt FROM (
                SELECT doc_id, words[pos] || ' ' || words[pos+1] AS g, count(*) AS c
                FROM p WHERE pos < n_words GROUP BY 1, 2) GROUP BY 1
            ), d5 AS (
              SELECT doc_id, CAST(count(*) - count(DISTINCT g) AS BIGINT) AS dup5_cnt FROM (
                SELECT doc_id, words[pos] || ' ' || words[pos+1] || ' ' || words[pos+2]
                       || ' ' || words[pos+3] || ' ' || words[pos+4] AS g
                FROM p WHERE pos + 4 <= n_words) GROUP BY 1
            )
            SELECT d.doc_id, CAST(d.n_words AS BIGINT) AS n_words,
                   tw.top_word, tw.top_word_cnt,
                   COALESCE(tb.top_bigram_cnt, 0) AS top_bigram_cnt,
                   CAST(greatest(d.n_words - 1, 0) AS BIGINT) AS n_bigrams,
                   COALESCE(d5.dup5_cnt, 0) AS dup5_cnt,
                   CAST(greatest(d.n_words - 4, 0) AS BIGINT) AS n_5grams,
                   rl.max_run,
                   CASE WHEN COALESCE(tb.top_bigram_cnt, 0) * 100 > 18 * greatest(d.n_words - 1, 0)
                          OR COALESCE(d5.dup5_cnt, 0) * 100 > 30 * greatest(d.n_words - 4, 0)
                          OR tw.top_word_cnt * 10 > d.n_words
                          OR rl.max_run >= 3
                        THEN 'drop' ELSE 'keep' END AS verdict
            FROM d JOIN tw USING (doc_id) JOIN rl USING (doc_id)
                   LEFT JOIN tb USING (doc_id) LEFT JOIN d5 USING (doc_id)""")
  )

  /** X28 depth — PII detection + redaction, the scrub pass every
    * training-data pipeline runs before tokenization. The fixture corpus
    * is synthetic word-salad with no PII, so the query PLANTS
    * deterministic PII (emails / phone fragments / IPv4s, keyed off
    * doc_id) and then proves the scrubber removes exactly what was
    * planted: `residual_max` re-runs all three detectors on the redacted
    * text and must be 0 — a self-verifying invariant, not just a census.
    *
    * Patterns avoid regex-dialect edges (no backslash classes, dots as
    * `[.]`) so Java regex and RE2-style DuckDB agree literally. All work
    * is row-local regexp (codegen'd), one low-cardinality roll-up — the
    * 100 TB shape is a pure map stage. */
  val piiScrub = Q(
    "x28_pii_scrub",
    "PII scrub: plant deterministic emails/phones/IPs, regex-redact, census per source + zero-residual invariant on the redacted text.",
    (s, dir) => {
      val t = Tables(s, dir)
      val email = "[a-z0-9]+@[a-z0-9]+[.]com"
      val phone = "555-[0-9]+"
      val ip = "10[.]0[.][0-9]+[.]1"
      def nHits(colName: String) = Seq(email, phone, ip).map(p =>
        size(expr(s"regexp_extract_all($colName, '$p', 0)"))).reduce(_ + _)
      t.documents
        .withColumn("txt", concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@mail"), pmod(col("doc_id"), lit(10)), lit(".com now"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit(" call 555-01"), pmod(col("doc_id"), lit(10)), lit(" ok"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(lit(" from 10.0."), pmod(col("doc_id"), lit(256)), lit(".1 end"))).otherwise(lit(""))))
        .withColumn("n_email", size(expr(s"regexp_extract_all(txt, '$email', 0)")))
        .withColumn("n_phone", size(expr(s"regexp_extract_all(txt, '$phone', 0)")))
        .withColumn("n_ip", size(expr(s"regexp_extract_all(txt, '$ip', 0)")))
        .withColumn("redacted",
          regexp_replace(regexp_replace(regexp_replace(col("txt"),
            email, "<EMAIL>"), phone, "<PHONE>"), ip, "<IP>"))
        .withColumn("residual", nHits("redacted"))
        .groupBy(col("source"))
        .agg(
          count(when(col("n_email") + col("n_phone") + col("n_ip") > 0, 1)).as("docs_with_pii"),
          sum(col("n_email")).as("emails"),
          sum(col("n_phone")).as("phones"),
          sum(col("n_ip")).as("ips"),
          sum(length(col("txt")) - length(col("redacted"))).as("chars_delta"),
          max(col("residual")).as("residual_max"))
    },
    Some("""WITH seeded AS (
              SELECT source, text
                || CASE WHEN doc_id % 3 = 0
                        THEN ' contact user' || doc_id || '@mail' || (doc_id % 10) || '.com now'
                        ELSE '' END
                || CASE WHEN doc_id % 5 = 0
                        THEN ' call 555-01' || (doc_id % 10) || ' ok' ELSE '' END
                || CASE WHEN doc_id % 7 = 0
                        THEN ' from 10.0.' || (doc_id % 256) || '.1 end' ELSE '' END AS txt
              FROM documents
            ), hits AS (
              SELECT source, txt,
                len(regexp_extract_all(txt, '[a-z0-9]+@[a-z0-9]+[.]com')) AS n_email,
                len(regexp_extract_all(txt, '555-[0-9]+')) AS n_phone,
                len(regexp_extract_all(txt, '10[.]0[.][0-9]+[.]1')) AS n_ip,
                regexp_replace(regexp_replace(regexp_replace(txt,
                  '[a-z0-9]+@[a-z0-9]+[.]com', '<EMAIL>', 'g'),
                  '555-[0-9]+', '<PHONE>', 'g'),
                  '10[.]0[.][0-9]+[.]1', '<IP>', 'g') AS redacted
              FROM seeded
            )
            SELECT source,
              count(CASE WHEN n_email + n_phone + n_ip > 0 THEN 1 END) AS docs_with_pii,
              CAST(sum(n_email) AS BIGINT) AS emails,
              CAST(sum(n_phone) AS BIGINT) AS phones,
              CAST(sum(n_ip) AS BIGINT) AS ips,
              CAST(sum(length(txt) - length(redacted)) AS BIGINT) AS chars_delta,
              CAST(max(len(regexp_extract_all(redacted, '[a-z0-9]+@[a-z0-9]+[.]com'))
                 + len(regexp_extract_all(redacted, '555-[0-9]+'))
                 + len(regexp_extract_all(redacted, '10[.]0[.][0-9]+[.]1'))) AS INT) AS residual_max
            FROM hits GROUP BY source""")
  )

  /** The BPE trainer's inner loop as distributed aggregation — 3 rounds
    * of (adjacent-pair census → argmax merge → corpus re-segmentation),
    * at word level (the corpus is already space-tokenized; the merges
    * learn multi-word units, the same algorithm as byte-level BPE).
    *
    * Segmentation state is a STRING with a two-space separator and
    * one-space padding, so a merge is a plain leftmost-non-overlapping
    * `replace(' a  b ' -> ' a_b ')` — exactly BPE's greedy merge order,
    * identical in Spark and DuckDB, with the double separator preserving
    * token boundaries across consecutive matches (replacing ' a b '
    * with single spaces would consume the next match's leading
    * boundary). Ties break lexicographically.
    *
    * Scale: each round is one pair-census shuffle (map-side partial agg)
    * + one vocab distinct + a row-local replace. The merge loop stays
    * ON-CLUSTER (VERDICT r10 next #8): the argmax pair is a 1-row
    * checkpointed frame broadcast-cross-joined into the re-segmentation
    * (replace with COLUMN arguments), so no row data ever reaches the
    * driver — the per-round eager localCheckpoint is the iteration
    * barrier (a job boundary, not a collect), and it keeps the round
    * plans flat (a lazily-chained broadcast-argmax would nest the
    * previous round's whole plan under each new top-1 subtree —
    * exponential re-execution). */
  /** Number of BPE trainer rounds, shared by the engine loops and the
    * generated oracle CTE chains so the two cannot drift apart; 3 keeps
    * bench numbers comparable across rounds. */
  private[graft] val BpeRounds: Int = 3

  /** The oracle's per-round CTE chain (tokenize → pair census → argmax
    * merge → re-segmented corpus), generated instead of hand-unrolled so
    * `BpeRounds` is the single source of truth. `carry` threads extra
    * projected columns (the apply side keeps source/text);
    * `withVocab` adds the per-round distinct-symbol census the trainer
    * emits. */
  private def bpeOracleChain(rounds: Int, carry: String, withVocab: Boolean): String = {
    val sb = new StringBuilder(
      s"""WITH c0 AS (
              SELECT doc_id$carry, ' ' || replace(text, ' ', '  ') || ' ' AS seg FROM documents
            )""")
    for (r <- 1 to rounds) {
      val prev = s"c${r - 1}"
      sb ++= s""",
            tk$r AS (SELECT string_split(trim(seg, ' '), '  ') AS toks FROM $prev),
            p$r AS (SELECT toks[i] || ' ' || toks[i+1] AS pair, count(*) AS n
                   FROM tk$r, unnest(generate_series(1, len(toks) - 1)) AS g(i) GROUP BY 1),
            m$r AS (SELECT pair, n FROM p$r ORDER BY n DESC, pair ASC LIMIT 1),
            c$r AS (SELECT doc_id$carry, replace(seg,
                     (SELECT ' ' || replace(pair, ' ', '  ') || ' ' FROM m$r),
                     (SELECT ' ' || replace(pair, ' ', '_') || ' ' FROM m$r)) AS seg FROM $prev)"""
      if (withVocab) sb ++= s""",
            v$r AS (SELECT count(DISTINCT sym) AS vocab
                   FROM (SELECT unnest(string_split(trim(seg, ' '), '  ')) AS sym FROM c$r))"""
    }
    sb.toString
  }

  /** One BPE trainer round over a `seg`-segmented corpus: adjacent-pair
    * census → argmax (count desc, pair asc) → re-segmented corpus.
    * Shared by the trainer census and the apply side so the learned
    * merges cannot drift. Fully on-cluster: returns the re-segmented
    * corpus and the 1-row (pair, n) merge frame, both EAGERLY
    * localCheckpoint-ed — the merge is broadcast-cross-joined into the
    * replace (column arguments), never collected, and the corpus
    * checkpoint keeps each round's census a flat scan instead of a
    * re-execution of every earlier round. */
  private def bpeRound(corpus: DataFrame): (DataFrame, DataFrame) = {
    val toks = corpus.select(split(trim(col("seg")), "  ").as("toks"))
    val pairs = toks.select(explode(zip_with(
      slice(col("toks"), lit(1), size(col("toks")) - 1),
      slice(col("toks"), lit(2), size(col("toks")) - 1),
      (a, b) => concat(a, lit(" "), b))).as("pair"))
    val top = pairs.groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc).limit(1)
      // LAZY checkpoint (r12 optimization): the merged corpus below is
      // checkpointed eagerly, and building its broadcast side is the
      // action that materializes this 1-row frame — an eager checkpoint
      // here ran a redundant extra job per round. Still never collected
      // to the driver; the plan under the broadcast stays flat (one
      // census over the previous round's ExistingRDD).
      .localCheckpoint(false)
    val merged = corpus.crossJoin(broadcast(top))
      .withColumn("seg", call_function("replace", col("seg"),
        concat(lit(" "), call_function("replace", col("pair"), lit(" "), lit("  ")), lit(" ")),
        concat(lit(" "), call_function("replace", col("pair"), lit(" "), lit("_")), lit(" "))))
      .drop("pair", "n")
      .localCheckpoint()
    (merged, top)
  }

  val bpeMerges = Q(
    "x28_bpe_merges",
    s"BPE trainer loop: $BpeRounds rounds of adjacent-pair census -> argmax merge -> re-segmentation; emits each round's merge, count, and vocab size.",
    (s, dir) => {
      val t = Tables(s, dir)
      var corpus = t.documents.select(col("doc_id"),
        concat(lit(" "), expr("replace(text, ' ', '  ')"), lit(" ")).as("seg"))
      // zero driver collects: each round's (pair, n) is a checkpointed
      // 1-row frame; the per-round vocab census is a lazy 1-row
      // aggregate over the checkpointed corpus; the result is their
      // cross-joined union — all row data stays on the executors
      val rows = (1 to BpeRounds).map { round =>
        val (merged, top) = bpeRound(corpus)
        corpus = merged
        val vocab = corpus
          .select(explode(split(trim(col("seg")), "  ")).as("sym"))
          .agg(count_distinct(col("sym")).as("vocab_after"))
        top.crossJoin(broadcast(vocab))
          .select(lit(round).as("round"), col("pair").as("merged_pair"),
            col("n").as("n_occurrences"), col("vocab_after"))
      }
      rows.reduce(_.unionAll(_))
    },
    Some(bpeOracleChain(BpeRounds, carry = "", withVocab = true) + "\n" +
      (1 to BpeRounds).map(r =>
        s"""SELECT $r AS round, (SELECT pair FROM m$r) AS merged_pair,
                   (SELECT n FROM m$r) AS n_occurrences, (SELECT vocab FROM v$r) AS vocab_after""")
        .mkString("\n            UNION ALL\n"))
  )

  /** Out-of-vocabulary rate — the language-model-perplexity proxy that
    * needs no libm: build the corpus top-100 vocabulary (count desc,
    * token asc — the tie-break makes the 100-boundary deterministic),
    * broadcast it, and census each source's share of tokens outside it.
    * High OOV share flags the same junk an LM filter scores — without a
    * cross-engine-fragile log().
    *
    * Scale: the vocabulary is a top-k over the token census (TakeOrdered,
    * never a global sort) and is constant-sized, so the membership test
    * is a broadcast join however large the corpus; the shares divide two
    * exact Longs once per source. */
  val oovRate = Q(
    "x28_oov_rate",
    "OOV-rate quality proxy: corpus top-100 vocabulary (broadcast) -> per-source token/OOV census -> exact-ratio share.",
    (s, dir) => {
      val t = Tables(s, dir)
      val toks = t.documents.select(col("source"), explode(split(col("text"), " ")).as("tok"))
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok").asc).limit(100)
        .select(col("tok"))
      toks.join(broadcast(vocab.withColumn("in_vocab", lit(1))), Seq("tok"), "left")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_tokens"),
          count(when(col("in_vocab").isNull, 1)).as("n_oov"))
        .withColumn("oov_share",
          round(col("n_oov").cast("double") / col("n_tokens"), 6))
    },
    Some("""WITH toks AS (
              SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
            ), vocab AS (
              SELECT tok FROM (
                SELECT tok, count(*) AS n,
                  row_number() OVER (ORDER BY count(*) DESC, tok ASC) AS rk
                FROM toks GROUP BY tok)
              WHERE rk <= 100
            )
            SELECT source,
              count(*) AS n_tokens,
              count(CASE WHEN tok NOT IN (SELECT tok FROM vocab) THEN 1 END) AS n_oov,
              round(CAST(count(CASE WHEN tok NOT IN (SELECT tok FROM vocab) THEN 1 END) AS DOUBLE)
                    / count(*), 6) AS oov_share
            FROM toks GROUP BY source""")
  )

  /** The apply side of the BPE loop — re-derive the 3 learned merges
    * (deterministic, same argmax chain as x28_bpe_merges) and tokenize
    * the corpus with them, emitting the per-source compression census:
    * symbols-per-word fertility before/after. This is the number a
    * tokenizer change actually moves in a training pipeline (tokens per
    * document → cost per epoch). Same scale shape as the trainer: one
    * pair-census shuffle per round + a final per-source aggregate. */
  val bpeApply = Q(
    "x28_bpe_apply",
    s"BPE apply: tokenize with the $BpeRounds learned merges; per-source word/symbol counts and exact-ratio fertility.",
    (s, dir) => {
      val t = Tables(s, dir)
      var corpus = t.documents.select(col("doc_id"), col("source"), col("text"),
        concat(lit(" "), expr("replace(text, ' ', '  ')"), lit(" ")).as("seg"))
      for (_ <- 1 to BpeRounds) corpus = bpeRound(corpus)._1 // on-cluster rounds
      corpus
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).as("n_words"),
          sum(size(split(trim(col("seg")), "  "))).as("n_symbols"))
        .withColumn("fertility",
          round(col("n_symbols").cast("double") / col("n_words"), 6))
    },
    Some(bpeOracleChain(BpeRounds, carry = ", source, text", withVocab = false) + s"""
            SELECT source, count(*) AS n_docs,
              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words,
              CAST(sum(len(string_split(trim(seg, ' '), '  '))) AS BIGINT) AS n_symbols,
              round(CAST(sum(len(string_split(trim(seg, ' '), '  '))) AS DOUBLE)
                    / sum(len(string_split(text, ' '))), 6) AS fertility
            FROM c$BpeRounds GROUP BY source""")
  )

  /** X28 ⊕ — repeated-span census (the "duplicated passage fraction"
    * dedup signal of Lee et al. 2022, arXiv:2107.06499, re-expressed
    * relationally): a word 5-gram span is "duplicated" when it occurs in
    * ≥ 2 distinct documents; per document we report how many of its span
    * positions are covered by such corpus-repeated grams, in exact basis
    * points, and flag documents over 30 % duplication.
    *
    * Scale shape: spans explode to ~1 row per corpus token; the dup-gram
    * census is one groupBy(gram) with map-side partial countDistinct; the
    * per-doc roll-up is a gram-keyed equi-join back (shuffle on gram,
    * then on doc_id) — no all-pairs stage anywhere, so the plan is the
    * same one that runs at 100 TB. Suffix-array exactness is traded for
    * fixed-width grams precisely because grams keep every stage key-
    * partitioned. */
  val spanDedup = Q(
    "x28_span_dedup",
    "Repeated 5-gram span census per doc: dup-span fraction in exact basis points, >=30% flagged. Gram-keyed joins only, no all-pairs.",
    (s, dir) => {
      val t = Tables(s, dir)
      // Positional spans (NOT distinct — a gram repeated inside one doc
      // covers several positions and each counts toward the fraction).
      val spans = t.documents
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 5)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("w")) - 4),
            i => concat_ws(" ", (0 to 4).map(k => element_at(col("w"), i + k)): _*))).as("g"))
        .cache()
      val dupGrams = spans.groupBy(col("g"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("g"), lit(1L).as("dup"))
      spans.join(dupGrams, Seq("g"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(coalesce(col("dup"), lit(0L))).as("dup_spans"))
        .withColumn("dup_bp", expr("(dup_spans * 10000) div n_spans"))
        .withColumn("verdict", when(col("dup_bp") >= 3000, "flag").otherwise("keep"))
    },
    Some("""WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ), spans AS (
              SELECT doc_id, array_to_string(w[i:i+4], ' ') AS g
              FROM toks, LATERAL unnest(generate_series(1, greatest(len(w) - 4, 0))) AS t(i)
              WHERE len(w) >= 5
            ), dupg AS (
              SELECT g FROM spans GROUP BY g HAVING count(DISTINCT doc_id) >= 2
            )
            SELECT s.doc_id, count(*) AS n_spans,
              CAST(count(*) FILTER (WHERE dupg.g IS NOT NULL) AS BIGINT) AS dup_spans,
              CAST((count(*) FILTER (WHERE dupg.g IS NOT NULL) * 10000) // count(*) AS BIGINT) AS dup_bp,
              CASE WHEN (count(*) FILTER (WHERE dupg.g IS NOT NULL) * 10000) // count(*) >= 3000
                   THEN 'flag' ELSE 'keep' END AS verdict
            FROM spans s LEFT JOIN dupg ON s.g = dupg.g
            GROUP BY s.doc_id""")
  )

  /** X28 ⊕ — SymSpell dictionary correction (Garbe's delete-neighborhood
    * algorithm): fuzzy-match a dirty token stream against a frequency-
    * pruned dictionary WITHOUT an all-pairs edit-distance pass. Every
    * string maps to the key set {itself} ∪ {single-char deletions}; two
    * strings within edit distance 1 are guaranteed to share a key, so
    * candidate generation is a hash equi-join on the key and the exact
    * `levenshtein` runs only on candidates — the edit-distance analogue
    * of the LSH band join.
    *
    * The corpus is the clean token stream with DETERMINISTIC noise
    * planted (the pii-scrub discipline, hash-seeded so both engines
    * plant identical noise): ~1/7 of len≥4 tokens get a single-char
    * deletion (distance 1 — must be CORRECTED), a disjoint ~1/11 get an
    * adjacent transposition (distance 2 — shares deletion keys, so it
    * becomes a candidate the levenshtein gate must REJECT), and the
    * low-frequency tail ("dup") is pruned from the dictionary so clean
    * rare tokens exercise the no-candidate UNMATCHED path. All four
    * classification branches fire at every sf.
    *
    * Scale shape: the dictionary (words with freq ≥ corpus/1000 — by
    * Zipf a bounded set) and its key expansion are broadcast; the
    * corpus side is one scan with a ~(len+1)× key fan-out, one hash
    * join, and a per-mention min aggregate that partial-aggs before the
    * (doc, pos)-keyed shuffle. Nothing is quadratic in corpus OR
    * vocabulary size. */
  val fuzzyMatch = Q(
    "x28_fuzzy_match",
    "SymSpell fuzzy match: delete-neighborhood keys, broadcast pruned dictionary, exact levenshtein gate on candidates; per-source exact/corrected/unmatched census.",
    (s, dir) => {
      val t = Tables(s, dir)
      val toks = t.documents
        .select(col("doc_id"), col("source"),
          posexplode(split(col("text"), " ")).as(Seq("p0", "w")))
        .filter(col("w") =!= "")
        .withColumn("pos", (col("p0") + 1).cast("long"))
        .withColumn("L", length(col("w")))
        .withColumn("hh", expr(
          "cast(conv(substring(md5(concat(cast(doc_id as string), ':', cast(pos as string))), 1, 4), 16, 10) as bigint)"))
      val noisy = toks
        // greatest(,1) keeps the eager column ANSI-safe for L=1 tokens;
        // the L>=4 branch guard means the clamp never changes a result
        .withColumn("dp", (col("hh") / 7).cast("long") % col("L") + 1)
        .withColumn("tp", (col("hh") / 11).cast("long") % greatest(col("L") - 1, lit(1)) + 1)
        .withColumn("t",
          when(col("L") >= 4 && col("hh") % 7 === 0,
            expr("concat(substring(w, 1, cast(dp as int) - 1), substring(w, cast(dp as int) + 1, L))"))
          .when(col("L") >= 4 && col("hh") % 11 === 0,
            expr("concat(substring(w, 1, cast(tp as int) - 1), substring(w, cast(tp as int) + 1, 1), " +
              "substring(w, cast(tp as int), 1), substring(w, cast(tp as int) + 2, L))"))
          .otherwise(col("w")))
        .select(col("doc_id"), col("pos"), col("source"), col("t"))
      val freq = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val total = freq.agg(sum(col("c")).as("total"))
      val vocab = freq.crossJoin(broadcast(total))
        .filter(col("c") >= expr("total div 1000"))
        .select(col("w").as("vw"))
      def keysOf(c: String) = explode(expr(
        s"array_union(array($c), transform(sequence(1, length($c)), " +
          s"i -> concat(substr($c, 1, i - 1), substr($c, i + 1, length($c)))))"))
      val vkeys = broadcast(vocab.select(col("vw"), keysOf("vw").as("key")))
      val mkeys = noisy.select(col("doc_id"), col("pos"), col("source"), col("t"),
        keysOf("t").as("key"))
      val dmin = mkeys.join(vkeys, "key")
        .select(col("doc_id"), col("pos"), col("source"), col("t"), col("vw")).distinct()
        .withColumn("d", levenshtein(col("t"), col("vw")))
        .groupBy(col("doc_id"), col("pos"), col("source"))
        .agg(min(col("d")).as("dmin"))
      noisy.join(dmin, Seq("doc_id", "pos", "source"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_mentions"),
          count(when(col("dmin") === 0, 1)).as("n_exact"),
          count(when(col("dmin") === 1, 1)).as("n_corrected"),
          count(when(col("dmin").isNull || col("dmin") >= 2, 1)).as("n_unmatched"))
    },
    Some("""WITH d0 AS (
              SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
            ), m AS (
              SELECT doc_id, source, CAST(t.i AS BIGINT) AS pos, ws[t.i] AS w
              FROM d0, LATERAL unnest(generate_series(1, len(ws))) AS t(i)
              WHERE ws[t.i] <> ''
            ), hx AS (
              SELECT doc_id, source, pos, w, len(w) AS L,
                md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)) AS h
              FROM m
            ), hh AS (
              SELECT doc_id, source, pos, w, L,
                CAST((strpos('0123456789abcdef', h[1]) - 1) * 4096
                 + (strpos('0123456789abcdef', h[2]) - 1) * 256
                 + (strpos('0123456789abcdef', h[3]) - 1) * 16
                 + (strpos('0123456789abcdef', h[4]) - 1) AS BIGINT) AS hh
              FROM hx
            ), noisy AS (
              SELECT doc_id, source, pos,
                CASE WHEN L >= 4 AND hh % 7 = 0 THEN
                       substr(w, 1, CAST((hh // 7) % L AS INT))
                       || substr(w, CAST((hh // 7) % L AS INT) + 2, L)
                     WHEN L >= 4 AND hh % 11 = 0 THEN
                       substr(w, 1, CAST((hh // 11) % (L - 1) AS INT))
                       || substr(w, CAST((hh // 11) % (L - 1) AS INT) + 2, 1)
                       || substr(w, CAST((hh // 11) % (L - 1) AS INT) + 1, 1)
                       || substr(w, CAST((hh // 11) % (L - 1) AS INT) + 3, L)
                     ELSE w END AS t
              FROM hh
            ), freq AS (
              SELECT w, count(*) AS c FROM m GROUP BY 1
            ), tot AS (
              SELECT CAST(sum(c) AS BIGINT) AS total FROM freq
            ), vocab AS (
              SELECT w AS vw FROM freq, tot WHERE c >= total // 1000
            ), vkeys AS (
              SELECT DISTINCT vw, k.key
              FROM vocab, LATERAL unnest(list_append(
                list_transform(generate_series(1, len(vw)),
                  i -> substr(vw, 1, i - 1) || substr(vw, i + 1)), vw)) AS k(key)
            ), mkeys AS (
              SELECT DISTINCT doc_id, pos, source, t, k.key
              FROM noisy, LATERAL unnest(list_append(
                list_transform(generate_series(1, len(t)),
                  i -> substr(t, 1, i - 1) || substr(t, i + 1)), t)) AS k(key)
            ), cand AS (
              SELECT DISTINCT doc_id, pos, source, t, vw
              FROM mkeys JOIN vkeys USING (key)
            ), dm AS (
              SELECT doc_id, pos, source, min(levenshtein(t, vw)) AS dmin
              FROM cand GROUP BY 1, 2, 3
            )
            SELECT n.source, count(*) AS n_mentions,
              count(CASE WHEN dm.dmin = 0 THEN 1 END) AS n_exact,
              count(CASE WHEN dm.dmin = 1 THEN 1 END) AS n_corrected,
              count(CASE WHEN dm.dmin IS NULL OR dm.dmin >= 2 THEN 1 END) AS n_unmatched
            FROM noisy n LEFT JOIN dm
              ON n.doc_id = dm.doc_id AND n.pos = dm.pos AND n.source = dm.source
            GROUP BY 1""")
  )

  /** X28 ⊕ — bigram-LM plausibility scoring: the KenLM-perplexity-style
    * quality signal (does the text read like the corpus, or is it
    * shuffled/garbled?) that catches what a unigram OOV rate cannot —
    * junk made of KNOWN words in implausible order. The published
    * recipe multiplies probabilities in log space; logs are libm (not
    * bit-stable cross-engine), so the score here is the exact integer
    * mean of smoothed bigram probabilities in micro-units:
    * p6(w1,w2) = c(w1,w2)·1e6 div (c(w1) + V), doc score =
    * (Σ p6) div n_bigrams — monotone in the same direction, and every
    * quantity is a Long (the importance-weights trick applied to
    * sequence modeling).
    *
    * "Junk" is a RELATIVE bottom-tail verdict — 100·score·N < 95·Σscores
    * (a doc under 95% of the corpus mean; the fixture corpus scores in a
    * tight ±15% band, so an absolute or deep-ratio cut would never
    * fire) — relative to the corpus, it flags the low tail at every sf
    * without fixture-tuned constants.
    *
    * Scale shape: training is two gram censuses (map-side partial agg);
    * scoring joins the corpus bigram stream against the bigram-count
    * table on the gram key and the unigram table on w1 — both
    * key-partitioned equi-joins, vocabulary-sized tables, no all-pairs;
    * the verdict join broadcasts one total row. */
  val bigramLm = Q(
    "x28_bigram_lm",
    "Bigram-LM quality proxy: add-V-smoothed integer bigram probabilities, per-doc mean score, per-source census with relative junk verdict.",
    (s, dir) => {
      val t = Tables(s, dir)
      val toks = t.documents
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 2)
      val bigrams = toks.select(col("doc_id"), col("source"),
          posexplode(expr("transform(sequence(1, size(w) - 1), i -> struct(w[i-1] as w1, w[i] as w2))"))
            .as(Seq("p", "bg")))
        .select(col("doc_id"), col("source"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      // The bigram-TYPE census is vocabulary-bounded (not corpus-bounded)
      // — cache it: uni DERIVES from it (sum(c2) per w1 == count of
      // w1-as-first) and so does vocab (distinct word set over types ==
      // over instances), so the corpus-wide tokenize+posexplode runs for
      // the census ONCE plus once for the probe, instead of four times
      // (the round-7 plan re-scanned documents 10x end to end).
      val bi = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2")).cache()
      val uni = bi.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
      val vocab = bi.select(col("w1")).unionAll(bi.select(col("w2").as("w1")))
        .agg(count_distinct(col("w1")).as("v"))
      val scored = bigrams
        .join(bi, Seq("w1", "w2"))
        .join(uni, Seq("w1"))
        .crossJoin(broadcast(vocab))
        .withColumn("p6", expr("(c2 * 1000000L) div (c1 + v)"))
        .groupBy(col("doc_id"), col("source"))
        .agg(expr("sum(p6) div count(1)").as("score"))
        // one row per doc, consumed twice (global total + per-source
        // census vs that total) — cache instead of recomputing the
        // whole probe lineage for each consumer
        .cache()
      val tot = scored.agg(count(lit(1)).as("nd"), sum(col("score")).as("ts"))
      scored.crossJoin(broadcast(tot))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("score")).as("sum_score"),
          count(when(col("score") * 100 * col("nd") < col("ts") * 95, 1)).as("n_junk"))
    },
    Some("""WITH d0 AS (
              SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
              WHERE len(string_split(text, ' ')) >= 2
            ), bg AS (
              SELECT doc_id, source, w[t.i] AS w1, w[t.i + 1] AS w2
              FROM d0, LATERAL unnest(generate_series(1, len(w) - 1)) AS t(i)
            ), uni AS (
              SELECT w1, count(*) AS c1 FROM bg GROUP BY 1
            ), bi AS (
              SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2
            ), vocab AS (
              SELECT count(DISTINCT w) AS v FROM (
                SELECT w1 AS w FROM bg UNION ALL SELECT w2 FROM bg)
            ), scored AS (
              SELECT doc_id, source,
                CAST(CAST(sum((c2 * 1000000) // (c1 + v)) AS BIGINT) // count(*) AS BIGINT) AS score
              FROM bg JOIN bi USING (w1, w2) JOIN uni USING (w1) CROSS JOIN vocab
              GROUP BY 1, 2
            ), tot AS (
              SELECT count(*) AS nd, CAST(sum(score) AS BIGINT) AS ts FROM scored
            )
            SELECT source, count(*) AS n_docs,
              CAST(sum(score) AS BIGINT) AS sum_score,
              count(CASE WHEN score * 100 * nd < ts * 95 THEN 1 END) AS n_junk
            FROM scored CROSS JOIN tot GROUP BY 1""")
  )

  /** X28 extension — Heaps-law vocabulary-growth curve: how fast does
    * the type inventory grow as the corpus grows (the saturation signal
    * that tells a data curator whether MORE of this source still buys
    * new vocabulary, and a tokenizer trainer how vocab size should
    * scale). The corpus is cut into 20 FIXED equal doc-id chunks
    * (broadcast max-id → bounded chunk domain at every sf), each
    * word's first-occurrence chunk is one word-keyed min-aggregate, and
    * the cumulative window runs over ≤20 chunk rows — never corpus
    * rows. Exact integer token/type counts end to end. */
  val vocabGrowth = Q(
    "x28_vocab_growth",
    "Heaps-law curve: 20 fixed corpus chunks, per-chunk tokens + first-occurrence new types, cumulative vocabulary over the bounded chunk domain.",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val mx = t.documents.agg(max(col("doc_id")).as("mx"))
      val toks = t.documents.crossJoin(broadcast(mx))
        .select(expr("cast(doc_id * 20 div (mx + 1) as long)").as("chunk"),
          explode(split(lower(col("text")), " ")).as("w"))
        .filter(length(col("w")) > 0)
      val perChunk = toks.groupBy(col("chunk")).agg(count(lit(1)).as("n_tokens"))
      val firstSeen = toks.groupBy(col("w")).agg(min(col("chunk")).as("chunk"))
        .groupBy(col("chunk")).agg(count(lit(1)).as("new_types"))
      val w = Window.orderBy(col("chunk")).rowsBetween(Window.unboundedPreceding, 0)
      perChunk.join(firstSeen, Seq("chunk"), "left")
        .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
        .withColumn("cum_types", sum(col("new_types")).over(w))
        .select(col("chunk"), col("n_tokens"), col("new_types"), col("cum_types"))
    },
    Some("""WITH mx AS (
              SELECT max(doc_id) AS mxid FROM documents
            ), toks AS (
              SELECT CAST(doc_id * 20 // (mxid + 1) AS BIGINT) AS chunk,
                unnest(string_split(lower(text), ' ')) AS w
              FROM documents, mx
            ), tk AS (
              SELECT chunk, w FROM toks WHERE length(w) > 0
            ), pc AS (
              SELECT chunk, count(*) AS n_tokens FROM tk GROUP BY 1
            ), fs AS (
              SELECT chunk, count(*) AS new_types FROM
                (SELECT w, min(chunk) AS chunk FROM tk GROUP BY w) GROUP BY 1
            )
            SELECT pc.chunk, pc.n_tokens,
              CAST(coalesce(fs.new_types, 0) AS BIGINT) AS new_types,
              CAST(sum(coalesce(fs.new_types, 0)) OVER (ORDER BY pc.chunk
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_types
            FROM pc LEFT JOIN fs ON pc.chunk = fs.chunk""")
  )

  /** X28 extension — URL canonicalization, the web-corpus dedup
    * pre-pass: scheme/host lowercasing, default-port stripping,
    * fragment removal, tracking-parameter (utm_*, ref) removal, and
    * dangling-separator cleanup, then a per-source census proving the
    * collapse (two planted raw variants per doc — one with :443 +
    * mixed-case host + utm junk + fragment — normalize to ONE canonical
    * form). Pure per-row regexp chains: codegen'd, shuffle-free until
    * the final distinct census; the two engines implement the chain
    * independently ($1 vs \1 backreference dialects) and must land on
    * byte-identical canonical URLs to hash-match. At 100 TB this runs
    * in the ingest map stage before any URL-keyed dedup shuffle. */
  val urlNormalize = Q(
    "x28_url_normalize",
    "URL canonicalization: lowercase host, strip :443/fragment/utm params, cleanup; per-source census proves 2 raw variants collapse to 1 canonical.",
    (s, dir) => {
      val t = Tables(s, dir)
      val rawA = t.documents.select(col("source"),
        concat(lit("https://"), col("source"), lit(".Example.COM:443/Docs/"),
          col("doc_id"), lit("?utm_source=feed&id="), col("doc_id"),
          lit("&utm_campaign=x#sec1")).as("url"))
      val rawB = t.documents.select(col("source"),
        concat(lit("https://"), col("source"), lit(".example.com/Docs/"),
          col("doc_id"), lit("?id="), col("doc_id")).as("url"))
      val norm = rawA.unionAll(rawB)
        .withColumn("u1", regexp_replace(col("url"), "#[^#]*$", ""))
        .withColumn("u2", regexp_replace(col("u1"), "(utm_[a-z]+|ref)=[^&]*&?", ""))
        .withColumn("u3", regexp_replace(col("u2"), "[?&]+$", ""))
        .withColumn("u4", regexp_replace(col("u3"), "\\?&", "?"))
        .withColumn("u5", regexp_replace(col("u4"), "^(https://[^/]+):443/", "$1/"))
        .withColumn("norm_url",
          concat(lower(regexp_extract(col("u5"), "^([a-z]+://[^/]+)", 1)),
            regexp_replace(col("u5"), "^[a-z]+://[^/]+", "")))
      norm.groupBy(col("source"))
        .agg(count(lit(1)).as("n_raw"),
          count_distinct(col("url")).as("n_raw_distinct"),
          count_distinct(col("norm_url")).as("n_norm_distinct"),
          min(col("norm_url")).as("sample_norm"))
    },
    Some("""WITH rawu AS (
              SELECT source,
                'https://' || source || '.Example.COM:443/Docs/' || CAST(doc_id AS VARCHAR)
                  || '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
                  || '&utm_campaign=x#sec1' AS url
              FROM documents
              UNION ALL
              SELECT source,
                'https://' || source || '.example.com/Docs/' || CAST(doc_id AS VARCHAR)
                  || '?id=' || CAST(doc_id AS VARCHAR) AS url
              FROM documents
            ), n AS (
              SELECT source, url,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(url, '#[^#]*$', ''),
                        '(utm_[a-z]+|ref)=[^&]*&?', '', 'g'),
                      '[?&]+$', ''),
                    '\?&', '?'),
                  '^(https://[^/]+):443/', '\1/') AS u5
              FROM rawu
            ), c AS (
              SELECT source, url,
                lower(regexp_extract(u5, '^([a-z]+://[^/]+)', 1))
                  || regexp_replace(u5, '^[a-z]+://[^/]+', '') AS norm_url
              FROM n
            )
            SELECT source, count(*) AS n_raw,
              CAST(count(DISTINCT url) AS BIGINT) AS n_raw_distinct,
              CAST(count(DISTINCT norm_url) AS BIGINT) AS n_norm_distinct,
              min(norm_url) AS sample_norm
            FROM c GROUP BY source""")
  )

  /** X28 extension — sparse lexical similarity join: doc-doc cosine
    * over df-weighted term vectors via the POSTING-LIST join (the
    * document-at-a-time sparse analogue of J5's dense vector search —
    * only pairs sharing a term are ever generated, and the df window
    * [2, 8] bounds every posting list, so pair expansion is
    * Σ C(df,2) ≤ |terms|·28, never doc×doc). Weights are small exact
    * integers (least(tf,4) · (24 div df) — inverse-df weighting kept
    * log-free, and the caps size the arithmetic so dot²·10⁴ stays far
    * below Long range: DuckDB RAISES on BIGINT overflow while Spark
    * wraps, so an overflow wouldn't just be wrong, it would diverge)
    * and the similarity is emitted as cos² in basis points
    * (dot²·10⁴ div (‖a‖²·‖b‖²)) — all-integer, no sqrt, no float risk.
    * Top-20 by a total-order TakeOrdered. At 100 TB this IS how lexical
    * near-dup candidates are scored when embeddings are too
    * expensive. */
  val tfidfSim = Q(
    "x28_tfidf_sim",
    "Sparse TF-IDF doc-doc cosine via posting-list join: df-capped 3-gram terms, integer weights, cos^2 basis points, TakeOrdered top-20.",
    (s, dir) => {
      val t = Tables(s, dir)
      // terms are word 3-grams, not unigrams: the fixture vocabulary is
      // ~31 words (every unigram's posting list is corpus-sized and a df
      // cap would empty the query), while 3-grams give thousands of
      // selective terms at every sf — the same reason the syndication
      // graph keys on shared word grams
      // the gram STRING dies at the scan: every census/join downstream
      // keys on its xxhash64 — the sf10 leg showed the string-keyed
      // form going super-linear (15.9x wall on 10x rows) because four
      // exchanges carried ~24-byte grams into 32 fixed partitions and
      // the per-partition string hash-aggs spilled; 8-byte long keys
      // restore the linear curve. Sketch-grade keying, same policy as
      // the SimHash/MinHash family: P(any collision) ~ n^2/2^65 — 2e-11
      // at the sf0.01 oracle scale, 2e-5 at 27M grams (sf10) — and a
      // collision merely merges two posting lists, it cannot diverge
      // the engines at oracle scale.
      // scan widened ON doc_id (ops/ScanLayout): the split + 3-gram
      // xxhash explosion runs on every core, and the tf census groups
      // on (doc_id, w) — satisfied by the doc_id hash layout, so the
      // widen IS the census exchange, not an extra one
      val tf = graft.ops.ScanLayout.widenByKey(t.documents, col("doc_id"))
        .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
        .filter(size(col("ws")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(ws) - 2), i -> " +
            "xxhash64(concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2))))"))
          .as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      // posting-list fold (r12 optimization, the j8 shape): ONE
      // term-keyed collect_list is simultaneously the df census (size
      // gives the [2, 8] window) and the posting list; the per-document
      // weight needs only df = size(list), so it is computed inside the
      // same row, and the d1<d2 pair expansion is row-local over the
      // <=8-element doc_id-sorted list. Replaces df census + join-back
      // + posting self-join (4 exchanges, 2 joins) with one bucket
      // aggregate + two downstream aggregates. Identical weights, pairs
      // and sums. Checkpointed once for its two consumers (norms, dots).
      val posts = tf.groupBy(col("w"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("tf")))).as("ps"))
        .filter(size(col("ps")).between(2, 8))
        .select(expr(
          "transform(ps, p -> struct(p.doc_id AS doc_id, " +
            "least(p.tf, CAST(4 AS BIGINT)) * (CAST(24 AS BIGINT) div size(ps)) AS wt))")
          .as("ps"))
        .localCheckpoint() // self-releasing, unlike a leaked .cache()
      val norms = posts.select(explode(col("ps")).as("p"))
        .groupBy(col("p.doc_id").as("doc_id"))
        .agg(sum(col("p.wt") * col("p.wt")).as("nsq"))
      val dots = posts
        .select(explode(expr(
          "flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2, size(ps)), " +
            "y -> struct(x.doc_id AS d1, y.doc_id AS d2, x.wt * y.wt AS ww))))"))
          .as("pr"))
        .groupBy(col("pr.d1").as("d1"), col("pr.d2").as("d2"))
        .agg(sum(col("pr.ww")).as("dot"))
      dots
        .join(norms.select(col("doc_id").as("d1"), col("nsq").as("n1")), "d1")
        .join(norms.select(col("doc_id").as("d2"), col("nsq").as("n2")), "d2")
        .select(col("d1"), col("d2"),
          expr("dot * dot * 10000 div (n1 * n2)").as("cos2_bp"))
        .orderBy(col("cos2_bp").desc, col("d1"), col("d2"))
        .limit(20)
    },
    Some("""WITH d AS (
              SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
            ), tf AS (
              SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS w,
                count(*) AS tf
              FROM d, unnest(generate_series(1, len(ws) - 2)) AS t(i)
              WHERE len(ws) >= 3 GROUP BY 1, 2
            ), df AS (
              SELECT w, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) BETWEEN 2 AND 8
            ), wt AS (
              SELECT tf.w, doc_id, least(tf, 4) * (24 // df) AS wt
              FROM tf JOIN df ON tf.w = df.w
            ), norms AS (
              SELECT doc_id, CAST(sum(wt * wt) AS BIGINT) AS nsq FROM wt GROUP BY 1
            ), dots AS (
              SELECT a.doc_id AS d1, b.doc_id AS d2,
                CAST(sum(a.wt * b.wt) AS BIGINT) AS dot
              FROM wt a JOIN wt b ON a.w = b.w AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT d1, d2,
              CAST(dot * dot * 10000 // (n1.nsq * n2.nsq) AS BIGINT) AS cos2_bp
            FROM dots
            JOIN norms n1 ON dots.d1 = n1.doc_id
            JOIN norms n2 ON dots.d2 = n2.doc_id
            ORDER BY cos2_bp DESC, d1, d2 LIMIT 20""")
  )

  /** X28 ⊕ — RAKE keyphrase extraction (Rose et al. 2010), the unsupervised
    * keyword miner a corpus-curation team runs to label what a source is
    * actually about: candidate phrases are the maximal stopword-free token
    * runs (split at 'the'/'a' — the corpus' stopword set — and capped at 4
    * tokens), each word is scored degree/frequency (degree = Σ length of
    * the phrases it appears in — co-occurrence-weighted), and a phrase
    * scores the sum of its member words. All arithmetic is exact:
    * word_score is (deg·10⁶) div freq and phrase scores are integer sums
    * of those, so the ranking is partition-order-independent and the
    * DuckDB oracle hash-matches.
    *
    * Scale shape: tokenization is per-row; the run-id assignment is a
    * per-document cumulative window (bounded by document length, never
    * corpus-wide); word stats and phrase stats are two censuses over
    * bounded vocab/phrase domains; the final ranking is a TakeOrdered
    * top-15. */
  val keyphrases = Q(
    "x28_keyphrases",
    "RAKE keyphrases: stopword-split candidate runs (<=4 tokens), word deg/freq scores in exact ppm, phrase score = sum of member word scores; top 15.",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val toks = t.documents
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        .withColumn("is_stop", col("tok").isin("the", "a"))
      val wRun = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val runs = toks
        .withColumn("run", sum(col("is_stop").cast("long")).over(wRun))
        .filter(!col("is_stop"))
      val phrases = runs.groupBy(col("doc_id"), col("run"))
        .agg(sort_array(collect_list(struct(col("pos"), col("tok")))).as("pt"))
        .select(concat_ws(" ", expr("transform(pt, x -> x.tok)")).as("phrase"),
          size(col("pt")).cast("long").as("len"))
        .filter(col("len").between(1, 4))
        .localCheckpoint() // feeds word stats AND phrase census
      val wordStats = phrases
        .select(explode(split(col("phrase"), " ")).as("w"), col("len"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
        .withColumn("wscore", expr("(deg * 1000000L) div freq"))
      val phraseCensus = phrases.groupBy(col("phrase"), col("len"))
        .agg(count(lit(1)).as("n_occ"))
      phraseCensus
        .select(col("phrase"), col("len"), col("n_occ"),
          explode(split(col("phrase"), " ")).as("w"))
        .join(broadcast(wordStats.select(col("w"), col("wscore"))), "w")
        .groupBy(col("phrase"), col("len"), col("n_occ"))
        .agg(sum(col("wscore")).as("score_e6"))
        .orderBy(col("score_e6").desc, col("phrase").asc)
        .limit(15)
    },
    Some("""WITH toks AS (
              SELECT doc_id, t.i - 1 AS pos, w[t.i] AS tok,
                w[t.i] IN ('the', 'a') AS is_stop
              FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) AS d,
                LATERAL unnest(generate_series(1, len(w))) AS t(i)
            ), runs AS (
              SELECT doc_id, pos, tok, is_stop,
                sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
              FROM toks
            ), nonstop AS (
              SELECT doc_id, run, pos, tok FROM runs WHERE NOT is_stop
            ), phrases AS (
              SELECT string_agg(tok, ' ' ORDER BY pos) AS phrase,
                CAST(count(*) AS BIGINT) AS len
              FROM nonstop GROUP BY doc_id, run
              HAVING count(*) BETWEEN 1 AND 4
            ), words AS (
              SELECT w, count(*) AS freq, CAST(sum(len) AS BIGINT) AS deg
              FROM phrases, LATERAL unnest(string_split(phrase, ' ')) AS u(w)
              GROUP BY 1
            ), wscores AS (
              SELECT w, (deg * 1000000) // freq AS wscore FROM words
            ), pc AS (
              SELECT phrase, len, count(*) AS n_occ FROM phrases GROUP BY 1, 2
            )
            SELECT pc.phrase, pc.len, pc.n_occ,
              CAST(sum(ws.wscore) AS BIGINT) AS score_e6
            FROM pc, LATERAL unnest(string_split(pc.phrase, ' ')) AS u(w)
            JOIN wscores ws ON ws.w = u.w
            GROUP BY 1, 2, 3
            ORDER BY score_e6 DESC, phrase ASC LIMIT 15""")
  )

  /** X28 ⊕ — vocabulary concentration per source: Simpson's λ (=the
    * Herfindahl–Hirschman index) over the word distribution, the
    * one-number answer to "is this source actually diverse text or ten
    * templates stamped out a million times?" — a core curation signal
    * next to the repetition and quality gates. Computed scale-safe: each
    * word's share is quantized to per-mille FIRST ((c·1000) div N ≤
    * 1000), so the summed squares are bounded by 10⁶ ppm regardless of
    * corpus size — no N² term ever materializes (Σc(c−1) would overflow
    * a long at ~10¹² tokens). Top-word share in the same units.
    *
    * Scale shape: one (source, word) census (map-side combinable), one
    * per-source rollup bounded by |sources|·|vocab|. Nothing is
    * per-document after the first aggregate. */
  val vocabConcentration = Q(
    "x28_vocab_concentration",
    "Simpson/HHI vocabulary concentration per source: per-mille word shares squared and summed (ppm), top-word share, distinct words, token count.",
    (s, dir) => {
      val t = Tables(s, dir)
      val words = t.documents
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("c"))
      val totals = words.groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"))
      words.join(totals, "source")
        .select(col("source"), col("n_tokens"), col("n_distinct"),
          expr("(c * 1000L) div n_tokens").as("share_pm"))
        .groupBy(col("source"), col("n_tokens"), col("n_distinct"))
        .agg(sum(expr("share_pm * share_pm")).as("hhi_ppm"),
          max(col("share_pm")).as("top_share_pm"))
        .orderBy(col("source"))
    },
    Some("""WITH words AS (
              SELECT source, w, count(*) AS c
              FROM (SELECT source, string_split(text, ' ') AS toks FROM documents) AS d,
                LATERAL unnest(toks) AS u(w)
              GROUP BY 1, 2
            ), totals AS (
              SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
                count(*) AS n_distinct
              FROM words GROUP BY 1
            )
            SELECT w.source, t.n_tokens, t.n_distinct,
              CAST(sum(((w.c * 1000) // t.n_tokens) * ((w.c * 1000) // t.n_tokens)) AS BIGINT) AS hhi_ppm,
              CAST(max((w.c * 1000) // t.n_tokens) AS BIGINT) AS top_share_pm
            FROM words w JOIN totals t USING (source)
            GROUP BY 1, 2, 3 ORDER BY w.source""")
  )

  def all: Seq[Q] =
    Seq(stats, quality, langId, fingerprint, tokenCount, filterChain, repetition, piiScrub,
      bpeMerges, bpeApply, oovRate, spanDedup, fuzzyMatch, bigramLm, vocabGrowth,
      urlNormalize, tfidfSim, keyphrases, vocabConcentration)
}
