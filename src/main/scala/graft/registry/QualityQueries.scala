package graft
package registry

import graft.Query.loader
import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.functions._

/** Registry queries over text signals, language models and the quality
  * gates.
  */
private[graft] object QualityQueries {

  // shared by the fused quality gate and the curation pipeline (which
  // composes it as a CTE): the fused-gate verdict replay — the three gate
  // oracles composed over ONE shared tokenization CTE and joined on
  // doc_id, replaying the fused QualitySignals struct + the three verdicts
  // + their conjunction.
  private val qualityAllSql: String =
      """WITH d AS (
           SELECT doc_id, text,
                  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> length(x) > 0) AS w,
                  string_split(text, chr(10)) AS lines,
                  regexp_split_to_array(text, '\n{2,}') AS paras
           FROM documents),
         gsig AS (
           SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             CAST(CASE WHEN text IS NULL THEN NULL
                       ELSE coalesce(list_sum(list_transform(w, x -> length(x))), 0) END AS BIGINT) AS word_chars,
             CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
             CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]'))) AS BIGINT) AS bullet_lines,
             CAST(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS BIGINT) AS ellipsis_lines,
             CAST((length(text) - length(replace(text, '#', '')))
                  + (length(text) - length(replace(text, '…', '')))
                  + (length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS symbol_count,
             CAST(CASE WHEN text IS NULL THEN NULL ELSE
                    (CASE WHEN list_contains(w, 'the') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'be') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'to') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'of') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'and') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'that') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'have') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'with') THEN 1 ELSE 0 END) END AS BIGINT) AS stop_hits
           FROM d),
         lc AS (
           SELECT doc_id, CAST(coalesce(sum((c - 1) * length(line)), 0) AS BIGINT) AS dup_line_chars
           FROM (SELECT doc_id, line, count(*) AS c
                 FROM (SELECT doc_id, unnest(lines) AS line FROM d) GROUP BY doc_id, line)
           GROUP BY doc_id),
         pc AS (
           SELECT doc_id, CAST(coalesce(sum((c - 1) * length(para)), 0) AS BIGINT) AS dup_para_chars
           FROM (SELECT doc_id, para, count(*) AS c
                 FROM (SELECT doc_id, unnest(paras) AS para FROM d) GROUP BY doc_id, para)
           GROUP BY doc_id),
         g2 AS (
           SELECT doc_id, CAST(max(CASE WHEN c >= 2 THEN c * length(gram) END) AS BIGINT) AS top2_chars
           FROM (SELECT doc_id, gram, count(*) AS c
                 FROM (SELECT doc_id, w[i] || ' ' || w[i+1] AS gram
                       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i FROM d))
                 GROUP BY doc_id, gram)
           GROUP BY doc_id),
         g3 AS (
           SELECT doc_id, CAST(max(CASE WHEN c >= 2 THEN c * length(gram) END) AS BIGINT) AS top3_chars
           FROM (SELECT doc_id, gram, count(*) AS c
                 FROM (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
                       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM d))
                 GROUP BY doc_id, gram)
           GROUP BY doc_id),
         c4lc AS (
           SELECT doc_id,
                  CAST(coalesce(sum(CASE WHEN regexp_matches(line, '[.!?"]\s*$') THEN 1 ELSE 0 END), 0) AS BIGINT) AS terminal_lines,
                  CAST(coalesce(sum(CASE WHEN len(list_filter(regexp_split_to_array(line, '\s+'), x -> length(x) > 0)) < 3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS short_lines,
                  CAST(coalesce(sum(CASE WHEN regexp_matches(line, '\b[jJ][aA][vV][aA][sS][cC][rR][iI][pP][tT]\b') THEN 1 ELSE 0 END), 0) AS BIGINT) AS js_lines
           FROM (SELECT doc_id, unnest(lines) AS line FROM d)
           GROUP BY doc_id),
         sig AS (
           SELECT d.doc_id,
                  CAST(length(d.text) AS BIGINT) AS n_chars_t,
                  CAST(len(d.lines) AS BIGINT) AS n_lines,
                  gsig.n_words, gsig.word_chars, gsig.alpha_words,
                  gsig.bullet_lines, gsig.ellipsis_lines, gsig.symbol_count, gsig.stop_hits,
                  CAST(len(d.lines) - len(list_distinct(d.lines)) AS BIGINT) AS dup_lines,
                  lc.dup_line_chars,
                  CAST(len(d.paras) AS BIGINT) AS n_paras,
                  CAST(len(d.paras) - len(list_distinct(d.paras)) AS BIGINT) AS dup_paras,
                  pc.dup_para_chars,
                  CASE WHEN d.text IS NULL THEN NULL
                       ELSE coalesce(g2.top2_chars, 0) END AS top2_chars,
                  CASE WHEN d.text IS NULL THEN NULL
                       ELSE coalesce(g3.top3_chars, 0) END AS top3_chars,
                  c4lc.terminal_lines, c4lc.short_lines, c4lc.js_lines,
                  CAST(length(d.text) - length(replace(replace(replace(d.text, '.', ''), '!', ''), '?', '')) AS BIGINT) AS sentence_marks,
                  CAST(len(regexp_extract_all(d.text, '[lL][oO][rR][eE][mM] [iI][pP][sS][uU][mM]')) AS BIGINT) AS lorem_hits,
                  CAST(length(d.text) - length(replace(d.text, '{', '')) AS BIGINT) AS brace_hits
           FROM d
           LEFT JOIN gsig ON d.doc_id = gsig.doc_id
           LEFT JOIN lc ON d.doc_id = lc.doc_id
           LEFT JOIN pc ON d.doc_id = pc.doc_id
           LEFT JOIN g2 ON d.doc_id = g2.doc_id
           LEFT JOIN g3 ON d.doc_id = g3.doc_id
           LEFT JOIN c4lc ON d.doc_id = c4lc.doc_id),
         verdicts AS (
           SELECT sig.*,
                  coalesce(n_words BETWEEN 50 AND 100000
                   AND word_chars >= n_words * 3 AND word_chars <= n_words * 10
                   AND symbol_count * 10 <= n_words
                   AND bullet_lines * 10 <= n_lines * 9
                   AND ellipsis_lines * 10 <= n_lines * 3
                   AND alpha_words * 5 >= n_words * 4
                   AND stop_hits >= 2, false) AS pass_gopher,
                  coalesce(dup_lines * 10 <= n_lines * 3
                   AND dup_paras * 10 <= n_paras * 3
                   AND dup_line_chars * 5 <= n_chars_t
                   AND dup_para_chars * 5 <= n_chars_t
                   AND top2_chars * 5 <= n_chars_t
                   AND top3_chars * 50 <= n_chars_t * 9, false) AS pass_repetition,
                  coalesce(lorem_hits = 0 AND brace_hits = 0 AND sentence_marks >= 5, false) AS pass_c4
           FROM sig)
         SELECT *, (pass_gopher AND pass_repetition AND pass_c4) AS pass FROM verdicts"""

  val all: Seq[Query] = Seq(
    // ---- text analysis: token count + quality ratios -----------------------
    Query("q_text_tokens", (s, dir) =>
      loader(s, dir)("documents")
        .select(
          col("doc_id"),
          size(split(trim(col("text")), graft.expr.TextPrimitives.WsPlus)).cast("long").as("n_tokens")
        ),
      """SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
         FROM documents"""),
    Query("q_text_bpe", (s, dir) =>
      loader(s, dir)("documents")
        .select(col("doc_id"), TF.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens")),
      """SELECT doc_id,
                CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')) AS BIGINT) AS n_bpe_tokens
         FROM documents"""),
    Query("q_pii", (s, dir) =>
      loader(s, dir)("documents")
        .select(
          col("doc_id"),
          md5(TF.redactPii(col("text")).cast("binary")).as("redacted_md5"),
          TF.piiCount(col("text")).cast("long").as("n_pii")
        ),
      """WITH r1 AS (
           SELECT doc_id, text AS t0,
                  regexp_replace(text, '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
           FROM documents),
         r2 AS (SELECT *, regexp_replace(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t2 FROM r1),
         r3 AS (SELECT *, regexp_replace(t2, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS t3 FROM r2),
         r4 AS (SELECT *, regexp_replace(t3, '\b\d{13,19}\b', '<CARD>', 'g') AS t4 FROM r3)
         SELECT doc_id, md5(t4) AS redacted_md5,
                CAST(len(regexp_extract_all(t0, '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}'))
                   + len(regexp_extract_all(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b'))
                   + len(regexp_extract_all(t2, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b'))
                   + len(regexp_extract_all(t3, '\b\d{13,19}\b')) AS BIGINT) AS n_pii
         FROM r4"""),
    Query("q_text_repetition", (s, dir) =>
      graft.functions.TermStats
        .repetition(loader(s, dir)("documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("dup_word_milli"), col("top_bigram_milli")),
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
         base AS (SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd
                  FROM t WHERE len(toks) >= 2),
         bg AS (SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(toks) - 1),
                                             i -> toks[i] || ' ' || toks[i + 1])) AS b
                FROM t WHERE len(toks) >= 2),
         bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
         per AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM bc GROUP BY 1)
         SELECT p.doc_id,
                CAST(round(1000.0 * (b.n - b.nd) / b.n) AS BIGINT) AS dup_word_milli,
                CAST(round(1000.0 * p.mx / p.tot) AS BIGINT) AS top_bigram_milli
         FROM per p JOIN base b USING (doc_id)"""),
    Query("q_term_stats", (s, dir) =>
      graft.functions.TermStats
        .topTerms(loader(s, dir)("documents"), "doc_id", "text", 3)
        .select(col("id").as("doc_id"), col("term"), col("tf"), col("df")),
      """WITH toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
         dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         ranked AS (
           SELECT doc_id, term, tf,
                  row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS rn
           FROM tf)
         SELECT r.doc_id, r.term, r.tf, d.df
         FROM ranked r JOIN dfreq d USING (term)
         WHERE r.rn <= 3"""),
    // ---- unigram-LM surprisal quality score (CCNet-style, self-trained) ----
    Query("q_lm_score", (s, dir) =>
      graft.functions.LanguageModel
        .unigramSurprisal(loader(s, dir)("documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("dl"), col("surprisal_micro"), col("mean_milli")),
      """WITH toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
         model AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
         total AS (SELECT CAST(sum(cf) AS BIGINT) AS total FROM model),
         scored AS (
           SELECT t.doc_id, CAST(sum(t.tf) AS BIGINT) AS dl,
                  CAST(sum(CAST(round(
                    1000000.0 * (t.tf * ln(s.total / m.cf))
                  ) AS BIGINT)) AS BIGINT) AS surprisal_micro
           FROM tf t JOIN model m USING (term) CROSS JOIN total s
           GROUP BY 1)
         SELECT doc_id, dl, surprisal_micro,
                CAST(round(surprisal_micro / (1000.0 * dl)) AS BIGINT) AS mean_milli
         FROM scored"""),
    Query("q_text_quality", (s, dir) =>
      loader(s, dir)("documents")
        .filter(length(col("text")) > 0)
        .select(
          col("doc_id"),
          TF.meanWordLenC(col("text")).as("mean_wlen_c"),
          TF.spaceRatioC(col("text")).as("space_ratio_c")
        ),
      """SELECT doc_id,
                CAST(round(100.0 * length(text) / len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS mean_wlen_c,
                CAST(round(1000.0 * (length(text) - length(replace(text, ' ', ''))) / length(text)) AS BIGINT) AS space_ratio_c
         FROM documents WHERE length(text) > 0"""),
    // ---- CCNet-style per-language perplexity strata (Wenzek et al. 2020) ---
    Query("q_lm_buckets", (s, dir) =>
      graft.functions.LanguageModel
        .perplexityBuckets(loader(s, dir)("documents"), "doc_id", "text", "lang")
        .select(col("id").as("doc_id"), col("lang"), col("mean_milli"), col("bucket")),
      // the unigram-surprisal row's model/scoring CTEs + per-language value-tertile
      // thresholds (cumulative over DISTINCT score values, ties share a
      // bucket) — integer comparisons end to end
      """WITH toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
         model AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
         total AS (SELECT CAST(sum(cf) AS BIGINT) AS total FROM model),
         scored AS (
           SELECT t.doc_id, CAST(sum(t.tf) AS BIGINT) AS dl,
                  CAST(sum(CAST(round(
                    1000000.0 * (t.tf * ln(s.total / m.cf))
                  ) AS BIGINT)) AS BIGINT) AS surprisal_micro
           FROM tf t JOIN model m USING (term) CROSS JOIN total s
           GROUP BY 1),
         sc AS (SELECT s.doc_id, d.lang,
                       CAST(round(s.surprisal_micro / (1000.0 * s.dl)) AS BIGINT) AS mean_milli
                FROM scored s JOIN documents d USING (doc_id)),
         counts AS (SELECT lang, mean_milli AS v, CAST(count(*) AS BIGINT) AS c
                    FROM sc GROUP BY 1, 2),
         cum AS (SELECT lang, v, c,
                        sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
                        sum(c) OVER (PARTITION BY lang) AS n
                 FROM counts),
         thr AS (SELECT lang,
                        min(CASE WHEN cum >= (n + 2) // 3 THEN v END) AS t1,
                        min(CASE WHEN cum >= (n * 2 + 2) // 3 THEN v END) AS t2
                 FROM cum GROUP BY 1)
         SELECT sc.doc_id, sc.lang, sc.mean_milli,
                CASE WHEN sc.mean_milli <= thr.t1 THEN 'head'
                     WHEN sc.mean_milli <= thr.t2 THEN 'middle'
                     ELSE 'tail' END AS bucket
         FROM sc JOIN thr USING (lang)"""),
    // ---- interpolated bigram LM surprisal (word-salad catcher) -------------
    Query("q_lm_bigram", (s, dir) =>
      graft.functions.LanguageModel
        .bigramSurprisal(loader(s, dir)("documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"), col("surprisal_micro"), col("mean_milli")),
      // add-one smoothed interpolation replayed with the engine's exact
      // double association: 1e6 * (tf * (0 − ln(0.5·Pb + 0.5·Pu))), rounded
      // per (doc, bigram) BEFORE the integer per-doc sum
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
         big AS (
           SELECT doc_id,
                  unnest(list_transform(generate_series(1, len(t) - 1),
                                        i -> t[i] || ' ' || t[i+1])) AS bg
           FROM toks WHERE len(t) >= 2),
         tfb AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS tf FROM big GROUP BY 1, 2),
         cuv AS (SELECT bg, CAST(sum(tf) AS BIGINT) AS cuv FROM tfb GROUP BY 1),
         cu AS (SELECT split_part(bg, ' ', 1) AS u, CAST(count(*) AS BIGINT) AS cu
                FROM big GROUP BY 1),
         unis AS (SELECT unnest(t) AS term FROM toks),
         cv AS (SELECT term, CAST(count(*) AS BIGINT) AS cv FROM unis GROUP BY 1),
         tot AS (SELECT CAST(sum(cv) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS vocab FROM cv),
         scored AS (
           SELECT f.doc_id,
                  CAST(sum(f.tf) AS BIGINT) AS n_bigrams,
                  CAST(sum(CAST(round(1000000.0 * (f.tf * (0.0 - ln(
                    0.5 * ((c.cuv + 1.0) / (u.cu + tt.vocab))
                      + 0.5 * ((v.cv + 1.0) / (tt.t + tt.vocab))
                  )))) AS BIGINT)) AS BIGINT) AS surprisal_micro
           FROM tfb f
           JOIN cuv c USING (bg)
           JOIN cu u ON u.u = split_part(f.bg, ' ', 1)
           JOIN cv v ON v.term = split_part(f.bg, ' ', 2)
           CROSS JOIN tot tt
           GROUP BY 1)
         SELECT doc_id, n_bigrams, surprisal_micro,
                CAST(round(surprisal_micro / (1000.0 * n_bigrams)) AS BIGINT) AS mean_milli
         FROM scored"""),
    // ---- model-based quality filter: hashed linear classifier inference ----
    // (fastText shape, Joulin et al. 2016; portable md5 twin for the oracle)
    Query("q_classifier", (s, dir) =>
      graft.functions.Classifier
        .scorePortable(loader(s, dir)("documents"), col("doc_id"), col("text")),
      // hashed-linear-classifier inference with the md5-prefix portable
      // bucket (48 bits → % 4096 slots) and the Knuth-mix integer
      // micro-unit pseudo-weights — arithmetic spelled identically to
      // Classifier.weightOf so the sum is bit-exact on both engines
      raw"""WITH t AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                              x -> len(x) > 0) AS toks
           FROM documents),
         uni AS (SELECT doc_id, unnest(toks) AS f FROM t),
         bi AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS f
                FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
                      FROM t WHERE len(toks) >= 2)),
         feats AS (SELECT doc_id, f FROM uni UNION ALL SELECT doc_id, f FROM bi),
         scored AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
                  CAST(sum(
                    ((('0x' || substr(md5(f), 1, 12))::BIGINT % 4096) * 2654435761)
                      % 2000001 - 1000000
                  ) AS BIGINT) AS score_micro
           FROM feats GROUP BY 1)
         SELECT t.doc_id, coalesce(s.n_feats, 0) AS n_feats,
                coalesce(s.score_micro, 0) AS score_micro,
                coalesce(s.score_micro, 0) >= 0 AS keep
         FROM t LEFT JOIN scored s USING (doc_id)"""),
    // ---- quality: the Gopher rule gate (integer-exact signals + verdict) ---
    Query("q_quality_gopher", (s, dir) =>
      graft.functions.QualityRules
        .gopher(loader(s, dir)("documents"), "doc_id", "text"),
      // integer-exact replay of QualityRules.gopher: every ratio threshold is
      // a cross-multiplication, '#'/'…'/'...' counting is literal replace
      // (non-overlapping left-to-right in both engines), and stop_hits sums
      // per-word presence (list_contains) rather than intersect, whose dedup
      // semantics vary by engine
      """WITH d AS (
           SELECT doc_id, text,
                  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> length(x) > 0) AS w,
                  string_split(text, chr(10)) AS lines
           FROM documents),
         sig AS (
           SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             CAST(CASE WHEN text IS NULL THEN NULL
                       ELSE coalesce(list_sum(list_transform(w, x -> length(x))), 0) END AS BIGINT) AS word_chars,
             CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]'))) AS BIGINT) AS bullet_lines,
             CAST(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS BIGINT) AS ellipsis_lines,
             CAST((length(text) - length(replace(text, '#', '')))
                  + (length(text) - length(replace(text, '…', '')))
                  + (length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS symbol_count,
             CAST(CASE WHEN text IS NULL THEN NULL ELSE
                    (CASE WHEN list_contains(w, 'the') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'be') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'to') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'of') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'and') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'that') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'have') THEN 1 ELSE 0 END)
                  + (CASE WHEN list_contains(w, 'with') THEN 1 ELSE 0 END) END AS BIGINT) AS stop_hits
           FROM d)
         SELECT doc_id, n_words, word_chars, alpha_words, n_lines, bullet_lines, ellipsis_lines,
                symbol_count, stop_hits,
                coalesce(n_words BETWEEN 50 AND 100000
                 AND word_chars >= n_words * 3 AND word_chars <= n_words * 10
                 AND symbol_count * 10 <= n_words
                 AND bullet_lines * 10 <= n_lines * 9
                 AND ellipsis_lines * 10 <= n_lines * 3
                 AND alpha_words * 5 >= n_words * 4
                 AND stop_hits >= 2, false) AS pass
         FROM sig"""),
    Query("q_quality_repetition", (s, dir) =>
      graft.functions.QualityRules
        .repetition(loader(s, dir)("documents"), "doc_id", "text"),
      // integer-exact replay of QualityRules.repetition: the Spark side's
      // map-side run-length passes reduce to per-group counts here —
      // dup chars = Σ (count−1)·len over repeated values, top-n-gram chars =
      // max(count·len) over REPEATED grams only (a numeric max, no tie-break)
      """WITH d AS (
           SELECT doc_id, text,
                  string_split(text, chr(10)) AS lines,
                  regexp_split_to_array(text, '\n{2,}') AS paras,
                  list_filter(regexp_split_to_array(trim(text), '\s+'), x -> length(x) > 0) AS w
           FROM documents),
         lc AS (
           SELECT doc_id, CAST(coalesce(sum((c - 1) * length(line)), 0) AS BIGINT) AS dup_line_chars
           FROM (SELECT doc_id, line, count(*) AS c
                 FROM (SELECT doc_id, unnest(lines) AS line FROM d) GROUP BY doc_id, line)
           GROUP BY doc_id),
         pc AS (
           SELECT doc_id, CAST(coalesce(sum((c - 1) * length(para)), 0) AS BIGINT) AS dup_para_chars
           FROM (SELECT doc_id, para, count(*) AS c
                 FROM (SELECT doc_id, unnest(paras) AS para FROM d) GROUP BY doc_id, para)
           GROUP BY doc_id),
         g2 AS (
           SELECT doc_id, CAST(max(CASE WHEN c >= 2 THEN c * length(gram) END) AS BIGINT) AS top2_chars
           FROM (SELECT doc_id, gram, count(*) AS c
                 FROM (SELECT doc_id, w[i] || ' ' || w[i+1] AS gram
                       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i FROM d))
                 GROUP BY doc_id, gram)
           GROUP BY doc_id),
         g3 AS (
           SELECT doc_id, CAST(max(CASE WHEN c >= 2 THEN c * length(gram) END) AS BIGINT) AS top3_chars
           FROM (SELECT doc_id, gram, count(*) AS c
                 FROM (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
                       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM d))
                 GROUP BY doc_id, gram)
           GROUP BY doc_id),
         sig AS (
           SELECT d.doc_id,
                  CAST(length(d.text) AS BIGINT) AS n_chars_t,
                  CAST(len(d.lines) AS BIGINT) AS n_lines,
                  CAST(len(d.lines) - len(list_distinct(d.lines)) AS BIGINT) AS dup_lines,
                  lc.dup_line_chars,
                  CAST(len(d.paras) AS BIGINT) AS n_paras,
                  CAST(len(d.paras) - len(list_distinct(d.paras)) AS BIGINT) AS dup_paras,
                  pc.dup_para_chars,
                  CASE WHEN d.text IS NULL THEN NULL
                       ELSE coalesce(g2.top2_chars, 0) END AS top2_chars,
                  CASE WHEN d.text IS NULL THEN NULL
                       ELSE coalesce(g3.top3_chars, 0) END AS top3_chars
           FROM d
           LEFT JOIN lc ON d.doc_id = lc.doc_id
           LEFT JOIN pc ON d.doc_id = pc.doc_id
           LEFT JOIN g2 ON d.doc_id = g2.doc_id
           LEFT JOIN g3 ON d.doc_id = g3.doc_id)
         SELECT doc_id, n_chars_t, n_lines, dup_lines, dup_line_chars,
                n_paras, dup_paras, dup_para_chars, top2_chars, top3_chars,
                coalesce(dup_lines * 10 <= n_lines * 3
                 AND dup_paras * 10 <= n_paras * 3
                 AND dup_line_chars * 5 <= n_chars_t
                 AND dup_para_chars * 5 <= n_chars_t
                 AND top2_chars * 5 <= n_chars_t
                 AND top3_chars * 50 <= n_chars_t * 9, false) AS pass
         FROM sig"""),
    Query("q_quality_c4", (s, dir) =>
      graft.functions.QualityRules
        .c4(loader(s, dir)("documents"), "doc_id", "text"),
      // integer-exact replay of QualityRules.c4: per-line counts via
      // unnest + RE2 regex (the patterns are RE2-compatible by design),
      // char counts via replace-and-diff, lorem-ipsum occurrences via
      // non-overlapping case-insensitive extract
      """WITH d AS (
           SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM documents),
         lc AS (
           SELECT doc_id,
                  CAST(coalesce(sum(CASE WHEN regexp_matches(line, '[.!?"]\s*$') THEN 1 ELSE 0 END), 0) AS BIGINT) AS terminal_lines,
                  CAST(coalesce(sum(CASE WHEN len(list_filter(regexp_split_to_array(line, '\s+'), x -> length(x) > 0)) < 3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS short_lines,
                  CAST(coalesce(sum(CASE WHEN regexp_matches(line, '\b[jJ][aA][vV][aA][sS][cC][rR][iI][pP][tT]\b') THEN 1 ELSE 0 END), 0) AS BIGINT) AS js_lines
           FROM (SELECT doc_id, unnest(lines) AS line FROM d)
           GROUP BY doc_id),
         sig AS (
           SELECT d.doc_id,
                  CAST(len(d.lines) AS BIGINT) AS n_lines,
                  lc.terminal_lines, lc.short_lines, lc.js_lines,
                  CAST(length(d.text) - length(replace(replace(replace(d.text, '.', ''), '!', ''), '?', '')) AS BIGINT) AS sentence_marks,
                  CAST(len(regexp_extract_all(d.text, '[lL][oO][rR][eE][mM] [iI][pP][sS][uU][mM]')) AS BIGINT) AS lorem_hits,
                  CAST(length(d.text) - length(replace(d.text, '{', '')) AS BIGINT) AS brace_hits
           FROM d LEFT JOIN lc ON d.doc_id = lc.doc_id)
         SELECT doc_id, n_lines, terminal_lines, short_lines, js_lines,
                sentence_marks, lorem_hits, brace_hits,
                coalesce(lorem_hits = 0 AND brace_hits = 0 AND sentence_marks >= 5, false) AS pass
         FROM sig"""),
    // all three gates fused into ONE corpus scan + one tokenization
    // (graft.expr.QualitySignals); a curation pipeline's single-pass filter
    Query("q_quality_all", (s, dir) =>
      graft.functions.QualityRules
        .all(loader(s, dir)("documents"), "doc_id", "text"),
      qualityAllSql),
    // ---- text analysis: language-ID + fingerprint --------------------------
    Query("q_text_langid", (s, dir) =>
      loader(s, dir)("documents")
        .select(col("doc_id"), TF.langId(col("text")).as("lang_pred")),
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
         s AS (SELECT doc_id,
                 len(list_intersect(toks, ['the','a','and','of','to','in','is','it','you','that'])) AS s_en,
                 len(list_intersect(toks, ['der','die','das','und','ist','nicht','mit','ein','ich','zu'])) AS s_de,
                 len(list_intersect(toks, ['le','la','les','et','un','une','est','je','de','pas'])) AS s_fr,
                 len(list_intersect(toks, ['el','los','y','esta','una','es','que','no','por','como'])) AS s_es
               FROM t)
         SELECT doc_id,
           CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
                WHEN s_de >= s_en AND s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
                WHEN s_fr >= s_en AND s_fr >= s_de AND s_fr >= s_es AND s_fr > 0 THEN 'fr'
                WHEN s_es >= s_en AND s_es >= s_de AND s_es >= s_fr AND s_es > 0 THEN 'es'
                ELSE 'und' END AS lang_pred
         FROM s"""),
    Query("q_fingerprint", (s, dir) =>
      loader(s, dir)("documents")
        .select(col("doc_id"), TF.fingerprint(col("text")).as("fpr")),
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
         sh AS (SELECT doc_id,
                  list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
                                               i -> array_to_string(toks[i:i+2], ' '))) AS shingles
                FROM t)
         SELECT doc_id,
                md5(array_to_string(list_sort(list_transform(shingles, x -> md5(x)))[1:8], '')) AS fpr
         FROM sh"""),
    // ---- end-to-end curation pipeline: fused quality gate → exact dedup →
    // hash sample → per-lang budget report, all composed from the graded
    // operators in ONE plan (what a real curation run executes). The gate
    // keeps repetition-clean docs (the English-stopword/sentence gates are
    // vacuous-false on this synthetic corpus; repetition is the signal that
    // actually discriminates here, and the full struct still computes) ------
    Query("q_curation_pipeline", (s, dir) => {
      import graft.functions.{QualityRules, Sampling}
      val docs = loader(s, dir)("documents")
      // the quality gate CARRIES text through its signal projection
      // (keep = text), so the dedup hash fuses into the same corpus pass —
      // the previous shape re-joined `docs` by id to recover text, a second
      // full scan+shuffle of the corpus (guide §6; doc_id is the table's
      // primary key, so filter-on-flag ≡ the old join-on-passed-ids row set
      // and keep_id/sample/report are byte-identical — oracle-checked)
      val kept = QualityRules
        .all(docs, "doc_id", "text", keep = Seq("text"))
        .filter(col("pass_repetition"))
        .select(col("doc_id"), col("text"))
      val keepers = graft.dedup.Dedup.exact(kept, "doc_id", "text").select(col("keep_id"))
      val sampled = Sampling
        .hashSample(keepers, col("keep_id"), 0.5)
        .withColumnRenamed("keep_id", "doc_id")
      docs
        .join(sampled, "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    },
      s"""WITH qa AS ($qualityAllSql),
         kept AS (SELECT d.doc_id, d.text FROM documents d
                  JOIN qa ON qa.doc_id = d.doc_id WHERE qa.pass_repetition),
         keepers AS (SELECT min(doc_id) AS keep_id FROM kept GROUP BY md5(text)),
         sampled AS (SELECT keep_id FROM keepers
                     WHERE md5(CAST(keep_id AS VARCHAR)) < '8000')
         SELECT d.lang, count(*) AS n_docs, CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
         FROM sampled s JOIN documents d ON d.doc_id = s.keep_id
         GROUP BY d.lang"""),
    // ---- distinct-n diversity per source -----------------------------------
    Query("q_ngram_diversity", (s, dir) =>
      graft.functions.CorpusStats.ngramDiversity(
        loader(s, dir)("documents"), "source", "text", n = 3
      ),
      raw"""WITH t AS (SELECT source, regexp_split_to_array(trim(text), '\s+') AS toks
                       FROM documents),
         g AS (SELECT source,
                      unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
                                            i -> array_to_string(toks[i:i+2], ' '))) AS g
               FROM t)
         SELECT source, count(*) AS total_ngrams,
                CAST(count(DISTINCT g) AS BIGINT) AS distinct_ngrams,
                CAST(round(1000.0 * count(DISTINCT g) / count(*)) AS BIGINT) AS distinct_milli
         FROM g GROUP BY source"""),
    // ---- Zipf frequency-of-frequencies spectrum ----------------------------
    Query("q_freq_spectrum", (s, dir) =>
      graft.functions.CorpusStats.frequencySpectrum(loader(s, dir)("documents"), "text"),
      raw"""WITH w AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
                       FROM documents),
         c AS (SELECT w, count(*) AS f FROM w WHERE len(w) > 0 GROUP BY w)
         SELECT f, CAST(count(*) AS BIGINT) AS n_words FROM c GROUP BY f"""),
    // ---- BPE tokenizer: train (one corpus scan + driver merge loop over the
    // word-TYPE table) then encode (codegen'd map-side expression). Oracled:
    // the DuckDB replay re-runs the ENTIRE training loop as a recursive CTE
    // (one iteration per merge: argmax pair by (count DESC, pair ASC) over
    // the evolving word-type symbol table, applied via a boundary-safe
    // list_reduce fold) and derives per-word token counts from the final
    // symbol table — valid because greedy lowest-rank-first encoding of a
    // corpus word equals rank-order merge application to its type entry
    // (a pair (x, a+b) is always learned after (a, b), so no lower-rank
    // pair can appear mid-encode). BpeSpec keeps the differential tests. ----
    Query("q_bpe_tokens", (s, dir) => {
      import graft.functions.Bpe
      val docs = loader(s, dir)("documents")
      val merges = Bpe.train(docs, "text", Bpe.Config(numMerges = 200))
      docs.select(col("doc_id"), Bpe.tokenCount(col("text"), merges).as("n_tokens"))
    },
      // full BPE training replay (Sennrich et al. 2016, the word-type
      // formulation Bpe.train implements): word-type counts capped at
      // maxTypes=100000 by (count DESC, word ASC); each recursive step picks
      // the most frequent adjacent symbol pair (ties to the smallest pair,
      // minPairCount 2) and merges it left-to-right in every type via a
      // fold over the chr(31)-joined symbol string (symbols never contain
      // chr(31); the last symbol carries the </w> marker). numMerges=200
      // caps the recursion; it stops early when no pair qualifies. Token
      // count per doc = sum over its words of the type's final symbol count.
      """WITH RECURSIVE
         wt AS (
           SELECT w, CAST(count(*) AS BIGINT) AS cnt
           FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents)
           WHERE len(w) > 0
           GROUP BY w
           ORDER BY cnt DESC, w ASC
           LIMIT 100000),
         init AS (
           SELECT 0 AS iter,
                  list(struct_pack(word := w, cnt := cnt,
                       s := array_to_string(regexp_extract_all(w, '.'), chr(31)) || '</w>')) AS lst
           FROM wt),
         state AS (
           SELECT iter, lst FROM init
           UNION ALL
           SELECT st.iter + 1,
                  list_transform(st.lst, t -> struct_pack(word := t.word, cnt := t.cnt,
                    s := list_reduce(string_split(t.s, chr(31)),
                           (acc, x) -> CASE WHEN (acc = bp.a OR ends_with(acc, chr(31) || bp.a)) AND x = bp.b
                                       THEN acc || bp.b
                                       ELSE acc || chr(31) || x END)))
           FROM state st
           JOIN LATERAL (
             SELECT pr.a, pr.b FROM (
               SELECT syms[i] AS a, syms[i + 1] AS b, sum(t.cnt) AS c
               FROM (SELECT unnest(st.lst) AS t),
                    LATERAL (SELECT string_split(t.s, chr(31)) AS syms) ss,
                    LATERAL (SELECT unnest(generate_series(1, len(ss.syms) - 1)) AS i) g
               GROUP BY 1, 2
               HAVING sum(t.cnt) >= 2
               ORDER BY c DESC, a ASC, b ASC
               LIMIT 1) pr
           ) bp ON true
           WHERE st.iter < 200),
         final AS (SELECT lst FROM state ORDER BY iter DESC LIMIT 1),
         toklen AS (
           SELECT t.word, CAST(len(string_split(t.s, chr(31))) AS BIGINT) AS ntok
           FROM (SELECT unnest(lst) AS t FROM final)),
         docwords AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents),
         counts AS (
           SELECT d.doc_id, sum(tl.ntok) AS n
           FROM docwords d JOIN toklen tl ON d.w = tl.word
           GROUP BY d.doc_id)
         SELECT doc.doc_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_tokens
         FROM documents doc LEFT JOIN counts c ON doc.doc_id = c.doc_id""")
  )
}
