package graft
package catalog

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.Dedup

/** Text analysis (`q_text_*`): statistics, fingerprints, language id, BPE,
  * n-gram perplexity, chunking and packing, ranking, classification and PII.
  */
private[graft] object TextQueries {
  import Fixtures.{docs, embs}

  /** Shared CTE block replicating bm25Rank's exact-integer pipeline up to
    * the top-25 candidate list `cand` (k1=1.2/b=0.75 milli constants) —
    * used by the q_text_bm25 oracle and as the candidate stage of the
    * q_text_rerank oracle.
    */
  private val bm25CandCtes: String =
    """base AS (SELECT doc_id AS doc,
      |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
      |  FROM documents),
      |dlen AS (SELECT doc, CAST(len(tk) AS BIGINT) AS dl FROM base),
      |tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS n FROM dlen),
      |tf AS (SELECT doc, term, CAST(COUNT(*) AS BIGINT) AS tf FROM
      |    (SELECT doc, unnest(tk) AS term FROM base)
      |  WHERE term IN ('join', 'vector', 'spark', 'filter') GROUP BY 1, 2),
      |dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |bsc AS (SELECT tf.doc,
      |    CAST(ROUND(log2(CAST(2*n - 2*df + 1 AS DOUBLE) / CAST(2*df + 1 AS DOUBLE) + 1)
      |      * 1000000) AS BIGINT) AS idf_u,
      |    tf.tf, dlen.dl, t, n
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN tot JOIN dlen ON dlen.doc = tf.doc),
      |ts AS (SELECT doc,
      |    (CAST(idf_u AS HUGEINT) * tf * 2200 * 1000 * t) //
      |    (CAST(tf AS HUGEINT) * 1000000 * t + CAST(300000 AS HUGEINT) * t
      |       + CAST(900000 AS HUGEINT) * dl * n) AS term_score
      |  FROM bsc),
      |cand AS (SELECT doc, CAST(SUM(term_score) AS BIGINT) AS score,
      |    CAST(COUNT(*) AS BIGINT) AS n_terms
      |  FROM ts GROUP BY doc ORDER BY score DESC, doc ASC LIMIT 25)""".stripMargin

  val queries: Seq[(String, CatalogQuery)] = Seq(
    "q_text_stats" -> CatalogQuery((s, d) =>
      TextAnalysis.qualityFeatures(docs(s, d), "text")
        .select("doc_id", "n_chars", "n_tokens", "mean_token_len",
          "punct_ratio", "digit_ratio", "upper_ratio", "stopword_ratio"),
      """SELECT doc_id,
        |  CAST(length(text) AS INTEGER) AS n_chars,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) END AS INTEGER) AS n_tokens,
        |  CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) END) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |            / CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) END AS DOUBLE) END AS mean_token_len,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS punct_ratio,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS digit_ratio,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS upper_ratio,
        |  CASE WHEN length(trim(text)) = 0 THEN 0.0
        |       ELSE CAST(len(list_filter(
        |              string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |              x -> list_contains(['the','and','of','to','in','is','that','it','for','with'], x))) AS DOUBLE)
        |            / CAST(len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS DOUBLE) END AS stopword_ratio
        |FROM documents""".stripMargin),

    "q_text_fingerprint" -> CatalogQuery((s, d) =>
      docs(s, d).select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fingerprint")),
      """SELECT doc_id, sha256(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin),

    "q_text_langid" -> CatalogQuery((s, d) =>
      docs(s, d).select(
        col("doc_id"),
        col("lang"),
        TextAnalysis.langId(col("text")).as("predicted_lang")),
      // replicates TextAnalysis.langId: hits = #distinct marker words present;
      // winner = max hits, ties to the lexicographically LAST language; 'und'
      // when no marker hits at all
      """WITH toks AS (SELECT doc_id,
        |    unnest(list_distinct(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))) AS tok
        |  FROM documents),
        |m(lang, tok) AS (VALUES
        |  ('de','der'),('de','die'),('de','das'),('de','und'),('de','ist'),
        |  ('de','nicht'),('de','ein'),('de','mit'),('de','für'),('de','auf'),
        |  ('en','the'),('en','and'),('en','of'),('en','to'),('en','in'),
        |  ('en','is'),('en','that'),('en','it'),('en','for'),('en','with'),
        |  ('es','el'),('es','la'),('es','los'),('es','y'),('es','es'),
        |  ('es','no'),('es','una'),('es','por'),('es','con'),('es','para'),
        |  ('fr','le'),('fr','la'),('fr','les'),('fr','et'),('fr','est'),
        |  ('fr','pas'),('fr','une'),('fr','pour'),('fr','dans'),('fr','que')),
        |hits AS (SELECT t.doc_id, m.lang, COUNT(DISTINCT t.tok) AS h
        |         FROM toks t JOIN m ON t.tok = m.tok GROUP BY 1, 2),
        |alllang AS (SELECT d.doc_id, l.lang, COALESCE(h.h, 0) AS h
        |  FROM documents d CROSS JOIN (SELECT DISTINCT lang FROM m) l
        |  LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.lang = l.lang),
        |best AS (SELECT doc_id, lang, h,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h DESC, lang DESC) AS rn
        |  FROM alllang)
        |SELECT d.doc_id, d.lang,
        |  CASE WHEN b.h > 0 THEN b.lang ELSE 'und' END AS predicted_lang
        |FROM documents d JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1""".stripMargin),

    "q_text_bpe" -> CatalogQuery((s, d) =>
      docs(s, d).select(
        col("doc_id"),
        TextAnalysis.approxBpeTokenCount(col("text")).as("n_bpe_tokens")),
      // replicates TextAnalysis.approxBpeTokenCount: per word,
      // max(1, ceil(len/4)) sub-word tokens, summed; 0 for blank text
      """SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE list_sum(list_transform(
        |              string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '),
        |              w -> greatest(1, CAST(ceil(length(w) / 4.0) AS INTEGER))))
        |       END AS INTEGER) AS n_bpe_tokens
        |FROM documents""".stripMargin),

    // Gopher-style repetition signals; duplicate lines are injected on a
    // third of the corpus so the line-dup path is actually exercised (the
    // synthetic docs are single-line)
    "q_text_repetition" -> CatalogQuery((s, d) =>
      TextAnalysis.repetitionStats(
        docs(s, d).select(
          col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit("\nrepeat line\nrepeat line")))
            .otherwise(col("text")).as("text")),
        "text")
        .select("doc_id", "n_lines", "dup_line_ratio",
          "dup_2gram_ratio", "dup_3gram_ratio"),
      // replicates TextAnalysis.repetitionStats over the line-dup-augmented
      // corpus: non-blank trimmed lines; word n-gram repeat fractions as
      // (total − distinct)/total — integer subtraction over one IEEE
      // division, bit-identical across engines
      """WITH a AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |         THEN text || chr(10) || 'repeat line' || chr(10) || 'repeat line'
        |         ELSE text END AS text
        |  FROM documents),
        |b AS (SELECT doc_id,
        |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
        |                l -> l <> '') AS lines,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')
        |         END AS words
        |  FROM a)
        |SELECT doc_id,
        |  CAST(len(lines) AS INTEGER) AS n_lines,
        |  CASE WHEN len(lines) = 0 THEN 0.0
        |       ELSE CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
        |            / CAST(len(lines) AS DOUBLE) END AS dup_line_ratio,
        |  CASE WHEN len(words) - 1 <= 0 THEN 0.0
        |       ELSE CAST((len(words) - 1) - len(list_distinct(list_transform(
        |              range(1, len(words)), i -> words[i] || ' ' || words[i+1]))) AS DOUBLE)
        |            / CAST(len(words) - 1 AS DOUBLE) END AS dup_2gram_ratio,
        |  CASE WHEN len(words) - 2 <= 0 THEN 0.0
        |       ELSE CAST((len(words) - 2) - len(list_distinct(list_transform(
        |              range(1, len(words) - 1),
        |              i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS DOUBLE)
        |            / CAST(len(words) - 2 AS DOUBLE) END AS dup_3gram_ratio
        |FROM b""".stripMargin),

    // corpus-level duplicated 5-token spans (distributed exact-substring
    // dedup signal); a duplicated passage is injected on a tenth of the
    // corpus so cross-document spans actually occur beyond natural repeats
    "q_text_dupspans" -> CatalogQuery((s, d) =>
      TextAnalysis.duplicatedWindowStats(
        docs(s, d).select(
          col("doc_id"),
          when(col("doc_id") % 10 === 0,
            concat(col("text"),
              lit(" this exact passage was pasted into many documents verbatim")))
            .otherwise(col("text")).as("text")),
        "doc_id", "text", w = 5)
        .withColumnRenamed("doc", "doc_id"),
      // replicates duplicatedWindowStats over the passage-augmented corpus:
      // 5-token rolling windows (order-sensitive, duplicates kept), global
      // occurrence counts, per-doc duplicated-window stats; docs under 5
      // tokens emit no windows and no row in either engine
      """WITH a AS (SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0
        |         THEN text || ' this exact passage was pasted into many documents verbatim'
        |         ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS w
        |  FROM a),
        |wins AS (SELECT doc_id, unnest(list_transform(range(len(w) - 4),
        |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5])) AS win
        |  FROM t),
        |c AS (SELECT win, CAST(COUNT(*) AS BIGINT) AS n FROM wins GROUP BY win)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_windows,
        |  CAST(SUM(CASE WHEN c.n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_windows,
        |  CAST(SUM(CASE WHEN c.n >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_fraction
        |FROM wins JOIN c USING (win)
        |GROUP BY doc_id""".stripMargin),

    // corpus-relative unigram surprisal (CCNet-style LM quality proxy)
    "q_text_unigram_ppl" -> CatalogQuery((s, d) =>
      TextAnalysis.unigramLogProbScore(docs(s, d), "doc_id", "text")
        .withColumnRenamed("doc", "doc_id"),
      // replicates unigramLogProbScore: per-token surprisal log2(T/C) rounded
      // to integer micro-bits (pure function of the (C, T) longs), summed
      // exactly, one division back per doc — summation-order-independent
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS tok
        |  FROM documents),
        |freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY tok),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM freq),
        |costed AS (SELECT tok,
        |    CAST(round(log2(CAST(t AS DOUBLE) / c) * 1000000) AS BIGINT) AS cost
        |  FROM freq, tot)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(cost) AS DOUBLE) / COUNT(*) / 1000000.0 AS bits_per_token
        |FROM toks JOIN costed USING (tok)
        |GROUP BY doc_id""".stripMargin),

    // conditional (bigram) surprisal: word-transition predictability —
    // junk with a typical unigram mix still scores high here
    "q_text_bigram_ppl" -> CatalogQuery((s, d) =>
      TextAnalysis.bigramLogProbScore(docs(s, d), "doc_id", "text")
        .withColumnRenamed("doc", "doc_id"),
      // replicates bigramLogProbScore: ctx(w1) = Σ_w c(w1 w), micro-bit
      // rounded costs, docs with < 2 tokens coalesce to (0, 0.0)
      """WITH w AS (SELECT doc_id,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |  FROM documents),
        |bgs AS (SELECT doc_id,
        |    unnest(list_transform(range(len(words) - 1),
        |      i -> words[i+1] || ' ' || words[i+2])) AS bg
        |  FROM w),
        |freq AS (SELECT bg, string_split(bg, ' ')[1] AS w1,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM bgs GROUP BY bg),
        |ctx AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS ctxc FROM freq GROUP BY w1),
        |costed AS (SELECT bg,
        |    CAST(round(log2(CAST(ctxc AS DOUBLE) / c) * 1000000) AS BIGINT) AS cost
        |  FROM freq JOIN ctx USING (w1)),
        |sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(cost) AS BIGINT) AS s
        |  FROM bgs JOIN costed USING (bg) GROUP BY doc_id)
        |SELECT d.doc_id, CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  COALESCE(CAST(sc.s AS DOUBLE) / sc.n_bigrams / 1000000.0, 0.0) AS bits_per_bigram
        |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin),

    // context-window chunking: 40-token chunks, 8-token overlap
    "q_text_chunks" -> CatalogQuery((s, d) =>
      TextAnalysis.chunkDocuments(docs(s, d), "doc_id", "text",
        chunkTokens = 40, overlapTokens = 8),
      // replicates TextAnalysis.chunkDocuments: starts 1, 1+32, … (stride =
      // 40 − 8); list_slice end is inclusive so end = start + 39
      """WITH toks AS (SELECT doc_id AS doc,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS tk
        |  FROM documents WHERE length(trim(text)) > 0),
        |starts AS (SELECT doc, tk, unnest(generate_series(1, len(tk), 32)) AS s
        |  FROM toks)
        |SELECT doc, CAST((s - 1) // 32 AS BIGINT) AS chunk_no,
        |  array_to_string(list_slice(tk, s, s + 39), ' ') AS chunk_text,
        |  CAST(len(list_slice(tk, s, s + 39)) AS INTEGER) AS n_chunk_tokens
        |FROM starts""".stripMargin),

    // sequence packing of the 40-token chunks into 100-token bins
    // (next-fit in chunk order — the training-batch prep step)
    "q_text_pack" -> CatalogQuery((s, d) =>
      TextAnalysis.packChunks(
        TextAnalysis.chunkDocuments(docs(s, d), "doc_id", "text",
            chunkTokens = 40, overlapTokens = 8)
          .select("doc", "chunk_no", "n_chunk_tokens"),
        "doc", "chunk_no", "n_chunk_tokens", maxTokens = 100)
        .select("doc", "chunk_no", "bin"),
      // replays the next-fit packing fold as a recursive CTE over the same
      // chunk derivation (chunk_no is consecutive per doc, so the recursion
      // steps ordinal+1 carrying (bin, filled) — integer-exact on both sides)
      """WITH RECURSIVE toks AS (SELECT doc_id AS doc,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS tk
        |  FROM documents WHERE length(trim(text)) > 0),
        |starts AS (SELECT doc, tk, unnest(generate_series(1, len(tk), 32)) AS s
        |  FROM toks),
        |ch AS (SELECT doc, CAST((s - 1) // 32 AS BIGINT) AS chunk_no,
        |    CAST(len(list_slice(tk, s, s + 39)) AS BIGINT) AS n
        |  FROM starts),
        |rec AS (
        |  SELECT doc, chunk_no, n, 0 AS bin, n AS filled FROM ch WHERE chunk_no = 0
        |  UNION ALL
        |  SELECT c.doc, c.chunk_no, c.n,
        |    CASE WHEN r.filled + c.n > 100 THEN r.bin + 1 ELSE r.bin END AS bin,
        |    CASE WHEN r.filled + c.n > 100 THEN c.n ELSE r.filled + c.n END AS filled
        |  FROM ch c JOIN rec r ON c.doc = r.doc AND c.chunk_no = r.chunk_no + 1)
        |SELECT doc, chunk_no, CAST(bin AS INTEGER) AS bin FROM rec""".stripMargin),

    // per-doc salient terms (integer-exact tf-idf skeleton)
    "q_text_topterms" -> CatalogQuery((s, d) =>
      TextAnalysis.topTerms(docs(s, d), "doc_id", "text", k = 5),
      // replicates TextAnalysis.topTerms: tf per (doc, term), df per term
      // over distinct (doc, term), rank (tf DESC, df ASC, term ASC), top 5
      """WITH toks AS (SELECT doc_id AS doc,
        |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks WHERE term != '' GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |r AS (SELECT tf.doc, tf.term, tf.tf, dfreq.df,
        |    ROW_NUMBER() OVER (PARTITION BY tf.doc
        |      ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS rn
        |  FROM tf JOIN dfreq USING (term))
        |SELECT doc, term, tf, df FROM r WHERE rn <= 5""".stripMargin),

    // corpus-level vocabulary head (global top-k terms, term tie-break)
    "q_text_vocab" -> CatalogQuery((s, d) =>
      TextAnalysis.vocabulary(docs(s, d), "text", k = 50),
      // global vocabulary head: deterministic under the (tf DESC, term) order
      """WITH toks AS (SELECT
        |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
        |  FROM documents)
        |SELECT term, CAST(count(*) AS BIGINT) AS tf
        |FROM toks WHERE term != ''
        |GROUP BY term ORDER BY tf DESC, term ASC LIMIT 50""".stripMargin),

    // corpus-relative OOV-bigram quality score (CCNet-style LM filter,
    // integer-exact): fraction of char bigrams outside the corpus top-200
    "q_text_oov" -> CatalogQuery((s, d) =>
      TextAnalysis.oovBigramScore(docs(s, d), "doc_id", "text", vocabK = 200),
      // replicates oovBigramScore: same normalization, char bigrams via
      // generate_series + substr, top-200 vocab with (count DESC, bigram ASC)
      // tie-break, left-join scoring; one IEEE division for the ratio
      """WITH norm AS (SELECT doc_id AS doc,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |  FROM documents),
        |bg AS (SELECT doc, substr(t, CAST(i AS INT), 2) AS bg
        |  FROM norm, LATERAL unnest(generate_series(1, length(t) - 1)) AS u(i)
        |  WHERE length(t) >= 2),
        |vocab AS (SELECT bg FROM (
        |    SELECT bg, count(*) AS bf FROM bg GROUP BY 1
        |    ORDER BY bf DESC, bg ASC LIMIT 200)),
        |sc AS (SELECT b.doc,
        |    CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(CASE WHEN v.bg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |  FROM bg b LEFT JOIN vocab v USING (bg) GROUP BY 1)
        |SELECT d.doc_id AS doc,
        |  coalesce(sc.n_bigrams, 0) AS n_bigrams,
        |  coalesce(sc.n_oov, 0) AS n_oov,
        |  CASE WHEN coalesce(sc.n_bigrams, 0) = 0 THEN 0.0
        |       ELSE coalesce(sc.n_oov, 0) / CAST(sc.n_bigrams AS DOUBLE) END AS oov_ratio
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc""".stripMargin),

    // TF-IDF ranked retrieval: top-25 docs for a 4-term query under the
    // scaled-integer idf (⌊N·10⁶/df⌋) — exact BIGINT scoring end to end
    "q_text_rank" -> CatalogQuery((s, d) =>
      TextAnalysis.rankByTerms(docs(s, d), "doc_id", "text",
        Seq("join", "vector", "spark", "filter"), k = 25),
      // replicates rankByTerms: scaled-integer idf = N·10⁶ // df, BIGINT
      // scoring, (score DESC, doc) top-25
      """WITH toks AS (SELECT doc_id AS doc,
        |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc, term, CAST(count(*) AS BIGINT) AS tf FROM toks
        |  WHERE term IN ('join', 'vector', 'spark', 'filter') GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
        |sc AS (SELECT doc,
        |    CAST(SUM(tf * ((nd * 1000000) // df)) AS BIGINT) AS score,
        |    CAST(count(*) AS BIGINT) AS n_terms
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n GROUP BY doc)
        |SELECT doc, score, n_terms FROM sc
        |ORDER BY score DESC, doc ASC LIMIT 25""".stripMargin),

    // Okapi BM25 top-25 for the same 4-term query as q_text_rank —
    // length-normalized, tf-saturating, every score an exact integer
    "q_text_bm25" -> CatalogQuery((s, d) =>
      TextAnalysis.bm25Rank(docs(s, d), "doc_id", "text",
        Seq("join", "vector", "spark", "filter"), k = 25),
      // replicates bm25Rank (k1=1.2, b=0.75 → 2200/300000/900000 milli
      // constants): micro-bit idf from exact-integer operands, one HUGEINT
      // floor-division per (doc, term), (score DESC, doc) top-25
      s"WITH $bm25CandCtes SELECT doc, score, n_terms FROM cand"),

    // retrieve-then-rerank (the RAG shape): BM25 top-25 lexical candidates,
    // re-scored by exact fixed-point cosine against a query embedding
    // (vec_id 0), final top-10 by (cosine DESC, doc). The rerank join
    // touches 25 rows — candidate generation is the only corpus-scale work
    "q_text_rerank" -> CatalogQuery((s, d) => {
      val cand = TextAnalysis.bm25Rank(docs(s, d), "doc_id", "text",
        Seq("join", "vector", "spark", "filter"), k = 25)
      val q = 1e8
      val emb = embs(s, d).select(col("vec_id"),
        transform(col("embedding"), v => round(v.cast("double") * lit(q)).cast("long")).as("qa"))
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("qa").as("__qv"))
      cand.join(emb, cand("doc") === emb("vec_id"))
        .crossJoin(broadcast(qv))
        .select(col("doc"), col("score"),
          (graft.functions.VectorExpressions.longDot(col("qa"), col("__qv")).cast("double") /
            (sqrt(graft.functions.VectorExpressions.longDot(col("qa"), col("qa")).cast("double")) *
             sqrt(graft.functions.VectorExpressions.longDot(col("__qv"), col("__qv")).cast("double"))))
            .as("cosine"))
        .orderBy(col("cosine").desc, col("doc").asc)
        .limit(10)
    },
      // BM25 candidates (shared CTEs) re-scored by the exact fixed-point
      // cosine against embedding 0, (cosine DESC, doc) top-10
      s"""WITH $bm25CandCtes,
         |e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
         |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 100000000) AS BIGINT) AS qv
         |  FROM embeddings),
         |n2 AS (SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS n2 FROM e GROUP BY 1),
         |d AS (SELECT c.doc, c.score, CAST(SUM(ec.qv * eq.qv) AS BIGINT) AS dot
         |  FROM cand c
         |  JOIN e ec ON ec.vec_id = c.doc
         |  JOIN e eq ON eq.vec_id = 0 AND eq.pos = ec.pos
         |  GROUP BY 1, 2)
         |SELECT doc, score,
         |  CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(nc.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE))) AS cosine
         |FROM d JOIN n2 nc ON nc.vec_id = doc JOIN n2 nq ON nq.vec_id = 0
         |ORDER BY cosine DESC, doc ASC LIMIT 10""".stripMargin),

    // model-based quality filter: integer "micro-logit" lexicon scored
    // in-row against the broadcast weights map — keep iff score >= 0
    "q_text_classify" -> CatalogQuery((s, d) => {
      import s.implicits._
      val lexicon = Seq(
        ("fast", 3L), ("spark", 2L), ("merge", 1L), ("slow", -4L), ("big", -1L))
        .toDF("term", "weight")
      TextAnalysis.linearScore(docs(s, d), "doc_id", "text", lexicon)
    },
      // replicates linearScore: same lexicon as VALUES, token-occurrence
      // (not distinct) weight sum, docs matching nothing score the bias (0)
      """WITH wts(term, weight) AS (VALUES
        |    ('fast', 3), ('spark', 2), ('merge', 1), ('slow', -4), ('big', -1)),
        |toks AS (SELECT doc_id AS doc,
        |    unnest(string_split(trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')), ' ')) AS tok
        |  FROM documents),
        |sc AS (SELECT doc, CAST(COALESCE(SUM(weight), 0) AS BIGINT) AS score
        |  FROM toks LEFT JOIN wts ON tok = term GROUP BY doc)
        |SELECT doc, score, score >= 0 AS keep FROM sc""".stripMargin),

    // PII detection audit: per-doc match counts per class. Synthetic PII is
    // appended (the corpus contains none), with a second email on every
    // third doc so the counts actually vary
    "q_text_pii" -> CatalogQuery((s, d) =>
      TextAnalysis.piiStats(
        docs(s, d).select(
          col("doc_id"),
          concat(
            col("text"),
            lit(" Contact: user"), col("doc_id").cast("string"),
            lit("@example.com from 10.0."), (col("doc_id") % 250).cast("string"),
            lit("."), (col("doc_id") % 100).cast("string"),
            lit(" call +1-555-0123-4567 ref 987654321"),
            when(col("doc_id") % 3 === 0, lit(" cc admin@example.org"))
              .otherwise(lit(""))).as("text")),
        "doc_id", "text"),
      // replicates piiStats over the synthetically PII-salted text: same
      // RE2-safe patterns, non-overlapping match counts
      """WITH salted AS (SELECT doc_id,
        |    text || ' Contact: user' || CAST(doc_id AS VARCHAR)
        |         || '@example.com from 10.0.' || CAST(doc_id % 250 AS VARCHAR)
        |         || '.' || CAST(doc_id % 100 AS VARCHAR)
        |         || ' call +1-555-0123-4567 ref 987654321'
        |         || CASE WHEN doc_id % 3 = 0 THEN ' cc admin@example.org' ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id AS doc,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4s,
        |  CAST(len(regexp_extract_all(t, '\+\d{1,2}-\d{3}-\d{3,4}-\d{4}')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(t, '\b\d{9}\b')) AS BIGINT) AS n_id_numbers,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) +
        |       len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) +
        |       len(regexp_extract_all(t, '\+\d{1,2}-\d{3}-\d{3,4}-\d{4}')) +
        |       len(regexp_extract_all(t, '\b\d{9}\b')) AS BIGINT) AS pii_total
        |FROM salted""".stripMargin),

    // text cleaning: emails/URLs are appended so the masking path is
    // actually exercised (the synthetic corpus contains neither)
    "q_text_scrub" -> CatalogQuery((s, d) =>
      docs(s, d).select(
        col("doc_id"),
        TextAnalysis.scrub(concat(
          col("text"),
          lit(" Contact: user"), col("doc_id").cast("string"),
          lit("@example.com   or https://example.org/d/"),
          col("doc_id").cast("string"), lit(" now"))).as("clean_text")),
      // replicates TextAnalysis.scrub: mask emails, then URLs, then collapse
      // whitespace — same regexes (RE2-safe), same order
      """SELECT doc_id,
        |  trim(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        text || ' Contact: user' || CAST(doc_id AS VARCHAR)
        |             || '@example.com   or https://example.org/d/'
        |             || CAST(doc_id AS VARCHAR) || ' now',
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '(https?://|www\.)[^ \t\n\r]+', '<URL>', 'g'),
        |    '\s+', ' ', 'g')) AS clean_text
        |FROM documents""".stripMargin),

    // duplicated-SPAN removal (exact-substring dedup): every 3rd doc gets
    // an 8-token footer — its 4 interior 5-token windows repeat across
    // docs, so the whole footer vanishes everywhere but the first (min
    // doc_id) occurrence; boundary windows (original text + footer start)
    // are unique per doc and keep their tokens
    "q_text_despans" -> CatalogQuery((s, d) => {
      val fixture = docs(s, d).select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"),
            lit(" subscribe now for updates delivered straight to you")))
          .otherwise(col("text")).as("text"))
      Dedup.dropDuplicatedSpans(fixture, "doc_id", "text", w = 5, minCount = 2)
    },
      // replicates dropDuplicatedSpans over the footer-salted corpus: 5-token
      // windows, global count >= 2, first (doc, pos) occurrence canonical,
      // covered positions unioned per doc, linear complement reassembly
      """WITH fix AS (SELECT doc_id AS doc,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN text || ' subscribe now for updates delivered straight to you'
        |      ELSE text END AS text
        |  FROM documents),
        |tk AS (SELECT doc,
        |    string_split(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')), ' ') AS tks
        |  FROM fix),
        |wins AS (SELECT doc, unnest(range(len(tks) - 4)) AS pos, tks
        |  FROM tk WHERE len(tks) >= 5),
        |wtext AS (SELECT doc, pos,
        |    tks[pos+1] || ' ' || tks[pos+2] || ' ' || tks[pos+3] || ' ' ||
        |    tks[pos+4] || ' ' || tks[pos+5] AS win
        |  FROM wins),
        |v AS (SELECT doc, pos,
        |    COUNT(*) OVER (PARTITION BY win) AS cnt,
        |    ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc, pos) AS rn
        |  FROM wtext),
        |cover AS (SELECT DISTINCT doc, cpos FROM (
        |  SELECT doc, unnest(generate_series(pos, pos + 4)) AS cpos
        |  FROM v WHERE cnt >= 2 AND rn > 1)),
        |toks AS (SELECT doc, unnest(tks) AS tok,
        |    generate_subscripts(tks, 1) - 1 AS p FROM tk),
        |kept AS (SELECT t.doc, t.tok, t.p FROM toks t
        |  LEFT JOIN cover c ON c.doc = t.doc AND c.cpos = t.p
        |  WHERE c.cpos IS NULL),
        |tot AS (SELECT doc, CAST(len(tks) AS BIGINT) AS n FROM tk)
        |SELECT tot.doc,
        |  coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '') AS clean_text,
        |  CAST(count(k.p) AS BIGINT) AS n_tokens_kept,
        |  CAST(any_value(tot.n) - count(k.p) AS BIGINT) AS n_tokens_dropped
        |FROM tot LEFT JOIN kept k ON tot.doc = k.doc
        |GROUP BY tot.doc""".stripMargin),

    // Unicode canonicalization for dedup: NFC + lower + whitespace collapse
    // through the codegen'd unicode_normalize expression. The corpus is
    // ASCII, so a decomposed-accent suffix ("CAFE" + U+0301) is appended
    // in-query: both engines must compose it to "café" or the hash breaks
    "q_text_canonical" -> CatalogQuery((s, d) =>
      docs(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.TextAnalysis.canonicalText(
            concat(col("text"), lit(" CAFE\u0301 NAI\u0308VE"))).as("canon")),
      // canonicalization replica: DuckDB's nfc_normalize must compose the
      // same decomposed suffix (combining acute/diaeresis, appended via
      // single-quoted concat because triple-quoted Scala does not process
      // \uXXXX) to the same lowercase bytes
      ("SELECT doc_id, trim(regexp_replace(lower(nfc_normalize(text || ' CAFE\u0301 NAI\u0308VE')), " +
        "'\\s+', ' ', 'g')) AS canon FROM documents WHERE text IS NOT NULL")),

    // markup stripping over synthesized crawl HTML: the page is BUILT from
    // the row (title from id, style block, a script on every 3rd doc,
    // entity-laden footer incl. the double-decode trap &amp;lt;) so both
    // engines construct the identical input, and the stripped text must
    // hash byte-for-byte — a wrong pattern, replacement, flag, or decode
    // order breaks it; the oracle SQL is GENERATED from the same chain
    "q_text_markup" -> CatalogQuery((s, d) => {
      val html = concat(
        lit("<html><head><style>p { color: red; }</style></head>" +
          "<body onload=\"init()\"><h1>Doc "),
        col("doc_id").cast("string"), lit("</h1><p>"), col("text"), lit("</p>"),
        when(col("doc_id") % 3 === 0,
          lit("<script type=\"text/javascript\">var x = 1 < 2;</script>"))
          .otherwise(lit("")),
        lit("<!-- footer --><p>a&nbsp;b &lt;tag&gt; &quot;q&quot; " +
          "&#39;s&#39; T&amp;C &amp;lt;</p></body></html>"))
      docs(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.TextAnalysis.stripMarkup(html).as("clean"))
    },
      // markup-strip replica: the SQL is GENERATED from the operator's own
      // pattern/replacement chains (stripMarkupSql), so the two cannot
      // drift; only the page construction is restated here
      {
      val html = "'<html><head><style>p { color: red; }</style></head>" +
        "<body onload=\"init()\"><h1>Doc ' || CAST(doc_id AS VARCHAR) || " +
        "'</h1><p>' || text || '</p>' || " +
        "CASE WHEN doc_id % 3 = 0 THEN " +
        "'<script type=\"text/javascript\">var x = 1 < 2;</script>' " +
        "ELSE '' END || " +
        "'<!-- footer --><p>a&nbsp;b &lt;tag&gt; &quot;q&quot; " +
        "&#39;s&#39; T&amp;C &amp;lt;</p></body></html>'"
      s"SELECT doc_id, ${graft.functions.TextAnalysis.stripMarkupSql(html)} AS clean " +
        "FROM documents WHERE text IS NOT NULL"
    }),

    // skip-gram PMI collocations: window-2 directed co-occurrence counts
    // scored against unigram frequencies in per-term micro-bit logs (exact
    // BIGINT composition — no multi-term float sum). The oracle extracts
    // pairs via a position self-join instead of the in-row zip_with, so a
    // green row pins the pair extraction itself, not just the scoring.
    "q_text_pmi" -> CatalogQuery((s, d) =>
      TextAnalysis.pmiPairs(docs(s, d), "text", window = 2, minCount = 5),
      // skip-gram PMI replica: pairs from a bounded position self-join
      // (b.p in (a.p, a.p+2]), the same per-term micro-bit log composition
      """WITH toks AS (SELECT doc_id,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS w
        |  FROM documents
        |  WHERE text IS NOT NULL AND trim(regexp_replace(text, '\s+', ' ', 'g')) <> ''),
        |uni AS (SELECT unnest(w) AS tok FROM toks),
        |ucnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY 1),
        |ut AS (SELECT CAST(SUM(c) AS BIGINT) AS tu FROM ucnt),
        |pos AS (SELECT doc_id, generate_subscripts(w, 1) AS p, unnest(w) AS tok FROM toks),
        |prs AS (SELECT a.tok AS w1, b.tok AS w2 FROM pos a JOIN pos b
        |  ON b.doc_id = a.doc_id AND b.p > a.p AND b.p <= a.p + 2),
        |pcnt AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair FROM prs GROUP BY 1, 2),
        |pt AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS tp FROM pcnt)
        |SELECT w1, w2, n_pair,
        |  CAST(ROUND(LOG2(CAST(n_pair AS DOUBLE)) * 1000000) AS BIGINT)
        |  + 2 * CAST(ROUND(LOG2(CAST(tu AS DOUBLE)) * 1000000) AS BIGINT)
        |  - CAST(ROUND(LOG2(CAST(tp AS DOUBLE)) * 1000000) AS BIGINT)
        |  - CAST(ROUND(LOG2(CAST(c1.c AS DOUBLE)) * 1000000) AS BIGINT)
        |  - CAST(ROUND(LOG2(CAST(c2.c AS DOUBLE)) * 1000000) AS BIGINT) AS pmi_micro
        |FROM pcnt
        |JOIN ucnt c1 ON c1.tok = pcnt.w1
        |JOIN ucnt c2 ON c2.tok = pcnt.w2
        |CROSS JOIN ut CROSS JOIN pt
        |WHERE n_pair >= 5""".stripMargin))
}
