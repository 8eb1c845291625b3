package graft
package catalog

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{Curation, Dedup}

/** Corpus curation (`q_curate*`, `q_source_report`): quality gates,
  * budgets, per-source caps, calibration and the per-source report.
  */
private[graft] object CurateQueries {
  import Fixtures.docs

  val queries: Seq[(String, CatalogQuery)] = Seq(
    // end-to-end curation v2, composing the round's operators in ONE plan:
    // classifier gate (broadcast lexicon, in-row fold) → duplicated-span
    // removal over the GATED corpus (first-occurrence vote among survivors)
    // → exact dedup on the CLEANED text (min-id survivor; all-boilerplate
    // docs collapse to one empty-text canonical) → per-source doc/token
    // report
    "q_curate_full" -> CatalogQuery((s, d) => {
      import s.implicits._
      val dd = docs(s, d)
      val lexicon = Seq(
        ("fast", 3L), ("spark", 2L), ("merge", 1L), ("slow", -4L), ("big", -1L))
        .toDF("term", "weight")
      val keptIds = TextAnalysis.linearScore(dd, "doc_id", "text", lexicon)
        .filter(col("keep")).select(col("doc").as("doc_id"))
      val gated = dd.join(keptIds, Seq("doc_id"), "left_semi")
      val cleaned = Dedup.dropDuplicatedSpans(gated, "doc_id", "text", w = 5, minCount = 2)
        .withColumnRenamed("doc", "doc_id")
      Dedup.dropExactDuplicates(cleaned, "doc_id", Seq("clean_text"))
        .join(dd.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens_kept")).as("n_tokens"))
    },
      // chains the q_text_classify gate, the q_text_despans machinery (over
      // the GATED corpus) and a min-id exact dedup on cleaned text into the
      // per-source report
      """WITH wts(term, weight) AS (VALUES
        |    ('fast', 3), ('spark', 2), ('merge', 1), ('slow', -4), ('big', -1)),
        |ctoks AS (SELECT doc_id,
        |    unnest(string_split(trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')), ' ')) AS ctok
        |  FROM documents),
        |scored AS (SELECT doc_id, CAST(COALESCE(SUM(weight), 0) AS BIGINT) AS score
        |  FROM ctoks LEFT JOIN wts ON ctok = term GROUP BY doc_id),
        |gated AS (SELECT d.doc_id, d.text, d.source FROM documents d
        |  JOIN scored s ON s.doc_id = d.doc_id AND s.score >= 0),
        |tk AS (SELECT doc_id AS doc,
        |    string_split(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')), ' ') AS tks
        |  FROM gated),
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
        |toks AS (SELECT doc, unnest(tks) AS tok2,
        |    generate_subscripts(tks, 1) - 1 AS p FROM tk),
        |keptt AS (SELECT t.doc, t.tok2, t.p FROM toks t
        |  LEFT JOIN cover c ON c.doc = t.doc AND c.cpos = t.p
        |  WHERE c.cpos IS NULL),
        |tot AS (SELECT doc FROM tk),
        |cleaned AS (SELECT tot.doc AS doc_id,
        |    coalesce(string_agg(k.tok2, ' ' ORDER BY k.p), '') AS clean_text,
        |    CAST(count(k.p) AS BIGINT) AS n_tokens_kept
        |  FROM tot LEFT JOIN keptt k ON tot.doc = k.doc
        |  GROUP BY tot.doc),
        |dedup AS (SELECT doc_id, n_tokens_kept FROM (
        |  SELECT c.*, MIN(doc_id) OVER (PARTITION BY clean_text) AS mid FROM cleaned c)
        |  WHERE doc_id = mid)
        |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(c.n_tokens_kept) AS BIGINT) AS n_tokens
        |FROM dedup c JOIN documents d USING (doc_id)
        |GROUP BY 1""".stripMargin),

    // per-source corpus health report over a corpus with an injected
    // mirror source (every 10th doc replicated under 'srcX'), so the
    // cross-source duplication signal actually fires
    "q_source_report" -> CatalogQuery((s, d) => {
      val dd = docs(s, d)
      Curation.sourceReport(
        dd.unionAll(dd.filter(col("doc_id") % 10 === 0).withColumn("source", lit("srcX"))),
        "source", "text", "lang")
    },
      // replicates sourceReport over the mirror-augmented corpus: global
      // fingerprint occurrence vote, then integer-sum per-source stats with
      // two final exact divisions
      """WITH aug AS (
        |  SELECT source, lang, text FROM documents
        |  UNION ALL SELECT 'srcX', lang, text FROM documents WHERE doc_id % 10 = 0),
        |f AS (SELECT source, lang,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) END AS toks,
        |    sha256(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |  FROM aug),
        |c AS (SELECT fp, COUNT(*) AS n FROM f GROUP BY fp)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN c.n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(SUM(CASE WHEN c.n >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_fraction,
        |  CAST(SUM(toks) AS DOUBLE) / COUNT(*) AS mean_doc_tokens
        |FROM f JOIN c USING (fp)
        |GROUP BY source""".stripMargin),

    // end-to-end curation: quality gates + fingerprint dedup + lang tag
    // over a corpus perturbed with exact dups (survive as min-id) and
    // junk rows (fail the quality gates)
    "q_curate" -> CatalogQuery((s, d) => {
      val dd = docs(s, d).select("doc_id", "text", "lang")
      // doc_id < 100000 keeps the synthetic +100000/+200000 copies disjoint
      // from real ids at every GenScale stride (see q_dedup_canonical)
      val dups = dd.filter(col("doc_id") % 10 === 0 && col("doc_id") < 100000L)
        .withColumn("doc_id", col("doc_id") + lit(100000L))
      val junk = dd.filter(col("doc_id") % 7 === 0 && col("doc_id") < 100000L)
        .withColumn("doc_id", col("doc_id") + lit(200000L))
        .withColumn("text", upper(substring(col("text"), 1, 15)))
      Curation.curate(dd.unionByName(dups).unionByName(junk), "doc_id", "text")
        .groupBy("lang_pred")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
    },
      // replicates Curation.curate over the perturbed corpus: quality gates
      // (n_chars/n_tokens/digit_ratio/upper_ratio), fingerprint dedup with
      // min-id survivor, then the langId argmax (same marker table and
      // tie-break as q_text_langid)
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0 AND doc_id < 100000
        |  UNION ALL SELECT doc_id + 200000, upper(substr(text, 1, 15)) FROM documents WHERE doc_id % 7 = 0 AND doc_id < 100000),
        |feat AS (
        |  SELECT doc_id, text,
        |    length(text) AS n_chars,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) END AS n_tokens,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) END AS digit_ratio,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |         ELSE CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) / length(text) END AS upper_ratio
        |  FROM corpus),
        |kept AS (
        |  SELECT doc_id, text, n_tokens,
        |    sha256(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |  FROM feat
        |  WHERE n_chars >= 20 AND n_tokens >= 5 AND digit_ratio <= 0.2 AND upper_ratio <= 0.3),
        |surv AS (
        |  SELECT k.doc_id, k.text, k.n_tokens
        |  FROM kept k JOIN (SELECT fp, min(doc_id) AS keep FROM kept GROUP BY 1) m
        |    ON k.fp = m.fp AND k.doc_id = m.keep),
        |toks AS (SELECT doc_id,
        |    unnest(list_distinct(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))) AS tok
        |  FROM surv),
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
        |alllang AS (SELECT s.doc_id, l.lang, COALESCE(h.h, 0) AS h
        |  FROM surv s CROSS JOIN (SELECT DISTINCT lang FROM m) l
        |  LEFT JOIN hits h ON h.doc_id = s.doc_id AND h.lang = l.lang),
        |best AS (SELECT doc_id, lang, h,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h DESC, lang DESC) AS rn
        |  FROM alllang),
        |pred AS (SELECT s.doc_id, s.n_tokens,
        |    CASE WHEN b.h > 0 THEN b.lang ELSE 'und' END AS lang_pred
        |  FROM surv s JOIN best b ON b.doc_id = s.doc_id AND b.rn = 1)
        |SELECT lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM pred GROUP BY 1""".stripMargin),

    // winsorization outlier gate: per-language [p05, p95] document-length
    // band; exact quantiles for the oracle (approx_percentile is the
    // bounded-state 100 TB default)
    "q_curate_qgate" -> CatalogQuery((s, d) =>
      Curation.quantileGate(
          docs(s, d).select("doc_id", "lang", "n_chars"),
          "n_chars", Seq("lang"), loQ = 0.05, hiQ = 0.95, exact = true)
        .select("doc_id", "lang", "n_chars"),
      // replicates Curation.quantileGate(exact): per-group continuous
      // quantile bounds (quantile_cont ≡ Spark percentile interpolation),
      // inner equi-join back, inclusive band filter
      """WITH b AS (SELECT lang,
        |    quantile_cont(n_chars, 0.05) AS lo,
        |    quantile_cont(n_chars, 0.95) AS hi
        |  FROM documents GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d JOIN b ON d.lang = b.lang
        |WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi""".stripMargin),

    // token-budget corpus selection: best docs by score until 200k tokens —
    // the cumsum runs over DISTINCT scores (score-domain window, not a
    // corpus-wide sort) and only the boundary bucket ranks rows; the
    // oracle's naive global-order cumsum pins the semantics exactly
    "q_curate_budget" -> CatalogQuery((s, d) => {
      val dd = docs(s, d).filter(col("text").isNotNull).select(
        col("doc_id"), col("n_chars"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      Curation.selectTokenBudget(dd, "doc_id", "n_chars", "n_tokens", budget = 200000L)
        .select("doc_id", "n_chars", "n_tokens")
    },
      // the budget selector's semantics, stated naively: global (score desc,
      // id) order, keep while the running token total fits
      """WITH d AS (SELECT doc_id, n_chars,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) END AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT *, SUM(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
        |        ROWS UNBOUNDED PRECEDING) AS cum FROM d)
        |SELECT doc_id, n_chars, n_tokens FROM c WHERE cum <= 200000""".stripMargin),

    // per-source document cap: at most 2000 events per type survive, as a
    // deterministic hash-ranked uniform sample — the slice/boundary split
    // means only the single boundary slice (~1/256th of an over-cap
    // source) ever sorts; the oracle's naive global row_number pins the
    // exact kept set, so a wrong slice cut or boundary rank breaks the hash
    "q_curate_source_cap" -> CatalogQuery((s, d) =>
      Curation.capPerSource(
        graft.sources.Events.load(s, d).select("event_id", "event_type", "value"),
        "event_type", "event_id", maxPerSource = 2000L, salt = "cap"),
      // per-source cap replica: the naive global row_number the engine's
      // slice/boundary decomposition must reproduce exactly
      """SELECT event_id, event_type, value FROM (
        |  SELECT event_id, event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(concat('0x', substr(sha256(CAST(event_id AS VARCHAR) || ':cap'), 1, 15)) AS BIGINT),
        |        event_id) AS rn
        |  FROM events) WHERE rn <= 2000""".stripMargin),

    // per-source score calibration: within-source percent rank of n_chars
    // on the integer ppm grid, computed WITHOUT a per-source window (range
    // partition on (source, score, id) + tiny per-source base/count join);
    // one global ≥ 0.9 threshold then takes each source's own top decile —
    // the oracle's naive row_number window pins every ppm value
    "q_curate_calibrate" -> CatalogQuery((s, d) =>
      graft.operators.Curation.calibrateScores(
          docs(s, d).select("doc_id", "source", "n_chars"),
          "source", "n_chars", "doc_id")
        .filter(col("cal_ppm") >= 900000L)
        .select("doc_id", "source", "n_chars", "cal_ppm"),
      // calibration replica: the naive per-source row_number window the
      // engine's range-partition + base-offset decomposition must match on
      // every integer ppm value
      """WITH r AS (SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_chars,
        |    CAST(CASE WHEN n = 1 THEN 1000000
        |         ELSE (rk - 1) * 1000000 // (n - 1) END AS BIGINT) AS cal_ppm
        |  FROM r)
        |SELECT doc_id, source, n_chars, cal_ppm FROM c WHERE cal_ppm >= 900000""".stripMargin))
}
