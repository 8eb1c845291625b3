package graft
package catalog

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.Dedup

/** Text deduplication and record linkage (`q_dedup_*`, `q_link_*`): exact,
  * Jaccard, containment, MinHash and SimHash near-duplicates, edit-distance
  * verification, decontamination and duplicate components.
  */
private[graft] object DedupQueries {
  import Fixtures.docs

  /** DuckDB replica of the sha-token-hash simhash pipeline: per token,
    * hi/lo = first/second 8 hex chars of sha256 as unsigned 32-bit ints
    * (exactly [[TextAnalysis.shaHash64]]'s packing); 64 bit-vote sums;
    * `numBlocks` near-equal bit blocks (sizes from
    * [[Dedup.simhashBlockSizes]], the SAME helper the operator uses);
    * candidates = pairs whose blocks agree on some
    * (numBlocks − maxHamming)-combination — the operator's Manku-style
    * probe tables, replicated as an OR over per-combination conjunctions;
    * hamming ≤ maxHamming. Generated by loop so vote terms, block
    * boundaries AND the combination list stay in lockstep with the
    * operator's bit numbering (bit i = bit i−32 of hi for i ≥ 32).
    */
  private val simhashOracleSql: String = {
    val numBlocks = 6
    val maxHamming = 3
    val votes = (0 until 64).map { i =>
      val (src, sh) = if (i < 32) ("lo", i) else ("hi", i - 32)
      s"SUM(CASE WHEN ($src // ${1L << sh}) % 2 = 1 THEN 1 ELSE -1 END) AS b$i"
    }.mkString(",\n    ")
    val sizes = Dedup.simhashBlockSizes(numBlocks)
    val offsets = sizes.scanLeft(0)(_ + _)
    val segs = (0 until numBlocks).map { k =>
      (0 until sizes(k)).map(j => s"(CASE WHEN b${offsets(k) + j} > 0 THEN ${1L << j} ELSE 0 END)")
        .mkString("(", " + ", s") AS seg$k")
    }.mkString(",\n    ")
    val hamming = (0 until numBlocks)
      .map(k => s"bit_count(xor(a.seg$k, b.seg$k))").mkString(" + ")
    val probe = (0 until numBlocks).combinations(numBlocks - maxHamming)
      .map(c => c.map(k => s"a.seg$k = b.seg$k").mkString("(", " AND ", ")"))
      .mkString("\n       OR ")
    s"""WITH toks AS (SELECT doc_id,
       |    unnest(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS tok
       |  FROM documents),
       |th AS (SELECT doc_id,
       |    CAST(concat('0x', substr(sha256(tok), 1, 8)) AS BIGINT) AS hi,
       |    CAST(concat('0x', substr(sha256(tok), 9, 8)) AS BIGINT) AS lo
       |  FROM toks),
       |votes AS (SELECT doc_id,
       |    $votes
       |  FROM th GROUP BY doc_id),
       |segs AS (SELECT doc_id,
       |    $segs
       |  FROM votes)
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST($hamming AS INTEGER) AS hamming
       |  FROM segs a JOIN segs b ON a.doc_id < b.doc_id
       |   AND ($probe))
       |WHERE hamming <= $maxHamming""".stripMargin
  }

  val queries: Seq[(String, CatalogQuery)] = Seq(
    "q_dedup_exact" -> CatalogQuery((s, d) => {
      val dd = docs(s, d)
      Dedup.exactDuplicateGroups(
        dd.union(dd.filter(col("doc_id") % 10 === 0)), "doc_id", Seq("text"))
        .select("keep_id", "n_copies")
    },
      """WITH u AS (SELECT * FROM documents
        |           UNION ALL SELECT * FROM documents WHERE doc_id % 10 = 0)
        |SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM u GROUP BY text HAVING COUNT(*) > 1""".stripMargin),

    "q_dedup_jaccard" -> CatalogQuery((s, d) =>
      Dedup.jaccardPairs(docs(s, d), "doc_id", "text", "lang", threshold = 0.8),
      // The mirror applies jaccardPairs' df-cap (maxDf=1000) explicitly: a
      // (lang, shingle) posting list longer than 1000 leaves the similarity
      // universe — candidates, intersections AND set sizes — exactly as the
      // Spark operator's prefix filter does. On the test corpus no list hits
      // the cap, so this filter is a provable no-op there; it keeps the
      // oracle equivalent on corpora where the cap bites.
      """WITH w AS (SELECT doc_id, lang,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |  FROM documents),
        |toks0 AS (SELECT doc_id, lang,
        |    unnest(list_distinct(list_transform(range(len(words) - 2),
        |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]))) AS tok
        |  FROM w),
        |toks AS (SELECT t.doc_id, t.lang, t.tok FROM toks0 t
        |  JOIN (SELECT lang, tok FROM toks0 GROUP BY lang, tok
        |        HAVING COUNT(*) <= 1000) keep USING (lang, tok)),
        |sizes AS (SELECT doc_id, COUNT(*) n FROM toks GROUP BY doc_id),
        |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
        |       FROM toks a JOIN toks b
        |         ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) AS jaccard
        |FROM co JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.8""".stripMargin),

    // excerpt detection: every 25th doc contributes a 40%-prefix excerpt
    // (+400000) whose shingles are a near-subset of its parent's —
    // containment ≈ 1 while symmetric jaccard sits near 0.4, below any
    // dedup threshold. DIV keeps the truncation length integer-exact on
    // both engines (DuckDB CAST(double AS INT) rounds; Spark truncates).
    "q_dedup_containment" -> CatalogQuery((s, d) => {
      val dd = docs(s, d).select("doc_id", "text", "lang", "n_chars")
      val excerpts = dd.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + lit(400000L)).as("doc_id"),
          expr("substring(text, 1, CAST(n_chars * 2 DIV 5 AS INT))").as("text"),
          col("lang"))
      Dedup.containmentPairs(
        dd.select("doc_id", "text", "lang").unionByName(excerpts),
        "doc_id", "text", "lang", threshold = 0.9)
    },
      // same shingle/df-cap machinery as q_dedup_jaccard over the
      // excerpt-augmented corpus, final score inter / LEAST(na, nb); the
      // excerpt text is the same integer-exact (n_chars*2)//5-char prefix
      """WITH u AS (SELECT doc_id, text, lang FROM documents
        |  UNION ALL SELECT doc_id + 400000,
        |    substring(text, 1, CAST((n_chars * 2) // 5 AS INT)), lang
        |  FROM documents WHERE doc_id % 25 = 0),
        |w AS (SELECT doc_id, lang,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |  FROM u),
        |toks0 AS (SELECT doc_id, lang,
        |    unnest(list_distinct(list_transform(range(len(words) - 2),
        |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]))) AS tok
        |  FROM w),
        |toks AS (SELECT t.doc_id, t.lang, t.tok FROM toks0 t
        |  JOIN (SELECT lang, tok FROM toks0 GROUP BY lang, tok
        |        HAVING COUNT(*) <= 1000) keep USING (lang, tok)),
        |sizes AS (SELECT doc_id, COUNT(*) n FROM toks GROUP BY doc_id),
        |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
        |       FROM toks a JOIN toks b
        |         ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  CAST(inter AS DOUBLE) / CAST(LEAST(sa.n, sb.n) AS DOUBLE) AS containment
        |FROM co JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(inter AS DOUBLE) / CAST(LEAST(sa.n, sb.n) AS DOUBLE) >= 0.9""".stripMargin),

    // cross-dataset record linkage: A = even docs, B = odd docs plus a
    // lightly-perturbed copy (+700000, four appended words) of every 10th
    // doc — the planted A↔B matches must link; A–A/B–B pairs never emit
    "q_link_records" -> CatalogQuery((s, d) => {
      val dd = docs(s, d).select("doc_id", "text", "lang")
      val a = dd.filter(col("doc_id") % 2 === 0)
      val b = dd.filter(col("doc_id") % 2 =!= 0).unionByName(
        dd.filter(col("doc_id") % 10 === 0).select(
          (col("doc_id") + lit(700000L)).as("doc_id"),
          concat(col("text"), lit(" extra trailing words appended")).as("text"),
          col("lang")))
      Dedup.linkPairs(a, b, "doc_id", "text", "lang", threshold = 0.7)
    },
      // replicates linkPairs: side-tagged shingle streams, combined df-cap,
      // cross-side-only co-occurrence, per-side sizes in the capped space
      """WITH aa AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 2 = 0),
        |bb AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 2 <> 0
        |  UNION ALL SELECT doc_id + 700000,
        |    text || ' extra trailing words appended', lang
        |  FROM documents WHERE doc_id % 10 = 0),
        |t0 AS (
        |  SELECT 0 AS side, doc_id, lang,
        |    unnest(list_distinct(list_transform(range(len(words) - 2),
        |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]))) AS tok
        |  FROM (SELECT doc_id, lang,
        |      string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |    FROM aa)
        |  UNION ALL
        |  SELECT 1, doc_id, lang,
        |    unnest(list_distinct(list_transform(range(len(words) - 2),
        |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3])))
        |  FROM (SELECT doc_id, lang,
        |      string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |    FROM bb)),
        |keep AS (SELECT lang, tok FROM t0 GROUP BY lang, tok HAVING COUNT(*) <= 1000),
        |t AS (SELECT t0.* FROM t0 JOIN keep USING (lang, tok)),
        |sa AS (SELECT doc_id, COUNT(*) n FROM t WHERE side = 0 GROUP BY 1),
        |sb AS (SELECT doc_id, COUNT(*) n FROM t WHERE side = 1 GROUP BY 1),
        |co AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM t x JOIN t y
        |    ON x.tok = y.tok AND x.lang = y.lang AND x.side = 0 AND y.side = 1
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id,
        |  CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) AS jaccard
        |FROM co JOIN sa ON sa.doc_id = a_id JOIN sb ON sb.doc_id = b_id
        |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.7""".stripMargin),

    // entity resolution end-to-end: the q_link_records match pairs feed
    // connected components, assigning every linked record (both frames)
    // its cluster's min-id as the master id — the survivorship mapping a
    // downstream MERGE consumes
    "q_link_resolve" -> CatalogQuery((s, d) => {
      val dd = docs(s, d).select("doc_id", "text", "lang")
      val a = dd.filter(col("doc_id") % 2 === 0)
      val b = dd.filter(col("doc_id") % 2 =!= 0).unionByName(
        dd.filter(col("doc_id") % 10 === 0).select(
          (col("doc_id") + lit(700000L)).as("doc_id"),
          concat(col("text"), lit(" extra trailing words appended")).as("text"),
          col("lang")))
      val pairs = Dedup.linkPairs(a, b, "doc_id", "text", "lang", threshold = 0.7)
      Dedup.connectedComponents(pairs, "a_id", "b_id")
        .select(col("node").as("record_id"), col("component").as("master_id"))
    },
      // q_link_records' match pairs + recursive min-label closure — every
      // linked record maps to its cluster's min id
      """WITH RECURSIVE aa AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 2 = 0),
        |bb AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 2 <> 0
        |  UNION ALL SELECT doc_id + 700000,
        |    text || ' extra trailing words appended', lang
        |  FROM documents WHERE doc_id % 10 = 0),
        |t0 AS (
        |  SELECT 0 AS side, doc_id, lang,
        |    unnest(list_distinct(list_transform(range(len(words) - 2),
        |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]))) AS tok
        |  FROM (SELECT doc_id, lang,
        |      string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |    FROM aa)
        |  UNION ALL
        |  SELECT 1, doc_id, lang,
        |    unnest(list_distinct(list_transform(range(len(words) - 2),
        |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3])))
        |  FROM (SELECT doc_id, lang,
        |      string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |    FROM bb)),
        |keep AS (SELECT lang, tok FROM t0 GROUP BY lang, tok HAVING COUNT(*) <= 1000),
        |t AS (SELECT t0.* FROM t0 JOIN keep USING (lang, tok)),
        |sa AS (SELECT doc_id, COUNT(*) n FROM t WHERE side = 0 GROUP BY 1),
        |sb AS (SELECT doc_id, COUNT(*) n FROM t WHERE side = 1 GROUP BY 1),
        |co AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM t x JOIN t y
        |    ON x.tok = y.tok AND x.lang = y.lang AND x.side = 0 AND y.side = 1
        |  GROUP BY 1, 2),
        |pairs AS (SELECT a_id, b_id
        |  FROM co JOIN sa ON sa.doc_id = a_id JOIN sb ON sb.doc_id = b_id
        |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.7),
        |e AS (SELECT a_id AS a, b_id AS b FROM pairs
        |      UNION SELECT b_id, a_id FROM pairs),
        |reach AS (
        |  SELECT a AS node, a AS lbl FROM e
        |  UNION
        |  SELECT e.a AS node, r.lbl FROM e JOIN reach r ON r.node = e.b
        |  WHERE r.lbl < e.a)
        |SELECT node AS record_id, MIN(lbl) AS master_id
        |FROM reach GROUP BY node""".stripMargin),

    // two-stage fuzzy dedup: permissive jaccard candidates (0.5), each
    // confirmed in-row by Levenshtein <= 100 on the full texts — the DP
    // cost is paid per candidate pair, never per N²
    "q_dedup_edit_verify" -> CatalogQuery((s, d) =>
      Dedup.editVerifiedPairs(docs(s, d), "doc_id", "text", "lang",
        candidateThreshold = 0.5, maxEdits = 100),
      // same candidate CTE at 0.5 (including the explicit maxDf=1000 df-cap,
      // see q_dedup_jaccard), then texts joined back and the pair kept
      // iff levenshtein <= 100 (DuckDB and Spark compute the same metric)
      """WITH w AS (SELECT doc_id, lang,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |  FROM documents),
        |toks0 AS (SELECT doc_id, lang,
        |    unnest(list_distinct(list_transform(range(len(words) - 2),
        |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]))) AS tok
        |  FROM w),
        |toks AS (SELECT t.doc_id, t.lang, t.tok FROM toks0 t
        |  JOIN (SELECT lang, tok FROM toks0 GROUP BY lang, tok
        |        HAVING COUNT(*) <= 1000) keep USING (lang, tok)),
        |sizes AS (SELECT doc_id, COUNT(*) n FROM toks GROUP BY doc_id),
        |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
        |       FROM toks a JOIN toks b
        |         ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |cand AS (SELECT doc_a, doc_b
        |  FROM co JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5)
        |SELECT doc_a, doc_b,
        |  CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_distance
        |FROM cand JOIN documents ta ON ta.doc_id = doc_a
        |          JOIN documents tb ON tb.doc_id = doc_b
        |WHERE levenshtein(ta.text, tb.text) <= 100""".stripMargin),

    // benchmark decontamination: every 50th doc is the "eval suite"; the
    // training side is the rest plus leaked eval copies (+300000) that a
    // crawl would have picked up — the leak must be dropped, survivors kept
    "q_dedup_decontaminate" -> CatalogQuery((s, d) => {
      val dd = docs(s, d).select("doc_id", "text", "lang")
      val eval = dd.filter(col("doc_id") % 50 === 0)
      val train = dd.filter(col("doc_id") % 50 =!= 0)
        .unionByName(eval.withColumn("doc_id", col("doc_id") + lit(300000L)))
      Dedup.decontaminate(train, "doc_id", "text", eval, "text", minSharedShingles = 5)
        .select("doc_id", "lang")
    },
      // replica of decontamination: distinct 3-gram shingles per side,
      // count of distinct shared shingles per training doc, threshold 5
      """WITH ev AS (SELECT text FROM documents WHERE doc_id % 50 = 0),
        |tr AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 50 != 0
        |       UNION ALL
        |       SELECT doc_id + 300000, text, lang FROM documents WHERE doc_id % 50 = 0),
        |evw AS (SELECT string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words FROM ev),
        |evt AS (SELECT DISTINCT unnest(list_distinct(list_transform(range(len(words) - 2),
        |          i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]))) AS tok
        |        FROM evw),
        |trw AS (SELECT doc_id,
        |          string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |        FROM tr),
        |trt AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(words) - 2),
        |          i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]))) AS tok
        |        FROM trw),
        |bad AS (SELECT doc_id FROM trt JOIN evt USING (tok)
        |        GROUP BY doc_id HAVING COUNT(*) >= 5)
        |SELECT doc_id, lang FROM tr
        |WHERE doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin),

    // pair graph → transitive clusters: corpus augmented with an exact copy
    // (+100000) and a suffix-perturbed copy (+200000) of every 10th doc, so
    // original–copyA–copyB chains form; components group them and the
    // component id is the min-id survivor
    "q_dedup_components" -> CatalogQuery((s, d) => {
      val dd = docs(s, d).select("doc_id", "text", "lang")
      // doc_id < 100000: offsets must not entangle (see q_dedup_canonical)
      val tenth = dd.filter(col("doc_id") % 10 === 0 && col("doc_id") < 100000L)
      val cpyA = tenth.withColumn("doc_id", col("doc_id") + lit(100000L))
      val cpyB = tenth.withColumn("doc_id", col("doc_id") + lit(200000L))
        .withColumn("text", concat(col("text"), lit(" zz11 zz22 zz33")))
      val pairs = Dedup.jaccardPairs(
        dd.unionByName(cpyA).unionByName(cpyB), "doc_id", "text", "lang", threshold = 0.8)
      Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .groupBy("component").agg(count(lit(1)).as("n_members"))
    },
      // replica of the components pipeline: the jaccard pair CTE over the
      // augmented corpus, then min-label transitive closure via a recursive
      // CTE (a label l propagates to neighbor n when l < n; the component
      // min always wins, spurious larger labels fall to the MIN aggregate)
      """WITH RECURSIVE aug AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text, lang FROM documents WHERE doc_id % 10 = 0 AND doc_id < 100000
        |  UNION ALL
        |  SELECT doc_id + 200000, text || ' zz11 zz22 zz33', lang
        |    FROM documents WHERE doc_id % 10 = 0 AND doc_id < 100000),
        |w AS (SELECT doc_id, lang,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |  FROM aug),
        |toks0 AS (SELECT doc_id, lang,
        |    unnest(list_distinct(list_transform(range(len(words) - 2),
        |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]))) AS tok
        |  FROM w),
        |toks AS (SELECT t.doc_id, t.lang, t.tok FROM toks0 t
        |  JOIN (SELECT lang, tok FROM toks0 GROUP BY lang, tok
        |        HAVING COUNT(*) <= 1000) keep USING (lang, tok)),
        |sizes AS (SELECT doc_id, COUNT(*) n FROM toks GROUP BY doc_id),
        |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
        |       FROM toks a JOIN toks b
        |         ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b
        |  FROM co JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.8),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |      UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT a AS node, a AS lbl FROM e
        |  UNION
        |  SELECT e.a AS node, r.lbl FROM e JOIN reach r ON r.node = e.b
        |  WHERE r.lbl < e.a),
        |cc AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node)
        |SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
        |FROM cc GROUP BY component""".stripMargin),

    // incremental ingest dedup: docs with doc_id % 3 != 0 are the "seen"
    // corpus (by fingerprint); the anti-join keeps only genuinely new text
    "q_dedup_incremental" -> CatalogQuery((s, d) => {
      val dd = docs(s, d)
      val seen = dd.filter(col("doc_id") % 3 =!= 0)
        .select(TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      Dedup.dropSeenDocuments(dd, "text", seen).select("doc_id", "lang")
    },
      // replicates Dedup.dropSeenDocuments: anti-join on the normalized
      // sha256 fingerprint
      """WITH seen AS (SELECT DISTINCT sha256(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE doc_id % 3 != 0)
        |SELECT d.doc_id, d.lang FROM documents d
        |WHERE sha256(trim(regexp_replace(d.text, '\s+', ' ', 'g'))) NOT IN (SELECT fp FROM seen)""".stripMargin),

    // corpus-level exact line dedup (the C4/RefinedWeb boilerplate pass):
    // the synthetic docs are single-line, so each doc is wrapped with two
    // shared boilerplate lines (dedupable — only the min-doc_id document
    // keeps each) plus a short footer (< minChars — always survives)
    "q_dedup_lines" -> CatalogQuery((s, d) => {
      val fixture = docs(s, d).select(
        col("doc_id"),
        concat_ws("\n",
          lit("Subscribe to our newsletter today for updates and member offers!"),
          col("text"),
          lit("(c) Example Corp"),
          lit("All rights reserved worldwide - see the site terms of use."))
          .as("text"))
      Dedup.dropRepeatedLines(fixture, "doc_id", "text", minChars = 30)
    },
      // replicates Dedup.dropRepeatedLines over the same wrapped fixture:
      // global first occurrence by (doc, pos) per distinct line (partitioning
      // by the line itself ≡ Spark's sha256-of-line shuffle key), short lines
      // always kept, documents reassembled in original line order
      """WITH fix AS (SELECT doc_id AS doc,
        |    'Subscribe to our newsletter today for updates and member offers!'
        |    || chr(10) || text || chr(10) || '(c) Example Corp' || chr(10)
        |    || 'All rights reserved worldwide - see the site terms of use.' AS text
        |  FROM documents),
        |ls AS (SELECT doc, string_split(text, chr(10)) AS arr FROM fix),
        |ln AS (SELECT doc, unnest(arr) AS line, unnest(range(len(arr))) AS pos FROM ls),
        |flag AS (SELECT doc, pos, line, length(trim(line)) >= 30 AS dedupable FROM ln),
        |keep AS (
        |  SELECT doc, pos, line FROM (
        |    SELECT doc, pos, line,
        |      row_number() OVER (PARTITION BY line ORDER BY doc, pos) AS rn
        |    FROM flag WHERE dedupable) WHERE rn = 1
        |  UNION ALL
        |  SELECT doc, pos, line FROM flag WHERE NOT dedupable),
        |tot AS (SELECT doc, count(*) AS n FROM ln GROUP BY doc)
        |SELECT t.doc AS doc,
        |  coalesce(string_agg(k.line, chr(10) ORDER BY k.pos), '') AS clean_text,
        |  CAST(count(k.pos) AS BIGINT) AS n_lines_kept,
        |  CAST(any_value(t.n) - count(k.pos) AS BIGINT) AS n_lines_dropped
        |FROM tot t LEFT JOIN keep k ON t.doc = k.doc
        |GROUP BY t.doc""".stripMargin),

    // 48 hashes / 16 bands (3 rows per band): P[candidate | j=0.8] ≈ 0.99999,
    // and the exact-Jaccard verify step removes all false positives — so the
    // output equals the full brute-force pair set (the oracle) at any recall
    // the banding actually achieves; banding only risks MISSING pairs, which
    // the oracle comparison would catch.
    "q_dedup_minhash" -> CatalogQuery((s, d) =>
      Dedup.minhashNearDuplicates(docs(s, d), "doc_id", "text", threshold = 0.8,
        numHashes = 48, bands = 16),
      // minhash+LSH verified pairs ⊆ brute-force pairs by construction (the
      // verify step recomputes exact Jaccard); equality with the brute-force
      // set additionally asserts full recall at the configured banding.
      """WITH w AS (SELECT doc_id,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |  FROM documents),
        |toks AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(len(words) - 2),
        |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]))) AS tok
        |  FROM w),
        |sizes AS (SELECT doc_id, COUNT(*) n FROM toks GROUP BY doc_id),
        |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
        |       FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) AS jaccard
        |FROM co JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.8""".stripMargin),

    // incremental ingest near-dup: history = non-%7 docs behind a
    // PERSISTABLE band-bucket index; the new batch (every 7th doc plus
    // verbatim history leaks at +800000) links against the store only.
    // 48/16 banding reaches full recall at 0.8 (see q_dedup_minhash), so
    // the brute-force cross-side oracle matches exactly.
    "q_dedup_minhash_incr" -> CatalogQuery((s, d) => {
      val dd = docs(s, d).select("doc_id", "text")
      val hist = dd.filter(col("doc_id") % 7 =!= 0)
      val newBatch = dd.filter(col("doc_id") % 7 === 0)
        .unionByName(dd.filter(col("doc_id") % 35 === 1)
          .select((col("doc_id") + lit(800000L)).as("doc_id"), col("text")))
      // the STAMPED index builder (meta columns ride along), so this row
      // also exercises the in-plan parameter-drift guard on every verify
      val store = Dedup.minhashIndex(hist, "doc_id", "text",
        numHashes = 48, bands = 16)
      Dedup.incrementalMinhashLinks(newBatch, "doc_id", "text", store, hist,
        threshold = 0.8, numHashes = 48, bands = 16,
        tokenizerId = Some("shingles3"))
    },
      // brute-force CROSS-side jaccard (new batch × history) — the incremental
      // operator's banding reaches full recall at this setting, so equality
      // with the exhaustive cross set also asserts recall
      """WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |newb AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id + 800000, text FROM documents WHERE doc_id % 35 = 1),
        |tn AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(len(words) - 2),
        |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]))) AS tok
        |  FROM (SELECT doc_id,
        |      string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |    FROM newb)),
        |th AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(len(words) - 2),
        |      i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]))) AS tok
        |  FROM (SELECT doc_id,
        |      string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |    FROM hist)),
        |sn AS (SELECT doc_id, COUNT(*) n FROM tn GROUP BY doc_id),
        |sh AS (SELECT doc_id, COUNT(*) n FROM th GROUP BY doc_id),
        |co AS (SELECT n.doc_id AS new_id, h.doc_id AS hist_id,
        |    CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM tn n JOIN th h ON n.tok = h.tok GROUP BY 1, 2)
        |SELECT new_id, hist_id,
        |  CAST(inter AS DOUBLE) / CAST(sn.n + sh.n - inter AS DOUBLE) AS jaccard
        |FROM co JOIN sn ON sn.doc_id = new_id JOIN sh ON sh.doc_id = hist_id
        |WHERE CAST(inter AS DOUBLE) / CAST(sn.n + sh.n - inter AS DOUBLE) >= 0.8""".stripMargin),

    // sha-derived token hash (cross-engine reproducible) + 4-segment
    // multi-probe: recall is EXACT for hamming ≤ 3, so the DuckDB oracle
    // replicates the full algorithm closed-form (bit votes → segment
    // blocks → hamming join).
    "q_dedup_simhash" -> CatalogQuery((s, d) =>
      Dedup.simhashNearDuplicates(docs(s, d), "doc_id", "text",
        tokenHash = TextAnalysis.shaHash64),
      simhashOracleSql),

    // cluster canonicalization by QUALITY: chains base — shortened copy —
    // extended copy, quality = text length; the EXTENDED copy (max id,
    // longest text) must win its component, proving the argmax is real
    // selection, not dropNearDuplicates' min-id shortcut
    // doc_id < 100000 keeps the +100000/+200000 synthetic copies disjoint
    // from real ids at every GenScale replication factor (scale strides
    // doc_id upward), so the closed-form oracle labeling holds at any sf
    "q_dedup_canonical" -> CatalogQuery((s, d) => {
      val base = docs(s, d).filter(col("text").isNotNull &&
          col("doc_id") % 10 === 0 && col("doc_id") < 100000L)
        .select("doc_id", "text")
      val aug = base
        .unionByName(base.select((col("doc_id") + 100000L).as("doc_id"),
          substring(col("text"), 1, 50).as("text")))
        .unionByName(base.select((col("doc_id") + 200000L).as("doc_id"),
          concat(col("text"), lit(" extra extra pad")).as("text")))
        .withColumn("q", length(col("text")).cast("long"))
      val pairs = base
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 100000L).as("doc_b"))
        .unionByName(base
          .select((col("doc_id") + 100000L).as("doc_a"), (col("doc_id") + 200000L).as("doc_b")))
      Dedup.canonicalizeClusters(aug, "doc_id", "q", pairs)
    },
      // canonicalization replica: components are closed-form (base = id mod
      // 100000 for the synthetic chains), argmax via row_number over
      // (quality DESC, id) — rn = 1 is the canonical member
      """WITH base AS (SELECT doc_id, text FROM documents
        |  WHERE text IS NOT NULL AND doc_id % 10 = 0 AND doc_id < 100000),
        |aug AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL SELECT doc_id + 100000, substr(text, 1, 50) FROM base
        |  UNION ALL SELECT doc_id + 200000, text || ' extra extra pad' FROM base),
        |m AS (SELECT doc_id % 100000 AS component, doc_id,
        |    CAST(length(text) AS BIGINT) AS q FROM aug),
        |r AS (SELECT component, doc_id, q,
        |    row_number() OVER (PARTITION BY component ORDER BY q DESC, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY component) AS n
        |  FROM m)
        |SELECT CAST(component AS BIGINT) AS component, doc_id AS canonical_id,
        |  q AS best_quality, CAST(n AS BIGINT) AS n_members
        |FROM r WHERE rn = 1""".stripMargin),

    // incremental component maintenance: history = chain (id)-(id+100000),
    // batch = bridge (id+100000)-(id+200000) + brand-new pair
    // (id+300000)-(id+400000); the contracted graph sees only batch
    // endpoints, history is relabeled by one bounded join — final
    // components are closed-form in id arithmetic for the oracle
    "q_dedup_components_incr" -> CatalogQuery((s, d) => {
      // doc_id < 100000: see q_dedup_canonical — offsets must not entangle
      // with real ids when GenScale strides doc_id past the offset base
      val ids = docs(s, d)
        .filter(col("doc_id") % 10 === 0 && col("doc_id") < 100000L)
        .select("doc_id")
      val oldPairs = ids
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 100000L).as("doc_b"))
      val batch = ids
        .select((col("doc_id") + 100000L).as("doc_a"), (col("doc_id") + 200000L).as("doc_b"))
        .unionByName(ids.select((col("doc_id") + 300000L).as("doc_a"),
          (col("doc_id") + 400000L).as("doc_b")))
      Dedup.incrementalComponents(
        Dedup.connectedComponents(oldPairs, "doc_a", "doc_b"), batch)
    },
      // incremental-components replica: the final labeling is closed-form —
      // copies 0/1/2 of each base id merge into component = base id, the
      // brand-new 3/4 pair labels to its min (base id + 300000)
      """WITH ids AS (SELECT doc_id FROM documents
        |  WHERE doc_id % 10 = 0 AND doc_id < 100000)
        |SELECT doc_id AS node, doc_id AS component FROM ids
        |UNION ALL SELECT doc_id + 100000, doc_id FROM ids
        |UNION ALL SELECT doc_id + 200000, doc_id FROM ids
        |UNION ALL SELECT doc_id + 300000, doc_id + 300000 FROM ids
        |UNION ALL SELECT doc_id + 400000, doc_id + 300000 FROM ids""".stripMargin))
}
