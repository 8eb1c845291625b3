package graft
package catalog

import org.apache.spark.sql.functions._

import graft.operators.Sampling

/** Deterministic sampling (`q_sample_*`): hash, mixture, temperature, epoch,
  * split, group and weighted draws, negatives and leakage.
  */
private[graft] object SampleQueries {
  import Fixtures.docs

  val queries: Seq[(String, CatalogQuery)] = Seq(
    // deterministic hash sampling: reproducible in ANY engine with sha256
    "q_sample_hash" -> CatalogQuery((s, d) =>
      Sampling.hashSample(
        docs(s, d).select("doc_id", "lang"), "doc_id",
        fraction = 0.25, salt = "demo", granularity = 1000),
      // replicates Sampling.hashBucket: 60-bit hash = first 15 hex chars of
      // sha256("<key>:<salt>"); keep when bucket < round(p * granularity)
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR) || ':demo'), 1, 15)) AS BIGINT)
        |        % 1000 < 250""".stripMargin),

    // weighted deterministic corpus mix (per-source salted rates)
    "q_sample_mix" -> CatalogQuery((s, d) => {
      val dd = docs(s, d).select("doc_id", "text", "lang")
      Sampling.mixCorpora(
        Seq(
          ("web", dd.filter(col("doc_id") % 2 === 0), 0.7),
          ("books", dd.filter(col("doc_id") % 2 =!= 0), 0.3)),
        "doc_id", granularity = 1000)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"))
    },
      """WITH mix AS (
        |  SELECT doc_id, 'web' AS source FROM documents WHERE doc_id % 2 = 0
        |    AND CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR) || ':web'), 1, 15)) AS BIGINT)
        |          % 1000 < 700
        |  UNION ALL
        |  SELECT doc_id, 'books' AS source FROM documents WHERE doc_id % 2 != 0
        |    AND CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR) || ':books'), 1, 15)) AS BIGINT)
        |          % 1000 < 300)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM mix GROUP BY 1""".stripMargin),

    // temperature-weighted domain mixing (α = ½): rates derived from the
    // observed lang counts — en (largest) keeps exactly 20%, the tail
    // languages keep up to √(nMax/n)× more; kept ROWS are returned so the
    // oracle pins exact membership (sqrt is correctly-rounded IEEE, so the
    // double threshold is engine-exact), not just per-domain counts
    "q_sample_temperature" -> CatalogQuery((s, d) =>
      Sampling.temperatureMix(
        docs(s, d).select("doc_id", "lang"), "doc_id", "lang",
        Sampling.Temperature.Sqrt, largestRate = 0.2, salt = "tmix"),
      // temperature-mix replica: same counts, same correctly-rounded
      // 2000·sqrt(nmax/n) threshold (no pow — not correctly rounded, would
      // drift across engines), same 60-bit hash keep-rule
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
        |m AS (SELECT max(n) AS nmax FROM c)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN c ON d.lang = c.lang CROSS JOIN m
        |WHERE CAST(concat('0x', substr(sha256(CAST(d.doc_id AS VARCHAR) || ':tmix'), 1, 15)) AS BIGINT)
        |        % 10000 < least(10000, floor(2000 * sqrt(m.nmax / c.n)))""".stripMargin),

    // epoch-aware mixture: src0 runs 2.4 epochs (2 full + a 40% extra
    // slice), src1 half an epoch, src2 exactly one; the other 17 sources
    // are dropped (a mixture is an explicit contract)
    "q_sample_epochs" -> CatalogQuery((s, d) =>
      Sampling.epochMix(docs(s, d).select("doc_id", "source"), "doc_id", "source",
        Map("src0" -> 2.4, "src1" -> 0.5, "src2" -> 1.0), salt = "mix8"),
      // replicates Sampling.epochMix: ⌊w⌋ full copies + one extra for the
      // deterministic 40%/50%/0% hash slice (key = id#source, salt mix8,
      // granularity 1e6); DuckDB range(cnt) unnests to the 0-based epochs
      """WITH w AS (SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 WHEN 'src2' THEN 1 END
        |    + CASE WHEN
        |        CAST(concat('0x', substr(sha256(
        |          CAST(doc_id AS VARCHAR) || '#' || source || ':mix8'), 1, 15)) AS BIGINT)
        |          % 1000000 <
        |        CASE source WHEN 'src0' THEN 400000 WHEN 'src1' THEN 500000 WHEN 'src2' THEN 0 END
        |      THEN 1 ELSE 0 END AS cnt
        |  FROM documents WHERE source IN ('src0', 'src1', 'src2'))
        |SELECT doc_id, source, CAST(unnest(range(cnt)) AS INT) AS epoch
        |FROM w WHERE cnt >= 1""".stripMargin),

    // deterministic train/val/test split: per-split counts
    "q_sample_split" -> CatalogQuery((s, d) =>
      Sampling.hashSplit(
          docs(s, d).select("doc_id"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          salt = "split", granularity = 1000)
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs")),
      // replicates Sampling.hashSplit: cumulative bucket thresholds on the
      // granularity grid (0.8/0.1/0.1 at 1000 → 800/900)
      """WITH b AS (SELECT
        |    CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR) || ':split'), 1, 15)) AS BIGINT)
        |      % 1000 AS bkt
        |  FROM documents)
        |SELECT CASE WHEN bkt < 800 THEN 'train'
        |            WHEN bkt < 900 THEN 'val' ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM b GROUP BY 1""".stripMargin),

    // deterministic k-per-group sample: a stable 3-doc eval slice per lang
    "q_sample_group" -> CatalogQuery((s, d) =>
      Sampling.groupSample(
        docs(s, d).select("doc_id", "lang"), "lang", "doc_id", k = 3, salt = "eval"),
      // replicates Sampling.groupSample: lowest (hash, key) k per group
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR) || ':eval'), 1, 15)) AS BIGINT),
        |               doc_id) AS rn
        |  FROM documents) WHERE rn <= 3""".stripMargin),

    // weight-proportional sampling: keep docs at fraction·n_chars/1000
    // (quality/length-weighted corpus draw), summarized per language
    "q_sample_weighted" -> CatalogQuery((s, d) =>
      Sampling.weightedSample(
          docs(s, d).select("doc_id", "lang", "n_chars"),
          "doc_id", "n_chars", fraction = 0.2, refWeight = 1000,
          salt = "wsamp", granularity = 1000)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars")),
      // replicates Sampling.weightedSample: exact integer keep-decision
      // bucket·refWeight < round(fraction·granularity)·weight, HUGEINT math
      """WITH kept AS (
        |  SELECT lang, n_chars FROM documents
        |  WHERE CAST(CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR) || ':wsamp'), 1, 15)) AS BIGINT)
        |          % 1000 AS HUGEINT) * 1000
        |        < 200 * CAST(n_chars AS HUGEINT))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM kept GROUP BY lang""".stripMargin),

    // leakage-safe split: near-dup clusters (star pairs hub → hub+100k,
    // hub+200k over an augmented corpus) land whole in one split — the
    // contamination guard a per-doc hash split cannot give
    "q_sample_leakage" -> CatalogQuery((s, d) => {
      val dd = docs(s, d).select("doc_id", "lang")
      // doc_id < 100000: offsets must not entangle (see q_dedup_canonical)
      val tenth = dd.filter(col("doc_id") % 10 === 0 && col("doc_id") < 100000L)
      val aug = dd
        .unionByName(tenth.withColumn("doc_id", col("doc_id") + lit(100000L)))
        .unionByName(tenth.withColumn("doc_id", col("doc_id") + lit(200000L)))
      val pairs = tenth
        .select(col("doc_id").as("doc_a"), (col("doc_id") + lit(100000L)).as("doc_b"))
        .unionByName(tenth
          .select(col("doc_id").as("doc_a"), (col("doc_id") + lit(200000L)).as("doc_b")))
      Sampling.leakageSafeSplit(aug, "doc_id", pairs, "doc_a", "doc_b",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)),
        salt = "lk", granularity = 1000)
    },
      // replicates Sampling.leakageSafeSplit on the star-pair fixture: the
      // cluster label is the hub (min member id = doc_id % 100000 for
      // copies), singletons keep their own id; then the split is the
      // standard hash-bucket rule on the CLUSTER id
      """WITH aug AS (
        |  SELECT doc_id, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, lang FROM documents WHERE doc_id % 10 = 0 AND doc_id < 100000
        |  UNION ALL
        |  SELECT doc_id + 200000, lang FROM documents WHERE doc_id % 10 = 0 AND doc_id < 100000),
        |g AS (SELECT doc_id, lang,
        |    CASE WHEN doc_id >= 100000 THEN doc_id % 100000 ELSE doc_id END AS split_group
        |  FROM aug),
        |b AS (SELECT *,
        |    CAST(concat('0x', substr(sha256(CAST(split_group AS VARCHAR) || ':lk'), 1, 15)) AS BIGINT)
        |      % 1000 AS bkt
        |  FROM g)
        |SELECT doc_id, lang, split_group,
        |  CASE WHEN bkt < 800 THEN 'train'
        |       WHEN bkt < 900 THEN 'val' ELSE 'test' END AS split
        |FROM b""".stripMargin),

    // deterministic contrastive negatives: 3 hash-ring rotations give every
    // doc exactly 3 negatives AND exactly 3 appearances as a negative —
    // reproducible under retry (no rand()), self-pairs impossible; the
    // oracle re-derives ring ranks and offsets from the same sha recipe
    "q_sample_negatives" -> CatalogQuery((s, d) =>
      Sampling.negativeSample(docs(s, d), "doc_id", k = 3),
      // hash-ring negative sampling replica: ranks from a window (fine at
      // oracle scale), offsets from the same "i:salt" sha recipe, rotation
      // joins on the target rank
      """WITH ring0 AS (SELECT doc_id,
        |    CAST(concat('0x', substr(sha256(concat(CAST(doc_id AS VARCHAR), ':neg')), 1, 15)) AS BIGINT) AS pos
        |  FROM (SELECT DISTINCT doc_id FROM documents)),
        |ring AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY pos, doc_id) - 1 AS rk FROM ring0),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM ring),
        |offs0 AS (SELECT j, CASE WHEN oo = 0 THEN 1 ELSE oo END AS off FROM (
        |  SELECT j, CAST(concat('0x', substr(sha256(concat(CAST(j AS VARCHAR), ':neg')), 1, 15)) AS BIGINT) % cnt AS oo
        |  FROM range(76) t(j) CROSS JOIN n) s),
        |firsts AS (SELECT off, MIN(j) AS fj FROM offs0 GROUP BY off),
        |offs AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY fj) - 1 AS INTEGER) AS i, off
        |  FROM firsts ORDER BY fj LIMIT 3),
        |probes AS (SELECT r.doc_id AS anchor_id, offs.i AS probe_idx,
        |    (r.rk + offs.off) % cnt AS rk
        |  FROM ring r CROSS JOIN offs CROSS JOIN n)
        |SELECT p.anchor_id, p.probe_idx, t.doc_id AS neg_id
        |FROM probes p JOIN ring t ON t.rk = p.rk""".stripMargin))
}
