package graft
package catalog

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Vector similarity (`q_sim_*`, `q_cluster_kmeans` and the embedding dedup
  * rows): exact cosine top-k, LSH, IVF and PQ search, recall, k-means and
  * LSH-blocked embedding near-duplicates.
  */
private[graft] object SimilarityQueries {
  import Fixtures.embs

  /** DuckDB replica of the sha-plane-weight multi-table LSH ANN pipeline
    * (4 tables × 8 planes, matching q_sim_lsh_topk's parameters): exact
    * integer projections → per-table sign buckets → candidate join →
    * fixed-point cosine → top-3. Weight parity for global plane g at
    * position pos = first hex digit of sha256("g:pos") mod 2, exactly
    * [[Similarity.shaPlaneWeight]].
    */
  /** Shared CTE block of the sha-plane-weight LSH oracle replicas for a
    * given (planes, tables) configuration: quantized position explode `e`,
    * exact integer projections `proj` (one per global plane g, weight =
    * parity of sha256("g:pos")'s first hex digit), per-table sign buckets
    * `b`, and squared norms `n`.
    */
  private def lshOracleCtes(
      numPlanes: Int, numTables: Int, src: String = "embeddings"): String = {
    val projCols = (0 until numTables * numPlanes).map { g =>
      s"SUM(qv * CASE WHEN CAST(concat('0x', substr(sha256(concat('$g:', CAST(pos AS VARCHAR))), 1, 1)) AS INTEGER) % 2 = 0 THEN 1 ELSE -1 END) AS p$g"
    }.mkString(",\n    ")
    val tableSelects = (0 until numTables).map { t =>
      val bucket = (0 until numPlanes)
        .map(p => s"(CASE WHEN p${t * numPlanes + p} >= 0 THEN ${1L << p} ELSE 0 END)")
        .mkString(" + ")
      s"SELECT vec_id, $t AS tbl, ($bucket) AS bucket FROM proj"
    }.mkString("\n  UNION ALL ")
    s"""e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
       |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 100000000) AS BIGINT) AS qv
       |  FROM $src),
       |proj AS (SELECT vec_id,
       |    $projCols
       |  FROM e GROUP BY vec_id),
       |b AS ($tableSelects),
       |n AS (SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS n2 FROM e GROUP BY vec_id)""".stripMargin
  }

  private val lshTopKOracleSql: String = {
    s"""WITH ${lshOracleCtes(numPlanes = 8, numTables = 4)},
       |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
       |  FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket
       |  WHERE q.vec_id < 5 AND c.vec_id >= 5),
       |d AS (SELECT query_id, cand_id, CAST(SUM(eq.qv * ec.qv) AS BIGINT) AS dot
       |  FROM cand
       |  JOIN e eq ON eq.vec_id = query_id
       |  JOIN e ec ON ec.vec_id = cand_id AND eq.pos = ec.pos
       |  GROUP BY 1, 2),
       |sc AS (SELECT query_id, cand_id,
       |    CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cosine
       |  FROM d JOIN n nq ON nq.vec_id = query_id JOIN n nc ON nc.vec_id = cand_id)
       |SELECT query_id, cand_id, cosine FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rn
       |  FROM sc) WHERE rn <= 3""".stripMargin
  }

  /** DuckDB replica of the LSH-blocked embedding near-dup pipeline
    * (matching q_dedup_embedding_lsh: 8 planes × 4 tables, sha weights,
    * threshold 0.35): sign buckets → same-(table, bucket) candidate pairs
    * (cross-table distinct) → exact fixed-point cosine → threshold filter.
    */
  private val embeddingLshOracleSql: String =
    s"""WITH ${lshOracleCtes(numPlanes = 8, numTables = 4)},
       |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |  FROM b x JOIN b y ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
       |d AS (SELECT id_a, id_b, CAST(SUM(ea.qv * eb.qv) AS BIGINT) AS dot
       |  FROM cand
       |  JOIN e ea ON ea.vec_id = id_a
       |  JOIN e eb ON eb.vec_id = id_b AND ea.pos = eb.pos
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
       |FROM d JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
       |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.35""".stripMargin

  /** DuckDB replica of the semantic-decontamination pipeline (matching
    * q_dedup_semantic: eval = vec_id % 20 = 0, corpus = rest + verbatim
    * leaks at +500000, 8 planes × 4 tables, sha weights, threshold 0.35):
    * buckets over corpus ∪ eval → corpus×eval same-(table, bucket)
    * candidates → exact fixed-point cosine → contaminated-id anti-join.
    * Id classification is closed-form: eval ⇔ (% 20 = 0 ∧ < 500000),
    * leaked copies ⇔ (% 20 = 0 ∧ ≥ 500000).
    */
  private val semanticDecontaminateOracleSql: String =
    s"""WITH ev AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
       |corpus AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 20 <> 0
       |  UNION ALL SELECT vec_id + 500000, embedding, label FROM embeddings WHERE vec_id % 20 = 0),
       |allv AS (SELECT vec_id, embedding FROM corpus UNION ALL SELECT vec_id, embedding FROM ev),
       |${lshOracleCtes(numPlanes = 8, numTables = 4, src = "allv")},
       |cand AS (SELECT DISTINCT c.vec_id AS cid, q.vec_id AS eid
       |  FROM b c JOIN b q ON c.tbl = q.tbl AND c.bucket = q.bucket
       |  WHERE (c.vec_id % 20 <> 0 OR c.vec_id >= 500000)
       |    AND q.vec_id % 20 = 0 AND q.vec_id < 500000),
       |d AS (SELECT cid, eid, CAST(SUM(ec.qv * eq.qv) AS BIGINT) AS dot
       |  FROM cand
       |  JOIN e ec ON ec.vec_id = cid
       |  JOIN e eq ON eq.vec_id = eid AND ec.pos = eq.pos
       |  GROUP BY 1, 2),
       |cont AS (SELECT DISTINCT cid FROM d
       |  JOIN n nc ON nc.vec_id = cid JOIN n ne ON ne.vec_id = eid
       |  WHERE CAST(dot AS DOUBLE) /
       |    (sqrt(CAST(nc.n2 AS DOUBLE)) * sqrt(CAST(ne.n2 AS DOUBLE))) >= 0.35)
       |SELECT vec_id, label FROM corpus WHERE vec_id NOT IN (SELECT cid FROM cont)""".stripMargin

  /** DuckDB replica of the iters=0 IVF cluster-pruning ANN pipeline
    * (matching q_sim_ivf_topk's parameters: 16 sha-sampled pivots, 4
    * probes, top-3): pivot sample → exact integer assignment scores →
    * argmax corpus cell / top-4 query probes → per-cell candidate join →
    * fixed-point cosine top-3. Pivot hash = first 15 hex chars of
    * sha256(id), exactly [[graft.operators.Similarity.shaPivotHash]].
    */
  /** Brute-force exact cosine top-3 replica at query boundary `qb`
    * (queries = vec_id < qb, candidates = the rest) — the truth side of
    * `q_sim_recall` and the whole of `q_sim_cosine_topk`.
    */
  private def bruteTopKOracleSql(qb: Int): String =
    s"""WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
      |             CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 100000000) AS BIGINT) AS qv
      |           FROM embeddings),
      |n AS (SELECT vec_id, CAST(SUM(qv*qv) AS BIGINT) AS n2 FROM e GROUP BY vec_id),
      |d AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
      |        CAST(SUM(q.qv*c.qv) AS BIGINT) AS dot
      |      FROM e q JOIN e c ON q.pos = c.pos
      |      WHERE q.vec_id < $qb AND c.vec_id >= $qb
      |      GROUP BY 1, 2),
      |sc AS (SELECT query_id, cand_id,
      |        CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cosine
      |       FROM d JOIN n nq ON nq.vec_id = query_id JOIN n nc ON nc.vec_id = cand_id)
      |SELECT query_id, cand_id, cosine FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) rn
      |  FROM sc) WHERE rn <= 3""".stripMargin

  /** DuckDB replica of the COMPOSED IVF-PQ pipeline (q_sim_ivfpq_topk,
    * iters = 0, sha pivot hash): the IVF half (cells from the first-16
    * sha-ordered corpus rows, nearest-cell assignment, nprobe = 4 probes,
    * per-cell candidate pairs) feeds the PQ half (same-sample codebooks,
    * encode argmins, LUT partial dots) restricted to those pairs; ADC
    * ranks k·refine = 6 survivors per query and the exact integer cosine
    * re-ranks to the final 3. Every CTE is lifted verbatim from the two
    * single-method oracles so the composition can only diverge where the
    * composition itself does.
    */
  private def ivfPqTopKOracleSql(qb: Int = 5, subWidth: Int = 16,
      nprobe: Int = 4, surv: Int = 6): String =
    s"""WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
      |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 100000000) AS BIGINT) AS qv
      |  FROM embeddings),
      |es AS (SELECT vec_id, pos // $subWidth AS subsp, pos, qv FROM e),
      |n AS (SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS n2 FROM e GROUP BY vec_id),
      |piv AS (SELECT vec_id AS cell FROM embeddings WHERE vec_id >= $qb
      |  ORDER BY CAST(concat('0x', substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id
      |  LIMIT 16),
      |cdots AS (SELECT a.vec_id AS rid, b.vec_id AS cell, CAST(SUM(a.qv * b.qv) AS BIGINT) AS dot
      |  FROM e a JOIN e b ON a.pos = b.pos JOIN piv ON piv.cell = b.vec_id
      |  GROUP BY 1, 2),
      |sc0 AS (SELECT rid, cell,
      |    CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cs
      |  FROM cdots JOIN n na ON na.vec_id = rid JOIN n nb ON nb.vec_id = cell),
      |ass AS (SELECT rid, cell,
      |    ROW_NUMBER() OVER (PARTITION BY rid ORDER BY cs DESC, cell) AS rn
      |  FROM sc0),
      |cass AS (SELECT rid AS cand_id, cell FROM ass WHERE rid >= $qb AND rn = 1),
      |qass AS (SELECT rid AS query_id, cell FROM ass WHERE rid < $qb AND rn <= $nprobe),
      |cand AS (SELECT DISTINCT query_id, cand_id FROM qass JOIN cass USING (cell)),
      |pivc AS (SELECT vec_id AS code FROM embeddings WHERE vec_id >= $qb
      |  ORDER BY CAST(concat('0x', substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id
      |  LIMIT 16),
      |cb AS (SELECT es.subsp, es.vec_id AS code, es.pos, es.qv FROM es JOIN pivc ON pivc.code = es.vec_id),
      |cbn AS (SELECT subsp, code, CAST(SUM(qv * qv) AS BIGINT) AS cn2 FROM cb GROUP BY 1, 2),
      |cd AS (SELECT a.vec_id, a.subsp, cb.code, CAST(SUM(a.qv * cb.qv) AS BIGINT) AS dot
      |  FROM es a JOIN cb ON cb.subsp = a.subsp AND cb.pos = a.pos
      |  WHERE a.vec_id >= $qb GROUP BY 1, 2, 3),
      |enc AS (SELECT vec_id AS cand_id, subsp, code, cn2 FROM (
      |  SELECT cd.vec_id, cd.subsp, cd.code, cbn.cn2,
      |    ROW_NUMBER() OVER (PARTITION BY cd.vec_id, cd.subsp
      |      ORDER BY cbn.cn2 - 2 * cd.dot ASC, cd.code ASC) AS rn
      |  FROM cd JOIN cbn ON cbn.subsp = cd.subsp AND cbn.code = cd.code)
      |  WHERE rn = 1),
      |lut AS (SELECT q.vec_id AS query_id, cb.subsp, cb.code,
      |    CAST(SUM(q.qv * cb.qv) AS BIGINT) AS pdot
      |  FROM es q JOIN cb ON cb.subsp = q.subsp AND cb.pos = q.pos
      |  WHERE q.vec_id < $qb GROUP BY 1, 2, 3),
      |adc AS (SELECT c.query_id, c.cand_id,
      |    CAST(SUM(lut.pdot) AS DOUBLE) /
      |      (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(SUM(enc.cn2) AS DOUBLE))) AS approx_cosine
      |  FROM cand c
      |  JOIN enc ON enc.cand_id = c.cand_id
      |  JOIN lut ON lut.query_id = c.query_id AND lut.subsp = enc.subsp AND lut.code = enc.code
      |  JOIN n nq ON nq.vec_id = c.query_id
      |  GROUP BY 1, 2, nq.n2),
      |surv AS (SELECT query_id, cand_id FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY approx_cosine DESC, cand_id) AS rn
      |  FROM adc) WHERE rn <= $surv),
      |d AS (SELECT query_id, cand_id, CAST(SUM(eq.qv * ec.qv) AS BIGINT) AS dot
      |  FROM surv
      |  JOIN e eq ON eq.vec_id = query_id
      |  JOIN e ec ON ec.vec_id = cand_id AND eq.pos = ec.pos
      |  GROUP BY 1, 2),
      |sc AS (SELECT query_id, cand_id,
      |    CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cosine
      |  FROM d JOIN n nq ON nq.vec_id = query_id JOIN n nc ON nc.vec_id = cand_id)
      |SELECT query_id, cand_id, cosine FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rn
      |  FROM sc) WHERE rn <= 3""".stripMargin

  private val ivfTopKOracleSql: String =
    """WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
      |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 100000000) AS BIGINT) AS qv
      |  FROM embeddings),
      |n AS (SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS n2 FROM e GROUP BY vec_id),
      |piv AS (SELECT vec_id AS cell FROM embeddings WHERE vec_id >= 5
      |  ORDER BY CAST(concat('0x', substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id
      |  LIMIT 16),
      |dots AS (SELECT a.vec_id AS rid, b.vec_id AS cell, CAST(SUM(a.qv * b.qv) AS BIGINT) AS dot
      |  FROM e a JOIN e b ON a.pos = b.pos JOIN piv ON piv.cell = b.vec_id
      |  GROUP BY 1, 2),
      |sc0 AS (SELECT rid, cell,
      |    CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cs
      |  FROM dots JOIN n na ON na.vec_id = rid JOIN n nb ON nb.vec_id = cell),
      |ass AS (SELECT rid, cell,
      |    ROW_NUMBER() OVER (PARTITION BY rid ORDER BY cs DESC, cell) AS rn
      |  FROM sc0),
      |cass AS (SELECT rid AS cand_id, cell FROM ass WHERE rid >= 5 AND rn = 1),
      |qass AS (SELECT rid AS query_id, cell FROM ass WHERE rid < 5 AND rn <= 4),
      |cand AS (SELECT DISTINCT query_id, cand_id FROM qass JOIN cass USING (cell)),
      |d AS (SELECT query_id, cand_id, CAST(SUM(eq.qv * ec.qv) AS BIGINT) AS dot
      |  FROM cand
      |  JOIN e eq ON eq.vec_id = query_id
      |  JOIN e ec ON ec.vec_id = cand_id AND eq.pos = ec.pos
      |  GROUP BY 1, 2),
      |sc AS (SELECT query_id, cand_id,
      |    CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cosine
      |  FROM d JOIN n nq ON nq.vec_id = query_id JOIN n nc ON nc.vec_id = cand_id)
      |SELECT query_id, cand_id, cosine FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rn
      |  FROM sc) WHERE rn <= 3""".stripMargin

  /** PQ at iters=0: subspace = pos div 16 (dim 64, m 4); codebook = the 16
    * sha-pivot corpus rows' subvectors; encode argmin minimizes
    * |c|² − 2·x·c with ties to the LOWEST code id (the |x|² term is
    * constant within the argmin — dropped identically in both engines);
    * ADC score = Σ partial dots / (|q| · |x̂|) with |x̂|² = Σ chosen |c|².
    * All sums are exact integers (< 2^53), so the doubles agree bit-wise.
    */
  private val pqTopKOracleSql: String =
    """WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
      |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 100000000) AS BIGINT) AS qv
      |  FROM embeddings),
      |es AS (SELECT vec_id, pos // 16 AS subsp, pos, qv FROM e),
      |n AS (SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS n2 FROM e GROUP BY vec_id),
      |piv AS (SELECT vec_id AS code FROM embeddings WHERE vec_id >= 5
      |  ORDER BY CAST(concat('0x', substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id
      |  LIMIT 16),
      |cb AS (SELECT es.subsp, es.vec_id AS code, es.pos, es.qv FROM es JOIN piv ON piv.code = es.vec_id),
      |cbn AS (SELECT subsp, code, CAST(SUM(qv * qv) AS BIGINT) AS cn2 FROM cb GROUP BY 1, 2),
      |cd AS (SELECT a.vec_id, a.subsp, cb.code, CAST(SUM(a.qv * cb.qv) AS BIGINT) AS dot
      |  FROM es a JOIN cb ON cb.subsp = a.subsp AND cb.pos = a.pos
      |  WHERE a.vec_id >= 5 GROUP BY 1, 2, 3),
      |enc AS (SELECT vec_id AS cand_id, subsp, code, cn2 FROM (
      |  SELECT cd.vec_id, cd.subsp, cd.code, cbn.cn2,
      |    ROW_NUMBER() OVER (PARTITION BY cd.vec_id, cd.subsp
      |      ORDER BY cbn.cn2 - 2 * cd.dot ASC, cd.code ASC) AS rn
      |  FROM cd JOIN cbn ON cbn.subsp = cd.subsp AND cbn.code = cd.code)
      |  WHERE rn = 1),
      |lut AS (SELECT q.vec_id AS query_id, cb.subsp, cb.code,
      |    CAST(SUM(q.qv * cb.qv) AS BIGINT) AS pdot
      |  FROM es q JOIN cb ON cb.subsp = q.subsp AND cb.pos = q.pos
      |  WHERE q.vec_id < 5 GROUP BY 1, 2, 3),
      |sc AS (SELECT lut.query_id, enc.cand_id,
      |    CAST(SUM(lut.pdot) AS DOUBLE) /
      |      (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(SUM(enc.cn2) AS DOUBLE))) AS approx_cosine
      |  FROM enc JOIN lut ON lut.subsp = enc.subsp AND lut.code = enc.code
      |  JOIN n nq ON nq.vec_id = lut.query_id
      |  GROUP BY 1, 2, nq.n2)
      |SELECT query_id, cand_id, approx_cosine FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY approx_cosine DESC, cand_id) AS rn
      |  FROM sc) WHERE rn <= 3""".stripMargin

  /** DuckDB replica of the integer-exact k-means (q_cluster_kmeans,
    * k = 8, iters = 2): quantize → sha-sampled seed centroids → per-round
    * (squared-distance argmin assignment, floor-div integer centroid
    * means) unrolled as CTE pairs, exactly
    * [[graft.operators.Clustering.kmeans]]'s spec — truncation to the
    * integer grid is the spec, so the engines can only agree. Floor
    * division in DuckDB is `(s - ((s % cnt + cnt) % cnt)) // cnt` (its
    * `%` truncates like Spark's; the subtraction makes the dividend an
    * exact multiple, so `//`'s rounding mode never engages). Generated
    * from the same (k, iters) constants as the query entry.
    */
  private val kmeansOracleSql: String = {
    val k = 8
    val iters = 2
    def assignCtes(i: Int, cent: String, centn: String): String =
      s"""d$i AS (SELECT a.vec_id, c.cluster, CAST(SUM(a.qv * c.cv) AS BIGINT) AS dot
         |  FROM e a JOIN $cent c ON c.pos = a.pos GROUP BY 1, 2),
         |a$i AS (SELECT vec_id, cluster, sqd FROM (
         |  SELECT d$i.vec_id, d$i.cluster,
         |    n.n2 - 2 * d$i.dot + $centn.cn2 AS sqd,
         |    ROW_NUMBER() OVER (PARTITION BY d$i.vec_id
         |      ORDER BY n.n2 - 2 * d$i.dot + $centn.cn2 ASC, d$i.cluster ASC) AS rn
         |  FROM d$i JOIN n ON n.vec_id = d$i.vec_id
         |  JOIN $centn ON $centn.cluster = d$i.cluster) WHERE rn = 1)""".stripMargin
    def updateCtes(i: Int): String =
      s"""u$i AS (SELECT a$i.cluster, e.pos, CAST(SUM(e.qv) AS BIGINT) AS s,
         |    COUNT(*) AS cnt
         |  FROM a$i JOIN e ON e.vec_id = a$i.vec_id GROUP BY 1, 2),
         |c$i AS (SELECT cluster, pos,
         |    (s - ((s % cnt + cnt) % cnt)) // cnt AS cv FROM u$i),
         |cn$i AS (SELECT cluster, CAST(SUM(cv * cv) AS BIGINT) AS cn2
         |  FROM c$i GROUP BY 1)""".stripMargin
    val rounds = (1 to iters).map(i =>
      assignCtes(i, s"c${i - 1}", s"cn${i - 1}") + ",\n" + updateCtes(i))
      .mkString(",\n")
    val fin = iters + 1
    s"""WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
       |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 100000000) AS BIGINT) AS qv
       |  FROM embeddings),
       |n AS (SELECT vec_id, CAST(SUM(qv * qv) AS BIGINT) AS n2 FROM e GROUP BY vec_id),
       |piv AS (SELECT vec_id AS cluster FROM embeddings
       |  ORDER BY CAST(concat('0x', substr(sha256(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id
       |  LIMIT $k),
       |c0 AS (SELECT piv.cluster, e.pos, e.qv AS cv FROM e JOIN piv ON piv.cluster = e.vec_id),
       |cn0 AS (SELECT cluster, CAST(SUM(cv * cv) AS BIGINT) AS cn2 FROM c0 GROUP BY 1),
       |$rounds,
       |${assignCtes(fin, s"c$iters", s"cn$iters")},
       |ck AS (SELECT cluster, CAST(SUM(cv) AS BIGINT) AS centroid_checksum
       |  FROM c$iters GROUP BY 1)
       |SELECT a$fin.cluster, COUNT(*) AS n_members,
       |  CAST(SUM(sqd // 1000000) AS BIGINT) AS total_sqdist_scaled,
       |  ck.centroid_checksum
       |FROM a$fin JOIN ck ON ck.cluster = a$fin.cluster
       |GROUP BY a$fin.cluster, ck.centroid_checksum""".stripMargin
  }

  val queries: Seq[(String, CatalogQuery)] = Seq(
    // unit-length embedding normalization (bit-reproducible doubles),
    // exploded to scalar rows (vec_id, pos, unit_v) so the cross-engine
    // comparator checks every component individually
    "q_sim_normalize" -> CatalogQuery((s, d) =>
      embs(s, d).select(
        col("vec_id"),
        posexplode(Similarity.l2Normalize(col("embedding"))).as(Seq("pos", "unit_v"))),
      // replicates Similarity.l2Normalize: the norm's fold is sequential in
      // element order on both sides (list_reduce ≙ the kernel's acc loop),
      // so the doubles are bit-identical; unnested to scalar rows to match
      // the posexplode'd Spark output component-by-component
      """SELECT vec_id,
        |  CAST(generate_subscripts(unit, 1) - 1 AS INTEGER) AS pos,
        |  unnest(unit) AS unit_v
        |FROM (SELECT vec_id,
        |        CASE WHEN n2 IS NULL OR n2 = 0 THEN de
        |             ELSE list_transform(de, v -> v / sqrt(n2)) END AS unit
        |      FROM (SELECT vec_id,
        |              list_transform(embedding, v -> CAST(v AS DOUBLE)) AS de,
        |              list_reduce(
        |                list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)),
        |                (a, b) -> a + b) AS n2
        |            FROM embeddings))""".stripMargin),

    "q_sim_cosine_topk" -> CatalogQuery((s, d) =>
      Similarity.bruteForceTopK(embs(s, d), "vec_id", "embedding", col("vec_id") < 5, k = 3),
      bruteTopKOracleSql(5)),

    // sha-derived plane weights make the bucket assignment reproducible in
    // DuckDB, so the oracle replicates the WHOLE ANN pipeline (projections →
    // buckets → candidate join → exact quantized scoring → top-k) rather
    // than settling for a rows-only check. Production callers keep the
    // xxhash64 default weights (faster, same structure).
    "q_sim_lsh_topk" -> CatalogQuery((s, d) =>
      Similarity.lshBucketedTopK(embs(s, d), "vec_id", "embedding", col("vec_id") < 5, k = 3,
        numPlanes = 8, numTables = 4, weight = Similarity.shaPlaneWeight),
      lshTopKOracleSql),

    // IVF cluster-pruning configuration (iters = 0, sha pivot hash): pivot
    // selection, cell assignment, probing and scoring are all exact integer
    // math on the quantized arrays, so DuckDB replicates the whole pipeline
    // (pivot sample → argmax cell → nprobe probes → candidate join → exact
    // cosine top-k). Production callers use the Lloyd-refined default.
    "q_sim_ivf_topk" -> CatalogQuery((s, d) =>
      Similarity.ivfTopK(embs(s, d), "vec_id", "embedding", col("vec_id") < 5, k = 3,
        nlist = 16, nprobe = 4, iters = 0, pivotHash = Similarity.shaPivotHash),
      ivfTopKOracleSql),

    // product-quantized ADC top-k at iters = 0 with the sha pivot hash:
    // codebook seeding, encoding argmins, LUT partial dots and the
    // reconstructed-norm cosine are all integer-exact and replicated in
    // the DuckDB oracle. Production callers use Lloyd-refined codebooks
    // (iters > 0) and compose with ivfTopK for candidate pruning.
    "q_sim_pq_topk" -> CatalogQuery((s, d) =>
      Similarity.pqTopK(embs(s, d), "vec_id", "embedding", col("vec_id") < 5, k = 3,
        m = 4, ncode = 16, iters = 0, pivotHash = Similarity.shaPivotHash),
      pqTopKOracleSql),

    // the COMPOSED standard layout: IVF cells prune candidates (nprobe=4 of
    // 16), PQ-ADC scores only the survivors (m=4 LUT lookups per pair),
    // exact fixed-point re-rank over the 2k ADC winners. iters=0 + sha
    // pivot hash keeps every stage integer-exact, so the DuckDB oracle
    // replicates the full three-stage pipeline
    "q_sim_ivfpq_topk" -> CatalogQuery((s, d) =>
      Similarity.ivfPqTopK(embs(s, d), "vec_id", "embedding", col("vec_id") < 5, k = 3,
        nlist = 16, nprobe = 4, m = 4, ncode = 16, iters = 0, refine = 2,
        pivotHash = Similarity.shaPivotHash),
      ivfPqTopKOracleSql()),

    // catalog-level ANN RECALL row: per query (20 of them), how many of
    // the exact brute-force top-3 the composed IVF-PQ pipeline recovered —
    // the recall-vs-latency observable of the round-9 recall sweep, in the
    // oracle-checked catalog, so a banding/probing regression shows up as
    // a hash mismatch, not a silent recall drop. Operating point chosen by
    // a parameter sweep on this corpus: nprobe 8/16 cells, m = 16 (4-dim
    // subspaces — these embeddings are near-uniform, so coarser PQ is
    // ADC-noise), refine 16 → 45/60 hits (75%); the q_sim_ivfpq_topk
    // demo point (nprobe 4, m 4, refine 2) sits at 10%. Both sides are
    // integer-exact (sha pivots, iters = 0), so DuckDB replays ann AND
    // brute and the hit counts match bit-for-bit.
    "q_sim_recall" -> CatalogQuery((s, d) => {
      val e = embs(s, d)
      val q = col("vec_id") < 20
      val ann = Similarity.ivfPqTopK(e, "vec_id", "embedding", q, k = 3,
          nlist = 16, nprobe = 8, m = 16, ncode = 16, iters = 0, refine = 16,
          pivotHash = Similarity.shaPivotHash)
        .select(col("query_id"), col("cand_id"), lit(1).as("__hit"))
      Similarity.bruteForceTopK(e, "vec_id", "embedding", q, k = 3)
        .select("query_id", "cand_id")
        .join(ann, Seq("query_id", "cand_id"), "left")
        .groupBy("query_id")
        .agg(count(col("__hit")).as("hits"))
        .withColumn("k", lit(3L))
    },
      // recall replica: LEFT JOIN the brute-force top-3 (per-query truth)
      // against the composed IVF-PQ top-3, both at query boundary 20 —
      // COUNT(matched) per query IS the recall numerator
      s"""SELECT b.query_id, CAST(COUNT(a.cand_id) AS BIGINT) AS hits,
        |  CAST(3 AS BIGINT) AS k
        |FROM (${bruteTopKOracleSql(20)}) b
        |LEFT JOIN (${ivfPqTopKOracleSql(qb = 20, subWidth = 4, nprobe = 8, surv = 48)}) a
        |  ON a.query_id = b.query_id AND a.cand_id = b.cand_id
        |GROUP BY b.query_id""".stripMargin),

    // targetChunkSize 25 exercises the triangle sub-chunking at test scale
    // (sf0.1's 200-row label blocks split into 8 chunks → 36 pair-tasks per
    // block instead of ONE task per label); the output is identical at any
    // chunk size, so the oracle is chunking-agnostic.
    "q_dedup_embedding" -> CatalogQuery((s, d) =>
      Similarity.embeddingNearDuplicates(embs(s, d), "vec_id", "embedding", "label",
        threshold = 0.35, targetChunkSize = 25),
      """WITH t AS (SELECT vec_id, label,
        |    list_transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE)*100000000) AS BIGINT)) AS ql
        |  FROM embeddings),
        |e AS (SELECT vec_id, label,
        |    CAST(list_sum(list_transform(ql, x -> x*x)) AS BIGINT) AS n2,
        |    generate_subscripts(ql, 1) AS pos, unnest(ql) AS qv FROM t),
        |d AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(SUM(a.qv*b.qv) AS BIGINT) AS dot,
        |        MIN(a.n2) AS na, MIN(b.n2) AS nb
        |      FROM e a JOIN e b ON a.pos = b.pos AND a.label = b.label AND a.vec_id < b.vec_id
        |      GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
        |FROM d
        |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= 0.35""".stripMargin),

    // The 100 TB usage of embedding near-dup: no caller-chosen block —
    // multi-table LSH buckets (8 planes × 4 tables) generate candidates,
    // so candidate cost is Σ bucket² per table instead of N²/L within
    // coarse label blocks. 8 planes = 256 buckets/table keeps expected
    // bucket size O(N/256); the earlier 4-plane demo had a CONSTANT 16
    // buckets per table, i.e. O(N²/16) candidates — nearly all-pairs.
    // sha weights keep the whole pipeline replicable in the DuckDB oracle
    // (which recomputes the same buckets at any plane count); production
    // callers use the xxhash64 default (16 planes × 8 tables).
    "q_dedup_embedding_lsh" -> CatalogQuery((s, d) =>
      Similarity.lshNearDuplicates(embs(s, d), "vec_id", "embedding", threshold = 0.35,
        numPlanes = 8, numTables = 4, weight = Similarity.shaPlaneWeight),
      embeddingLshOracleSql),

    // semantic decontamination: every 20th embedding row is the "eval
    // suite"; the corpus is the rest plus leaked verbatim eval copies
    // (+500000) — copies bucket with their eval twin in every table
    // (cosine ≈ 1.0), so they MUST drop; real corpus rows above 0.35
    // cosine to any eval row drop too, all replicated by the oracle.
    "q_dedup_semantic" -> CatalogQuery((s, d) => {
      val ee = embs(s, d).select("vec_id", "embedding", "label")
      val eval = ee.filter(col("vec_id") % 20 === 0)
      val corpus = ee.filter(col("vec_id") % 20 =!= 0)
        .unionByName(eval.withColumn("vec_id", col("vec_id") + lit(500000L)))
      Similarity.semanticDecontaminate(corpus, "vec_id", "embedding",
          eval, "vec_id", "embedding", threshold = 0.35,
          numPlanes = 8, numTables = 4, weight = Similarity.shaPlaneWeight)
        .select("vec_id", "label")
    },
      semanticDecontaminateOracleSql),

    // integer-exact k-means over the embeddings (8 sha-sampled seeds, 2
    // Lloyd rounds on the 10⁸ quantization grid, floor-div centroid
    // means): per-cluster sizes, scaled inertia, centroid checksum — the
    // oracle replays the identical iterations unrolled as SQL
    "q_cluster_kmeans" -> CatalogQuery((s, d) =>
      graft.operators.Clustering.kmeans(embs(s, d), "vec_id", "embedding",
        k = 8, iters = 2),
      kmeansOracleSql))
}
