package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Deduplication operators for large-scale corpus cleaning: exact,
  * fingerprint, n-gram/word-set Jaccard, MinHash+LSH and SimHash.
  *
  * Scale design: every variant is a pure dataflow of narrow maps +
  * key-partitioned shuffles (group-bys and equi-joins) — no driver-side
  * loops, no collect — so each runs unchanged on a 1000-executor cluster.
  * The pairwise variants ([[jaccardPairs]]) block candidates first (by a
  * caller-chosen blocking column, or by LSH band buckets) so the quadratic
  * comparison only happens inside small buckets.
  */
object Dedup {

  /** Posting-list segment size for [[jaccardPairs]]' chunked pair emission:
    * one emission row holds at most PairChunk² pair structs (~2.6×10⁵ at
    * 512 — a few MB), independent of the caller's `maxDf`.
    */
  private val PairChunk = 512

  /** Exact duplicate groups over `groupCols`: one row per duplicated value
    * combination, with the lowest id kept as the canonical survivor.
    * Plain hash-aggregation — one shuffle on the group columns, map-side
    * partial aggregation included for free.
    */
  def exactDuplicateGroups(df: DataFrame, idCol: String, groupCols: Seq[String]): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** Survivor view: drop all but the canonical (min-id) row per duplicate
    * group. Equivalent to `dropDuplicates(groupCols)` but with a
    * DETERMINISTIC survivor (dropDuplicates keeps an arbitrary row).
    */
  def dropExactDuplicates(df: DataFrame, idCol: String, groupCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCols.map(col): _*)
    df.withColumn("__min_id", min(col(idCol)).over(w))
      .filter(col(idCol) === col("__min_id"))
      .drop("__min_id")
  }

  /** Fingerprint dedup: exact dedup over the whitespace-normalized sha256
    * fingerprint of `textCol` — catches formatting-only near-copies.
    */
  def fingerprintDuplicateGroups(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    require(!df.columns.contains("__fp"),
      "input already has a '__fp' column (reserved as this helper's scratch name) — rename it first")
    exactDuplicateGroups(
      df.withColumn("__fp", TextAnalysis.fingerprint(col(textCol))),
      idCol,
      Seq("__fp")).drop("__fp")
  }

  /** Incremental ingest dedup: keep only the rows of `df` whose
    * whitespace-normalized fingerprint does NOT appear in `seen` (a frame
    * with a `fingerprint` column — typically the persisted fingerprint
    * table of the historical corpus). The daily-batch shape of
    * [[dropExactDuplicates]]: dedup N new rows against B billion seen ones
    * without touching the historical TEXT at all — the anti-join ships
    * only 64-char hashes, shuffles both sides by a uniform sha key
    * (skew-free), and AQE broadcasts `seen` whenever a day's fingerprint
    * set is small enough. New-batch-internal duplicates are NOT collapsed
    * here — run [[dropExactDuplicates]] on the survivors for that.
    */
  def dropSeenDocuments(df: DataFrame, textCol: String, seen: DataFrame): DataFrame = {
    require(seen.columns.contains("fingerprint"),
      s"seen frame needs a 'fingerprint' column, has: ${seen.columns.mkString(", ")}")
    require(!df.columns.contains("__fp"),
      "input already has a '__fp' column (reserved as this helper's scratch name) — rename it first")
    df.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .join(seen.select(col("fingerprint").as("__fp")), Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** Corpus-level exact LINE dedup (the C4/RefinedWeb boilerplate pass):
    * a line at least `minChars` long (after trim) survives only in its
    * globally FIRST occurrence — ordered by (doc id, line position) — and
    * is dropped from every later document; shorter lines (headings, blanks,
    * list bullets) always survive. Documents are reassembled with surviving
    * lines in their original order. Output: one row per input document —
    * (doc, clean_text, n_lines_kept, n_lines_dropped).
    *
    * Scale design: the global first-occurrence vote runs over (doc, pos,
    * sha256(line)) METADATA — the window partitions by the line hash, so
    * full line text is never shuffled for voting. Text is shuffled exactly
    * once (the per-document reassembly group-by), and the kept-position
    * list joins it co-partitioned on the doc id. Line-hash partitions are
    * at most corpus-duplicate-count deep, and the pathological key (the
    * empty/short line, which can appear billions of times) is excluded
    * from the vote entirely by the `minChars` gate.
    */
  def dropRepeatedLines(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minChars: Int = 30): DataFrame = {
    require(minChars >= 1, s"minChars must be >= 1, got $minChars")
    require(Seq(idCol, textCol).forall(df.columns.contains),
      s"input needs columns '$idCol' and '$textCol', has: ${df.columns.mkString(", ")}")
    val lines = df
      .select(col(idCol).as("doc"), posexplode(split(col(textCol), "\n")))
      .withColumnRenamed("col", "line")
    val meta = lines.select(
      col("doc"), col("pos"),
      sha2(col("line"), 256).as("__h"),
      (length(trim(col("line"))) >= minChars).as("__dedupable"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__h").orderBy(col("doc"), col("pos"))
    val keptPos = meta.filter(col("__dedupable"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("doc", "pos")
      .unionAll(meta.filter(!col("__dedupable")).select("doc", "pos"))
      .groupBy("doc").agg(collect_list(col("pos")).as("__keep"))
    lines
      .groupBy("doc")
      .agg(sort_array(collect_list(struct(col("pos"), col("line")))).as("__ls"))
      // left join: a document whose EVERY line is a corpus-duplicate has no
      // keptPos row but must still appear (with empty clean_text), or the
      // "one row per input document" contract breaks
      .join(keptPos, Seq("doc"), "left")
      .withColumn("__keep",
        coalesce(col("__keep"), array().cast("array<int>")))
      // Linear reassembly: posexplode positions are contiguous 0..n−1 and
      // `__ls` is sorted by pos, so `__ls[p]` IS the line at position p —
      // index the kept positions directly (O(1) per element) instead of
      // scanning `__keep` per line (array_contains made a million-line
      // pathological document quadratic in-row). Sorting `__keep` restores
      // original line order: O(n + k log k) per document total.
      .select(
        col("doc"),
        concat_ws("\n",
          transform(
            array_sort(col("__keep")),
            p => element_at(col("__ls"), p + 1).getField("line"))).as("clean_text"),
        size(col("__keep")).cast("long").as("n_lines_kept"),
        (size(col("__ls")) - size(col("__keep"))).cast("long").as("n_lines_dropped"))
  }

  /** Cross-document duplicated-SPAN removal — the acting half of
    * [[graft.functions.TextAnalysis.duplicatedWindowStats]] and the
    * distributed form of exact-substring train-data dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): every
    * token covered by a `w`-token window occurring ≥ `minCount` times in
    * the corpus is removed, EXCEPT in the span's first occurrence (min
    * (doc, pos)) — one canonical copy of each repeated span survives, every
    * re-paste (license boilerplate, quoted articles, templated footers)
    * disappears while the surrounding unique prose stays. Within-document
    * repetition collapses the same way. Output: one row per input document
    * — (doc, clean_text, n_tokens_kept, n_tokens_dropped), clean_text
    * re-joined with single spaces (whitespace-normalized like every
    * tokenizing operator here).
    *
    * Scale design: the first-occurrence vote runs over (doc, pos,
    * sha256(window)) METADATA — window text never shuffles for voting —
    * and it is an AGGREGATION (`count` + `min(struct(doc, pos))` with
    * map-side combine), not a window function: a boilerplate window
    * repeated 10⁹ times corpus-wide collapses per executor before the
    * shuffle, and the count-back equi-join is AQE-skew-splittable, where
    * a `row_number() over (partition by hash)` would pin the hot hash in
    * ONE unsplittable sort partition. Covered positions aggregate per doc
    * (array bounded by the document's own token count), and the
    * reassembly joins them back with the corpus frame — the covered-doc
    * side is the duplicate minority, so AQE broadcasts it and the corpus
    * never shuffles. Reassembly is linear per row: `array_except` over
    * the contiguous position range (hash-set build, no per-token scan).
    */
  def dropDuplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 5,
      minCount: Int = 2): DataFrame = {
    require(w >= 2, s"window size must be >= 2, got $w")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    // NULL text coalesces to '' (tokenizes to [""], the repo-wide empty-doc
    // convention): a NULL __tk would give size = -1 under legacy sizeOfNull
    // and a DESCENDING position sequence — negative kept-counts downstream
    val base = df.select(
      col(idCol).as("doc"),
      TextAnalysis.tokens(coalesce(col(textCol), lit(""))).as("__tk"))
    // 128-bit BINARY hash key (16 bytes) instead of the 64-char sha hex
    // string: the voting aggregation and count-back join shuffle every
    // window row, so key width IS the shuffle volume — the hex form was
    // ~70 bytes/row at the sf10 rung (1.85 GB per exchange), the binary
    // prefix ~22. Collision-freedom at 2¹²⁸ is as good as the full
    // digest's for any corpus that fits on hardware.
    val wins = base
      .select(col("doc"), posexplode(TextAnalysis.windowsOfWords(col("__tk"), w)))
      .select(col("doc"), col("pos"),
        unhex(substring(sha2(col("col"), 256), 1, 32)).as("__h"))
    val meta = wins
      .groupBy("__h")
      .agg(
        count(lit(1)).as("__cnt"),
        min(struct(col("doc"), col("pos"))).as("__first"))
      .filter(col("__cnt") >= minCount)
      .select(col("__h"), col("__first"))
    // Both probe joins are HINTED shuffle-hash on the duplicate-minority
    // side (meta = windows occurring ≥ minCount, cover = docs with any
    // covered span): left to AQE the builds sit near the broadcast
    // threshold and the strategy flips run-to-run between broadcast and
    // sort-merge — the SMJ mode sorts the full window stream / the full
    // token-array corpus frame, measured 2.7× slower at the sf10 rung
    // (38 s vs 14 s, bimodal). A hash build on the minority side never
    // sorts either side; its per-partition memory is bounded by the same
    // partitions-sized-to-data contract every aggregation here relies on.
    val cover = wins
      .join(meta.hint("shuffle_hash"), "__h")
      .filter(!(col("doc") === col("__first.doc") && col("pos") === col("__first.pos")))
      .select(col("doc"), explode(sequence(col("pos"), col("pos") + (w - 1))).as("cpos"))
      .groupBy("doc")
      .agg(collect_set(col("cpos")).as("__cov"))
    base
      .join(cover.hint("shuffle_hash"), Seq("doc"), "left")
      .withColumn("__cov", coalesce(col("__cov"), array().cast("array<int>")))
      .select(
        col("doc"),
        concat_ws(" ",
          transform(
            array_except(sequence(lit(0), size(col("__tk")) - 1), col("__cov")),
            p => element_at(col("__tk"), p + 1))).as("clean_text"),
        (size(col("__tk")) - size(col("__cov"))).cast("long").as("n_tokens_kept"),
        size(col("__cov")).cast("long").as("n_tokens_dropped"))
  }

  /** Word-set Jaccard near-duplicate pairs (exact, set-similarity join).
    *
    * Classic distributed set-similarity join: explode each document's
    * DISTINCT tokens, self-equi-join on (token, blocking key) to generate
    * co-occurrence counts, then jaccard = |∩| / (|A| + |B| − |∩|). The
    * token join IS the candidate generation — documents sharing no token
    * never meet, and the blocking column (e.g. language) keeps hot tokens
    * from joining across unrelated partitions of the corpus.
    *
    * At 100 TB add a document-frequency cap on join tokens (prefix
    * filtering) — see [[minhashCandidatePairs]] for the sub-quadratic path.
    */
  /** Materialize the words array in its own projection (so the set
    * expression references a computed attribute instead of re-splitting the
    * text for every element access) and spread rows across the cluster —
    * single-file inputs otherwise run the whole tokenize+join pipeline in
    * ONE task.
    */
  /** The (doc, …, __set) frame is consumed several times by every pairwise
    * operator (postings, sizes, verify-joins). A lazy localCheckpoint
    * materializes it once per job and — unlike `persist` — is released by
    * the ContextCleaner when the frame becomes unreachable, so operators
    * don't leak cache entries into long-lived sessions. Tradeoff: truncated
    * lineage means an executor loss re-runs the job instead of recomputing
    * the partition — acceptable for a cheap, deterministic derivation.
    */
  private def tokenSets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      extraCols: Seq[(String, String)],
      tokenizer: Column => Column): DataFrame =
    df.select(
        col(idCol).as("doc") +:
          extraCols.map { case (c, a) => col(c).as(a) } :+
          TextAnalysis.tokens(col(textCol)).as("__words"): _*)
      .repartition(col("doc"))
      // Defensive distinct: every consumer treats __set as a SET — sizes
      // come from size(__set) and intersections from count-joins over the
      // exploded rows, both of which silently overcount (Σ mult_a·mult_b)
      // if a caller-supplied tokenizer returns a multiset. array_distinct
      // is a no-op for the built-in tokenizers, which already dedupe.
      .withColumn("__set", array_distinct(tokenizer(col("__words"))))
      .drop("__words")
      .localCheckpoint(false)

  /** @param tokenizer maps the materialized WORDS ARRAY column to the
    *        similarity set — default 3-gram shingles; `array_distinct(_)`
    *        gives word-set Jaccard.
    * @param maxDf document-frequency cap (prefix filtering): a token
    *        appearing in more than `maxDf` documents of a block is removed
    *        from the SIMILARITY UNIVERSE entirely — candidate generation,
    *        intersection counts and set sizes all operate on the df ≤ maxDf
    *        token space, and the returned jaccard is exact over that space
    *        (the same move as stopword removal: hot boilerplate shingles
    *        carry no similarity signal). Without the cap one hot shingle
    *        (license text, repeated headers) materializes its full posting
    *        list in a single row and emits k² pairs — the classic
    *        set-similarity-join blowup at corpus scale. Pairs sharing ONLY
    *        hot tokens are not reported; documents whose every token is hot
    *        drop out. At the default cap no test-scale corpus has a hot
    *        token, so the full-space brute-force oracle matches bit-for-bit.
    *        Memory is NOT the cap's job: pair emission is chunked into
    *        [[PairChunk]]-sized segment rows, so even a caller-raised maxDf
    *        cannot materialize a posting list's k²/2 pairs in one row — a
    *        huge cap costs wall-time (the pair count itself), never an
    *        executor OOM.
    * @param dropsMetric optional name of an observed metric
    *        `dropped_tokens` = #(block, token) posting lists the cap
    *        discarded, so operators can alert on corpora where the cap
    *        bites. Read it with [[droppedTokens]] from the frame an action
    *        ran (the returned frame, or one derived from it) after that
    *        action. A named `observe` instead of an `Observation`: the
    *        latter registers Spark's `ObservationManager` on the session,
    *        whose listener then logs an error for every later query in
    *        that session that fails analysis.
    */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      threshold: Double,
      tokenizer: Column => Column = TextAnalysis.shinglesOfWords(_),
      maxDf: Int = 1000,
      dropsMetric: Option[String] = None): DataFrame =
    pairIntersections(df, idCol, textCol, blockCol, tokenizer, maxDf, dropsMetric)
      .withColumn(
        "jaccard",
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** Max-containment near-duplicate pairs:
    * C(A, B) = |A ∩ B| / min(|A|, |B|) — the asymmetric overlap measure
    * that catches a short document embedded verbatim in a longer one
    * (excerpts, quoted articles, a README pasted into a larger page).
    * Symmetric Jaccard structurally misses these: a 100-shingle doc inside
    * a 10 000-shingle doc scores J ≈ 0.01 but C = 1.0. Same blocked,
    * df-capped, chunk-emitted machinery (and the same exact-over-the-
    * capped-token-space semantics) as [[jaccardPairs]] — only the final
    * ratio differs.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      threshold: Double,
      tokenizer: Column => Column = TextAnalysis.shinglesOfWords(_),
      maxDf: Int = 1000,
      dropsMetric: Option[String] = None): DataFrame =
    pairIntersections(df, idCol, textCol, blockCol, tokenizer, maxDf, dropsMetric)
      .withColumn(
        "containment",
        col("inter").cast("double") / least(col("na"), col("nb")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")

  /** The `dropped_tokens` count observed under `name` by a
    * [[jaccardPairs]] or [[containmentPairs]] call given
    * `dropsMetric = Some(name)`, read from `ran`: the frame an action
    * (`collect`, a write, `queryExecution.toRdd`) executed. `count()`
    * runs a plan of its own and leaves `ran`'s metrics unfilled.
    */
  def droppedTokens(ran: DataFrame, name: String): Long =
    ran.queryExecution.observedMetrics(name).getAs[Long]("dropped_tokens")

  /** Shared pairwise-intersection core of [[jaccardPairs]] /
    * [[containmentPairs]]: `(doc_a, doc_b, inter, na, nb)` for every
    * within-block document pair sharing ≥ 1 token with df ≤ `maxDf` —
    * intersection counts AND set sizes both live in the capped token
    * space, so any ratio derived from them is exact over that space.
    */
  private def pairIntersections(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      tokenizer: Column => Column,
      maxDf: Int,
      dropsMetric: Option[String]): DataFrame = {
    // Single tokenize pass: gather each token's (sorted, df-capped) posting
    // list and emit the pair combinations in-row — no self-join, so the
    // tokenize subtree is evaluated once and the only shuffles are the
    // group-bys. Intersections come from per-pair co-occurrence counts and
    // set sizes from the capped posting lists, so both live in the SAME
    // df ≤ maxDf token space and the ratio is exact over it. (A
    // verify-from-full-sets variant was measured 5-7× slower: every
    // candidate pair shipped two full shingle arrays through a join and
    // paid a per-pair array_intersect hash build.)
    // IMPORTANT: the explode projection must NOT also compute size(__set) —
    // Generate inlines the set expression, so a sibling size() re-evaluates
    // the whole shingle construction per exploded row (measured ~20× at
    // sf0.1). The two consumers of the posting aggregation share its
    // shuffle via exchange reuse.
    val tokenized = tokenSets(df, idCol, textCol, Seq(blockCol -> "blk"), tokenizer)
    val toks = tokenized.select(col("doc"), col("blk"), explode(col("__set")).as("tok"))
    val counted = toks
      .groupBy("blk", "tok")
      .agg(sort_array(collect_list(col("doc"))).as("ds"))
    val observed = dropsMetric match {
      case Some(name) => counted.observe(
        name, sum(when(size(col("ds")) > maxDf, 1L).otherwise(0L)).as("dropped_tokens"))
      case None => counted
    }
    // sizes in the capped space: |doc| = #tokens of the doc with df <= maxDf
    val sizes = counted
      .where(size(col("ds")) <= maxDf)
      .select(explode(col("ds")).as("doc"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n"))
    // Chunked pair emission: the sorted posting list is cut into segments of
    // `PairChunk` ids and ONE ROW is emitted per (i ≤ j) segment pair — the
    // in-segment row emits its C(chunk,2) pairs, a cross row the full
    // chunk_i × chunk_j grid (sortedness keeps a < b across segments). Total
    // pair count is unchanged (the per-pair count aggregation downstream is
    // emission-shape-blind), but the WORST SINGLE ROW is now ≤ PairChunk²
    // structs no matter what `maxDf` a caller passes — previously a raised
    // cap re-opened the k²/2-structs-in-one-row OOM this bound exists to
    // prevent. Lists within one chunk take the single-row fast path
    // unchanged.
    val nc = ceil(size(col("ds")).cast("double") / PairChunk).cast("int")
    observed
      .where(size(col("ds")) >= 2 && size(col("ds")) <= maxDf)
      .select(explode(flatten(transform(sequence(lit(0), nc - 1), i =>
        transform(sequence(i, nc - 1), j => struct(
          slice(col("ds"), i * PairChunk + 1, lit(PairChunk)).as("ca"),
          slice(col("ds"), j * PairChunk + 1, lit(PairChunk)).as("cb"),
          (i === j).as("same")))))).as("cp"))
      .select(explode(
        when(col("cp.same"),
          flatten(transform(col("cp.ca"), (x, k) =>
            transform(
              slice(col("cp.ca"), k + lit(2), size(col("cp.ca"))),
              y => struct(x.as("a"), y.as("b"))))))
        .otherwise(
          flatten(transform(col("cp.ca"), x =>
            transform(col("cp.cb"), y => struct(x.as("a"), y.as("b"))))))).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc").as("doc_b"), col("n").as("nb")), "doc_b")
  }

  /** Cross-DATASET record linkage: Jaccard near-match pairs between TWO
    * frames — entity resolution across datasets (two crawls, a vendor feed
    * vs a master catalog) where A–A and B–B pairs must never emit. Same
    * blocked, df-capped, chunk-emitted machinery as [[jaccardPairs]], but
    * the per-(block, token) posting lists keep the two sides separate and
    * pair emission is the CROSS grid (|la| × |lb| per chunk row), never a
    * triangle. A (block, token) whose COMBINED posting length exceeds
    * `maxDf` leaves the similarity universe — sizes and intersections both
    * live in the capped space, so the ratio stays exact over it. Output:
    * `(a_id, b_id, jaccard)`.
    */
  def linkPairs(
      a: DataFrame,
      b: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      threshold: Double,
      tokenizer: Column => Column = TextAnalysis.shinglesOfWords(_),
      maxDf: Int = 1000): DataFrame = {
    val toks =
      tokenSets(a, idCol, textCol, Seq(blockCol -> "blk"), tokenizer)
        .select(lit(0).as("side"), col("doc"), col("blk"), explode(col("__set")).as("tok"))
        .unionByName(
          tokenSets(b, idCol, textCol, Seq(blockCol -> "blk"), tokenizer)
            .select(lit(1).as("side"), col("doc"), col("blk"), explode(col("__set")).as("tok")))
    // collect_list(when(...)) drops the other side's NULLs — one aggregation
    // yields both posting lists, sorted for deterministic chunk boundaries
    val counted = toks
      .groupBy("blk", "tok")
      .agg(
        sort_array(collect_list(when(col("side") === 0, col("doc")))).as("la"),
        sort_array(collect_list(when(col("side") === 1, col("doc")))).as("lb"))
      .where(size(col("la")) + size(col("lb")) <= maxDf)
    val sizesA = counted.select(explode(col("la")).as("doc"))
      .groupBy("doc").agg(count(lit(1)).as("n"))
    val sizesB = counted.select(explode(col("lb")).as("doc"))
      .groupBy("doc").agg(count(lit(1)).as("n"))
    val nca = ceil(size(col("la")).cast("double") / PairChunk).cast("int")
    val ncb = ceil(size(col("lb")).cast("double") / PairChunk).cast("int")
    counted
      .where(size(col("la")) >= 1 && size(col("lb")) >= 1)
      .select(explode(flatten(transform(sequence(lit(0), nca - 1), i =>
        transform(sequence(lit(0), ncb - 1), j => struct(
          slice(col("la"), i * PairChunk + 1, lit(PairChunk)).as("ca"),
          slice(col("lb"), j * PairChunk + 1, lit(PairChunk)).as("cb")))))).as("cp"))
      .select(explode(
        flatten(transform(col("cp.ca"), x =>
          transform(col("cp.cb"), y => struct(x.as("a"), y.as("b")))))).as("p"))
      .groupBy(col("p.a").as("a_id"), col("p.b").as("b_id"))
      .agg(count(lit(1)).as("inter"))
      .join(sizesA.select(col("doc").as("a_id"), col("n").as("na")), "a_id")
      .join(sizesB.select(col("doc").as("b_id"), col("n").as("nb")), "b_id")
      .withColumn(
        "jaccard",
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Fuzzy near-dup pairs, CONFIRMED by edit distance: generate candidates
    * cheaply with the blocked [[jaccardPairs]] at a permissive
    * `candidateThreshold`, then keep only pairs whose full texts are within
    * `maxEdits` Levenshtein operations — the standard two-stage shape for
    * template/boilerplate dedup, where token-set overlap alone can't
    * distinguish "same page, one field changed" from "same vocabulary,
    * different page".
    *
    * Scale: Levenshtein is O(|a|·|b|) per pair, so it must NEVER run on the
    * full N² — it runs only on the candidate pairs (bounded by the blocked,
    * df-capped generator), and texts travel only for candidate ids: two
    * co-partitioned joins ship each candidate's text once, then the DP
    * scoring is in-row. Spark's `levenshtein` is codegen'd; the integer
    * distance makes the output engine-exact (DuckDB `levenshtein` computes
    * the same metric).
    */
  def editVerifiedPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      candidateThreshold: Double,
      maxEdits: Int,
      maxDf: Int = 1000): DataFrame = {
    require(maxEdits >= 0, s"maxEdits must be >= 0, got $maxEdits")
    val texts = df.select(col(idCol), col(textCol))
    jaccardPairs(df, idCol, textCol, blockCol, candidateThreshold, maxDf = maxDf)
      .join(texts.select(col(idCol).as("doc_a"), col(textCol).as("__ta")), "doc_a")
      .join(texts.select(col(idCol).as("doc_b"), col(textCol).as("__tb")), "doc_b")
      .withColumn("edit_distance", levenshtein(col("__ta"), col("__tb")).cast("long"))
      .filter(col("edit_distance") <= maxEdits)
      .select("doc_a", "doc_b", "edit_distance")
  }

  // ---- MinHash + LSH --------------------------------------------------

  /** Large prime for the universal-hash family h_i(x) = (a_i·x + b_i) mod p. */
  private val MinhashPrime = 2147483629L
  private def hashParams(numHashes: Int): Seq[(Long, Long)] =
    // Deterministic pseudo-random parameters from a fixed multiplicative
    // sequence (no RNG — identical signatures on every run and executor).
    (1 to numHashes).map(i => ((2654435761L * i) % MinhashPrime max 1L, (40503L * i) % MinhashPrime))

  /** MinHash signature of each document's word set: one `array<long>` of
    * `numHashes` minima. Token base hash is Spark's xxhash64 (codegen'd);
    * the per-hash minimum is computed with higher-order array functions —
    * a single narrow projection, no shuffle, no UDF.
    */
  def minhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 32,
      tokenizer: Column => Column = TextAnalysis.shinglesOfWords(_)): DataFrame =
    signaturesFromTokens(
      tokenSets(df, idCol, textCol, Seq.empty, tokenizer)
        .select(col("doc"), explode(col("__set")).as("tok")),
      numHashes)

  /** The ONE definition of the signature aggregation over an exploded
    * (doc, tok) frame. [[incrementalMinhashLinks]]' persisted-index
    * contract requires batch and history signatures to stay bit-identical
    * forever, so every signature consumer routes through here — an edit to
    * the hashing that missed a copy would silently zero incremental recall.
    * The 64-bit token hash reduces into the prime field FIRST so a·x + b
    * stays < 2^62 (ANSI mode makes a silent long overflow an error).
    */
  private def signaturesFromTokens(toks: DataFrame, numHashes: Int): DataFrame = {
    val hashes = hashParams(numHashes)
    val x = pmod(hash64(col("tok")), lit(MinhashPrime))
    val perHash = hashes.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(x * a + b, lit(MinhashPrime))).as(s"h$i")
    }
    toks.groupBy("doc")
      .agg(perHash.head, perHash.tail: _*)
      .select(col("doc"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("signature"))
  }

  private def hash64(c: Column): Column = xxhash64(c)
  private def pmod(c: Column, m: Column): Column = ((c % m) + m) % m

  /** LSH banding over MinHash signatures: split the signature into
    * `bands` bands of `rowsPerBand` hashes, bucket by (band, band-slice
    * hash). The (doc, band, bucket) frame is the PERSISTABLE LSH index:
    * compute it once over a history corpus, save it as a table, and
    * incremental ingest ([[incrementalMinhashLinks]]) joins new batches
    * against it without ever touching history text or signatures.
    */
  def minhashBandBuckets(
      signatures: DataFrame,
      bands: Int,
      rowsPerBand: Int): DataFrame =
    signatures.select(
      col("doc"),
      posexplode(
        array((0 until bands).map(b =>
          struct(
            lit(b).as("band"),
            xxhash64(slice(col("signature"), b * rowsPerBand + 1, rowsPerBand)).as("bucket"))): _*)))
      .select(col("doc"), col("col.band"), col("col.bucket"))

  /** Self-join candidate pairs over the banded buckets: docs sharing ANY
    * (band, bucket) pair up. Sub-quadratic: the only shuffle keys are the
    * band buckets, so cost scales with bucket sizes, not corpus².
    */
  def minhashCandidatePairs(
      signatures: DataFrame,
      bands: Int,
      rowsPerBand: Int): DataFrame = {
    val banded = minhashBandBuckets(signatures, bands, rowsPerBand)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
  }

  /** MinHash-LSH near-dup pairs, verified: candidates from banding, then
    * exact Jaccard on the candidate set only (the standard
    * generate-then-verify shape; false positives are filtered, recall is
    * governed by the band/row choice).
    *
    * Requires `threshold > 0`: candidate pairs with an EMPTY intersection
    * drop out of the verify count-join before the threshold filter (they
    * cannot meet a positive threshold, and banding never emits them anyway
    * — docs sharing no token share no signature minimum except by hash
    * coincidence). A threshold of 0 would semantically admit every
    * candidate pair; this operator is not that query.
    */
  def minhashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = 32,
      bands: Int = 8,
      tokenizer: Column => Column = TextAnalysis.shinglesOfWords(_)): DataFrame = {
    require(threshold > 0,
      s"minhashNearDuplicates requires threshold > 0 (got $threshold): " +
        "empty-intersection candidate pairs drop out of the verify count-join, " +
        "so a non-positive threshold would silently under-report pairs")
    // One materialized tokenization feeds both the signature pipeline and
    // the exact-verify join.
    val tokenized = tokenSets(df, idCol, textCol, Seq.empty, tokenizer)
    val toks = tokenized.select(col("doc"), explode(col("__set")).as("tok"))
    val sigs = signaturesFromTokens(toks, numHashes)
    val cands = minhashCandidatePairs(sigs, bands, numHashes / bands)
    // Count-based exact verify, no arrays through joins: ship each
    // candidate pair's A-side tokens once, probe the B side on (doc, tok),
    // and count the matches — |∩| as a codegen'd count, |∪| = nA + nB − |∩|
    // from per-doc set sizes (__set is array_distinct'd, so the exploded
    // (doc, tok) rows are exactly the set). The previous shape joined the
    // FULL shingle arrays to every candidate and paid a per-pair
    // array_intersect/array_union hash build — measured 5-7× slower at
    // sf0.1, and at corpus scale it shipped two whole token arrays per
    // candidate through two joins. Pairs with an empty intersection drop
    // out of the inner count-join; they cannot meet a positive threshold.
    val sizes = tokenized.select(col("doc"), size(col("__set")).as("n"))
    cands
      .join(toks.select(col("doc").as("doc_a"), col("tok")), "doc_a")
      .join(toks.select(col("doc").as("doc_b"), col("tok")), Seq("doc_b", "tok"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn(
        "jaccard",
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Incremental MinHash-LSH ingest dedup: link a NEW batch against an
    * INDEXED history — the daily shape of near-dup detection at 100 TB.
    * The history index is `minhashBandBuckets(minhashSignatures(history,
    * …, numHashes), bands, numHashes/bands)` computed ONCE and persisted;
    * each ingest batch then pays only its own tokenize + signature pass,
    * a bucket-keyed equi-join against the store (cost ∝ matching buckets,
    * never |history|·|batch|), and an exact-Jaccard verify on candidates.
    * History text is re-tokenized ONLY for docs that appear as candidates
    * (a semi-join prunes it before the tokenize), so verify cost scales
    * with candidate count, not history size. Output:
    * (new_id, hist_id, jaccard) CROSS links only — batch-internal dups
    * are [[minhashNearDuplicates]]'s job, and the same (numHashes, bands,
    * tokenizer) must be used on both sides (the signatures are a function
    * of them). When `histBuckets` carries the [[minhashIndex]] meta stamp,
    * that contract is ENFORCED in-plan — a drifted index fails the link
    * job with an expected-vs-found message instead of silently losing
    * recall; pass `tokenizerId` to extend the check to the tokenizer.
    * Bare (doc, band, bucket) indexes remain accepted, unchecked.
    */
  def incrementalMinhashLinks(
      newDf: DataFrame,
      idCol: String,
      textCol: String,
      histBuckets: DataFrame,
      histDf: DataFrame,
      threshold: Double,
      numHashes: Int = 32,
      bands: Int = 8,
      tokenizer: Column => Column = TextAnalysis.shinglesOfWords(_),
      tokenizerId: Option[String] = None): DataFrame = {
    require(threshold > 0,
      s"incrementalMinhashLinks requires threshold > 0 (got $threshold): " +
        "empty-intersection candidates drop out of the verify count-join")
    require(numHashes % bands == 0, s"bands must divide numHashes: $numHashes / $bands")
    val newTok = tokenSets(newDf, idCol, textCol, Seq.empty, tokenizer)
    val newToks = newTok.select(col("doc"), explode(col("__set")).as("tok"))
    val sigs = signaturesFromTokens(newToks, numHashes)
    val nb = minhashBandBuckets(sigs, bands, numHashes / bands)
      .withColumnRenamed("doc", "new_id")
    val hb = checkIndexMeta(histBuckets, numHashes, bands, tokenizerId)
      .withColumnRenamed("doc", "hist_id")
    val cands = nb.join(hb, Seq("band", "bucket")).select("new_id", "hist_id").distinct()
    val histCand = histDf.join(
      cands.select(col("hist_id").as(idCol)).distinct(), Seq(idCol), "left_semi")
    val histTok = tokenSets(histCand, idCol, textCol, Seq.empty, tokenizer)
    val histToks = histTok.select(col("doc"), explode(col("__set")).as("tok"))
    cands
      .join(newToks.select(col("doc").as("new_id"), col("tok")), "new_id")
      .join(histToks.select(col("doc").as("hist_id"), col("tok")), Seq("hist_id", "tok"))
      .groupBy("new_id", "hist_id")
      .agg(count(lit(1)).as("inter"))
      .join(newTok.select(col("doc").as("new_id"), size(col("__set")).as("na")), "new_id")
      .join(histTok.select(col("doc").as("hist_id"), size(col("__set")).as("nb")), "hist_id")
      .withColumn(
        "jaccard",
        col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "hist_id", "jaccard")
  }

  private val IndexMetaCols = Seq("__num_hashes", "__bands", "__tokenizer")

  /** Build the PERSISTABLE MinHash-LSH band index over a corpus, STAMPED
    * with the parameters it was built under: columns (doc, band, bucket,
    * __num_hashes, __bands, __tokenizer). The three meta columns are
    * constants — parquet RLE stores them in a handful of bytes — and they
    * are what lets [[incrementalMinhashLinks]] and [[mergeMinhashIndex]]
    * FAIL FAST on a drifted index. Signatures are a function of
    * (numHashes, bands, tokenizer): probing an index built under different
    * parameters doesn't error on its own, it silently yields near-zero
    * recall — the worst failure mode a daily-ingest dedup pipeline can
    * have, detectable only by noticing duplicates pile up weeks later.
    *
    * `tokenizerId` names the tokenizer (e.g. "shingles3"); it rides along
    * as an opaque string because a `Column => Column` function cannot be
    * fingerprinted. Callers that plug a custom tokenizer must pick a
    * stable id and pass the SAME id at link time.
    */
  def minhashIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 32,
      bands: Int = 8,
      tokenizer: Column => Column = TextAnalysis.shinglesOfWords(_),
      tokenizerId: String = "shingles3"): DataFrame = {
    require(numHashes % bands == 0, s"bands must divide numHashes: $numHashes / $bands")
    minhashBandBuckets(
        minhashSignatures(df, idCol, textCol, numHashes, tokenizer),
        bands, numHashes / bands)
      .withColumn("__num_hashes", lit(numHashes))
      .withColumn("__bands", lit(bands))
      .withColumn("__tokenizer", lit(tokenizerId))
  }

  /** Validate a persisted index's meta stamp against the link-time
    * parameters, if the index carries one (bare (doc, band, bucket)
    * indexes — the pre-stamp format — pass through unchecked for
    * compatibility). The check rides IN the plan: `bucket` is rewrapped so
    * every index row is verified at scan time by codegen'd expressions —
    * no extra driver action, no separate index scan — and the first
    * mismatched row fails the job with the full expected-vs-found message.
    * Column pruning cannot elide it on any real path because every
    * consumer — the probe join here, writes, [[mergeMinhashIndex]] —
    * reads `bucket`; only a bare `count()` of the index (which uses no
    * columns) skips it.
    */
  private def checkIndexMeta(
      index: DataFrame,
      numHashes: Int,
      bands: Int,
      tokenizerId: Option[String]): DataFrame =
    if (!IndexMetaCols.forall(index.columns.contains)) index
    else {
      val ok = col("__num_hashes") === lit(numHashes) &&
        col("__bands") === lit(bands) &&
        tokenizerId.map(t => col("__tokenizer") === lit(t)).getOrElse(lit(true))
      index
        .withColumn("bucket",
          when(ok, col("bucket")).otherwise(raise_error(format_string(
            "minhash index meta mismatch: index built with (numHashes=%s, bands=%s, " +
              s"tokenizer=%s) but linked with (numHashes=$numHashes, bands=$bands, " +
              s"tokenizer=${tokenizerId.getOrElse("<unchecked>")}); " +
              "a mismatched index silently yields near-zero recall",
            col("__num_hashes"), col("__bands"), col("__tokenizer"))).cast("long")))
        .drop(IndexMetaCols: _*)
    }

  /** Daily-ingest maintenance of the persisted band index: fold a new
    * batch's stamped index ([[minhashIndex]] over the batch) into the
    * standing index, optionally retiring deleted documents. This is the
    * missing half of the [[incrementalMinhashLinks]] story — link answers
    * "is the batch a dup of history?", merge makes the batch BE history
    * for tomorrow's batch.
    *
    * Both sides must be stamped and the stamps must MATCH — checked
    * in-plan per row (see [[minhashIndex]] for why a silent mismatch is
    * catastrophic). The merge itself is a UNION — no shuffle at all when
    * written with partition-preserving settings; `retiredDocs` adds one
    * anti-join keyed on doc. Re-ingesting an unchanged doc id is idempotent
    * AFTER a retire-then-add cycle (retire first, then union the new
    * rows); without retirement a re-ingested doc simply contributes
    * duplicate index rows, which only cost probe work — they cannot change
    * link RESULTS (candidates are `distinct()`ed before verify). A
    * periodic compaction = `mergeMinhashIndex(index, emptyBatch,
    * retiredDocs = Some(deletedIds))` followed by a rewrite of the stored
    * table.
    */
  def mergeMinhashIndex(
      index: DataFrame,
      batchIndex: DataFrame,
      retiredDocs: Option[DataFrame] = None): DataFrame = {
    Seq(("index", index), ("batchIndex", batchIndex)).foreach { case (n, f) =>
      require(IndexMetaCols.forall(f.columns.contains),
        s"mergeMinhashIndex: $n has no meta stamp (build it with minhashIndex)")
    }
    // Cross-check the two stamps in-plan: every index row is compared to
    // the batch's stamp (1-row broadcast), so a drifted side fails the
    // merge job instead of producing a mixed-parameter index. `bucket` is
    // the guarded column for the same no-pruning reason as checkIndexMeta.
    // LEFT join on a constant key, not crossJoin: an EMPTY batch (the pure
    // compaction call) must pass the index through with null stamp columns
    // (nothing to conflict with), where a crossJoin would silently erase
    // every index row.
    val batchMeta = broadcast(batchIndex
      .select(
        col("__num_hashes").as("__b_nh"),
        col("__bands").as("__b_b"),
        col("__tokenizer").as("__b_t"))
      .limit(1)
      .withColumn("__jk", lit(1)))
    val ok = col("__b_nh").isNull ||
      (col("__num_hashes") === col("__b_nh") &&
        col("__bands") === col("__b_b") && col("__tokenizer") === col("__b_t"))
    val checked = index
      .withColumn("__jk", lit(1))
      .join(batchMeta, Seq("__jk"), "left")
      .drop("__jk")
      .withColumn("bucket",
        when(ok, col("bucket")).otherwise(raise_error(format_string(
          "mergeMinhashIndex stamp mismatch: standing index (numHashes=%s, bands=%s, " +
            "tokenizer=%s) vs batch (numHashes=%s, bands=%s, tokenizer=%s)",
          col("__num_hashes"), col("__bands"), col("__tokenizer"),
          col("__b_nh"), col("__b_b"), col("__b_t"))).cast("long")))
      .drop("__b_nh", "__b_b", "__b_t")
    val merged = checked.unionByName(batchIndex)
    retiredDocs.map(r =>
        merged.join(r.select(col(r.columns.head).as("doc")), Seq("doc"), "left_anti"))
      .getOrElse(merged)
  }

  /** 64-bit SimHash of each document's token multiset: per bit position,
    * sum +1/−1 votes of each token hash's bit, take the sign. Computed as
    * 64 conditional-sum aggregates (single hash-aggregation pass,
    * codegen'd, one shuffle on the doc id).
    *
    * @param tokenHash 64-bit token hash column; default xxhash64 (codegen'd,
    *        the fast path). Pass [[graft.functions.TextAnalysis.shaHash64]]
    *        when the hash must be reproducible outside Spark (e.g. for an
    *        external oracle) — same semantics, slower per token.
    */
  def simhash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val toks = df
      .select(col(idCol).as("doc"), TextAnalysis.tokens(col(textCol)).as("__words"))
      .repartition(col("doc"))
      .select(col("doc"), explode(col("__words")).as("tok"))
      .withColumn("h", tokenHash(col("tok")))
    val bitSums = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i"))
    toks.groupBy("doc")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(
        col("doc"),
        (0 until 64)
          .map(i => when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b))
          .as("simhash"))
  }

  /** Near-equal split of the 64 simhash bits into `numBlocks` blocks (the
    * first 64 % numBlocks blocks get one extra bit); block b occupies bits
    * [offset(b), offset(b)+size(b)) counted from the LSB. Shared with the
    * DuckDB oracle generator so the two stay in bit-for-bit lockstep.
    */
  private[graft] def simhashBlockSizes(numBlocks: Int): Seq[Int] = {
    val base = 64 / numBlocks
    val rem = 64 % numBlocks
    (0 until numBlocks).map(b => if (b < rem) base + 1 else base)
  }

  /** Hamming-distance near-dup pairs over SimHash, blocked-combination
    * multi-probe (Manku/Jain/Sarma, WWW'07 §3): the 64-bit simhash is
    * split into `numBlocks` near-equal bit blocks and one probe table is
    * built per COMBINATION of `numBlocks − maxHamming` blocks, keyed on
    * the concatenation of those blocks' bits. Candidates are pairs equal
    * in ANY table; survivors are verified on full 64-bit Hamming distance.
    *
    * Recall is EXACT for any `maxHamming < numBlocks`: a pair within
    * Hamming `maxHamming` has differing bits in at most `maxHamming`
    * blocks, so at least `numBlocks − maxHamming` blocks are IDENTICAL
    * (pigeonhole) — and some table is keyed on exactly a subset of those,
    * so the pair collides there. Precision is exact by the verify filter.
    *
    * Why combinations and not single blocks (the r1–r8 scheme, one table
    * per 16-bit segment): single-segment keys put ~N/2¹⁶ docs in every
    * bucket, so per-bucket pair emission grows QUADRATICALLY with corpus
    * size — at 10⁹ docs that is ~15 k docs and ~10⁸ candidate pairs per
    * bucket. Concatenating `numBlocks − maxHamming` blocks widens the key
    * to ~64·(numBlocks−maxHamming)/numBlocks bits (default 6 blocks,
    * maxHamming 3 → C(6,3) = 20 tables with 31–33-bit keys): buckets
    * shrink by ~2¹⁵–2¹⁷ for a 5× row-count increase in a narrow
    * (doc, simhash, tbl, key) explode — the scale trade that keeps
    * candidate generation linear until corpora approach 2·key-bits docs.
    * Raising `numBlocks` widens coverage of larger `maxHamming` at the
    * cost of C(numBlocks, numBlocks−maxHamming) tables with narrower keys.
    */
  def simhashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      numBlocks: Int = 6,
      tokenHash: Column => Column = xxhash64(_)): DataFrame =
    hammingNearDuplicates(
      simhash(df, idCol, textCol, tokenHash), "doc", "simhash", maxHamming, numBlocks)

  /** The blocked-combination probe on ARBITRARY 64-bit signatures — the
    * seam [[simhashNearDuplicates]] is built on, public so other
    * fingerprint families (image perceptual hashes in
    * [[Multimodal.imageNearDupPairs]], audio hashes) reuse the exact-recall
    * Hamming machinery without reimplementing the table scheme. Input: one
    * row per `(idCol, sigCol)`; output `(doc_a, doc_b, hamming)` for every
    * pair within `maxHamming`, exact by pigeonhole + verify.
    */
  def hammingNearDuplicates(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int = 3,
      numBlocks: Int = 6): DataFrame = {
    require(numBlocks >= 2 && numBlocks <= 32,
      s"numBlocks must be in [2, 32], got $numBlocks")
    require(maxHamming >= 1 && maxHamming < numBlocks,
      s"exact recall needs 1 <= maxHamming < numBlocks, got $maxHamming/$numBlocks")
    val sizes = simhashBlockSizes(numBlocks)
    val offsets = sizes.scanLeft(0)(_ + _)
    def block(b: Int): Column =
      shiftrightunsigned(col("simhash"), offsets(b)).bitwiseAND(lit((1L << sizes(b)) - 1))
    // all (numBlocks − maxHamming)-subsets; each packs its blocks' bits
    // into one long key (total bits < 64: a proper subset of the blocks)
    val combos = (0 until numBlocks).combinations(numBlocks - maxHamming).toSeq
    val sh = sigs.select(col(idCol).as("doc"), col(sigCol).as("simhash"))
    val keyed = sh.select(
      col("doc"), col("simhash"),
      posexplode(array(combos.map(c =>
        c.foldLeft(lit(0L): Column)((acc, b) =>
          shiftleft(acc, sizes(b)).bitwiseOR(block(b)))): _*)))
      .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "key"))
    keyed.as("a")
      .join(keyed.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.key") === col("b.key") &&
          col("a.doc") < col("b.doc"))
      .select(
        col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // ---- pair graph → clusters ------------------------------------------

  /** Connected components of an undirected pair graph — the step between
    * near-dup PAIR emission ([[jaccardPairs]] / [[minhashNearDuplicates]] /
    * [[simhashNearDuplicates]] / embedding near-dup) and CLUSTER-level
    * dedup: near-duplication is transitive in practice (A≈B, B≈C ⇒ the
    * whole chain is one boilerplate family), so survivors must be picked
    * per component, not per pair — pairwise dropping can delete BOTH rows
    * of a pair or keep two members of one chain. Output: one row per node
    * of the pair graph, `(node, component)` with `component` = the MIN node
    * id of its component (so the component id doubles as the canonical
    * survivor id).
    *
    * Algorithm: local contraction, then iterative min-label propagation
    * with pointer jumping. Contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014) runs a union-find
    * over each partition of the edge list and starts every node at the
    * min root of its local sets, so whatever a partition's edges already
    * connect needs no round. Each round then (a) every node takes the min
    * of its own and its neighbors' labels (one equi-join + hash agg on the
    * edge list), then (b) labels jump to their label's label (one
    * self-join), which doubles the propagation distance per round, the
    * classic log-rounds trick. Rounds ≈ log₂(component diameter); near-dup
    * families are dense (diameter a few hops), so convergence is 2-4
    * rounds in practice. The driver loop only reads a per-round CHANGED
    * counter, observed on the eager checkpoint that materializes the
    * round (no separate count job) — all data stays distributed; the
    * per-round `localCheckpoint` truncates the otherwise-exponential
    * lineage.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxRounds: Int = 25,
      smallGraphEdges: Long = 65536L): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol, maxRounds, smallGraphEdges)._1

  /** Strict order on external node values that matches Spark's `min`:
    * integral types numerically, strings by UTF-8 bytes (Spark's binary
    * string ordering). `None` for any other node type, which the union-find
    * paths below do not handle.
    */
  private def nodeOrder(
      nodeType: org.apache.spark.sql.types.DataType): Option[(Any, Any) => Boolean] = {
    import org.apache.spark.sql.types._
    nodeType match {
      case StringType => Some((a, b) =>
        java.util.Arrays.compareUnsigned(
          a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0)
      case ByteType | ShortType | IntegerType | LongType => Some((a, b) =>
        a.asInstanceOf[Number].longValue() < b.asInstanceOf[Number].longValue())
      case _ => None
    }
  }

  /** Union-find over doubled edges with union-by-min, so every root is the
    * min of its set under `lt`: yields `(node, root)` for every non-null
    * endpoint, the same min-id labeling as the distributed loop. Null
    * endpoints mirror the loop's semantics: they join nothing, their
    * non-null partner stays isolated, and a single `(null, null)` row
    * appears iff any endpoint was null. The driver fast path runs it over
    * the whole edge list, the loop's contraction over each partition.
    */
  private def minRootLabels(
      doubledEdges: Iterator[(Any, Any)],
      lt: (Any, Any) => Boolean): Iterator[(Any, Any)] = {
    val parent = new java.util.HashMap[Any, Any]()
    var hasNull = false
    def add(x: Any): Unit = if (!parent.containsKey(x)) parent.put(x, x)
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    doubledEdges.foreach { case (a, b) =>
      if (a == null || b == null) {
        hasNull = true
        if (a != null) add(a)
        if (b != null) add(b)
      } else {
        add(a); add(b)
        val ra = find(a)
        val rb = find(b)
        if (ra != rb) { if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb) }
      }
    }
    val labels = parent.keySet().iterator().asScala.map(n => (n, find(n)))
    if (hasNull) labels ++ Iterator((null, null)) else labels
  }

  /** [[connectedComponents]] plus the number of label-propagation rounds it
    * took to converge — the observable the log-rounds complexity claim is
    * pinned on (rounds ≈ log₂ diameter; see the chain/giant-component
    * stress in [[graft.tools.SkewBench]] and OperatorsSpec).
    *
    * The edge list is a MATERIALIZED columnar cache hash-partitioned +
    * sorted on `dst` (the step-(a) join key) into
    * [[Graphs.layoutPartitions]] partitions — one count per call, from
    * the input's size estimate and AQE's coalescing rule, the
    * shuffle-partition count at scale — and the initial labels and every
    * round's neighbour-min are keyed at the same count. Where that count
    * is 1 the local contraction is a union-find over the whole graph and
    * the loop converges in one round. Under Spark's default
    * `canChangeCachedPlanOutputPartitioning=false` every round's
    * neighbor-min join then needs neither exchange nor sort on the 2|E|-row
    * side — a lazy localCheckpoint surfaces UnknownPartitioning and
    * re-exchanged the full edge set each round (the exact pathology the
    * PageRank sf10 trace exposed, [[graft.operators.Graphs.pageRank]]). A
    * session that sets the key "true" gets the same labels, but the cached
    * edge list may then be re-exchanged every round. The operator is
    * already eager (it checkpoints every round), so the cache is released
    * before returning — persist keeps lineage, making that safe.
    */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxRounds: Int = 25,
      smallGraphEdges: Long = 65536L): (DataFrame, Int) = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{StructField, StructType}
    // undirected, deduped edge list — reused every round. Its layout, the
    // initial labels and every round's neighbour-min are keyed at one
    // partition count (see Graphs.layoutPartitions).
    val parts = Graphs.layoutPartitions(pairs)
    val edges = Graphs.keyed(
        pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
          .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst"))),
        parts, "src", "dst")
      .distinct()
      .repartition(parts, col("dst"))
      .sortWithinPartitions("dst")
      .persist()
    val edgeCount = Graphs.fill(edges) // materialize: an empty cache still plans the exchange
    val nodeType = edges.schema("src").dataType
    val labelSchema =
      StructType(Seq(StructField("node", nodeType), StructField("component", nodeType)))
    val order = nodeOrder(nodeType)
    // Small-graph fast path: when the (already materialized and counted)
    // edge list is tiny, the log-rounds loop is ALL fixed cost — each
    // round is 2 joins + a checkpoint, ~0.5-1 s of job launches for
    // microseconds of actual work, which round 9 measured as a 1.6×
    // regression on q_link_resolve's few-thousand-edge graph. A driver
    // union-find over ≤ `smallGraphEdges` doubled edges is bounded
    // (2·65536 rows ≈ a broadcast build side, so the C2 bounded-collect
    // discipline holds — the gate IS the bound) and yields the identical
    // min-id labeling. Stress benches that pin the loop's round counts
    // pass smallGraphEdges = 0 to force the distributed path.
    if (order.isDefined && edgeCount <= smallGraphEdges) {
      val rows = edges.collect().iterator.map(r => (r.get(0), r.get(1)))
      edges.unpersist(false)
      val labels = minRootLabels(rows, order.get).map { case (n, c) => Row(n, c) }.toSeq
      return (pairs.sparkSession.createDataFrame(labels.asJava, labelSchema), 0)
    }
    // Initial labels. With an order, the local contraction: a union-find
    // over each cached partition, then every node's min root across the
    // partitions that hold its edges. A node's own hash partition holds
    // all its edges (each reversed edge has it as `dst`), so its label
    // starts at or below the min of its closed neighbourhood. The
    // aggregation takes the place of the plain `distinct` of nodes, so
    // contraction adds no job. A task's union-find holds one entry per
    // distinct node of its partition, so the partition's edge count bounds
    // its memory.
    val initial = order match {
      case Some(lt) =>
        edges
          .mapPartitions(rows =>
            minRootLabels(rows.map(r => (r.get(0), r.get(1))), lt).map { case (n, c) => Row(n, c) }
          )(Encoders.row(labelSchema))
          .transform(Graphs.keyed(_, parts, "node"))
          .groupBy(col("node"))
          .agg(min(col("component")).as("component"))
      case None =>
        Graphs.keyed(edges.select(col("src").as("node")), parts, "node")
          .distinct().withColumn("component", col("node"))
    }
    var labels = initial.localCheckpoint(false)
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      // (a) min over self + neighbors
      val nbrMin = edges
        .join(labels.select(col("node").as("dst"), col("component").as("nbr")), Seq("dst"))
        .transform(Graphs.keyed(_, parts, "src"))
        .groupBy(col("src").as("node"))
        .agg(min(col("nbr")).as("nbr_min"))
      val stepped = labels
        .join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("component"), coalesce(col("nbr_min"), col("component"))).as("component"),
          col("component").as("prev"))
      // (b) pointer jump: component ← label(component)
      val (jumped, relabeled) = Graphs.checkpointCounting(
        stepped.as("s")
          .join(labels.select(col("node").as("component"), col("component").as("jump")).as("j"),
            Seq("component"), "left")
          .select(col("node"),
            least(col("component"), coalesce(col("jump"), col("component"))).as("component"),
            col("prev")),
        col("component") =!= col("prev"))
      changed = relabeled
      labels = jumped.drop("prev")
      round += 1
    }
    edges.unpersist(false)
    require(changed == 0,
      s"connectedComponents did not converge in $maxRounds rounds — raise maxRounds")
    (labels, round)
  }

  /** Benchmark decontamination: drop every training document that shares
    * at least `minSharedShingles` distinct word `n`-gram shingles with ANY
    * document of `eval` — the standard guard against test-set leakage into
    * a training corpus (eval answers crawled into the training set inflate
    * downstream scores without improving the model).
    *
    * Scale shape: the eval side is a benchmark suite — thousands of
    * documents, not billions — so its exploded distinct shingle set is
    * small and AQE broadcasts it; the training corpus pays one narrow
    * shingle explode, a broadcast-join probe, and a hash-agg on matching
    * doc ids only (documents sharing nothing with eval never leave the
    * map side). The contaminated-id set is tiny, so the final anti-join
    * broadcasts too: the full corpus is never shuffled.
    *
    * Counting is over DISTINCT shared shingles (both sides deduped), so
    * one boilerplate shingle repeated 100× in a training doc counts once —
    * the threshold measures OVERLAP BREADTH, not frequency.
    */
  def decontaminate(
      train: DataFrame,
      idCol: String,
      textCol: String,
      eval: DataFrame,
      evalTextCol: String,
      minSharedShingles: Int = 5,
      n: Int = 3): DataFrame = {
    require(minSharedShingles >= 1, s"minSharedShingles must be >= 1, got $minSharedShingles")
    // shingleSet is safe to inline into the explode generator: the
    // zip_with-based construction evaluates the tokenization a constant
    // number of times per row regardless of CollapseProject (see
    // TextAnalysis.shinglesOfWords — the element_at-based shape this
    // replaced cost O(#shingles · length) re-splits, 8× on this query).
    val evalShingles = eval
      .select(explode(TextAnalysis.shingleSet(col(evalTextCol), n)).as("tok"))
      .distinct()
    val contaminated = train
      .select(col(idCol).as("doc"), explode(TextAnalysis.shingleSet(col(textCol), n)).as("tok"))
      .join(evalShingles, Seq("tok"))
      .groupBy("doc")
      .agg(count(lit(1)).as("shared")) // shingle sets are distinct per side
      .filter(col("shared") >= minSharedShingles)
      .select(col("doc").as(idCol))
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Cluster-level near-dup dedup: drop every member of each pair-graph
    * component except the min-id survivor. Rows of `df` not in any pair
    * survive untouched; the anti-join ships only the loser id set (far
    * smaller than the corpus — it is bounded by the duplicate count).
    */
  def dropNearDuplicates(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol)
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Per-component canonical selection by QUALITY: for each pair-graph
    * component, pick the member with the highest `qualityCol` (ties break
    * to the smallest id, so the choice is total and deterministic). Output
    * is one row per component: `(component, canonical_id, best_quality,
    * n_members)`.
    *
    * This is the dedup endgame a curation pipeline actually wants: min-id
    * survivors ([[dropNearDuplicates]]) keep whichever copy crawled first,
    * but near-dup families usually contain one clean original and N
    * mutilated mirrors — keeping the best-scoring member preserves corpus
    * quality for free.
    *
    * Scale shape: the component labels carry only ids, so the quality join
    * ships (id, quality) — never text — and the per-component argmax is a
    * single hash aggregation with map-side combine (a `min` over a
    * `(-quality, id)` struct; no window, no per-group sort). Everything
    * downstream of [[connectedComponents]] is one shuffle on `component`.
    */
  def canonicalizeClusters(
      df: DataFrame,
      idCol: String,
      qualityCol: String,
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame =
    canonicalFromComponents(connectedComponents(pairs, aCol, bCol), df, idCol, qualityCol)

  private def canonicalFromComponents(
      components: DataFrame,
      df: DataFrame,
      idCol: String,
      qualityCol: String): DataFrame = {
    val members = components
      .join(df.select(col(idCol).as("node"), col(qualityCol).as("__q")), Seq("node"))
    // argmax(quality) with min-id tie-break == struct-min of (-quality, id):
    // one aggregation, partial on the map side, no ordering shuffle.
    members
      .groupBy("component")
      .agg(
        min(struct((col("__q") * lit(-1)).as("nq"), col("node").as("id"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(
        col("component"),
        col("best.id").as("canonical_id"),
        (col("best.nq") * lit(-1)).as("best_quality"),
        col("n_members"))
  }

  /** Cluster-level near-dup dedup keeping the BEST-quality member of each
    * component (ties → smallest id) instead of [[dropNearDuplicates]]'s
    * min-id survivor. Rows not in any pair survive untouched. The loser
    * set (clustered ids minus canonical ids) is bounded by the duplicate
    * count, so the final anti-join broadcasts it under AQE — the corpus
    * never shuffles.
    */
  def dropNearDuplicatesByQuality(
      df: DataFrame,
      idCol: String,
      qualityCol: String,
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame = {
    val components = connectedComponents(pairs, aCol, bCol)
    val canon = canonicalFromComponents(components, df, idCol, qualityCol)
    val losers = components
      .join(canon.select(col("component"), col("canonical_id")), Seq("component"))
      .filter(col("node") =!= col("canonical_id"))
      .select(col("node").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Incremental connected-components maintenance: fold a BATCH of new
    * near-dup pairs into an existing `(node, component)` labeling without
    * touching the historical pair graph — the companion to
    * [[incrementalMinhashLinks]] for the daily-ingest corpus.
    *
    * Correctness rests on [[connectedComponents]]' labels being min-id
    * canonical: contracting every historical component to its label node
    * preserves connectivity, and the min label of a set of merged
    * components IS the min node id of their union. So:
    *
    *  1. each new edge's endpoints are rewritten to their historical
    *     component label (unseen nodes label themselves), dropping edges
    *     that land inside one component;
    *  2. components runs on that CONTRACTED graph — its size is bounded by
    *     the BATCH edge count, independent of history;
    *  3. history is relabeled by joining `component → merged root`, and
    *     batch-only nodes take their contracted root directly.
    *
    * Output is exactly `connectedComponents(oldPairs ∪ newPairs)` (an
    * OperatorsSpec case proves equivalence on randomized graphs). Scale
    * shape: history is touched by two hash joins on bounded build sides —
    * the batch endpoint set and the merged-root map (both O(|batch|), AQE
    * broadcasts them) — so a 100 TB corpus pays one broadcast-relabel scan
    * per day instead of re-running log-rounds propagation over every edge
    * it has ever seen.
    */
  def incrementalComponents(
      oldLabels: DataFrame,
      newPairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame = {
    // same input hygiene as connectedComponents: a NULL endpoint would be
    // rejected by the contracted-edge != filter yet survive batchNodes'
    // anti-join, emitting a spurious (NULL, NULL) labeling row
    val edges = newPairs
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).as("__a"), col(bCol).as("__b"))
    val labA = oldLabels.select(col("node").as("__a"), col("component").as("__ca"))
    val labB = oldLabels.select(col("node").as("__b"), col("component").as("__cb"))
    val contracted = edges
      .join(labA, Seq("__a"), "left")
      .join(labB, Seq("__b"), "left")
      .select(
        coalesce(col("__ca"), col("__a")).as("doc_a"),
        coalesce(col("__cb"), col("__b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    // merged: (old label | batch-only node) -> new min-id root; covers only
    // labels whose components the batch actually touches
    val merged = connectedComponents(contracted, "doc_a", "doc_b")
      .select(col("node").as("component"), col("component").as("__root"))
    val relabeledHistory = oldLabels
      .join(merged, Seq("component"), "left")
      .select(col("node"), coalesce(col("__root"), col("component")).as("component"))
    val batchNodes = edges.select(col("__a").as("node"))
      .union(edges.select(col("__b").as("node")))
      .distinct()
      .join(oldLabels.select("node"), Seq("node"), "left_anti")
    val newNodeLabels = batchNodes
      .join(merged.select(col("component").as("node"), col("__root")), Seq("node"), "left")
      .select(col("node"), coalesce(col("__root"), col("node")).as("component"))
    relabeledHistory.unionByName(newNodeLabels)
  }
}
