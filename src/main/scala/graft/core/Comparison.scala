package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.Constants._
import graft.config.{DatasetParams, TestParams}
import graft.functions.NestedChecksum
import graft.functions.NestedChecksum.containsMap

/** The four comparison reports for one dataset.
  *
  * Same shape as the reference's result dict (`comparison_job.py:251-256`,
  * keys at `common_constants.py:58-61`); `cachedFrames` additionally exposes
  * every frame the pipeline persisted so long-lived sessions can release
  * them (`unpersist()`) — the reference never unpersists, which is fine for
  * a one-shot job but leaks storage in a shared session.
  */
final case class ComparisonResult(
    overallTestReport: DataFrame,
    rowLvlTestReport: DataFrame,
    colLvlTestReport: DataFrame,
    unmatchedRecords: Map[String, DataFrame],
    private[graft] val cachedFrames: Seq[DataFrame] = Seq.empty,
    // datasetName -> error message, for datasets a continue_on_error job
    // captured instead of aborting on (each also has a FAILED overall row).
    failures: Map[String, String] = Map.empty) {
  def unpersist(): Unit = cachedFrames.foreach(_.unpersist())
}

/** The comparison engine: align source and target on the primary keys,
  * match rows via a 128-bit salted-xxhash row checksum, re-examine
  * checksum mismatches column-by-column with a numeric tolerance, and emit
  * four reports (overall / row-level / column-level / per-column unmatched
  * extracts).
  *
  * Faithful to the reference algorithm (`comparison_job.py:186-256`, a
  * full-outer join on the keys) and its pinned semantics (SURVEY §2.10:
  * `MISSTING_AT_TARGET` literal, M·N−1 row-level duplicate counts,
  * NULL-poisoned numeric tolerance, PASSED ⇔ both side counts equal matched
  * count), but re-planned Spark-first:
  *
  *  - non-key columns are derived AFTER select/drop projection, in schema
  *    order (deterministic; fixes the reference's latent crash when
  *    select/drop removes a column, `comparison_job.py:187` vs SURVEY
  *    §2.10.1 — observable behavior is unchanged on the default path);
  *    nested struct, array and map columns compare without any flag (the
  *    reference's string-concat checksum crashed on structs): each feeds
  *    the row checksum through the [[NestedChecksum]] kernel, whose output
  *    is equal exactly when the canonical forms are (NULL markers at every
  *    level, container lengths, key-sorted map entries, sign-keeping float
  *    bits). Map-bearing columns, which Spark 4 can neither hash nor
  *    `<=>`, also compare the kernel output in the per-column predicate;
  *    other nested columns compare with `<=>`, and
  *    `canonicalizeNestedTypes` moves them onto the kernel predicate too;
  *  - the alignment is SLIM and COUNTED, not joined: only the primary keys,
  *    a 16-byte (two-long) row checksum and a side tag go through the one
  *    unavoidable wide shuffle — ONE hash(keys) exchange carrying both
  *    sides, ~30-50 bytes/row REGARDLESS of table width. Two aggregations
  *    consume that exchange in place and leave the per-key COUNT FRAME:
  *    M (source rows), N (target rows) and P = Σ M_c·N_c over the key's
  *    distinct checksums c (the checksum-matched pairs). Every number the
  *    reference reads off its joined frame is a function of (M, N, P) and
  *    whether the key is aligned (below), so the M·N joined pairs are
  *    never built. Full-width rows are touched exactly twice: the columnar
  *    scan that derives the checksums, and — only when mismatches exist —
  *    a PRUNED refetch of the mismatched-present keys (broadcast semi join
  *    up to [[BroadcastMismatchKeysMax]] keys, Bloom-pruned semi join
  *    above it, `operators/Pruning.scala`) that feeds the per-column
  *    tolerance pass and the extracts. The r11 predecessor carried every
  *    renamed non-key column of both sides through the full-outer shuffle
  *    and persisted the full-width joined frame — at the sf100 ladder
  *    rung that spilled ~60 GB/side and exhausted the box's scratch;
  *  - the count frame is the only cache of a clean compare. Eager actions:
  *    ONE stats job over it (which also fills it) returns all eight
  *    overall numbers — the reference's four per-side actions
  *    (`comparison_job.py:67-84`) plus the missing, checksum-matched and
  *    mismatch key counts — then, only when mismatch keys exist, the
  *    tolerance stats job over the refetched mismatch set
  *    (`comparison_job.py:101-118`). A CLEAN compare (the common case for
  *    a 100 TB regression gate) never materializes a full-width row past
  *    the checksum scan. Overall and column-level reports are built
  *    driver-side from the collected values; the row-level report stays
  *    lazy, a narrow projection of the count frame — vs the reference's
  *    seven-plus full-table jobs;
  *  - persisted frames use MEMORY_AND_DISK and are surfaced for explicit
  *    release.
  *
  * NULL keys: a key is ALIGNED when every key column is non-NULL and both
  * sides hold rows for it (M > 0 and N > 0). The reference's USING join
  * never matches a NULL key part, while grouping puts NULLs together, so a
  * key with a NULL part is never aligned: its rows report as missing on
  * each side that has them, and it counts once per side in the duplicate
  * and missing figures — exactly what grouping the joined frame gave.
  *
  * Scale notes: the tolerance refetch rebuilds the M·N cross product for
  * MISMATCHED keys only, from the pruned full-width sides, and re-derives
  * the checksums deterministically — the rebuilt pair set is row-identical
  * to filtering the (never materialized) full-width join.
  *
  * Skew: a hot key can only come from duplicated PKs — a data-quality
  * defect this engine exists to surface (duplicate counts in the
  * overall/row-level reports). On the alignment it costs the rows
  * counted: one hash-aggregation entry per (key, checksum) in the key's
  * partition, never the M·N joined pairs the reference builds. The
  * tolerance refetch does build M·N pairs for a mismatched hot key; AQE
  * skew-join splitting (enabled in [[graft.GraftSession]]) splits that
  * key's partition on both sides of the refetch's inner join, inside the
  * persisted tolerance frame too (pinned in PlanSpec).
  * Partition-level imbalance from hash collisions of distinct keys is
  * negligible at any corpus size.
  */
object Comparison {

  /** Reference numeric set (`comparison_job.py:14-17`): membership by
    * instance equality, so `DecimalType()` means exactly DecimalType(10, 0).
    */
  private def refNumeric(dt: DataType): Boolean = dt match {
    case d: DecimalType => d == DecimalType(10, 0)
    case _ => dt.isInstanceOf[NumericType]
  }

  private def isNumeric(dt: DataType, params: TestParams): Boolean =
    if (params.legacyDecimalComparison) refNumeric(dt)
    else dt.isInstanceOf[NumericType]

  private def isNested(dt: DataType): Boolean = dt match {
    case _: StructType | _: MapType | _: ArrayType => true
    case _ => false
  }

  /** Column `c`'s per-column predicate compares [[NestedChecksum]] output
    * instead of `<=>`: either the caller asked for canonical nested
    * semantics, or the type carries a map ([[containsMap]]), which `<=>`
    * rejects (maps are unorderable). On these columns the checksum and the
    * predicate are one function, so the two can never disagree.
    */
  private def kernelCompared(dt: DataType, params: TestParams): Boolean =
    isNested(dt) && (params.canonicalizeNestedTypes || containsMap(dt))

  /** Key-order canonicalization for map-bearing values. Map equality is
    * SEMANTIC — `{a:1, b:2}` and `{b:2, a:1}` are the same map — but
    * `to_json` renders entries in physical insertion order, so without
    * canonicalization the extracts would render semantically-equal maps
    * built in different orders as different text.
    * Entries sort by key via an explicit comparator (keys are unique and
    * non-null, so the order is total; the comparator ignores the value,
    * so unorderable VALUE types — nested maps — never break the sort),
    * recursively through array elements, struct fields and map values.
    *
    * Documented limit: a map whose KEY type itself contains a map cannot
    * sort (maps are unorderable in Spark, so `k1 < k2` would not
    * resolve) — such pathological columns keep physical entry order at
    * that level, canonicalizing beneath it.
    */
  private def canonMaps(c: Column, dt: DataType): Column = dt match {
    case m: MapType =>
      val valuesCanon =
        if (containsMap(m.valueType)) transform_values(c, (_, v) => canonMaps(v, m.valueType))
        else c
      if (containsMap(m.keyType)) valuesCanon
      else map_from_entries(array_sort(map_entries(valuesCanon), (l, r) =>
        when(l("key") < r("key"), -1).when(l("key") > r("key"), 1).otherwise(0)))
    case a: ArrayType if containsMap(a.elementType) =>
      transform(c, x => canonMaps(x, a.elementType))
    case s: StructType if containsMap(s) =>
      // Rebuilding a struct loses its top-level NULL (struct() of NULL
      // fields is a present struct of NULLs) — guard it explicitly.
      when(c.isNull, lit(null).cast(s)).otherwise(
        struct(s.fields.toSeq.map(f => canonMaps(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  /** The engine's one JSON rendering, canonicalized (maps key-sorted) then
    * `to_json`. Only the unmatched extracts use it, for map-bearing values
    * (see [[unmatchedExtracts]]); matching never reads it. The text is
    * coarser than the [[NestedChecksum]] kernel that decides matches: it
    * renders timestamps at millisecond precision.
    */
  private[graft] def jsonCanonical(c: Column, dt: DataType): Column = to_json(canonMaps(c, dt))

  /** Per-column match predicate (`comparison_job.py:19-34`): numerics match
    * within tolerance (NULL-vs-NULL numeric pairs yield NULL, kept — SURVEY
    * §2.10.4); [[kernelCompared]] nested columns by their checksum's kernel;
    * everything else null-safe equality.
    */
  private def matchedPredicate(field: StructField, params: TestParams): Column = {
    val s = col(srcCol(field.name))
    val t = col(tgtCol(field.name))
    if (isNumeric(field.dataType, params)) {
      val withinTol = abs(s - t) <= lit(params.differenceTolerance)
      // Reference-numeric types keep the reference's exact semantics,
      // NULL-poisoning included. Decimals the reference does NOT treat as
      // numeric (any precision/scale other than (10,0)) get tolerance as a
      // graft extension — made null-safe so that at tolerance=0 the
      // predicate is exactly the reference's eqNullSafe, and at
      // tolerance>0 only the tolerance semantics differ, never NULL
      // handling (a NULL≡NULL decimal pair must not flip PASSED→FAILED).
      if (refNumeric(field.dataType)) withinTol
      else (s <=> t) || withinTol
    }
    else if (kernelCompared(field.dataType, params))
      NestedChecksum(s, ChkSaltA, ChkSaltB) <=> NestedChecksum(t, ChkSaltA, ChkSaltB)
    else s <=> t
  }

  /** Recursively force every nullability flag true. Two types equal under
    * this normalization differ only in flags the engine's null-safe
    * semantics never consult — `containsNull`/`valueContainsNull`/field
    * `nullable` drift routinely across parquet round-trips and
    * `withColumn` transforms and must neither reject a dataset nor force
    * a no-op cast into the hot path.
    */
  private def asNullable(dt: DataType): DataType = dt match {
    case s: StructType =>
      // Metadata.empty, not f.metadata: field metadata (parquet comments,
      // annotations) drifts as routinely as nullability flags and is just
      // as invisible to the comparison semantics — carrying it here made
      // two otherwise-identical struct columns "different" and injected a
      // no-op cast into the hot path, against this method's stated intent.
      StructType(s.fields.map(f =>
        StructField(f.name, asNullable(f.dataType), nullable = true, Metadata.empty)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(asNullable(m.keyType), asNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Widest-of-two numeric type, following Spark's own coercion order
    * (byte < short < int < long < float < double; decimal-vs-integral
    * widens to the covering decimal; decimal-vs-fractional goes to
    * double). Integral results are LOSSLESS; the two lossy corners —
    * long/decimal-vs-double, and a widened decimal capped at precision
    * 38 — are exactly the coercions Spark's tolerance subtraction would
    * perform anyway, so hashing the widened value never admits a false
    * match the per-column predicate wouldn't also admit.
    */
  private val NumericPrecedence =
    Seq[DataType](ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)

  private def decimalFor(dt: DataType): DecimalType = dt match {
    case d: DecimalType => d
    case ByteType => DecimalType(3, 0)
    case ShortType => DecimalType(5, 0)
    case IntegerType => DecimalType(10, 0)
    case LongType => DecimalType(20, 0)
    case other => throw new IllegalStateException(s"no decimal widening for $other")
  }

  /** Covering decimal of two decimals: max integer digits, max scale. When
    * that needs more than 38 total digits, INTEGER DIGITS WIN and the scale
    * shrinks to what fits (`decimal(38,20)` vs `bigint` → `decimal(38,18)`,
    * not `decimal(38,20)`): `intDigits` is ≤38 by construction (both inputs
    * fit in 38), so the upfront cast can never overflow. The alternative —
    * keeping max scale and capping precision, Spark's pre-adjustment
    * arithmetic — loses integer range instead, and an overflowing cast is
    * the one failure mode this whole reconciliation exists to prevent:
    * under non-ANSI the overflow becomes NULL before the checksum, so a
    * present 19-digit bigint silently MATCHES a null on the other side;
    * under ANSI (Spark 4's default) it throws deep in an executor task.
    * The rounding of sub-scale fractional digits this trades for is the
    * same lossy-coercion class as the long/decimal-vs-double corner
    * documented on [[NumericPrecedence]] — and it applies to BOTH sides
    * identically, so it can only forgive differences below the retained
    * scale, exactly as Spark's own precision-loss-adjusted subtraction
    * (`DecimalType.adjustPrecisionScale`) would in the tolerance pass.
    */
  private def widerDecimal(a: DecimalType, b: DecimalType): DecimalType = {
    val scale = math.max(a.scale, b.scale)
    val intDigits = math.max(a.precision - a.scale, b.precision - b.scale)
    if (intDigits + scale <= DecimalType.MAX_PRECISION) DecimalType(intDigits + scale, scale)
    else DecimalType(DecimalType.MAX_PRECISION, DecimalType.MAX_PRECISION - intDigits)
  }

  private def widerNumeric(a: DataType, b: DataType): DataType = (a, b) match {
    case _ if a == b => a
    case (_: DecimalType, FloatType | DoubleType) => DoubleType
    case (FloatType | DoubleType, _: DecimalType) => DoubleType
    case (d: DecimalType, o) => widerDecimal(d, decimalFor(o))
    case (o, d: DecimalType) => widerDecimal(decimalFor(o), d)
    case _ =>
      NumericPrecedence(
        math.max(NumericPrecedence.indexOf(a), NumericPrecedence.indexOf(b)))
  }

  /** Least common comparable type of a source/target column pair, or None
    * when the pair is irreconcilable (e.g. bigint vs string, or structs
    * with different field names). Numeric width mixes reconcile to the
    * wider type AT ANY NESTING DEPTH — `array<int>` vs `array<bigint>`
    * widens to `array<bigint>` under the same rule that makes top-level
    * int-vs-bigint legal — and nullability flags union rather than
    * reject.
    */
  private def commonType(s: DataType, t: DataType): Option[DataType] = (s, t) match {
    case _ if s == t => Some(s)
    case (a: NumericType, b: NumericType) => Some(widerNumeric(a, b))
    case (a: ArrayType, b: ArrayType) =>
      commonType(a.elementType, b.elementType)
        .map(ArrayType(_, a.containsNull || b.containsNull))
    case (a: MapType, b: MapType) =>
      for {
        k <- commonType(a.keyType, b.keyType)
        v <- commonType(a.valueType, b.valueType)
      } yield MapType(k, v, a.valueContainsNull || b.valueContainsNull)
    case (a: StructType, b: StructType)
        if a.fields.map(_.name).sameElements(b.fields.map(_.name)) =>
      val fieldTypes = a.fields.zip(b.fields).map { case (fa, fb) =>
        commonType(fa.dataType, fb.dataType)
          .map(ct => StructField(fa.name, ct, fa.nullable || fb.nullable))
      }
      if (fieldTypes.forall(_.isDefined)) Some(StructType(fieldTypes.map(_.get)))
      else None
    case _ => None
  }

  /** Fail LOUDLY — before any job runs — on column types the engine cannot
    * compare, and return the cast plan for the ones it can. Without the
    * guard, a source BIGINT vs target STRING column builds a plan whose
    * per-column predicate and checksum coerce under ANSI semantics and
    * blow up as a `CAST_INVALID_INPUT` deep inside an executor task
    * (measured: the 50-dataset consolidation bench died mid-stage-505 on
    * exactly this shape). Reconcilable mixes — numeric widths at any
    * nesting depth — return a `column -> commonType` cast entry applied
    * to BOTH sides upfront, so the row checksums hash identical
    * representations and a width-mixed but equal dataset keeps the
    * clean-compare fast path (unwidened, `xxhash64(10: int)` ≠
    * `xxhash64(10L)` would checksum-mismatch EVERY present key and force
    * the full-width refetch over the whole corpus). Pairs equal modulo
    * nullability flags need no cast at all. Both sides' MISSING columns
    * are not this check's business — the downstream projection errors on
    * those with Spark's own unresolved-column message.
    */
  private[graft] def reconcileTypes(
      src: DataFrame, tgt: DataFrame, params: DatasetParams): Map[String, DataType] = {
    val tgtTypes = tgt.schema.fields.map(f => f.name -> f.dataType).toMap
    val shared = src.schema.fields.toSeq.flatMap(f => tgtTypes.get(f.name).map(f -> _))
    val bad = shared.collect {
      case (f, t) if commonType(f.dataType, t).isEmpty =>
        s"'${f.name}' (source ${f.dataType.simpleString} vs target ${t.simpleString})"
    }
    require(bad.isEmpty,
      s"dataset '${params.datasetName}': irreconcilable source/target column types — " +
        s"cast upstream or exclude the column: ${bad.mkString(", ")}")
    shared.collect {
      case (f, t) if asNullable(f.dataType) != asNullable(t) =>
        f.name -> commonType(f.dataType, t).get
    }.toMap
  }

  /** select → drop, as the reference applies them (`comparison_job.py:38-39`). */
  private def project(df: DataFrame, params: DatasetParams): DataFrame = {
    val selected =
      if (params.selectCols == Seq("*")) df
      else df.select(params.selectCols.map(col): _*)
    if (params.dropCols.isEmpty) selected else selected.drop(params.dropCols: _*)
  }

  /** Row-checksum salts: two arbitrary odd constants prepended as the first
    * hashed field so the checksum's two 64-bit halves chain from different
    * states. 128 bits puts a same-key pair collision (a truly-different row
    * silently reported matched) at ~n²/2¹²⁹ — immaterial at any corpus size
    * this engine will ever see (10⁻²⁰ at a billion rows per key).
    */
  private val ChkSaltA = 0x9e3779b97f4a7c15L
  private val ChkSaltB = 0x85ebca77c2b2ae63L

  /** Checksum + per-side rename (`comparison_job.py:36-47`): one row
    * checksum over the non-key columns turns the N-column row match into a
    * single compare; non-key columns get the side suffix so the refetch's
    * pair join only merges the key columns. The checksum is a STRUCT of two
    * differently-salted `xxhash64` longs — internal (never reported), only
    * ever tested for equality and nullness.
    *
    * Why not the reference's `sha256(concat_ws("", cols))`
    * (`comparison_job.py:41`): (1) cost — the checksum scan is the one
    * unavoidable pass over the full-width table, and codegen'd xxhash64 on
    * native values runs an order of magnitude faster than a crypto digest
    * over a row-rendered string, with no string materialization per row;
    * (2) width — 16 bytes vs 32 on the slim alignment shuffle's dominant
    * column; (3) correctness — hashing fields through a seed CHAIN removes
    * two false-match classes the concat formula has: concatenation
    * ambiguity (`("ab","c")` ≡ `("a","bc")`) and NULL≡"" (concat_ws skips
    * NULLs entirely). The per-column report predicates already treat NULL
    * and "" as distinct (null-safe equality), so the chained hash brings
    * the row gate INTO line with the column semantics instead of silently
    * short-circuiting them. One ambiguity class survives, SHARED with the
    * reference formula: xxhash64 passes a NULL field through the chain
    * unchanged, so a value shifting across a NULL column — `("x", NULL,
    * "y")` vs `("x", "y", NULL)` — still checksum-matches, exactly as the
    * reference's `"x"+""+"y"` = `"x"+"y"+""` does; the reports stay
    * reference-faithful on it.
    *
    * Nested columns hash through the [[NestedChecksum]] kernel: Spark's
    * own hash contributes nothing for a NULL or an empty container and
    * skips NULL fields and elements inside one, so it would checksum-match
    * NULL vs `[]`, `[NULL]` vs `[]` and a value shifting across a NULL
    * struct field — pairs the per-column predicate calls different, and
    * checksum-matched rows never reach it. The kernel's output is never
    * NULL, so nested columns take no part in the NULL-shift class above.
    */
  private def transformSide(
      df: DataFrame,
      suffix: String => String,
      nonKeyCols: Seq[String]): DataFrame = {
    val schemaByName = df.schema.fields.map(f => f.name -> f.dataType).toMap
    // Both checksum halves hash the kernel's 16 bytes, which subexpression
    // elimination computes once per row.
    val chkInputs = nonKeyCols.map { c =>
      if (isNested(schemaByName(c))) NestedChecksum(col(c), ChkSaltA, ChkSaltB) else col(c)
    }
    df.withColumn(suffix(ChkSumCol), struct(
        xxhash64(lit(ChkSaltA) +: chkInputs: _*).as("a"),
        xxhash64(lit(ChkSaltB) +: chkInputs: _*).as("b")))
      .withColumnsRenamed(nonKeyCols.map(c => c -> suffix(c)).toMap)
  }

  /** Append one `<col>_matched` boolean per non-key field and their AND-fold
    * (`comparison_job.py:49-64`).
    */
  private def withPerColumnMatches(
      unmatched: DataFrame,
      nonKeyFields: Seq[StructField],
      params: TestParams): DataFrame = {
    val withCols = unmatched
      .drop(AllRowsMatchedCol)
      .withColumns(
        nonKeyFields.map(f => matchedCol(f.name) -> matchedPredicate(f, params)).toMap)
    withCols.withColumn(
      AllRowsMatchedAfterTolCol,
      nonKeyFields
        .map(f => col(matchedCol(f.name)))
        .reduceOption(_ && _)
        .getOrElse(lit(true)))
  }

  /** The alignment's side tag (true on source rows), and the per-key
    * count frame's columns: source rows M, target rows N, and
    * checksum-matched pairs P = Σ M_c·N_c over the key's checksums c; and
    * R, a mismatched key's tolerance-passing pairs.
    */
  private val SideCol = "__is_src"
  private val SrcRowsCol = "__m"
  private val TgtRowsCol = "__n"
  private val ChkPairsCol = "__p"
  private val RescuedPairsCol = "__r"

  /** The key is ALIGNED — its rows pair up in the reference's full-outer
    * USING join — iff every key column is non-NULL and both sides hold
    * rows for it (see the NULL-key rule on [[Comparison]]).
    */
  private def alignedKey(keyCols: Seq[String]): Column =
    keyCols.map(col(_).isNotNull)
      .foldLeft(col(SrcRowsCol) > 0L && col(TgtRowsCol) > 0L)(_ && _)

  /** Row-level report (`comparison_job.py:134-161`): the reference's
    * per-(key, status, matched) rows with the M·N−1 duplicate count over
    * the joined cross product, read straight off the count frame. A
    * narrow projection — no exchange, at most two rows per key:
    *
    *  - aligned, no tolerance-passing pair: `(M·N−1, PRESENT_IN_BOTH,
    *    true)` if any pair checksum-matched (P > 0), and `(M·N−1,
    *    PRESENT_IN_BOTH, false)` if any did not (M·N > P);
    *  - aligned, R > 0 tolerance-passing pairs: the reference's fold-back
    *    left join multiplies each of the key's M·N pairs by R and marks
    *    them all matched — one row `(M·N·R−1, PRESENT_IN_BOTH, true)`;
    *  - not aligned: the M + N unpaired rows, `(M+N−1, MISSTING_AT_TARGET,
    *    false)` if M > 0 and `(M+N−1, MISSING_AT_SOURCE, false)` if N > 0.
    *
    * `rescued` holds R per key (tolerance-passing pairs, mismatch path
    * only), at most one row per mismatch key.
    */
  private def rowLevelReport(
      datasetName: String,
      counts: DataFrame,
      keyCols: Seq[String],
      rescued: Option[DataFrame]): DataFrame = {
    val withR = rescued match {
      case None => counts.withColumn(RescuedPairsCol, lit(0L))
      case Some(perKey) =>
        counts
          .join(perKey, keyCols, LeftJoin)
          .withColumn(RescuedPairsCol, coalesce(col(RescuedPairsCol), lit(0L)))
    }
    val (m, n, p, r) =
      (col(SrcRowsCol), col(TgtRowsCol), col(ChkPairsCol), col(RescuedPairsCol))
    val aligned = alignedKey(keyCols)
    def entry(cond: Column, dup: Column, status: String, matched: Boolean): Column =
      when(cond, struct(
        dup.as(DuplicateCountCol),
        lit(status).as(MissingRowStatusCol),
        lit(matched).as(AllRowsMatchedCol)))
    val entries = array(
      entry(aligned && (r > 0L || p > 0L),
        when(r > 0L, m * n * r).otherwise(m * n) - 1L, PresentInBothStatus, matched = true),
      entry(aligned && r === 0L && m * n > p, m * n - 1L, PresentInBothStatus, matched = false),
      entry(!aligned && m > 0L, m + n - 1L, MissingAtTargetStatus, matched = false),
      entry(!aligned && n > 0L, m + n - 1L, MissingAtSourceStatus, matched = false))
    withR
      .select(keyCols.map(col) :+ explode(entries).as("__e"): _*)
      .where(col("__e").isNotNull)
      .select(
        lit(datasetName).as(DatasetNameCol) +: keyCols.map(col)
          :+ col(s"__e.$DuplicateCountCol").as(DuplicateCountCol)
          :+ col(s"__e.$MissingRowStatusCol").as(MissingRowStatusCol)
          :+ col(s"__e.$AllRowsMatchedCol").as(AllRowsMatchedCol): _*)
  }

  /** Per-column unmatched-record extracts (`comparison_job.py:120-132`),
    * built lazily for the offending columns only (names already known from
    * the collected per-column sums — no extra action).
    */
  private def unmatchedExtracts(
      datasetName: String,
      unmatchedRecords: DataFrame,
      offending: Seq[String],
      keyCols: Seq[String]): Map[String, DataFrame] = {
    val typeByName = unmatchedRecords.schema.fields.map(f => f.name -> f.dataType).toMap
    offending.map { c =>
      // Map-bearing value columns are JSON-rendered in the extract: the
      // dedup `distinct()` is a set operation Spark bans maps from (as it
      // bans them from `<=>`, see containsMap) — the JSON text keeps the
      // extract materializable and readable with the same column names.
      def sideCol(name: String): Column =
        if (containsMap(typeByName(name)))
          jsonCanonical(col(name), typeByName(name)).as(name)
        else col(name)
      s"$datasetName/$c" -> unmatchedRecords
        .where(!col(matchedCol(c)))
        .select(keyCols.map(col) :+ sideCol(srcCol(c)) :+ sideCol(tgtCol(c)): _*)
        .distinct()
    }.toMap
  }

  /** Broadcast-vs-Bloom cutover for the mismatch refetch: up to this many
    * mismatched keys the prune is a broadcast semi join (exact, zero scan
    * passes wasted); above it the key set is too large to ship as a join
    * hash table and the refetch goes through
    * [[graft.operators.Pruning.bloomPrunedSemiJoinMulti]] (~1.2 bytes/key
    * at 3% fpp, scan-side filter + exact semi join).
    *
    * Where the default sits and why (r14 mismatch-rate sweep, sf10 =
    * 15M keys/side, both branches FORCED at every rate in fresh JVMs):
    * broadcast beat Bloom 1.9× at 150k mismatched keys (34.9 s vs
    * 67.1 s) and STILL beat it 1.4× at 1.5M keys (35.5 s vs 50.7 s) —
    * the r13 1M cutover was conservative by at least 1.5×. The binding
    * constraint is memory, not speed: a single-long-key hash relation
    * costs ~48 bytes/key, so 4M keys ≈ 200 MB — comfortably inside a
    * 16 GB executor, and the broadcast cost is flat while Bloom always
    * pays its filter build plus a second pass.
    *
    * [[BroadcastMismatchKeysMaxConf]] overrides the cutover. It has two
    * users: deployments with wide composite keys or smaller executors tune
    * the memory bound DOWN, and `CompareModelSpec` sets it to 0 so every
    * refetch takes the Bloom branch, which no test input reaches at the
    * default.
    */
  private val BroadcastMismatchKeysMax = 4000000L
  val BroadcastMismatchKeysMaxConf = "spark.graft.compare.broadcastMismatchKeysMax"

  /** Target bytes per partition of the slim cached layout (and of the
    * row-level report keyed on it). Slim rows are ~30 B regardless of
    * table width, so the default packs ~2M keys per task — inside the
    * guide's 100 MB - 1 GB shuffle-partition band once join/sort working
    * state is counted. The derived count is CAPPED at
    * `spark.sql.shuffle.partitions`, so a cluster deployment that sizes
    * that knob for its data keeps today's layout exactly; the estimate
    * only shrinks task waves when the input is provably small.
    */
  private val SlimPartitionBytes = 64L << 20
  val SlimPartitionBytesConf = "spark.graft.compare.slimPartitionBytes"

  private def broadcastMismatchKeysMax(spark: SparkSession): Long =
    spark.conf.getOption(BroadcastMismatchKeysMaxConf)
      .map(_.toLong).getOrElse(BroadcastMismatchKeysMax)

  /** The one eager stats job over the count frame (and its fill): the
    * reference's per-side totals and duplicate-key counts
    * (`comparison_job.py:67-84`) and its match figures, all eight as
    * per-key folds — missing rows count the keys that are not aligned and
    * have rows on the other side, checksum-matched keys the aligned keys
    * with P > 0, mismatch keys the aligned keys with an unmatched pair
    * (M·N > P). Grouping puts NULL key parts together, so a key counts once
    * per side, as it did when the joined frame was grouped.
    */
  private final case class CountStats(
      srcTotal: Long, tgtTotal: Long, srcDups: Long, tgtDups: Long,
      missSrc: Long, missTgt: Long, chkMatched: Long, mismatchKeys: Long)

  private def collectCountStats(counts: DataFrame, keyCols: Seq[String]): CountStats = {
    val (m, n, p) = (col(SrcRowsCol), col(TgtRowsCol), col(ChkPairsCol))
    val aligned = alignedKey(keyCols)
    val r = counts
      .agg(
        coalesce(sum(m), lit(0L)), coalesce(sum(n), lit(0L)),
        count_if(m > 1L), count_if(n > 1L),
        count_if(!aligned && n > 0L), count_if(!aligned && m > 0L),
        count_if(aligned && p > 0L), count_if(aligned && m * n > p))
      .head()
    CountStats(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
  }

  /** The SECOND eager job (mismatch keys only): tolerance rescues and the
    * per-column mismatch sums (`comparison_job.py:101-118`) over the
    * refetched mismatch set.
    *
    * A key counts as RESCUED iff some refetched pair passes the full
    * tolerance fold (`<=> true`, matching the fold-back's null-dropping
    * filter) AND no pair of that key already checksum-matched (the
    * [[graft.Constants.ChkMatchedKeyCol]] flag — without it a duplicated
    * PK with one matching and one tolerance-passing pair would count
    * twice). Per-column sums count after-tolerance-unmatched ROWS whose
    * predicate is strictly false — a NULL-poisoned predicate counts 0,
    * like the reference.
    */
  private def collectToleranceStats(
      afterTolerance: DataFrame,
      keyCols: Seq[String],
      nonKeyCols: Seq[String]): (Long, Map[String, Long]) = {
    val tolTrue = col(AllRowsMatchedAfterTolCol) <=> lit(true)
    val perKey =
      Seq(
        max(when(tolTrue, 1L).otherwise(0L)).as("tolm"),
        max(when(col(ChkMatchedKeyCol), 1L).otherwise(0L)).as("chkm")) ++
        nonKeyCols.zipWithIndex.map { case (c, i) =>
          sum(when(!tolTrue && when(!col(matchedCol(c)), true).otherwise(false), 1L)
            .otherwise(0L)).as(s"cs$i")
        }
    val totals =
      Seq(
        coalesce(
          sum(when(col("tolm") === 1L && col("chkm") === 0L, 1L).otherwise(0L)),
          lit(0L)).as("rescued")) ++
        nonKeyCols.indices.map(i => coalesce(sum(col(s"cs$i")), lit(0L)).as(s"cs$i"))
    val row = afterTolerance
      .groupBy(keyCols.map(col): _*)
      .agg(perKey.head, perKey.tail: _*)
      .agg(totals.head, totals.tail: _*)
      .collect()(0)
    (row.getLong(0),
      nonKeyCols.zipWithIndex.map { case (c, i) => c -> row.getLong(i + 1) }.toMap)
  }

  /** Overall report (`comparison_job.py:66-99`): one row of per-side
    * count/duplicate/missing maps plus PASSED ⇔ `source_count ==
    * matched_count == target_count`. Built driver-side from the collected
    * stats — no further Spark jobs.
    */
  private def overallReport(
      spark: SparkSession,
      datasetName: String,
      stats: CountStats,
      matchedCount: Long): DataFrame = {
    import spark.implicits._
    Seq((
      datasetName,
      Map(SourceCol -> stats.srcTotal, TargetCol -> stats.tgtTotal),
      matchedCount,
      Map(SourceCol -> stats.srcDups, TargetCol -> stats.tgtDups),
      Map(SourceCol -> stats.missSrc, TargetCol -> stats.missTgt),
      if (stats.srcTotal == matchedCount && stats.tgtTotal == matchedCount) PassedStatus
      else FailedStatus))
      .toDF(DatasetNameCol, CountCol, MatchedCountCol, DuplicateCountCol,
        MissingRowsCol, TestStatusCol)
  }

  /** Column-level report (`comparison_job.py:101-118`) built driver-side
    * from the sums [[collectToleranceStats]] already collected — one row per
    * non-key column, in schema order, zero Spark jobs.
    */
  private def columnLevelReport(
      spark: SparkSession,
      datasetName: String,
      nonKeyCols: Seq[String],
      colSums: Map[String, Long]): DataFrame = {
    import spark.implicits._
    nonKeyCols.map(c => (datasetName, c, colSums(c)))
      .toDF(DatasetNameCol, ColNameCol, UnmatchedRowsCountCol)
  }

  /** One FAILED overall row for a dataset whose read or compare THREW —
    * the `continue_on_error` capture shape. Zero counts are unambiguous:
    * a genuinely empty dataset compares PASSED (0 == 0 == 0), so
    * FAILED-with-zeros can only mean "this dataset never ran"; the error
    * text travels in [[ComparisonResult.failures]].
    */
  private[graft] def failedOverallReport(
      spark: SparkSession, datasetName: String): DataFrame = {
    import spark.implicits._
    Seq((
      datasetName,
      Map(SourceCol -> 0L, TargetCol -> 0L),
      0L,
      Map(SourceCol -> 0L, TargetCol -> 0L),
      Map(SourceCol -> 0L, TargetCol -> 0L),
      FailedStatus))
      .toDF(DatasetNameCol, CountCol, MatchedCountCol, DuplicateCountCol,
        MissingRowsCol, TestStatusCol)
  }

  /** The core pipeline (`compare_dataframes`, `comparison_job.py:186-256`). */
  def compareDataFrames(
      spark: SparkSession,
      sourceDf: DataFrame,
      targetDf: DataFrame,
      params: DatasetParams): ComparisonResult = {
    val keyCols = params.primaryKeys
    val keyColumns = keyCols.map(col)
    val rawSrc = project(sourceDf, params)
    val rawTgt = project(targetDf, params)
    // Width-mixed columns (keys included — the slim union and the refetch
    // join require identical key types) cast to the common type on BOTH
    // sides before anything hashes, joins or compares: checksum, predicate and
    // extracts all see one representation, so width-mixed equal datasets
    // keep the clean-compare fast path and the reports show the widened
    // values the tolerance pass compares anyway.
    val widen = reconcileTypes(rawSrc, rawTgt, params)
    def widened(df: DataFrame): DataFrame =
      if (widen.isEmpty) df
      else df.withColumns(widen.map { case (c, t) => c -> col(c).cast(t) })
    val projectedSrc = widened(rawSrc)
    val projectedTgt = widened(rawTgt)
    // Deterministic schema order, derived post-projection (SURVEY §2.10.1-2).
    val nonKeyCols = projectedSrc.columns.toSeq.filterNot(keyCols.contains)
    val nonKeyFields =
      projectedTgt.schema.fields.toSeq.filter(f => nonKeyCols.contains(f.name))

    // Full-width transformed sides stay LAZY — consumed by the slim
    // projection below (one columnar scan) and, only when mismatches
    // exist, by the pruned refetch (a second, key-pruned scan). NOT
    // persisted: at 100 TB a full-width persist is exactly the scratch
    // footprint the slim alignment exists to avoid.
    val srcFull = transformSide(projectedSrc, srcCol, nonKeyCols)
    val tgtFull = transformSide(projectedTgt, tgtCol, nonKeyCols)

    // Slim rows: (keys, 16-byte checksum, side tag) of BOTH sides, one
    // union, so the whole alignment is ONE hash(keys) exchange.
    def slimRows(full: DataFrame, chk: String, isSource: Boolean): DataFrame =
      full.select(keyColumns :+ col(chk).as(ChkSumCol) :+ lit(isSource).as(SideCol): _*)
    val slim = slimRows(srcFull, srcCol(ChkSumCol), isSource = true)
      .union(slimRows(tgtFull, tgtCol(ChkSumCol), isSource = false))
    // SCALE-ADAPTIVE alignment width (guide §2.2): the exchange's (and the
    // cached count frame's) partition count is derived from the ESTIMATED
    // slim bytes (Catalyst plan stats — key columns + 16-byte checksum +
    // tag, so ~30 B/row at any table width), targeting
    // [[SlimPartitionBytes]] per partition and capped at the session's
    // shuffle partitions. At cluster scale the cap keeps the layout at
    // spark.sql.shuffle.partitions; at small inputs the estimate stops
    // kilobyte partitions from paying a full task-launch wave per stage.
    // AQE cannot repair that here: under Spark's default
    // canChangeCachedPlanOutputPartitioning=false the cached count frame
    // keeps exactly this partition count (its final shuffle is never
    // coalesced — the PageRank lesson, Graphs.scala). A session that sets
    // the key "true" gets the same results, but the cached layout may then
    // be coalesced and re-exchanged by its readers.
    val slimPartitions: Int = {
      val targetBytes = spark.conf.getOption(SlimPartitionBytesConf)
        .map(_.toLong).getOrElse(SlimPartitionBytes)
      val est = slim.queryExecution.optimizedPlan.stats.sizeInBytes
      val wanted = (est + targetBytes - 1) / targetBytes
      // Parallelism floor of min(4, defaultParallelism): plan-stats bytes
      // are a rough LOWER bound on useful parallelism (projection-scaled
      // scan sizes underestimate the checksum-bearing slim rows), and an
      // underestimate serializes the alignment onto one core — measured
      // +0.3-0.7 s on the flat-column scenarios at sf0.1. The floor bounds
      // that harm at the cost of at most 3 extra tasks per stage wave
      // (~10 ms each); at any real size the bytes-derived count dominates
      // and the floor is inert.
      val floor = BigInt(math.min(4, spark.sparkContext.defaultParallelism))
      wanted
        .max(floor)
        .min(BigInt(spark.sessionState.conf.numShufflePartitions))
        .max(BigInt(1))
        .toInt
    }
    // The per-key COUNT FRAME: both aggregations consume the hash(keys)
    // exchange in place (hash(keys) clusters any superset of the keys), so
    // nothing past the exchange moves again. The first counts each side's
    // rows per (key, checksum); the second folds a key's checksums into
    // M, N and the checksum-matched pairs P = Σ M_c·N_c. This frame is the
    // engine's only cache on the clean path: the stats job, the row-level
    // report and the refetch's mismatch keys all read it.
    val counts = slim
      .repartition(slimPartitions, keyColumns: _*)
      .groupBy(keyColumns :+ col(ChkSumCol): _*)
      .agg(count_if(col(SideCol)).as("__mc"), count_if(!col(SideCol)).as("__nc"))
      .groupBy(keyColumns: _*)
      .agg(
        sum("__mc").as(SrcRowsCol),
        sum("__nc").as(TgtRowsCol),
        sum(col("__mc") * col("__nc")).as(ChkPairsCol))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // FIRST eager job: every overall number (fills the count frame as a
    // side effect), including the mismatch-key count that decides whether
    // — and how — the refetch runs.
    val stats = collectCountStats(counts, keyCols)

    // SECOND eager job, skipped entirely on a clean compare: refetch FULL
    // rows for the mismatched-present keys and run the per-column
    // tolerance pass over them. The rebuilt pair set is row-identical to
    // filtering the full-width join (checksums re-derive
    // deterministically; the !(chk <=> chk) filter drops the
    // checksum-matched pairs a duplicated PK smuggles back in).
    val broadcastable = stats.mismatchKeys <= broadcastMismatchKeysMax(spark)
    val (rescued, colSums, afterTolOpt) =
      if (stats.mismatchKeys == 0L)
        (0L, nonKeyCols.map(_ -> 0L).toMap, Option.empty[DataFrame])
      else {
        val (m, n, p) = (col(SrcRowsCol), col(TgtRowsCol), col(ChkPairsCol))
        // Aligned keys with an unmatched pair — a filter of the filled
        // count frame, no exchange.
        val mkInfo = counts
          .filter(alignedKey(keyCols) && m * n > p)
          .select(keyColumns :+ (p > 0L).as(ChkMatchedKeyCol): _*)
        val mkKeys = mkInfo.select(keyColumns: _*)
        // The prune need not be exact here: the mkInfo inner join below is
        // an exact filter on the mismatch key set, so the Bloom path skips
        // the semi join's second shuffle of the pruned side and lets its
        // ≤fpp false positives die at that join (or at the checksum filter).
        def prune(sideFull: DataFrame): DataFrame =
          if (broadcastable) sideFull.join(broadcast(mkKeys), keyCols, LeftSemiJoin)
          else graft.operators.Pruning.bloomPruneFilter(
            sideFull, mkKeys, keyCols, keyCols, stats.mismatchKeys)
        val mismatchedPresent = prune(srcFull)
          .join(prune(tgtFull), keyCols, InnerJoin)
          .filter(!(col(srcCol(ChkSumCol)) <=> col(tgtCol(ChkSumCol))))
          .join(if (broadcastable) broadcast(mkInfo) else mkInfo, keyCols, InnerJoin)
        val afterTolerance =
          withPerColumnMatches(mismatchedPresent, nonKeyFields, params.testParams)
            .persist(StorageLevel.MEMORY_AND_DISK)
        val (resc, sums) = collectToleranceStats(afterTolerance, keyCols, nonKeyCols)
        (resc, sums, Some(afterTolerance))
      }
    val matchedCount = stats.chkMatched + rescued

    // Tolerance-passing pairs per key, for the row-level report's
    // fold-back (broadcast, like the refetch's key set, when it is small);
    // stays lazy, like the report it feeds.
    val rescuedPairs = afterTolOpt.map { afterTolerance =>
      val perKey = afterTolerance
        .filter(col(AllRowsMatchedAfterTolCol))
        .groupBy(keyColumns: _*)
        .agg(count(lit(1)).as(RescuedPairsCol))
      if (broadcastable) broadcast(perKey) else perKey
    }
    val rowLvl = rowLevelReport(params.datasetName, counts, keyCols, rescuedPairs)
    val colLvl = columnLevelReport(spark, params.datasetName, nonKeyCols, colSums)
    val offending = nonKeyCols.filter(c => colSums(c) > 0)
    val extracts = afterTolOpt match {
      case None => Map.empty[String, DataFrame]
      case Some(afterTolerance) =>
        unmatchedExtracts(
          params.datasetName,
          afterTolerance.filter(!col(AllRowsMatchedAfterTolCol)),
          offending,
          keyCols)
    }

    ComparisonResult(
      overallTestReport = overallReport(spark, params.datasetName, stats, matchedCount),
      rowLvlTestReport = rowLvl,
      colLvlTestReport = colLvl,
      unmatchedRecords = extracts,
      cachedFrames = counts +: afterTolOpt.toSeq)
  }
}
