package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.config.{DatasetParams, TestParams}
import graft.core.{Comparison, ComparisonResult}

/** Differential property check of the compare engine: all four reports
  * against a naive in-memory model of the reference semantics
  * (`comparison_job.py:186-256`), on seeded random inputs.
  *
  * The model is written pair by pair, the way the reference plans it, and
  * shares no code with the engine: a full-outer USING join on the keys (a
  * NULL key part never matches), a row matches when its non-key values are
  * equal, mismatched pairs go through the per-column predicates (numeric
  * within tolerance with NULL poisoning, everything else null-safe
  * equality), and the tolerance-passing pairs fold back into the joined
  * rows by a left join on the keys before the row-level report groups them.
  *
  * Generated inputs: a single or composite key with NULL in one or every key
  * column, duplicates on both sides, keys on one side only, values equal,
  * within and outside tolerance, NULL numerics; tolerance 0 and 0.5. Every
  * case runs with the alignment forced onto one partition and onto many,
  * and once more with the mismatch refetch forced onto its Bloom branch.
  */
class CompareModelSpec extends SparkSpec {
  import CompareModelSpec._

  private def multiset(rows: Seq[Seq[Any]]): Map[Seq[Any], Int] =
    rows.groupBy(identity).view.mapValues(_.size).toMap

  /** The reference semantics, pair by pair. */
  private def model(
      ds: String, src: Seq[In], tgt: Seq[In], tol: Double): Reports = {
    val srcBy = src.groupBy(_.keys)
    val tgtBy = tgt.groupBy(_.keys)
    val keys = (src ++ tgt).map(_.keys).distinct
    def aligned(k: Seq[Any]) = k.forall(_ != null) && srcBy.contains(k) && tgtBy.contains(k)
    // the full-outer join: every pair of an aligned key, every row of any
    // other key alone
    val joined: Seq[(Seq[Any], Option[In], Option[In])] = keys.flatMap { k =>
      if (aligned(k)) for (s <- srcBy(k); t <- tgtBy(k)) yield (k, Some(s), Some(t))
      else srcBy.getOrElse(k, Nil).map(s => (k, Some(s), None)) ++
        tgtBy.getOrElse(k, Nil).map(t => (k, None, Some(t)))
    }
    def chkEq(s: Option[In], t: Option[In]) =
      s.isDefined && t.isDefined && s.get.vals == t.get.vals
    // per-column predicates over the mismatched present pairs
    def and3(a: Option[Boolean], b: Option[Boolean]): Option[Boolean] = (a, b) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true)) => Some(true)
      case _ => None
    }
    val afterTol = joined.collect { case (k, Some(s), Some(t)) if s.vals != t.vals =>
      val matches = Map[String, Option[Boolean]](
        "v" -> Some(s.v == t.v),
        "x" -> (if (s.x == null || t.x == null) None else Some(math.abs(s.x - t.x) <= tol)))
      Pair(k, s, t, matches, and3(matches("v"), matches("x")))
    }
    val rescuedPairs =
      afterTol.filter(_.fold.contains(true)).groupBy(_.key).view.mapValues(_.size).toMap
    // overall
    val chkMatchedKeys = joined.filter(j => chkEq(j._2, j._3)).map(_._1).toSet
    val rescuedKeys = rescuedPairs.keySet -- chkMatchedKeys
    val matched = (chkMatchedKeys.size + rescuedKeys.size).toLong
    def perSide(src: Long, tgt: Long) = Map("source" -> src, "target" -> tgt)
    val overall = Seq(
      perSide(src.size, tgt.size),
      matched,
      perSide(srcBy.count(_._2.size > 1), tgtBy.count(_._2.size > 1)),
      perSide(
        joined.filter(_._2.isEmpty).map(_._1).distinct.size,
        joined.filter(_._3.isEmpty).map(_._1).distinct.size),
      if (src.size == matched && tgt.size == matched) "PASSED" else "FAILED")
    // row level: the fold-back left join repeats a key's joined rows once
    // per tolerance-passing pair, all matched
    val expanded = joined.flatMap { case (k, s, t) =>
      val status =
        if (s.isEmpty) "MISSING_AT_SOURCE"
        else if (t.isEmpty) "MISSTING_AT_TARGET"
        else "PRESENT_IN_BOTH"
      rescuedPairs.get(k) match {
        case Some(r) => Seq.fill(r)((k, status, true))
        case None => Seq((k, status, chkEq(s, t)))
      }
    }
    val pairsPerKey = expanded.groupBy(_._1).view.mapValues(_.size).toMap
    val rowLvl = expanded.distinct.map { case (k, status, m) =>
      (ds +: k) ++ Seq(pairsPerKey(k) - 1L, status, m)
    }
    // column level: rows the tolerance fold did not pass whose column is
    // strictly unmatched; extracts: the distinct (keys, source value,
    // target value) of rows whose fold is strictly false
    val values = Map[String, In => Any]("v" -> (_.v), "x" -> (_.x))
    val colLvl = values.keys.map { c =>
      c -> afterTol.count(r => !r.fold.contains(true) && r.matches(c).contains(false)).toLong
    }.toMap
    val extracts = values.collect { case (c, value) if colLvl(c) > 0 =>
      s"$ds/$c" -> multiset(afterTol
        .filter(r => r.fold.contains(false) && r.matches(c).contains(false))
        .map(r => r.key ++ Seq(value(r.s), value(r.t)))
        .distinct)
    }
    Reports(overall, multiset(rowLvl), colLvl, extracts)
  }

  private def reportsOf(res: ComparisonResult): Reports = {
    val o = res.overallTestReport.collect().head
    def m(i: Int) = o.getMap[String, Long](i).toMap
    Reports(
      Seq(m(1), o.getLong(2), m(3), m(4), o.getString(5)),
      multiset(res.rowLvlTestReport.collect().toSeq.map(_.toSeq)),
      res.colLvlTestReport.collect().map(r => r.getString(1) -> r.getLong(2)).toMap,
      res.unmatchedRecords.map { case (name, df) =>
        name -> multiset(df.collect().toSeq.map(_.toSeq))
      })
  }

  private def frame(s: SparkSession, composite: Boolean, rows: Seq[In]) = {
    val keyFields = StructField("k1", IntegerType) +:
      (if (composite) Seq(StructField("k2", StringType)) else Nil)
    val schema =
      StructType(keyFields ++ Seq(StructField("v", StringType), StructField("x", DoubleType)))
    s.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row.fromSeq(r.keys ++ r.vals)): _*), schema)
  }

  private val BloomSession = "Bloom refetch"

  /** Sessions forcing the alignment onto one partition (shuffle cap 1) and
    * onto many (one byte per partition, capped at 16), plus a many-partition
    * session whose broadcast cutover is 0 mismatched keys, so every
    * refetch prunes through the Bloom filter.
    */
  private def sessions: Seq[(String, SparkSession)] = {
    val one = spark.newSession()
    one.conf.set("spark.sql.shuffle.partitions", "1")
    def many() = {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "16")
      s.conf.set(Comparison.SlimPartitionBytesConf, "1")
      s
    }
    val bloom = many()
    bloom.conf.set(Comparison.BroadcastMismatchKeysMaxConf, "0")
    Seq("one partition" -> one, "many partitions" -> many(), BloomSession -> bloom)
  }

  /** Checks all four reports against the model; returns whether the
    * compare refetched mismatched keys through the Bloom filter, or None
    * when it took the clean path.
    */
  private def check(
      s: SparkSession, label: String, composite: Boolean, tol: Double,
      src: Seq[In], tgt: Seq[In]): Option[Boolean] = {
    val keyCols = if (composite) Seq("k1", "k2") else Seq("k1")
    val res = Comparison.compareDataFrames(s, frame(s, composite, src), frame(s, composite, tgt),
      DatasetParams("ds", keyCols, TestParams(differenceTolerance = tol)))
    try {
      val got = reportsOf(res)
      val want = model("ds", src, tgt, tol)
      def ctx = s"$label, tolerance $tol\n source: $src\n target: $tgt"
      assert(got.overall == want.overall, s"overall report: $ctx")
      assert(got.rowLvl == want.rowLvl, s"row-level report: $ctx")
      assert(got.colLvl == want.colLvl, s"column-level report: $ctx")
      assert(got.extracts == want.extracts, s"unmatched extracts: $ctx")
      refetchFrames(res).headOption.map(
        _.queryExecution.optimizedPlan.toString.contains("might_contain"))
    } finally res.unpersist()
  }

  private def generate(rng: scala.util.Random, composite: Boolean): (Seq[In], Seq[In]) = {
    def key(): Seq[Any] = {
      val k1: Any = if (rng.nextInt(7) == 0) null else Integer.valueOf(1 + rng.nextInt(4))
      if (!composite) Seq(k1)
      else Seq(k1, if (rng.nextInt(7) == 0) null else Seq("a", "b")(rng.nextInt(2)))
    }
    def value(): In = In(Nil,
      Seq(null, "p", "q")(rng.nextInt(3)),
      Seq[java.lang.Double](null, 1.0, 2.0, 5.0)(rng.nextInt(4)))
    // a changed copy: equal, a numeric drift inside 0.5, one outside, a
    // string change, or a NULL numeric
    def drift(r: In): In = rng.nextInt(5) match {
      case 0 => r
      case 1 => r.copy(x = if (r.x == null) null else r.x + 0.25)
      case 2 => r.copy(x = if (r.x == null) 3.0 else r.x + 2.0)
      case 3 => r.copy(v = if (r.v == "p") "q" else "p")
      case _ => r.copy(x = null)
    }
    val src = Seq.fill(rng.nextInt(8))(value().copy(keys = key()))
    // duplicates of source rows, equal or changed
    val srcDup = src.filter(_ => rng.nextInt(4) == 0).map(drift)
    // the target: most source rows, equal or changed, some duplicated,
    // plus rows under fresh keys
    val tgt = (src ++ srcDup).filter(_ => rng.nextInt(5) != 0).flatMap(r =>
      Seq.fill(if (rng.nextInt(5) == 0) 2 else 1)(if (rng.nextBoolean()) r else drift(r))) ++
      Seq.fill(rng.nextInt(3))(value().copy(keys = key()))
    (rng.shuffle(src ++ srcDup), rng.shuffle(tgt))
  }

  test("all four reports equal a pair-by-pair model of the reference on generated inputs") {
    val cases = (1 to 8).map { seed =>
      val rng = new scala.util.Random(seed)
      val composite = seed % 2 == 0
      val (src, tgt) = generate(rng, composite)
      (composite, if (seed % 3 == 0) 0.0 else 0.5, src, tgt)
    }
    // the generator must reach every class it claims to
    val all = cases.flatMap(c => c._3 ++ c._4)
    assert(all.exists(_.keys.forall(_ == null)) && all.exists(r => r.keys.size == 2 &&
      r.keys.count(_ == null) == 1), "NULL in one and in every key column")
    assert(cases.exists(c => c._3.groupBy(_.keys).exists(_._2.size > 1) &&
      c._4.groupBy(_.keys).exists(_._2.size > 1)), "duplicates on both sides")
    assert(cases.exists(c => c._3.map(_.keys).toSet != c._4.map(_.keys).toSet), "one-sided keys")
    val bloomRefetches = for ((label, s) <- sessions; (composite, tol, src, tgt) <- cases) yield {
      val bloom = check(s, label, composite, tol, src, tgt)
      assert(bloom.forall(_ == (label == BloomSession)), s"$label refetch branch")
      label -> bloom
    }
    assert(bloomRefetches.count(_ == (BloomSession -> Some(true))) >= 2,
      s"the Bloom refetch branch must run: $bloomRefetches")
  }

  test("contract case: a duplicated key with several tolerance-passing pairs reports M·N·R−1") {
    // source and target each hold key 1 twice, every pair checksum-differs
    // and passes tolerance 0.5: the fold-back left join repeats each of the
    // M·N = 4 pairs once per tolerance-passing pair (R = 4), so the one
    // row-level row carries duplicate count 4·4−1 = 15, all matched; the
    // key counts once as matched, so the overall report FAILS on counts
    val k = Seq[Any](Integer.valueOf(1))
    val src = Seq(In(k, "p", 1.0), In(k, "p", 1.1))
    val tgt = Seq(In(k, "p", 1.3), In(k, "p", 1.2))
    for ((label, s) <- sessions) {
      check(s, label, composite = false, 0.5, src, tgt)
      val res = Comparison.compareDataFrames(s, frame(s, composite = false, src),
        frame(s, composite = false, tgt), DatasetParams("ds", Seq("k1"), TestParams(0.5)))
      try {
        assert(res.rowLvlTestReport.collect().map(_.toSeq).toSeq ==
          Seq(Seq("ds", 1, 15L, "PRESENT_IN_BOTH", true)), label)
        val o = res.overallTestReport.collect().head
        assert(o.getLong(2) == 1L && o.getString(5) == "FAILED", label)
      } finally res.unpersist()
    }
  }
}

object CompareModelSpec {
  private final case class In(keys: Seq[Any], v: String, x: java.lang.Double) {
    def vals: Seq[Any] = Seq(v, x)
  }

  /** A checksum-mismatched pair after the per-column predicates. */
  private final case class Pair(
      key: Seq[Any], s: In, t: In, matches: Map[String, Option[Boolean]], fold: Option[Boolean])

  private final case class Reports(
      overall: Seq[Any],
      rowLvl: Map[Seq[Any], Int],
      colLvl: Map[String, Long],
      extracts: Map[String, Map[Seq[Any], Int]])
}
