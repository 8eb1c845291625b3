package graft

import scala.collection.immutable.ListMap

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
  * within and outside tolerance, NULL numerics; tolerance 0 and 0.5. A
  * second generator adds nested columns: a struct of two doubles, an
  * `array<string>` and a `map<string,double>` whose entries the target
  * rebuilds in another order, with ±0.0, NaN and NULL at every level. On
  * those the model states the semantics on its own terms: a row matches
  * when every value has the same canonical form (NULL marked at every
  * level, float bits with one NaN, map entries in key order); the struct
  * and array predicates are Spark's `<=>` (−0.0 equals 0.0, NaN equals
  * NaN); the map predicate is canonical equality. Every case runs with the
  * alignment forced onto one partition and onto many, and once more with
  * the mismatch refetch forced onto its Bloom branch.
  */
class CompareModelSpec extends SparkSpec {
  import CompareModelSpec._

  private def multiset(rows: Seq[Seq[Any]]): Map[Seq[Any], Int] =
    rows.groupBy(identity).view.mapValues(_.size).toMap

  /** The reference semantics, pair by pair. */
  private def model(
      ds: String, src: Seq[In], tgt: Seq[In], tol: Double, nested: Boolean): Reports = {
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
      s.isDefined && t.isDefined && s.get.vals.map(canon) == t.get.vals.map(canon)
    // per-column predicates over the mismatched present pairs
    def and3(a: Option[Boolean], b: Option[Boolean]): Option[Boolean] = (a, b) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true)) => Some(true)
      case _ => None
    }
    val columns = In.columns(nested)
    val afterTol = joined.collect { case (k, s @ Some(sv), t @ Some(tv)) if !chkEq(s, t) =>
      val matches = columns.map { c =>
        c -> (c match {
          case "x" =>
            if (sv.x == null || tv.x == null) None else Some(math.abs(sv.x - tv.x) <= tol)
          case "m" => Some(canon(sv.get(c)) == canon(tv.get(c)))
          case _ => Some(nullSafeEq(sv.get(c), tv.get(c)))
        })
      }.toMap
      Pair(k, sv, tv, matches, columns.map(matches).reduce(and3))
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
    val colLvl = columns.map { c =>
      c -> afterTol.count(r => !r.fold.contains(true) && r.matches(c).contains(false)).toLong
    }.toMap
    // an extract shows a map as its key-sorted JSON text
    def shown(c: String, r: In): Any = if (c == "m") json(r.get(c)) else r.get(c)
    val extracts = columns.collect { case c if colLvl(c) > 0 =>
      s"$ds/$c" -> multiset(afterTol
        .filter(r => r.fold.contains(false) && r.matches(c).contains(false))
        .map(r => r.key ++ Seq(shown(c, r.s), shown(c, r.t)))
        .distinct)
    }.toMap
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

  private def frame(s: SparkSession, composite: Boolean, nested: Boolean, rows: Seq[In]) = {
    val keyFields = StructField("k1", IntegerType) +:
      (if (composite) Seq(StructField("k2", StringType)) else Nil)
    val nestedFields =
      if (!nested) Nil
      else Seq(
        StructField("s", StructType(Seq(StructField("p", DoubleType), StructField("q", DoubleType)))),
        StructField("a", ArrayType(StringType)),
        StructField("m", MapType(StringType, DoubleType)))
    val schema = StructType(
      keyFields ++ Seq(StructField("v", StringType), StructField("x", DoubleType)) ++ nestedFields)
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
      src: Seq[In], tgt: Seq[In], nested: Boolean = false): Option[Boolean] = {
    val keyCols = if (composite) Seq("k1", "k2") else Seq("k1")
    val res = Comparison.compareDataFrames(s,
      frame(s, composite, nested, src), frame(s, composite, nested, tgt),
      DatasetParams("ds", keyCols, TestParams(differenceTolerance = tol)))
    try {
      val got = reportsOf(res)
      val want = model("ds", src, tgt, tol, nested)
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

  /** The flat generator's rows, each with a struct, an array and a map;
    * the target's changed copies additionally shift a struct value across
    * a NULL field, flip the sign of a zero, add or drop a NULL array
    * element, reverse the array, or change a map entry, and every target
    * map is rebuilt with its entries in reverse order.
    */
  private def generateNested(rng: scala.util.Random, composite: Boolean): (Seq[In], Seq[In]) = {
    def pick[A](xs: A*): A = xs(rng.nextInt(xs.size))
    def dbl(): java.lang.Double = pick[java.lang.Double](null, 0.0, -0.0, Double.NaN, 1.5)
    def nest() = (
      pick[Row](null, Row(dbl(), dbl()), Row(dbl(), null), Row(null, dbl())),
      pick[Seq[String]](null, Nil, Nil, Seq(null), Seq(null), Seq("p", null), Seq(pick("p", "q"))),
      pick[ListMap[String, java.lang.Double]](null, ListMap(),
        ListMap("a" -> dbl()), ListMap("a" -> dbl(), "b" -> dbl(), "c" -> dbl())))
    def flip(d: java.lang.Double): java.lang.Double =
      if (d != null && d == 0.0) java.lang.Double.valueOf(-d.doubleValue) else d
    def drift(n: (Row, Seq[String], ListMap[String, java.lang.Double])) = {
      val (st, arr, m) = n
      val changes = Seq(
        Option(st).map(r => (Row(r.get(1), r.get(0)), arr, m)),
        Option(st).map(r => (Row(flip(r.getAs[java.lang.Double](0)),
          flip(r.getAs[java.lang.Double](1))), arr, m)),
        Option(arr).map(a => (st, if (a.lastOption.contains(null)) a.init else a :+ null, m)),
        Option(arr).map(a => (st, a.reverse, m)),
        Option(m).map(e => (st, arr, e.map { case (k, d) => k -> flip(d) })),
        Option(m).map(e => (st, arr, e.updated("b", dbl())))).flatten
      if (changes.isEmpty) n else pick(changes: _*)
    }
    def reordered(n: (Row, Seq[String], ListMap[String, java.lang.Double])) =
      n.copy(_3 = if (n._3 == null) null else ListMap(n._3.toSeq.reverse: _*))
    val (src, tgt) = generate(rng, composite)
    val nestedSrc = src.map(_.copy(nest = Some(nest())))
    // a target row that copies a source row keeps its nested values,
    // changed or not; fresh target rows get fresh ones
    val byFlat = nestedSrc.groupBy(r => (r.keys, r.v, r.x))
    (nestedSrc, tgt.map { r =>
      val base = byFlat.get((r.keys, r.v, r.x)).fold(nest())(rows => pick(rows: _*).nest.get)
      r.copy(nest = Some(reordered(if (rng.nextBoolean()) base else drift(base))))
    })
  }

  test("nested columns: all four reports equal the model on generated struct, array and map values") {
    val cases = (1 to 8).map { seed =>
      val rng = new scala.util.Random(100 + seed)
      val composite = seed % 2 == 0
      val (src, tgt) = generateNested(rng, composite)
      (composite, if (seed % 3 == 0) 0.0 else 0.5, src, tgt)
    }
    // the generator must reach the classes a native hash or a JSON text
    // would get wrong: a pair whose only difference is a struct value
    // shifted across a NULL field, [NULL] vs [], and equal maps built in
    // another entry order
    val pairs = for {
      (_, _, src, tgt) <- cases; s <- src; t <- tgt
      if s.keys == t.keys && s.v == t.v && s.x == t.x
    } yield (s.nest.get, t.nest.get)
    assert(pairs.exists { case (s, t) => s._2 == t._2 && s._1 != null && t._1 != null &&
      s._1.toSeq.count(_ == null) == 1 && s._1.toSeq.reverse == t._1.toSeq &&
      canon(s._3) == canon(t._3) }, "a struct NULL shift alone")
    assert(pairs.exists { case (s, t) => Set(s._2, t._2) == Set(Seq(null), Nil) }, "[NULL] vs []")
    assert(pairs.exists { case (s, t) => s._3 != null && s._3.size > 1 &&
      canon(s._3) == canon(t._3) && s._3.keys.toSeq != t._3.keys.toSeq }, "reordered equal maps")
    val all = cases.flatMap(c => c._3 ++ c._4).flatMap(_.nest.toSeq)
    assert(all.exists(_._1 != null) && all.flatMap(n => Option(n._1).toSeq.flatMap(_.toSeq))
      .exists(d => d != null && d.asInstanceOf[Double].isNaN), "NaN in a struct")
    val bloomRefetches = for ((label, s) <- sessions; (composite, tol, src, tgt) <- cases) yield {
      val bloom = check(s, label, composite, tol, src, tgt, nested = true)
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
      val res = Comparison.compareDataFrames(s, frame(s, composite = false, nested = false, src),
        frame(s, composite = false, nested = false, tgt),
        DatasetParams("ds", Seq("k1"), TestParams(0.5)))
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
  /** A generated row: keys, the flat values `v` and `x`, and, in the nested
    * cases, the struct `s`, the array `a` and the map `m`.
    */
  private final case class In(keys: Seq[Any], v: String, x: java.lang.Double,
      nest: Option[(Row, Seq[String], ListMap[String, java.lang.Double])] = None) {
    def vals: Seq[Any] = Seq(v, x) ++ nest.toSeq.flatMap(n => Seq(n._1, n._2, n._3))
    def get(c: String): Any = vals(In.columns(nest.isDefined).indexOf(c))
  }

  private object In {
    def columns(nested: Boolean): Seq[String] =
      Seq("v", "x") ++ (if (nested) Seq("s", "a", "m") else Nil)
  }

  /** The canonical form of a value: NULL stays NULL at every level, a
    * double becomes its bits with every NaN collapsed to one, and a map
    * becomes its entries in key order.
    */
  private def canon(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case r: Row => r.toSeq.map(canon)
    case m: Map[_, _] => m.toSeq.map { case (k, x) => (k.toString, canon(x)) }.sortBy(_._1)
    case xs: Seq[_] => xs.map(canon)
    case other => other
  }

  /** Spark's `<=>`: NULL equals NULL at every level, containers compare
    * slot by slot, and doubles by value (−0.0 equals 0.0, NaN equals NaN).
    */
  private def nullSafeEq(l: Any, r: Any): Boolean = (l, r) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (a: Double, b: Double) => a == b || (a.isNaN && b.isNaN)
    case (a: Row, b: Row) => nullSafeEq(a.toSeq, b.toSeq)
    case (a: Seq[_], b: Seq[_]) =>
      a.size == b.size && a.zip(b).forall { case (x, y) => nullSafeEq(x, y) }
    case (a, b) => a == b
  }

  /** `to_json` of a `map<string,double>` with its entries in key order. */
  private def json(m: Any): String = m match {
    case null => null
    case entries: Map[_, _] =>
      entries.toSeq.map { case (k, x) => (k.toString, x) }.sortBy(_._1).map { case (k, x) =>
        val d = x match {
          case null => "null"
          case d: Double if d.isNaN => "\"NaN\""
          case d => d.toString
        }
        "\"" + k + "\":" + d
      }.mkString("{", ",", "}")
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
