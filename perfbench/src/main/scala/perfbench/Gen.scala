package perfbench

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded, pure input generators and the closed-form expectations of what the
  * compare engine must report for them.
  *
  * Every value is a function of (seed, table salt, column, key ordinal), so
  * the same seed gives the same inputs on any partitioning, and the drift a
  * key receives is decided by its position under a seeded affine permutation
  * of the key ordinals. Category sizes are therefore exact integers of the
  * row count, and every report count follows from them arithmetically.
  */
object Gen {

  // ---- hashing ------------------------------------------------------------

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Non-negative hash of a seed and three coordinates. */
  def h(seed: Long, a: Long, b: Long, c: Long): Long =
    mix(mix(mix(mix(seed) ^ a) ^ b) ^ c) & Long.MaxValue

  /** Seeded bijection on [0, n): k ↦ (a·k + b) mod n with gcd(a, n) = 1. */
  final case class Perm(n: Long, a: Long, b: Long) {
    def apply(k: Long): Long =
      ((BigInt(a) * k + b) mod n).toLong
  }

  object Perm {
    def seeded(n: Long, seed: Long, salt: Long): Perm = {
      require(n >= 1, s"n must be positive: $n")
      var a = (h(seed, salt, 1, 0) % n) | 1L
      while (BigInt(a).gcd(n) != 1) a += 2
      new Perm(n, a, h(seed, salt, 2, 0) % n)
    }
  }

  // ---- table specs ----------------------------------------------------------

  sealed trait Kind { def sparkType: DataType }
  case object LongK extends Kind { val sparkType: DataType = LongType }
  case object IntK extends Kind { val sparkType: DataType = IntegerType }
  case object DoubleK extends Kind { val sparkType: DataType = DoubleType }
  case object DecimalK extends Kind { val sparkType: DataType = DecimalType(15, 2) }
  case object StringK extends Kind { val sparkType: DataType = StringType }
  /** A string drawn from a small fixed vocabulary (flags, modes). */
  final case class EnumK(values: Seq[String]) extends Kind { val sparkType: DataType = StringType }
  case object DateK extends Kind { val sparkType: DataType = DateType }
  case object StructK extends Kind {
    val sparkType: DataType = StructType(Seq(
      StructField("mode", StringType), StructField("priority", IntegerType),
      StructField("carrier", StringType)))
  }
  case object ArrayK extends Kind { val sparkType: DataType = ArrayType(StringType) }
  case object MapK extends Kind { val sparkType: DataType = MapType(StringType, StringType) }

  /** How a drifted target value differs from its source value. */
  sealed trait Change { def col: String }
  /** String column gets a suffix. */
  final case class Suffix(col: String) extends Change
  /** Numeric column moves by `delta`. */
  final case class Shift(col: String, delta: Double) extends Change
  /** Struct column's `priority` field moves by one. */
  final case class StructField1(col: String) extends Change
  /** Map column's `a` entry changes. */
  final case class MapEntry(col: String) extends Change

  final case class Col(name: String, kind: Kind)

  /** Fractions of the key universe given each drift. Categories are disjoint:
    * a key is missing on one side, duplicated on one side, changed by one
    * [[Change]], or identical.
    */
  final case class Drift(
      missTgt: Double = 0,
      missSrc: Double = 0,
      dupSrc: Double = 0,
      dupTgt: Double = 0,
      changes: Seq[Change] = Nil,
      perChange: Double = 0)

  /** One dataset: `keys` are 1 or 2 long columns derived from the key ordinal
    * (unique by construction; [[Workloads]] asserts it on the written data).
    */
  final case class Table(
      name: String,
      rows: Long,
      keys: Seq[String],
      cols: Seq[Col],
      drift: Drift = Drift(),
      tolerance: Double = 0.01,
      salt: Long = 0) {
    require(keys.size == 1 || keys.size == 2, s"$name: 1 or 2 key columns")
    def schema: StructType =
      StructType(keys.map(StructField(_, LongType)) ++ cols.map(c => StructField(c.name, c.kind.sparkType)))
    def kind(col: String): Kind = cols.find(_.name == col).map(_.kind)
      .getOrElse(throw new IllegalArgumentException(s"$name has no column $col"))
    drift.changes.foreach(c => kind(c.col))
  }

  // ---- drift categories ---------------------------------------------------------

  sealed trait Cat
  case object Same extends Cat
  case object MissTgt extends Cat
  case object MissSrc extends Cat
  case object DupSrc extends Cat
  case object DupTgt extends Cat
  final case class Changed(change: Change) extends Cat

  /** Exact size of every drift category of `t`. */
  def catSizes(t: Table): Seq[(Cat, Long)] = {
    def of(f: Double) = (t.rows * f).toLong
    val d = t.drift
    val sized = Seq[(Cat, Long)](
      MissTgt -> of(d.missTgt), MissSrc -> of(d.missSrc),
      DupSrc -> of(d.dupSrc), DupTgt -> of(d.dupTgt)) ++
      d.changes.map(c => Changed(c) -> of(d.perChange))
    require(sized.map(_._2).sum <= t.rows, s"${t.name}: drift exceeds the key universe")
    sized :+ (Same -> (t.rows - sized.map(_._2).sum))
  }

  /** Category of key ordinal `k` under the seeded permutation. */
  final class Categorizer(t: Table, seed: Long) extends Serializable {
    private val perm = Perm.seeded(t.rows, seed, t.salt)
    private val bounds: Array[(Long, Cat)] = {
      var acc = 0L
      catSizes(t).map { case (c, n) => acc += n; (acc, c) }.toArray
    }
    def apply(k: Long): Cat = {
      val p = perm(k)
      bounds.find(p < _._1).get._2
    }
  }

  // ---- values -----------------------------------------------------------------

  private val Syllables = Seq("ka", "lo", "mi", "ne", "su", "ta", "ri", "vo", "de", "pa", "xu", "or")

  private def word(x: Long, len: Int): String = {
    val b = new StringBuilder
    var z = x
    for (_ <- 0 until len) { b.append(Syllables((z % Syllables.size).toInt)); z = z / Syllables.size + 7 }
    b.toString
  }

  def value(kind: Kind, seed: Long, salt: Long, ci: Int, k: Long): Any = {
    val x = h(seed, salt, ci, k)
    kind match {
      case LongK => x % 1000000L
      case IntK => (x % 50).toInt + 1
      case DoubleK => (x % 10000000L) / 100.0
      case DecimalK => JBigDecimal.valueOf(x % 10000000L, 2)
      case StringK => word(x, 4 + (x % 9).toInt)
      case EnumK(vs) => vs((x % vs.size).toInt)
      case DateK => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(8000 + x % 2500))
      case StructK => Row(word(x, 2), (x % 5).toInt + 1, word(x >>> 8, 3))
      case ArrayK => Seq.tabulate((x % 4).toInt)(i => word(x >>> (8 * i), 2))
      case MapK =>
        Seq("a" -> word(x, 2), "b" -> word(x >>> 9, 3), "c" -> word(x >>> 17, 2))
          .take(1 + (x % 3).toInt).toMap
    }
  }

  def keyValues(t: Table, k: Long): Seq[Long] =
    if (t.keys.size == 1) Seq(k + 1) else Seq(k / 4 + 1, k % 4 + 1)

  def baseRow(t: Table, seed: Long, k: Long): Seq[Any] =
    keyValues(t, k) ++ t.cols.zipWithIndex.map { case (c, i) => value(c.kind, seed, t.salt, i, k) }

  def changed(t: Table, row: Seq[Any], ch: Change): Seq[Any] = {
    val i = t.keys.size + t.cols.indexWhere(_.name == ch.col)
    val v = row(i)
    val nv: Any = (ch, v) match {
      case (Suffix(_), s: String) => s + "!"
      case (Shift(_, d), x: Double) => x + d
      case (Shift(_, d), x: JBigDecimal) => x.add(JBigDecimal.valueOf(d)).setScale(2, java.math.RoundingMode.HALF_UP)
      case (Shift(_, d), x: Long) => x + math.max(1L, d.toLong)
      case (Shift(_, d), x: Int) => x + math.max(1, d.toInt)
      case (StructField1(_), r: Row) => Row(r.get(0), r.getInt(1) + 1, r.get(2))
      case (MapEntry(_), m: Map[_, _]) =>
        val mm = m.asInstanceOf[Map[String, String]]
        mm.updated("a", mm("a") + "x")
      case other => throw new IllegalArgumentException(s"${t.name}: cannot apply $other")
    }
    row.updated(i, nv)
  }

  /** The rows key ordinal `k` contributes to the source and the target. */
  def sides(t: Table, seed: Long, cat: Cat, k: Long): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    val r = baseRow(t, seed, k)
    cat match {
      case Same => (Seq(r), Seq(r))
      case MissTgt => (Seq(r), Nil)
      case MissSrc => (Nil, Seq(r))
      case DupSrc => (Seq(r, r), Seq(r))
      case DupTgt => (Seq(r), Seq(r, r))
      case Changed(c) => (Seq(r), Seq(changed(t, r, c)))
    }
  }

  // ---- expectations ---------------------------------------------------------------

  val MissingAtSource = "MISSING_AT_SOURCE"
  val MissingAtTarget = "MISSTING_AT_TARGET"
  val PresentInBoth = "PRESENT_IN_BOTH"

  /** What the engine must report for one dataset. `rowGroups` counts the
    * row-level report's rows per (missing_row_status, all_rows_matched,
    * duplicate_count); `colUnmatched` lists every non-key column in schema
    * order; `extracts` holds the offending columns' extract row counts.
    */
  final case class Expect(
      dataset: String,
      srcRows: Long,
      tgtRows: Long,
      srcDups: Long,
      tgtDups: Long,
      missSrc: Long,
      missTgt: Long,
      matched: Long,
      rowGroups: Map[(String, Boolean, Long), Long],
      colUnmatched: Seq[(String, Long)],
      extracts: Map[String, Long]) {
    def passed: Boolean = srcRows == matched && tgtRows == matched
  }

  /** True when `ch` stays inside the tolerance, i.e. the engine rescues it. */
  def rescued(t: Table, ch: Change): Boolean = ch match {
    case Shift(c, d) => (t.kind(c) == DoubleK || t.kind(c) == DecimalK) && math.abs(d) <= t.tolerance
    case _ => false
  }

  def expect(t: Table): Expect = {
    val sizes = catSizes(t).toMap
    def n(c: Cat) = sizes.getOrElse(c, 0L)
    val failing = t.drift.changes.filterNot(rescued(t, _))
    val unmatchedChanged = failing.map(c => n(Changed(c))).sum
    val perCol = failing.groupBy(_.col).map { case (c, chs) => c -> chs.map(x => n(Changed(x))).sum }
    val matched = t.rows - n(MissSrc) - n(MissTgt) - unmatchedChanged
    val groups = Map(
      (MissingAtTarget, false, 0L) -> n(MissTgt),
      (MissingAtSource, false, 0L) -> n(MissSrc),
      (PresentInBoth, true, 1L) -> (n(DupSrc) + n(DupTgt)),
      (PresentInBoth, false, 0L) -> unmatchedChanged,
      (PresentInBoth, true, 0L) -> (matched - n(DupSrc) - n(DupTgt)))
    Expect(
      dataset = t.name,
      srcRows = t.rows - n(MissSrc) + n(DupSrc),
      tgtRows = t.rows - n(MissTgt) + n(DupTgt),
      srcDups = n(DupSrc),
      tgtDups = n(DupTgt),
      missSrc = n(MissSrc),
      missTgt = n(MissTgt),
      matched = matched,
      rowGroups = groups.filter(_._2 > 0),
      colUnmatched = t.cols.map(c => c.name -> perCol.getOrElse(c.name, 0L)),
      extracts = perCol.filter(_._2 > 0))
  }

  // ---- the workloads' tables ----------------------------------------------------------

  /** A lineitem-shaped wide table: a unique surrogate key, the sixteen
    * lineitem columns, and a struct, an array and a map column.
    */
  def wideCols: Seq[Col] = Seq(
    Col("l_orderkey", LongK), Col("l_quantity", DecimalK), Col("l_extendedprice", DoubleK),
    Col("l_discount", DoubleK), Col("l_shipdate", DateK), Col("l_comment", StringK),
    Col("ship", StructK), Col("tags", ArrayK), Col("attrs", MapK))

  val WideDriftChanges: Seq[Change] = Seq(
    Suffix("l_comment"), Shift("l_discount", 0.004), Shift("l_extendedprice", 1.25),
    StructField1("ship"), MapEntry("attrs"))

  def cleanWide(rows: Long): Table = Table("lineitem_wide", rows, Seq("row_id"), wideCols)

  def driftWide(rows: Long): Table =
    cleanWide(rows).copy(drift = Drift(
      missTgt = 0.02, missSrc = 0.02, dupSrc = 0.0025, dupTgt = 0.0025,
      changes = WideDriftChanges, perChange = 0.016))

  private val LightDrift = (str: String, num: String) => Drift(
    missTgt = 0.01, missSrc = 0.01, dupTgt = 0.005,
    changes = Seq(Suffix(str), Shift(num, 0.004), Shift(num, 2.5)), perChange = 0.01)

  /** Eight small TPC-H-shaped tables at sf0.01 row counts; half drift lightly,
    * two have composite keys.
    */
  def manySmall(scale: Double): Seq[Table] = {
    def rows(n: Long) = math.max(5L, (n * scale).toLong)
    Seq(
      Table("region", rows(5), Seq("r_regionkey"),
        Seq(Col("r_name", StringK), Col("r_comment", StringK)), salt = 1),
      Table("nation", rows(25), Seq("n_nationkey"),
        Seq(Col("n_name", StringK), Col("n_regionkey", LongK), Col("n_comment", StringK)), salt = 2),
      Table("supplier", rows(100), Seq("s_suppkey"),
        Seq(Col("s_name", StringK), Col("s_address", StringK), Col("s_nationkey", LongK),
          Col("s_phone", StringK), Col("s_acctbal", DoubleK), Col("s_comment", StringK)),
        drift = LightDrift("s_address", "s_acctbal"), salt = 3),
      Table("customer", rows(1500), Seq("c_custkey"),
        Seq(Col("c_name", StringK), Col("c_address", StringK), Col("c_nationkey", LongK),
          Col("c_phone", StringK), Col("c_acctbal", DecimalK),
          Col("c_mktsegment", EnumK(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))),
          Col("c_comment", StringK)),
        drift = LightDrift("c_comment", "c_acctbal"), salt = 4),
      Table("part", rows(2000), Seq("p_partkey"),
        Seq(Col("p_name", StringK), Col("p_mfgr", StringK), Col("p_brand", StringK),
          Col("p_type", StringK), Col("p_size", IntK), Col("p_container", StringK),
          Col("p_retailprice", DecimalK), Col("p_comment", StringK)), salt = 5),
      Table("partsupp", rows(8000), Seq("ps_partkey", "ps_suppkey"),
        Seq(Col("ps_availqty", IntK), Col("ps_supplycost", DoubleK), Col("ps_comment", StringK)),
        drift = LightDrift("ps_comment", "ps_supplycost"), salt = 6),
      Table("orders", rows(15000), Seq("o_orderkey"),
        Seq(Col("o_custkey", LongK), Col("o_orderstatus", EnumK(Seq("F", "O", "P"))),
          Col("o_totalprice", DecimalK), Col("o_orderdate", DateK), Col("o_orderpriority", StringK),
          Col("o_clerk", StringK), Col("o_shippriority", IntK), Col("o_comment", StringK)), salt = 7),
      Table("lineitem", rows(60000), Seq("l_orderkey", "l_linenumber"),
        wideCols.filterNot(_.name == "l_orderkey"),
        drift = LightDrift("l_comment", "l_extendedprice"), salt = 8))
  }
}
