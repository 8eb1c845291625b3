package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, when}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.core.Comparison
import graft.functions.NestedChecksum

/** Differential property of the nested checksum kernel: over generated
  * pairs of nested values, two values get the same kernel checksum exactly
  * when their canonical JSON text (the form per-column predicates and
  * extracts use) is the same. Values come from a deliberately tiny domain
  * — a few strings, 0/1, ±0.0, two NaN bit patterns, NULLs and empty
  * containers at every level, maps rebuilt in another entry order, zeros
  * with the other sign — so equal and near-equal pairs are common. Seeds
  * are fixed.
  */
class NestedChecksumSpec extends SparkSpec {

  private val SaltA = 0x9e3779b97f4a7c15L
  private val SaltB = 0x85ebca77c2b2ae63L
  private def kernel(c: Column): Column = NestedChecksum(c, SaltA, SaltB)

  private val leafTypes: Seq[DataType] =
    Seq(StringType, IntegerType, LongType, DoubleType, FloatType, BooleanType)

  private def genType(depth: Int): Gen[DataType] = {
    val leaf = Gen.oneOf(leafTypes)
    if (depth == 0) leaf
    else Gen.frequency(
      2 -> leaf,
      1 -> genType(depth - 1).map(ArrayType(_)),
      1 -> Gen.zip(Gen.oneOf(StringType, IntegerType), genType(depth - 1))
        .map { case (k, v) => MapType(k, v) },
      1 -> Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, genType(depth - 1)))
        .map(ts => StructType(ts.zipWithIndex.map { case (t, i) => StructField(s"f$i", t) })))
  }

  /** A nested (struct, array or map) type of depth at most 3. */
  private val genTopType: Gen[DataType] =
    genType(3).suchThat(t => t.isInstanceOf[StructType] || t.isInstanceOf[ArrayType] ||
      t.isInstanceOf[MapType])

  private val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)

  private def genPresent(dt: DataType): Gen[Any] = dt match {
    case StringType => Gen.oneOf("", "a", "b")
    case IntegerType => Gen.oneOf(0, 1)
    case LongType => Gen.oneOf(0L, -1L)
    case DoubleType => Gen.oneOf(0.0, -0.0, Double.NaN, otherNaN, 1.5)
    case FloatType => Gen.oneOf(0.0f, -0.0f, Float.NaN, 2.5f)
    case BooleanType => Gen.oneOf(true, false)
    case a: ArrayType => Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, genValue(a.elementType)))
    case m: MapType =>
      Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, Gen.zip(genPresent(m.keyType), genValue(m.valueType))))
        .map(entries => ListMap(entries.toMap.toSeq: _*))
    case s: StructType => Gen.sequence[Seq[Any], Any](s.fields.map(f => genValue(f.dataType)))
      .map(Row.fromSeq)
  }

  private def genValue(dt: DataType): Gen[Any] =
    Gen.frequency(1 -> Gen.const(null), 5 -> genPresent(dt))

  /** The same value with every map's entries in reverse physical order. */
  private def reordered(v: Any): Any = v match {
    case m: ListMap[_, _] => ListMap(m.toSeq.reverse.map { case (k, x) => k -> reordered(x) }: _*)
    case s: Seq[_] => s.map(reordered)
    case r: Row => Row.fromSeq(r.toSeq.map(reordered))
    case other => other
  }

  /** The same value with the sign of every zero flipped and every NaN
    * given the other bit pattern: JSON-different exactly when a zero is
    * present.
    */
  private def zeroFlipped(v: Any): Any = v match {
    case d: Double => if (d == 0.0) -d else if (d.isNaN) otherNaN else d
    case f: Float => if (f == 0.0f) -f else f
    case m: ListMap[_, _] => ListMap(m.toSeq.map { case (k, x) => k -> zeroFlipped(x) }: _*)
    case s: Seq[_] => s.map(zeroFlipped)
    case r: Row => Row.fromSeq(r.toSeq.map(zeroFlipped))
    case other => other
  }

  /** Independent pairs (often equal on this domain), reordered twins and
    * zero-flipped twins.
    */
  private def genPair(dt: DataType): Gen[(Any, Any)] = Gen.frequency(
    3 -> Gen.zip(genValue(dt), genValue(dt)),
    1 -> genValue(dt).map(v => (v, reordered(v))),
    1 -> genValue(dt).map(v => (v, zeroFlipped(v))))

  private def pairsFrame(dt: DataType, pairs: Seq[(Any, Any)]): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("l", dt), StructField("r", dt)))
    val rows = pairs.zipWithIndex.map { case ((l, r), i) => Row(i, l, r) }
    // an RDD source, not a local relation, so the projection runs in
    // whole-stage generated code rather than being folded on the driver
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  private def sample[A](gen: Gen[A], seed: Long): A =
    gen.pureApply(Gen.Parameters.default.withSize(8), Seed(seed))

  private val types: Seq[DataType] = Seq(
    MapType(StringType, DoubleType), // map values: NULL, ±0.0, NaN
    MapType(StringType, MapType(IntegerType, StringType)), // nested maps
    ArrayType(StringType), // NULL elements, shifts across them
    ArrayType(StructType(Seq(StructField("a", FloatType), StructField("b", ArrayType(LongType)))))
  ) ++ (1L to 8L).map(s => sample(genTopType, 1000L + s))

  test("kernel equality holds exactly when canonical JSON text equality holds (generated pairs)") {
    types.zipWithIndex.foreach { case (dt, ti) =>
      val pairs = sample(Gen.listOfN(150, genPair(dt)), 2000L + ti)
      val checked = pairsFrame(dt, pairs).select(
        (kernel(col("l")) === kernel(col("r"))).as("k_eq"),
        (Comparison.jsonCanonical(col("l"), dt) <=> Comparison.jsonCanonical(col("r"), dt)).as("j_eq"))
      val Row(disagree: Long, equal: Long) = checked
        .agg(count(when(col("k_eq") =!= col("j_eq"), 1)), count(when(col("j_eq"), 1)))
        .head()
      assert(disagree == 0L, s"${dt.simpleString}: " +
        checked.where(col("k_eq") =!= col("j_eq")).collect().take(3).mkString("; "))
      assert(equal >= 15L, s"${dt.simpleString}: only $equal equal pairs, the check is too weak")
    }
  }

  test("timestamp and timestamp_ntz leaves: the kernel tells values under 1 ms apart apart, the JSON text does not") {
    import org.apache.spark.sql.functions.expr
    // the one known place where the kernel is strictly finer than the text:
    // to_json renders both timestamp types at millisecond precision
    def value(micros: String) = expr(s"array(named_struct(" +
      s"'t', timestamp'2024-01-01 00:00:00.$micros', " +
      s"'n', timestamp_ntz'2024-01-01 00:00:00.$micros'))")
    val pairs = spark.range(1).select(value("123456").as("l"), value("123956").as("r"))
    val dt = pairs.schema("l").dataType
    assert(dt.simpleString == "array<struct<t:timestamp,n:timestamp_ntz>>", dt.simpleString)
    val Row(kernelEq: Boolean, textEq: Boolean, sameKernel: Boolean) = pairs.select(
      kernel(col("l")) === kernel(col("r")),
      Comparison.jsonCanonical(col("l"), dt) <=> Comparison.jsonCanonical(col("r"), dt),
      kernel(col("l")) === kernel(value("123456"))).head()
    assert(!kernelEq, "the kernel must keep the microseconds")
    assert(textEq, "the JSON text renders both values as the same millisecond")
    assert(sameKernel, "equal timestamps must keep equal kernel output")
  }

  test("generated code and the interpreted walk produce the same checksum bytes") {
    def sums(df: DataFrame): Seq[Seq[Byte]] =
      df.select(kernel(col("l")), kernel(col("r"))).collect().toSeq
        .flatMap(r => Seq(r.getAs[Array[Byte]](0).toSeq, r.getAs[Array[Byte]](1).toSeq))
    types.zipWithIndex.foreach { case (dt, ti) =>
      val df = pairsFrame(dt, sample(Gen.listOfN(40, genPair(dt)), 3000L + ti))
      val generated = sums(df)
      val interpreted = SessionConf.scoped(spark,
          "spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(sums(df))
      assert(generated == interpreted, dt.simpleString)
    }
  }

  test("generated code compiles under CODEGEN_ONLY, and the scan keeps no lambda fallback") {
    val dt = types(3)
    val df = pairsFrame(dt, sample(Gen.listOfN(10, genPair(dt)), 7L))
    SessionConf.scoped(spark, "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      assert(df.select(kernel(col("l"))).collect().forall(_.getAs[Array[Byte]](0).length == 16))
    }
    val plan = df.select(kernel(col("l"))).queryExecution.executedPlan.toString
    assert(plan.contains("nested_checksum") && !plan.contains("transform(") &&
      !plan.contains("array_sort("), plan)
  }
}
