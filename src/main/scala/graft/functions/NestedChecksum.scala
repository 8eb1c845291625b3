package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData, TypeUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd 128-bit checksum of a nested value: the compare engine's one
  * canonical form for nested values. Every struct, array and map column
  * feeds the row checksum through it, and the per-column predicate of a
  * map-bearing column (of every nested column under
  * `canonicalizeNestedTypes`) compares its output.
  *
  * The kernel walks the value once per row and feeds one token stream into
  * two XXH64 chains seeded with different salts; the result is the two
  * 64-bit chain states as 16 bytes. The stream is prefix-free for a fixed
  * type, so two values get the same checksum (up to 128-bit collisions)
  * exactly when they have the same canonical form:
  *
  *  - every value slot (the top value, struct fields, array elements, map
  *    values) writes a NULL or PRESENT marker before its content, so
  *    `[NULL]` vs `[]`, a NULL struct vs an all-NULL struct, and a value
  *    shifting across a NULL element all differ;
  *  - arrays and maps write their length before their elements;
  *  - map entries are written in key order (binary order for string keys,
  *    Spark's ordering otherwise), so insertion order does not matter; a
  *    key type that holds a map is unorderable, and such a map keeps its
  *    physical entry order at that level;
  *  - float and double leaves hash their bit pattern: all NaNs collapse to
  *    one, and the sign bit marks -0.0 apart from 0.0.
  *
  * That is at least as fine as null-safe equality `<=>` (which also equates
  * −0.0 with 0.0, and strings equal under their collation), so a checksum
  * match never hides a difference the predicate would see. It is also at
  * least as fine as the key-sorted JSON text that renders map-bearing
  * extract values, and finer on timestamps, which the text rounds to
  * milliseconds; `NestedChecksumSpec` checks both on generated values.
  *
  * It replaces a lambda tree of `transform` and comparator `array_sort`,
  * both `CodegenFallback`: the generated code is one function per container
  * level (so wide or deep types never build one huge method), with the
  * leaves inline.
  */
object NestedChecksum {

  private[functions] final val NullMark = 0
  private[functions] final val PresentMark = 1

  def apply(c: Column, saltA: Long, saltB: Long): Column =
    GraftColumnBridge.column(NestedHash(GraftColumnBridge.expression(c), saltA, saltB))

  /** Leaves without a primitive Java type (decimal, binary, intervals …)
    * hash like Spark's own xxhash64 does; called from generated code.
    */
  def leaf(v: Any, dt: DataType, seed: Long): Long = XxHash64Function.hash(v, dt, seed)

  /** Does `dt` hold a map at any depth (its values are then unorderable)? */
  private[graft] def containsMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => containsMap(f.dataType))
    case a: ArrayType => containsMap(a.elementType)
    case _ => false
  }
}

/** Entry order of one map's keys: the permutation that sorts them. Shared
  * by the interpreted walk and the generated code (as a reference object),
  * so it keeps no per-call state.
  */
final class KeyOrder(keyType: DataType) extends Serializable {
  @transient private lazy val ordering = TypeUtils.getInterpretedOrdering(keyType)

  def order(keys: ArrayData): Array[Int] = {
    val n = keys.numElements()
    val idx = Array.tabulate[Integer](n)(Int.box)
    if (n > 1) {
      // Any total order over distinct keys is canonical; binary order on
      // strings is the cheapest one.
      val cmp: java.util.Comparator[Integer] = keyType match {
        case _: StringType => (i, j) => keys.getUTF8String(i).binaryCompare(keys.getUTF8String(j))
        case _ =>
          val ks = Array.tabulate[Any](n)(keys.get(_, keyType))
          (i, j) => ordering.compare(ks(i), ks(j))
      }
      java.util.Arrays.sort(idx, cmp)
    }
    idx.map(_.intValue)
  }
}

/** The kernel: `child` of any type in, 16 bytes (two salted XXH64 states)
  * out, never NULL (a NULL input hashes its marker).
  */
case class NestedHash(child: Expression, saltA: Long, saltB: Long) extends UnaryExpression {
  import NestedChecksum.{NullMark, PresentMark}

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "nested_checksum"

  private def keyOrder(m: MapType): Option[KeyOrder] =
    if (NestedChecksum.containsMap(m.keyType)) None else Some(new KeyOrder(m.keyType))

  // ---- interpreted walk (constant folding, codegen fallback) ----

  override def eval(input: InternalRow): Any = {
    val h = Array(saltA, saltB)
    slot(child.eval(input), child.dataType, h)
    val out = new Array[Byte](16)
    Platform.putLong(out, Platform.BYTE_ARRAY_OFFSET, h(0))
    Platform.putLong(out, Platform.BYTE_ARRAY_OFFSET + 8, h(1))
    out
  }

  private def mixInt(h: Array[Long], x: Int): Unit = {
    h(0) = XXH64.hashInt(x, h(0)); h(1) = XXH64.hashInt(x, h(1))
  }

  private def mixLong(h: Array[Long], x: Long): Unit = {
    h(0) = XXH64.hashLong(x, h(0)); h(1) = XXH64.hashLong(x, h(1))
  }

  private def slot(v: Any, dt: DataType, h: Array[Long]): Unit =
    if (v == null) mixInt(h, NullMark)
    else { mixInt(h, PresentMark); value(v, dt, h) }

  private def value(v: Any, dt: DataType, h: Array[Long]): Unit = dt match {
    case u: UserDefinedType[_] => value(v, u.sqlType, h)
    case s: StructType =>
      val r = v.asInstanceOf[InternalRow]
      s.fields.indices.foreach { i =>
        val ft = s.fields(i).dataType
        slot(if (r.isNullAt(i)) null else r.get(i, ft), ft, h)
      }
    case a: ArrayType =>
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      mixInt(h, n)
      (0 until n).foreach(i =>
        slot(if (arr.isNullAt(i)) null else arr.get(i, a.elementType), a.elementType, h))
    case m: MapType =>
      val md = v.asInstanceOf[MapData]
      val (ks, vs, n) = (md.keyArray(), md.valueArray(), md.numElements())
      mixInt(h, n)
      val ord = keyOrder(m).map(_.order(ks))
      (0 until n).foreach { i =>
        val j = ord.fold(i)(_(i))
        value(ks.get(j, m.keyType), m.keyType, h)
        slot(if (vs.isNullAt(j)) null else vs.get(j, m.valueType), m.valueType, h)
      }
    case _ => CodeGenerator.javaType(dt) match {
      case "boolean" => mixInt(h, if (v.asInstanceOf[Boolean]) 1 else 0)
      case "byte" => mixInt(h, v.asInstanceOf[Byte].toInt)
      case "short" => mixInt(h, v.asInstanceOf[Short].toInt)
      case "int" => mixInt(h, v.asInstanceOf[Int])
      case "long" => mixLong(h, v.asInstanceOf[Long])
      case "float" => mixInt(h, java.lang.Float.floatToIntBits(v.asInstanceOf[Float]))
      case "double" => mixLong(h, java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]))
      case "UTF8String" =>
        val s = v.asInstanceOf[UTF8String]
        h(0) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, h(0))
        h(1) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, h(1))
      case _ =>
        h(0) = NestedChecksum.leaf(v, dt, h(0)); h(1) = NestedChecksum.leaf(v, dt, h(1))
    }
  }

  // ---- generated code: the same walk, token for token ----

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val h = ctx.addMutableState("long[]", "nestedHash", v => s"$v = new long[2];")
    val c = child.genCode(ctx)
    val (out, p) = (ev.value, classOf[Platform].getName)
    ev.copy(code = code"""
      |${c.code}
      |$h[0] = ${saltA}L;
      |$h[1] = ${saltB}L;
      |${genSlot(ctx, h, c.isNull.toString, c.value.toString, child.dataType)}
      |final byte[] $out = new byte[16];
      |$p.putLong($out, $p.BYTE_ARRAY_OFFSET, $h[0]);
      |$p.putLong($out, $p.BYTE_ARRAY_OFFSET + 8, $h[1]);
      """.stripMargin, isNull = FalseLiteral)
  }

  private val Xxh = classOf[XXH64].getName

  private val Kernel = NestedChecksum.getClass.getName.stripSuffix("$")

  /** Update both chain states; `hash` maps a seed expression to the call. */
  private def genMix(h: String, hash: String => String): String =
    s"$h[0] = ${hash(s"$h[0]")}; $h[1] = ${hash(s"$h[1]")};"

  private def genMixInt(h: String, x: String): String = genMix(h, s => s"$Xxh.hashInt($x, $s)")

  /** `get` is evaluated only when `isNull` is false. */
  private def genSlot(ctx: CodegenContext, h: String, isNull: String, get: String,
      dt: DataType): String =
    s"""if ($isNull) { ${genMixInt(h, NullMark.toString)} }
       |else {
       |  ${genMixInt(h, PresentMark.toString)}
       |  ${genValue(ctx, h, get, dt)}
       |}""".stripMargin

  private def genValue(ctx: CodegenContext, h: String, get: String, dt: DataType): String = {
    val x = ctx.freshName("x")
    val jt = CodeGenerator.javaType(dt)
    def bind = s"final $jt $x = $get;"
    dt match {
      case u: UserDefinedType[_] => genValue(ctx, h, get, u.sqlType)
      case s: StructType =>
        val r = ctx.freshName("r")
        val body = s.fields.indices.map { i =>
          val ft = s.fields(i).dataType
          genSlot(ctx, h, s"$r.isNullAt($i)", CodeGenerator.getValue(r, ft, i.toString), ft)
        }.mkString("\n")
        s"${genFunction(ctx, "nestedHashStruct", s"InternalRow $r", body)}($get);"
      case a: ArrayType =>
        val (arr, i) = (ctx.freshName("arr"), ctx.freshName("i"))
        val et = a.elementType
        val body =
          s"""final int n = $arr.numElements();
             |${genMixInt(h, "n")}
             |for (int $i = 0; $i < n; $i++) {
             |  ${genSlot(ctx, h, s"$arr.isNullAt($i)", CodeGenerator.getValue(arr, et, i), et)}
             |}""".stripMargin
        s"${genFunction(ctx, "nestedHashArray", s"ArrayData $arr", body)}($get);"
      case m: MapType =>
        val (md, i, j) = (ctx.freshName("map"), ctx.freshName("i"), ctx.freshName("j"))
        val (kt, vt) = (m.keyType, m.valueType)
        val entry = keyOrder(m) match {
          case Some(ko) =>
            val ref = ctx.addReferenceObj("keyOrder", ko, classOf[KeyOrder].getName)
            (s"final int[] ord = $ref.order(ks);", s"ord[$i]")
          case None => ("", i)
        }
        val body =
          s"""final int n = $md.numElements();
             |final ArrayData ks = $md.keyArray();
             |final ArrayData vs = $md.valueArray();
             |${genMixInt(h, "n")}
             |${entry._1}
             |for (int $i = 0; $i < n; $i++) {
             |  final int $j = ${entry._2};
             |  ${genValue(ctx, h, CodeGenerator.getValue("ks", kt, j), kt)}
             |  ${genSlot(ctx, h, s"vs.isNullAt($j)", CodeGenerator.getValue("vs", vt, j), vt)}
             |}""".stripMargin
        s"${genFunction(ctx, "nestedHashMap", s"MapData $md", body)}($get);"
      case _ => jt match {
        case "boolean" => s"$bind ${genMixInt(h, s"($x ? 1 : 0)")}"
        case "byte" | "short" | "int" => s"$bind ${genMixInt(h, s"(int) $x")}"
        case "long" => s"$bind ${genMix(h, s => s"$Xxh.hashLong($x, $s)")}"
        case "float" => s"$bind ${genMixInt(h, s"Float.floatToIntBits($x)")}"
        case "double" =>
          s"$bind ${genMix(h, s => s"$Xxh.hashLong(Double.doubleToLongBits($x), $s)")}"
        case "UTF8String" => s"$bind " + genMix(h, s =>
          s"$Xxh.hashUnsafeBytes($x.getBaseObject(), $x.getBaseOffset(), $x.numBytes(), $s)")
        case _ =>
          val dtRef = ctx.addReferenceObj("leafType", dt, classOf[DataType].getName)
          s"$bind ${genMix(h, s => s"$Kernel.leaf($x, $dtRef, $s)")}"
      }
    }
  }

  /** One generated method per container level; returns its callable name. */
  private def genFunction(ctx: CodegenContext, prefix: String, param: String,
      body: String): String = {
    val name = ctx.freshName(prefix)
    ctx.addNewFunction(name, s"private void $name($param) {\n$body\n}")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
