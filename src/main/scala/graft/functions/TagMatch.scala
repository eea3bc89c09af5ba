package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.map_filter
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** `tags_any_match(tags, dim)` — the POI classification probe (predicate
  * F4 / join J1 of SURVEY.md §2; reference: filter.py:175-180 probes a
  * Python dict of TagInfo values per tag key).
  *
  * Semantically this is a broadcast LEFT SEMI join of the tag map's
  * entries against the small TagInfo dimension on (key, value), emitting
  * each input row at most once (the reference's early `return`,
  * filter.py:199,211). Because the dimension is bounded tiny by contract
  * (≤ 100 values × ~8 keys, filter.py:239), we ship it inside the plan as
  * an expression parameter — the moral equivalent of Spark broadcasting
  * the build side of a BroadcastHashJoin — and probe an O(1) hash map per
  * tag entry. This keeps classification a single shuffle-free narrow
  * stage at any scale: no explode (which would multiply row count by tag
  * arity), no dedup shuffle, no join-back shuffle.
  *
  * Whole-stage codegen is implemented (`doGenCode`), so the probe fuses
  * into the scan→filter pipeline.
  *
  * @param child catalyst expression of MapType(String, String)
  * @param pairs the classifying (key, value) dimension, already filtered
  *              by F5 and the `count > MIN_OCCURENCES` threshold
  */
case class TagsAnyMatch(child: Expression, pairs: Seq[(String, String)])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "tags_any_match"

  /** key → set of matching values, in UTF8String space so probing never
    * materializes java.lang.String per row.
    */
  @transient private lazy val probe: java.util.HashMap[UTF8String, java.util.HashSet[UTF8String]] = {
    val m = new java.util.HashMap[UTF8String, java.util.HashSet[UTF8String]]()
    pairs.foreach { case (k, v) =>
      m.computeIfAbsent(UTF8String.fromString(k), _ => new java.util.HashSet[UTF8String]())
        .add(UTF8String.fromString(v))
    }
    m
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) false
    else {
      val m = v.asInstanceOf[MapData]
      val keys = m.keyArray()
      val vals = m.valueArray()
      val n = m.numElements()
      var i = 0
      var hit = false
      while (i < n && !hit) {
        val s = probe.get(keys.getUTF8String(i))
        if (s != null && s.contains(vals.getUTF8String(i))) hit = true
        i += 1
      }
      hit
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val probeRef = ctx.addReferenceObj("tagProbe", probe, "java.util.HashMap")
    val m = ctx.freshName("tagMap")
    val ka = ctx.freshName("keyArr")
    val va = ctx.freshName("valArr")
    val n = ctx.freshName("numTags")
    val i = ctx.freshName("i")
    val s = ctx.freshName("valSet")
    ev.copy(
      code = code"""
        ${childGen.code}
        boolean ${ev.value} = false;
        if (!${childGen.isNull}) {
          org.apache.spark.sql.catalyst.util.MapData $m = ${childGen.value};
          org.apache.spark.sql.catalyst.util.ArrayData $ka = $m.keyArray();
          org.apache.spark.sql.catalyst.util.ArrayData $va = $m.valueArray();
          int $n = $m.numElements();
          for (int $i = 0; $i < $n && !${ev.value}; $i++) {
            java.util.HashSet $s = (java.util.HashSet) $probeRef.get($ka.getUTF8String($i));
            if ($s != null && $s.contains($va.getUTF8String($i))) {
              ${ev.value} = true;
            }
          }
        }
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): TagsAnyMatch =
    copy(child = newChild)
}

object TagMatch {
  /** Column-API entry point for the F4/J1 probe. */
  def tagsAnyMatch(tags: Column, pairs: Seq[(String, String)]): Column =
    Bridge.column(TagsAnyMatch(Bridge.expression(tags), pairs))

  /** F9 — the tag map without the `keys` (reference TRIM_TAGS,
    * filter.py:102-111). An empty list returns `tags` itself, so the
    * untrimmed plan carries no `map_filter`.
    */
  def trimTags(tags: Column, keys: Seq[String]): Column =
    if (keys.isEmpty) tags
    else map_filter(tags, (k, _) => !k.isin(keys.map(x => x: Any): _*))
}
