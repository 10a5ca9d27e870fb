package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Nearest-centroid assignment as a codegen'd scalar: the position of
  * the closest row of `cents` (squared-L2, strict-less so the first
  * minimum wins — the same tie-break as MLlib's `findClosest` and the
  * (cdist, list_id) window in IvfIndex.searchAllScan) for a float-array
  * embedding.
  *
  * This is FAISS `index.add`'s coarse-quantizer step
  * (/root/reference/app.py:55) for APPENDED data: the centroid matrix
  * is driver-tiny (≤ nlist rows — the same bounded-collect class as
  * probeLists) and rides into codegen as a reference object, so
  * assignment is a NARROW map — appended vectors are bucketed without
  * a join, a broadcast, or a shuffle. At 100 TB ingest rate that is
  * the difference between a streaming append and a nightly batch.
  *
  * `ip = true` flips the metric to inner product (position of the
  * MAXIMUM-dot row, strict-greater so the first maximum wins) — the
  * coarse-quantizer step of a `METRIC_INNER_PRODUCT` IVF index, whose
  * quantizer is an `IndexFlatIP` (FAISS `IndexIVFFlat(quantizer, d,
  * nlist, METRIC_INNER_PRODUCT)`; see [[graft.operators.IpSearch]]).
  */
case class NearestList(child: Expression, cents: Array[Array[Float]],
                       ip: Boolean = false)
    extends UnaryExpression {

  override def prettyName: String = "nearest_list"
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if cents.nonEmpty =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType, _) =>
      TypeCheckResult.TypeCheckFailure("nearest_list: empty centroid matrix")
    case t =>
      TypeCheckResult.TypeCheckFailure(
        s"nearest_list requires array<float>, got ${t.catalogString}")
  }

  private def dim: Int = cents(0).length

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (a.numElements() != dim) {
      throw new IllegalArgumentException(
        s"nearest_list: vector dimension mismatch (${a.numElements()} vs $dim)")
    }
    var best = 0
    var bestD = if (ip) Double.MinValue else Double.MaxValue
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      var acc = 0.0; var i = 0
      if (ip) {
        while (i < c.length) { acc += a.getFloat(i).toDouble * c(i); i += 1 }
        if (acc > bestD) { bestD = acc; best = j }
      } else {
        while (i < c.length) {
          val d = a.getFloat(i).toDouble - c(i); acc += d * d; i += 1
        }
        if (acc < bestD) { bestD = acc; best = j }
      }
      j += 1
    }
    best
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val mat = ctx.addReferenceObj("cents", cents, "float[][]")
      val j = ctx.freshName("j"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
      val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
      val c = ctx.freshName("c")
      val (init, accum, better) =
        if (ip) ("-Double.MAX_VALUE",
          s"$acc += (double)$a.getFloat($i) * (double)$c[$i];",
          ">")
        else ("Double.MAX_VALUE",
          s"""double $d = (double)$a.getFloat($i) - (double)$c[$i];
             |    $acc += $d * $d;""".stripMargin,
          "<")
      s"""
         |if ($a.numElements() != ${dim}) {
         |  throw new IllegalArgumentException(
         |    "nearest_list: vector dimension mismatch (" + $a.numElements() + " vs ${dim})");
         |}
         |int $best = 0; double $bestD = $init;
         |for (int $j = 0; $j < $mat.length; $j++) {
         |  float[] $c = $mat[$j];
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $c.length; $i++) {
         |    $accum
         |  }
         |  if ($acc $better $bestD) { $bestD = $acc; $best = $j; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
