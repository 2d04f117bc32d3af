package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** What [[IvfAssign]] and [[IvfAssignTopK]] share: the flat centroids
  * (`centroidsFlat(c*dim + i)` = entry i of centroid c), the cell id of
  * each centroid (empty = the ordinal), and a float or double input. */
abstract class IvfRouting extends UnaryExpression with Serializable {
  def centroidsFlat: Array[Double]
  def cellIds: Array[Int]
  def dim: Int
  require(dim > 0 && centroidsFlat.length % dim == 0 && centroidsFlat.nonEmpty,
    s"centroidsFlat (${centroidsFlat.length}) must be a nonempty multiple of dim ($dim)")
  require(cellIds.isEmpty || cellIds.length == centroidsFlat.length / dim,
    s"cellIds (${cellIds.length}) must be empty (identity) or one per centroid " +
      s"(${centroidsFlat.length / dim})")

  override def nullable: Boolean = true

  protected lazy val floatElems: Boolean = child.dataType match {
    case ArrayType(FloatType, _)  => true
    case ArrayType(DoubleType, _) => false
    case t =>
      throw new IllegalArgumentException(s"$prettyName needs array<float|double>, got $t")
  }

  /** Generated-code arguments after the vector: float flag, centroids, cell ids, dim. */
  protected def modelArgs(ctx: CodegenContext): String =
    s"$floatElems, ${ctx.addReferenceObj("ivfCentroids", centroidsFlat, "double[]")}, " +
      s"${ctx.addReferenceObj("ivfCellIds", cellIds, "int[]")}, $dim"
}

/** Nearest-centroid cell assignment in ONE fused pass: scans all k
  * centroids (`centroidsFlat(c*dim + i)` = entry i of centroid c) and
  * returns the cell id of the closest by squared L2, ties to the
  * lowest centroid ordinal (strict `<` never replaces an equal best —
  * the same rule as `IvfIndex.Model.assignOne` and the oracle's
  * `row_number() ... ORDER BY d, ord`).
  *
  * The HOF form this replaces (`transform(centroids, cv =>
  * aggregate(zip_with(...)))`) re-enters interpreted lambda eval per
  * centroid per row — measured 2.8 s for 2 000 rows x 62 centroids at
  * sf0.1, dominated by per-element lambda dispatch. One native loop
  * with monotone partial-distance pruning (d only grows, so a partial
  * sum >= best already loses; strict `<` means an early break can
  * never flip a tie) is the codegen-friendly rendering.
  *
  * Accumulation is left-to-right over dims in double — the exact fold
  * the DuckDB oracle's `list_sum(list_transform(...))` mirrors.
  * Strict null semantics: a NULL or shorter-than-dim vector yields
  * NULL (inputs are validated dense vectors; cf. SqEncode's identical
  * tightening). Element-level nulls are not probed — vectors are
  * `containsNull=false` by construction upstream. */
case class IvfAssign(
    child: Expression,
    centroidsFlat: Array[Double],
    cellIds: Array[Int],
    dim: Int)
    extends IvfRouting {
  override def prettyName: String = "ivf_assign"
  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (Kernels.ivfAssignValid(v, dim)) Kernels.ivfAssign(v, floatElems, centroidsFlat, cellIds, dim)
    else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = modelArgs(ctx)
    nullSafeCodeGen(ctx, ev, in =>
      Kernels.genIfValid(ev, s"ivfAssignValid($in, $dim)", s"ivfAssign($in, $args)"))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The `probes` nearest cells (ascending by (distance, ordinal)) in
  * one fused pass — the multi-probe sibling of [[IvfAssign]], and the
  * same interpreted-HOF replacement story: the `transform(centroids,
  * …) |> array_sort |> slice` form measured ~3 s at sf0.1 from lambda
  * dispatch per (row × centroid × dim). Insertion into a bounded
  * top-`probes` list with the scan in ordinal order reproduces the
  * lexicographic (d asc, ord asc) sort exactly (stable strict-`<`
  * insertion: an equal-distance later ordinal never displaces an
  * earlier one), and the partial-distance early break against the
  * current worst admits exactly the strict-`<` candidates. Returns
  * array<int> of cell ids; NULL on a NULL/short vector. */
case class IvfAssignTopK(
    child: Expression,
    centroidsFlat: Array[Double],
    cellIds: Array[Int],
    dim: Int,
    probes: Int)
    extends IvfRouting {
  require(probes >= 1, s"probes must be >= 1, got $probes")

  override def prettyName: String = "ivf_assign_topk"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    Kernels.ivfAssignTopK(input.asInstanceOf[ArrayData], floatElems, centroidsFlat, cellIds,
      dim, probes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = modelArgs(ctx)
    nullSafeCodeGen(ctx, ev, in => Kernels.genOrNull(ev, s"ivfAssignTopK($in, $args, $probes)"))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
