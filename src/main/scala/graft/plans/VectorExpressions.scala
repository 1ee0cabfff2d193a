package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for vector math (SURVEY.md §4: the one
  * place a custom `Expression` with `doGenCode` is justified — similarity
  * search evaluates millions of 64-dim dot products, and Spark's
  * higher-order functions (`aggregate`/`transform`) walk arrays through
  * interpreted lambda plumbing, ~30-50× slower than the tight loop this
  * codegen emits. Whole-stage codegen keeps the surrounding projection
  * fused (no UDF serialization boundary either).
  *
  * Accumulation is strictly left-to-right in DOUBLE, matching the
  * `list_sum(list_transform(...))` evaluation order of the DuckDB oracle
  * so results are bit-identical.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects two array<double> arguments, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** A centroid set carried as ONE serializable value inside a single
  * expression node ([[CentroidScores]]) — the delivery vehicle that
  * makes coarse-quantizer plans K-independent. The sqrt-K rule
  * (nlist = ceil(sqrt N)) means K grows with the corpus; inlining K
  * per-centroid literal subtrees into the projection made the
  * expression TREE grow with the data (fine at K≈45, fatal at the
  * K~10⁵ a 100 TB corpus implies: Catalyst analysis and codegen blow up
  * long before execution starts). Here the matrix rides as one
  * `ctx.addReferenceObj` constant — the same mechanism Spark uses to
  * ship broadcast values into generated code — so plan size, analysis
  * time, and generated-code size are all O(1) in K and the K×D floats
  * are shipped once per task, not unrolled into code.
  *
  * Scoring loops are plain Java loops with strictly left-to-right
  * DOUBLE accumulation ([[dot]]) and the exact semantics of Spark's
  * `round(_, 9)` ([[round9]]), so results are bit-identical to the
  * former literal-array formulation and to the DuckDB oracles. */
trait CentroidKernel extends Serializable {

  /** The array<struct> type [[compute]] returns. */
  def dataType: DataType

  /** Score one row's embedding; `nrm` is its precomputed norm. */
  def compute(emb: ArrayData, nrm: Double): ArrayData

  protected final def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0; var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  // Mirrors Spark RoundBase on DoubleType: NaN/Infinity pass through,
  // else BigDecimal.valueOf(v).setScale(9, HALF_UP).
  protected final def round9(v: Double): Double =
    if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) v
    else java.math.BigDecimal.valueOf(v)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
}

object CentroidKernel {
  val cosineType: DataType =
    ArrayType(StructType(Seq(
      StructField("sim", DoubleType, nullable = false),
      StructField("negcid", LongType, nullable = false))), containsNull = false)

  val l2Type: DataType =
    ArrayType(StructType(Seq(
      StructField("d2", DoubleType, nullable = false),
      StructField("k", IntegerType, nullable = false))), containsNull = false)
}

/** K flat centroids: (round-9 cosine, -cid) per centroid [cosine], or
  * the exact squared L2 distance (v·v + c·c) − v·c·2 with its id as
  * `k` [L2]. */
final class CentroidModel(
    val cents: Array[Array[Double]],
    val cnrms: Array[Double],
    val ids: Array[Long],
    val cosine: Boolean) extends CentroidKernel {

  def dataType: DataType =
    if (cosine) CentroidKernel.cosineType else CentroidKernel.l2Type

  def compute(embA: ArrayData, nrm: Double): ArrayData = {
    val emb = embA.toDoubleArray()
    // v·v is centroid-independent; computed once per row (L2 mode).
    val vv = if (cosine) 0.0 else dot(emb, emb)
    val out = new Array[Any](cents.length)
    var c = 0
    while (c < cents.length) {
      val vc = dot(emb, cents(c))
      out(c) =
        if (cosine)
          org.apache.spark.sql.catalyst.InternalRow(
            round9(vc / (nrm * cnrms(c))), -ids(c))
        else
          org.apache.spark.sql.catalyst.InternalRow(
            (vv + dot(cents(c), cents(c))) - vc * 2.0, ids(c).toInt)
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Two-level coarse quantizer (IVF-within-IVF): K1 = ⌈√K2⌉ first-stage
  * centroids route to K2 = ⌈√N⌉ inverted lists, cutting per-row
  * assignment work from O(√N·D) to O((N^¼ + maxGroup)·D) — the r8
  * verdict's named watch item on the flat quantizer. Routing (each
  * list centroid to its nearest first-stage centroid) is precomputed
  * ONCE at model construction (K2 × K1 dots, driver-side, bounded);
  * per row, stage 1 argmaxes over the K1 first-stage centroids and
  * stage 2 scores ONLY the lists routed to the winning group. Both
  * stages use the same round-9 cosine + lowest-cid tiebreak as the
  * flat model, so the whole assignment is restatable in plain SQL
  * (two ROW_NUMBER argmaxes) — the oracle stays exact. The output is
  * the (sim, -cid) array vs the row's GROUP lists only: array_max
  * gives the assigned list, a sorted slice gives within-group probes,
  * exactly the flat model's downstream idioms. */
final class TwoLevelCentroidModel(
    l1: Array[Array[Double]], l1nrms: Array[Double], l1ids: Array[Long],
    l2: Array[Array[Double]], l2nrms: Array[Double], l2ids: Array[Long])
    extends CentroidKernel {

  def dataType: DataType = CentroidKernel.cosineType

  /** group(g) = indexes into l2 of the lists routed to first-stage
    * centroid g — the one-time K2×K1 routing pass. */
  private val groups: Array[Array[Int]] = {
    val route = new Array[Int](l2.length)
    var j = 0
    while (j < l2.length) {
      var best = -1; var bestSim = 0.0
      var i = 0
      while (i < l1.length) {
        val sim = round9(dot(l2(j), l1(i)) / (l2nrms(j) * l1nrms(i)))
        // higher sim wins; ties to the LOWEST l1 cid (ids are sorted
        // ascending, so first-seen strictly-greater is exactly that)
        if (best < 0 || sim > bestSim) { best = i; bestSim = sim }
        i += 1
      }
      route(j) = best
      j += 1
    }
    Array.tabulate(l1.length)(g =>
      route.indices.filter(route(_) == g).toArray)
  }

  /** Worst-case dot products per row — the quantity the two levels
    * exist to shrink (flat model: K2). Asserted in CentroidPlanSpec. */
  def maxComparisonsPerRow: Int =
    l1.length + (if (groups.isEmpty) 0 else groups.map(_.length).max)

  def compute(embA: ArrayData, nrm: Double): ArrayData = {
    val emb = embA.toDoubleArray()
    // stage 1: nearest first-stage centroid (round-9 sim, lowest cid)
    var g = -1; var bestSim = 0.0
    var i = 0
    while (i < l1.length) {
      val sim = round9(dot(emb, l1(i)) / (nrm * l1nrms(i)))
      if (g < 0 || sim > bestSim) { g = i; bestSim = sim }
      i += 1
    }
    // stage 2: score ONLY the group's lists
    val members = if (g < 0) Array.empty[Int] else groups(g)
    val out = new Array[Any](members.length)
    var m = 0
    while (m < members.length) {
      val j = members(m)
      out(m) = org.apache.spark.sql.catalyst.InternalRow(
        round9(dot(emb, l2(j)) / (nrm * l2nrms(j))), -l2ids(j))
      m += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Score a row's embedding against every centroid of a
  * [[CentroidKernel]] in one expression node. `right` is the
  * precomputed row norm (cosine models) or any double placeholder (L2
  * ignores it). Generated code is a single kernel call on the
  * reference object, so the surrounding projection stays inside
  * whole-stage codegen. */
case class CentroidScores(left: Expression, right: Expression, model: CentroidKernel)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_centroid_scores expects (array<double>, double), got " +
            s"${l.simpleString} / ${r.simpleString}")
    }
  override def dataType: DataType = model.dataType
  override def prettyName: String = "graft_centroid_scores"

  override def nullSafeEval(a: Any, b: Any): Any =
    model.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroidModel", model, classOf[CentroidKernel].getName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CentroidScores =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  import org.apache.spark.sql.graftshim.GraftShim

  /** dot(a, b) over array<double> columns (float arrays: cast first). */
  def dot(a: Column, b: Column): Column =
    GraftShim.column(DotProduct(GraftShim.expression(a), GraftShim.expression(b)))

  /** L2 norm via the same codegen'd kernel. */
  def norm(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(dot(a, a))

  /** array<struct<sim,negcid>> of rounded cosine sims vs every centroid —
    * one plan node however many centroids (see [[CentroidModel]]). */
  def centroidCosines(emb: Column, nrm: Column,
      cents: Array[(Long, Seq[Double], Double)]): Column =
    GraftShim.column(CentroidScores(
      GraftShim.expression(emb), GraftShim.expression(nrm),
      new CentroidModel(cents.map(_._2.toArray), cents.map(_._3), cents.map(_._1),
        cosine = true)))

  /** Build the two-level model from (id, vec, nrm) centroid tuples. */
  def twoLevelModel(l1: Array[(Long, Seq[Double], Double)],
      l2: Array[(Long, Seq[Double], Double)]): TwoLevelCentroidModel =
    new TwoLevelCentroidModel(
      l1.map(_._2.toArray), l1.map(_._3), l1.map(_._1),
      l2.map(_._2.toArray), l2.map(_._3), l2.map(_._1))

  /** array<struct<sim,negcid>> vs the row's ROUTED GROUP of list
    * centroids only (two-stage assignment, one plan node). */
  def twoLevelCentroidCosines(emb: Column, nrm: Column,
      model: TwoLevelCentroidModel): Column =
    GraftShim.column(CentroidScores(
      GraftShim.expression(emb), GraftShim.expression(nrm), model))

  /** array<struct<d2,k>> of exact squared L2 distances vs every centroid
    * ((v·v + c·c) − v·c·2, left-to-right folds) — the k-means assignment
    * and PQ encode kernel, same one-node delivery. */
  def centroidL2(v: Column, cents: Seq[(Int, Seq[Double])]): Column =
    GraftShim.column(CentroidScores(
      GraftShim.expression(v),
      GraftShim.expression(org.apache.spark.sql.functions.lit(0.0d)),
      new CentroidModel(cents.map(_._2.toArray).toArray,
        cents.map(_ => 0.0).toArray, cents.map(_._1.toLong).toArray,
        cosine = false)))
}
