package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Nearest-centroid assignment fused into ONE codegen'd scalar loop:
  * `graft_nearest_centroid(cents, vec, nsq)` returns the `cent_id` of the
  * centroid maximizing cosine(vec, cvec), ties to the SMALLER id — the
  * exact (cos DESC, cent_id ASC) order of the ranked-window formulation
  * and the SQL oracle.
  *
  * Why an expression and not a join: the IVF quantizers assign every
  * corpus row to its cell. As a crossJoin + window that shuffles
  * |corpus| x numCells scored rows and sorts them; as a max(struct)
  * aggregate it plans as SortAggregate (struct buffers are not
  * hash-aggregable) — the same sort again. As `aggregate()` over a
  * broadcast centroid array the shuffle disappears but higher-order
  * functions are CodegenFallback: the lambda interprets per centroid per
  * row and breaks the surrounding whole-stage codegen (measured ~15%
  * slower end-to-end than the window form at sf0.1 despite doing less
  * IO). This expression keeps the shuffle-free shape AND the tight loop:
  * the corpus streams map-only past a broadcast single-row centroid
  * array, each row costing numCells fused dot products — no exchange, no
  * sort, no interpretation.
  *
  * Arithmetic is bit-identical to the declarative form: the dot is the
  * same ascending-index float64 fold as [[DotProduct]], the cosine the
  * same `dot / (sqrt(nsq) * sqrt(cn))` op sequence, so assignments (and
  * thus results) hash-match the DuckDB oracle's row_number formulation.
  * The comparison is `java.lang.Double.compare` — the NaN-greatest total
  * order Spark's descending sort uses — so a NaN cosine from NaN INPUT
  * values (finite divisor) ranks FIRST here exactly as the window form
  * sorts it, instead of silently losing every comparison and leaving the
  * initial Long.MaxValue sentinel as the "winner". ZERO-NORM inputs are
  * outside the window-equivalence contract: there the divisor is 0, and
  * Spark's declarative Divide yields NULL (ranked last, non-ANSI) or an
  * ANSI error — the fold gives them the same deterministic NaN-first
  * order instead (DotProductSpec pins both behaviors).
  *
  * `cents` is array<struct<cent_id: long, cvec: array<float|double>,
  * cn: double>> — the collect_list build in Similarity.centArray, or a
  * stored index's literal from IvfCentroidCache. Field ORDER is
  * positional. Returns null only for an empty centroid array.
  */
case class NearestCentroid(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  private def cents: Expression = first
  private def vec: Expression = second

  private def centsStruct: StructType = first.dataType
    .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  private def cvecElem: DataType = centsStruct.fields(1).dataType
    .asInstanceOf[ArrayType].elementType

  private def vecElem: DataType =
    second.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    val centsOk = first.dataType match {
      case ArrayType(StructType(Array(f0, f1, f2)), _) =>
        f0.dataType == LongType &&
          (f1.dataType match {
            case ArrayType(FloatType | DoubleType, _) => true
            case _ => false
          }) && f2.dataType == DoubleType
      case _ => false
    }
    val vecOk = second.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (centsOk && vecOk && third.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_centroid expects (array<struct<long,array<float|double>,double>>, " +
        s"array<float|double>, double), got ${first.dataType.catalogString}, " +
        s"${second.dataType.catalogString}, ${third.dataType.catalogString}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(centsAny: Any, vecAny: Any, nsqAny: Any): Any = {
    val cs = centsAny.asInstanceOf[ArrayData]
    val v = vecAny.asInstanceOf[ArrayData]
    val nsq = nsqAny.asInstanceOf[Double]
    val nc = cs.numElements()
    if (nc == 0) return null
    val vf = vecElem == FloatType
    val cf = cvecElem == FloatType
    val n = v.numElements()
    var bestCos = Double.NegativeInfinity
    var bestId = Long.MaxValue
    var c = 0
    while (c < nc) {
      val row = cs.getStruct(c, 3)
      val id = row.getLong(0)
      val cv = row.getArray(1)
      val cn = row.getDouble(2)
      var dot = 0.0
      var i = 0
      while (i < n) {
        val xv = if (vf) v.getFloat(i).toDouble else v.getDouble(i)
        val yv = if (cf) cv.getFloat(i).toDouble else cv.getDouble(i)
        dot += xv * yv
        i += 1
      }
      val cos = dot / (math.sqrt(nsq) * math.sqrt(cn))
      val ord = java.lang.Double.compare(cos, bestCos)
      if (ord > 0 || (ord == 0 && id < bestId)) {
        bestCos = cos; bestId = id
      }
      c += 1
    }
    java.lang.Long.valueOf(bestId)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (cs, v, nsq) => {
      val nc = ctx.freshName("nc")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val row = ctx.freshName("row")
      val cv = ctx.freshName("cv")
      val cn = ctx.freshName("cn")
      val dot = ctx.freshName("dot")
      val cos = ctx.freshName("cos")
      val id = ctx.freshName("id")
      val bestCos = ctx.freshName("bestCos")
      val bestId = ctx.freshName("bestId")
      val ord = ctx.freshName("ord")
      def get(arr: String, idx: String, elem: DataType) = elem match {
        case FloatType => s"(double) $arr.getFloat($idx)"
        case _ => s"$arr.getDouble($idx)"
      }
      s"""
         |int $nc = $cs.numElements();
         |if ($nc == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $v.numElements();
         |  double $bestCos = Double.NEGATIVE_INFINITY;
         |  long $bestId = Long.MAX_VALUE;
         |  for (int $c = 0; $c < $nc; $c++) {
         |    InternalRow $row = $cs.getStruct($c, 3);
         |    long $id = $row.getLong(0);
         |    ArrayData $cv = $row.getArray(1);
         |    double $cn = $row.getDouble(2);
         |    double $dot = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $dot += ${get(v, i, vecElem)} * ${get(cv, i, cvecElem)};
         |    }
         |    double $cos = $dot / (java.lang.Math.sqrt($nsq) * java.lang.Math.sqrt($cn));
         |    int $ord = java.lang.Double.compare($cos, $bestCos);
         |    if ($ord > 0 || ($ord == 0 && $id < $bestId)) {
         |      $bestCos = $cos; $bestId = $id;
         |    }
         |  }
         |  ${ev.value} = $bestId;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): NearestCentroid =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** TOP-P nearest-centroid assignment fused into the same codegen'd loop:
  * `graft_nearest_cells(cents, vec, nsq, p)` returns the `cent_id`s of
  * the `p` centroids maximizing cosine(vec, cvec) as an array, ordered
  * (cos DESC, cent_id ASC) — exactly the first p rows of the ranked-
  * window formulation, so `explode` of this array is row-identical to
  * `row_number() <= p` over the crossJoin, minus the crossJoin.
  *
  * Why this exists: the multi-cell assignments (the graph-ANN 2-nearest
  * border-crossing cells, IVF nprobe query fan-out, multi-cell k-means)
  * used the window-over-crossJoin form, which hash-shuffles the
  * |corpus| × |cents| product to rank it — |cents| grows with the
  * corpus, so that shuffle is O(n²/centroidEvery): invisible at test SF,
  * the dominant cost at 100 TB. This fold keeps the assignment map-only
  * (one pass over the broadcast centroid array per row, a p-slot
  * insertion leaderboard — p is 2..nprobe, so the shift is a handful of
  * moves) and the explode generator keeps it inside whole-stage codegen.
  *
  * Arithmetic and tie-break are bit-identical to [[NearestCentroid]]
  * (same fold, same `dot / (sqrt(nsq) * sqrt(cn))` op sequence, same
  * (cos, id) total order — `java.lang.Double.compare`, so NaN cosines
  * rank first exactly as in Spark's descending sort; zero-norm inputs
  * are outside the window contract, see [[NearestCentroid]]);
  * `graft_nearest_cells(..., 1)[0]` ≡ `graft_nearest_centroid(...)`. Returns an EMPTY array (never null)
  * for an empty centroid set, so explode drops the row — matching the
  * crossJoin-with-empty-cents behavior.
  *
  * `p` must be a positive integer; the array holds min(p, |cents|) ids.
  */
case class NearestCells(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  private def centsStruct: StructType = first.dataType
    .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  private def cvecElem: DataType = centsStruct.fields(1).dataType
    .asInstanceOf[ArrayType].elementType

  private def vecElem: DataType =
    second.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    val centsOk = first.dataType match {
      case ArrayType(StructType(Array(f0, f1, f2)), _) =>
        f0.dataType == LongType &&
          (f1.dataType match {
            case ArrayType(FloatType | DoubleType, _) => true
            case _ => false
          }) && f2.dataType == DoubleType
      case _ => false
    }
    val vecOk = second.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (centsOk && vecOk && third.dataType == DoubleType &&
        fourth.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_cells expects (array<struct<long,array<float|double>,double>>, " +
        s"array<float|double>, double, int), got ${first.dataType.catalogString}, " +
        s"${second.dataType.catalogString}, ${third.dataType.catalogString}, " +
        s"${fourth.dataType.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(centsAny: Any, vecAny: Any, nsqAny: Any,
      pAny: Any): Any = {
    val cs = centsAny.asInstanceOf[ArrayData]
    val v = vecAny.asInstanceOf[ArrayData]
    val nsq = nsqAny.asInstanceOf[Double]
    val p = pAny.asInstanceOf[Int]
    val nc = cs.numElements()
    val cap = math.min(p, nc)
    if (cap <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val vf = vecElem == FloatType
    val cf = cvecElem == FloatType
    val n = v.numElements()
    val topCos = new Array[Double](cap)
    val topId = new Array[Long](cap)
    var filled = 0
    var c = 0
    while (c < nc) {
      val row = cs.getStruct(c, 3)
      val id = row.getLong(0)
      val cv = row.getArray(1)
      val cn = row.getDouble(2)
      var dot = 0.0
      var i = 0
      while (i < n) {
        val xv = if (vf) v.getFloat(i).toDouble else v.getDouble(i)
        val yv = if (cf) cv.getFloat(i).toDouble else cv.getDouble(i)
        dot += xv * yv
        i += 1
      }
      val cos = dot / (math.sqrt(nsq) * math.sqrt(cn))
      // leaderboard insert: pos = # kept entries strictly better
      var pos = 0
      while (pos < filled && {
        val ord = java.lang.Double.compare(cos, topCos(pos))
        !(ord > 0 || (ord == 0 && id < topId(pos)))
      }) pos += 1
      if (pos < cap) {
        var j = if (filled < cap) filled else cap - 1
        while (j > pos) { topCos(j) = topCos(j - 1); topId(j) = topId(j - 1); j -= 1 }
        topCos(pos) = cos; topId(pos) = id
        if (filled < cap) filled += 1
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(topId, filled))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (cs, v, nsq, p) => {
      val nc = ctx.freshName("nc")
      val cap = ctx.freshName("cap")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val row = ctx.freshName("row")
      val cv = ctx.freshName("cv")
      val cn = ctx.freshName("cn")
      val dot = ctx.freshName("dot")
      val cos = ctx.freshName("cos")
      val id = ctx.freshName("id")
      val pos = ctx.freshName("pos")
      val ord = ctx.freshName("ord")
      val topCos = ctx.freshName("topCos")
      val topId = ctx.freshName("topId")
      val filled = ctx.freshName("filled")
      def get(arr: String, idx: String, elem: DataType) = elem match {
        case FloatType => s"(double) $arr.getFloat($idx)"
        case _ => s"$arr.getDouble($idx)"
      }
      s"""
         |int $nc = $cs.numElements();
         |int $cap = $p < $nc ? $p : $nc;
         |if ($cap <= 0) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new long[0]);
         |} else {
         |  int $n = $v.numElements();
         |  double[] $topCos = new double[$cap];
         |  long[] $topId = new long[$cap];
         |  int $filled = 0;
         |  for (int $c = 0; $c < $nc; $c++) {
         |    InternalRow $row = $cs.getStruct($c, 3);
         |    long $id = $row.getLong(0);
         |    ArrayData $cv = $row.getArray(1);
         |    double $cn = $row.getDouble(2);
         |    double $dot = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $dot += ${get(v, i, vecElem)} * ${get(cv, i, cvecElem)};
         |    }
         |    double $cos = $dot / (java.lang.Math.sqrt($nsq) * java.lang.Math.sqrt($cn));
         |    int $pos = 0;
         |    while ($pos < $filled) {
         |      int $ord = java.lang.Double.compare($cos, $topCos[$pos]);
         |      if ($ord > 0 || ($ord == 0 && $id < $topId[$pos])) break;
         |      $pos++;
         |    }
         |    if ($pos < $cap) {
         |      for (int $j = ($filled < $cap) ? $filled : $cap - 1; $j > $pos; $j--) {
         |        $topCos[$j] = $topCos[$j - 1]; $topId[$j] = $topId[$j - 1];
         |      }
         |      $topCos[$pos] = $cos; $topId[$pos] = $id;
         |      if ($filled < $cap) $filled++;
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |    java.util.Arrays.copyOf($topId, $filled));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression,
      newFourth: Expression): NearestCells =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}
