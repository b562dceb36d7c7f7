package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions with whole-stage codegen for the per-row
  * kernels of the text/dedup/similarity pipelines.
  *
  * Spark's higher-order functions (`transform`/`aggregate`) are ALWAYS
  * interpreted — every element evaluation walks an expression tree through
  * virtual `eval` calls. For hash-per-character and multiply-add-per-
  * dimension kernels that interpretive overhead dominates by an order of
  * magnitude. These expressions compute the same results (bit-identical —
  * the DuckDB oracle gate stays green) as the HOF formulations they
  * replace, but compile to tight scalar loops inside whole-stage codegen.
  *
  * The scalar loops live in the TOP-LEVEL [[NativeKernels]] object: the
  * generated Java calls its static forwarders
  * (`graft.functions.NativeKernels.polyHash(...)`), which Janino resolves
  * directly. Referencing a *nested* Scala object by its dotted source name
  * does not compile under Janino (binary names use `$` separators), and
  * Spark's default `spark.sql.codegen.fallback=true` would mask that as a
  * silent whole-stage-interpreted downgrade — the test session pins
  * fallback=false so any regression here fails loudly.
  *
  * Preference order per the build brief: compose built-ins where semantics
  * allow (everything else in this package), custom codegen `Expression`
  * where the built-in formulation can't reach native speed (here).
  */
object NativeExpressions {

  private val Kernels = "graft.functions.NativeKernels"

  /** Rolling hash `acc := (acc*31 + charCodeUnit) mod 1e9+7` over a string.
    * Identical to `aggregate(split(s,''), 0L, (a,c) -> (a*31+ascii(c))%P)`
    * — UTF-16 code-unit iteration matches split-per-char + ascii for BMP
    * text (and the oracle corpus is ASCII).
    */
  case class PolyHash(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override protected def withNewChildInternal(newChild: Expression): PolyHash =
      copy(child = newChild)

    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.polyHash(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Kernels.polyHash($c)")
  }

  /** Whitespace-run tokenization + per-token [[PolyHash]], one pass, no
    * regex. Identical to
    * `when(length(trim(s))=0, array()).otherwise(transform(split(trim(s),'\\s+'), polyHash))`
    * — Java-regex `\s` is exactly [ \t\n\u000B\f\r], mirrored in
    * [[NativeKernels.tokenHashes]]. (DuckDB's RE2 `\s` excludes \u000B;
    * oracle parity assumes a vertical-tab-free corpus — see kernel note.)
    */
  case class TokenHashes(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def withNewChildInternal(newChild: Expression): TokenHashes =
      copy(child = newChild)

    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.tokenHashes(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Kernels.tokenHashes($c)")
  }

  /** Sequential-order dot product of two double arrays — identical IEEE
    * result to `aggregate(zip_with(a,b,multiply), 0.0, plus)` (ascending
    * index, single accumulator). Nulls: any null input → null (inputs here
    * are cast float arrays, never null-elemented).
    */
  case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true // also null on ragged lengths
    override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
      copy(left = l, right = r)

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val (aa, bb) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
      // length mismatch => null, matching the HOF twin (zip_with pads with
      // null and the sum propagates it) — a ragged row must surface as
      // null, not as a plausible-looking truncated dot product
      if (aa.numElements() != bb.numElements()) null
      else NativeKernels.dot(aa, bb)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"""
           |if ($a.numElements() != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = $Kernels.dot($a, $b);
           |}
         """.stripMargin)
  }

  /** Fused residual self-dot ‖a − y·w‖² — IEEE-identical to
    * `dot(zip_with(a, w, (e, v) -> e - y*v), same)` (see
    * [[NativeKernels.residualNorm2]]) without the interpreted zip_with
    * lambda or the intermediate array. Null semantics mirror the HOF
    * chain: any null input → null, ragged lengths → null.
    */
  case class ResidualNorm2(first: Expression, second: Expression,
      third: Expression) extends TernaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true // also null on ragged lengths
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): ResidualNorm2 =
      copy(first = f, second = s, third = t)

    override protected def nullSafeEval(a: Any, w: Any, y: Any): Any = {
      val (aa, ww) = (a.asInstanceOf[ArrayData], w.asInstanceOf[ArrayData])
      if (aa.numElements() != ww.numElements()) null
      else NativeKernels.residualNorm2(aa, ww, y.asInstanceOf[Double])
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, w, y) =>
        s"""
           |if ($a.numElements() != $w.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = $Kernels.residualNorm2($a, $w, $y);
           |}
         """.stripMargin)
  }

  /** DSIR bigram importance score over a shingle-hash array — see
    * [[NativeKernels.dsirScore]]. Null input → null (callers coalesce to
    * the empty-feature score per the table contract). */
  case class DsirScore(child: Expression, ratios: Seq[Double], buckets: Long)
      extends UnaryExpression {
    private val ratiosArr: Array[Double] = ratios.toArray
    override def dataType: DataType = DoubleType
    override protected def withNewChildInternal(newChild: Expression): DsirScore =
      copy(child = newChild)
    override protected def flatArguments: Iterator[Any] =
      Iterator(child, ratios, buckets)

    override protected def nullSafeEval(sh: Any): Any =
      NativeKernels.dsirScore(sh.asInstanceOf[ArrayData], ratiosArr, buckets)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val r = ctx.addReferenceObj("graftDsirRatios", ratiosArr, "double[]")
      defineCodeGen(ctx, ev, sh => s"$Kernels.dsirScore($sh, $r, ${buckets}L)")
    }
  }

  /** max(|v_i|) — identical to `array_max(transform(v, abs))` incl. its
    * null for an empty or all-null array and NaN ranking above every
    * number. See [[NativeKernels.maxAbs]]. */
  case class MaxAbs(child: Expression) extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true // no non-null element → null (array_max)
    override protected def withNewChildInternal(newChild: Expression): MaxAbs =
      copy(child = newChild)

    override protected def nullSafeEval(v: Any): Any = {
      val m = NativeKernels.maxAbs(v.asInstanceOf[ArrayData])
      if (m == Double.NegativeInfinity) null else m
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a =>
        s"""
           |${ev.value} = $Kernels.maxAbs($a);
           |${ev.isNull} = ${ev.value} == Double.NEGATIVE_INFINITY;
         """.stripMargin)
  }

  /** round(v_i * scale) as array<tinyint> — identical to
    * `transform(v, x -> round(x * scale).cast("tinyint"))` under the ANSI
    * mode in effect when the expression is built (the cast's own rule), so
    * out-of-range values raise the same error or wrap the same way. See
    * [[NativeKernels.scaleRoundInt8]]. */
  case class ScaleRoundInt8(left: Expression, right: Expression,
      ansi: Boolean = SQLConf.get.ansiEnabled) extends BinaryExpression {
    override def dataType: DataType = ArrayType(ByteType, containsNull = false)
    override protected def withNewChildrenInternal(l: Expression, r: Expression): ScaleRoundInt8 =
      copy(left = l, right = r)

    override protected def nullSafeEval(v: Any, s: Any): Any =
      NativeKernels.scaleRoundInt8(v.asInstanceOf[ArrayData], s.asInstanceOf[Double], ansi)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (v, s) => s"$Kernels.scaleRoundInt8($v, $s, $ansi)")
  }

  /** v_i / d as array<double> — identical to `transform(v, x -> x / d)`.
    * See [[NativeKernels.divArray]]. */
  case class DivArray(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override protected def withNewChildrenInternal(l: Expression, r: Expression): DivArray =
      copy(left = l, right = r)

    override protected def nullSafeEval(v: Any, d: Any): Any =
      NativeKernels.divArray(v.asInstanceOf[ArrayData], d.asInstanceOf[Double])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (v, d) => s"$Kernels.divArray($v, $d)")
  }

  /** Fused unigram-LM stats [sum, min] over sorted-vocabulary lookups —
    * see [[NativeKernels.lmScoreStats]]. Null on any null input (the HOF
    * chain's transform/aggregate null-propagation). */
  case class LmScoreStats(first: Expression, second: Expression,
      third: Expression) extends TernaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): LmScoreStats =
      copy(first = f, second = s, third = t)

    override protected def nullSafeEval(toks: Any, keys: Any, vals: Any): Any =
      NativeKernels.lmScoreStats(toks.asInstanceOf[ArrayData],
        keys.asInstanceOf[ArrayData], vals.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (t, k, v) => s"$Kernels.lmScoreStats($t, $k, $v)")
  }

  /** Sorted-vocabulary long-id lookup (0 = absent/OOV) — see
    * [[NativeKernels.sortedLookupLongs]]. Null on any null input. */
  case class SortedLookupLongs(first: Expression, second: Expression,
      third: Expression) extends TernaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): SortedLookupLongs =
      copy(first = f, second = s, third = t)

    override protected def nullSafeEval(toks: Any, keys: Any, vals: Any): Any =
      NativeKernels.sortedLookupLongs(toks.asInstanceOf[ArrayData],
        keys.asInstanceOf[ArrayData], vals.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (t, k, v) => s"$Kernels.sortedLookupLongs($t, $k, $v)")
  }

  /** Exact int8·int8 dot product as long — the quantized-ANN coarse
    * scorer. Same null semantics as [[DotProduct]]: ragged lengths → null
    * (matching the `aggregate(zip_with(...))` twin, where the pad null
    * poisons the sum).
    */
  case class IntDot(left: Expression, right: Expression) extends BinaryExpression {
    // strict tinyint arrays: the kernel byte-indexes the array storage, so
    // an un-cast int array would silently read the wrong bytes — analysis
    // must reject it (SQL callers write CAST(... AS ARRAY<TINYINT>))
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(ByteType, _), ArrayType(ByteType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"graft_int_dot expects two array<tinyint> inputs, got " +
            s"${l.catalogString} and ${r.catalogString}")
      }
    override def dataType: DataType = LongType
    override def nullable: Boolean = true // also null on ragged lengths
    override protected def withNewChildrenInternal(l: Expression, r: Expression): IntDot =
      copy(left = l, right = r)

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val (aa, bb) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
      if (aa.numElements() != bb.numElements()) null
      else NativeKernels.intDot(aa, bb)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"""
           |if ($a.numElements() != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = $Kernels.intDot($a, $b);
           |}
         """.stripMargin)
  }

  /** Map-side IVF coarse assignment: the cen_id whose centroid has the
    * highest cosine to the row vector (see
    * [[NativeKernels.argMaxCosineIdx]]). The centroid set — small BY
    * CONSTRUCTION (an IVF coarse quantizer is 10²–10⁴ vectors regardless of
    * corpus size) — is a plan constant shipped to every task as reference
    * objects, so assignment is pure per-row scan work: no join, no
    * expansion, no shuffle. `left` = array<double> vector, `right` = its
    * precomputed L2 norm.
    */
  case class ArgMaxCosine(left: Expression, right: Expression,
      cents: Seq[(Long, Seq[Double], Double)]) extends BinaryExpression {
    require(cents.nonEmpty, "argMaxCosine needs at least one centroid")
    private val cenIdsArr: Array[Long] = cents.map(_._1).toArray
    private val cvsArr: Array[Array[Double]] = cents.map(_._2.toArray).toArray
    private val cnrmsArr: Array[Double] = cents.map(_._3).toArray

    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"graft_argmax_cosine expects (array<double>, double), got " +
            s"${l.catalogString} and ${r.catalogString}")
      }
    override def dataType: DataType = LongType
    override protected def withNewChildrenInternal(l: Expression, r: Expression): ArgMaxCosine =
      copy(left = l, right = r)

    // keep the centroid payload out of plan text: a 4k×128 constant would
    // make every explain/spec error message megabytes long
    override protected def flatArguments: Iterator[Any] =
      Iterator(left, right, s"nCentroids=${cenIdsArr.length}")

    override protected def nullSafeEval(v: Any, nrm: Any): Any =
      cenIdsArr(NativeKernels.argMaxCosineIdx(
        v.asInstanceOf[ArrayData], nrm.asInstanceOf[Double], cvsArr, cnrmsArr))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ids = ctx.addReferenceObj("graftCenIds", cenIdsArr, "long[]")
      val cvs = ctx.addReferenceObj("graftCvs", cvsArr, "double[][]")
      val cnrms = ctx.addReferenceObj("graftCnrms", cnrmsArr, "double[]")
      defineCodeGen(ctx, ev, (v, nrm) =>
        s"$ids[$Kernels.argMaxCosineIdx($v, $nrm, $cvs, $cnrms)]")
    }
  }

  /** Map-side IVF probe selection: the `n` cen_ids nearest the row vector
    * by cosine, ordered (cosine desc, cen_id asc) — see
    * [[NativeKernels.topNCosineIds]]. Same constant-centroid contract as
    * [[ArgMaxCosine]]; `explode` the result to fan a query out to its
    * probed lists.
    */
  case class TopNCosineIds(left: Expression, right: Expression,
      cents: Seq[(Long, Seq[Double], Double)], n: Int) extends BinaryExpression {
    require(cents.nonEmpty, "topNCosineIds needs at least one centroid")
    require(n >= 1, s"probe count must be >= 1, got $n")
    private val cenIdsArr: Array[Long] = cents.map(_._1).toArray
    private val cvsArr: Array[Array[Double]] = cents.map(_._2.toArray).toArray
    private val cnrmsArr: Array[Double] = cents.map(_._3).toArray

    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"graft_topn_cosine expects (array<double>, double), got " +
            s"${l.catalogString} and ${r.catalogString}")
      }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def withNewChildrenInternal(l: Expression, r: Expression): TopNCosineIds =
      copy(left = l, right = r)

    override protected def flatArguments: Iterator[Any] =
      Iterator(left, right, s"nCentroids=${cenIdsArr.length}", s"n=$n")

    override protected def nullSafeEval(v: Any, nrm: Any): Any =
      NativeKernels.topNCosineIds(v.asInstanceOf[ArrayData],
        nrm.asInstanceOf[Double], cvsArr, cnrmsArr, cenIdsArr, n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ids = ctx.addReferenceObj("graftCenIds", cenIdsArr, "long[]")
      val cvs = ctx.addReferenceObj("graftCvs", cvsArr, "double[][]")
      val cnrms = ctx.addReferenceObj("graftCnrms", cnrmsArr, "double[]")
      defineCodeGen(ctx, ev, (v, nrm) =>
        s"$Kernels.topNCosineIds($v, $nrm, $cvs, $cnrms, $ids, $n)")
    }
  }

  /** Adaptive-radius probe selection: cen_ids with cosine within `delta`
    * of the best centroid, capped at `nMax`, ordered (cosine desc, cen_id
    * asc) — see [[NativeKernels.adaptiveProbeIds]]. Same constant-centroid
    * contract as [[TopNCosineIds]].
    */
  case class AdaptiveProbeIds(left: Expression, right: Expression,
      cents: Seq[(Long, Seq[Double], Double)], nMax: Int, delta: Double)
      extends BinaryExpression {
    require(cents.nonEmpty, "adaptiveProbeIds needs at least one centroid")
    require(nMax >= 1, s"probe cap must be >= 1, got $nMax")
    require(delta >= 0.0, s"radius must be >= 0, got $delta")
    private val cenIdsArr: Array[Long] = cents.map(_._1).toArray
    private val cvsArr: Array[Array[Double]] = cents.map(_._2.toArray).toArray
    private val cnrmsArr: Array[Double] = cents.map(_._3).toArray

    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"graft_adaptive_probe expects (array<double>, double), got " +
            s"${l.catalogString} and ${r.catalogString}")
      }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def withNewChildrenInternal(l: Expression, r: Expression): AdaptiveProbeIds =
      copy(left = l, right = r)

    override protected def flatArguments: Iterator[Any] =
      Iterator(left, right, s"nCentroids=${cenIdsArr.length}", s"nMax=$nMax",
        s"delta=$delta")

    override protected def nullSafeEval(v: Any, nrm: Any): Any =
      NativeKernels.adaptiveProbeIds(v.asInstanceOf[ArrayData],
        nrm.asInstanceOf[Double], cvsArr, cnrmsArr, cenIdsArr, nMax, delta)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ids = ctx.addReferenceObj("graftCenIds", cenIdsArr, "long[]")
      val cvs = ctx.addReferenceObj("graftCvs", cvsArr, "double[][]")
      val cnrms = ctx.addReferenceObj("graftCnrms", cnrmsArr, "double[]")
      defineCodeGen(ctx, ev, (v, nrm) =>
        s"$Kernels.adaptiveProbeIds($v, $nrm, $cvs, $cnrms, $ids, $nMax, $delta)")
    }
  }

  /** Product-quantization encode over a constant codebook (see
    * [[NativeKernels.pqEncode]]): `m` bytes per row, computed in-scan. The
    * codebook — ks full-dim reference vectors, small by construction —
    * ships as a reference object like [[ArgMaxCosine]]'s centroids.
    */
  case class PqEncode(child: Expression, codebook: Seq[Seq[Double]], m: Int)
      extends UnaryExpression {
    require(codebook.nonEmpty && codebook.length <= 128,
      s"codebook must hold 1..128 codewords (tinyint codes), got ${codebook.length}")
    require(m >= 1, s"subspace count must be >= 1, got $m")
    private val cbArr: Array[Array[Double]] = codebook.map(_.toArray).toArray

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_pq_encode expects array<double>, got ${t.catalogString}")
    }
    override def dataType: DataType = ArrayType(ByteType, containsNull = false)
    override protected def withNewChildInternal(newChild: Expression): PqEncode =
      copy(child = newChild)
    override protected def flatArguments: Iterator[Any] =
      Iterator(child, s"ks=${cbArr.length}", s"m=$m")

    override protected def nullSafeEval(v: Any): Any =
      NativeKernels.pqEncode(v.asInstanceOf[ArrayData], cbArr, m)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cb = ctx.addReferenceObj("graftPqCb", cbArr, "double[][]")
      defineCodeGen(ctx, ev, c => s"$Kernels.pqEncode($c, $cb, $m)")
    }
  }

  /** Asymmetric-distance dot of a full-precision query against a PQ code
    * (see [[NativeKernels.pqAdc]]). `left` = query array<double>, `right` =
    * array<tinyint> code. */
  case class PqAdc(left: Expression, right: Expression,
      codebook: Seq[Seq[Double]], m: Int) extends BinaryExpression {
    require(codebook.nonEmpty && m >= 1, "bad PQ shape")
    private val cbArr: Array[Array[Double]] = codebook.map(_.toArray).toArray

    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(DoubleType, _), ArrayType(ByteType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"graft_pq_adc expects (array<double>, array<tinyint>), got " +
            s"${l.catalogString} and ${r.catalogString}")
      }
    override def dataType: DataType = DoubleType
    override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdc =
      copy(left = l, right = r)
    override protected def flatArguments: Iterator[Any] =
      Iterator(left, right, s"ks=${cbArr.length}", s"m=$m")

    override protected def nullSafeEval(q: Any, codes: Any): Any =
      NativeKernels.pqAdc(q.asInstanceOf[ArrayData],
        codes.asInstanceOf[ArrayData], cbArr, m)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cb = ctx.addReferenceObj("graftPqCb", cbArr, "double[][]")
      defineCodeGen(ctx, ev, (q, c) => s"$Kernels.pqAdc($q, $c, $cb, $m)")
    }
  }

  /** `size(array_intersect(a, b))` over two strictly-ascending long arrays
    * (the sorted-distinct shingle sets produced by
    * `array_sort(array_distinct(...))`). Linear two-pointer merge in place
    * of the interpreted hash-set build that `array_intersect` performs per
    * row — the Jaccard verification hot path after LSH/grid banding.
    * Precondition (sorted, distinct) is the caller's: results on unsorted
    * input are undefined, matching the plan-level contract documented at
    * the call site.
    */
  case class SortedIntersectSize(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectSize =
      copy(left = l, right = r)

    override protected def nullSafeEval(a: Any, b: Any): Any =
      NativeKernels.sortedIntersectSize(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$Kernels.sortedIntersectSize($a, $b)")
  }

  /** Fused shingle front-end: sorted-distinct word n-gram hashes of a text
    * column in one codegen'd pass (see [[NativeKernels.shingleHashes]]).
    * Replaces the interpreted tokenHashes→windows→distinct→sort HOF chain
    * that dominated every signature query's profile.
    */
  case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
      copy(child = newChild)

    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.shingleHashes(input.asInstanceOf[UTF8String], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Kernels.shingleHashes($c, $n)")
  }

  /** [[ShingleHashes]] in the full 64-bit space (see
    * [[NativeKernels.shingleHashes64]]) — the production shingle signature
    * for corpora whose shingle count approaches the mod-P birthday bound. */
  case class ShingleHashes64(child: Expression, n: Int) extends UnaryExpression {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def withNewChildInternal(newChild: Expression): ShingleHashes64 =
      copy(child = newChild)

    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.shingleHashes64(input.asInstanceOf[UTF8String], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Kernels.shingleHashes64($c, $n)")
  }

  /** Positional (index = 0-based start token) 64-bit shingle hashes (see
    * [[NativeKernels.positionalShingleHashes64]]) — the wide arm of the
    * positional-shingle stream under substring dedup/decontamination. */
  case class PositionalShingleHashes64(child: Expression, n: Int)
      extends UnaryExpression {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def withNewChildInternal(
        newChild: Expression): PositionalShingleHashes64 =
      copy(child = newChild)

    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.positionalShingleHashes64(input.asInstanceOf[UTF8String], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Kernels.positionalShingleHashes64($c, $n)")
  }

  /** Positional mod-P shingle hashes (see
    * [[NativeKernels.positionalShingleHashes]]) — the oracle-surface arm
    * of the positional-shingle stream; bit-identical to the interpreted
    * `transform(range, i -> aggregate(slice(th, i, n), …))` HOF chain it
    * replaces in the hot scans. */
  case class PositionalShingleHashes(child: Expression, n: Int)
      extends UnaryExpression {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def withNewChildInternal(
        newChild: Expression): PositionalShingleHashes =
      copy(child = newChild)

    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.positionalShingleHashes(input.asInstanceOf[UTF8String], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Kernels.positionalShingleHashes($c, $n)")
  }

  /** MinHash signature over a shingle-hash set (see
    * [[NativeKernels.minhashSignature]]). */
  case class MinHashSignature(child: Expression, k: Int) extends UnaryExpression {
    require(k >= 1, s"signature length must be >= 1, got $k")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
      copy(child = newChild)

    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.minhashSignature(input.asInstanceOf[ArrayData], k)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Kernels.minhashSignature($c, $k)")
  }

  /** One-permutation MinHash with rotation densification (see
    * [[NativeKernels.ophSignature]]): one pass over the shingle set vs
    * [[MinHashSignature]]'s k passes. */
  case class OphSignature(child: Expression, k: Int) extends UnaryExpression {
    require(k >= 1, s"signature length must be >= 1, got $k")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def withNewChildInternal(newChild: Expression): OphSignature =
      copy(child = newChild)

    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.ophSignature(input.asInstanceOf[ArrayData], k)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Kernels.ophSignature($c, $k)")
  }

  /** 30-bit frequency-weighted SimHash (see [[NativeKernels.simhash]]). */
  case class SimHash(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override protected def withNewChildInternal(newChild: Expression): SimHash =
      copy(child = newChild)

    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.simhash(input.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Kernels.simhash($c)")
  }

  /** Per-band base-31 combine of a MinHash signature (see
    * [[NativeKernels.bandHashes]]). */
  case class BandHashes(child: Expression, bands: Int, rows: Int)
      extends UnaryExpression {
    require(bands >= 1 && rows >= 1, s"bad banding ($bands x $rows)")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def withNewChildInternal(newChild: Expression): BandHashes =
      copy(child = newChild)

    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.bandHashes(input.asInstanceOf[ArrayData], bands, rows)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Kernels.bandHashes($c, $bands, $rows)")
  }

  /** All scalar text statistics of a document in one character pass
    * (see [[NativeKernels.textStats]]): `[len, nTokens, sumTokenLen,
    * nStopwords, nPunct, nSubwords]` as `array<long>`. The component
    * accessors in [[TextFunctions]] are `getItem` projections of this node;
    * whole-stage codegen's common-subexpression elimination evaluates the
    * kernel once per row however many components a projection reads —
    * replacing the 4-5 regex tokenizations the separate HOF formulations
    * performed. */
  case class TextStats(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def withNewChildInternal(newChild: Expression): TextStats =
      copy(child = newChild)

    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.textStats(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Kernels.textStats($c)")
  }

  /** Per-term token-occurrence counts in one tokenization pass (see
    * [[NativeKernels.termCounts]]); the terms are expression-tree
    * constants, shipped to generated code as a reference object.
    */
  case class TermCounts(child: Expression, terms: Seq[String]) extends UnaryExpression {
    require(terms.nonEmpty, "termCounts needs at least one term")
    private val termsArray: Array[String] = terms.toArray
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def withNewChildInternal(newChild: Expression): TermCounts =
      copy(child = newChild)

    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.termCounts(input.asInstanceOf[UTF8String], termsArray)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("graftTerms", termsArray, "java.lang.String[]")
      defineCodeGen(ctx, ev, c => s"$Kernels.termCounts($c, $ref)")
    }
  }

  /** One-pass repetition statistics `[nTokens, nDistinctTokens,
    * topTokenFreq, nBigrams, nDistinctBigrams]` (see
    * [[NativeKernels.repetitionStats]]); ratio accessors project this node,
    * CSE'd by whole-stage codegen like [[TextStats]].
    */
  case class RepetitionStats(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
      copy(child = newChild)

    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.repetitionStats(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Kernels.repetitionStats($c)")
  }

  /** Per-language marker-token hit counts in one tokenization pass (see
    * [[NativeKernels.langMarkerCounts]]); the language-ID argmax stays in
    * Column space over this vector. */
  case class LangMarkerCounts(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def withNewChildInternal(newChild: Expression): LangMarkerCounts =
      copy(child = newChild)

    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.langMarkerCounts(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Kernels.langMarkerCounts($c)")
  }

  /** Base-31 combine of a long array into one value (see
    * [[NativeKernels.polyCombine]]). */
  case class PolyCombine(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override protected def withNewChildInternal(newChild: Expression): PolyCombine =
      copy(child = newChild)

    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.polyCombine(input.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Kernels.polyCombine($c)")
  }

  /** Feature-hashed document embedding in one pass (see
    * [[NativeKernels.hashEmbed]]) — signed-count components, exact under
    * any order, so the embed->dedup chain stays oracle-replicable. */
  case class HashEmbed(child: Expression, dim: Int) extends UnaryExpression {
    require(dim >= 1, s"embedding dim must be >= 1, got $dim")
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override protected def withNewChildInternal(newChild: Expression): HashEmbed =
      copy(child = newChild)

    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.hashEmbed(input.asInstanceOf[UTF8String], dim)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Kernels.hashEmbed($c, $dim)")
  }

  /** Non-overlapping token-window ("paragraph") hashes in one pass (see
    * [[NativeKernels.windowHashes]]) — the paragraph-dedup front-end. */
  case class WindowHashes(child: Expression, w: Int) extends UnaryExpression {
    require(w >= 1, s"window width must be >= 1, got $w")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def withNewChildInternal(newChild: Expression): WindowHashes =
      copy(child = newChild)

    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.windowHashes(input.asInstanceOf[UTF8String], w)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Kernels.windowHashes($c, $w)")
  }

  /** [[WindowHashes]] in the full 64-bit space (see
    * [[NativeKernels.windowHashes64]]) — the production paragraph hash for
    * corpora whose paragraph count approaches the mod-P birthday bound. */
  case class WindowHashes64(child: Expression, w: Int) extends UnaryExpression {
    require(w >= 1, s"window width must be >= 1, got $w")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def withNewChildInternal(newChild: Expression): WindowHashes64 =
      copy(child = newChild)

    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.windowHashes64(input.asInstanceOf[UTF8String], w)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$Kernels.windowHashes64($c, $w)")
  }

  /** One-pass subword (BPE) tokenization statistics over a constant merge
    * table (see [[NativeKernels.bpeStats]]): `[nTokens, nPieces,
    * piecesHash]`. The table — learned by [[graft.operators.Bpe
    * .learnMerges]], a few dozen to a few thousand entries — ships to
    * generated code as reference objects (rank map + component pairs),
    * so the whole apply loop runs inside the scan.
    */
  case class BpeStats(child: Expression, merges: Seq[(String, String)])
      extends UnaryExpression {
    require(merges.nonEmpty, "bpeStats needs at least one merge")
    private val pairsArr: Array[Array[String]] =
      merges.map(p => Array(p._1, p._2)).toArray
    private val ranksMap: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer]()
      var i = 0
      while (i < pairsArr.length) {
        m.put(pairsArr(i)(0) + '\u0001' + pairsArr(i)(1), Integer.valueOf(i + 1))
        i += 1
      }
      m
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def withNewChildInternal(newChild: Expression): BpeStats =
      copy(child = newChild)
    override protected def flatArguments: Iterator[Any] =
      Iterator(child, s"merges=${pairsArr.length}")

    override protected def nullSafeEval(input: Any): Any =
      NativeKernels.bpeStats(input.asInstanceOf[UTF8String], ranksMap, pairsArr)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val rk = ctx.addReferenceObj("graftBpeRanks", ranksMap, "java.util.HashMap")
      val pr = ctx.addReferenceObj("graftBpePairs", pairsArr, "java.lang.String[][]")
      defineCodeGen(ctx, ev, c => s"$Kernels.bpeStats($c, $rk, $pr)")
    }
  }

  // Column-level entry points
  def polyHash(c: Column): Column =
    GraftColumnBridge.column(PolyHash(GraftColumnBridge.expression(c)))
  def tokenHashes(c: Column): Column =
    GraftColumnBridge.column(TokenHashes(GraftColumnBridge.expression(c)))
  def dot(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProduct(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  def intDot(a: Column, b: Column): Column =
    GraftColumnBridge.column(IntDot(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  def residualNorm2(a: Column, w: Column, y: Column): Column =
    GraftColumnBridge.column(ResidualNorm2(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(w),
      GraftColumnBridge.expression(y)))
  def maxAbs(v: Column): Column =
    GraftColumnBridge.column(MaxAbs(GraftColumnBridge.expression(v)))
  def dsirScore(sh: Column, ratios: Seq[Double], buckets: Long): Column =
    GraftColumnBridge.column(DsirScore(
      GraftColumnBridge.expression(sh), ratios, buckets))
  def scaleRoundInt8(v: Column, scale: Column): Column =
    GraftColumnBridge.column(ScaleRoundInt8(
      GraftColumnBridge.expression(v), GraftColumnBridge.expression(scale)))
  def divArray(v: Column, d: Column): Column =
    GraftColumnBridge.column(DivArray(
      GraftColumnBridge.expression(v), GraftColumnBridge.expression(d)))
  def lmScoreStats(toks: Column, keys: Column, vals: Column): Column =
    GraftColumnBridge.column(LmScoreStats(
      GraftColumnBridge.expression(toks), GraftColumnBridge.expression(keys),
      GraftColumnBridge.expression(vals)))
  def sortedLookupLongs(toks: Column, keys: Column, vals: Column): Column =
    GraftColumnBridge.column(SortedLookupLongs(
      GraftColumnBridge.expression(toks), GraftColumnBridge.expression(keys),
      GraftColumnBridge.expression(vals)))
  def argMaxCosine(v: Column, nrm: Column, cents: Seq[(Long, Seq[Double], Double)]): Column =
    GraftColumnBridge.column(ArgMaxCosine(
      GraftColumnBridge.expression(v), GraftColumnBridge.expression(nrm), cents))
  def topNCosineIds(v: Column, nrm: Column, cents: Seq[(Long, Seq[Double], Double)],
                    n: Int): Column =
    GraftColumnBridge.column(TopNCosineIds(
      GraftColumnBridge.expression(v), GraftColumnBridge.expression(nrm), cents, n))
  def adaptiveProbeIds(v: Column, nrm: Column,
                       cents: Seq[(Long, Seq[Double], Double)],
                       nMax: Int, delta: Double): Column =
    GraftColumnBridge.column(AdaptiveProbeIds(
      GraftColumnBridge.expression(v), GraftColumnBridge.expression(nrm),
      cents, nMax, delta))
  def pqEncode(v: Column, codebook: Seq[Seq[Double]], m: Int): Column =
    GraftColumnBridge.column(PqEncode(GraftColumnBridge.expression(v), codebook, m))
  def pqAdc(q: Column, codes: Column, codebook: Seq[Seq[Double]], m: Int): Column =
    GraftColumnBridge.column(PqAdc(
      GraftColumnBridge.expression(q), GraftColumnBridge.expression(codes), codebook, m))
  def sortedIntersectSize(a: Column, b: Column): Column =
    GraftColumnBridge.column(SortedIntersectSize(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
  def shingleHashes(text: Column, n: Int): Column =
    GraftColumnBridge.column(ShingleHashes(GraftColumnBridge.expression(text), n))
  def shingleHashes64(text: Column, n: Int): Column =
    GraftColumnBridge.column(ShingleHashes64(GraftColumnBridge.expression(text), n))
  def positionalShingleHashes(text: Column, n: Int): Column =
    GraftColumnBridge.column(
      PositionalShingleHashes(GraftColumnBridge.expression(text), n))
  def positionalShingleHashes64(text: Column, n: Int): Column =
    GraftColumnBridge.column(
      PositionalShingleHashes64(GraftColumnBridge.expression(text), n))
  def minhashSignature(shh: Column, k: Int): Column =
    GraftColumnBridge.column(MinHashSignature(GraftColumnBridge.expression(shh), k))
  def ophSignature(shh: Column, k: Int): Column =
    GraftColumnBridge.column(OphSignature(GraftColumnBridge.expression(shh), k))
  def simhash(th: Column): Column =
    GraftColumnBridge.column(SimHash(GraftColumnBridge.expression(th)))
  def bandHashes(sig: Column, bands: Int, rows: Int): Column =
    GraftColumnBridge.column(BandHashes(GraftColumnBridge.expression(sig), bands, rows))
  def polyCombine(arr: Column): Column =
    GraftColumnBridge.column(PolyCombine(GraftColumnBridge.expression(arr)))
  def textStats(text: Column): Column =
    GraftColumnBridge.column(TextStats(GraftColumnBridge.expression(text)))
  def repetitionStats(text: Column): Column =
    GraftColumnBridge.column(RepetitionStats(GraftColumnBridge.expression(text)))
  def termCounts(text: Column, terms: Seq[String]): Column =
    GraftColumnBridge.column(TermCounts(GraftColumnBridge.expression(text), terms))
  def langMarkerCounts(text: Column): Column =
    GraftColumnBridge.column(LangMarkerCounts(GraftColumnBridge.expression(text)))
  def bpeStats(text: Column, merges: Seq[(String, String)]): Column =
    GraftColumnBridge.column(BpeStats(GraftColumnBridge.expression(text), merges))
  def windowHashes(text: Column, w: Int): Column =
    GraftColumnBridge.column(WindowHashes(GraftColumnBridge.expression(text), w))
  def windowHashes64(text: Column, w: Int): Column =
    GraftColumnBridge.column(WindowHashes64(GraftColumnBridge.expression(text), w))
  def hashEmbed(text: Column, dim: Int): Column =
    GraftColumnBridge.column(HashEmbed(GraftColumnBridge.expression(text), dim))
}
