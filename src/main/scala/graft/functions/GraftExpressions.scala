package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the LLM-data-pipeline operators
  * (SURVEY.md §7 step 5: dedup / similarity primitives the reference
  * lacks and Spark has no built-in for).
  *
  * Design: native `Expression`s (preferred over UDFs per SURVEY.md §7's
  * mechanism table) so they stay inside whole-stage codegen and operate
  * on `ArrayData` primitives without boxing — the hot path of a
  * brute-force ANN scan is exactly this inner loop.
  */
object GraftExpressions {

  /** Shared element-type dispatch for the float-vector expressions:
    * they operate natively on array<float> (the embeddings encoding)
    * but must also accept array<double> — SQL double literals arrive
    * as array<double>, and blindly calling getFloat on a double array
    * mis-reads bytes in codegen and ClassCastExceptions in the
    * interpreted path (caught by the nocodegen_* pin wave). */
  private def vecTypeCheck(name: String, tps: Seq[DataType])
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    val ok = tps.forall {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires array<float> or array<double> arguments, got " +
        tps.map(_.simpleString).mkString(", "))
  }

  /** interpreted accessor for a float-or-double array element */
  private def vecGet(a: ArrayData, tp: DataType, i: Int): Double = tp match {
    case FloatType => a.getFloat(i).toDouble
    case _ => a.getDouble(i)
  }

  /** codegen accessor string for a float-or-double array element */
  private def vecGetCode(arr: String, tp: DataType, i: String): String = tp match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case _ => s"$arr.getDouble($i)"
  }

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  /** Half-up round to 6 dp, NaN/Infinity passing through unchanged —
    * mirrors Spark's `RoundBase` double path, which the composed
    * `round(..., 6)` these expressions replace goes through.
    * `BigDecimal.valueOf(NaN)` would throw NumberFormatException, so an
    * ingested vector containing NaN must bypass the decimal round.
    */
  def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** codegen twin of [[round6]] */
  private def round6Code(x: String): String =
    s"""(Double.isNaN($x) || Double.isInfinite($x))
       |  ? $x
       |  : java.math.BigDecimal.valueOf($x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()""".stripMargin

  /** Cosine similarity between two float vectors, computed in double
    * precision element-wise (matches the SQL-oracle formulation:
    * dot/(||a||*||b||), each element widened to double first).
    * Codegen'd: the generated loop reads primitive floats straight from
    * the columnar/unsafe array representation.
    */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "cosine_similarity"

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      vecTypeCheck(prettyName, Seq(left.dataType, right.dataType))

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val (lt, rt) = (elemType(left), elemType(right))
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      while (i < n) {
        val xv = vecGet(x, lt, i)
        val yv = vecGet(y, rt, i)
        dot += xv * yv; nx += xv * xv; ny += yv * yv
        i += 1
      }
      val den = math.sqrt(nx) * math.sqrt(ny)
      if (den == 0.0) 0.0 else dot / den
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
        val ny = ctx.freshName("ny"); val den = ctx.freshName("den")
        val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $xv = ${vecGetCode(a, elemType(left), i)};
           |  double $yv = ${vecGetCode(b, elemType(right), i)};
           |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
           |}
           |double $den = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
           |${ev.value} = ($den == 0.0) ? 0.0 : $dot / $den;
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Jaccard similarity of two bitmap sets encoded as array<bigint>
    * chunks: bit_count(AND)/bit_count(OR), 0.0 when the union is empty.
    * Codegen'd allocation-free loop — the composed-builtins equivalent
    * (zip_with + aggregate) allocates two intermediate arrays per row,
    * which dominates runtime on multi-million-pair verification joins.
    */
  case class BitmapJaccard(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "bitmap_jaccard"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var inter = 0L; var uni = 0L
      var i = 0
      while (i < n) {
        val xv = x.getLong(i); val yv = y.getLong(i)
        inter += java.lang.Long.bitCount(xv & yv)
        uni += java.lang.Long.bitCount(xv | yv)
        i += 1
      }
      if (uni == 0L) 0.0 else inter.toDouble / uni.toDouble
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val inter = ctx.freshName("inter"); val uni = ctx.freshName("uni")
        val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |long $inter = 0L; long $uni = 0L;
           |for (int $i = 0; $i < $n; $i++) {
           |  long $xv = $a.getLong($i); long $yv = $b.getLong($i);
           |  $inter += java.lang.Long.bitCount($xv & $yv);
           |  $uni += java.lang.Long.bitCount($xv | $yv);
           |}
           |${ev.value} = ($uni == 0L) ? 0.0 : (double) $inter / (double) $uni;
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Dot product of two float vectors in double precision — the inner
    * loop of similarity search over PRE-NORMALIZED vectors, where
    * cosine degenerates to a dot product (a third of the FLOPs of the
    * full cosine). Codegen'd like [[CosineSimilarity]].
    */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    // null even for non-null inputs: length mismatch / null element
    override def nullable: Boolean = true
    override def prettyName: String = "dot_product"

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      vecTypeCheck(prettyName, Seq(left.dataType, right.dataType))

    // zip_with semantics, both evaluator modes (advisor finding r9):
    // zip_with null-pads the shorter array and the summing fold turns
    // any null term into a null total — so a length mismatch or a null
    // element yields NULL, not a silently truncated product
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val (lt, rt) = (elemType(left), elemType(right))
      val n = x.numElements()
      if (n != y.numElements()) return null
      var dot = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        dot += vecGet(x, lt, i) * vecGet(y, rt, i)
        i += 1
      }
      dot
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val dot = ctx.freshName("dot")
        s"""
           |int $n = $a.numElements();
           |if ($n != $b.numElements()) { ${ev.isNull} = true; }
           |double $dot = 0.0;
           |for (int $i = 0; !${ev.isNull} && $i < $n; $i++) {
           |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
           |  $dot += ${vecGetCode(a, elemType(left), i)} * ${vecGetCode(b, elemType(right), i)};
           |}
           |${ev.value} = $dot;
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** 64-bit SimHash over an array of string tokens: each token is
    * xxhash64'd; per bit position the signed vote of all token hashes
    * decides the output bit. Near-duplicate docs differ in few bits →
    * pair candidates via hamming distance (bit_count(a^b), a built-in).
    * Seed fixed so signatures are stable across runs/partitions.
    */
  case class SimHash64(child: Expression)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "simhash64"

    private val seed = 42L

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val votes = new Array[Int](64)
      var t = 0
      val n = arr.numElements()
      while (t < n) {
        if (!arr.isNullAt(t)) {
          val s = arr.getUTF8String(t)
          val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)
          var j = 0
          while (j < 64) {
            if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
            j += 1
          }
        }
        t += 1
      }
      var out = 0L
      var j = 0
      while (j < 64) {
        if (votes(j) >= 0) out |= (1L << j)
        j += 1
      }
      out
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** MinHash signature as a single native expression: k hash functions
    * realized as XXH64(token bytes, seed = perm index), min per perm, in
    * one O(k·d) allocation-free loop. Replaces the composed-builtins
    * form (transform(sequence(k), i -> array_min(transform(tokens,
    * xxhash64(t, i))))) which allocates k intermediate arrays per row
    * and generates a large codegen body — on the dedup pipeline the
    * signature is computed for every distinct document set, so both the
    * compile-time and per-row costs matter.
    */
  case class MinHashSignature(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = s"minhash_signature($k)"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val sig = new Array[Long](k)
      java.util.Arrays.fill(sig, Long.MaxValue)
      var t = 0
      while (t < n) {
        if (!arr.isNullAt(t)) {
          val s = arr.getUTF8String(t)
          var j = 0
          while (j < k) {
            val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, j.toLong)
            if (h < sig(j)) sig(j) = h
            j += 1
          }
        }
        t += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  // ------------------------------------------------------ column helpers

  def cosine_sim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def simhash64(tokens: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokens)))

  def bitmap_jaccard(a: Column, b: Column): Column =
    ColumnBridge.column(BitmapJaccard(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def dot_product(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** MinHash signature of a token array as `array<bigint>` of length k
    * (native [[MinHashSignature]] expression). */
  def minhash_signature(tokens: Column, k: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(tokens), k))

  /** Composed-builtins formulation kept ONLY for statistical/banding
    * cross-checks (PropertySpec): a different hash family from the native
    * expression — xxhash64(token, i) hashes the (token, i) pair with
    * Spark's fixed seed 42, while [[MinHashSignature]] runs XXH64 over
    * the token bytes with seed = permutation index — so the two are
    * never value-equal, only statistically comparable. */
  def minhash_signature_composed(tokens: Column, k: Int): Column =
    transform(
      sequence(lit(0L), lit(k.toLong - 1)),
      i => array_min(transform(tokens, t => xxhash64(t, i))))

  /** Product-quantization encode: for each of `m` subspaces of length
    * `sub`, the 1-based index of the L2-nearest centroid in that
    * subspace's codebook — the corpus-wide pass of the PQ pipeline
    * (every vector you ever ingest runs it once; at 100 TB it IS the
    * job). The composed higher-order-function formulation
    * (transform ∘ aggregate ∘ zip_with) is CodegenFallback in Spark —
    * every element runs a boxed interpreted lambda — so this native
    * expression generates primitive loops instead. Arithmetic is
    * BIT-IDENTICAL to the composed form it replaces: per centroid a
    * double left-fold of squared diffs in array order, then ONE
    * half-up round to 6 dp (matching `round(aggregate(zip_with(...)),
    * 6)`), argmin keeping the FIRST minimum (matching
    * `array_position(d, array_min(d))`).
    *
    * `codebooks` is a driver-held literal (m×k×sub doubles ≈ 4 KB —
    * the same bounded state the Lloyd's trainer keeps), shipped into
    * generated code via a reference object.
    */
  case class PqEncodeCodes(child: Expression, codebooks: Array[Array[Array[Double]]])
      extends UnaryExpression {

    private val m = codebooks.length
    private val sub = if (m > 0 && codebooks(0).nonEmpty) codebooks(0)(0).length else 0

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "pq_encode"
    // content hash, not identity hash: two builds print the same plan
    override def stringArgs: Iterator[Any] =
      Iterator(child, java.util.Arrays.deepHashCode(codebooks.asInstanceOf[Array[AnyRef]]))

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      vecTypeCheck(prettyName, Seq(child.dataType))

    override def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      if (v.numElements() < m * sub) {
        throw new IllegalArgumentException(
          s"pq_encode: input vector has ${v.numElements()} elements, " +
            s"codebooks require at least ${m * sub} ($m subspaces x $sub dims)")
      }
      val tp = elemType(child)
      val out = new Array[Int](m)
      var i = 0
      while (i < m) {
        val cb = codebooks(i)
        var best = Double.PositiveInfinity
        var bestC = 0
        var c = 0
        while (c < cb.length) {
          var s = 0.0
          var j = 0
          while (j < sub) {
            val d = vecGet(v, tp, i * sub + j) - cb(c)(j)
            s += d * d
            j += 1
          }
          val dist = GraftExpressions.round6(s)
          if (dist < best) { best = dist; bestC = c }
          c += 1
        }
        out(i) = bestC + 1
        i += 1
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, v => {
        val cbRef = ctx.addReferenceObj("pqBooks", codebooks, "double[][][]")
        val out = ctx.freshName("out"); val i = ctx.freshName("i")
        val c = ctx.freshName("c"); val j = ctx.freshName("j")
        val s = ctx.freshName("s"); val d = ctx.freshName("d")
        val best = ctx.freshName("best"); val bestC = ctx.freshName("bestC")
        val dist = ctx.freshName("dist"); val cb = ctx.freshName("cb")
        s"""
           |if ($v.numElements() < ${m * sub}) {
           |  throw new IllegalArgumentException(
           |    "pq_encode: input vector has " + $v.numElements() +
           |    " elements, codebooks require at least ${m * sub} ($m subspaces x $sub dims)");
           |}
           |int[] $out = new int[$m];
           |for (int $i = 0; $i < $m; $i++) {
           |  double[][] $cb = $cbRef[$i];
           |  double $best = Double.POSITIVE_INFINITY; int $bestC = 0;
           |  for (int $c = 0; $c < $cb.length; $c++) {
           |    double $s = 0.0;
           |    for (int $j = 0; $j < $sub; $j++) {
           |      double $d = ${vecGetCode(v, elemType(child), s"$i * $sub + $j")} - $cb[$c][$j];
           |      $s += $d * $d;
           |    }
           |    double $dist = ${round6Code(s)};
           |    if ($dist < $best) { $best = $dist; $bestC = $c; }
           |  }
           |  $out[$i] = $bestC + 1;
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
           |""".stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** k-means assignment: argmin over a driver-held centroid matrix,
    * returning struct(cl, dist) — the corpus-scale loop of every
    * Lloyd's pass (assignment, refinement input, SemDeDup clustering).
    * Bit-identical ON WELL-FORMED CENTROID SETS to the composed form
    * it replaces —
    * `transform(centArr, c => round(sq_distance(emb, c), 6))` +
    * `array_min` + `element_at(idArr, array_position(...))` — which is
    * a HigherOrderFunction in Spark (CodegenFallback: one interpreted
    * lambda invocation per centroid per row; at corpus-scaled k=400
    * over 200k rows × ~5 scans that is ~4×10⁸ boxed calls and it
    * dominated dedup_semantic's 100× wall). Same double fold order
    * inside each distance, same half-up round-6 per centroid, same
    * strictly-less-than first-minimum tie-break (= array_position of
    * array_min). Well-formed = every centroid non-null with the input
    * vector's width (always true in the Lloyd's pipeline: centroids
    * are per-cluster means of corpus rows, so they share the corpus
    * dim). On null input, null vector element, or empty centroid set
    * both forms agree (null struct / null dists); on MALFORMED sets
    * the faces diverge (advisor r12): a length-mismatched centroid
    * nulls the whole struct here, while the composed form skips only
    * that centroid's dist (argmin over the rest), and an
    * all-mismatched set yields struct(null,null) there vs null here.
    * Downstream `getField` equalizes the struct-null faces; the
    * parity spec pins the well-formed cases. `cents` and `ids` ride as
    * reference objects like the PQ codebooks. Parity pinned in
    * GraftExpressionsSpec on real embeddings. */
  case class KmeansArgmin(child: Expression,
      cents: Array[Array[Double]], ids: Array[Int])
      extends UnaryExpression {

    override def dataType: DataType = StructType(Seq(
      StructField("cl", IntegerType, nullable = false),
      StructField("dist", DoubleType, nullable = false)))
    override def nullIntolerant: Boolean = true
    override def nullable: Boolean = true
    override def prettyName: String = "kmeans_argmin"
    override def stringArgs: Iterator[Any] = Iterator(child,
      java.util.Arrays.deepHashCode(cents.asInstanceOf[Array[AnyRef]]), ids.mkString("[", ",", "]"))

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      vecTypeCheck(prettyName, Seq(child.dataType))

    override def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val tp = elemType(child)
      val n = v.numElements()
      var best = Double.PositiveInfinity
      var bestI = -1
      var c = 0
      while (c < cents.length) {
        val ct = cents(c)
        if (ct.length != n) return null
        var s = 0.0
        var j = 0
        while (j < n) {
          if (v.isNullAt(j)) return null
          val d = vecGet(v, tp, j) - ct(j)
          s += d * d
          j += 1
        }
        val dist = GraftExpressions.round6(s)
        if (dist < best) { best = dist; bestI = c }
        c += 1
      }
      if (bestI < 0) null
      else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](ids(bestI), best))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, v => {
        val centsRef = ctx.addReferenceObj("kmCents", cents, "double[][]")
        val idsRef = ctx.addReferenceObj("kmIds", ids, "int[]")
        val n = ctx.freshName("n"); val c = ctx.freshName("c")
        val j = ctx.freshName("j"); val s = ctx.freshName("s")
        val d = ctx.freshName("d"); val ct = ctx.freshName("ct")
        val best = ctx.freshName("best"); val bestI = ctx.freshName("bestI")
        val dist = ctx.freshName("dist")
        s"""
           |int $n = $v.numElements();
           |double $best = Double.POSITIVE_INFINITY; int $bestI = -1;
           |for (int $c = 0; !${ev.isNull} && $c < $centsRef.length; $c++) {
           |  double[] $ct = $centsRef[$c];
           |  if ($ct.length != $n) { ${ev.isNull} = true; break; }
           |  double $s = 0.0;
           |  for (int $j = 0; $j < $n; $j++) {
           |    if ($v.isNullAt($j)) { ${ev.isNull} = true; break; }
           |    double $d = ${vecGetCode(v, elemType(child), j)} - $ct[$j];
           |    $s += $d * $d;
           |  }
           |  if (${ev.isNull}) break;
           |  double $dist = ${round6Code(s)};
           |  if ($dist < $best) { $best = $dist; $bestI = $c; }
           |}
           |if (!${ev.isNull} && $bestI < 0) { ${ev.isNull} = true; }
           |if (!${ev.isNull}) {
           |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
           |    new Object[]{ java.lang.Integer.valueOf($idsRef[$bestI]),
           |                  java.lang.Double.valueOf($best) });
           |}
           |""".stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** column face of [[KmeansArgmin]]: centroids as the driver-held
    * (id, float-quantized values) list every Lloyd's helper carries */
  def kmeans_argmin(emb: Column, cents: Seq[(Int, Seq[Float])]): Column =
    ColumnBridge.column(KmeansArgmin(ColumnBridge.expression(emb),
      cents.map(_._2.map(_.toDouble).toArray).toArray,
      cents.map(_._1).toArray))

  /** ADC lookup-sum: Σ_sp tab[sp][code[sp]] rounded half-up to 6 dp —
    * the per-(query, vector) scoring pass of the PQ pipeline, the other
    * corpus-scale loop. `tab` is array<array<double>> (the broadcast
    * per-query distance table), `codes` is the 1-based array<int> from
    * [[PqEncodeCodes]]. Bit-identical to
    * `round(aggregate(zip_with(tab, codes, element_at), 0.0, +), 6)`:
    * the fold runs in subspace order over min(|tab|, |codes|) entries.
    */
  case class PqAdcScore(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "pq_adc_score"

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      (left.dataType, right.dataType) match {
        case (ArrayType(ArrayType(DoubleType, _), _), ArrayType(IntegerType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) =>
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName requires (array<array<double>>, array<int>), got " +
              s"${l.simpleString}, ${r.simpleString}")
      }
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val tab = a.asInstanceOf[ArrayData]
      val codes = b.asInstanceOf[ArrayData]
      val n = math.min(tab.numElements(), codes.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        val row = tab.getArray(i)
        val code = codes.getInt(i)
        if (code < 1 || code > row.numElements()) {
          throw new IllegalArgumentException(
            s"pq_adc_score: code $code at subspace $i out of range [1, ${row.numElements()}]")
        }
        s += row.getDouble(code - 1)
        i += 1
      }
      GraftExpressions.round6(s)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val s = ctx.freshName("s"); val row = ctx.freshName("row")
        val code = ctx.freshName("code")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  org.apache.spark.sql.catalyst.util.ArrayData $row = $a.getArray($i);
           |  int $code = $b.getInt($i);
           |  if ($code < 1 || $code > $row.numElements()) {
           |    throw new IllegalArgumentException(
           |      "pq_adc_score: code " + $code + " at subspace " + $i +
           |      " out of range [1, " + $row.numElements() + "]");
           |  }
           |  $s += $row.getDouble($code - 1);
           |}
           |${ev.value} = ${round6Code(s)};
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Squared L2 distance: Σ (a_i − b_i)² folded in array order over
    * min(|a|, |b|) elements, each side widened to double first — the
    * raw sum, no rounding (callers compose Spark's round() so the
    * rounding semantics stay the builtin's). Replaces the
    * aggregate∘zip_with composition (CodegenFallback — boxed
    * interpreted lambda per element) on the corpus-scale k-means
    * assignment / IVF probe / quantization-error passes. Bit-identical
    * fold order and widening; parity pinned in GraftExpressionsSpec.
    */
  case class SqDistance(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    // null even for non-null inputs: length mismatch / null element
    override def nullable: Boolean = true
    override def prettyName: String = "sq_distance"

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      vecTypeCheck(prettyName, Seq(left.dataType, right.dataType))

    // zip_with semantics, both evaluator modes (advisor finding r9):
    // length mismatch or a null element yields NULL, exactly like the
    // composed zip_with∘aggregate form this expression replaced
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val (lt, rt) = (elemType(left), elemType(right))
      val n = x.numElements()
      if (n != y.numElements()) return null
      var s = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        val d = vecGet(x, lt, i) - vecGet(y, rt, i)
        s += d * d
        i += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val s = ctx.freshName("s"); val d = ctx.freshName("d")
        s"""
           |int $n = $a.numElements();
           |if ($n != $b.numElements()) { ${ev.isNull} = true; }
           |double $s = 0.0;
           |for (int $i = 0; !${ev.isNull} && $i < $n; $i++) {
           |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
           |  double $d = ${vecGetCode(a, elemType(left), i)} - ${vecGetCode(b, elemType(right), i)};
           |  $s += $d * $d;
           |}
           |${ev.value} = $s;
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  def sq_distance(a: Column, b: Column): Column =
    ColumnBridge.column(SqDistance(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** w-shingles: element i (0-based output) is the space-joined k-gram
    * `words[i] .. words[i+k-1]`; max(0, n-k+1) shingles. The composed
    * formulation `transform(sequence(1, n-k+1), i -> concat_ws(' ',
    * element_at(w, i), ...))` is CodegenFallback (a boxed interpreted
    * lambda per shingle — the wave-9 fallback survey's top corpus-wall
    * hit, `dedup_minhash_shingle`); this native expression generates a
    * primitive loop over the array. Output strings are byte-identical:
    * UTF8String.concatWs with a single-space separator over exactly k
    * consecutive elements in order.
    */
  case class WordShingles(child: Expression, k: Int)
      extends UnaryExpression {
    require(k >= 1, "shingle width must be >= 1")

    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "word_shingles"

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      child.dataType match {
        case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
        case t => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string>, got ${t.simpleString}")
      }
    }

    // null elements are SKIPPED inside a shingle window, matching the
    // composed concat_ws form (ConcatWs drops null inputs) — and
    // matching it identically in BOTH evaluator modes (UnsafeArrayData
    // would otherwise silently render a null slot as "" while
    // GenericArrayData returned null; advisor finding r9)
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val m = math.max(0, n - k + 1)
      val out = new Array[UTF8String](m)
      val sep = UTF8String.fromString(" ")
      var i = 0
      while (i < m) {
        val parts = new Array[UTF8String](k)
        var j = 0
        while (j < k) {
          parts(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
          j += 1
        }
        out(i) = UTF8String.concatWs(sep, parts: _*)
        i += 1
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, v => {
        val n = ctx.freshName("n"); val m = ctx.freshName("m")
        val out = ctx.freshName("out"); val i = ctx.freshName("i")
        val j = ctx.freshName("j"); val parts = ctx.freshName("parts")
        val sep = ctx.addReferenceObj("shingleSep", UTF8String.fromString(" "),
          classOf[UTF8String].getName)
        val utf8 = classOf[UTF8String].getName
        s"""
           |int $n = $v.numElements();
           |int $m = java.lang.Math.max(0, $n - $k + 1);
           |$utf8[] $out = new $utf8[$m];
           |for (int $i = 0; $i < $m; $i++) {
           |  $utf8[] $parts = new $utf8[$k];
           |  for (int $j = 0; $j < $k; $j++) {
           |    $parts[$j] = $v.isNullAt($i + $j) ? null : $v.getUTF8String($i + $j);
           |  }
           |  $out[$i] = $utf8.concatWs($sep, $parts);
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
           |""".stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Vocabulary bitmap in one pass: tokens index into a driver-held
    * word→id map (the inline-vocab branch of the LSH verify stage) and
    * the result is the array<long> chunk bitmap. The composed
    * formulation folds the token array once PER CHUNK through an
    * interpreted aggregate() lambda with a codegen map literal —
    * O(nChunks x |words|) boxed evals per row; this native expression
    * is a single O(|words|) primitive loop with a hash lookup.
    * Bit-identical: absent tokens are ignored (element_at(map, w)
    * returned null and the when() kept the accumulator), bit =
    * 1L << (idx % 64) in chunk idx / 64.
    */
  case class BitmapFromTokens(child: Expression, vocab: Array[String], nChunks: Int)
      extends UnaryExpression {

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "bitmap_from_tokens"

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      child.dataType match {
        case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
        case t => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string>, got ${t.simpleString}")
      }
    }

    // the map ships ONCE per executor as a reference object (same
    // bounded-state discipline as the PQ codebooks); UTF8String keys so
    // probes never materialize java.lang.String
    @transient private lazy val idx: java.util.HashMap[UTF8String, java.lang.Integer] = {
      val m = new java.util.HashMap[UTF8String, java.lang.Integer](vocab.length * 2)
      var i = 0
      while (i < vocab.length) { m.put(UTF8String.fromString(vocab(i)), i); i += 1 }
      m
    }

    // null tokens are SKIPPED like absent ones, matching the composed
    // element_at(map, w) form (a null key probes to null and the
    // when() keeps the accumulator) in both evaluator modes
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val out = new Array[Long](nChunks)
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val id = idx.get(arr.getUTF8String(i))
          if (id != null) out(id / 64) |= 1L << (id % 64)
        }
        i += 1
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, v => {
        val mapRef = ctx.addReferenceObj("vocabIdx", idx, "java.util.HashMap")
        val out = ctx.freshName("out"); val i = ctx.freshName("i")
        val n = ctx.freshName("n"); val id = ctx.freshName("id")
        s"""
           |long[] $out = new long[$nChunks];
           |int $n = $v.numElements();
           |for (int $i = 0; $i < $n; $i++) {
           |  if (!$v.isNullAt($i)) {
           |    java.lang.Integer $id = (java.lang.Integer) $mapRef.get($v.getUTF8String($i));
           |    if ($id != null) { $out[$id / 64] |= 1L << ($id % 64); }
           |  }
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
           |""".stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** 64-bit token hashes: element i is XXH64(words[i], seed 42) — the
    * set-element encoding for the large-vocabulary LSH verify path.
    * Hashing each token ONCE per set row (O(|set|)) replaces the
    * vocabulary bitmap whose row cost is O(|vocab|/64): a bitmap is
    * dense in the vocabulary, and a shingle vocabulary grows with the
    * corpus (measured: 100x shingle corpus → ~2.6M vocab → 40k-chunk
    * masks, 320 KB per row and 40k interpreted element_at calls —
    * the whole executor pool spinning in MapFromEntries.eval).
    */
  case class TokenHashes(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "token_hashes"

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      child.dataType match {
        case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
        case t => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string>, got ${t.simpleString}")
      }
    }

    // null tokens are SKIPPED (output shrinks), matching the composed
    // transform∘filter semantics where a null element hashes to null
    // and set encodings drop it — identical in both evaluator modes
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val out = new Array[Long](n)
      var i = 0
      var m = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val s = arr.getUTF8String(i)
          out(m) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
          m += 1
        }
        i += 1
      }
      val trimmed = if (m == n) out else java.util.Arrays.copyOf(out, m)
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(trimmed)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, v => {
        val n = ctx.freshName("n"); val out = ctx.freshName("out")
        val i = ctx.freshName("i"); val s = ctx.freshName("s")
        val m = ctx.freshName("m")
        val utf8 = classOf[UTF8String].getName
        val xxh = "org.apache.spark.sql.catalyst.expressions.XXH64"
        s"""
           |int $n = $v.numElements();
           |long[] $out = new long[$n];
           |int $m = 0;
           |for (int $i = 0; $i < $n; $i++) {
           |  if (!$v.isNullAt($i)) {
           |    $utf8 $s = $v.getUTF8String($i);
           |    $out[$m++] = $xxh.hashUnsafeBytes($s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 42L);
           |  }
           |}
           |if ($m != $n) { $out = java.util.Arrays.copyOf($out, $m); }
           |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
           |""".stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Exact Jaccard of two SORTED long arrays (set encodings from
    * [[TokenHashes]]): one merge pass counts |A∩B|, |A∪B| = |A|+|B|−|A∩B|.
    * O(|A|+|B|), zero allocation — the pair-join verify kernel for
    * large vocabularies. Equals string-set Jaccard exactly unless two
    * distinct tokens collide in 64 bits (P ≈ |union|²/2⁶⁵ per pair,
    * ~1e-15 at 200-token sets; the sf0.01 oracle corpus is verified
    * collision-free by the DuckDB cross-check).
    */
  case class SortedLongJaccard(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "sorted_jaccard"

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      (left.dataType, right.dataType) match {
        case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<bigint>, array<bigint>), got " +
            s"${l.simpleString}, ${r.simpleString}")
      }
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val nx = x.numElements(); val ny = y.numElements()
      var i = 0; var j = 0; var inter = 0
      while (i < nx && j < ny) {
        val xv = x.getLong(i); val yv = y.getLong(j)
        if (xv == yv) { inter += 1; i += 1; j += 1 }
        else if (xv < yv) i += 1
        else j += 1
      }
      val union = nx + ny - inter
      if (union == 0) 0.0 else inter.toDouble / union
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
        val inter = ctx.freshName("inter"); val xv = ctx.freshName("xv")
        val yv = ctx.freshName("yv"); val union = ctx.freshName("uni")
        s"""
           |int $nx = $a.numElements(); int $ny = $b.numElements();
           |int $i = 0; int $j = 0; int $inter = 0;
           |while ($i < $nx && $j < $ny) {
           |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
           |  if ($xv == $yv) { $inter++; $i++; $j++; }
           |  else if ($xv < $yv) { $i++; } else { $j++; }
           |}
           |int $union = $nx + $ny - $inter;
           |${ev.value} = ($union == 0) ? 0.0 : ((double) $inter) / $union;
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** |A∩B| of two SORTED long arrays — the exact-verification kernel of
    * the prefix-filtered containment join (sibling of
    * [[SortedLongJaccard]]; callers derive containment/overlap from the
    * count and their own denominator). */
  case class SortedLongIntersect(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "sorted_intersect_count"

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      (left.dataType, right.dataType) match {
        case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<bigint>, array<bigint>), got " +
            s"${l.simpleString}, ${r.simpleString}")
      }
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val nx = x.numElements(); val ny = y.numElements()
      var i = 0; var j = 0; var inter = 0
      while (i < nx && j < ny) {
        val xv = x.getLong(i); val yv = y.getLong(j)
        if (xv == yv) { inter += 1; i += 1; j += 1 }
        else if (xv < yv) i += 1
        else j += 1
      }
      inter
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
        val inter = ctx.freshName("inter"); val xv = ctx.freshName("xv")
        val yv = ctx.freshName("yv")
        s"""
           |int $nx = $a.numElements(); int $ny = $b.numElements();
           |int $i = 0; int $j = 0; int $inter = 0;
           |while ($i < $nx && $j < $ny) {
           |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
           |  if ($xv == $yv) { $inter++; $i++; $j++; }
           |  else if ($xv < $yv) { $i++; } else { $j++; }
           |}
           |${ev.value} = $inter;
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  def sorted_intersect_count(a: Column, b: Column): Column =
    ColumnBridge.column(SortedLongIntersect(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def token_hashes(words: Column): Column =
    ColumnBridge.column(TokenHashes(ColumnBridge.expression(words)))

  def sorted_jaccard(a: Column, b: Column): Column =
    ColumnBridge.column(SortedLongJaccard(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def word_shingles(words: Column, k: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(words), k))

  def bitmap_from_tokens(words: Column, vocab: Array[String], nChunks: Int): Column =
    ColumnBridge.column(BitmapFromTokens(ColumnBridge.expression(words), vocab, nChunks))

  def pq_encode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqEncodeCodes(ColumnBridge.expression(vec), codebooks))

  def pq_adc_score(tab: Column, codes: Column): Column =
    ColumnBridge.column(PqAdcScore(ColumnBridge.expression(tab), ColumnBridge.expression(codes)))

  /** Register SQL names for the custom expressions. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("cosine_similarity",
      exprs => CosineSimilarity(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("simhash64",
      exprs => SimHash64(exprs.head), "built-in")
  }
}
