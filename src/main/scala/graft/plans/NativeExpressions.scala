package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the similarity/dedup hot loops.
  *
  * Spark's higher-order functions (`aggregate`/`zip_with`/`transform`) are
  * CodegenFallback — every element step is an interpreted lambda with boxing. These
  * expressions generate (and interpret, for the fallback path) tight primitive
  * loops instead, and participate in WholeStageCodegen. They are injected through
  * the public `SparkSessionExtensions` API (`spark.sql.extensions=
  * graft.plans.GraftExtensions`); callers fall back to the HOF formulations when
  * the extension is not installed, so results are identical either way (asserted
  * in NativeExprSpec).
  */
object NativeExpressions {
  val dotName = "graft_dot_f32"
  val simhashName = "graft_simhash64"
  val hyperplanesName = "graft_hyperplanes"

  /** Deterministic pseudo-random hyperplane component for (plane p, dim d) in
    * [-1,1]: 64-bit avalanche hash of (seed, p, d). Must stay in lockstep with
    * Similarity.planeComponent (the HOF fallback uses that copy). */
  def planeComponent(p: Int, d: Int, seed: Long): Double = {
    var x = seed ^ (p.toLong << 32) ^ d.toLong
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x.toDouble / Long.MaxValue.toDouble
  }
}

/** Dot product of two float-array columns accumulated in double, fixed
  * left-to-right order (deterministic; same order as the HOF fold it replaces).
  * Null array elements are treated as 0 (fixture embeddings contain none). */
case class DotF32(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"${NativeExpressions.dotName} expects two array<float> args, got $l / $r")
  }
  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i))
        s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      // fresh local names: several DotF32 instances can land in ONE codegen
      // stage (cosine = three dots) and fixed names would collide, failing
      // janino compilation and silently dropping the stage to interpretation
      val n = ctx.freshName("dotN")
      val s = ctx.freshName("dotS")
      val i = ctx.freshName("dotI")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$x.isNullAt($i) && !$y.isNullAt($i)) {
         |    $s += ((double) $x.getFloat($i)) * ((double) $y.getFloat($i));
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = NativeExpressions.dotName
}

/** 64-bit SimHash from a per-token hash array (majority vote per bit; ties → 0,
  * matching Dedup.simHashFromHashes). One primitive pass with a 64-int counter
  * array per ROW (not per token — the HOF version's allocation trap). */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${NativeExpressions.simhashName} expects array<bigint>, got $other")
  }
  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val counts = new Array[Int](64)
    var i = 0
    var m = 0
    while (i < n) {
      if (!hs.isNullAt(i)) {
        val h = hs.getLong(i)
        var b = 0
        while (b < 64) { counts(b) += ((h >>> b) & 1L).toInt; b += 1 }
        m += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) * 2 > m) sig |= (1L << b); b += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hs => {
      // fresh locals — see DotF32.doGenCode (fixed names collide when multiple
      // instances share a codegen stage)
      val n = ctx.freshName("shN"); val counts = ctx.freshName("shCounts")
      val m = ctx.freshName("shM"); val i = ctx.freshName("shI")
      val h = ctx.freshName("shH"); val b = ctx.freshName("shB")
      val sig = ctx.freshName("shSig")
      s"""
         |int $n = $hs.numElements();
         |int[] $counts = new int[64];
         |int $m = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$hs.isNullAt($i)) {
         |    long $h = $hs.getLong($i);
         |    for (int $b = 0; $b < 64; $b++) { $counts[$b] += (int) (($h >>> $b) & 1L); }
         |    $m++;
         |  }
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < 64; $b++) { if ($counts[$b] * 2 > $m) $sig |= (1L << $b); }
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = NativeExpressions.simhashName
}

/** All `nProj` hyperplane projections of a float vector in one generated loop.
  * The weight matrix is derived from (dim, nProj, seed) on the driver and shipped
  * to generated code as a reference object (one flat double[]) — no literal trees,
  * no per-row matrix construction, no interpreted lambdas. Accumulation order is
  * d-major, identical to the HOF zip/fold fallback in Similarity.lshProjections. */
case class HyperplaneProjections(child: Expression, dim: Int, nProj: Int, seed: Long)
  extends UnaryExpression {

  // flat [d * nProj + p] layout; derived, not a constructor arg (case equality stays
  // on (child, dim, nProj, seed))
  @transient private lazy val weights: Array[Double] = {
    val w = new Array[Double](dim * nProj)
    var d = 0
    while (d < dim) {
      var p = 0
      while (p < nProj) {
        w(d * nProj + p) = NativeExpressions.planeComponent(p, d, seed)
        p += 1
      }
      d += 1
    }
    w
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"${NativeExpressions.hyperplanesName} expects array<float>, got $other")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), dim)
    val out = new Array[Double](nProj)
    var d = 0
    while (d < n) {
      if (!v.isNullAt(d)) {
        val x = v.getFloat(d).toDouble
        val base = d * nProj
        var p = 0
        while (p < nProj) { out(p) += x * weights(base + p); p += 1 }
      }
      d += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("weights", weights, "double[]")
    // fresh locals — see DotF32.doGenCode
    val n = ctx.freshName("hpN"); val out = ctx.freshName("hpOut")
    val d = ctx.freshName("hpD"); val x = ctx.freshName("hpX")
    val base = ctx.freshName("hpBase"); val p = ctx.freshName("hpP")
    nullSafeCodeGen(ctx, ev, v => {
      s"""
         |int $n = java.lang.Math.min($v.numElements(), $dim);
         |double[] $out = new double[$nProj];
         |for (int $d = 0; $d < $n; $d++) {
         |  if (!$v.isNullAt($d)) {
         |    double $x = (double) $v.getFloat($d);
         |    int $base = $d * $nProj;
         |    for (int $p = 0; $p < $nProj; $p++) { $out[$p] += $x * $w[$base + $p]; }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = NativeExpressions.hyperplanesName
}

/** Session-extension installer: `spark.sql.extensions=graft.plans.GraftExtensions`
  * (or `.withExtensions(new GraftExtensions)`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier(NativeExpressions.dotName),
      new ExpressionInfo(classOf[DotF32].getName, NativeExpressions.dotName),
      (children: Seq[Expression]) => DotF32(children(0), children(1))))
    e.injectFunction((
      FunctionIdentifier(NativeExpressions.simhashName),
      new ExpressionInfo(classOf[SimHash64].getName, NativeExpressions.simhashName),
      (children: Seq[Expression]) => SimHash64(children.head)))
    e.injectFunction((
      FunctionIdentifier(NativeExpressions.hyperplanesName),
      new ExpressionInfo(classOf[HyperplaneProjections].getName,
        NativeExpressions.hyperplanesName),
      (children: Seq[Expression]) => {
        def litLong(i: Int): Long = children(i) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Number, _) =>
            v.longValue()
          case other => throw new IllegalArgumentException(
            s"${NativeExpressions.hyperplanesName} arg $i must be a literal, got $other")
        }
        HyperplaneProjections(children.head, litLong(1).toInt, litLong(2).toInt, litLong(3))
      }))
    // zlib/gzip base64 codec scalars (CodecExpressions.scala)
    CodecExpressions.names.foreach { case (kql, regName) =>
      val method = kql match {
        case "zlib_compress_to_base64_string" => "zlibCompress"
        case "zlib_decompress_from_base64_string" => "zlibDecompress"
        case "gzip_compress_to_base64_string" => "gzipCompress"
        case "gzip_decompress_from_base64_string" => "gzipDecompress"
        case "punycode_from_string" => "punyEncode"
        case "punycode_to_string" => "punyDecode"
        case "parse_xml" => "xmlToJson"
        case "text_normalize_nfc" => "nfcNormalize"
        case "text_normalize_nfkc" => "nfkcNormalize"
        case "punycode_domain_from_string" => "punyDomainEncode"
        case "punycode_domain_to_string" => "punyDomainDecode"
      }
      e.injectFunction((
        FunctionIdentifier(regName),
        new ExpressionInfo(classOf[CodecExpr].getName, regName),
        (children: Seq[Expression]) => CodecExpr(children.head, method)))
    }
    // geo_geohash_neighbors (GeoHashExpressions.scala)
    e.injectFunction((
      FunctionIdentifier("graft_geohash_neighbors"),
      new ExpressionInfo(classOf[GeohashNeighborsExpr].getName,
        "graft_geohash_neighbors"),
      (children: Seq[Expression]) => GeohashNeighborsExpr(children.head)))
    // series_fft / series_ifft (FftExpressions.scala)
    Seq(("graft_series_fft", false), ("graft_series_ifft", true)).foreach {
      case (name, inv) =>
        e.injectFunction((
          FunctionIdentifier(name),
          new ExpressionInfo(classOf[FftExpr].getName, name),
          (children: Seq[Expression]) => FftExpr(children(0), children(1), inv)))
    }
    // S2 cell scalars (S2Expressions.scala)
    e.injectFunction((
      FunctionIdentifier("graft_s2_cell"),
      new ExpressionInfo(classOf[S2CellExpr].getName, "graft_s2_cell"),
      (children: Seq[Expression]) => S2CellExpr(children(0), children(1), children(2))))
    Seq("lng", "lat").foreach { coord =>
      e.injectFunction((
        FunctionIdentifier(s"graft_s2_center_$coord"),
        new ExpressionInfo(classOf[S2CenterExpr].getName, s"graft_s2_center_$coord"),
        (children: Seq[Expression]) => S2CenterExpr(children.head, coord)))
    }
    e.injectFunction((
      FunctionIdentifier("graft_s2_center_point"),
      new ExpressionInfo(classOf[S2CenterPointExpr].getName, "graft_s2_center_point"),
      (children: Seq[Expression]) => S2CenterPointExpr(children.head)))
    e.injectFunction((
      FunctionIdentifier("graft_s2_neighbors"),
      new ExpressionInfo(classOf[S2NeighborsExpr].getName, "graft_s2_neighbors"),
      (children: Seq[Expression]) => S2NeighborsExpr(children.head)))
    e.injectFunction((
      FunctionIdentifier("graft_s2_cover"),
      new ExpressionInfo(classOf[S2CoverExpr].getName, "graft_s2_cover"),
      (children: Seq[Expression]) => S2CoverExpr(children(0), children(1))))
    e.injectFunction((
      FunctionIdentifier("graft_s2_cover_line"),
      new ExpressionInfo(classOf[S2LineCoverExpr].getName, "graft_s2_cover_line"),
      (children: Seq[Expression]) => S2LineCoverExpr(children(0), children(1))))
    e.injectFunction((
      FunctionIdentifier("graft_s2_cell_polygon"),
      new ExpressionInfo(classOf[S2CellPolygonExpr].getName, "graft_s2_cell_polygon"),
      (children: Seq[Expression]) => S2CellPolygonExpr(children.head)))
    e.injectFunction((
      FunctionIdentifier("graft_geohash_polygon"),
      new ExpressionInfo(classOf[GeohashPolygonExpr].getName, "graft_geohash_polygon"),
      (children: Seq[Expression]) => GeohashPolygonExpr(children.head)))
    e.injectFunction((
      FunctionIdentifier("graft_geohash_center"),
      new ExpressionInfo(classOf[GeohashCenterExpr].getName, "graft_geohash_center"),
      (children: Seq[Expression]) => GeohashCenterExpr(children.head)))
    e.injectFunction((
      FunctionIdentifier("graft_h3_cell_polygon"),
      new ExpressionInfo(classOf[H3CellPolygonExpr].getName, "graft_h3_cell_polygon"),
      (children: Seq[Expression]) => H3CellPolygonExpr(children.head)))
    // geo residual kernels (GeoKernelExpressions.scala)
    e.injectFunction((
      FunctionIdentifier(GeoKernelExpressions.pipName),
      new ExpressionInfo(classOf[PointInPolygonExpr].getName, GeoKernelExpressions.pipName),
      (children: Seq[Expression]) =>
        PointInPolygonExpr(children(0), children(1), children(2))))
    e.injectFunction((
      FunctionIdentifier(GeoKernelExpressions.plineName),
      new ExpressionInfo(classOf[PointToLineMetersExpr].getName, GeoKernelExpressions.plineName),
      (children: Seq[Expression]) =>
        PointToLineMetersExpr(children(0), children(1), children(2))))
    e.injectFunction((
      FunctionIdentifier(GeoKernelExpressions.closestName),
      new ExpressionInfo(classOf[ClosestPointOnLineExpr].getName, GeoKernelExpressions.closestName),
      (children: Seq[Expression]) =>
        ClosestPointOnLineExpr(children(0), children(1), children(2))))
    e.injectFunction((
      FunctionIdentifier("graft_shingle_stats"),
      new ExpressionInfo(classOf[ShingleStatsExpr].getName, "graft_shingle_stats"),
      (children: Seq[Expression]) =>
        ShingleStatsExpr(children(0), children(1), children(2))))
    e.injectFunction((
      FunctionIdentifier("graft_repetition_stats"),
      new ExpressionInfo(classOf[RepetitionStatsExpr].getName, "graft_repetition_stats"),
      (children: Seq[Expression]) => RepetitionStatsExpr(children.head)))
    e.injectFunction((
      FunctionIdentifier("graft_span_hashes"),
      new ExpressionInfo(classOf[SpanHashesExpr].getName, "graft_span_hashes"),
      (children: Seq[Expression]) => SpanHashesExpr(children(0), children(1))))
    e.injectFunction((
      FunctionIdentifier("graft_span_dup_stats"),
      new ExpressionInfo(classOf[SpanDupStatsExpr].getName, "graft_span_dup_stats"),
      (children: Seq[Expression]) =>
        SpanDupStatsExpr(children(0), children(1), children(2))))
    e.injectFunction((
      FunctionIdentifier("graft_parse_ipv6"),
      new ExpressionInfo(classOf[ParseIpv6Expr].getName, "graft_parse_ipv6"),
      (children: Seq[Expression]) => ParseIpv6Expr(children.head)))
    e.injectFunction((
      FunctionIdentifier("graft_ipv4_pack"),
      new ExpressionInfo(classOf[ParseIpv4Expr].getName, "graft_ipv4_pack"),
      (children: Seq[Expression]) => ParseIpv4Expr(children.head)))
    e.injectFunction((
      FunctionIdentifier("graft_make_string"),
      new ExpressionInfo(classOf[MakeStringExpr].getName, "graft_make_string"),
      (children: Seq[Expression]) => MakeStringExpr(children.head)))
    e.injectFunction((
      FunctionIdentifier("graft_to_utf8"),
      new ExpressionInfo(classOf[ToUtf8Expr].getName, "graft_to_utf8"),
      (children: Seq[Expression]) => ToUtf8Expr(children.head)))
    // H3-style hex cells (H3Expressions.scala)
    e.injectFunction((
      FunctionIdentifier("graft_h3_cell"),
      new ExpressionInfo(classOf[H3CellExpr].getName, "graft_h3_cell"),
      (children: Seq[Expression]) => H3CellExpr(children(0), children(1), children(2))))
    e.injectFunction((
      FunctionIdentifier("graft_h3_center_point"),
      new ExpressionInfo(classOf[H3CenterExpr].getName, "graft_h3_center_point"),
      (children: Seq[Expression]) => H3CenterExpr(children.head)))
    e.injectFunction((
      FunctionIdentifier("graft_h3_neighbors"),
      new ExpressionInfo(classOf[H3NeighborsExpr].getName, "graft_h3_neighbors"),
      (children: Seq[Expression]) => H3NeighborsExpr(children.head)))
    e.injectFunction((
      FunctionIdentifier("graft_h3_parent"),
      new ExpressionInfo(classOf[H3ParentExpr].getName, "graft_h3_parent"),
      (children: Seq[Expression]) => H3ParentExpr(children(0), children(1))))
    e.injectFunction((
      FunctionIdentifier("graft_h3_children"),
      new ExpressionInfo(classOf[H3ChildrenExpr].getName, "graft_h3_children"),
      (children: Seq[Expression]) => H3ChildrenExpr(children.head)))
    e.injectFunction((
      FunctionIdentifier("graft_h3_rings"),
      new ExpressionInfo(classOf[H3RingsExpr].getName, "graft_h3_rings"),
      (children: Seq[Expression]) => H3RingsExpr(children(0), children(1))))
    // polygon boolean ops + polyline simplify (PolygonClipExpressions.scala)
    e.injectFunction((
      FunctionIdentifier("graft_polygon_intersection"),
      new ExpressionInfo(classOf[PolygonBoolExpr].getName, "graft_polygon_intersection"),
      (children: Seq[Expression]) => PolygonBoolExpr(children(0), children(1), union = false)))
    e.injectFunction((
      FunctionIdentifier("graft_polygon_union"),
      new ExpressionInfo(classOf[PolygonBoolExpr].getName, "graft_polygon_union"),
      (children: Seq[Expression]) => PolygonBoolExpr(children(0), children(1), union = true)))
    e.injectFunction((
      FunctionIdentifier("graft_line_simplify"),
      new ExpressionInfo(classOf[LineSimplifyExpr].getName, "graft_line_simplify"),
      (children: Seq[Expression]) => LineSimplifyExpr(children(0), children(1))))
    Seq("line_in_poly", "densify_line", "densify_ring", "simplify_rings",
        "union_rings", "clip_line", "buffer_line", "buffer_ring",
        "line_centroid", "lines_intersect", "lines_intersection").foreach { fn =>
      e.injectFunction((
        FunctionIdentifier(s"graft_geo_$fn"),
        new ExpressionInfo(classOf[GeoPolyFnExpr].getName, s"graft_geo_$fn"),
        (children: Seq[Expression]) => GeoPolyFnExpr(children(0), children(1), fn)))
    }
    // statistical special functions (StatExpressions.scala)
    StatExpressions.names.foreach { case (kql, regName) =>
      e.injectFunction((
        FunctionIdentifier(regName),
        new ExpressionInfo(classOf[StatExpr3].getName, regName),
        (children: Seq[Expression]) => kql match {
          case "erf" => StatExpr1(children.head, "erf")
          case "erfc" => StatExpr1(children.head, "erfc")
          case "beta_cdf" => StatExpr3(children(0), children(1), children(2), "betaCdf")
          case "beta_pdf" => StatExpr3(children(0), children(1), children(2), "betaPdf")
          case "beta_inv" => StatExpr3(children(0), children(1), children(2), "betaInv")
          case "t_cdf" => StatExpr3(children(0), children(1), children(1), "tCdf2")
        }))
    }
  }
}

/** Driver-built pruning model for [[IvfProbesPrunedExpr]]: the full centroid
  * matrix plus its √k super-group geometry (Similarity.superGroups) with
  * per-group Cauchy–Schwarz bounds. All fields are primitive arrays, so the
  * model ships ONCE per stage inside the task binary as compact blocks, not
  * as a boxed per-task literal graph. Contract (enforced by the builder):
  * at least one centroid, every row non-null, the same length and finite.
  *
  * Equality is by CONTENT: two builds over equal matrices are equal models,
  * so the expressions carrying them canonicalize equal and CacheManager /
  * the Caching registry dedupe repeated constructions of one query. */
case class IvfPrunedModel(cents: Array[Array[Float]], biases: Array[Double],
    supers: Array[Array[Float]], radii: Array[Double],
    minb: Array[Double], maxb: Array[Double], members: Array[Array[Int]],
    sbiases: Array[Double]) {
  /** Length of every centroid and super row. */
  def dim: Int = cents(0).length
  // the expression's treeString embeds its args: print geometry, not arrays
  override def toString: String =
    s"IvfPrunedModel(k=${cents.length}, " +
      s"dim=${if (cents.isEmpty) 0 else cents(0).length}, groups=${supers.length})"

  @transient private lazy val contentHash: Int = java.util.Arrays.deepHashCode(
    Array[AnyRef](cents, supers, members))
  override def hashCode: Int = contentHash
  override def equals(o: Any): Boolean = o match {
    case m: IvfPrunedModel =>
      (this eq m) || (cents.length == m.cents.length &&
        supers.length == m.supers.length && contentHash == m.contentHash &&
        java.util.Arrays.deepEquals(
          Array[AnyRef](cents, biases, supers, radii, minb, maxb, members, sbiases),
          Array[AnyRef](m.cents, m.biases, m.supers, m.radii, m.minb, m.maxb,
            m.members, m.sbiases)))
    case _ => false
  }
}

/** Exact bound-pruned flat probe assignment — the one exact kernel behind
  * Similarity.ivfProbes and Similarity.assignProbes. Scores: dot
  * accumulated in double left-to-right over min(len) skipping null vector
  * elements, minus the bias Σx²/2 summed left-to-right; the nProbe best
  * come out best first under Double.compare (NaN scores largest), ties to
  * the lower centroid id. The result is SET-EXACT vs the flat scan: per
  * group g with super s_g,
  * radius r_g = max|c−s_g| and bias range [minb_g, maxb_g], every member
  * score lies in [v·s_g − |v|r_g − maxb_g, v·s_g + |v|r_g − minb_g]
  * (Cauchy–Schwarz). With t = the nProbe-th largest group LOWER bound, at
  * least nProbe centroids score ≥ t (each group is non-empty), so a group
  * whose UPPER bound is < t cannot hold a top-nProbe centroid and its
  * members are skipped without scoring. Per-row cost falls from k dots to
  * √k super dots + the surviving groups' members; a single group is the
  * flat scan. On structureless (Gaussian) vectors no group is dropped and
  * every row scores all k centroids (SCALE.md), so the scoring loop sets
  * the cost: the row is read once into a double[] ([[rowOf]]) and
  * [[dotsInto]] scores four centroids per pass over it, for the supers,
  * the candidates and the hierarchical ladder alike. A small slack keeps the
  * cut conservative under floating-point rounding (extra survivors are
  * merely scored exactly; droppees are proven strictly beaten). Non-finite
  * vectors (NaN/Inf elements) disable pruning for that row and take the
  * full exact scan, so the NaN-largest order holds there too. Centroids
  * must be finite: a NaN or infinite centroid would score outside its
  * group's bounds, so [[build]] rejects it. */
object IvfPruned {
  /** Rejects a matrix the bounds cannot cover: no rows, or a row that is
    * null, of another length than row 0, or holds a NaN/±Inf element. The
    * message names the first offending row. */
  def validate(cents: Array[Array[Float]]): Unit = {
    require(cents.nonEmpty, "IvfPruned: the centroid matrix has no rows")
    var i = 0
    while (i < cents.length) {
      val c = cents(i)
      require(c != null, s"IvfPruned: centroid row $i is null")
      require(c.length == cents(0).length, s"IvfPruned: centroid row $i " +
        s"has ${c.length} elements, row 0 has ${cents(0).length}")
      var j = 0
      while (j < c.length) {
        require(java.lang.Float.isFinite(c(j)),
          s"IvfPruned: centroid row $i has a non-finite element ${c(j)} at $j")
        j += 1
      }
      i += 1
    }
  }

  def build(cents: Array[Array[Float]], supers: Array[Array[Float]],
      gid: Array[Int]): IvfPrunedModel = {
    validate(cents)
    val k = cents.length
    val g = supers.length
    supers.indices.foreach { i =>
      require(supers(i) != null && supers(i).length == cents(0).length &&
        supers(i).forall(java.lang.Float.isFinite),
        s"IvfPruned: super row $i is not ${cents(0).length} finite elements")
    }
    val biases = new Array[Double](k)
    var i = 0
    while (i < k) {
      val c = cents(i); var b = 0.0; var j = 0
      while (j < c.length) { val x = c(j).toDouble; b += x * x; j += 1 }
      biases(i) = b / 2.0
      i += 1
    }
    val rad2 = new Array[Double](g)
    val minb = Array.fill(g)(Double.PositiveInfinity)
    val maxb = Array.fill(g)(Double.NegativeInfinity)
    val counts = new Array[Int](g)
    i = 0; while (i < k) { counts(gid(i)) += 1; i += 1 }
    val members = Array.tabulate(g)(x => new Array[Int](counts(x)))
    val fill = new Array[Int](g)
    i = 0
    while (i < k) {
      val gi = gid(i)
      members(gi)(fill(gi)) = i; fill(gi) += 1
      val s = supers(gi); val c = cents(i)
      var d2 = 0.0; var j = 0
      while (j < c.length) { val dd = c(j).toDouble - s(j).toDouble; d2 += dd * dd; j += 1 }
      if (d2 > rad2(gi)) rad2(gi) = d2
      if (biases(i) < minb(gi)) minb(gi) = biases(i)
      if (biases(i) > maxb(gi)) maxb(gi) = biases(i)
      i += 1
    }
    val sbiases = new Array[Double](g)
    i = 0
    while (i < g) { // supers get the same bias chain (the hier ladder scores
      val s = supers(i); var b = 0.0; var j = 0 // groups like centroids)
      while (j < s.length) { val x = s(j).toDouble; b += x * x; j += 1 }
      sbiases(i) = b / 2.0
      i += 1
    }
    IvfPrunedModel(cents, biases, supers, rad2.map(math.sqrt), minb, maxb,
      members, sbiases)
  }

  /** The row vector as a primitive array, read from the row once: every
    * element in order, a null element as 0.0. Centroid and super rows are
    * finite ([[build]] checks), so a 0.0 element adds ±0.0 to a dot (which starts at +0.0 and so is never
    * −0.0) and 0.0 to Σx²: the same sums as skipping the element. */
  def rowOf(vec: ArrayData): Array[Double] = {
    val nv = vec.numElements()
    val v = new Array[Double](nv)
    var j = 0
    while (j < nv) {
      if (!vec.isNullAt(j)) v(j) = vec.getFloat(j).toDouble
      j += 1
    }
    v
  }

  /** The one scoring loop: out(r) = Σ v(p)·rows(r)(p) over the common
    * prefix p < min(|v|, dim), in double, left to right, for r < nRows.
    * Four rows share each pass over v; each keeps its own accumulator, so
    * every sum equals the one-row loop's bit for bit. */
  private def dotsInto(v: Array[Double], dim: Int, rows: Array[Array[Float]],
      nRows: Int, out: Array[Double]): Unit = {
    val n = math.min(v.length, dim)
    var r = 0
    while (r + 4 <= nRows) {
      val c0 = rows(r); val c1 = rows(r + 1); val c2 = rows(r + 2); val c3 = rows(r + 3)
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      var p = 0
      while (p < n) {
        val x = v(p)
        s0 += x * c0(p); s1 += x * c1(p); s2 += x * c2(p); s3 += x * c3(p)
        p += 1
      }
      out(r) = s0; out(r + 1) = s1; out(r + 2) = s2; out(r + 3) = s3
      r += 4
    }
    while (r < nRows) {
      val c = rows(r)
      var s = 0.0; var p = 0
      while (p < n) { s += v(p) * c(p); p += 1 }
      out(r) = s
      r += 1
    }
  }

  /** v·c − |c|²/2 for each listed centroid, in list order. */
  private def scoresOf(v: Array[Double], m: IvfPrunedModel,
      ids: Array[Int]): Array[Double] = {
    val nc = ids.length
    val rows = new Array[Array[Float]](nc)
    var q = 0
    while (q < nc) { rows(q) = m.cents(ids(q)); q += 1 }
    val scores = new Array[Double](nc)
    dotsInto(v, m.dim, rows, nc, scores)
    q = 0
    while (q < nc) { scores(q) -= m.biases(ids(q)); q += 1 }
    scores
  }

  /** The nOut best scored candidates, best first: Double.compare (NaN
    * largest), ties to the LOWER centroid id — made explicit because
    * candidates come group by group, not in ascending-id order. */
  private def topProbes(ids: Array[Int], scores: Array[Double],
      nOut: Int): GenericArrayData = {
    val nc = ids.length
    val out = new Array[Any](nOut)
    val taken = new Array[Boolean](nc)
    var r = 0
    while (r < nOut) {
      var bi = -1
      var bs = Double.NegativeInfinity
      var bcid = Int.MaxValue
      var i = 0
      while (i < nc) {
        if (!taken(i)) {
          val cmp = java.lang.Double.compare(scores(i), bs)
          if (bi < 0 || cmp > 0 || (cmp == 0 && ids(i) < bcid)) {
            bi = i; bs = scores(i); bcid = ids(i)
          }
        }
        i += 1
      }
      taken(bi) = true
      out(r) = ids(bi)
      r += 1
    }
    new GenericArrayData(out)
  }

  /** The centroids [[eval]] exact-scores for row v ([[rowOf]]), group by
    * group: the members of every group whose upper bound reaches the
    * threshold (the nProbe-th largest group lower bound, less the FP
    * slack). Every centroid, in id order, when the bound cannot prune: a
    * non-finite row, nProbe outside [1, k), or a NaN super dot. Its length
    * over k is the row's scored-centroid fraction. */
  def candidates(v: Array[Double], m: IvfPrunedModel, nProbe: Int): Array[Int] = {
    val k = m.cents.length
    val g = m.supers.length
    // |v| over every element: valid for the bound even when the vector is
    // longer than the centroids (the dot truncates to the common prefix,
    // whose norm is ≤ the full norm)
    var vn2 = 0.0
    var j = 0
    while (j < v.length) { vn2 += v(j) * v(j); j += 1 }
    val vnorm = math.sqrt(vn2)
    if (!java.lang.Double.isFinite(vnorm) || g < 1 || nProbe < 1 || nProbe >= k)
      return Array.range(0, k)
    val sdots = new Array[Double](g)
    dotsInto(v, m.dim, m.supers, g, sdots)
    val lbs = new Array[Double](g)
    val ubs = new Array[Double](g)
    var gi = 0
    while (gi < g) {
      if (java.lang.Double.isNaN(sdots(gi))) return Array.range(0, k)
      val rad = vnorm * m.radii(gi)
      ubs(gi) = sdots(gi) + rad - m.minb(gi)
      lbs(gi) = sdots(gi) - rad - m.maxb(gi)
      gi += 1
    }
    var t = Double.NegativeInfinity
    if (g >= nProbe) {
      val sorted = lbs.clone()
      java.util.Arrays.sort(sorted)
      t = sorted(g - nProbe)
    }
    // conservative under FP rounding: a borderline group survives and is
    // scored exactly; only groups proven strictly beaten are dropped
    val thr = t - 1e-6 * (1.0 + math.abs(t))
    var nc = 0
    gi = 0
    while (gi < g) {
      if (ubs(gi) >= thr) nc += m.members(gi).length
      gi += 1
    }
    val ids = new Array[Int](nc)
    var w = 0
    gi = 0
    while (gi < g) {
      if (ubs(gi) >= thr) {
        val mem = m.members(gi)
        System.arraycopy(mem, 0, ids, w, mem.length)
        w += mem.length
      }
      gi += 1
    }
    ids
  }

  /** The exact flat probes of one row: [[candidates]], then one
    * [[dotsInto]] pass over them, then the top nProbe. */
  def eval(vec: ArrayData, m: IvfPrunedModel, nProbe: Int): GenericArrayData = {
    val v = rowOf(vec)
    val ids = candidates(v, m, nProbe)
    topProbes(ids, scoresOf(v, m, ids), math.min(math.max(nProbe, 0), m.cents.length))
  }

  /** The nearest centroid of row v ([[rowOf]]): `eval(vec, m, 1)`'s one
    * probe, through the same candidates and scoring loop. */
  def nearest(v: Array[Double], m: IvfPrunedModel): Int = {
    val ids = candidates(v, m, 1)
    topProbes(ids, scoresOf(v, m, ids), 1).getInt(0)
  }

  /** The members of the groupProbe best super-groups, best group first
    * (supers scored v·s − |s|²/2, Double.compare, ties to the lower group
    * id) — the candidate set of [[evalHier]]. */
  def hierCandidates(v: Array[Double], m: IvfPrunedModel, groupProbe: Int): Array[Int] = {
    val g = m.supers.length
    val ng = math.min(math.max(groupProbe, 0), g)
    val sScores = new Array[Double](g)
    dotsInto(v, m.dim, m.supers, g, sScores)
    var gi = 0
    while (gi < g) { sScores(gi) -= m.sbiases(gi); gi += 1 }
    // top-ng groups: the flat selection (strict >, ascending scan → ties
    // to the lower gid)
    val gTaken = new Array[Boolean](g)
    val gSel = new Array[Int](ng)
    var nc = 0
    var r = 0
    while (r < ng) {
      var best = -1
      var bs = Double.NegativeInfinity
      var i = 0
      while (i < g) {
        if (!gTaken(i) &&
            (best < 0 || java.lang.Double.compare(sScores(i), bs) > 0)) {
          best = i; bs = sScores(i)
        }
        i += 1
      }
      gTaken(best) = true
      gSel(r) = best
      nc += m.members(best).length
      r += 1
    }
    val ids = new Array[Int](nc)
    var w = 0
    r = 0
    while (r < ng) {
      val mem = m.members(gSel(r))
      System.arraycopy(mem, 0, ids, w, mem.length)
      w += mem.length
      r += 1
    }
    ids
  }

  /** Fused two-level (hierarchical) probe assignment — the kernel form of
    * Similarity.assignProbesHier's ladder (explode top-groupProbe supers →
    * broadcast member join → per-row top-nProbe): the CANDIDATE SET
    * ([[hierCandidates]]), score chain, and both tie-breaks replicate the
    * ladder exactly, so the output is row-identical; only the explode +
    * join + typed aggregate machinery is gone. Like the ladder, the result
    * is recall-approximate vs flat (groupProbe = #groups degenerates to
    * exact flat, asserted in SimilaritySpec). Emits min(nProbe, candidates)
    * probes — the ladder's TopKAgg posture when a probed frontier holds
    * fewer than nProbe centroids. */
  def evalHier(vec: ArrayData, m: IvfPrunedModel, nProbe: Int,
      groupProbe: Int): GenericArrayData = {
    val v = rowOf(vec)
    val ids = hierCandidates(v, m, groupProbe)
    topProbes(ids, scoresOf(v, m, ids), math.min(math.max(nProbe, 0), ids.length))
  }
}

/** graft_ivf_probes_pruned(vec) → the nProbe nearest centroid ids, nearest
  * first ([[IvfPruned.eval]]); a null vector gives null. graft-internal:
  * constructed by Similarity.ivfProbes, never via the function registry —
  * the model rides the expression as a reference object. */
case class IvfProbesPrunedExpr(child: Expression, model: IvfPrunedModel,
    nProbe: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_ivf_probes_pruned expects array<float>, got $other")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    IvfPruned.eval(v.asInstanceOf[ArrayData], model, nProbe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("ivfPrunedModel", model,
      "graft.plans.IvfPrunedModel")
    defineCodeGen(ctx, ev, v =>
      s"graft.plans.IvfPruned.eval($v, $m, $nProbe)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "graft_ivf_probes_pruned"
}

/** graft-internal (constructed programmatically by
  * Similarity.assignProbesHier): the fused two-level ladder —
  * [[IvfPruned.evalHier]]. */
case class IvfProbesHierExpr(child: Expression, model: IvfPrunedModel,
    nProbe: Int, groupProbe: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_ivf_probes_hier expects array<float>, got $other")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    IvfPruned.evalHier(v.asInstanceOf[ArrayData], model, nProbe, groupProbe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("ivfPrunedModel", model,
      "graft.plans.IvfPrunedModel")
    defineCodeGen(ctx, ev, v =>
      s"graft.plans.IvfPruned.evalHier($v, $m, $nProbe, $groupProbe)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "graft_ivf_probes_hier"
}

/** SemDeDup's in-cluster scoring ([[ClusterDupesExpr]], built by
  * Similarity.semDedup over each cluster's `collect_list(struct(id, v))`):
  * the ids of the members that a member with a smaller id in the same
  * cluster reaches tau against. Row-level: a pair is one member against
  * another of the SAME list, never another vector of the same id.
  *   - each member is read once into a primitive double[] (with a null
  *     mask when it has null elements), and its norm computed once, as the
  *     sqrt of its self-dot;
  *   - a pair dot is the DotF32 sum: left to right in double over the
  *     common prefix, skipping an index where either side is null (a 0.0
  *     there would turn 0·±Inf into NaN);
  *   - a pair (a, b) counts when id a < id b in the id type's Catalyst
  *     ordering (equal ids never pair);
  *   - b is removed when dot/(na·nb) ≥ tau under Spark's double ordering
  *     (NaN largest, so a NaN cosine removes); a pair with na·nb = 0 is not
  *     a duplicate — the value a non-ANSI session's division gives.
  * Members are visited in id order and b's search stops at its first
  * witness, so at most m(m−1)/2 pairs are scored. A null member, id or
  * vector takes part in no pair. */
object ClusterDupes {
  def eval(members: ArrayData, idType: DataType, ord: Ordering[Any],
      tau: Double): GenericArrayData = {
    val n = members.numElements()
    val ids = new Array[Any](n)
    val vs = new Array[Array[Double]](n)
    val masks = new Array[Array[Boolean]](n)
    val norms = new Array[Double](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!members.isNullAt(i)) {
        val r = members.getStruct(i, 2)
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          val a = r.getArray(1)
          val len = a.numElements()
          val v = new Array[Double](len)
          var mask: Array[Boolean] = null
          var j = 0
          while (j < len) {
            if (a.isNullAt(j)) {
              if (mask == null) mask = new Array[Boolean](len)
              mask(j) = true
            } else v(j) = a.getFloat(j).toDouble
            j += 1
          }
          ids(m) = r.get(0, idType); vs(m) = v; masks(m) = mask
          norms(m) = math.sqrt(dot(v, mask, v, mask))
          m += 1
        }
      }
      i += 1
    }
    // ascending id order; `lead` is the first position of q's id, so the
    // members before it are exactly those with a smaller id
    val order = Array.range(0, m).sortBy(ids(_))(ord)
    val out = new Array[Any](m)
    var nOut = 0
    var lead = 0
    var q = 1
    while (q < m) {
      val b = order(q)
      if (ord.compare(ids(order(q - 1)), ids(b)) != 0) lead = q
      var p = 0
      var hit = false
      while (!hit && p < lead) {
        val a = order(p)
        val den = norms(a) * norms(b)
        if (den != 0.0) {
          val c = dot(vs(a), masks(a), vs(b), masks(b)) / den
          hit = org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(c, tau) >= 0
        }
        p += 1
      }
      if (hit) {
        out(nOut) = org.apache.spark.sql.catalyst.InternalRow.copyValue(ids(b))
        nOut += 1
      }
      q += 1
    }
    new GenericArrayData(out.take(nOut))
  }

  /** Σ x·y over the common prefix, left to right in double, skipping an
    * index where either mask (null: no null element) is set. */
  private def dot(x: Array[Double], xm: Array[Boolean], y: Array[Double],
      ym: Array[Boolean]): Double = {
    val n = math.min(x.length, y.length)
    var s = 0.0
    var p = 0
    if (xm == null && ym == null)
      while (p < n) { s += x(p) * y(p); p += 1 }
    else
      while (p < n) {
        if ((xm == null || !xm(p)) && (ym == null || !ym(p))) s += x(p) * y(p)
        p += 1
      }
    s
  }
}

/** graft_cluster_dupes(members) → the removed ids of one cluster
  * ([[ClusterDupes.eval]]); members is `array<struct<id, v: array<float>>>`
  * with an orderable id type, and the result is `array<id>`. graft-internal:
  * constructed through ColumnBridge by Similarity.semDedup. */
case class ClusterDupesExpr(child: Expression, tau: Double) extends UnaryExpression {
  private def idType: DataType = child.dataType match {
    case ArrayType(s: StructType, _) if s.length == 2 => s(0).dataType
    case _ => NullType
  }
  @transient private lazy val ordering =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(idType)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _) if s.length == 2 &&
        s(1).dataType.isInstanceOf[ArrayType] &&
        s(1).dataType.asInstanceOf[ArrayType].elementType == FloatType =>
      org.apache.spark.sql.catalyst.util.TypeUtils.checkForOrderingExpr(idType, prettyName)
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<struct<id, v: array<float>>>, got $other")
  }
  override def dataType: DataType = ArrayType(idType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    ClusterDupes.eval(v.asInstanceOf[ArrayData], idType, ordering, tau)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("memberIdType", idType,
      "org.apache.spark.sql.types.DataType")
    val o = ctx.addReferenceObj("memberIdOrdering", ordering, "scala.math.Ordering")
    // the exact bits of tau, NaN and ±Inf included
    val tauCode =
      s"java.lang.Double.longBitsToDouble(${java.lang.Double.doubleToRawLongBits(tau)}L)"
    defineCodeGen(ctx, ev, v => s"graft.plans.ClusterDupes.eval($v, $t, $o, $tauCode)")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "graft_cluster_dupes"
}

/** The MinHash signature of a document's token array in one pass
  * ([[MinHashSigExpr]], built by Dedup.minHashSignatureOf). It does the
  * arithmetic of the column chain tokens → distinct k-shingles →
  * portableHash60 % P → numHashes affine minima, without the shingle
  * strings, the hash array or the per-component lambdas:
  *   - windows are the n − k + 1 k-token runs joined by ' ' with concat_ws
  *     null-skip (no delimiter for a null token); when n < k, the whole
  *     array is the one window (TextAnalysis.shinglesOf), so null and empty
  *     arrays hash "";
  *   - each window's UTF-8 bytes stream into one thread-local md5
  *     (portableHash60, as [[SpanHashes]]), reduced mod P;
  *   - component i folds min over windows of (h·a_i + b_i) mod P into a
  *     primitive long array. Min is idempotent, so repeated windows need no
  *     distinct.
  * The hash family lives here so the kernel and the DuckDB oracle builders
  * (via Dedup.minhashA/minhashB) share one definition. */
object MinHashSig {
  /** 2^31 − 1. Coefficients stay below 2^31 so every h·a + b fits a signed
    * 64-bit integer (h < P), in Spark and in engines that error on overflow. */
  final val P = 2147483647L
  def a(i: Int): Long = ((i * 2654435761L + 1013904223L) % (P - 1)) + 1
  def b(i: Int): Long = (i * 2246822519L + 3266489917L) % P

  def eval(toks: ArrayData, k: Int, ca: Array[Long], cb: Array[Long]): ArrayData = {
    val m = ca.length
    val sig = Array.fill(m)(Long.MaxValue)
    val n = if (toks == null) 0 else toks.numElements()
    val bytes = new Array[Array[Byte]](n)
    var t = 0
    while (t < n) {
      if (!toks.isNullAt(t)) bytes(t) = toks.getUTF8String(t).getBytes
      t += 1
    }
    val windows = if (n >= k) n - k + 1 else 1
    val width = math.min(n, k)
    val md = SpanHashes.digest.get()
    var w = 0
    while (w < windows) {
      md.reset()
      var j = w
      var first = true
      while (j < w + width) {
        if (bytes(j) != null) {
          if (!first) md.update(SpanHashes.SpaceByte)
          md.update(bytes(j))
          first = false
        }
        j += 1
      }
      val h = SpanHashes.hash60(md) % P
      var i = 0
      while (i < m) {
        val v = (h * ca(i) + cb(i)) % P
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      w += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(sig)
  }
}

/** graft_minhash_sig(tokens, k, numHashes) → array<bigint> of numHashes
  * components ([[MinHashSig.eval]]). Same type as the column chain it
  * replaces (`array(array_min(…), …)`: never null, nullable elements that
  * are never null); a null token array gives the signature of "", as that
  * chain does. graft-internal: constructed through ColumnBridge by
  * Dedup.minHashSignatureOf, never via the function registry. */
case class MinHashSigExpr(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression {
  require(k >= 1 && numHashes >= 1,
    s"graft_minhash_sig needs k >= 1 and numHashes >= 1, got k=$k numHashes=$numHashes")
  @transient private lazy val ca = Array.tabulate(numHashes)(MinHashSig.a)
  @transient private lazy val cb = Array.tabulate(numHashes)(MinHashSig.b)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    MinHashSig.eval(child.eval(input).asInstanceOf[ArrayData], k, ca, cb)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    val a = ctx.addReferenceObj("minhashA", ca, "long[]")
    val b = ctx.addReferenceObj("minhashB", cb, "long[]")
    ev.copy(isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral,
      code = code"""
        |${c.code}
        |ArrayData ${ev.value} = graft.plans.MinHashSig.eval(
        |  ${c.isNull} ? null : ${c.value}, $k, $a, $b);""".stripMargin)
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
  override def prettyName: String = "graft_minhash_sig"
}
