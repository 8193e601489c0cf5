package graft

import org.apache.spark.sql.functions._
import graft.plans.NativeExpressions
import graft.sources.Tables

/** Native Catalyst expressions (DotF32, SimHash64): registered through
  * SparkSessionExtensions, bit-identical to the higher-order-function fallbacks
  * they replace, and evaluated inside codegen (not CodegenFallback). */
class NativeExprSpec extends SparkSpec {
  import spark.implicits._

  test("extension functions are registered in the session") {
    assert(spark.catalog.functionExists(NativeExpressions.dotName))
    assert(spark.catalog.functionExists(NativeExpressions.simhashName))
  }

  test("native dot matches the HOF fold bit-for-bit on fixture embeddings") {
    val emb = Tables.load(spark, sf, "embeddings").limit(100)
    val pairs = emb.select(col("vec_id").as("ia"), col("embedding").as("va"))
      .crossJoin(emb.select(col("vec_id").as("ib"), col("embedding").as("vb")))
      .filter(col("ia") < col("ib")).limit(500)
    val hof = aggregate(zip_with(col("va"), col("vb"),
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, v) => acc + v)
    val native = call_function(NativeExpressions.dotName, col("va"), col("vb"))
    val diff = pairs.select((hof === native).as("same")).filter(!col("same")).count()
    assert(diff == 0)
  }

  test("native simhash matches the per-bit fold on fixture documents") {
    val docs = Tables.load(spark, sf, "documents").limit(100)
      .select(col("doc_id"),
        transform(split(lower(col("text")), " "), t => xxhash64(t)).as("h"))
    val n = size(col("h"))
    val bitCounts = transform(sequence(lit(0), lit(63)),
      i => aggregate(col("h"), lit(0L),
        (acc, x) => acc + call_function("shiftrightunsigned", x, i).bitwiseAND(lit(1L))))
    val hof = aggregate(zip_with(bitCounts, sequence(lit(0), lit(63)),
      (c, i) => when(c * 2 > n, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
    val native = call_function(NativeExpressions.simhashName, col("h"))
    val diff = docs.select((hof === native).as("same")).filter(!col("same")).count()
    assert(diff == 0)
  }

  test("native hyperplane projections match the typedlit HOF fold") {
    val emb = Tables.load(spark, sf, "embeddings").limit(50)
    val dimWeights = typedlit((0 until 64).map(d =>
      (0 until 24).map(p => graft.plans.NativeExpressions.planeComponent(p, d, 42L))))
    val hof = aggregate(
      zip_with(col("embedding"), dimWeights,
        (x, w) => transform(w, wp => x.cast("double") * wp)),
      array_repeat(lit(0.0), 24),
      (acc, contrib) => zip_with(acc, contrib, (a, c) => a + c))
    val native = call_function(NativeExpressions.hyperplanesName,
      col("embedding"), lit(64), lit(24), lit(42L))
    val rows = emb.select(hof.as("a"), native.as("b"))
      .as[(Seq[Double], Seq[Double])].collect()
    assert(rows.forall { case (a, b) => a == b })
  }

  test("native dot runs inside WholeStageCodegen") {
    val emb = Tables.load(spark, sf, "embeddings")
    val plan = emb.select(call_function(NativeExpressions.dotName,
        col("embedding"), col("embedding")).as("d"))
      .queryExecution.executedPlan.toString()
    // the "*(n)" prefix marks operators compiled into a WholeStageCodegen stage
    assert(plan.linesIterator.exists(l =>
      l.contains("graft_dot_f32") && l.trim.startsWith("*(")), plan)
  }

  test("native and HOF fallback agree on null elements and unequal lengths") {
    // the edge inputs where the two paths could diverge: null elements (native
    // skips; fallback folds coalesce(·, 0)) and unequal lengths (native
    // truncates to the shorter array; zip_with pads with nulls → coalesced to 0)
    val df = Seq(
      (Seq[java.lang.Float](1f, null, 3f), Seq[java.lang.Float](2f, 5f, 4f)),
      (Seq[java.lang.Float](1f, 2f, 3f), Seq[java.lang.Float](10f)),
      (Seq[java.lang.Float](null, null), Seq[java.lang.Float](1f, 1f))
    ).toDF("a", "b")
    val rows = df.select(
      graft.functions.Similarity.dot(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + coalesce(v, lit(0.0))).as("hof"))
      .as[(Double, Double)].collect()
    assert(rows.forall { case (n, h) => n == h }, rows.toSeq.toString)
    assert(rows.map(_._1).toSeq == Seq(1.0 * 2 + 3 * 4, 10.0, 0.0))

    // simhash: null hashes cast no vote and the majority denominator counts
    // non-null elements only — both paths
    val hs = Seq(
      Seq[java.lang.Long](3L, null, 3L),
      Seq[java.lang.Long](null, null),
      Seq[java.lang.Long](1L, 3L, null, 3L)
    ).toDF("h")
    val n = size(filter(col("h"), x => x.isNotNull))
    val bitCounts = transform(sequence(lit(0), lit(63)),
      i => aggregate(col("h"), lit(0L),
        (acc, x) => acc + coalesce(
          call_function("shiftrightunsigned", x, i).bitwiseAND(lit(1L)), lit(0L))))
    val hof = aggregate(zip_with(bitCounts, sequence(lit(0), lit(63)),
      (c, i) => when(c * 2 > n, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
    val out = hs.select(
      call_function(NativeExpressions.simhashName, col("h")).as("native"), hof.as("hof"))
      .as[(Long, Long)].collect()
    assert(out.forall { case (a, b) => a == b }, out.toSeq.toString)
    assert(out.map(_._1).toSeq == Seq(3L, 0L, 3L))
  }

  test("native geo kernels match the HOF folds bit-for-bit on a point grid") {
    import graft.functions.KqlFunctions
    import graft.plans.GeoKernelExpressions
    assert(spark.catalog.functionExists(GeoKernelExpressions.pipName))
    // 40×40 grid straddling the fixture polygon/line, incl. exact-vertex hits
    val grid = spark.range(1600).select(
      (lit(-73.6) + (col("id") % 40).cast("double") * 0.03).as("lng"),
      (lit(40.0) + (col("id") / 40).cast("double") * 0.03).as("lat"))
    val ring = typedlit(Seq(Seq(-73.3, 40.2), Seq(-72.8, 40.2), Seq(-73.05, 40.9)))
      .cast("array<array<double>>")
    val line = typedlit(Seq(Seq(-73.4, 40.3), Seq(-73.0, 40.6), Seq(-72.6, 40.5)))
      .cast("array<array<double>>")
    val pipDiff = grid.select(
      (call_function(GeoKernelExpressions.pipName, col("lng"), col("lat"), ring) ===
        KqlFunctions.pointInPolygonHof(col("lng"), col("lat"), ring)).as("same"))
      .filter(!col("same")).count()
    assert(pipDiff == 0, "point-in-polygon native/HOF mismatch")
    val dDiff = grid.select(
      (call_function(GeoKernelExpressions.plineName, col("lng"), col("lat"), line) ===
        KqlFunctions.pointToLineMetersHof(col("lng"), col("lat"), line)).as("same"))
      .filter(!col("same")).count()
    assert(dDiff == 0, "point-to-line native/HOF mismatch (must be bit-identical)")
    // closest point: compare both coordinates against the struct-fold HOF
    val cosl = cos(radians(col("lat")))
    val hofBest = aggregate(sequence(lit(0), size(line) - 2),
      struct(lit(Double.PositiveInfinity).as("d"), lit(0.0).as("x"), lit(0.0).as("y")),
      (acc, i) => {
        val a = element_at(line, i + 1); val b = element_at(line, i + 2)
        val x1 = (element_at(a, 1).cast("double") - col("lng")) * cosl
        val y1 = element_at(a, 2).cast("double") - col("lat")
        val x2 = (element_at(b, 1).cast("double") - col("lng")) * cosl
        val y2 = element_at(b, 2).cast("double") - col("lat")
        val dx = x2 - x1; val dy = y2 - y1
        val len2 = dx * dx + dy * dy
        val t = when(len2 > 0,
          greatest(lit(0.0), least(lit(1.0), -(x1 * dx + y1 * dy) / len2)))
          .otherwise(lit(0.0))
        val cx = x1 + t * dx; val cy = y1 + t * dy
        val cd = sqrt(cx * cx + cy * cy)
        when(cd < acc.getField("d"),
          struct(cd.as("d"), cx.as("x"), cy.as("y"))).otherwise(acc)
      })
    val hofPt = array(col("lng") + hofBest.getField("x") / cosl,
      col("lat") + hofBest.getField("y"))
    val cDiff = grid.select(
      (call_function(GeoKernelExpressions.closestName, col("lng"), col("lat"), line)
        === hofPt).as("same")).filter(!col("same")).count()
    assert(cDiff == 0, "closest-point native/HOF mismatch")
  }

  test("closest-point kernel returns null (not the echoed point) on degenerate lines") {
    // direct SQL use of the registered function — no KqlParser size guard
    val rows = spark.sql(
      """SELECT graft_closest_point_on_line(1.0D, 2.0D, array(array(3.0D, 4.0D))) AS one,
        |  graft_closest_point_on_line(1.0D, 2.0D,
        |    array(CAST(null AS array<double>), CAST(null AS array<double>))) AS nulls,
        |  graft_closest_point_on_line(1.0D, 2.0D,
        |    array(array(3.0D, 4.0D), array(5.0D, 6.0D))) AS ok""".stripMargin).head()
    assert(rows.isNullAt(0), "<2-vertex line must yield null")
    assert(rows.isNullAt(1), "all-null-vertex line must yield null")
    assert(!rows.isNullAt(2), "a real segment must yield a point")
  }

  test("native shingle stats match the array formulation on fixture documents") {
    import graft.functions.{TextAnalysis => TA}
    // incl. a DUPLICATE probe: native must count distinct matches like
    // array_intersect does (review finding)
    val probes = Seq("table value part", "fast spark a", "zz absent phrase", "",
      "table value part")
    val probeArr = array(probes.map(lit): _*)
    val toks = Tables.load(spark, sf, "documents").limit(300)
      .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
      // short-doc edge: truncate some token arrays below k
      .withColumn("toks", when(col("doc_id") % 7 === 0, slice(col("toks"), 1, 2))
        .otherwise(col("toks")))
    val sh = TA.shinglesOf(col("toks"), 3)
    val hof = struct(size(array_intersect(sh, probeArr)).cast("long").as("hits"),
      size(sh).cast("long").as("nsh"))
    val native = call_function("graft_shingle_stats", col("toks"), probeArr, lit(3))
    val diff = toks.select((hof === native).as("same")).filter(!col("same")).count()
    assert(diff == 0, "shingle stats native/HOF mismatch")
  }

  test("native repetition stats match the sort/distinct formulation exactly") {
    import graft.functions.{TextAnalysis => TA}
    val toks = Tables.load(spark, sf, "documents").limit(300)
      .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
      // edges: empty and single-token arrays
      .withColumn("toks",
        when(col("doc_id") % 11 === 0, array().cast("array<string>"))
          .when(col("doc_id") % 7 === 0, slice(col("toks"), 1, 1))
          .otherwise(col("toks")))
    // the column formulation, inlined (repetitionMetrics now dispatches native)
    val n = size(col("toks"))
    val nd = size(array_distinct(col("toks")))
    val bg = when(n >= 2, transform(sequence(lit(1), n - 1),
      i => concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1))))
      .otherwise(array().cast("array<string>"))
    val nb = size(bg)
    val nbd = size(array_distinct(bg))
    def maxRun(sorted: org.apache.spark.sql.Column) = aggregate(sorted,
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (st, x) => {
        val run = when(x === st.getField("prev"), st.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(st.getField("best"), run).as("best"))
      }, st => st.getField("best"))
    val hof = struct(
      n.cast("long").as("n_tokens"),
      ((n - nd).cast("double") / greatest(n, lit(1)).cast("double"))
        .as("dup_token_fraction"),
      (maxRun(array_sort(col("toks"))).cast("double") /
        greatest(n, lit(1)).cast("double")).as("top_token_fraction"),
      (maxRun(array_sort(bg)).cast("double") /
        greatest(nb, lit(1)).cast("double")).as("top_bigram_fraction"),
      ((nb - nbd).cast("double") / greatest(nb, lit(1)).cast("double"))
        .as("dup_bigram_fraction"))
    val native = call_function("graft_repetition_stats", col("toks"))
    val diff = toks.select((hof === native).as("same")).filter(!col("same")).count()
    assert(diff == 0, "repetition stats native/HOF mismatch")
  }

  test("native parse_ipv6 matches the HOF chain on canonical/edge forms") {
    import graft.functions.KqlFunctions
    val cases = Seq(
      "2001:0db8:85a3:0000:0000:8a2e:0370:7334", "2001:db8::1", "::1", "::",
      "a::b", "A::B", "  fe80::1  ", "1:2:3:4:5:6:7:8", "1:2:3:4:5:6:7:8:9",
      "a::b::c", "::fffff", "1:2:3:4:5:6:7", "g::1", "2001:db8:::1",
      "1:2:3:4:5:6:7::", "::2:3:4:5:6:7:8", "", ":", "::::", "0:0:0:0:0:0:0:0")
    val df = cases.toDF("s")
    val out = df.select(
      (KqlFunctions.parseIpv6Hof(col("s")) <=>
        call_function("graft_parse_ipv6", col("s"))).as("same"),
      col("s")).collect()
    assert(out.forall(_.getBoolean(0)),
      "parse_ipv6 native/HOF mismatch on: " +
        out.filterNot(_.getBoolean(0)).map(_.getString(1)).mkString(", "))
  }

  test("native ipv4 pack matches the split chain on valid and invalid forms") {
    import graft.functions.KqlFunctions
    // the HOF chain casts octet strings to int, which raises under ANSI for
    // non-numeric text — so the parity corpus is numeric-shaped; the kernel's
    // extra leniency (null on letters) is covered by the kernel-only block
    val cases = Seq(
      "10.1.2.3", "0.0.0.0", "255.255.255.255", "10.1.2.3/24", "10.1.2.3/0",
      "10.1.2.3/32", "192.168.001.002", "1.2.3.4/8", "1.2.3.4/33", "1.2.3",
      "1.2.3.4.5", "256.1.2.3", "1.2.3.999", "10.1.2.3/24/9", " 10 .1.2.3",
      "1.2.3.4/05", "",
      // cast-shape forms the string→int fallback accepts: signs, leading
      // zeros of any length, the -0 oddity, long-castable big octets
      // (bits overflowing INT would RAISE in the fallback's ANSI cast —
      // kernel-only leniency, covered below)
      "+1.2.3.4", "1.+2.3.4", "1.2.3.4/+8", "0000000010.1.2.3",
      "1.2.3.4/0000000010", "-0.1.2.3", "-1.2.3.4", "1.2.3.4/-0",
      "999999999999.1.2.3")
    val df = cases.toDF("s")
    val out = df.select(
      (KqlFunctions.parseIpv4Hof(col("s")) <=>
        shiftright(call_function("graft_ipv4_pack", col("s")), 6)).as("same"),
      col("s")).collect()
    assert(out.forall(_.getBoolean(0)),
      "ipv4 native/HOF mismatch on: " +
        out.filterNot(_.getBoolean(0)).map(_.getString(1)).mkString(", "))
    // packed suffix readout + kernel-only leniency (letters and INT-overflow
    // bits → null where the fallback's ANSI cast raises)
    val k = Seq("10.1.2.3/24", "10.1.2.3", "a.b.c.d", "10.1.2.3/ab",
      "1.2.3.4/999999999999").toDF("s")
      .select(call_function("graft_ipv4_pack", col("s")).as("p"))
      .select(col("p").bitwiseAND(lit(63L)), col("p").isNull).collect()
    assert(k(0).getLong(0) == 24L && k(1).getLong(0) == 32L)
    assert(k(2).isNullAt(0) && k(3).isNullAt(0) && k(4).isNullAt(0))
  }

  test("native geohash center matches the per-bit fold fallback bit-for-bit") {
    import graft.functions.KqlFunctions
    // the REAL fallback (KqlFunctions.geohashCenterHof — the chain the
    // no-extension path evaluates), not a re-derivation of the kernel
    val cases = Seq("9q8yyk", "u", "zzzzzzzzzz", "0000000000", "s000", "gbsuv7")
    val out = cases.toDF("g").select(col("g"),
      (call_function("graft_geohash_center", col("g")) <=>
        KqlFunctions.geohashCenterHof(col("g"))).as("same"))
      .collect()
    assert(out.forall(_.getBoolean(1)),
      "geohash center native/HOF mismatch on: " +
        out.filterNot(_.getBoolean(1)).map(_.getString(0)).mkString(", "))
    // invalid chars: kernel → null struct, fallback → struct with null
    // fields — the SAME observable through the .lng/.lat accessors every
    // caller uses (documented posture)
    val bad = Seq("9q8yyA", "a!").toDF("g").select(
      call_function("graft_geohash_center", col("g")).getField("lng").as("n1"),
      KqlFunctions.geohashCenterHof(col("g")).getField("lng").as("n2"))
      .collect()
    assert(bad.forall(r => r.isNullAt(0) && r.isNullAt(1)))
  }

  test("ivf probes kernel matches the reference scan, order and ties") {
    val rnd = new scala.util.Random(53)
    val dim = 16
    val centroids = Array.fill(24)(Array.fill(dim)(rnd.nextFloat() * 2 - 1))
    // include exact duplicate centroids so the lower-id tie-break is exercised
    centroids(7) = centroids(3).clone()
    centroids(19) = centroids(3).clone()
    val vecs: Seq[Seq[java.lang.Float]] =
      Seq.fill(40)(Seq.fill[java.lang.Float](dim)(rnd.nextFloat() * 2 - 1)) ++ Seq(
        Seq.fill[java.lang.Float](dim)(0f), // zero vector: every score is −bias
        null, // null vector: null result
        // NaN element: every score is NaN, which orders largest
        Seq.fill[java.lang.Float](dim)(Float.NaN),
        Seq[java.lang.Float](1f, null, 2f)) // null elements are skipped
    val df = vecs.toDF("v").select(col("v").cast("array<float>").as("v"))
    val cents = IvfOracles.arrayData(centroids)
    Seq(1, 2, 4, 30).foreach { n =>
      // through the session's whole-stage codegen path
      val out = df.select(col("v"),
        graft.functions.Similarity.ivfProbes(col("v"), centroids, n))
        .collect()
      out.foreach { r =>
        if (r.isNullAt(0)) assert(r.isNullAt(1), s"null vector probed at nProbe=$n")
        else {
          val v = new org.apache.spark.sql.catalyst.util.GenericArrayData(
            r.getSeq[java.lang.Float](0).map(x => x: Any).toArray)
          val want = IvfOracles.probes(v, cents, n).array.toSeq
          assert(r.getSeq[Int](1) == want,
            s"ivf probes diverged at nProbe=$n for ${r.get(0)}")
        }
      }
    }
  }

  test("ivf probes kernel equals the reference scan on non-finite, null and tied inputs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    import graft.plans.{IvfProbesPrunedExpr, IvfPruned}
    // few distinct values, so duplicate centroids and exact score ties occur
    val finite = Gen.oneOf(-1f, -0.5f, 0f, 0.5f, 1f, 2f)
    val elem: Gen[java.lang.Float] = Gen.frequency(
      12 -> finite.map(x => x: java.lang.Float),
      1 -> Gen.const(Float.NaN: java.lang.Float),
      1 -> Gen.const(Float.PositiveInfinity: java.lang.Float),
      1 -> Gen.const(Float.NegativeInfinity: java.lang.Float),
      1 -> Gen.const(null: java.lang.Float))
    val dim = 6
    val vec: Gen[Array[java.lang.Float]] = Gen.frequency(
      8 -> Gen.listOfN(dim, elem).map(_.toArray),
      1 -> Gen.const(Array.fill[java.lang.Float](dim)(0f)),
      1 -> Gen.const(null: Array[java.lang.Float]))
    val vecType = ArrayType(FloatType, containsNull = true)
    def caseFor(k: Int): Gen[(Array[Array[Float]], Int, List[Array[java.lang.Float]])] =
      for {
        distinct <- Gen.choose(1, math.min(k, 40))
        base <- Gen.listOfN(distinct, Gen.listOfN(dim, finite).map(_.toArray))
        picks <- Gen.listOfN(k, Gen.choose(0, distinct - 1))
        nProbe <- Gen.oneOf(0, 1, k, k + 1)
        vecs <- Gen.listOfN(6, vec)
      } yield (picks.map(i => base(i).clone()).toArray, nProbe, vecs)
    Seq(1 -> 40, 2 -> 40, 32 -> 30, 2080 -> 6).foreach { case (k, runs) =>
      val prop = Prop.forAll(caseFor(k)) { case (centroids, nProbe, vecs) =>
        // the model Similarity.ivfProbes builds
        val (supers, gid) = graft.functions.Similarity.superGroups(centroids)
        val model = IvfPruned.build(centroids, supers, gid)
        val cents = IvfOracles.arrayData(centroids)
        vecs.forall { v =>
          val data = if (v == null) null
            else new org.apache.spark.sql.catalyst.util.GenericArrayData(
              v.map(x => x: Any))
          val got = IvfProbesPrunedExpr(Literal(data, vecType), model, nProbe)
            .eval(null)
          if (data == null) got == null
          else got.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            .toIntArray().toSeq == IvfOracles.probes(data, cents, nProbe).array.toSeq
        }
      }
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(runs), prop)
      assert(res.passed, s"k=$k: ${res.status}")
    }
  }

  test("ivf probe models reject null, ragged and non-finite centroid rows by index") {
    val good = Array(Array(1f, 0f), Array(0f, 1f))
    Seq(
      (good :+ null.asInstanceOf[Array[Float]], "row 2 is null"),
      (good :+ Array(1f), "row 2 has 1 elements"),
      (Array(Array(0f, 0f), Array(Float.NaN, 0f)) ++ good, "row 1 has a non-finite"),
      (good ++ good :+ Array(0f, Float.PositiveInfinity), "row 4 has a non-finite"),
      (good :+ Array(Float.NegativeInfinity, 0f), "row 2 has a non-finite")
    ).foreach { case (bad, msg) =>
      val e = intercept[IllegalArgumentException](
        graft.functions.Similarity.ivfProbes(col("v"), bad, 1))
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    val empty = intercept[IllegalArgumentException](
      graft.functions.Similarity.ivfProbes(col("v"), Array.empty[Array[Float]], 1))
    assert(empty.getMessage.contains("no rows"), empty.getMessage)
  }

  test("ivf probes over equal centroid matrices build sameResult plans") {
    val rnd = new scala.util.Random(11)
    val centroids = Array.fill(48)(Array.fill(8)(rnd.nextFloat()))
    val copy = centroids.map(_.clone())
    val df = Seq(Seq.fill(8)(0.5f)).toDF("v")
    def plan(c: Array[Array[Float]]) = df.select(
      graft.functions.Similarity.ivfProbes(col("v"), c, 2).as("p"))
      .queryExecution.analyzed
    assert(plan(centroids).sameResult(plan(copy)),
      "equal matrices must canonicalize equal")
    copy(5)(3) += 1f
    assert(!plan(centroids).sameResult(plan(copy)),
      "different matrices must not canonicalize equal")
  }

  test("empty and null-element arrays evaluate safely") {
    val df = Seq(
      (Array.empty[Float], Array.empty[Float]),
      (Array(1f, 2f), Array(3f, 4f))).toDF("a", "b")
    val r = df.select(call_function(NativeExpressions.dotName, col("a"), col("b")))
      .as[Double].collect()
    assert(r.toSeq == Seq(0.0, 11.0))
    val s = Seq(Seq(3L), Seq.empty[Long]).toDF("h")
      .select(call_function(NativeExpressions.simhashName, col("h")))
      .as[Long].collect()
    assert(s.toSeq == Seq(3L, 0L))
  }

  test("native span hashes match the md5 column formulation bit-for-bit") {
    import graft.functions.{Dedup, TextAnalysis => TA}
    val k = 5
    val toks = Tables.load(spark, sf, "documents").limit(300)
      .select(col("doc_id"), TA.tokens(lower(col("text"))).as("t"))
      // edges: short docs (below k), empty arrays, null elements mid-window,
      // NULL arrays (both forms must propagate null, not coerce to empty)
      .withColumn("t",
        when(col("doc_id") % 17 === 0, lit(null).cast("array<string>"))
          .when(col("doc_id") % 13 === 0, slice(col("t"), 1, 3))
          .when(col("doc_id") % 11 === 0, array().cast("array<string>"))
          .when(col("doc_id") % 7 === 0,
            concat(slice(col("t"), 1, 4), array(lit(null).cast("string")),
              slice(col("t"), 5, 8)))
          .otherwise(col("t")))
    val n = size(col("t"))
    // the column fallback formulation (Dedup.spanHashes' non-native branch)
    val hof = when(n >= k,
      transform(sequence(lit(0), n - k),
        i => struct(i.as("pos"),
          Dedup.portableHash60(array_join(slice(col("t"), i + 1, lit(k)), " ")).as("h"))))
      .when(col("t").isNotNull, array().cast("array<struct<pos:int,h:bigint>>"))
    val native = call_function("graft_span_hashes", col("t"), lit(k))
    val diff = toks.select((hof <=> native).as("same")).filter(!col("same")).count()
    assert(diff == 0, "span hashes native/HOF mismatch")
  }

  test("span kernels are safe standalone: null array, k < 1, n < k") {
    // graft_span_hashes: null toks → null; k < 1 → empty (never md5(''))
    val r = spark.sql(
      """SELECT graft_span_hashes(CAST(NULL AS ARRAY<STRING>), 3) AS a,
        |  graft_span_hashes(array('x','y'), 0) AS b,
        |  graft_span_hashes(array('x','y'), 5) AS c,
        |  graft_span_dup_stats(0, 3, CAST(array() AS ARRAY<INT>)) AS d,
        |  graft_span_dup_stats(1, 3, array(0)) AS e,
        |  graft_span_dup_stats(5, 0, CAST(array() AS ARRAY<INT>)) AS f""".stripMargin).head()
    assert(r.isNullAt(0), "null token array must yield null span table")
    assert(r.getSeq[Any](1).isEmpty, "k<1 must yield an empty span table")
    assert(r.getSeq[Any](2).isEmpty, "n<k must yield an empty span table")
    for (i <- 3 to 5)
      assert(r.getStruct(i).getLong(0) == 0L && r.getStruct(i).getLong(1) == 0L,
        s"degenerate span stats must be (0,0), got ${r.getStruct(i)}")
  }

  test("native span dup stats match the filter/flatten formulation") {
    val k = 3
    // kept sets incl. empty, full, out-of-order, and boundary positions
    val df = Seq(
      (10, Seq(0, 7, 3)),
      (10, Seq.empty[Int]),
      (10, (0 to 7).toSeq),
      (3, Seq(0)),
      (4, Seq(1)),
      (7, Seq(4, 0))).toDF("n", "kept")
    val dupPos = filter(sequence(lit(0), col("n") - k),
      p => !array_contains(col("kept"), p))
    val hof = struct(
      size(dupPos).cast("long").as("dup"),
      size(array_distinct(flatten(transform(dupPos,
        p => sequence(p, p + (k - 1)))))).cast("long").as("rem"))
    val native = call_function("graft_span_dup_stats", col("n"), lit(k), col("kept"))
    val diff = df.select((hof === native).as("same")).filter(!col("same")).count()
    assert(diff == 0, "span dup stats native/HOF mismatch")
  }
}
