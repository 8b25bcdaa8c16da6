package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{AsofJoin, NearestJoin, Stencil, Idw}

/** A1 IDW invariants (SURVEY.md §5.3 item 3). */
class IdwSpec extends SparkSpec {

  private def idwOf(rows: Seq[(Long, Option[Double], Double)]): Option[Double] = {
    import spark.implicits._
    val out = rows.toDF("g", "v", "d")
      .groupBy($"g").agg(Idw.idw($"v", $"d").as("idw"))
      .collect()
    if (out.head.isNullAt(1)) None else Some(out.head.getDouble(1))
  }

  test("equal distances → plain mean") {
    val got = idwOf(Seq((1L, Some(10.0), 2.0), (1L, Some(20.0), 2.0), (1L, Some(30.0), 2.0)))
    assert(math.abs(got.get - 20.0) < 1e-9)
  }

  test("null neighbors contribute neither value nor weight (nansum parity)") {
    // null at tiny distance must NOT drag the normalizer (§7.4 trap 1)
    val got = idwOf(Seq((1L, None, 0.001), (1L, Some(10.0), 5.0), (1L, Some(20.0), 5.0)))
    assert(math.abs(got.get - 15.0) < 1e-9)
  }

  test("distance → 0 converges to nearest value (given eps)") {
    val got = idwOf(Seq((1L, Some(42.0), 0.0), (1L, Some(100.0), 10.0)))
    assert(math.abs(got.get - 42.0) < 1e-3)
  }

  test("all-null group → null (np.nansum 0/0)") {
    assert(idwOf(Seq((1L, None, 1.0), (1L, None, 2.0))).isEmpty)
  }

  test("weights sum to 1 implicitly: IDW of constant field = constant") {
    val got = idwOf(Seq((1L, Some(7.5), 0.3), (1L, Some(7.5), 1.7), (1L, Some(7.5), 9.9)))
    assert(math.abs(got.get - 7.5) < 1e-9)
  }

  test("reference-parity IDW: a null neighbor still weighs the denominator (golden)") {
    import spark.implicits._
    // two valid neighbors at d=1 (v=10, v=20) and one MASKED neighbor at
    // d=1: reference np.nansum semantics (trackplot_hycom.py:32-34) keep
    // the masked neighbor's weight in the denominator:
    //   num = w*10 + w*20, den = 3w  ->  10.0   (w equal at equal d)
    // while the default renormalized idw gives (10+20)/2 = 15.0
    val rows = Seq((1L, Some(10.0), 1.0), (1L, Some(20.0), 1.0),
      (1L, Option.empty[Double], 1.0)).toDF("g", "v", "d")
    val r = rows.groupBy($"g")
      .agg(Idw.idwReferenceParity($"v", $"d").as("ref"), Idw.idw($"v", $"d").as("renorm"))
      .collect().head
    assert(math.abs(r.getDouble(1) - 10.0) < 1e-9)
    assert(math.abs(r.getDouble(2) - 15.0) < 1e-9)
  }

  test("nearest mode picks closest non-null neighbor") {
    import spark.implicits._
    val out = Seq((1L, Option.empty[Double], 0.1), (1L, Some(5.0), 1.0), (1L, Some(9.0), 2.0))
      .toDF("g", "v", "d")
      .groupBy($"g").agg(Idw.nearestValue($"v", $"d").as("nv"))
      .collect()
    assert(out.head.getDouble(1) === 5.0)
  }

  test("Polyfit: exact deg-2 and deg-3 recovery; singular x -> null coeffs") {
    import spark.implicits._
    import graft.ops.Polyfit
    // y = 2 - 3x + 0.5x² exactly, two groups
    val df = (for (g <- Seq("a", "b"); i <- 0 until 40) yield {
      val x = i * 0.25
      (g, x, 2.0 - 3.0 * x + 0.5 * x * x)
    }).toDF("g", "x", "y")
    val got = Polyfit.fit(df, Seq("g"), $"x", $"y", 2)
      .select($"g", $"coeffs").as[(String, Seq[Double])].collect().toMap
    Seq("a", "b").foreach { g =>
      val c = got(g)
      assert(math.abs(c(0) - 2.0) < 1e-8 && math.abs(c(1) + 3.0) < 1e-8 &&
        math.abs(c(2) - 0.5) < 1e-8, s"$g -> $c")
    }
    // deg-3: y = 1 + x - 2x² + 0.125x³
    val df3 = (0 until 50).map { i =>
      val x = i * 0.2 - 5
      ("g", x, 1.0 + x - 2.0 * x * x + 0.125 * x * x * x)
    }.toDF("g", "x", "y")
    val c3 = Polyfit.fit(df3, Seq("g"), $"x", $"y", 3)
      .select($"coeffs").as[Seq[Double]].head()
    assert(Seq(1.0, 1.0, -2.0, 0.125).zip(c3).forall { case (e, a) => math.abs(e - a) < 1e-7 }, c3)
    // all x equal -> singular normal equations -> null, not garbage
    val bad = Seq(("g", 1.0, 1.0), ("g", 1.0, 2.0)).toDF("g", "x", "y")
    assert(Polyfit.fit(bad, Seq("g"), $"x", $"y", 2).select($"coeffs").collect().head.isNullAt(0))
  }

  test("OLS slope/intercept recover an exact linear relation") {
    import spark.implicits._
    // y = 1/24 x + 730120 — the notebook's polyfit ground truth shape
    // (TrackPlotter_Hycom.ipynb cell-17: [4.16667e-2, 7.3012e5])
    val xs = (145770L to 146250L by 6).map(_.toDouble)
    val df = xs.map(x => (x, x / 24.0 + 730120.0)).toDF("x", "y")
    val r = df.agg(Idw.olsSlope($"x", $"y"), Idw.olsIntercept($"x", $"y")).collect().head
    assert(math.abs(r.getDouble(0) - 1.0 / 24.0) < 1e-9)
    assert(math.abs(r.getDouble(1) - 730120.0) < 1e-4)
  }
}

/** J1 snap + J2 as-of + J3 stencil semantics. */
class JoinOpsSpec extends SparkSpec {

  test("snapRegular: nearest cell, clamped at bounds") {
    import spark.implicits._
    val df = Seq(10.0, 10.19, 10.21, 40.0, 9.0, 41.0).toDF("x")
    val got = NearestJoin.snapRegular(df, $"x", 10.0, 0.4, 76, "g")
      .select($"g_idx", $"g_snap").as[(Int, Double)].collect().toSeq
    assert(got === Seq((0, 10.0), (0, 10.0), (1, 10.4), (75, 40.0), (0, 10.0), (75, 40.0)))
    // far outside the axis: clamped like any out-of-range value, never an
    // int-cast overflow; null, NaN and ±Inf snap to null, not to cell 0
    val odd = Seq(Some(1e12), Some(-1e12), Some(Double.NaN), Some(Double.PositiveInfinity),
      Some(Double.NegativeInfinity), None).toDF("x")
    val oddGot = NearestJoin.snapRegular(odd, $"x", 10.0, 0.4, 76, "g")
      .select($"g_idx", $"g_snap").as[(Option[Int], Option[Double])].collect().toSeq
    assert(oddGot === Seq((Some(75), Some(40.0)), (Some(0), Some(10.0))) ++
      Seq.fill(4)((None, None)))
  }

  test("nearest1d: binary-search join == brute-force (dist, key) argmin, incl. ties") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // axis with DUPLICATE values (key reduction) and fact points ON
    // midpoints (tie-break) and outside the axis range (clamp)
    val axis = ((0 until 50).map(i => (i.toLong + 100, rnd.nextInt(20) * 0.5)) ++
      Seq((900L, 3.25), (901L, 3.25))).toDF("k", "v")
    val facts = ((0 until 400).map(i => (i.toLong, rnd.nextDouble() * 12 - 1)) ++
      Seq((1000L, 3.375), (1001L, -50.0), (1002L, 50.0))).toDF("id", "x")
    def nearest(facts: DataFrame, axis: DataFrame): Map[Long, Long] =
      NearestJoin.nearest1d(facts, $"x", axis, "k", "v", "nk")
        .select($"id", $"nk").as[(Long, Long)].collect().toMap
    def brute(facts: DataFrame, axis: DataFrame): Map[Long, Long] = facts.crossJoin(axis)
      .groupBy($"id")
      .agg(min_by(struct($"k"), struct(abs($"x" - $"v"), $"k")).getField("k").as("nk"))
      .select($"id", $"nk").as[(Long, Long)].collect().toMap
    assert(nearest(facts, axis) === brute(facts, axis))
    // axis values 5 and 10: x = 7.5 ties, and the first index wins
    // (the reference's strict-< argmin, §7.4 trap 2)
    val pair = Seq((0L, 5.0), (1L, 10.0)).toDF("k", "v")
    val mid = Seq((1L, 5.0), (2L, 7.5), (3L, 100.0)).toDF("id", "x")
    assert(nearest(mid, pair) === Map(1L -> 0L, 2L -> 0L, 3L -> 1L))
    assert(brute(mid, pair) === nearest(mid, pair))
    // plan: no shuffle of the fact side, kernel inside codegen
    val plan = NearestJoin.nearest1d(facts, $"x", axis, "k", "v", "nk")
      .queryExecution.executedPlan.toString
    assert(plan.contains("nearest1d_key"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
  }

  test("asof nearestBroadcast: nearest time, first-index tie-break") {
    import spark.implicits._
    val track = Seq((0L, 145769L), (1L, 145773L), (2L, 145790L)).toDF("point_id", "hour")
    val axis = Seq((0, 145770L), (1, 145776L), (2, 145782L)).toDF("i", "t")
    val got = AsofJoin.nearestBroadcast(track, Seq("point_id"), "hour", axis, "i", "t", "g")
      .select($"point_id", $"g_t").as[(Long, Long)].collect().sortBy(_._1).toSeq
    // 145773 is equidistant to 145770/145776 → first index wins
    assert(got === Seq((0L, 145770L), (1L, 145770L), (2L, 145782L)))
  }

  test("asof nearestBroadcast == driver (|x - t|, idx) argmin (seeded property)") {
    import org.scalacheck.{Gen, Prop, Test => Check}
    import org.scalacheck.Prop.propBoolean
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // Axis values are `base + k * step` for a few k in [-6, 6] in random
    // order: unsorted, often duplicated. Probes land on the marks, on
    // exact midpoints (half steps), off the marks and outside the axis,
    // or are null. Two scales: small integers and epoch nanoseconds
    // 6 h apart (q77's axis).
    val caseGen = for {
      (base, step) <- Gen.oneOf((0L, 2L), (1704067200000000000L, 21600000000000L))
      n <- Gen.choose(1, 8)
      ks <- Gen.listOfN(n, Gen.choose(-6L, 6L))
      probes <- Gen.listOfN(12, Gen.frequency(
        1 -> Gen.const(None),
        3 -> Gen.choose(-16L, 16L).map(h => Some(base + h * step / 2)),
        2 -> Gen.choose(-16L * step, 16L * step).map(o => Some(base + o))))
    } yield (ks.zipWithIndex.map { case (k, i) => (i, base + k * step) }, probes)

    val prop = Prop.forAllNoShrink(caseGen) { case (axisRows, probes) =>
      val axis = spark.createDataFrame(axisRows).toDF("i", "t")
      // parallelize, not a local relation: the lookup runs in codegen
      // on executors instead of being folded on the driver
      val df = spark.sparkContext.parallelize(probes.zipWithIndex.map(_.swap), 2).toDF("id", "x")
      val got = AsofJoin.nearestBroadcast(df, Seq("id"), "x", axis, "i", "t", "g")
        .select($"id", $"g_idx", $"g_t").as[(Int, Option[Int], Option[Long])]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
      val want = probes.zipWithIndex.map { case (x, id) =>
        id -> x.fold((Option.empty[Int], Option.empty[Long])) { v =>
          val (i, t) = axisRows.minBy { case (i, t) => (math.abs(v.toDouble - t.toDouble), i) }
          (Some(i), Some(t))
        }
      }.toMap
      (got == want) :| s"axis $axisRows probes $probes: got $got want $want"
    }
    val res = Check.check(Check.Parameters.default
      .withInitialSeed(Seed(7L)).withMinSuccessfulTests(60).withWorkers(1), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("asofBackwardUnion: latest right value with rt <= lt per key") {
    import spark.implicits._
    val left = Seq(("a", 10L), ("a", 25L), ("b", 5L)).toDF("k", "t")
    val right = Seq(("a", 8L, 1.0), ("a", 20L, 2.0), ("b", 9L, 3.0)).toDF("k", "t", "v")
    val got = AsofJoin.asofBackwardUnion(left, right, Seq("k"), "t", Seq("v"))
      .select($"k", $"t", $"v").as[(String, Long, Option[Double])]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got === Seq(("a", 10L, Some(1.0)), ("a", 25L, Some(2.0)), ("b", 5L, None)))
  }

  test("stencil: 9 neighbors inside, trimmed at corners (no numpy wrap)") {
    import spark.implicits._
    val df = Seq((0, 0), (5, 5)).toDF("i", "j")
    val got = Stencil.expand(df, "i", "j", 10, 10)
    assert(got.filter($"i" === 5).count() === 9)
    assert(got.filter($"i" === 0).count() === 4)   // corner: (0,0) keeps 2x2
    assert(got.filter($"n_i" < 0 || $"n_j" < 0).count() === 0)
  }
}
