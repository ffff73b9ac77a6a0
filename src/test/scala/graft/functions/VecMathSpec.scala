package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The fused vector folds must be BIT-IDENTICAL to the zip_with +
  * aggregate composites they replaced (same left-to-right IEEE
  * order) — that equivalence is what keeps every DuckDB oracle in
  * the embedding family valid.
  */
class VecMathSpec extends SparkSpec {
  import spark.implicits._

  // deterministic pseudo-random float vectors (values exercise
  // non-associativity: widely varying magnitudes)
  private def vecs = (0 until 50).map { i =>
    (i.toLong, (0 until 64).map(j =>
      (math.sin(i * 64 + j) * math.pow(10, (i + j) % 7 - 3)).toFloat))
  }.toDF("id", "v")

  test("vec_dot / vec_norm bit-equal to the composite folds on float arrays") {
    val both = vecs.crossJoin(vecs.select(col("id").as("id2"), col("v").as("w")))
      .filter(col("id") < col("id2"))
      .select(
        VecMath.vec_dot(col("v"), col("w")).as("fused"),
        expr("""aggregate(zip_with(v, w, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
               |CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin).as("composite"),
        VecMath.vec_norm(col("v")).as("nrm_fused"),
        expr("""sqrt(aggregate(v, CAST(0 AS DOUBLE),
               |(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))""".stripMargin)
          .as("nrm_composite"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0))
        == java.lang.Double.doubleToLongBits(r.getDouble(1)), "dot diverged")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2))
        == java.lang.Double.doubleToLongBits(r.getDouble(3)), "norm diverged")
    }
  }

  test("vec_sq_dist bit-equal to the composite on double arrays") {
    val d = vecs.select(col("id"),
      expr("transform(v, x -> CAST(x AS DOUBLE))").as("v"))
    val both = d.crossJoin(d.select(col("id").as("id2"), col("v").as("w")))
      .filter(col("id") < col("id2"))
      .select(
        VecMath.vec_sq_dist(col("v"), col("w")).as("fused"),
        expr("""aggregate(zip_with(v, w, (x, c) -> (x - c) * (x - c)),
               |CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin).as("composite"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0))
        == java.lang.Double.doubleToLongBits(r.getDouble(1)), "sq_dist diverged")
    }
  }

  test("length mismatch fails fast; nulls pass through the expression") {
    val df = Seq((Seq(1.0f, 2.0f), Seq(1.0f))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(VecMath.vec_dot(col("a"), col("b"))).collect()
    }
    assert(e.getMessage != null)
    val r = Seq((Some(Seq(1.0f, 2.0f)), Option.empty[Seq[Float]]))
      .toDF("a", "b")
      .select(VecMath.vec_dot(col("a"), col("b"))).collect()
    assert(r(0).isNullAt(0))
  }

  test("non-array and non-float/double array inputs fail at analysis, not runtime") {
    // r9 advice: a string column used to die with a ClassCastException
    // at plan time, and array<int> silently read int-packed bytes as
    // doubles (garbage). Both must now be clean analysis errors.
    val df = Seq((1L, "oops", Seq(1, 2, 3), Seq(1.0f, 2.0f, 3.0f)))
      .toDF("id", "s", "ints", "fs")
    for (bad <- Seq(col("s"), col("ints"))) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(VecMath.vec_dot(bad, col("fs"))).collect()
      }
      assert(e.getMessage.contains("array<float> or array<double>"), e.getMessage)
      val e2 = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(VecMath.vec_sq_dist(col("fs"), bad)).collect()
      }
      assert(e2.getMessage.contains("array<float> or array<double>"), e2.getMessage)
      val e3 = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(VecMath.vec_argmin(bad, Seq(7L -> Seq(0.0, 0.0, 0.0)))).collect()
      }
      assert(e3.getMessage.contains("array<float> or array<double>"), e3.getMessage)
      val e4 = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(VecMath.vec_nearest_indices(bad, Seq(Seq(0.0, 0.0, 0.0)), 1)).collect()
      }
      assert(e4.getMessage.contains("array<float> or array<double>"), e4.getMessage)
    }
    // vec_argmin's candidate subset must be array<int>
    val e5 = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(VecMath.vec_argmin(col("fs"), Seq(7L -> Seq(0.0, 0.0, 0.0)),
        col("fs"))).collect()
    }
    assert(e5.getMessage.contains("array<int> candidates"), e5.getMessage)
    // the valid element types still pass analysis
    df.select(VecMath.vec_dot(col("fs"), col("fs"))).collect()
  }

  /** `q` run twice — expressions generated (CODEGEN_ONLY, whole-stage)
    * and interpreted (NO_CODEGEN) — asserting both give the same rows.
    * Inputs must come from a checkpointed frame, or the optimizer folds
    * the projection over a local relation and evaluates it interpreted
    * in both runs. */
  private def bothModes(q: => DataFrame): Seq[Row] = {
    def run(wholeStage: Boolean, mode: String): Seq[Row] = {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try q.collect().toSeq
      finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    val gen = run(wholeStage = true, "CODEGEN_ONLY")
    val interp = run(wholeStage = false, "NO_CODEGEN")
    assert(gen == interp, "codegen and interpreted vec_argmin disagree")
    gen
  }

  /** The per-candidate literal vec_argmin replaced: the lexicographic
    * min of struct(round(vec_sq_dist, 6), id). */
  private def literalArgmin(v: Column, model: Seq[(Long, Seq[Double])]): Column =
    array_min(array(model.map { case (id, cv) =>
      struct(round(VecMath.vec_sq_dist(v, typedLit(cv)), 6).as("dist"),
        lit(id).as("id"))
    }: _*)).getField("id")

  test("vec_argmin: ties to lowest id with unsorted ids, codegen runs") {
    // ids deliberately out of scan order: 9 and 4 share a centroid
    val model = Seq(9L -> Seq(10.0, 0.0), 0L -> Seq(0.0, 0.0), 4L -> Seq(10.0, 0.0))
    val df = Seq(
      (0L, Seq(1.0, 0.0)),   // nearest 0
      (1L, Seq(9.0, 0.0)),   // 9 and 4 tie → 4
      (2L, Seq(10.0, 0.0)),  // exact hit on 9 and 4 → 4
      (3L, Seq(5.0, 0.0))    // equidistant from all three → 0
    ).toDF("id", "v").localCheckpoint()
    val out = bothModes(df.select(col("id"),
        VecMath.vec_argmin(col("v"), model).as("n")))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 0L, 1L -> 4L, 2L -> 4L, 3L -> 0L))
    // the subset form ranks only the listed model positions
    val sub = bothModes(df.select(col("id"), VecMath.vec_argmin(col("v"), model,
        typedLit(Seq(0, 2))).as("n")))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sub == Map(0L -> 4L, 1L -> 4L, 2L -> 4L, 3L -> 4L))
  }

  test("vec_argmin: rounding is Spark's round(_, 6) on half-way and random doubles") {
    // decimal half-way points, where HALF_UP on the shortest decimal
    // and Math.round(d * 1e6) part ways, plus random magnitudes
    val rnd = new scala.util.Random(7)
    val halfway = Seq(0.0000005, 1.0000005, 0.1234565, 2.6750005, 0.0000045,
      123456.0000005, 0.0000015, 3.0000035, 0.0000025, 0.0001245, 0.0004955,
      1.0000025, 1.0000075)
    val random = Seq.fill(2000)(rnd.nextDouble() * math.pow(10, rnd.nextInt(13) - 6))
    val ds = halfway ++ random ++ Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 0.0, Double.MinPositiveValue, Double.MaxValue)
    val spark6 = bothModes(ds.toDF("d").localCheckpoint().select(round(col("d"), 6)))
      .map(_.getDouble(0))
    ds.zip(spark6).foreach { case (d, r) =>
      assert(java.lang.Double.doubleToLongBits(VecMath.round6(d)) ==
        java.lang.Double.doubleToLongBits(r), s"round6($d) = ${VecMath.round6(d)}, Spark $r")
    }
    assert(halfway.exists(d => math.round(d * 1e6) / 1e6 != VecMath.round6(d)),
      "half-way set no longer separates round6 from Math.round(d * 1e6)")
    // through vec_argmin: two candidates at half-way-apart distances
    // 1-D, v = 0: distance = c², so c = √d puts a candidate at d
    val cases = halfway.map { d =>
      val lo = math.floor(d * 1e6) / 1e6 // the 6-dp value just below d
      (d, Seq(1L -> Seq(math.sqrt(d)), 0L -> Seq(math.sqrt(lo))))
    }
    cases.foreach { case (d, model) =>
      val v = Seq(Tuple1(Seq(0.0))).toDF("v").localCheckpoint()
      val got = bothModes(v.select(VecMath.vec_argmin(col("v"), model),
        literalArgmin(col("v"), model)))
      assert(got.head.getLong(0) == got.head.getLong(1), s"diverged at d = $d")
    }
  }

  test("vec_argmin: equals the per-candidate literal on near-ties, float and double inputs") {
    val rnd = new scala.util.Random(11)
    // coordinates on a 0.0005 grid: many exact and 6-dp distance ties
    def q(): Double = (rnd.nextInt(41) - 20) * 0.0005
    val model = new scala.util.Random(3).shuffle((0 until 12).map(i =>
      (i * 7L % 13, Seq.fill(3)(q()))))
    val df = (0 until 300).map(i => (i.toLong, Seq.fill(3)(q().toFloat)))
      .toDF("id", "vf").localCheckpoint()
      .withColumn("vd", expr("transform(vf, x -> CAST(x AS DOUBLE))"))
    val rows = bothModes(df.select(
      VecMath.vec_argmin(col("vf"), model), VecMath.vec_argmin(col("vd"), model),
      literalArgmin(col("vd"), model)))
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(2) && r.getLong(1) == r.getLong(2), r.toString)
    }
    assert(rows.map(_.getLong(0)).distinct.size > 3, "fixture routes too few ids")
  }

  test("vec_argmin: NaN and ±∞ pass through, empty candidate sets and null vectors give NULL") {
    val model = Seq(3L -> Seq(0.0, 0.0), 1L -> Seq(1.0, 1.0),
      0L -> Seq(Double.PositiveInfinity, 0.0))
    val df = Seq(
      (0L, Some(Seq(Double.NaN, 0.0))),               // all NaN → lowest id
      (1L, Some(Seq(Double.PositiveInfinity, 0.0))),  // ∞ − ∞ = NaN sorts after ∞
      (2L, Some(Seq(Double.NegativeInfinity, 0.0))),  // all +∞ → lowest id
      (3L, Some(Seq(0.5, 0.5))),                      // 0.5 vs 0.5 vs ∞ → 1
      (4L, None)
    ).toDF("id", "v").localCheckpoint()
    val rows = bothModes(df.select(col("id"),
        VecMath.vec_argmin(col("v"), model), literalArgmin(col("v"), model),
        VecMath.vec_argmin(col("v"), Nil),
        VecMath.vec_argmin(col("v"), model, typedLit(Seq.empty[Int]))))
      .sortBy(_.getLong(0))
    assert(rows.take(4).map(_.getLong(1)) == Seq(0L, 1L, 0L, 1L))
    rows.take(4).foreach(r => assert(r.getLong(1) == r.getLong(2), r.toString))
    assert(rows(4).isNullAt(1), "null vector must give NULL")
    rows.foreach(r => assert(r.isNullAt(3) && r.isNullAt(4),
      "empty candidate set must give NULL"))
    // length mismatch is corruption: fail, never route
    intercept[Exception] {
      Seq(Tuple1(Seq(1.0))).toDF("v").localCheckpoint()
        .select(VecMath.vec_argmin(col("v"), model)).collect()
    }
  }
}
