package graft.operators

import graft.SparkSpec
import graft.plans.PlanWalk
import org.apache.spark.sql.functions._

class PcaSpec extends SparkSpec {
  import spark.implicits._

  /** Single-node covariance + the same Jacobi — the fit reference. */
  private def referenceFit(rows: Seq[Array[Double]], k: Int)
      : (Array[Double], Array[Double]) = {
    val d = rows.head.length
    val n = rows.size.toDouble
    val mean = Array.tabulate(d)(i => rows.map(_(i)).sum / n)
    val cov = Array.tabulate(d, d)((i, j) =>
      rows.map(r => (r(i) - mean(i)) * (r(j) - mean(j))).sum / n)
    val (evals, _) = Pca.symEigen(cov)
    (mean, evals.sorted.reverse.take(k))
  }

  test("fit matches a single-node reference on known 2-D geometry") {
    // points along y = 2x with +-0.1 perpendicular jitter: top axis is
    // ~(1,2)/sqrt(5) and the second eigenvalue is tiny
    val pts = (-50 to 50).map { i =>
      val t = i / 10.0
      val j = if (i % 2 == 0) 0.1 else -0.1
      Array(t - 2 * j / math.sqrt(5), 2 * t + j / math.sqrt(5))
    }
    val df = pts.map(p => Tuple1(p)).toDF("emb")
    val model = Pca.fit(df, "emb", dim = 2, k = 2)
    val (refMean, refEvals) = referenceFit(pts, 2)
    model.mean.zip(refMean).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-8, s"mean $a vs $b") }
    model.eigenvalues.zip(refEvals).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-8, s"eigenvalue $a vs $b") }
    // top axis within 0.1% of the line direction (sign pinned positive)
    val axis = model.components(0)
    val want = Array(1.0 / math.sqrt(5), 2.0 / math.sqrt(5))
    val cos = axis(0) * want(0) + axis(1) * want(1)
    assert(cos > 0.999, s"top axis ${axis.toSeq} not aligned with line")
    assert(model.eigenvalues(0) > 100 * model.eigenvalues(1))
  }

  test("transform: pc variances equal eigenvalues; whitening normalizes them") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = Pca.fit(emb, "embedding", dim = 64, k = 4)
    // eigenvalues descending
    assert(model.eigenvalues.sliding(2).forall(w => w(0) >= w(1) - 1e-12))
    // axes orthonormal
    for (i <- model.components.indices; j <- i until model.components.length) {
      val d = model.components(i).zip(model.components(j))
        .map { case (a, b) => a * b }.sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(d - want) < 1e-8, s"axes $i,$j dot $d")
    }
    val out = Pca.transform(emb, "embedding", model)
    val vars = out.select(
      (0 until 4).map(i => var_pop(col(s"pc${i + 1}")).as(s"v$i")): _*)
      .head()
    (0 until 4).foreach { i =>
      val v = vars.getDouble(i)
      assert(math.abs(v - model.eigenvalues(i)) < 1e-6 * math.max(1.0, v),
        s"pc${i + 1} variance $v vs eigenvalue ${model.eigenvalues(i)}")
    }
    val white = Pca.transform(emb, "embedding", model, whiten = true)
      .agg(var_pop($"pc1"), var_pop($"pc4")).head()
    assert(math.abs(white.getDouble(0) - 1.0) < 1e-6)
    assert(math.abs(white.getDouble(1) - 1.0) < 1e-6)
  }

  test("transform is map-only: no exchange in the projection plan") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = Pca.fit(emb, "embedding", dim = 64, k = 2)
    val out = Pca.transform(emb, "embedding", model).select($"vec_id", $"pc1", $"pc2")
    assert(PlanWalk.shuffleExchangeCount(PlanWalk.finalPlan(out)) == 0,
      "projection must not shuffle")
  }

  test("gramianMicro ties the oracle gate to fit: derived model matches") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dim = 64
    val rows = Pca.gramianMicro(emb, "embedding", dim)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val n = rows((-1L, -1L)).toDouble
    assert(n == emb.count().toDouble)
    // de-quantize: mean and population covariance from the micro sums
    val mean = Array.tabulate(dim)(i => rows((i.toLong, -1L)) / 1e6 / n)
    val cov = Array.ofDim[Double](dim, dim)
    for (i <- 0 until dim; j <- i until dim) {
      val c = rows((i.toLong, j.toLong)) / 1e12 / n - mean(i) * mean(j)
      cov(i)(j) = c; cov(j)(i) = c
    }
    val (evals, _) = Pca.symEigen(cov)
    val model = Pca.fit(emb, "embedding", dim, k = 4)
    // quantization error is <=5e-7 per element; moments agree to ~1e-5
    model.mean.zip(mean).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-5, s"mean $a vs gramian-derived $b") }
    val top = evals.sorted.reverse.take(4)
    model.eigenvalues.zip(top).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-4 * math.max(1.0, math.abs(a)),
        s"eigenvalue $a vs gramian-derived $b") }
  }

  test("fit drops non-finite vectors instead of yielding a NaN model") {
    val good = (-50 to 50).map { i =>
      Tuple1(Array(i / 10.0, 2 * i / 10.0 + (if (i % 2 == 0) 0.1 else -0.1)))
    }
    val clean = good.toDF("emb")
    val dirty = (good :+ Tuple1(Array(Double.NaN, 1.0))
      :+ Tuple1(Array(Double.PositiveInfinity, 0.0))).toDF("emb")
    val a = Pca.fit(clean, "emb", dim = 2, k = 2)
    val b = Pca.fit(dirty, "emb", dim = 2, k = 2)
    // not bitwise ==: treeAggregate merges partials in task-COMPLETION
    // order, so two runs can differ at the last ulp (~1e-16 here); the
    // claim under test is that the NaN/Inf rows were DROPPED, i.e. no
    // perturbation beyond float merge noise
    a.mean.zip(b.mean).foreach { case (x, y) =>
      assert(math.abs(x - y) < 1e-12,
        "non-finite vectors must not perturb the model") }
    assert(b.eigenvalues.forall(v => !v.isNaN))
  }

  test("fit rejects bad dims and degenerate input") {
    val df = Seq(Tuple1(Array(1.0, 2.0))).toDF("emb")
    intercept[IllegalArgumentException](Pca.fit(df, "emb", dim = 2, k = 3))
    intercept[IllegalArgumentException](Pca.fit(df, "emb", dim = 2, k = 1))
    val bad = Seq(Tuple1(Array(1.0, 2.0)), Tuple1(Array(1.0, 2.0, 3.0))).toDF("emb")
    intercept[Exception](Pca.fit(bad, "emb", dim = 2, k = 1))
  }
}
