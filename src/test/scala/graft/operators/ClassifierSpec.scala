package graft.operators

import graft.SparkSpec
import graft.plans.PlanWalk
import org.apache.spark.sql.functions._

class ClassifierSpec extends SparkSpec {
  import spark.implicits._

  // Linearly separable toy corpus: "good" pages share a reference-text
  // vocabulary, "spam" pages a promo vocabulary (no overlap).
  private def corpus = Seq(
    (1L, "the report covers quarterly revenue and product research", true),
    (2L, "research teams published the annual engineering report", true),
    (3L, "the quarterly product revenue grew with engineering research", true),
    (4L, "buy cheap pills now click here winner prize", false),
    (5L, "winner winner click now cheap prize pills here", false),
    (6L, "click here now buy prize cheap winner pills", false)
  ).toDF("doc_id", "text", "label")

  test("gradientAtZero is the exact integer 2x gradient") {
    // single doc, y=true → s=-1; each token occurrence contributes -1 to
    // its bucket; two docs with y=false contribute +1 per occurrence
    val df = Seq((1L, "a b a", true), (2L, "a c", false)).toDF("doc_id", "text", "label")
    val g = Classifier.gradientAtZero(df, "text", "label", buckets = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // occurrences with signs: a(-1) b(-1) a(-1) from doc 1, a(+1) c(+1)
    // from doc 2; fold them through the same hash (collisions at 8
    // buckets are legitimate and folded identically)
    val bucketOf = Seq("a", "b", "c").map { t =>
      t -> spark.range(1).select(Classifier.tokenBucket(lit(t), 8))
        .collect()(0).getLong(0)
    }.toMap
    val occ = Seq(("a", -1L), ("b", -1L), ("a", -1L), ("a", 1L), ("c", 1L))
    val expected = occ.groupBy { case (t, _) => bucketOf(t) }
      .map { case (b, xs) => b -> ((xs.map(_._2).sum, xs.size.toLong)) }
    assert(g == expected)
  }

  test("scoreMicro is the exact occurrence-weighted integer sum") {
    val df = Seq((1L, "a b a"), (2L, "a c")).toDF("doc_id", "text")
    val B = 8
    val bucketOf = Seq("a", "b", "c").map { t =>
      t -> spark.range(1).select(Classifier.tokenBucket(lit(t), B))
        .collect()(0).getLong(0).toInt
    }.toMap
    val w = Array.tabulate(B)(b => (b + 1) * 10L) // arbitrary fixed weights
    val got = Classifier.scoreMicro(df, "doc_id", "text", w)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((3L, 2 * w(bucketOf("a")) + w(bucketOf("b")))))
    assert(got(2L) == ((2L, w(bucketOf("a")) + w(bucketOf("c")))))
  }

  test("scoreMicro with one integer GD step ranks reference text above spam") {
    // the q143 shape: w = -grad2 at w=0; reference-vocab docs must score
    // strictly above promo-vocab docs
    val w = Array.fill(64)(0L)
    Classifier.gradientAtZero(corpus, "text", "label", buckets = 64)
      .select($"bucket".cast("int"), $"grad2").as[(Int, Long)].collect()
      .foreach { case (b, g) => w(b) = -g }
    val s = Classifier.scoreMicro(corpus, "doc_id", "text", w)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(Seq(1L, 2L, 3L).map(s).min > Seq(4L, 5L, 6L).map(s).max)
  }

  // 3-class toy corpus with disjoint vocabularies per class
  private def triCorpus = Seq(
    (1L, "alpha beta gamma alpha", "en"),
    (2L, "beta alpha gamma beta gamma", "en"),
    (3L, "rouge bleu vert rouge", "fr"),
    (4L, "vert bleu rouge bleu", "fr"),
    (5L, "rot blau gruen rot", "de"),
    (6L, "blau gruen rot gruen", "de")
  ).toDF("doc_id", "text", "lang")

  test("softmaxGradientAtZero is the exact integer grid n_b - K*n_bc") {
    val B = 8
    val g = Classifier.softmaxGradientAtZero(triCorpus, "text", "lang", B)
      .as[(Long, String, Long, Long)].collect()
    // recompute from raw occurrences
    val occ = triCorpus.select($"lang",
        explode(Classifier.bucketArr($"text", B)).as("b"))
      .as[(String, Long)].collect()
    val k = occ.map(_._1).distinct.length
    val nb = occ.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val nbc = occ.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(g.nonEmpty)
    // full grid: every (occupied bucket, class) pair appears
    assert(g.length == nb.size * k)
    g.foreach { case (b, c, cnt, gr) =>
      val expect = nbc.getOrElse((c, b), 0L)
      assert(cnt == expect)
      assert(gr == nb(b) - k * expect, s"bucket $b cls $c")
    }
  }

  test("softmaxGradientAtZero keeps the oracle's null-label rule") {
    // a null class counts toward n_b but is not one of the K classes,
    // and its join key matches no count row: n_bc = 0, gradk = n_b
    val B = 8
    val df = triCorpus.union(Seq((7L, "alpha rot", null: String)).toDF("doc_id", "text", "lang"))
    val g = Classifier.softmaxGradientAtZero(df, "text", "lang", B)
      .as[(Long, String, Long, Long)].collect()
    val occ = df.select($"lang", explode(Classifier.bucketArr($"text", B)).as("b"))
      .as[(String, Long)].collect()
    val nb = occ.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val nbc = occ.filter(_._1 != null).groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(g.length == nb.size * 4)
    g.foreach { case (b, c, cnt, gr) =>
      val expect = if (c == null) 0L else nbc.getOrElse((c, b), 0L)
      assert(cnt == expect && gr == nb(b) - 3 * expect, s"bucket $b cls $c")
    }
  }

  test("typed gradientAtZero/scoreMicro equal the column-HOF reference on real fixture text") {
    // round-18: the exact-integer classifier passes moved to typed row
    // kernels (ClassifierImpl) for the interpreted-HOF tax; pin them
    // against the original column-expression forms on real corpus text
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text", ($"lang" === "en").as("is_ref"))
    val B = 64
    val typedG = Classifier.gradientAtZero(docs, "text", "is_ref", B)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val columnG = docs.select(
        when($"is_ref", lit(-1L)).otherwise(lit(1L)).as("s"),
        explode(Classifier.bucketArr($"text", B)).as("bucket"))
      .groupBy($"bucket")
      .agg(sum($"s").cast("long").as("grad2"), count(lit(1)).as("n_terms"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(typedG == columnG)
    val w = Array.tabulate(B)(b => (b * 37L) % 101L - 50L)
    val typedS = Classifier.scoreMicro(docs, "doc_id", "text", w)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val wLit = typedLit(w.toSeq)
    val bk = Classifier.bucketArr($"text", B)
    val columnS = docs.select($"doc_id",
        size(split(trim($"text"), "\\s+")).cast("long").as("n_toks"),
        aggregate(bk, lit(0L),
          (acc, b) => acc + element_at(wLit, b.cast("int") + 1))
          .as("score_micro"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(typedS == columnS)
  }

  test("fitSoftmax matches a single-node GD replay and separates the classes") {
    val B = 32
    val m = Classifier.fitSoftmax(triCorpus, "text", "lang", B,
      iters = 10, lr = 0.5)
    assert(m.classes.toSeq == Seq("de", "en", "fr"))
    // argmax scoring recovers every training label
    val preds = Classifier.scoreSoftmax(triCorpus, "doc_id", "text", m)
      .select($"doc_id", $"pred").as[(Long, String)].collect().toMap
    val labels = triCorpus.select($"doc_id", $"lang")
      .as[(Long, String)].collect().toMap
    assert(preds == labels, s"misclassified: $preds vs $labels")
    // single-node replay of the same GD (same features, same order of
    // ops per doc; cross-partition float sums may differ in the last
    // ulps, hence the tolerance)
    val docs = triCorpus.select($"doc_id",
        Classifier.bucketArr($"text", B).as("bk"), $"lang")
      .as[(Long, Seq[Long], String)].collect().sortBy(_._1)
    val k = 3
    val clsIdx = Map("de" -> 0, "en" -> 1, "fr" -> 2)
    var w = Array.fill(k, B)(0.0); var bias = Array.fill(k)(0.0)
    val n = docs.length.toDouble
    for (_ <- 0 until 10) {
      val gw = Array.fill(k, B)(0.0); val gb = Array.fill(k)(0.0)
      docs.foreach { case (_, bk, lang) =>
        val inv = if (bk.nonEmpty) 1.0 / bk.length else 0.0
        val ms = Array.tabulate(k)(c => bk.map(b => w(c)(b.toInt)).sum * inv + bias(c))
        val mx = ms.max
        val ex = ms.map(x => math.exp(x - mx)); val z = ex.sum
        (0 until k).foreach { c =>
          val coef = ex(c) / z - (if (clsIdx(lang) == c) 1.0 else 0.0)
          gb(c) += coef
          bk.foreach(b => gw(c)(b.toInt) += coef * inv)
        }
      }
      (0 until k).foreach { c =>
        bias(c) -= 0.5 * gb(c) / n
        (0 until B).foreach(j => w(c)(j) -= 0.5 * gw(c)(j) / n)
      }
    }
    (0 until k).foreach { c =>
      assert(math.abs(bias(c) - m.biases(c)) < 1e-9)
      (0 until B).foreach(j =>
        assert(math.abs(w(c)(j) - m.weights(c)(j)) < 1e-9,
          s"w($c)($j): ${w(c)(j)} vs ${m.weights(c)(j)}"))
    }
  }

  test("fitSoftmax recovers an injected class marker on the fixture corpus") {
    // the fixture's `lang` column is statistically independent of the
    // text (every language draws from the same near-uniform 31-token
    // distribution), so NO bag-of-words model can beat majority class on
    // it — instead inject a separable 3-class marker token and require
    // the distributed GD path to recover it at corpus shape/size
    // ~20% of each doc's tokens become the marker: full-batch GD with
    // length-normalized features moves margins by O(lr·share²/K) per
    // step, so a 1-token marker would need hundreds of iterations
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("cls", concat(lit("c"), pmod($"doc_id", lit(3))))
      .withColumn("text", concat_ws(" ", $"text",
        array_join(array_repeat(concat(lit("marker_"), $"cls"),
          greatest(lit(1), (size(split(trim($"text"), "\\s+")) / 4).cast("int"))), " ")))
    val m = Classifier.fitSoftmax(docs, "text", "cls", buckets = 64,
      iters = 15, lr = 2.0)
    assert(m.classes.toSeq == Seq("c0", "c1", "c2"))
    val joined = Classifier.scoreSoftmax(docs, "doc_id", "text", m)
      .join(docs.select($"doc_id", $"cls"), Seq("doc_id"))
    val acc = joined.filter($"pred" === $"cls").count().toDouble /
      joined.count()
    assert(acc >= 0.95, s"marker-class train accuracy collapsed: $acc")
  }

  test("ClassifierImpl.tokenBucket matches the column tokenBucket on fixture tokens") {
    val toks = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(explode(split(trim($"text"), "\\s+")).as("t"))
      .distinct().limit(200)
    for (b <- Seq(8, 64, 1024)) {
      val colSide = toks.select($"t", Classifier.tokenBucket($"t", b))
        .as[(String, Long)].collect()
      colSide.foreach { case (t, expect) =>
        assert(graft.functions.ClassifierImpl.tokenBucket(t, b) == expect,
          s"bucket mismatch for '$t' at $b buckets")
      }
    }
  }

  test("scoreSoftmaxMicro with mirrored 2-class weights equals the binary scorer's sign") {
    val docs = Seq((1L, "alpha beta alpha"), (2L, "rouge bleu"),
      (3L, "alpha rouge")).toDF("doc_id", "text")
    val B = 16
    val w = Array.tabulate(B)(b => (b * 13 % 31 - 15).toLong)
    val binary = Classifier.scoreMicro(docs, "doc_id", "text", w)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val multi = Classifier.scoreSoftmaxMicro(docs, "doc_id", "text",
        Array(w, w.map(-_)), Array("pos", "neg"))
      .as[(Long, Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    binary.foreach { case (id, (n, s)) =>
      val (mn, pred, best) = multi(id)
      assert(mn == n)
      // argmax(s, -s): s >= 0 -> "pos" (ties break to the first class)
      assert(pred == (if (s >= 0) "pos" else "neg"))
      assert(best == math.max(s, -s))
    }
  }

  test("fit separates the toy corpus and score ranks good above spam") {
    val m = Classifier.fit(corpus, "text", "label", buckets = 64,
      iters = 40, lr = 2.0)
    val scores = Classifier.score(corpus, "doc_id", "text", m)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val good = Seq(1L, 2L, 3L).map(scores)
    val spam = Seq(4L, 5L, 6L).map(scores)
    assert(good.min > spam.max,
      s"not separated: good=$good spam=$spam")
    assert(good.forall(_ > 0.5) && spam.forall(_ < 0.5))
  }

  test("fit matches a single-node reference GD within tolerance") {
    // reference implementation: same normalization, same hash buckets
    val buckets = 32
    val rows = corpus.select($"text", $"label",
        Classifier.bucketArr($"text", buckets).as("bk"))
      .collect().map(r => (r.getSeq[Long](2).toArray, r.getBoolean(1)))
    var w = Array.fill(buckets)(0.0); var b = 0.0
    val lr = 1.0; val n = rows.length.toDouble
    for (_ <- 0 until 10) {
      val gw = Array.fill(buckets)(0.0); var gb = 0.0
      rows.foreach { case (bk, y) =>
        val inv = if (bk.nonEmpty) 1.0 / bk.length else 0.0
        val margin = bk.map(k => w(k.toInt)).sum * inv + b
        val p = 1.0 / (1.0 + math.exp(-margin))
        val c = (p - (if (y) 1.0 else 0.0))
        bk.foreach(k => gw(k.toInt) += c * inv)
        gb += c
      }
      for (k <- 0 until buckets) w(k) -= lr * gw(k) / n
      b -= lr * gb / n
    }
    val m = Classifier.fit(corpus, "text", "label", buckets, iters = 10, lr = 1.0)
    assert(math.abs(m.bias - b) < 1e-9)
    (0 until buckets).foreach { k =>
      assert(math.abs(m.weights(k) - w(k)) < 1e-9, s"bucket $k")
    }
  }

  test("filterByModel keeps only above-threshold docs") {
    val m = Classifier.fit(corpus, "text", "label", buckets = 64,
      iters = 40, lr = 2.0)
    val kept = Classifier.filterByModel(corpus, "doc_id", "text", m, 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L))
  }

  test("score plan is map-only (no shuffle)") {
    val m = Classifier.LogRegModel(Array.fill(16)(0.1), 0.0)
    val plan = PlanWalk.finalPlan(Classifier.score(corpus, "doc_id", "text", m)).toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }
}
