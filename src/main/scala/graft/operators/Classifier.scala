package graft.operators

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hashed-feature logistic-regression quality classifier — the
  * fasttext/CCNet-style "does this page look like reference text" filter
  * of a web-curation pipeline, re-expressed for Spark:
  *
  *  - Features are hashed bag-of-words: token → md5-prefix bucket (the
  *    house cross-engine hash discipline, same as q129's host ids), so
  *    the feature space is a fixed `buckets`-sized vector regardless of
  *    vocabulary — no vocabulary dictionary is ever built or shipped.
  *  - Training is full-batch gradient descent. Per iteration: a map-only
  *    pass scores every document against the broadcast weight vector
  *    (a literal array — `buckets` doubles), and ONE bucket-keyed
  *    aggregation (map-side partial) produces the gradient, which is
  *    `buckets`-bounded — the only rows that ever reach the driver.
  *    The corpus is never collected, cached, or re-keyed by document.
  *  - Scoring is a pure map pass (aggregate over the token array).
  *
  * At 100 TB: per iteration = one corpus scan + one exchange whose input
  * is partial-aggregated to ≤ buckets rows per task — the same bounded
  * shape as PageRank's per-iteration join+agg. Weights (~8·buckets bytes)
  * broadcast as plan literals.
  *
  * Determinism: the float GD loop is spec-gated ([[ClassifierSpec]]) —
  * IEEE sums over a shuffled corpus are order-dependent by nature. The
  * corpus-scale half IS oracle-gated: at w = 0 every p is exactly 0.5,
  * so twice the gradient, `2·∂L/∂w_b = Σ_docs (1−2y)·count_b(doc)`, is an
  * exact integer per bucket — q133 replays it in DuckDB (the PCA-gramian
  * discipline: gate the aggregation, spec the numerics).
  */
object Classifier {

  /** Stable cross-engine feature bucket: first 15 md5 hex digits (60 bit)
    * mod `buckets`. DuckDB replay:
    * `CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % buckets`.
    */
  def tokenBucket(tok: Column, buckets: Int): Column =
    pmod(conv(substring(md5(tok), 1, 15), 16, 10).cast("long"), lit(buckets.toLong))

  /** Per-occurrence feature buckets for a document's text — map-only. */
  def bucketArr(text: Column, buckets: Int): Column =
    transform(tokens(text), t => tokenBucket(t, buckets))

  /** Twice the logistic-loss gradient at w = 0 per feature bucket:
    * grad2(b) = Σ_docs (1 − 2·y) · count_b(doc) — exact BIGINT (at the
    * zero vector p = ½ exactly, so (p − y) = ±½). Also emits the bucket's
    * total occurrence count. One bucket-keyed aggregation over the typed
    * per-doc kernel ([[graft.functions.ClassifierImpl.bucketCounts]]):
    * the column-HOF form paid the interpreted-lambda tax per token
    * occurrence AND shipped one row per occurrence — the kernel hashes
    * natively and pre-aggregates per doc, so ≤ min(tokens, buckets)
    * rows per doc feed the (map-side-combined) aggregation.
    */
  def gradientAtZero(df: DataFrame, textCol: String, labelCol: String,
      buckets: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
        when(col(labelCol), lit(-1L)).otherwise(lit(1L)).as("s"),
        col(textCol).cast("string").as("t"))
      .as[(Long, String)]
      .flatMap { case (s, t) =>
        graft.functions.ClassifierImpl.bucketCounts(t, buckets).iterator
          .map { case (b, c) => (b.toLong, s * c, c.toLong) }
      }.toDF("bucket", "g", "c")
      .groupBy(col("bucket"))
      .agg(sum(col("g")).cast("long").as("grad2"),
        sum(col("c")).as("n_terms"))
  }

  /** Trained model: `weights(b)` per bucket + intercept. */
  final case class LogRegModel(weights: Array[Double], bias: Double) {
    def buckets: Int = weights.length
  }

  /** Full-batch logistic regression on hashed bag-of-words counts.
    * `labelCol` must be boolean. Gradients are length-normalized per
    * document (each occurrence contributes 1/n_tokens) so long pages
    * don't dominate — the fasttext mean-of-embeddings convention.
    */
  def fit(df: DataFrame, textCol: String, labelCol: String,
      buckets: Int, iters: Int = 20, lr: Double = 0.5): LogRegModel = {
    var w = Array.fill(buckets)(0.0)
    var b = 0.0
    // (bucket occurrences, 1/len weight, y) — computed once, map-only shape
    val base = df.select(
      bucketArr(col(textCol), buckets).as("bk"),
      col(labelCol).cast("int").cast("double").as("y"))
      .withColumn("inv", when(size(col("bk")) > 0,
        lit(1.0) / size(col("bk"))).otherwise(lit(0.0)))
    val n = math.max(1L, base.count()).toDouble
    for (_ <- 0 until iters) {
      val wLit = array(w.map(lit): _*)
      val margin = aggregate(col("bk"), lit(0.0),
        (acc, bkt) => acc + element_at(wLit, (bkt + 1L).cast("int")))
        .*(col("inv")) + b
      val p = lit(1.0) / (lit(1.0) + exp(-margin))
      // per-feature coefficient (p−y)/len plus a bias pseudo-bucket −1
      // carrying (p−y): ONE bucket-keyed job per iteration, ≤ buckets+1
      // rows reach the driver
      val grads = base
        .withColumn("c", (p - col("y")) * col("inv"))
        .withColumn("pb", p - col("y"))
        .select(explode(concat(
          transform(col("bk"),
            bkt => struct(bkt.as("bucket"), col("c").as("v"))),
          array(struct(lit(-1L).as("bucket"), col("pb").as("v"))))).as("e"))
        .groupBy(col("e.bucket")).agg(sum(col("e.v")).as("g"))
        .collect()
      val w2 = w.clone()
      grads.foreach { r =>
        val bkt = r.getLong(0).toInt
        if (bkt < 0) b = b - lr * r.getDouble(1) / n
        else w2(bkt) = w2(bkt) - lr * r.getDouble(1) / n
      }
      w = w2
    }
    LogRegModel(w, b)
  }

  /** Map-only scoring: idCol, `score` = σ(mean-normalized w·x + b). */
  def score(df: DataFrame, idCol: String, textCol: String,
      model: LogRegModel): DataFrame =
    df.select(col(idCol), scoreCol(col(textCol), model).as("score"))

  /** σ(mean-normalized w·x + b) of `text`'s hashed buckets: the column
    * behind [[score]] and [[filterByModel]].
    */
  private def scoreCol(text: Column, model: LogRegModel): Column = {
    val wLit = array(model.weights.map(lit): _*)
    val bk = bucketArr(text, model.buckets)
    val inv = when(size(bk) > 0, lit(1.0) / size(bk)).otherwise(lit(0.0))
    val margin = aggregate(bk, lit(0.0),
      (acc, bkt) => acc + element_at(wLit, bkt.cast("int") + 1)) * inv + model.bias
    lit(1.0) / (lit(1.0) + exp(-margin))
  }

  // --------------------------------------------------- multi-class
  // (softmax) tier: the fasttext lang-ID shape. Same hashed bag-of-words
  // features; K weight rows instead of one. The gradient at W = 0 is
  // exact-integer (all class probabilities are exactly 1/K there), so the
  // corpus-scale aggregation is oracle-gated (q145) while the GD loop's
  // float numerics stay spec-gated — the house PCA-gramian discipline.

  /** K times the softmax cross-entropy gradient at W = 0, per (feature
    * bucket, class): `K·∂L/∂w_{b,c} = Σ_occurrences (1 − K·[y = c])
    * = n_b − K·n_{b,c}` — exact BIGINT (at the zero matrix every class
    * probability is exactly 1/K). ONE corpus aggregation keyed by
    * (bucket, class) — map-side partials cap task output at buckets·K
    * rows — collected once; the class list, K and the per-bucket totals
    * derive from those rows on the driver, never from a second pass.
    * Returns the FULL occupied-bucket × class grid (a class absent from
    * a bucket still has gradient n_b ≠ 0) as (bucket, cls, n_bc, gradk),
    * ordered by bucket then class. The oracle's NULL-label rule holds:
    * a null class counts toward n_b, is not one of the K, and has
    * n_bc = 0 (its join key matches nothing).
    */
  def softmaxGradientGrid(df: DataFrame, textCol: String, labelCol: String,
      buckets: Int): Seq[(Long, String, Long, Long)] = {
    val spark = df.sparkSession
    import spark.implicits._
    // typed per-doc kernel — the gradientAtZero rationale: native md5
    // instead of the interpreted HOF lambda, per-doc pre-aggregation
    // instead of one row per occurrence
    val cnt = df.select(col(labelCol).cast("string").as("cls"),
        col(textCol).cast("string").as("t"))
      .as[(String, String)]
      .flatMap { case (cls, t) =>
        graft.functions.ClassifierImpl.bucketCounts(t, buckets).iterator
          .map { case (b, c) => (b.toLong, cls, c.toLong) }
      }.toDF("bucket", "cls", "c")
      .groupBy(col("bucket"), col("cls"))
      .agg(sum(col("c")))
      .as[(Long, String, Long)].collect()
    val nb = cnt.groupMapReduce(_._1)(_._3)(_ + _)
    val classes = cnt.map(_._2).distinct.sortBy(Option(_))
    val k = classes.count(_ != null).toLong
    val nbc = cnt.collect { case (b, c, n) if c != null => (b, c) -> n }.toMap
    for (b <- nb.keys.toSeq.sorted; c <- classes.toSeq) yield {
      val n = nbc.getOrElse((b, c), 0L)
      (b, c, n, nb(b) - k * n)
    }
  }

  /** [[softmaxGradientGrid]] as a frame (q145's gate): the grid rows
    * are driver-side, so the frame is a local relation.
    */
  def softmaxGradientAtZero(df: DataFrame, textCol: String, labelCol: String,
      buckets: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    softmaxGradientGrid(df, textCol, labelCol, buckets)
      .toDF("bucket", "cls", "n_bc", "gradk")
  }

  /** Trained multi-class model: `weights(c)(b)` + per-class bias;
    * `classes` sorted ascending (the index space of both arrays).
    */
  final case class SoftmaxModel(classes: Array[String],
      weights: Array[Array[Double]], biases: Array[Double]) {
    def k: Int = classes.length
    def buckets: Int = weights(0).length
  }

  /** Full-batch softmax regression on hashed bag-of-words counts (the
    * fasttext lang-ID shape; length-normalized features, stable
    * max-subtracted softmax). Per iteration: one map pass scores every
    * doc against the K broadcast weight rows — a SINGLE
    * array-accumulator fold, so the md5 feature array is hashed once,
    * not K times — and ONE bucket-keyed aggregation emits K partial
    * sums per bucket (+ the bias pseudo-bucket −1): ≤ (buckets+1)·K
    * values reach the driver. Float numerics spec-gated
    * ([[ClassifierSpec]] pins separation and a single-node GD replay);
    * the aggregation shape is q145's oracle-gated [[softmaxGradientAtZero]].
    */
  def fitSoftmax(df: DataFrame, textCol: String, labelCol: String,
      buckets: Int, iters: Int = 20, lr: Double = 0.5): SoftmaxModel = {
    val classes = df.select(col(labelCol).cast("string").as("c")).distinct()
      .collect().map(_.getString(0)).sorted
    val k = classes.length
    require(k >= 2, s"need at least 2 classes, got $k: ${classes.toSeq}")
    var w = Array.fill(k, buckets)(0.0)
    var b = Array.fill(k)(0.0)
    val yCol = classes.zipWithIndex.tail
      .foldLeft(when(col(labelCol).cast("string") === classes.head, 0)) {
        case (acc, (c, i)) => acc.when(col(labelCol).cast("string") === c, i)
      }.otherwise(-1)
    val base = df.select(bucketArr(col(textCol), buckets).as("bk"), yCol.as("y"))
      .withColumn("inv", when(size(col("bk")) > 0,
        lit(1.0) / size(col("bk"))).otherwise(lit(0.0)))
    val n = math.max(1L, base.count()).toDouble
    for (_ <- 0 until iters) {
      val raw = marginArr(col("bk"), col("inv"), w, b)
      val mx = array_max(col("ms"))
      val exps = transform(col("ms"), m => exp(m - mx))
      val z = aggregate(exps, lit(0.0), (s, x) => s + x)
      // cs(c) = p_c − [y = c], one K-array per doc
      val cs = transform(exps, (e, i) =>
        e / z - when(col("y") === i, 1.0).otherwise(0.0))
      val grads = base
        .withColumn("ms", raw)
        .withColumn("cs", cs)
        .select(explode(concat(
          transform(col("bk"), bkt => struct(bkt.as("bucket"),
            transform(col("cs"), c => c * col("inv")).as("v"))),
          array(struct(lit(-1L).as("bucket"), col("cs").as("v"))))).as("e"))
        .groupBy(col("e.bucket"))
        .agg(sum(element_at(col("e.v"), 1)).as("g0"),
          (1 until k).map(i =>
            sum(element_at(col("e.v"), i + 1)).as(s"g$i")): _*)
        .collect()
      val w2 = w.map(_.clone())
      val b2 = b.clone()
      grads.foreach { r =>
        val bkt = r.getLong(0).toInt
        (0 until k).foreach { c =>
          val g = r.getDouble(c + 1)
          if (bkt < 0) b2(c) = b2(c) - lr * g / n
          else w2(c)(bkt) = w2(c)(bkt) - lr * g / n
        }
      }
      w = w2; b = b2
    }
    SoftmaxModel(classes, w, b)
  }

  /** All K margins in ONE fold over the feature array (hashed once):
    * acc(c) += wFlat(c·buckets + bucket), then ·inv + bias(c).
    */
  private def marginArr(bk: Column, inv: Column,
      w: Array[Array[Double]], b: Array[Double]): Column = {
    val k = w.length
    val buckets = w(0).length
    val wFlat = typedLit(w.flatten.toSeq)
    val bLit = typedLit(b.toSeq)
    val sums = aggregate(bk, typedLit(Seq.fill(k)(0.0)),
      (acc, bkt) => transform(acc, (a, i) =>
        a + element_at(wFlat, i * buckets + bkt.cast("int") + 1)))
    zip_with(sums, bLit, (s, bb) => s * inv + bb)
  }

  /** Map-only argmax scoring: (idCol, pred, margin). Margin ties break
    * toward the LOWEST class index (struct-max over (margin, −index)).
    */
  def scoreSoftmax(df: DataFrame, idCol: String, textCol: String,
      model: SoftmaxModel): DataFrame = {
    val classesLit = typedLit(model.classes.toSeq)
    val bk = bucketArr(col(textCol), model.buckets)
    val inv = when(size(bk) > 0, lit(1.0) / size(bk)).otherwise(lit(0.0))
    val ms = marginArr(bk, inv, model.weights, model.biases)
    val best = array_max(transform(ms, (m, i) =>
      struct(m.as("m"), (-i).as("ni"))))
    df.select(col(idCol),
      element_at(classesLit, lit(1) - best.getField("ni")).as("pred"),
      best.getField("m").as("margin"))
  }

  /** Frozen-weight multi-class scoring, exact integers end to end
    * (q147): per-class `score_c = Σ_occurrences w_c(bucket)`, argmax
    * with ties to the LOWEST class index. Typed row kernel
    * ([[graft.functions.ClassifierImpl.scoreSoftmax]]) — a columnar
    * K-class fold would inline the md5-hashing array into BOTH output
    * columns (pred, best score) through CollapseProject,
    * and unlike the binary [[scoreMicro]] an argmax cannot be derived
    * arithmetically from a single referenced column. Output:
    * (idCol, n_toks, pred, best_micro) — fully oracle-replayable
    * (integer sums + deterministic argmax).
    */
  def scoreSoftmaxMicro(df: DataFrame, idCol: String, textCol: String,
      weightsMicro: Array[Array[Long]], classes: Array[String]): DataFrame = {
    require(classes.length == weightsMicro.length && classes.length >= 2,
      s"need one weight row per class: ${classes.length} vs ${weightsMicro.length}")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val (n, ci, s) = graft.functions.ClassifierImpl.scoreSoftmax(
          text, weightsMicro)
        (id, n, classes(ci), s)
      }.toDF(idCol, "n_toks", "pred", "best_micro")
  }

  /** Map-only EXACT-integer scoring against a FIXED micro-unit weight
    * vector riding as a plan literal: `score_micro = Σ_occurrences
    * w_micro(bucket)` — an exact BIGINT per document, so the scoring
    * half of the classifier is engine-replayable (the q136 λ-scoring
    * discipline; q143 gates it). This is the production path once a
    * model is FROZEN: quantize the trained weights once
    * (`w_micro = floor(w·1e6 + 0.5)`) and every subsequent corpus pass
    * is deterministic integer arithmetic — [[fit]]'s float loop stays
    * spec-gated ([[ClassifierSpec]]), exactly like the PCA eigensolve
    * atop the gated gramian. Output: (idCol, n_toks, score_micro);
    * length-normalize downstream as score_micro / n_toks if the
    * fasttext mean convention is wanted (kept separate so the gated
    * column stays a pure integer sum).
    */
  def scoreMicro(df: DataFrame, idCol: String, textCol: String,
      weightsMicro: Array[Long]): DataFrame = {
    // typed row kernel ([[graft.functions.ClassifierImpl.scoreMicro]]) —
    // the gradientAtZero rationale: the columnar fold re-interpreted
    // the md5 lambda per token occurrence
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .map { case (id, t) =>
        val (n, s) = graft.functions.ClassifierImpl.scoreMicro(t, weightsMicro)
        (id, n, s)
      }.toDF(idCol, "n_toks", "score_micro")
  }

  /** Threshold filter over [[score]] — keep documents the model rates
    * at or above `minScore`. Map-only.
    */
  def filterByModel(df: DataFrame, idCol: String, textCol: String,
      model: LogRegModel, minScore: Double): DataFrame =
    df.filter(scoreCol(col(textCol), model) >= minScore)
}
