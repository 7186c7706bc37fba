package graft.operators

import graft.SparkSpec
import graft.functions.ClassifierImpl
import graft.functions.TextFunctions.{tokenCount, tokens}
import graft.functions.TextFunctionsSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class SelectionSpec extends SparkSpec {
  import spark.implicits._
  import SelectionSpec.replayFeatures

  private val B = 32

  private def corpus = Seq(
    (1L, "the cat sat", true),
    (2L, "the cat ran", true),
    (3L, "qq zz xx yy", false),
    (4L, "the cat sat", false), // identical text to doc 1, not target
    (5L, "zz qq", false)
  ).toDF("doc_id", "text", "is_tgt")

  /** The sf0.01 documents (target = English) plus the token-rule edge
    * rows (ids from 1000001, target = even id), null text among them
    * (id 1000006).
    */
  private lazy val paritySet: DataFrame = {
    val fixtures = new java.io.File("/root/testdata/sf0.01/documents.parquet")
    assert(fixtures.exists, s"fixtures not found at ${fixtures.getCanonicalPath}")
    spark.read.parquet(fixtures.getCanonicalPath)
      .select($"doc_id", $"text", ($"lang" === "en").as("is_tgt"))
      .union(TextFunctionsSpec.edgeRows.toDF("id", "text")
        .select(($"id" + 1000000L).as("doc_id"), $"text", ($"id" % 2 === 0).as("is_tgt")))
  }

  /** The DSIR feature array as a column — the form the operator had
    * before its typed kernel, kept as the second reference.
    */
  private def columnFeatures(text: Column, buckets: Int): Column = {
    val toks = tokens(text)
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))
    transform(concat(toks, bigrams), t => Classifier.tokenBucket(t, buckets))
  }

  /** The column form of the labeled table: explode, count per bucket,
    * then the totals' cross join and the [[Selection.qln]] tail. Only
    * buckets some feature hit have a row.
    */
  private def columnTable(df: DataFrame, buckets: Int): Map[Int, (Long, Long, Long)] = {
    val j = df.select($"is_tgt".as("__t"),
        explode(columnFeatures($"text", buckets)).as("bucket"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_raw"), count_if($"__t").as("n_target"))
    val b = lit(buckets.toLong)
    j.crossJoin(j.agg(sum($"n_raw").as("rt"), sum($"n_target").as("tt")))
      .select($"bucket".cast("int"), $"n_raw", $"n_target",
        Selection.qln(($"n_target" + 1L).cast("double") / ($"tt" + b).cast("double")) -
          Selection.qln(($"n_raw" + 1L).cast("double") / ($"rt" + b).cast("double")))
      .as[(Int, Long, Long, Long)].collect()
      .map { case (k, r, t, lw) => k -> ((r, t, lw)) }.toMap
  }

  /** The column form of scoring: an `aggregate` fold over the feature
    * array against the λ literal, n_feats from the token count.
    */
  private def columnScores(df: DataFrame, lam: Array[Long]): DataFrame = {
    val lamLit = typedLit(lam.toSeq)
    df.select($"doc_id", (tokenCount($"text") * 2 - 1).cast("long").as("n_feats"),
        aggregate(columnFeatures($"text", lam.length), lit(0L),
          (acc, fb) => acc + element_at(lamLit, fb.cast("int") + 1)).as("lw_micro"))
      .withColumn("avg_lw", when($"n_feats" > 0,
        $"lw_micro".cast("double") / $"n_feats".cast("double") / 1e6))
  }

  test("featureCounts and featureScore equal the plain-Scala replay on edge rows and sf0.01") {
    val texts = paritySet.select($"text").as[String].collect()
    assert(texts.length > 500 && texts.contains(null))
    Seq(64, 1 << 17).foreach { buckets =>
      val lam = Array.tabulate(buckets)(b => b * 2654435761L % 1000003L - 500001L)
      texts.foreach { t =>
        val feats = replayFeatures(t, buckets)
        val counts = ClassifierImpl.featureCounts(t, buckets)
        assert(counts.map(_._1).distinct.length == counts.length, s"text=$t")
        assert(counts.toMap == feats.groupBy(identity).view.mapValues(_.length).toMap,
          s"buckets=$buckets text=$t")
        assert(ClassifierImpl.featureScore(t, lam) ==
          ((feats.length.toLong, feats.map(lam(_)).sum)), s"buckets=$buckets text=$t")
      }
    }
  }

  test("dsirTableLabeled equals the column form, and its driver λ Spark's qln, on every bucket") {
    Seq(64, 1024).foreach { buckets =>
      val table = Selection.dsirTableLabeled(paritySet, "text", "is_tgt", buckets)
      val column = columnTable(paritySet, buckets)
      assert(table.lwMicro.length == buckets && column.size > buckets / 2)
      (0 until buckets).foreach { b =>
        column.get(b) match {
          case Some((r, t, lw)) =>
            assert((table.nRaw(b), table.nTarget(b), table.lwMicro(b)) == ((r, t, lw)),
              s"buckets=$buckets bucket=$b")
          case None =>
            assert(table.nRaw(b) == 0L && table.nTarget(b) == 0L, s"bucket=$b")
        }
      }
      // every bucket, hit or not: the driver's StrictMath λ against the
      // qln column over the same counts
      val rt = table.nRaw.sum + buckets
      val tt = table.nTarget.sum + buckets
      val qlnColumn = (0 until buckets).map(b => (b, table.nRaw(b), table.nTarget(b)))
        .toDF("bucket", "n_raw", "n_target")
        .select($"bucket",
          Selection.qln(($"n_target" + 1L).cast("double") / lit(tt.toDouble)) -
            Selection.qln(($"n_raw" + 1L).cast("double") / lit(rt.toDouble)))
        .as[(Int, Long)].collect().toMap
      assert(qlnColumn.size == buckets)
      (0 until buckets).foreach(b =>
        assert(table.lwMicro(b) == qlnColumn(b), s"buckets=$buckets bucket=$b"))
    }
  }

  test("scoreWith equals the column form, the null-text row included") {
    val table = Selection.dsirTableLabeled(paritySet, "text", "is_tgt", 64)
    val got = Selection.scoreWith(paritySet, "doc_id", "text", table)
    val want = columnScores(paritySet, table.lwMicro)
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)))
    val g = got.orderBy($"doc_id").collect().toSeq
    assert(g == want.orderBy($"doc_id").collect().toSeq)
    assert(g.length > 500)
    assert(g.filter(_.getLong(0) == 1000006L).map(_.toSeq) ==
      Seq(Seq(1000006L, null, null, null)))
  }

  test("featureCounts counts unigrams + adjacent bigrams, bounded by buckets") {
    val t = Selection.dsirTableLabeled(corpus, "text", "is_tgt", B)
    // total features = sum over docs of (n + max(n-1, 0))
    val expected = Seq(3, 3, 4, 3, 2).map(n => n + (n - 1)).sum
    assert(t.nRaw.sum == expected)
    assert(t.lwMicro.length == B && t.nRaw.length == B && t.nTarget.length == B)
    corpus.select($"text").as[String].collect().foreach { text =>
      val n = text.split(" ").length
      val counts = ClassifierImpl.featureCounts(text, B)
      assert(counts.map(_._2).sum == n + (n - 1) && counts.length <= B)
    }
  }

  test("dsirTable weights target-only features above raw-only features") {
    val raw = corpus
    val tgt = corpus.filter($"is_tgt")
    val t = Selection.dsirTable(raw, tgt, "text", B)
    // every bucket some feature hit has the exact smoothed quantized
    // log-ratio; target-heavy buckets must outrank target-absent
    val rows = (0 until B).map(b => (t.nRaw(b), t.nTarget(b), t.lwMicro(b)))
      .filter { case (r, tc, _) => r + tc > 0 }
    val inTgt = rows.filter(_._2 > 0).map(_._3)
    val notTgt = rows.filter(_._2 == 0).map(_._3)
    assert(inTgt.nonEmpty && notTgt.nonEmpty)
    assert(inTgt.min > notTgt.max)
  }

  test("dsirTableLabeled (fused single scan) equals the two-frame dsirTable") {
    val two = Selection.dsirTable(corpus, corpus.filter($"is_tgt"), "text", B)
    val fused = Selection.dsirTableLabeled(corpus, "text", "is_tgt", B)
    assert(two.nRaw.toSeq == fused.nRaw.toSeq)
    assert(two.nTarget.toSeq == fused.nTarget.toSeq)
    assert(two.lwMicro.toSeq == fused.lwMicro.toSeq)
  }

  test("dsirScores ranks target-like docs above off-distribution docs") {
    val s = Selection.dsirScores(corpus, "doc_id", "text", "is_tgt", B)
      .select($"doc_id", $"avg_lw").as[(Long, Double)].collect().toMap
    // doc 4 shares doc 1's text → identical score (content, not label)
    assert(s(4L) == s(1L))
    // target-like docs beat the qq/zz docs
    assert(Seq(1L, 2L).map(s).min > Seq(3L, 5L).map(s).max)
  }

  test("scoreWith is an exact integer sum of per-bucket weights") {
    val tgt = corpus.filter($"is_tgt")
    val table = Selection.dsirTable(corpus, tgt, "text", B)
    val scored = Selection.scoreWith(corpus, "doc_id", "text", table)
      .select($"doc_id", $"n_feats", $"lw_micro").as[(Long, Long, Long)]
      .collect().toMap2
    // recompute every doc's weight by hand from its replayed features
    corpus.select($"doc_id", $"text").as[(Long, String)].collect().foreach {
      case (id, text) =>
        val feats = replayFeatures(text, B)
        assert(scored(id) == ((feats.length.toLong, feats.map(table.lwMicro(_)).sum)))
    }
  }

  private implicit class Map2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = rows.map(r => r._1 -> ((r._2, r._3))).toMap
  }

  test("scoreWith gives held-out unseen buckets the Laplace-smoothed weight, not 0") {
    val tgt = corpus.filter($"is_tgt")
    val table = Selection.dsirTable(corpus, tgt, "text", B)
    val seen = (0 until B).filter(b => table.nRaw(b) + table.nTarget(b) > 0).toSet
    // find a single token whose feature bucket the table never saw
    val novel = (0 until 200).map(i => s"novel$i").find { t =>
      !seen.contains(replayFeatures(t, B).head)
    }.getOrElse(fail(s"all $B buckets occupied — enlarge B for this test"))
    // expected: the table's own smoothing at (n_raw, n_target) = (0, 0)
    val (rt, tt) = (table.nRaw.sum, table.nTarget.sum)
    def qln(n: Long, d: Long): Long =
      math.floor(math.log(n.toDouble / d.toDouble) * 1e6 + 0.5).toLong
    val unseen = qln(1, tt + B) - qln(1, rt + B)
    val held = Seq((9L, novel)).toDF("doc_id", "text") // 1 token → 1 feature
    val got = Selection.scoreWith(held, "doc_id", "text", table)
      .select($"lw_micro").as[Long].head()
    assert(got == unseen, s"unseen-bucket weight: got $got, want $unseen")
  }

  test("perplexityBuckets: per-language equal-count tiers, desc fluency, id ties") {
    // lang en: 4 docs with distinct avg scores; lang fr: 2 docs tied → id order
    val scored = Seq(
      (1L, "en", 10L, 4000000L), // avg 400000.0 → nano 400000000
      (2L, "en", 10L, 3000000L),
      (3L, "en", 10L, 2000000L),
      (4L, "en", 10L, 1000000L),
      (5L, "fr", 10L, 5000000L),
      (6L, "fr", 10L, 5000000L)
    ).toDF("doc_id", "lang", "n_bigrams", "lp_micro")
    val out = Selection.perplexityBuckets(scored, "doc_id", "lang",
        "n_bigrams", "lp_micro", nBuckets = 3)
      .select($"doc_id", $"bucket").as[(Long, Int)].collect().toMap
    // en: 4 docs over 3 buckets → sizes 2,1,1; most fluent first
    assert(out(1L) == 1 && out(2L) == 1 && out(3L) == 2 && out(4L) == 3)
    // fr tie: doc 5 before doc 6
    assert(out(5L) == 1 && out(6L) == 2)
  }

  test("perplexityBuckets avg_nano is the correctly-rounded integer key") {
    val scored = Seq((1L, "en", 3L, 1000001L)).toDF(
      "doc_id", "lang", "n_bigrams", "lp_micro")
    val nano = Selection.perplexityBuckets(scored, "doc_id", "lang",
        "n_bigrams", "lp_micro").select($"avg_nano").as[Long].head()
    // 1000001 * 1e3 / 3 = 333333666.67 → floor(+0.5) = 333333667
    assert(nano == 333333667L)
  }

  // (doc_id, lang, n_bigrams=1000, lp_micro) rows whose avg_nano is
  // exactly -i·1e6 — one value per i, landing in distinct 1e6-wide
  // histogram buckets of the [-64e6, 0) / 64 test grid
  private def gridScored(lang: String, ids: Range) =
    ids.map(i => (i.toLong, lang, 1000L, -i.toLong * 1000000L))

  test("perplexityBucketsBySketch equals exact NTILE on a distinct-bucket grid") {
    // 30 en + 12 fr docs (both divisible by 3), every avg_nano in its
    // own histogram bucket → the sketch thresholds ARE the exact tercile
    // boundaries and the two forms agree row for row
    val scored = (gridScored("en", 1 to 30) ++ gridScored("fr", 41 to 52))
      .toDF("doc_id", "lang", "n_bigrams", "lp_micro")
    val exact = Selection.perplexityBuckets(scored, "doc_id", "lang",
        "n_bigrams", "lp_micro", nBuckets = 3)
      .select($"doc_id", $"bucket".cast("int")).as[(Long, Int)].collect().toMap
    val sketch = Selection.perplexityBucketsBySketch(scored, "doc_id", "lang",
        "n_bigrams", "lp_micro", lo = -64e6, hi = 0.0, nHist = 64, nBuckets = 3)
      .select($"doc_id", $"bucket".cast("int")).as[(Long, Int)].collect().toMap
    assert(sketch == exact)
  }

  test("perplexityBucketsBySketch diverges from NTILE only inside threshold buckets") {
    // one coarse bucket (width 16e6) holds several docs, so a tercile
    // boundary falls INSIDE it: every doc of that bucket takes the upper
    // tier, and all other docs still match the exact form
    val scored = gridScored("en", 1 to 30)
      .toDF("doc_id", "lang", "n_bigrams", "lp_micro")
    val exact = Selection.perplexityBuckets(scored, "doc_id", "lang",
        "n_bigrams", "lp_micro", nBuckets = 3)
      .select($"doc_id", $"bucket".cast("int")).as[(Long, Int)].collect().toMap
    val out = Selection.perplexityBucketsBySketch(scored, "doc_id", "lang",
        "n_bigrams", "lp_micro", lo = -64e6, hi = 0.0, nHist = 4, nBuckets = 3)
      .select($"doc_id", $"bucket".cast("int")).as[(Long, Int)].collect().toMap
    // histogram bucket of doc i on the coarse grid: floor((64-i)/16)
    def hb(i: Long): Long = (64 - i) / 16
    val thresholdBuckets = out.keys.map(hb).toSeq.distinct.filter { b =>
      // a bucket is a threshold bucket iff docs in it disagree in `exact`
      // tiers or it contains an exact boundary — detect via divergence
      out.keys.filter(hb(_) == b).exists(id => out(id) != exact(id))
    }
    out.keys.foreach { id =>
      if (!thresholdBuckets.contains(hb(id)))
        assert(out(id) == exact(id), s"doc $id diverged outside a threshold bucket")
      else
        assert(out(id) <= exact(id),
          s"doc $id: boundary bucket must take the UPPER tier (${out(id)} vs ${exact(id)})")
    }
    // the coarse grid genuinely exercises the divergence path
    assert(thresholdBuckets.nonEmpty)
    // and whole threshold buckets are single-tier in the sketch form
    thresholdBuckets.foreach { b =>
      val tiers = out.keys.filter(hb(_) == b).map(out).toSet
      assert(tiers.size == 1, s"threshold bucket $b split tiers: $tiers")
    }
  }

  test("q141 sketch terciles track q137 exact terciles on the documents table") {
    val dir = "/root/testdata/sf0.001"
    val exact = graft.SparkEntry.queries("q137_ccnet_buckets")(spark, dir)
      .select($"doc_id", $"bucket").as[(Long, Long)].collect().toMap
    val sk = graft.SparkEntry.queries("q141_ccnet_buckets_sketch")(spark, dir)
      .select($"doc_id", $"bucket").as[(Long, Long)].collect().toMap
    assert(sk.keySet == exact.keySet)
    val agree = sk.keys.count(id => sk(id) == exact(id))
    val frac = agree.toDouble / sk.size
    assert(frac >= 0.9, s"sketch/exact tercile agreement $frac < 0.9")
  }

  test("blendByRank sums exact percentile micro-ranks and keeps top-k") {
    val df = Seq((1L, "en", 10L, 1L), (2L, "en", 20L, 5L), (3L, "en", 30L, 9L),
      (9L, "zh", 7L, 7L)).toDF("id", "lang", "a", "b")
    val got = Selection.blendByRank(df, "id", "lang", "a", "b", k = 2)
      .select($"id", $"pct_a", $"pct_b", $"blend_u", $"rk")
      .as[(Long, Long, Long, Long, Int)].collect().map(r => r._1 -> r).toMap
    // en (n=3): pct steps 0 / 500000 / 1000000 on both signals.
    assert(got(3L) == ((3L, 1000000L, 1000000L, 2000000L, 1)))
    assert(got(2L) == ((2L, 500000L, 500000L, 1000000L, 2)))
    assert(!got.contains(1L)) // rk 3 > k
    // singleton group: both percentiles pin to 1e6.
    assert(got(9L) == ((9L, 1000000L, 1000000L, 2000000L, 1)))
  }

  test("blendByRank weights scale the blend") {
    val df = Seq((1L, "en", 1L, 9L), (2L, "en", 9L, 1L)).toDF("id", "lang", "a", "b")
    val got = Selection.blendByRank(df, "id", "lang", "a", "b", k = 2,
      wA = 3L, wB = 1L)
      .select($"id", $"blend_u", $"rk").as[(Long, Long, Int)].collect()
      .map(r => r._1 -> r).toMap
    // n=2: pcts are 0 or 1e6. id2: 3*1e6 + 0; id1: 0 + 1e6.
    assert(got(2L) == ((2L, 3000000L, 1)))
    assert(got(1L) == ((1L, 1000000L, 2)))
  }

  private def blendCols(df: org.apache.spark.sql.DataFrame) =
    df.select($"id", $"pct_a", $"pct_b", $"blend_u", $"rk".cast("int"))
      .as[(Long, Long, Long, Long, Int)].collect().map(r => r._1 -> r).toMap

  test("blendByRankBySketch equals blendByRank on unit-width tie-free grids") {
    // distinct signal values inside unit-width buckets → every bucket's
    // min-rank percentile IS the row's exact rank percentile, so the two
    // forms agree bit for bit, top-k membership included
    val df = ((1 to 17).map(i => (i.toLong, "en", (i * 3 % 17).toLong,
      (i * 7 % 17).toLong)) ++
      Seq((100L, "fr", 1L, 2L), (101L, "fr", 3L, 1L)))
      .toDF("id", "lang", "a", "b")
    val exact = blendCols(Selection.blendByRank(df, "id", "lang", "a", "b", k = 5))
    val sketch = blendCols(Selection.blendByRankBySketch(df, "id", "lang",
      "a", "b", k = 5, loA = 0L, widthA = 1L, nHistA = 32,
      loB = 0L, widthB = 1L, nHistB = 32, blendWidth = 1L))
    assert(sketch == exact)
  }

  test("blendByRankBySketch gives value ties the bucket's min-rank percentile") {
    // a-signal tie at 5: exact splits ranks 2/3 by id (pcts 333333 and
    // 666667); the value-based sketch gives BOTH the min-rank pct 333333
    val df = Seq((1L, "en", 1L, 10L), (2L, "en", 5L, 20L),
      (3L, "en", 5L, 30L), (4L, "en", 9L, 40L))
      .toDF("id", "lang", "a", "b")
    val exact = blendCols(Selection.blendByRank(df, "id", "lang", "a", "b", k = 4))
    val sketch = blendCols(Selection.blendByRankBySketch(df, "id", "lang",
      "a", "b", k = 4, loA = 0L, widthA = 1L, nHistA = 16,
      loB = 0L, widthB = 1L, nHistB = 64, blendWidth = 1L))
    assert(sketch(2L)._2 == sketch(3L)._2, "tied values must share pct_a")
    assert(sketch(2L)._2 == math.min(exact(2L)._2, exact(3L)._2))
    // the tie-free rows still match the exact form exactly
    assert(sketch(1L)._2 == exact(1L)._2 && sketch(4L)._2 == exact(4L)._2)
    assert(sketch(1L)._3 == exact(1L)._3 && sketch(4L)._3 == exact(4L)._3)
  }

  test("blendByRankBySketch drops NULL-part rows (documented delta) without NPE") {
    // the exact form keeps nulls as their own rank partition; the sketch
    // form drops them at ingestion (equi-join null semantics + the
    // threshold map's non-null key contract) — pinned here so the
    // divergence stays deliberate
    val df = Seq((1L, Option("en"), 1L, 1L), (2L, Option("en"), 2L, 2L),
      (3L, Option.empty[String], 9L, 9L))
      .toDF("id", "lang", "a", "b")
    val got = blendCols(Selection.blendByRankBySketch(df, "id", "lang",
      "a", "b", k = 10, loA = 0L, widthA = 1L, nHistA = 16,
      loB = 0L, widthB = 1L, nHistB = 16, blendWidth = 1L))
    assert(got.keySet == Set(1L, 2L), "null-part row must be dropped, not NPE")
  }

  test("blendByRankBySketch rejects a histogram grid that overflows 2^53") {
    val df = Seq((1L, "en", 1L, 1L)).toDF("id", "lang", "a", "b")
    val e = intercept[IllegalArgumentException] {
      Selection.blendByRankBySketch(df, "id", "lang", "a", "b", k = 1,
        loA = 0L, widthA = 1L << 50, nHistA = 16,
        loB = 0L, widthB = 1L, nHistB = 16, blendWidth = 1L)
    }
    assert(e.getMessage.contains("2^53"))
  }

  test("blendByRankBySketch keeps every row of a part smaller than k") {
    val df = Seq((1L, "en", 1L, 1L), (2L, "en", 2L, 2L)).toDF("id", "lang", "a", "b")
    val got = blendCols(Selection.blendByRankBySketch(df, "id", "lang",
      "a", "b", k = 10, loA = 0L, widthA = 1L, nHistA = 8,
      loB = 0L, widthB = 1L, nHistB = 8, blendWidth = 1L))
    assert(got.keySet == Set(1L, 2L))
    assert(got(2L)._5 == 1 && got(1L)._5 == 2) // higher blend ranks first
  }

  test("percentileBySketch on a unit grid == the cumulative-count percentile") {
    val rnd = new scala.util.Random(9)
    val rows = (1 to 400).map(i => (i.toLong, s"g${i % 3}", rnd.nextInt(64).toLong))
    val df = rows.toDF("id", "g", "v").repartition(5)
    val got = Selection.percentileBySketch(df, "g", "v",
        lo = 0L, width = 1L, nBuckets = 64)
      .select($"id", $"pct_micro").as[(Long, Long)].collect().toMap
    // brute force: cum(<= v) * 1e6 div n per group
    val want = rows.groupBy(_._2).flatMap { case (_, rs) =>
      val n = rs.size.toLong
      rs.map { case (id, _, v) =>
        id -> rs.count(_._3 <= v).toLong * 1000000L / n
      }
    }
    assert(got == want)
  }

  test("percentileBySketch keeps order on a coarse grid and clamps edges") {
    val df = Seq((1L, "g", -5L), (2L, "g", 10L), (3L, "g", 900L),
      (4L, "g", 1500L), (5L, "g", 2000L)).toDF("id", "g", "v")
    val got = Selection.percentileBySketch(df, "g", "v",
        lo = 0L, width = 64L, nBuckets = 16)
      .select($"id", $"pct_micro").as[(Long, Long)].collect().toMap
    // -5 clamps into bucket 0 with 10; 1500 and 2000 clamp into the top
    // bucket with nothing between them and 900's bucket left distinct
    assert(got(1L) == got(2L) && got(4L) == got(5L))
    assert(got(1L) < got(3L) && got(3L) < got(4L) && got(5L) == 1000000L)
  }

  test("percentileBySketchAuto discovers a unit grid on a small range and equals the manual call") {
    val df = Seq((1L, "g", 3L), (2L, "g", 9L), (3L, "g", 9L), (4L, "g", 30L))
      .toDF("id", "g", "v")
    val (auto, grid) = Selection.percentileBySketchAuto(df, "g", "v", 32)
    assert(grid.width == 1L, s"range 27 <= 32 buckets must fit a unit grid: $grid")
    val manual = Selection.percentileBySketch(df, "g", "v",
      grid.lo, grid.width, grid.nBuckets)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select($"id", $"pct_micro").as[(Long, Long)].collect().toSet
    assert(rows(auto) == rows(manual))
    // unit grid == exact cumulative percentile: ties share, max hits 1e6
    assert(rows(auto) == Set((1L, 250000L), (2L, 750000L), (3L, 750000L),
      (4L, 1000000L)))
  }

  test("q169 sketch blend tracks q164 exact blend on the documents table") {
    val dir = "/root/testdata/sf0.001"
    val exact = graft.SparkEntry.queries("q164_score_blend")(spark, dir)
      .select($"doc_id").as[Long].collect().toSet
    val sk = graft.SparkEntry.queries("q169_score_blend_sketch")(spark, dir)
      .select($"doc_id").as[Long].collect().toSet
    assert(sk.size == exact.size)
    val overlap = (sk intersect exact).size.toDouble / exact.size
    assert(overlap >= 0.9, s"sketch/exact top-k overlap $overlap < 0.9")
  }
}

object SelectionSpec {

  /** DSIR's feature buckets in plain Scala, written apart from graft's
    * kernels as the oracle states them: SQL `trim` (spaces only), a
    * `\s+` split keeping empty fields, every token and then every
    * adjacent pair joined by one space, each bucketed as
    * `CAST('0x' || substr(md5(f), 1, 15) AS BIGINT) % buckets`. Null text
    * has no features.
    */
  def replayFeatures(text: String, buckets: Int): Seq[Int] =
    if (text == null) Nil
    else {
      val toks = text.replaceAll("^ +| +\\z", "").split("\\s+", -1).toSeq
      (toks ++ toks.zip(toks.drop(1)).map { case (a, b) => s"$a $b" })
        .map(bucket(_, buckets))
    }

  private def bucket(feature: String, buckets: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(feature.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    java.lang.Math.floorMod(java.lang.Long.parseLong(hex.take(15), 16),
      buckets.toLong).toInt
  }
}
