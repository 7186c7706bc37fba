package graft.operators

import java.io.File

import graft.{SparkEntry, SparkSpec}
import graft.plans.PlanWalk
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class RepetitionSpec extends SparkSpec {
  import spark.implicits._

  test("ngramStats: word-level counts, dup occurrences, modal gram") {
    // "a b a b a c": 6 words, 3 distinct; a×3 b×2 c×1
    //   dup_occ = (3-1)+(2-1) = 3; dup_chars = 3*1 + 2*1 = 5
    //   top word = "a" (cnt 3)
    val df = Seq((1L, "a b a b a c")).toDF("doc_id", "text")
    val r = Repetition.ngramStats(df, "doc_id", "text", Seq(1)).collect()(0)
    assert(r.getAs[Long]("n1_total") == 6L)
    assert(r.getAs[Long]("n1_distinct") == 3L)
    assert(r.getAs[Long]("n1_dup_occ") == 3L)
    assert(r.getAs[Long]("n1_dup_chars") == 5L)
    assert(r.getAs[Long]("n1_top_cnt") == 3L)
    assert(r.getAs[String]("n1_top_gram") == "a")
    assert(r.getAs[Long]("n1_top_chars") == 3L)
  }

  test("ngramStats: bigram level and tie-break to lexicographically smallest") {
    // "x y x y z x y": bigrams = [x y, y x, x y, y z, z x, x y] →
    //   "x y"×3, "y x"×1, "y z"×1, "z x"×1: total 6, distinct 4,
    //   dup_occ 2, dup_chars 3*3=9, top ("x y", 3)
    val df = Seq((1L, "x y x y z x y")).toDF("doc_id", "text")
    val r = Repetition.ngramStats(df, "doc_id", "text", Seq(2)).collect()(0)
    assert(r.getAs[Long]("n2_total") == 6L)
    assert(r.getAs[Long]("n2_distinct") == 4L)
    assert(r.getAs[Long]("n2_dup_occ") == 2L)
    assert(r.getAs[Long]("n2_dup_chars") == 9L)
    assert(r.getAs[Long]("n2_top_cnt") == 3L)
    // tie case: "b a b a" → bigrams [b a, a b, b a]? no — [b a, a b, b a]
    // tie between nothing; use "c d c d" → [c d, d c, c d]: top "c d"×2.
    // Strict-> tie: "b b a a b b" 1-grams: a×2 b×4 → top b; tie check:
    val tie = Seq((1L, "b a b a")).toDF("doc_id", "text")
    val t = Repetition.ngramStats(tie, "doc_id", "text", Seq(1)).collect()(0)
    // a×2, b×2 — tie on count 2 → lexicographically smallest "a" wins
    assert(t.getAs[Long]("n1_top_cnt") == 2L)
    assert(t.getAs[String]("n1_top_gram") == "a")
  }

  test("ngramStats: short/empty docs degrade to zeros") {
    val df = Seq((1L, "only two"), (2L, "one")).toDF("doc_id", "text")
    val m = Repetition.ngramStats(df, "doc_id", "text", Seq(3))
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n3_total")).toMap
    assert(m(1L) == 0L && m(2L) == 0L)
  }

  test("filterByRepetition drops degenerate repeats, keeps normal text") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near a quiet river"),
      (2L, "spam spam spam spam spam spam spam spam spam spam")
    ).toDF("doc_id", "text")
    val kept = Repetition.filterByRepetition(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L))
  }

  /** Independent reference for [[Repetition.ngramStats]], in the SQL
    * oracle's shape: explode each document's n-grams, count per
    * (doc, gram), aggregate per doc, and take the modal gram as the
    * `row_number() = 1` row ordered by (cnt DESC, gram). Documents
    * without grams report zeros and an empty modal gram.
    */
  private def referenceStats(docs: DataFrame, ns: Seq[Int]): DataFrame = {
    val words = docs.select($"doc_id", split(trim($"text"), "\\s+").as("w"))
    ns.map { n =>
      val p = s"n${n}_"
      val grams = words.filter(size($"w") >= n)
        .select($"doc_id", $"w",
          explode(sequence(lit(1), size($"w") - (n - 1))).as("i"))
        .select($"doc_id", concat_ws(" ",
          (0 until n).map(j => element_at($"w", $"i" + j)): _*).as("g"))
      val counts = grams.groupBy($"doc_id", $"g").agg(count(lit(1)).as("cnt"))
      val totals = counts.groupBy($"doc_id").agg(
        sum($"cnt").as(p + "total"),
        count(lit(1)).as(p + "distinct"),
        sum(when($"cnt" > 1, $"cnt" - 1).otherwise(0L)).as(p + "dup_occ"),
        sum(when($"cnt" > 1, $"cnt" * length($"g")).otherwise(0L))
          .as(p + "dup_chars"))
      val top = counts
        .withColumn("rn", row_number().over(
          Window.partitionBy($"doc_id").orderBy($"cnt".desc, $"g")))
        .filter($"rn" === 1)
        .select($"doc_id", $"cnt".as(p + "top_cnt"),
          ($"cnt" * length($"g")).as(p + "top_chars"), $"g".as(p + "top_gram"))
      val longs = Seq("total", "distinct", "dup_occ", "dup_chars",
        "top_cnt", "top_chars").map(p + _)
      docs.select($"doc_id")
        .join(totals, Seq("doc_id"), "left")
        .join(top, Seq("doc_id"), "left")
        .select(($"doc_id" +: longs.map(c =>
            coalesce(col(c).cast("long"), lit(0L)).as(c))) :+
          coalesce(col(p + "top_gram"), lit("")).as(p + "top_gram"): _*)
    }.reduce(_.join(_, Seq("doc_id")))
  }

  /** The sf0.001 fixture documents plus edge rows: null, empty and
    * whitespace-only text, a leading tab, fewer than n tokens, count ties
    * and non-BMP text.
    */
  private lazy val paritySet: DataFrame = {
    val fixtures = new File("/root/testdata/sf0.001/documents.parquet")
    assert(fixtures.exists, s"fixtures not found at ${fixtures.getCanonicalPath}")
    val emoji = "\uD83D\uDE00"
    spark.read.parquet(fixtures.getCanonicalPath)
      .select($"doc_id", $"text")
      .union(Seq(
        (999990L, null: String),
        (999991L, ""),
        (999992L, "   "),
        (999993L, " \t \t "),
        (999994L, "\tfoo bar foo\tbar"),
        (999995L, "one"),
        (999996L, "only two"),
        (999997L, "b a b a c c"),
        // U+1F600 and U+FF01 tie at 3: one character each, and U+FF01 is
        // the smaller as UTF-8 (EF BC 81 < F0 9F 98 80), not as UTF-16
        (999998L, s"$emoji \uFF01 $emoji \uFF01 x $emoji \uFF01"),
        (999999L, emoji * 15 + " a b c a b c")
      ).toDF("doc_id", "text"))
  }

  test("ngramStats matches the explode + group-by reference, every column") {
    val ns = Seq(1, 2, 3)
    val got = Repetition.ngramStats(paritySet, "doc_id", "text", ns)
    val want = referenceStats(paritySet, ns).select(got.columns.map(col): _*)
    assert(got.schema.map(_.dataType) == want.schema.map(_.dataType))
    val g = got.orderBy($"doc_id").collect().toSeq
    val w = want.orderBy($"doc_id").collect().toSeq
    assert(g.length == w.length && g.length > 500)
    g.zip(w).foreach { case (a, b) => assert(a == b) }
  }

  test("typed filterByRepetition decisions match the fold-derived thresholds") {
    // the typed predicate (RepetitionImpl.keep) must agree row for row
    // with the same thresholds computed from the reference report (an
    // explode + group-by fold over the n-grams); the null-text row drops
    // in both (its character count is NULL), and the 15-emoji row is
    // rejected only when characters are code points
    val typed = Repetition.filterByRepetition(paritySet, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    val rep = referenceStats(paritySet, Seq(1, 2, 3))
      .join(paritySet.select($"doc_id", length($"text").cast("double").as("ch")),
        Seq("doc_id"))
    val fromReference = rep.filter(
        ($"n1_total" === 0 ||
          lit(1.0) - $"n1_distinct" / $"n1_total" <= 0.6) &&
        ($"ch" === 0 || $"n2_top_chars" / $"ch" <= 0.18) &&
        ($"ch" === 0 || $"n3_dup_chars" / $"ch" <= 0.4))
      .select($"doc_id").as[Long].collect().toSet
    assert(typed == fromReference)
    assert(!typed.contains(999990L))
    assert(!typed.contains(999999L))
  }

  test("lineStats counts duplicate lines and their characters") {
    // lines: nav×2 (3 chars each), body×1 → n=3, distinct=2,
    // dup_line_chars=6, total chars 3+3+9=15
    val df = Seq((1L, "nav\nbody body!\nnav")).toDF("doc_id", "text")
    val r = Repetition.lineStats(df, "doc_id", "text").collect()(0)
    assert(r.getAs[Long]("n_lines") == 3L)
    assert(r.getAs[Long]("n_distinct_lines") == 2L)
    assert(r.getAs[Long]("dup_line_chars") == 6L)
    assert(r.getAs[Long]("total_line_chars") == 16L)
  }

  test("dedupLinesWithinDoc keeps first occurrence, preserves order") {
    val df = Seq(
      (1L, "a\nb\na\nc\nb\na"),
      (2L, "x\ny"),
      (3L, "z\nz\nz")
    ).toDF("doc_id", "text")
    val out = Repetition.dedupLinesWithinDoc(df, "doc_id", "text")
      .select($"doc_id", $"text", $"n_lines", $"n_kept")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ("a\nb\nc", 6L, 3L))
    assert(out(2L) == ("x\ny", 2L, 2L))
    assert(out(3L) == ("z", 3L, 1L))
  }

  test("ngramStats plan is shuffle-free (map-only projection)") {
    val df = Seq((1L, "a b c a b")).toDF("doc_id", "text")
    val plan = PlanWalk.finalPlan(Repetition.ngramStats(df, "doc_id", "text")).toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    val plan2 = PlanWalk.finalPlan(
      Repetition.dedupLinesWithinDoc(df, "doc_id", "text")).toString
    assert(!plan2.contains("Exchange"), s"unexpected shuffle:\n$plan2")
  }

  test("q131 and q135 plan no higher-order function over the text") {
    // the report runs as a typed kernel; an interpreted aggregate() or
    // transform() fold over the documents' text in either plan is the
    // cost this pins out. q131 plans none at all; q135's only ones are
    // the URL canonicalizer's query-parameter filter(), which reads the
    // url, not the text.
    val dir = "/root/testdata/sf0.001"
    def hofs(q: String): Seq[HigherOrderFunction] =
      SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
        .collectWithSubqueries { case p => p }
        .flatMap(_.expressions.flatMap(_.collect { case h: HigherOrderFunction => h }))
    val q131 = hofs("q131_repetition")
    assert(q131.isEmpty, s"q131 plans higher-order functions: ${q131.mkString("; ")}")
    val q135 = hofs("q135_host_signals").filter(_.references.exists(_.name == "text"))
    assert(q135.isEmpty, s"q135 folds over the text: ${q135.mkString("; ")}")
  }
}
