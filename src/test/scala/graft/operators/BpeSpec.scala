package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Independent single-node BPE trainer (plain collections, no Spark):
    * the semantics oracle for Bpe.train.
    */
  private def referenceTrain(texts: Seq[String], nMerges: Int,
      minFreq: Long = 2L): Seq[(String, String, Long)] = {
    var words: Map[Vector[String], Long] = texts
      .flatMap(_.trim.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) =>
        w.map(_.toString).toVector -> ws.size.toLong
      }
    val out = Seq.newBuilder[(String, String, Long)]
    var continue = true
    var round = 0
    while (round < nMerges && continue) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      words.foreach { case (syms, f) =>
        syms.sliding(2).foreach {
          case Vector(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + f
          case _ =>
        }
      }
      if (counts.isEmpty) continue = false
      else {
        val ((a, b), c) = counts.toSeq.minBy { case ((x, y), n) => (-n, x, y) }
        if (c < minFreq) continue = false
        else {
          out += ((a, b, c))
          words = words.map { case (syms, f) =>
            val acc = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
                acc += (a + b); i += 2
              } else { acc += syms(i); i += 1 }
            }
            acc.result() -> f
          }.groupBy(_._1).map { case (s, vs) => s -> vs.map(_._2).sum }
        }
      }
      round += 1
    }
    out.result()
  }

  test("train matches the single-node reference on a hand corpus") {
    val texts = Seq(
      "low lower lowest low low",
      "newer newest new low news",
      "wider widest wide wider")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Bpe.train(docs, "text", nMerges = 10)
    val want = referenceTrain(texts, nMerges = 10)
    assert(got == want, s"\ngot:  $got\nwant: $want")
  }

  test("train releases every word table it pins") {
    val docs = Seq("low lower lowest low low", "newer newest new low news")
      .toDF("text")
    val leaked = pinnedBy(Bpe.train(docs, "text", nMerges = 6))
    assert(leaked.isEmpty, s"RDDs still pinned: $leaked")
  }

  test("train matches the reference on real documents (8 merges)") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val texts = docs.select($"text").as[String].collect().toSeq
    val got = Bpe.train(docs, "text", nMerges = 8)
    val want = referenceTrain(texts, nMerges = 8)
    assert(got == want)
    assert(got.size == 8, s"expected 8 merges on this corpus: ${got.size}")
    // counts are monotone under merging only per-pair; the global argmax
    // sequence must at least be positive and >= minFreq
    assert(got.forall(_._3 >= 2))
  }

  test("greedy left-to-right: 'aaa' with merge (a,a) becomes [aa, a]") {
    val docs = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val out = Bpe.tokenize(docs, "text", Seq(("a", "a")))
      .select($"bpe").as[Seq[String]].head()
    assert(out == Seq("aa", "a", "aa", "a"))
  }

  test("tokenize (column fold) == tokenizeTyped (production loop) on real docs") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    val merges = Bpe.train(docs, "text", nMerges = 6).map(m => (m._1, m._2))
    val a = Bpe.tokenize(docs, "text", merges)
      .select($"doc_id", $"bpe").as[(Long, Seq[String])].collect().toMap
    val b = Bpe.tokenizeTyped(docs, "text", merges)
      .select($"doc_id", $"bpe").as[(Long, Seq[String])].collect().toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (id, syms) =>
      assert(syms == b(id), s"doc $id: column $syms vs typed ${b(id)}")
    }
  }

  test("tokenization is lossless: symbols rejoin to the original characters") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    val merges = Bpe.train(docs, "text", nMerges = 6).map(m => (m._1, m._2))
    val bad = Bpe.tokenize(docs, "text", merges)
      .withColumn("rejoined", array_join($"bpe", ""))
      .withColumn("orig", regexp_replace(trim($"text"), "\\s+", ""))
      .filter($"rejoined" =!= $"orig").count()
    assert(bad == 0, "BPE must be a reversible segmentation")
  }

  test("wordFrequencies drives the one corpus-scale shuffle; pairCounts aggregates freq") {
    val docs = Seq((1L, "ab ab ba")).toDF("doc_id", "text")
    val wf = Bpe.wordFrequencies(docs, "text")
      .withColumn("syms", Bpe.charSymbols($"word"))
    val pc = Bpe.pairCounts(wf).as[(String, String, Long)].collect().toSet
    assert(pc == Set(("a", "b", 2L), ("b", "a", 1L)))
  }
}
