package graft.operators

import graft.SparkSpec
import graft.functions.{TextFunctions, TextFunctionsSpec}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class ChunkingSpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(23L + i)))

  private val docGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(1, 25)
    docs <- Gen.listOfN(n, for {
      id <- Gen.choose(0L, 1000L)
      toks <- Gen.choose(0, 90)
      words <- Gen.listOfN(toks, Gen.oneOf("aa", "bb", "cc", "dd"))
    } yield (id, words.mkString(" ")))
  } yield docs.distinctBy(_._1)

  test("chunks reconstruct the token stream for random size/stride") {
    for {
      docs <- samples(docGen, 10)
      (size, stride) <- Seq((8, 8), (8, 5), (32, 24), (3, 1))
    } {
      val out = Chunking.slidingTokenChunks(docs.toDF("id", "text"),
          "id", "text", size, stride)
        .as[(Long, Long, Long, String)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
      for ((id, text) <- docs) {
        val toks = TextFunctions.tokens(text).toSeq
        val chunks = out(id)
        // chunk count formula
        assert(chunks.length == Chunking.numChunks(toks.length, size, stride))
        chunks.foreach { case (_, i, ct, ctext) =>
          val want = toks.slice(i.toInt * stride,
            math.min(i.toInt * stride + size, toks.length))
          assert(ctext == want.mkString(" "), s"id=$id i=$i")
          assert(ct == want.length)
        }
        // full-stride prefixes of consecutive chunks tile the doc: every
        // token index is covered by at least one chunk
        val covered = chunks.flatMap { case (_, i, ct, _) =>
          (i.toInt * stride) until (i.toInt * stride + ct.toInt)
        }.toSet
        assert(covered == toks.indices.toSet, s"id=$id coverage gap")
      }
    }
  }

  test("edge whitespace and null text chunk as Spark's TextFunctions.tokens splits them") {
    val docs = TextFunctionsSpec.edgeRows.toDF("id", "text")
    val toks = docs.select($"id", TextFunctions.tokens($"text"))
      .as[(Long, Seq[String])].collect().sortBy(_._1)
    for ((size, stride) <- Seq((2, 1), (3, 3), (32, 24))) {
      val got = Chunking.slidingTokenChunks(docs, "id", "text", size, stride)
        .as[(Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2)).toSeq
      val want = toks.toSeq.flatMap {
        case (_, null) => Nil // null text: no chunk rows
        case (id, t) =>
          (0 until Chunking.numChunks(t.length, size, stride)).map { i =>
            val c = t.slice(i * stride, i * stride + size)
            (id, i.toLong, c.length.toLong, c.mkString(" "))
          }
      }
      assert(got == want, s"size=$size stride=$stride")
    }
  }

  test("chunking is stream/batch unified: same output on a MemoryStream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = Seq((1L, "a b c d e f g h i"), (2L, "x y"), (3L, "p q r s t"))
    val mem = MemoryStream[(Long, String)](spark)
    mem.addData(docs: _*)
    val sq = Chunking.slidingTokenChunks(
        mem.toDF.toDF("id", "text"), "id", "text", 4, 3)
      .writeStream.format("memory").queryName("chunk_stream")
      .outputMode("append").start()
    try {
      sq.processAllAvailable()
      val streamed = spark.table("chunk_stream")
        .as[(Long, Long, Long, String)].collect().toSet
      val batch = Chunking.slidingTokenChunks(docs.toDF("id", "text"),
          "id", "text", 4, 3)
        .as[(Long, Long, Long, String)].collect().toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally sq.stop()
  }

  test("stride == size gives disjoint chunks; short docs give exactly one") {
    val docs = Seq((1L, "a b c d e f g"), (2L, "x"), (3L, "")).toDF("id", "text")
    val out = Chunking.slidingTokenChunks(docs, "id", "text", 3, 3)
      .as[(Long, Long, Long, String)].collect()
    assert(out.count(_._1 == 1L) == 3)
    assert(out.filter(_._1 == 1L).map(_._3).sum == 7)
    assert(out.count(_._1 == 2L) == 1)
    assert(out.count(_._1 == 3L) == 1) // "" tokenizes to [""] like the oracle
  }
}
