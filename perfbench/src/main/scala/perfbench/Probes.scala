package perfbench

import org.apache.spark.sql.SparkSession

import graft.Tables
import graft.functions.{ClassifierImpl, RepetitionImpl, XxMinhashImpl}
import graft.operators.Repetition

/** Direct probes of the text kernels on the run's generated documents:
  * microseconds per document, median of five timed repetitions after one
  * warm-up, each repetition looping over every document enough times to
  * last at least `minMs`.
  */
object Probes {
  private val minMs = 60.0

  def kernels(spark: SparkSession, dir: String): Map[String, Double] = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select("text").as[String].collect()
    val rng = new java.util.Random(7L)
    val weights = Array.fill(64)(rng.nextInt(2000001).toLong - 1000000L)
    var sink = 0L
    def usPerDoc(body: String => Long): Double = {
      def once(): Double = {
        var reps = 0
        val t0 = System.nanoTime()
        while ((System.nanoTime() - t0) / 1e6 < minMs || reps == 0) {
          docs.foreach(t => sink += body(t)); reps += 1
        }
        (System.nanoTime() - t0) / 1e3 / (reps.toLong * docs.length)
      }
      once()
      val xs = Seq.fill(5)(once()).sorted
      xs(2)
    }
    val keep = usPerDoc(t => if (RepetitionImpl.keep(t, 0.6, 0.18, 0.4)) 1L else 0L)
    val score = usPerDoc(t => ClassifierImpl.scoreMicro(t, weights)._2)
    val band = usPerDoc(t => XxMinhashImpl.bandRows(t, 5, 64, 16).size.toLong)
    // the column-fold form runs as a Spark projection, to full results
    val df = Repetition.ngramStats(Tables.documents(spark, dir), "doc_id", "text", Seq(1, 2, 3))
    def fold(): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e3 / docs.length
    }
    fold()
    val folds = Seq.fill(3)(fold()).sorted
    if (sink == 42L) System.err.println("") // keeps the kernel results live
    Map("functions.repetition_us_per_doc" -> keep,
      "functions.classifier_us_per_doc" -> score,
      "functions.minhash_us_per_doc" -> band,
      "operators.ngram_stats_us_per_doc" -> folds(1),
      "probe_docs" -> docs.length.toDouble)
  }
}
