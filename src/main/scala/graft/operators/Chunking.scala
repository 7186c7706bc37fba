package graft.operators

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Overlapping token-window chunking — the document splitter feeding
  * RAG indexing and fixed-context pretraining: chunk i of a doc covers
  * tokens [i*stride, i*stride + size). A doc shorter than `size` yields
  * exactly one (short) chunk; no empty tail chunks. Null text yields no
  * chunk rows.
  *
  * Scale shape: one typed flatMap (narrow, no shuffle) — output rows =
  * input tokens x (size / stride) overlap factor. The chunk loop reuses
  * one token array per doc; chunk text is materialized once per chunk
  * (unavoidable — it IS the output). Tokens are
  * [[graft.functions.TextFunctions.tokens]], the rule q76's oracle
  * replays, so edge tabs and newlines give the oracle's empty tokens.
  * (On null text the oracle SQL emits one `(doc_id, 0, 32, NULL)` row,
  * because DuckDB's `greatest`/`least` skip NULL; no fixture has one.)
  */
object Chunking {

  /** Number of chunks for an n-token doc: 1 + ceil((n-size)/stride)
    * clamped at 1 (trunc vs floor division agree after the clamp —
    * the numerator is only negative when the answer is 0).
    */
  def numChunks(n: Int, size: Int, stride: Int): Int =
    1 + math.max(0, (n - size + stride - 1) / stride)

  /** Explode docs into (id, chunk_idx, chunk_tokens, chunk_text). */
  def slidingTokenChunks(df: DataFrame, idCol: String, textCol: String,
      size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = tokens(text)
        val n = toks.length
        // tokens is empty only for null text: no chunks
        if (n == 0) Iterator.empty
        else (0 until numChunks(n, size, stride)).iterator.map { i =>
          val start = i * stride
          val end = math.min(start + size, n)
          (id, i.toLong, (end - start).toLong,
            toks.slice(start, end).mkString(" "))
        }
      }
      .toDF(idCol, "chunk_idx", "chunk_tokens", "chunk_text")
  }
}
