package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector column math over Array[Float]/Array[Double] columns.
  *
  * Pure `Column` composition (`zip_with` + `aggregate`) — codegen'd,
  * deterministic left-to-right accumulation (stable across runs, which
  * keeps rounded results oracle-comparable).
  */
object VectorFunctions {

  /** Cast a float vector to double for stable arithmetic. */
  def toDoubleVec(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product (sequential left fold — deterministic). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** L2 norm. */
  def l2Norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Signed random-hyperplane LSH signature for cosine similarity: `planes`
    * pseudo-random Rademacher (+1/-1) hyperplanes derived from xxhash64 of
    * (plane, dim) — deterministic, no stored model. Returns a bit array
    * (1 = positive side). Vectors with high cosine share most bits, so
    * grouping on a prefix of the signature buckets near-neighbors without
    * the O(n^2) pair join.
    */
  def hyperplaneSignature(v: Column, planes: Int): Column =
    array((0 until planes).map { p =>
      val proj = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1), (x, i) =>
          x * when(pmod(xxhash64(lit(p), i), lit(2)) === 0, lit(1.0)).otherwise(lit(-1.0))),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1)).otherwise(lit(0))
    }: _*)

  /** Pack a bit-array signature into a bucket id string. */
  def signatureBucket(sig: Column): Column = concat_ws("", sig)
}
