package graft

import java.io.File

import org.apache.spark.metrics.source.CodegenMetrics

/** Pins codegen reuse across repeated queries: tune() sizes Spark's
  * generated-class cache ([[GraftSession.codegenCacheEntries]]) to hold
  * graft's working set, so running the same queries again compiles
  * (almost) nothing. With Spark's default of 100 entries the working set
  * below (216-252 compiles in a fresh JVM; 160-185 after other suites
  * have compiled part of it) does not fit, and every repeat recompiles
  * nearly all of it: 214-221 compiles on a repeated pass, against 4-12
  * at 1000 entries.
  *
  * The working set is the eleven text-kernel queries of the benchmark's
  * `text_kernels` workload, each written to full results (the `noop`
  * sink) over the sf0.01 fixtures. `CodegenMetrics.METRIC_COMPILATION_TIME`
  * records one sample per Janino compile, i.e. per cache miss.
  */
class CodegenReuseSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.01"

  private val textKernels: Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq
    Seq(131, 132, 133, 135, 136, 138, 143, 147, 70, 115, 25).map { n =>
      val prefix = f"q$n%02d_"
      all.filter(_.startsWith(prefix)) match {
        case Seq(one) => one
        case other => fail(s"q$n: expected one query, got $other")
      }
    }
  }

  /** Classes compiled while every text-kernel query runs to full results. */
  private def compilesInPass(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    textKernels.foreach { n =>
      SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save()
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Recompiles allowed on a repeated pass. Measured 4-12 at 1000
    * entries; the few misses are plans whose generated source differs
    * from run to run. Spark's default cache recompiles about 215.
    */
  private val repeatBound = 30L

  test("a repeated pass of the text-kernel queries reuses their compiled code") {
    assert(new File(dir).isDirectory, s"fixtures not found at $dir")
    val first = compilesInPass()
    val second = compilesInPass()
    info(s"compiled $first classes on the first pass, $second on the second")
    assert(first > 100,
      s"first pass compiled $first classes; the working set no longer " +
        "exceeds Spark's default cache of 100, so this spec pins nothing")
    assert(second <= repeatBound,
      s"second pass recompiled $second classes (first pass: $first): the " +
        "codegen cache no longer holds graft's working set")
  }
}
