package graft

import graft.plans.PlanWalk
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.util.control.NonFatal

/** Measurement tool (guide §1: measure first): per-query JOB/STAGE
  * accounting for the bench surface. For each query name passed as an
  * arg (none = every query), runs the query like Bench does (the same
  * warmup, then clearCache + gc and `.count()`) and reports wall seconds
  * next to the number of Spark jobs, stages, tasks, summed executor task
  * time, and shuffle read/write bytes the action triggered. The split
  * tells WHERE a slow query spends: `wall >> taskTime/cores` = per-job
  * fixed overhead (iteration rounds, actions, barriers — the 100 TB pass
  * count), while `taskTime ~ wall*cores` = real distributed compute.
  *
  * A first argument that names no query is an output directory: each
  * query's job lines and its formatted plan go to `<dir>/<query>.txt`,
  * the plan evidence the optimization rounds commit under plans/rNN/.
  * The timed `.count()` runs a separate aggregate plan, as Bench's does,
  * so after the last run `PlanWalk.finalPlan` runs the query's own plan
  * once, untimed: the written plan is AQE's final plan
  * (`isFinalPlan=true`), the one PlanGateSpec gates.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt 'runMain graft.ProfJobs [outDir] q85_semantic_dedup ...'
  */
object ProfJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = args.headOption.filterNot(SparkEntry.queries.contains)
    val named = args.drop(outDir.size).toSeq
    val names = if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0L)
    val shufR = new AtomicLong(0L)
    val shufW = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskTimeMs.addAndGet(m.executorRunTime)
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    Bench.warmUp(spark, sfDir)

    val runs = sys.env.get("SPARK_GRAFT_PROF_RUNS")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption).getOrElse(2)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val report = new StringBuilder
      try (1 to runs).foreach { i =>
        spark.catalog.clearCache()
        System.gc()
        // settle the listener bus so counts attribute to THIS run
        Thread.sleep(500)
        jobs.set(0); stages.set(0); tasks.set(0)
        taskTimeMs.set(0); shufR.set(0); shufW.set(0)
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val rows = df.count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500)
        val line = f"PROFJOBS $name run$i wall=$wall%.3f s jobs=${jobs.get}" +
          f" stages=${stages.get} tasks=${tasks.get}" +
          f" taskTime=${taskTimeMs.get / 1e3}%.2f s" +
          f" shufR=${shufR.get / 1e6}%.1f MB shufW=${shufW.get / 1e6}%.1f MB" +
          f" rows=$rows"
        println(line)
        report ++= line + "\n"
        if (i == runs) {
          PlanWalk.finalPlan(df)
          report ++= "\n" + df.queryExecution.explainString(FormattedMode)
        }
      } catch { case NonFatal(e) =>
        val line = s"PROFJOBS $name FAILED: ${e.getClass.getName}: ${e.getMessage}"
        println(line)
        report ++= line + "\n"
      }
      outDir.foreach { d =>
        Files.writeString(Paths.get(d, s"$name.txt"), report.result())
      }
    }
    spark.stop()
  }
}
