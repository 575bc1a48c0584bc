package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Scratch single-query profiler (not part of the driver contract).
  *
  * Usage: runMain graft.Probe <name>[,<name>...] [sfDir] [reps]
  * (sfDir defaults to `SPARK_GRAFT_SF_DIR`; session from `Harness`).
  * Each query is timed `reps` times through the noop sink, each rep's line
  * also giving the classes it compiled and their compile time; the formatted
  * physical plan is printed and — when SPARK_GRAFT_PLAN_OUT names a
  * directory — also written to <dir>/<name>.txt so plan evidence can be
  * committed (the plans/r15 before/after files).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val queries = Harness.select(names)
    val sfDir = if (args.length > 1) args(1) else Harness.sfDir
    val reps = if (args.length > 2) args(2).toInt else 3
    val planOut = sys.env.get("SPARK_GRAFT_PLAN_OUT")
    // the Harness session: SPARK_GRAFT_CPUS matches Bench's session shape
    // at any core count, SPARK_GRAFT_EXTRA_CONF measures a conf hypothesis
    // in isolation
    val spark = Harness.session("graft-probe")
    // SPARK_GRAFT_STAGES=1: per-stage wall/executor-time breakdown of the
    // LAST rep, from a listener (stage name ≈ the operator line).
    val stageLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    if (sys.env.get("SPARK_GRAFT_STAGES").contains("1"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val wall = for {
              s <- si.submissionTime; c <- si.completionTime
            } yield c - s
            stageLog.add(f"STAGE ${si.stageId}%4d tasks=${si.numTasks}%3d " +
              f"wall=${wall.getOrElse(-1L)}%5dms ${si.name.takeWhile(_ != '\n').take(90)}")
          }
        })
    names.foreach { name =>
      val fn = queries(name)
      (1 to reps).foreach { i =>
        stageLog.clear()
        // codegen counters are JVM-global; Probe runs one query at a time,
        // so the deltas over a rep are that rep's compiles
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val cNs0 = CodeGenerator.compileTime
        val secs = Harness.time(spark, sfDir, fn)
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        val compileMs = (CodeGenerator.compileTime - cNs0) / 1e6
        println(f"PROBE $name rep$i $secs%.3f s codegen $compiles%d classes $compileMs%.0f ms")
      }
      stageLog.forEach(l => println(s"$name $l"))
      val df = fn(spark, sfDir)
      // SPARK_GRAFT_PLAN_FINAL=1: execute THIS QueryExecution (internal
      // RDD count — no rows to the driver) so the dumped plan is the
      // final AQE plan with ReusedExchange / AQEShuffleRead visible.
      if (sys.env.get("SPARK_GRAFT_PLAN_FINAL").contains("1"))
        df.queryExecution.toRdd.count()
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      planOut match {
        case Some(dir) =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, s"$name.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"PROBE $name plan -> $dir/$name.txt")
        case None => println(plan)
      }
    }
    spark.stop()
  }
}
