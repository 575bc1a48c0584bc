package graftbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point; run.py builds the classpath and passes
  * `--workload --seed --seconds --trace --data --work --out --spans`, plus
  * `--inject` (self-test faults) and `--inputs-only` (print the seeded
  * inputs and exit without starting Spark).
  */
final case class Config(workload: String, seed: Long, seconds: Int,
    trace: Boolean, dataDir: String, workDir: String, out: String,
    spansOut: String, inject: String, inputsOnly: Boolean)

object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cfg = Config(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("data"), kv("work"), kv("out"), kv("spans"),
      kv.getOrElse("inject", "none"), kv.get("inputs-only").contains("1"))
    val result = cfg.workload match {
      case "query" => QueryWorkload.run(cfg)
      case "ingest" => Ingest.run(cfg)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfg.out), Json.render(result))
    // Spark leaves non-daemon threads behind after stop(); the result is
    // on disk, so end the JVM explicitly.
    System.exit(0)
  }
}

object Session {
  /** local[4]: the benchmark's fixed core count (and exec.core_busy_ratio's). */
  val Cores = 4

  def create(cfg: Config): SparkSession = graft.engine.Graft.session(
    master = s"local[$Cores]", shufflePartitions = Cores,
    appName = s"graftbench-${cfg.workload}",
    extraConf = Map(
      "spark.ui.enabled" -> "false",
      "spark.driver.host" -> "localhost",
      "spark.driver.bindAddress" -> "127.0.0.1",
      "spark.local.dir" -> s"${cfg.workDir}/spark-local",
      "spark.sql.warehouse.dir" -> s"${cfg.workDir}/warehouse"))
}

/** The run's one set-up: from JVM start until the first request is ready
  * (`totalS`), and within it the session and the first touch of the inputs.
  * JVM start, class loading and the footer reads behind `Tables`' schema
  * cache all fall inside it, so a cold-start regression moves it.
  */
final case class SetupTimes(totalS: Double, sessionMs: Double, touchMs: Double) {
  def metrics: Map[String, Double] = Map(
    "setup_s" -> totalS,
    "engine.session_ms" -> sessionMs,
    "engine.first_touch_ms" -> touchMs)
}

object Setup {
  /** Creates the session and touches the workload's inputs once. */
  def apply[A](cfg: Config)(touch: SparkSession => A): (SparkSession, A, SetupTimes) = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val s = Session.create(cfg)
    val t1 = System.nanoTime()
    val a = touch(s)
    val t2 = System.nanoTime()
    (s, a, SetupTimes((System.currentTimeMillis() - jvmStartMs) / 1e3,
      (t1 - t0) / 1e6, (t2 - t1) / 1e6))
  }
}
