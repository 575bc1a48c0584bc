package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (sf0.001 fixtures). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** The engine's own session (every setting that ships) at local[4],
    * with a throwaway warehouse dir and no UI.
    */
  lazy val session: SparkSession = graft.engine.Graft.session(
    master = "local[4]", shufflePartitions = 4, appName = "graft-spec",
    extraConf = Map(
      "spark.ui.enabled" -> "false",
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft_wh").toString))
}
