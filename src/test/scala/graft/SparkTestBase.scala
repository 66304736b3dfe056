package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.shared

  override def afterAll(): Unit = ()
}

object SparkTestBase {
  lazy val shared: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // any managed table lands in a throwaway warehouse, never in
      // the repo working tree
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // keep codegen fallbacks LOUD: a compile failure (64 KB overflow)
    // silently drops the stage to interpreted mode — correct but slow,
    // exactly the class of regression a test log should surface. The
    // WARN includes the failing plan tree, which names the operator.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.WholeStageCodegenExec",
      org.apache.logging.log4j.Level.WARN)
    Tables.prepare(s)
    s
  }
}
