package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (SURVEY §5 guidance). */
object TestSpark {
  /** Root of the generated star-schema test data: one `sf<scale>`
    * directory per scale factor (TESTDATA.md). */
  val dataRoot = "/root/testdata"

  lazy val spark: SparkSession = {
    val s = graft.core.Sessions.configure(
      SparkSession.builder().master("local[4]")
        .config("spark.sql.warehouse.dir",
          java.nio.file.Files.createTempDirectory("graft_wh").toString),
      shufflePartitions = 4, appName = "graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
