package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run: the shipped
  * session, with only the warehouse moved to a temporary directory.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4, Map(
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-wh").toString))
}
