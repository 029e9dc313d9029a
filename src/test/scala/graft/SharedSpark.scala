package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession shared by every suite (JVM-forked once by sbt):
  * the same [[Tables.localSession]] Bench and Verify run, at 4 cores.
  * Its extension injection is the production path — functions resolve
  * in raw sessions with no Tables.tune call (see GraftExtensionsSpec). */
object SharedSpark {
  lazy val spark: SparkSession = Tables.localSession(4)
}
