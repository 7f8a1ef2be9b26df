package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession shared by every suite in the forked test JVM. Pinned
  * to 4 cores rather than `SPARK_GRAFT_CPUS`, so partition-sensitive
  * specs see the same stage and split counts on every host.
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
