package graft

import org.apache.spark.sql.SparkSession

/** One shared session for all suites (JVM-forked once by sbt). */
object TestSpark {
  /** The one root of every temp directory the suites make, the session's
    * warehouse included. It is deleted with everything under it when the
    * JVM exits, so a test run leaves nothing behind in the system temp
    * directory, whether or not a test cleaned up after itself. */
  lazy val tmpRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_test_")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)))
    root
  }

  /** A fresh directory under [[tmpRoot]] whose name starts with `prefix`. */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(tmpRoot, prefix)

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", tempDir("graft_warehouse").toString)
    .getOrCreate()
}
