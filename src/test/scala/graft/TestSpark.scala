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

  private val tableCtr = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Runs `f` on `n` fresh table names and a fresh directory for their
    * files; drops the tables and the directory after. */
  def withTables[A](n: Int)(f: (Seq[String], java.nio.file.Path) => A): A = {
    val tbls = (1 to n).map(_ => s"graft_tbl_${tableCtr.incrementAndGet()}")
    val dir = tempDir("graft_tbl_")
    try f(tbls, dir)
    finally {
      tbls.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  /** Runs `f` with the session confs set, restoring (or unsetting) each
    * one after. */
  def withConf[A](confs: (String, String)*)(f: => A): A = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Task count of every stage `body` runs, by stage id. */
  def stageTasks(body: => Unit): Map[Int, Int] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        seen.put(e.stageInfo.stageId, e.stageInfo.numTasks)
    }
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerDrain(sc)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toMap
  }
}
