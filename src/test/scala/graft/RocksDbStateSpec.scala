package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams

/** RocksDB state store for the streaming tier (VERDICT r09 next-steps #7).
  *
  * The default HDFSBackedStateStoreProvider keeps every key of every state
  * operator's working set ON-HEAP per executor; at 100× key cardinality
  * (100 TB of events → hundreds of millions of live user sessions) that is
  * an OOM, not a slowdown. RocksDBStateStoreProvider spills state to local
  * disk with an off-heap block cache, bounding executor heap regardless of
  * key count — the provider Databricks/EMR run in production for exactly
  * this shape. It ships in this Spark build (rocksdbjni is on the
  * classpath), so the switch is CONFIG-ONLY:
  *
  *   spark.sql.streaming.stateStore.providerClass =
  *     org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider
  *
  * plus (optionally) changelog checkpointing to turn per-batch snapshot
  * uploads into delta uploads. This suite pins that the graft streaming
  * surface — windowed aggregation state AND the custom
  * flatMapGroupsWithState sessionizer — produces identical results under
  * RocksDB, that the state actually lives in RocksDB (provider-specific
  * metrics present in query progress), and that checkpoint recovery (the
  * StreamRecoverySpec guarantee) holds under the provider swap.
  */
class RocksDbStateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the RocksDB provider set, restoring the session
    * default afterwards so sibling suites keep the stock provider. The conf
    * is read at query START and pinned into the checkpoint from then on,
    * so scoping it around the whole query lifetime is sufficient. */
  private def withRocksDb[A](body: => A): A = {
    val prev = spark.conf.getOption(ProviderKey)
    spark.conf.set(ProviderKey, RocksDb)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(ProviderKey, v)
      case None    => spark.conf.unset(ProviderKey)
    }
  }

  private def t(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  test("windowed aggregation on RocksDB: same results, rocksdb metrics, recovery") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._

      val ckpt = TestSpark.tempDir("graft_ckpt_rocks_agg").toString
      val stream = MemoryStream[(Timestamp, String, Double)]
      val events = stream.toDF().toDF("ts", "event_type", "value")
      val agg = Streams.hourlyByType(events, watermark = true)

      def start() = agg.writeStream
        .format("memory").queryName("rocks_hourly")
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckpt)
        .start()

      var q = start()
      try {
        stream.addData((t("09:05"), "view", 1.0), (t("09:40"), "view", 2.0),
          (t("09:55"), "buy", 10.0))
        q.processAllAvailable()

        // The state store behind the agg really is RocksDB: the provider
        // exports rocksdb* custom metrics that the HDFS-backed store never
        // emits.
        val metrics = q.lastProgress.stateOperators.head.customMetrics
        assert(metrics.keySet.asScala.exists(_.startsWith("rocksdb")),
          s"expected rocksdb* custom metrics, got ${metrics.keySet}")

        // Crash-cut: restart from the same checkpoint, feed more data; the
        // pre-restart window state must be restored from RocksDB files.
        q.stop()
        q = start()
        stream.addData((t("09:58"), "view", 4.0), (t("10:10"), "view", 8.0))
        q.processAllAvailable()

        val out = spark.table("rocks_hourly")
          .orderBy("window_start", "event_type")
          .collect()
          .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        assert(out.toSeq == Seq(
          (t("09:00"), "buy", 1L, 10.0),
          (t("09:00"), "view", 3L, 7.0),
          (t("10:00"), "view", 1L, 8.0)))
      } finally q.stop()
    }
  }

  test("flatMapGroupsWithState sessionizer state lives in RocksDB") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._

      val ckpt = TestSpark.tempDir("graft_ckpt_rocks_sess").toString
      val stream = MemoryStream[(Long, Timestamp)]
      val events = stream.toDF().toDF("user_id", "ts")
      val sessions = Streams.sessionize(spark, events, gapMs = 10 * 60 * 1000L)

      val q = sessions.writeStream
        .format("memory").queryName("rocks_sessions")
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .start()
      try {
        // User 7: two events 5m apart (one session), then a 30m gap opens a
        // second session — the first closes and emits.
        stream.addData((7L, t("09:00")), (7L, t("09:05")))
        q.processAllAvailable()
        stream.addData((7L, t("09:35")))
        q.processAllAvailable()

        val metrics = q.lastProgress.stateOperators.head.customMetrics
        assert(metrics.keySet.asScala.exists(_.startsWith("rocksdb")),
          s"expected rocksdb* custom metrics, got ${metrics.keySet}")

        val closed = spark.table("rocks_sessions").as[graft.streaming.UserSession].collect()
        assert(closed.toSeq == Seq(graft.streaming.UserSession(
          7L, 2L, t("09:00").getTime, t("09:05").getTime)))
      } finally q.stop()
    }
  }

  private implicit class JSetOps[A](s: java.util.Set[A]) {
    def asScala: scala.collection.mutable.Set[A] =
      scala.jdk.CollectionConverters.SetHasAsScala(s).asScala
  }
}
