package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Streams, UserSession}

/** Checkpoint recovery (VERDICT r08 next-steps #7): stop a stateful query
  * mid-stream, restart it from the same checkpoint, and pin the two
  * production guarantees that make Structured Streaming restartable on a
  * real cluster:
  *
  *  1. **State survives** — aggregation state (and custom
  *     flatMapGroupsWithState state) is restored from the HDFS-backed state
  *     store, so post-restart results include pre-restart data.
  *  2. **Exactly-once accounting** — offsets committed to the WAL before the
  *     stop are not reprocessed after it; a failure here would show up as
  *     inflated counts (Complete mode re-reads) or duplicated session rows
  *     (re-delivered foreachBatch batches).
  *
  * The stop/restart seam is the same code path a crash takes (offset WAL +
  * state store + idempotent sink); `stop()` just makes the cut point
  * deterministic for the test.
  */
class StreamRecoverySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def t(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  test("aggregation state and committed offsets survive a stop/restart") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val ckpt = TestSpark.tempDir("graft_ckpt_agg").toString
    val stream = MemoryStream[(Long, String)]
    val counts = stream.toDF().toDF("id", "event_type")
      .groupBy("event_type").agg(count(lit(1)).as("cnt"))

    def start() = counts.writeStream
      .format("memory").queryName("recover_counts")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt)
      .start()

    val q1 = start()
    try {
      stream.addData((1L, "click"), (2L, "click"), (3L, "click"), (4L, "buy"))
      q1.processAllAvailable()
      val before = spark.table("recover_counts")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(before == Map("click" -> 3L, "buy" -> 1L))
    } finally q1.stop()

    // Data arriving while the query is down — the restarted query must pick
    // it up from the offset AFTER the last committed batch.
    stream.addData((5L, "click"), (6L, "click"), (7L, "view"))

    val q2 = start()
    try {
      q2.processAllAvailable()
      val after = spark.table("recover_counts")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // click=5 proves BOTH guarantees at once: 2 would mean lost state,
      // 8 would mean batch-1 rows were re-read past their committed offset.
      assert(after == Map("click" -> 5L, "buy" -> 1L, "view" -> 1L))
    } finally q2.stop()
  }

  test("flatMapGroupsWithState custom state survives restart; closed sessions emit exactly once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val ckpt = TestSpark.tempDir("graft_ckpt_sess").toString
    val stream = MemoryStream[Ev]
    val sessions = Streams.sessionize(spark, stream.toDF(), gapMs = 30 * 60 * 1000L)

    // foreachBatch into a driver-side buffer keyed by batchId: a re-delivered
    // batch would overwrite its own slot (idempotent, the production upsert
    // shape), while a NON-idempotent duplicate would appear as two slots
    // with the same rows — both detectable below.
    val batches = mutable.Map.empty[Long, Seq[UserSession]]
    def start() = sessions.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[UserSession], id: Long) =>
        val rows = ds.collect().toSeq
        batches.synchronized { batches(id) = rows }
      }
      .start()

    val q1 = start()
    try {
      // Two users with OPEN sessions (nothing emitted yet): the only place
      // their event counts live is the state store.
      stream.addData(
        Ev(1, t("10:00"), 1, "click", 1.0, "{}"),
        Ev(2, t("10:10"), 1, "click", 1.0, "{}"),
        Ev(3, t("10:20"), 1, "click", 1.0, "{}"),
        Ev(4, t("10:05"), 2, "click", 1.0, "{}"))
      q1.processAllAvailable()
      assert(batches.synchronized(batches.values.flatten.isEmpty),
        "no session is closed yet, so nothing may emit before the restart")
    } finally q1.stop()

    val q2 = start()
    try {
      // Past-gap events close both carried-over sessions. events=3 (user 1)
      // is only possible if all three pre-restart rows were restored from
      // the checkpointed state store.
      stream.addData(
        Ev(5, t("12:00"), 1, "click", 1.0, "{}"),
        Ev(6, t("12:00"), 2, "click", 1.0, "{}"))
      q2.processAllAvailable()
      val emitted = batches.synchronized(batches.values.flatten.toSeq)
      assert(emitted.toSet == Set(
        UserSession(1L, 3L, t("10:00").getTime, t("10:20").getTime),
        UserSession(2L, 1L, t("10:05").getTime, t("10:05").getTime)))
      assert(emitted.size == 2, s"each closed session must emit exactly once, got $emitted")
    } finally q2.stop()
  }
}
