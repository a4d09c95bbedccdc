package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.{SparkEntry, Tables}

/** Runnable demo: replays the driver's events fixture through MemoryStream
  * and drives all three streaming pipelines (windowed agg, sessionization,
  * stream-stream join). Usage: runMain graft.streaming.StreamDemo [sfDir] */
object StreamDemo {
  final case class E(event_id: Long, ts: Timestamp, user_id: Long,
                     event_type: String, value: Double, props: String)

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse(s"${SparkEntry.FixtureRoot}/sf0.001")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // collect() is fine HERE and only here: this main is a dev demo that
    // replays the tiny fixture through MemoryStream. No registered query or
    // production path collects to the driver — a real deployment reads a
    // file/Kafka source via readStream instead of replaying.
    val events = Tables(spark, d, "events").as[E].collect().sortBy(_.ts.getTime)
    println(s"[demo] replaying ${events.length} events from $d")

    // 1. Watermarked tumbling-window aggregation.
    val src1 = MemoryStream[E]
    val q1 = Streams.hourlyByType(src1.toDF())
      .writeStream.format("memory").queryName("demo_hourly")
      .outputMode(OutputMode.Update()).start()
    // replay in two batches to exercise incremental updates
    val (h1, h2) = events.splitAt(events.length / 2)
    src1.addData(h1); q1.processAllAvailable()
    src1.addData(h2); q1.processAllAvailable()
    val hourly = spark.table("demo_hourly")
    println(s"[demo] hourly windows emitted: ${hourly.count()} update rows, " +
      s"${hourly.select("window_start").distinct().count()} distinct windows")
    q1.stop()

    // 2. Sessionization.
    val src2 = MemoryStream[E]
    val q2 = Streams.sessionize(spark, src2.toDF(), gapMs = 30 * 60 * 1000L)
      .writeStream.format("memory").queryName("demo_sessions")
      .outputMode(OutputMode.Append()).start()
    src2.addData(h1); q2.processAllAvailable()
    src2.addData(h2); q2.processAllAvailable()
    val sess = spark.table("demo_sessions")
    println(s"[demo] closed sessions: ${sess.count()} across " +
      s"${sess.select("user_id").distinct().count()} users")
    q2.stop()

    // 3. Stream-stream interval join.
    val src3a = MemoryStream[E]; val src3b = MemoryStream[E]
    val q3 = Streams.purchasesAfterSignup(src3a.toDF(), src3b.toDF())
      .writeStream.format("memory").queryName("demo_sjoin")
      .outputMode(OutputMode.Append()).start()
    src3a.addData(events.filter(_.event_type == "signup"))
    src3b.addData(events.filter(_.event_type == "purchase"))
    q3.processAllAvailable()
    println(s"[demo] purchases within 2h of a signup: ${spark.table("demo_sjoin").count()}")
    q3.stop()
    spark.stop()
  }
}
