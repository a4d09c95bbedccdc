package graft

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A streamed document (top-level for encoder derivation). */
final case class StreamDoc(doc_id: Long, text: String)

/** [[streaming.Streams.storeDedup]]: streaming exact dedup whose state is
  * the SAME persistent bucketed fingerprint store the batch tier builds
  * and maintains — unbounded dedup horizon, zero streaming state, novel
  * docs emitted downstream and their fingerprints appended for the next
  * batch (and the next day's batch pipeline) to probe. Built on a
  * NON-default bucket width so the per-batch appends also re-prove the
  * catalog-spec-honoring append (Round12Spec's r11 regression) through
  * the streaming path. */
class StreamingStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fpOf(texts: Seq[String]) = {
    import spark.implicits._
    texts.toDF("text").select(md5(col("text").cast("binary")).as("fp"))
      .collect().map(_.getString(0)).toSet
  }

  test("storeDedup: cross-batch and vs-store dups dropped, store absorbs novel fps, zero streaming state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val Buckets = 4
    val tbl = "graft_stream_store"
    val dir = TestSpark.tempDir("graft_stream_store_")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    // Day-0 store from the BATCH tier: docs d0/d1 are already canonical.
    Seq("day0 doc zero", "day0 doc one").toDF("text")
      .select(md5(col("text").cast("binary")).as("fp")).distinct()
      .repartition(Buckets, col("fp"))
      .write.bucketBy(Buckets, "fp").sortBy("fp")
      .option("path", s"$dir/t").mode("overwrite").saveAsTable(tbl)

    val emitted = mutable.Map.empty[Long, Seq[(Long, String)]]
    val stream = MemoryStream[StreamDoc]
    val q = streaming.Streams.storeDedup(stream.toDF(), tbl) { (novel, id) =>
      emitted.synchronized {
        emitted(id) = novel.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      }
    }
    try {
      // Batch 1: one in-batch dup pair (10/11), one doc already in the
      // store (12 = "day0 doc zero"), one genuinely novel (13).
      stream.addData(
        StreamDoc(10, "stream doc a"), StreamDoc(11, "stream doc a"),
        StreamDoc(12, "day0 doc zero"), StreamDoc(13, "stream doc b"))
      q.processAllAvailable()
      // Batch 2: replays batch 1's doc a (now IN the store — dropped via
      // the store probe, not streaming state), plus one novel.
      stream.addData(
        StreamDoc(20, "stream doc a"), StreamDoc(21, "stream doc c"))
      q.processAllAvailable()

      val batches = emitted.synchronized(emitted.toMap)
      assert(batches.size == 2, s"expected 2 micro-batches, saw ${batches.keySet}")
      val Seq(b1, b2) = batches.toSeq.sortBy(_._1).map(_._2)
      // In-batch dup keeps min doc_id; store dup (12) never emits.
      assert(b1.map(_._1).sorted == Seq(10L, 13L), s"batch-1 novel: $b1")
      assert(b2.map(_._1) == Seq(21L), s"batch-2 novel: $b2")

      // The store absorbed exactly the novel fingerprints — it IS the
      // canonical set of day-0 ∪ the stream, same invariant as the batch
      // maintenance tier.
      val want = fpOf(Seq("day0 doc zero", "day0 doc one", "stream doc a",
        "stream doc b", "stream doc c"))
      assert(spark.table(tbl).collect().map(_.getString(0)).toSet == want)

      // Appends honored the table's 4-bucket catalog spec (not the module
      // default): every data file's bucket id is < 4.
      val loc = new java.io.File(new java.net.URI(
        spark.sql(s"DESCRIBE TABLE EXTENDED $tbl")
          .filter(col("col_name") === "Location").head().getString(1)))
      val bucketId = """.*_(\d+)(?:\..*)?$""".r
      val ids = loc.listFiles().toSeq
        .filter(f => f.isFile && f.getName.startsWith("part-"))
        .map(_.getName match {
          case bucketId(b) => b.toInt
          case n => fail(s"unexpected data file name: $n")
        })
      assert(ids.nonEmpty && ids.forall(_ < Buckets),
        s"streaming appends must use the table's $Buckets-bucket spec, saw $ids")

      // Zero streaming state: the dedup horizon lives in the store, so the
      // query plan carries no stateful operator.
      assert(q.lastProgress.stateOperators.isEmpty,
        "storeDedup must keep NO streaming state - the store is the state")
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }
}
