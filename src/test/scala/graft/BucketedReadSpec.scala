package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import TestSpark.{stageTasks, withConf, withTables}

/** Bucketed reads run at most one task per task slot
  * ([[plans.CoalesceBucketedScans]]): on the 4-slot test session a scan of
  * `n > 4` buckets reads at the largest divisor of `n` not above 4, keeps
  * reporting its hash partitioning, and returns the rows of an unbucketed
  * read — except where the plan relies on all `n` buckets, where it is
  * left alone. */
class BucketedReadSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private val Slots = 4

  private def fps(ids: Range) = spark.range(ids.start, ids.end, 1, 4)
    .select(md5(col("id").cast("string")).as("fp"), col("id"))

  /** Writes rows `ids` to `tbl` as a `buckets`-bucket store table: one
    * file per bucket, sorted by `fp`. */
  private def write(tbl: String, dir: java.nio.file.Path, buckets: Int, ids: Range): Unit =
    ops.TextOps.bucketedWriter(fps(ids), buckets, "fp")
      .option("path", s"$dir/$tbl").mode("overwrite").saveAsTable(tbl)

  /** Collects `df`, returning its rows sorted, the task count of every
    * stage it ran, and its executed (final, when adaptive) plan. */
  private def run(df: => DataFrame): (Seq[Row], Map[Int, Int], SparkPlan) = {
    val d = df
    var rows = Array.empty[Row]
    val stages = stageTasks { rows = d.collect() }
    (sorted(rows), stages, d.queryExecution.executedPlan)
  }

  private def sorted(rows: Array[Row]) = rows.toSeq.sortBy(_.toString)

  /** The same query's rows read with bucketing off: plain file splits. */
  private def unbucketed(df: => DataFrame): Seq[Row] =
    withConf("spark.sql.sources.bucketing.enabled" -> "false")(sorted(df.collect()))

  private def scansOf(plan: SparkPlan) = collect(plan) { case s: FileSourceScanExec => s }

  private def exchangesOf(plan: SparkPlan) = collect(plan) { case e: Exchange => e }

  private def aggOf(tbl: String) = spark.table(tbl).groupBy("fp").agg(count(lit(1)).as("n"), sum("id").as("s"))

  test("fixture: the test session has 4 task slots") {
    assert(plans.CoalesceBucketedScans.taskSlots(spark) == Slots)
  }

  test("an aggregate on the bucket column of a 16-bucket table reads in one 4-task stage, with no Exchange") {
    withTables(1) { case (Seq(t), dir) =>
      write(t, dir, 16, 0 until 2000)
      val (rows, stages, plan) = run(aggOf(t))
      assert(exchangesOf(plan).isEmpty, s"the aggregate must stay exchange-free:\n$plan")
      assert(scansOf(plan).map(_.optionalNumCoalescedBuckets) == Seq(Some(Slots)),
        s"the scan must read its 16 buckets as 4 partitions:\n$plan")
      assert(scansOf(plan).head.outputPartitioning.numPartitions == Slots)
      assert(stages.values.toSeq == Seq(Slots), s"stage -> tasks $stages")
      assert(rows.size == 2000 && rows == unbucketed(aggOf(t)))
    }
  }

  test("a 6-bucket table reads at width 3; a 4-bucket table is left untouched") {
    withTables(2) { case (Seq(six, four), dir) =>
      write(six, dir, 6, 0 until 600)
      write(four, dir, 4, 0 until 600)
      val (rows6, stages6, plan6) = run(aggOf(six))
      assert(scansOf(plan6).map(_.optionalNumCoalescedBuckets) == Seq(Some(3)), s"$plan6")
      assert(exchangesOf(plan6).isEmpty, s"$plan6")
      assert(stages6.values.toSeq == Seq(3), s"stage -> tasks $stages6")
      assert(rows6 == unbucketed(aggOf(six)))

      val (rows4, stages4, plan4) = run(aggOf(four))
      assert(scansOf(plan4).map(_.optionalNumCoalescedBuckets) == Seq(None), s"$plan4")
      assert(stages4.values.toSeq == Seq(4), s"stage -> tasks $stages4")
      assert(rows4 == unbucketed(aggOf(four)))
    }
  }

  test("a bucket-pruned scan also reads at one task per slot") {
    withTables(1) { case (Seq(t), dir) =>
      write(t, dir, 16, 0 until 2000)
      val Seq(fp7, fp1234) = Seq("7", "1234").map(org.apache.commons.codec.digest.DigestUtils.md5Hex)
      def pruned = spark.table(t).filter(col("fp").isin(fp7, fp1234))
        .groupBy("fp").agg(sum("id").as("s"))
      val (rows, stages, plan) = run(pruned)
      val scan = scansOf(plan)
      assert(scan.size == 1 && scan.head.optionalBucketSet.exists(_.cardinality() <= 2),
        s"fixture: the scan must prune buckets:\n$plan")
      assert(scan.head.optionalNumCoalescedBuckets.contains(Slots), s"$plan")
      assert(stages.values.forall(_ <= Slots), s"stage -> tasks $stages")
      assert(rows == Seq(Row(fp7, 7L), Row(fp1234, 1234L)).sortBy(_.toString))
      assert(rows == unbucketed(pruned))
    }
  }

  test("a 16-bucket scan joined to a shuffled side keeps its 16 buckets and stays exchange-free") {
    withTables(1) { case (Seq(t), dir) =>
      write(t, dir, 16, 0 until 2000)
      def joined = spark.table(t).join(fps(1500 until 2500).select(col("fp"), col("id").as("id2")), "fp")
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
        val (rows, _, plan) = run(joined)
        val smj = collect(plan) { case j: SortMergeJoinExec => j }
        assert(smj.size == 1, s"expected one sort-merge join:\n$plan")
        val storeSide = smj.head.children
          .filter(_.exists { case s: FileSourceScanExec => s.tableIdentifier.exists(_.table == t)
                             case _ => false })
        assert(storeSide.size == 1, s"$plan")
        assert(!storeSide.head.exists {
          case _: Exchange | _: ShuffleQueryStageExec => true
          case _ => false
        }, s"the store side must not shuffle:\n$plan")
        val scan = scansOf(plan).filter(_.tableIdentifier.exists(_.table == t))
        assert(scan.map(_.optionalNumCoalescedBuckets) == Seq(None) &&
          scan.head.outputPartitioning.numPartitions == 16,
          s"a scan co-partitioned with a 16-way shuffle must keep its buckets:\n$plan")
        assert(rows.size == 500 && rows == unbucketed(joined))
      }
    }
  }

  test("two 16-bucket tables under the legacy ordering conf still join with no Sort and no Exchange") {
    withTables(2) { case (Seq(a, b), dir) =>
      write(a, dir, 16, 0 until 2000)
      write(b, dir, 16, 1000 until 3000)
      def joined = spark.table(a).join(spark.table(b).withColumnRenamed("id", "id2"), "fp")
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true") {
        val (rows, _, plan) = run(joined)
        assert(collect(plan) { case j: SortMergeJoinExec => j }.size == 1, s"$plan")
        assert(exchangesOf(plan).isEmpty, s"the join must not shuffle:\n$plan")
        assert(collect(plan) { case s: SortExec => s }.isEmpty,
          s"single-file sorted buckets must not be sorted again:\n$plan")
        assert(scansOf(plan).map(_.optionalNumCoalescedBuckets) == Seq(None, None), s"$plan")
        assert(rows.size == 1000 && rows == unbucketed(joined))
      }
    }
  }

  test("with AQE off the plan is unchanged") {
    withTables(1) { case (Seq(t), dir) =>
      write(t, dir, 16, 0 until 2000)
      withConf("spark.sql.adaptive.enabled" -> "false") {
        val (rows, stages, plan) = run(aggOf(t))
        assert(scansOf(plan).map(_.optionalNumCoalescedBuckets) == Seq(None), s"$plan")
        assert(stages.values.toSeq == Seq(16), s"stage -> tasks $stages")
        assert(rows == unbucketed(aggOf(t)))
      }
    }
  }

  test("the rule is idempotent: a coalesced scan is not rewritten again") {
    withTables(1) { case (Seq(t), dir) =>
      write(t, dir, 16, 0 until 200)
      val plan = withConf("spark.sql.adaptive.enabled" -> "false") {
        aggOf(t).queryExecution.executedPlan
      }
      val rule = plans.CoalesceBucketedScans(spark)
      val once = rule(plan)
      assert(scansOf(once).map(_.optionalNumCoalescedBuckets) == Seq(Some(Slots)), s"$once")
      assert(rule(once) == once)
    }
  }

  test("the steady screen and label read of a folded 16-bucket embed store run no Union branch wider than the slots") {
    import spark.implicits._
    val base = "graft_bucketread_emb"
    val dir = TestSpark.tempDir("graft_bucketread_emb_")
    // 40 clusters of sign patterns (band hashing needs >= 32 sign dims),
    // members differing by a small per-id tail.
    def vec(id: Long): Array[Float] = {
      val a = new Array[Float](64)
      val s = (1.0 / math.sqrt(32.0)).toFloat
      val pattern = (id % 40).toInt * 0x9E37 + 0x1234
      for (i <- 0 until 32) a(i) = if (((pattern >> (i % 16)) & 1) == 1) s else -s
      a(32 + (id % 7).toInt) = 0.05f * (id % 5).toFloat
      a
    }
    def vecs(ids: Range) = ids.map(i => (i.toLong, vec(i.toLong))).toDF("vec_id", "embedding")
    try {
      ops.Similarity.buildEmbedClusterStore(spark, base, dir.toString, vecs(0 until 160),
        buckets = 16)
      ops.Similarity.maintainEmbedClusterStore(spark, base, vecs(160 until 240))
      assert(spark.catalog.tableExists(s"${base}_elabels_delta"),
        "fixture: the label read must overlay a delta")
      def screen = ops.Similarity.screenEmbedStore(spark, base, vecs((0 until 300 by 7)))
      def labels = ops.TextOps.readLabels(spark, s"${base}_elabels", "vec_id")
      for ((name, q) <- Seq[(String, () => DataFrame)]("screen" -> (() => screen),
                                                       "labels" -> (() => labels))) {
        val (rows, stages, plan) = run(q())
        // A Union runs its branches' partitions side by side in one stage:
        // the label read's base (a plain file scan, its buckets unneeded
        // under the broadcast anti-join) next to its delta.
        val branches = (collect(plan) { case u: UnionExec => u.children.size } :+ 1).max
        assert(stages.nonEmpty && stages.values.forall(_ <= Slots * branches),
          s"$name ran a stage wider than $Slots slots per branch: stage -> tasks $stages\n$plan")
        val bucketed = scansOf(plan).filter(_.bucketedScan)
        assert(bucketed.nonEmpty &&
          bucketed.forall(_.optionalNumCoalescedBuckets.contains(Slots)),
          s"$name: every bucketed scan must read its 16 buckets as 4 partitions:\n$plan")
        assert(rows.nonEmpty && rows == unbucketed(q()), s"$name rows differ from the unbucketed read")
      }
      assert(labels.count() == 240)
    } finally {
      Seq("_ebands", "_evecs", "_elabels", "_elabels_stage", "_elabels_delta")
        .foreach(sfx => spark.sql(s"DROP TABLE IF EXISTS $base$sfx"))
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }
}
