package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{Bench, SparkEntry, Tables}
import graft.ops.{Similarity, TextOps}

/** The benchmark's JVM side. One process runs one workload as a closed
  * loop (one client, operations issued one after another) and writes every
  * raw sample to `--out`; `perfbench/run.py` turns the samples into
  * metrics and checks the outputs. `--mode gen` writes the input tables,
  * and `--mode golden` records the outputs the runner checks against.
  *
  * Timed calls go only through the engine's own entry points: the
  * registered query functions of [[graft.SparkEntry]] and the store's
  * build, maintain, compact, screen and label-read calls. */
object Main {
  /** The relational workload: the paper's scan-filter-join-limit plan
    * (`q_flagship`), TPC-H shapes that stress aggregation (q1) and a
    * multi-way join with semi/anti joins (q21), and the planner
    * extension's native as-of join. None of them writes files; their time
    * goes to execution, planning and codegen. A fixed subset of the
    * registered queries, small enough that a run makes a cold pass, the
    * warm-up passes and the steady passes in under a minute with its JVM
    * start. */
  val relationalQueries: Seq[String] = Seq(
    "q_flagship", "q_tpch1", "q_tpch21", "q_asof_native").sorted

  /** The from-scratch clustering the store's maintained labels must equal. */
  val StoreGolden = "q_embed_clusters"

  /** Passes after the cold one that are timed but are not steady samples:
    * through them the JIT is still compiling the engine's hot paths, and
    * a pass takes up to half again as long as a later one. */
  val WarmPasses = 4
  /** Steady passes of a query workload. A fixed count, not a time limit:
    * the passes still get a little faster as the JIT warms up, so a run
    * that fitted fewer passes into its time would report a slower median.
    * Nine spread each query's samples over most of the run, so that a few
    * seconds in which the host runs slow move none of their medians. */
  val SteadyPasses = 9
  /** One fold of the other half: a fold costs about as much as a day-0
    * build whatever its size, so one is what a run can afford. It leaves
    * two files in each bucket, short of the engine's in-fold compaction
    * cadence, so the final compaction rewrites every bucket. */
  val FoldDays = 1
  val ProbeDen = 10
  /** Read rounds of the store workload, warm-up and steady, fixed counts
    * as for the query passes. */
  val WarmRounds = 2
  val ReadRounds = 7

  final case class Op(pass: Int, kind: String, name: String, seconds: Double, ok: Boolean,
                      rows: Long, checksum: Long, error: String)

  def main(args: Array[String]): Unit = try {
    val started = System.nanoTime()
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = a("cpus").toInt
    val work = Paths.get(a("work"))
    a("mode") match {
      case "gen" =>
        val spark = session(cpus, work)
        DataGen.write(spark, a("data"))
        Files.writeString(Paths.get(a("data"), "_complete"), "")
        spark.stop()
      case "golden" =>
        val spark = session(cpus, work)
        val golden = (relationalQueries :+ StoreGolden).map { n =>
          val row = checksumOf(SparkEntry.queries(n)(spark, a("data"))).collect().head
          n -> Seq(row.getLong(0), row.getLong(1))
        }
        Files.writeString(Paths.get(a("out")), Json.obj(golden: _*))
        spark.stop()
      case "run" =>
        val out = new Run(a("workload"), a("seed").toLong, a("trace") == "1", a("data"),
          work, cpus, started).run()
        Files.writeString(Paths.get(a("out")), out)
    }
  } catch {
    // Exit now: Spark's non-daemon threads would otherwise keep the JVM up.
    case e: Throwable => e.printStackTrace(); sys.exit(1)
  }

  def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Row count and an order-independent hash of every row and column.
    * Map-typed columns go through `to_json`, which Spark's hashes accept. */
  def checksumOf(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      if (Bench.hasMapType(f.dataType)) s"xxhash64(to_json(`${f.name}`))" else s"`${f.name}`"
    }
    df.selectExpr("count(1) AS n",
      s"coalesce(bit_xor(xxhash64(struct(${cols.mkString(",")}))), 0L) AS checksum")
  }
}

/** One workload run in this JVM; `started` is when `main` was entered. */
final class Run(workload: String, seed: Long, traced: Boolean, dataDir: String, work: Path,
                cpus: Int, started: Long) {
  import Main._

  private var setupS = Double.NaN
  private val hostS = mutable.ArrayBuffer.empty[Double]
  private val passes = mutable.ArrayBuffer.empty[(Int, String, Boolean, Double)]
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val store = mutable.LinkedHashMap.empty[String, Long]
  private var spark: SparkSession = _
  private var tracer: Tracer = _

  def run(): String = {
    workload match {
      case "relational" => queryWorkload(relationalQueries)
      case "store" => storeWorkload()
      case w => sys.error(s"unknown workload $w")
    }
    val env = Map(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"),
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "spark_master" -> spark.sparkContext.master)
    val spans = tracer.spans.toSeq
    tracer.close()
    spark.stop()
    Json.obj(
      "workload" -> workload, "seed" -> seed, "traced" -> traced, "env" -> env,
      "setup_s" -> Seq(setupS),
      "host_s" -> hostS.toSeq,
      "passes" -> passes.toSeq.map { case (i, k, t, s) =>
        Map("pass" -> i, "kind" -> k, "traced" -> t, "seconds" -> s) },
      "ops" -> ops.toSeq.map(o => Map("pass" -> o.pass, "kind" -> o.kind, "name" -> o.name,
        "seconds" -> o.seconds, "ok" -> o.ok, "rows" -> o.rows, "checksum" -> o.checksum,
        "error" -> o.error)),
      "store" -> store.toMap,
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "pass" -> s.pass, "name" -> s.name, "layer" -> s.layer,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "counts" -> s.counts)))
  }

  /** Session start plus the warm-up that keeps one-time read-path costs
    * out of the first timed query (the engine `Bench`'s warm-up). */
  private def startSession(): Unit = {
    spark = session(cpus, work)
    spark.range(0, 1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dataDir/region.parquet").groupBy("r_name").count().collect()
    Tables(spark, dataDir, "events").selectExpr("max(ts)").collect()
    tracer = new Tracer(spark.sparkContext, traced)
  }

  /** Set-up ends here: the time since `main` was entered, in a JVM that
    * starts cold, so JVM, Spark and engine initialisation are all in it.
    * The host's speed is sampled here and after every pass, outside every
    * timed span. */
  private def setUpDone(): Unit = {
    setupS = (System.nanoTime() - started) / 1e9
    HostSpeed.warmUp()
    hostS += HostSpeed.sample()
  }

  /** One operation: build the DataFrame through the engine call, plan its
    * checksum query, execute it. A throw is a failed operation. */
  private def timedOp(pass: Int, kind: String, name: String)(build: => DataFrame): Unit = {
    var rows = -1L; var sum = 0L; var err = ""
    val (_, t) = tracer.span(name, "op") {
      try {
        val (df, _) = tracer.span("build", "ops")(build)
        val (cdf, _) = tracer.span("plan", "catalyst") {
          val c = checksumOf(df); c.queryExecution.executedPlan; c
        }
        val (row, _) = tracer.span("exec", "exec")(cdf.collect().head)
        rows = row.getLong(0); sum = row.getLong(1)
      } catch { case NonFatal(e) => err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400) }
    }
    ops += Op(pass, kind, name, t, err.isEmpty, rows, sum, err)
  }

  /** A store call that returns nothing: the whole call is the ops layer. */
  private def timedCall(pass: Int, kind: String, name: String)(body: => Unit): Unit = {
    var err = ""
    val (_, t) = tracer.span(name, "op") {
      try tracer.span(kind, "ops")(body)
      catch { case NonFatal(e) => err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400) }
    }
    ops += Op(pass, kind, name, t, err.isEmpty, -1, 0, err)
  }

  private def pass(index: Int, kind: String, traceIt: Boolean)(body: => Unit): Unit = {
    tracer.setTraced(traceIt)
    tracer.pass = index
    val t0 = System.nanoTime()
    body
    passes += ((index, kind, traceIt, (System.nanoTime() - t0) / 1e9))
    hostS += HostSpeed.sample()
  }

  /** A cold pass over every query in the seed's order, [[WarmPasses]]
    * warm-up passes, then [[SteadyPasses]] steady passes. A traced run
    * alternates traced and untraced steady passes, so their difference is
    * the tracing overhead. */
  private def queryWorkload(names: Seq[String]): Unit = {
    startSession()
    setUpDone()
    val order = Plan.queryOrder(names, seed)
    val fns = order.map(n => n -> SparkEntry.queries(n))
    def onePass(i: Int): Unit = fns.foreach { case (n, fn) => timedOp(i, "query", n)(fn(spark, dataDir)) }
    pass(0, "cold", traced)(onePass(0))
    for (i <- 1 to WarmPasses) pass(i, "warm", traceIt = false)(onePass(i))
    for (i <- WarmPasses + 1 to WarmPasses + SteadyPasses)
      pass(i, "steady", traced && i % 2 == 0)(onePass(i))
  }

  /** The embed cluster store. Set-up ends with the day-0 build on the
    * seed's half of the embeddings. The cold pass is the rest of the write
    * lifecycle: [[FoldDays]] day folds of the other half and a final
    * compaction. Then [[WarmRounds]] warm-up and [[ReadRounds]] steady
    * rounds of a probe-batch screen and a label read. Once the folds have ingested every embedding,
    * the labels must equal a from-scratch clustering ([[StoreGolden]])
    * whatever the seed's split. */
  private def storeWorkload(): Unit = {
    val base = "pb"
    val ids = (0 until DataGen.Embeddings).map(_.toLong)
    val (day0, days) = Plan.daySplit(ids, seed, FoldDays)
    val probeIds = Plan.probe(ids, seed, ProbeDen)
    def vecs(sel: Seq[Long]): DataFrame =
      Tables(spark, dataDir, "embeddings").filter(col("vec_id").isin(sel: _*))
        .select("vec_id", "embedding")
    // The band width the engine's store query derives for the whole corpus.
    val bits = Similarity.autoBits(ids.size.toLong)
    startSession()
    val root = work.resolve("store")
    val userBytesPerVec = 8L + 4L * DataGen.Dim
    store("user_bytes") = ids.size * userBytesPerVec
    var listing = StoreFiles.list(root)
    var total = StoreFiles.NoDiff
    def relist(): Unit = {
      val next = StoreFiles.list(root)
      total = total + StoreFiles.diff(listing, next)
      listing = next
    }
    def screen(p: Int) = timedOp(p, "screen", "screen")(
      Similarity.screenEmbedStore(spark, base, vecs(probeIds)))
    def labels(p: Int) = timedOp(p, "labels", "labels") {
      Similarity.recoverLabelSwap(spark, base)
      TextOps.readLabels(spark, s"${base}_elabels", "vec_id")
    }

    // The build's spans belong to the lifecycle pass (0); its time does not.
    tracer.pass = 0
    timedCall(0, "build", "day0_build")(
      Similarity.buildEmbedClusterStore(spark, base, root.toString, vecs(day0), bits = bits))
    setUpDone()
    relist()
    pass(0, "lifecycle", traced) {
      days.zipWithIndex.foreach { case (batch, d) =>
        timedCall(0, "fold", s"fold_${d + 1}")(
          Similarity.maintainEmbedClusterStore(spark, base, vecs(batch)))
        relist()
      }
      // Screen once before compaction: the runner checks that compaction
      // changes no screen's output. (Compaction leaves the labels alone.)
      screen(0)
      var compacted = 0
      timedCall(0, "compact", "compact") {
        compacted += TextOps.compactStore(spark, s"${base}_evecs", maxFilesPerBucket = 1,
          dedupKeys = Seq("vec_id"))
        compacted += TextOps.compactStore(spark, s"${base}_ebands", maxFilesPerBucket = 1)
      }
      relist()
      store("buckets_compacted") = compacted
    }
    store("bytes_written") = total.bytesWritten
    store("bytes_deleted") = total.bytesDeleted
    store("files_created") = total.filesCreated
    store("files_deleted") = total.filesDeleted
    store("files_live") = listing.size
    store("live_bytes") = StoreFiles.liveBytes(listing)
    store("max_files_per_bucket") = StoreFiles.maxFilesPerBucket(listing)
    store("generations_live") = StoreFiles.generationsLive(listing)

    for (i <- 1 to WarmRounds) pass(i, "warm", traceIt = false) { screen(i); labels(i) }
    for (i <- WarmRounds + 1 to WarmRounds + ReadRounds)
      pass(i, "read", traced && i % 2 == 0) { screen(i); labels(i) }
  }
}

/** Just enough JSON for the raw sample file. */
object Json {
  def render(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
        case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => render(other.toString)
  }
  def obj(kv: (String, Any)*): String = render(scala.collection.immutable.ListMap(kv: _*))
}
