package graft

import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Enumerated crash-point sweep of the label-table lifecycle.
  *
  * The sig-tier cluster store (the Round20Spec geometry, 4 buckets) lives
  * on `faultfs://` ([[FaultFs]]), so every filesystem mutation the
  * lifecycle makes — each `create`, `rename`, `delete`, `mkdirs` that
  * makes a directory, inside Spark's writers and committers as much as in
  * the engine's own code — is a numbered crash point. A clean run of an
  * entry makes the same number of them every time (the sweep checks it),
  * so each entry is run with a fault at mutation N = 1, 2, … until it
  * completes without reaching N:
  *   - the day-0 label build ([[ops.Dedup.buildSigClusterStore]]: the
  *     store tables, the label generation, [[ops.TextOps.commitDay0]]);
  *   - a delta append ([[ops.TextOps.publishLabelDelta]] at the
  *     production fold cadence) of day 1's label delta;
  *   - a fold (the same publish with `LabelFoldRuns = 1`: the append, then
  *     [[ops.TextOps.publishBucketed]] and the delta clear).
  * The delta is the one day-N maintenance derives — the from-scratch
  * labels of both days minus the day-0 labels they leave unchanged. (The
  * maintenance run's own `_toks`/`_bands` appends and compaction are not
  * label-table commits and are not swept here.)
  * After each fault the fault is cleared and the entry re-driven, as an
  * operator would, and the store must have converged: the manifest names
  * the catalog's location, the overlay read equals the from-scratch
  * labels, exactly one `labels_g*` generation is left, and no `_stage`
  * table, staging directory or lock file remains. The one crash point a
  * re-drive cannot heal by itself is the lock's own delete: the next
  * writer must refuse loudly, naming the lock, and proceed once the
  * operator deletes it.
  */
class CrashPointSweepSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  // ~150 crash points of two lifecycle runs each make per-query overhead
  // the sweep's whole cost, so this suite runs with AQE off (it submits
  // every query stage as its own job), one shuffle partition and Spark's
  // INFO log quiet. Neither setting moves a crash point: those are
  // filesystem mutations, and every write repartitions to the table's
  // explicit bucket count.
  private val tuned = Seq("spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "1")
  private var saved = Seq.empty[(String, Option[String])]
  private var savedLevel = "INFO"
  override protected def beforeAll(): Unit = {
    FaultFs.install(spark)
    saved = tuned.map { case (k, _) => k -> spark.conf.getOption(k) }
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    savedLevel = org.apache.logging.log4j.LogManager.getRootLogger.getLevel.name
    spark.sparkContext.setLogLevel("WARN")
  }
  override protected def afterAll(): Unit = {
    try templateBuilt.foreach(dropStore)
    finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      spark.sparkContext.setLogLevel(savedLevel)
    }
  }

  private val Buckets = 4
  private val Workers = 4
  private def words(p: String) = (1 to 20).map(i => s"$p$i").mkString(" ")
  private val (tA, tC, tE, tF, tG) =
    (words("alpha"), words("charlie"), words("echo"), words("foxtrot"), words("golf"))
  private def docsDF(rows: (Long, String)*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }
  private val day0Docs = Seq(1L -> tA, 2L -> tA, 3L -> tC, 5L -> tE, 6L -> tF)
  private val day1Docs = Seq(10L -> tA, 11L -> tE, 12L -> tG, 13L -> tG)

  private val ctr = new java.util.concurrent.atomic.AtomicInteger(0)

  /** One store under test: table base name plus its `faultfs` directory. */
  private case class Store(base: String, dir: java.nio.file.Path) {
    val loc: String = FaultFs.uri(dir)
    val tbl: String = s"${base}_labels"
  }

  private def newStore(): Store = {
    val n = ctr.incrementAndGet()
    Store(s"graft_sweep_$n", TestSpark.tempDir(s"graft_sweep_${n}_"))
  }

  private def dropStore(st: Store): Unit = {
    Seq("_bands", "_toks", "_labels", "_labels_stage", "_labels_delta").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS ${st.base}$sfx"))
    org.apache.commons.io.FileUtils.deleteQuietly(st.dir.toFile)
  }

  private def buildDay0(st: Store): Unit =
    ops.Dedup.buildSigClusterStore(spark, st.base, st.loc, docsDF(day0Docs: _*),
      buckets = Buckets)

  /** Publish `delta` — (doc_id, canonical_id) rows — into `st`'s labels. */
  private def publishDelta(delta: Map[Long, Long])(st: Store): Unit = {
    import spark.implicits._
    ops.TextOps.publishLabelDelta(spark, st.tbl, "doc_id",
      delta.toSeq.toDF("doc_id", "canonical_id"))
  }

  private def labelsOf(st: Store): Map[Long, Long] =
    ops.TextOps.readLabels(spark, st.tbl, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Labels of a day-0 build over `docs` on a plain local directory. */
  private def fromScratch(docs: Seq[(Long, String)]): Map[Long, Long] = {
    val st = newStore()
    try {
      ops.Dedup.buildSigClusterStore(spark, st.base, st.dir.toString, docsDF(docs: _*),
        buckets = Buckets)
      labelsOf(st)
    } finally dropStore(st)
  }

  private def withFoldRuns[T](runs: Int)(body: => T): T = {
    val saved = ops.TextOps.LabelFoldRuns
    ops.TextOps.LabelFoldRuns = runs
    try body finally ops.TextOps.LabelFoldRuns = saved
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  private def assertConverged(st: Store, want: Map[Long, Long], clue: String): Unit = {
    val fs = ops.StoreFs.fs(spark, new Path(st.loc))
    val parent = new Path(st.loc)
    val live = new Path(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(st.tbl)).location).getName
    assert(ops.StoreFs.readSmall(fs, ops.TextOps.manifestPath(parent, "labels"))
      .map(_.trim).contains(live), s"$clue: the manifest must name the catalog's location $live")
    assert(labelsOf(st) == want, s"$clue: labels must equal the from-scratch labels")
    val gens = ops.StoreFs.listDirs(fs, parent).map(_.getPath.getName)
      .filter(_.matches("labels" + ops.TextOps.GenSuffixRe))
    assert(gens == Seq(live), s"$clue: exactly the live generation must remain: $gens")
    assert(!spark.catalog.tableExists(s"${st.tbl}_stage"), s"$clue: no _stage table")
    assert(!fs.exists(new Path(parent, "labels_swap.lock")), s"$clue: no lock file")
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(st.dir)
    val staging = try walk.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith(".graft_compact_") || n == "_temporary").toSeq
      finally walk.close()
    assert(staging.isEmpty, s"$clue: no staging directory may remain: $staging")
  }

  /** A day-0 store for `setup` to copy: built once, never faulted. */
  private lazy val day0Template: Store = {
    val st = newStore(); buildDay0(st); templateBuilt = Some(st); st
  }
  @volatile private var templateBuilt: Option[Store] = None

  /** Make `st` a copy of [[day0Template]]: its files, and its three tables
    * registered at the copy's locations with the template's bucket spec
    * and properties — the state a day-0 build leaves, without a build. */
  private def copyDay0(st: Store): Unit = {
    val tpl = day0Template
    org.apache.commons.io.FileUtils.copyDirectory(tpl.dir.toFile, st.dir.toFile)
    val catalog = spark.sessionState.catalog
    for (sfx <- Seq("_bands", "_toks", "_labels")) {
      val meta = catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tpl.base + sfx))
      val loc = new java.net.URI(meta.location.toString.replace(tpl.dir.toString, st.dir.toString))
      catalog.createTable(meta.copy(
        identifier = org.apache.spark.sql.catalyst.TableIdentifier(st.base + sfx),
        storage = meta.storage.copy(locationUri = Some(loc))), ignoreIfExists = false)
    }
  }

  /** Crash point `n` of `entry`: a fresh store from `setup` (no fault),
    * `entry` with mutation `n` failing, the re-drive, the convergence
    * check. Returns the failed mutation (operation, file name), or the
    * number of mutations made when `entry` completed without reaching
    * `n`. */
  private def crashPoint(n: Int, setup: Store => Unit, entry: Store => Unit,
                         want: Map[Long, Long]): Either[Int, (String, String)] = {
    val st = newStore()
    try {
      setup(st)
      FaultFs.arm(st.dir, n)
      val run = Try(entry(st))
      val seen = FaultFs.disarm(st.dir)
      seen.fired match {
        case None =>
          run.get
          assertConverged(st, want, s"clean run (mutation #$n not reached)")
          Left(seen.calls)
        case Some((op, path)) =>
          val clue = s"fault at mutation #$n ($op ${path.getName})"
          run match {
            case Failure(e) => assert(messages(e).exists(_.contains(FaultFs.Scheme)),
              s"$clue: the entry failed with something other than the fault: $e")
            case Success(_) => ()
          }
          if (op == "delete" && path.getName == "labels_swap.lock") {
            // The unlock failed: the next writer must refuse, naming the
            // lock, until the operator deletes it (the documented step).
            val refused = intercept[IllegalStateException](entry(st))
            assert(refused.getMessage.contains("labels_swap.lock") &&
              refused.getMessage.contains("single-writer"), s"$clue: ${refused.getMessage}")
            val fs = ops.StoreFs.fs(spark, new Path(st.loc))
            assert(fs.delete(new Path(st.loc, "labels_swap.lock"), false))
          }
          entry(st)
          assertConverged(st, want, clue)
          Right(op -> path.getName)
      }
    } finally {
      FaultFs.disarm(st.dir)
      dropStore(st)
    }
  }

  /** Sweep `entry` over every crash point N = 1, 2, … until it completes
    * without reaching N, [[Workers]] crash points at a time (each store
    * has its own directory and fault counter). Returns the failed
    * mutation of every crash point. Stopping at the first clean N covers
    * every crash point only if each clean run makes the same number of
    * mutations, N - 1, so every clean run is checked for that count. */
  private def sweep(setup: Store => Unit, entry: Store => Unit,
                    want: Map[Long, Long]): Seq[(String, String)] = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val cleanAt = new java.util.concurrent.atomic.AtomicInteger(Int.MaxValue)
    val faults = new java.util.concurrent.ConcurrentHashMap[Int, (String, String)]()
    val cleanRuns = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Workers)
    try {
      val workers = (1 to Workers).map(_ => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          var n = next.incrementAndGet()
          while (n < cleanAt.get) {
            crashPoint(n, setup, entry, want) match {
              case Right(f) => faults.put(n, f)
              case Left(made) =>
                cleanRuns.put(n, made)
                cleanAt.accumulateAndGet(n, math.min)
            }
            n = next.incrementAndGet()
          }
        }
      }))
      workers.foreach { w =>
        try w.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdownNow()
    import scala.jdk.CollectionConverters._
    val last = cleanAt.get - 1
    assert(cleanRuns.values.asScala.forall(_ == last) && faults.keySet.asScala.forall(_ <= last),
      s"every clean run must make exactly $last mutations (clean runs by crash point: " +
        s"${cleanRuns.asScala.toSeq.sorted}; last fault at #${faults.keySet.asScala.maxOption}), " +
        "or stopping at the first clean crash point can leave the last ones unswept")
    (1 to last).map(faults.get)
  }

  private val LockDelete = "delete" -> "labels_swap.lock"
  private val ManifestPut = "create" -> "labels.manifest"

  test("day-0 label build: every crash point converges on re-drive") {
    val want = fromScratch(day0Docs)
    assert(want == Map(1L -> 1L, 2L -> 1L), s"fixture: $want")
    val faults = sweep(_ => (), buildDay0, want)
    assert(faults.contains(ManifestPut) && faults.contains(LockDelete),
      s"the sweep must reach commitDay0's manifest PUT and unlock: $faults")
    info(s"${faults.size} crash points")
  }

  /** Day 1's label delta and the labels it must converge to. */
  private lazy val day1Delta: (Map[Long, Long], Map[Long, Long]) = {
    val before = fromScratch(day0Docs)
    val want = fromScratch(day0Docs ++ day1Docs)
    assert(want == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 5L -> 5L, 11L -> 5L,
      12L -> 12L, 13L -> 12L), s"fixture: $want")
    (want.filter { case (k, c) => !before.get(k).contains(c) }, want)
  }

  test("delta append: every crash point converges on re-drive") {
    val (delta, want) = day1Delta
    assert(ops.TextOps.LabelFoldRuns > 1, "the production cadence does not fold")
    val faults = sweep(copyDay0, publishDelta(delta), want)
    assert(faults.nonEmpty && !faults.contains(ManifestPut), s"an append commits nothing: $faults")
    info(s"${faults.size} crash points")
  }

  test("fold (LabelFoldRuns = 1): every crash point converges on re-drive") {
    val (delta, want) = day1Delta
    val faults = withFoldRuns(1)(sweep(copyDay0, publishDelta(delta), want))
    assert(faults.contains(ManifestPut) && faults.contains(LockDelete),
      s"the sweep must reach the fold's manifest PUT and unlock: $faults")
    info(s"${faults.size} crash points")
  }
}
