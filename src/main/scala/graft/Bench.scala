package graft
import org.apache.spark.sql.SparkSession
import java.util.concurrent.{Callable, Executors, TimeUnit, TimeoutException}

object Bench {
  /** The driver keeps only the final 2000 characters of stdout, and sbt
    * appends a ~75-char "[success] ..." line after us — so the single JSON
    * result line must fit well under 2000 chars or the whole round's bench
    * goes unparsed (rounds 2/3/5 all lost data to this window). Budget with
    * margin; if the per-query map would overflow it, drop the fastest
    * entries (least informative) and say how many were omitted. */
  private val MaxLineLen = 1700

  /** Materialize a query's FULL result — every row AND every column — as
    * the timed action. `count()` is NOT that action (r12): under a bare
    * count Catalyst prunes every column and then eliminates whole
    * subtrees whose row count is derivable without running them — a
    * left-outer join against an aggregate keyed uniquely (the near-dup
    * screens' exact shape) folds to a count of the probe side, so the
    * bench timed a filtered row-count instead of the screen (the
    * optimized plan was literally `Aggregate [count] <- Filter <- scan`).
    * A checksum over struct(*) makes every output column load-bearing;
    * bit_xor (not sum) because ANSI mode throws on long overflow. Spark's
    * hash expressions reject MapType, so a column carrying a map anywhere
    * in its type is hashed through to_json instead — still materializing
    * every key and value, so the plan can't prune it. There is NO count()
    * fallback (VERDICT r12 next #7: the fallback was a latent measurement
    * hole — any future map-emitting query would silently regain the very
    * fold-past-the-operator optimism the checksum action exists to kill).
    */
  /** True when a map lurks anywhere in the type — shared by the checksum
    * action here and [[Verify]]'s dump-time to_json normalization (both
    * Spark's hash expressions and the driver's pandas row-hash reject raw
    * MapType cells). */
  private[graft] def hasMapType(t: org.apache.spark.sql.types.DataType): Boolean = t match {
    case _: org.apache.spark.sql.types.MapType => true
    case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasMapType(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType => hasMapType(a.elementType)
    case _ => false
  }

  private[graft] def forceEval(df: org.apache.spark.sql.DataFrame): Unit = {
    val cols = df.schema.fields.map { f =>
      if (hasMapType(f.dataType)) s"xxhash64(to_json(`${f.name}`))" else s"`${f.name}`"
    }
    df.selectExpr(s"bit_xor(xxhash64(struct(${cols.mkString(",")}))) AS checksum")
      .collect()
    ()
  }

  /** Scale factor parsed from a .../sfX.Y dir. Trailing slashes are
    * stripped first — "/root/testdata/sf100/" must parse as 100, not
    * silently fall back to the sf0.1 defaults (which would reintroduce
    * the 32-partition spill pathology the decade scaling exists to fix).
    * An unparseable dir warns rather than failing silently for the same
    * reason. */
  private[graft] def sfOf(sfDir: String): Double = {
    val clean = sfDir.reverse.dropWhile(_ == '/').reverse
    // flatMap + toDoubleOption: the regex admits strings toDouble rejects
    // ("sf1.2.3", "sf."); those must land in the warn-and-default branch,
    // not throw NumberFormatException at startup (ADVICE r11).
    "sf([0-9.]+)$".r.findFirstMatchIn(clean)
      .flatMap(m => m.group(1).toDoubleOption)
      .getOrElse {
        System.err.println(
          s"[bench] WARN: cannot parse scale factor from '$sfDir' - assuming sf0.1 defaults")
        0.1
      }
  }

  /** One environmental stall must not eat the round's wall-clock budget
    * (round 3: a 2-second query measured 635 s under driver-box contention).
    * Cap each query; on timeout cancel its jobs and record the cap. The cap
    * scales with the SF decade above the driver's sf0.1 (r10, VERDICT r09
    * #7): 60 s is calibrated for sf0.1, where every legitimate query runs
    * in single-digit seconds, but a dev bench at sf10/sf100 has
    * legitimately 10-100× larger data — a fixed cap would record honest
    * data-bound queries as stalls. Override with SPARK_GRAFT_CAP_SEC. */
  private def queryCapSec(sfDir: String): Long =
    sys.env.get("SPARK_GRAFT_CAP_SEC").map(_.toLong).getOrElse {
      val sf = sfOf(sfDir)
      // 60 s at <= sf0.1, then +60 s per decade: sf1 -> 120, sf10 -> 180,
      // sf100 -> 240. Linear in the decade, not the data: the registered
      // surface's measured decade ratios are ~2-3x, so a per-decade ratio
      // >= 10x still caps out and reads as the stall/regression it is.
      60L * (1 + math.max(0, math.ceil(math.log10(sf / 0.1)).toLong))
    }

  /** Shuffle partitions scale with the data decade, not just the cores —
    * the sf100 probe's one super-linear entry was q_tpch21 at 18.6×/decade
    * purely because a 600M-row sort-merge join through 32 partitions is a
    * ~19M-row sort per task, past the in-memory budget, so every task
    * spills; at 256 partitions the same query's floor came back to
    * 5.5×/decade (PERF_NOTES r10). Doubling per decade keeps per-partition
    * shuffle bytes near the sf0.1 calibration on this fixed-core box; AQE
    * (on by default) coalesces the queries that don't need the width. On a
    * real cluster the equivalent lever is AQE's initialPartitionNum sized
    * to ~128-256 MB per partition. Override with SPARK_GRAFT_PARTS. */
  private[graft] def shufflePartitions(sfDir: String, cpus: String): String =
    sys.env.getOrElse("SPARK_GRAFT_PARTS", {
      val sf = sfOf(sfDir)
      val decades = math.max(0, math.ceil(math.log10(sf / 0.1)).toInt)
      // SPARK_GRAFT_CPUS may be any value legal in local[...] — "*" means
      // all cores; fall back to the machine's core count rather than
      // throwing NumberFormatException at startup.
      val nCpus = cpus.toIntOption
        .getOrElse(Runtime.getRuntime.availableProcessors)
      math.min(2048, nCpus << decades).toString
    })

  def main(args: Array[String]): Unit = {
    // Heap sizing for sweeps: see the GRAFT_HEAP rule in tools/runjava.sh
    // — full-session sf100 sweeps need 96 g (32 g OOMs the
    // 187-query session), isolated scan-heavy probes want 32 g (a 96 g
    // pinned heap starves the page cache), and numbers are only comparable
    // within one heap size.
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"${SparkEntry.FixtureRoot}/sf0.1")
    val QueryCapSec = queryCapSec(sfDir)
    val gcBetweenQueries = sfOf(sfDir) > 0.5
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions(sfDir, cpus))
      // The events table's MICROS/NTZ timestamp layout casts through the
      // session timezone (Tables.scala); pin UTC here rather than relying
      // on build.sbt's -D flag, which tools/runjava.sh bypasses.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warmup so the first measured query doesn't absorb session
    // startup; deterministic (sorted) query order for run-to-run comparability.
    // The second warmup touches the parquet read path (footer parsing,
    // vectorized-reader classes, FS metadata): without it the alphabetically
    // first query pays it — q1_agg measured 1.8s vs its usual 0.3s, just
    // under the 2.0s re-measure threshold.
    try {
      spark.range(0, 1000000).selectExpr("sum(id)").collect()
      // Scan + group-by over the 5-row region table: parquet footer/vector
      // reader, HashAggregate codegen, and one real exchange, all warmed
      // without touching any table a measured query aggregates.
      spark.read.parquet(s"$sfDir/region.parquet")
        .groupBy("r_name").count().collect()
      // The events table carries its own one-time read-path costs on top of
      // the generic parquet warmup: the NANOS-long/NTZ timestamp
      // normalization in Tables and the codegen of its cast pipeline.
      // Without this, the alphabetically-first events query absorbed them —
      // q_asof_forward benched 1.7 s in r10 vs a 0.3 s isolated
      // steady-state (PERF_NOTES r11). One max(ts) reads a single column.
      Tables(spark, sfDir, "events").selectExpr("max(ts)").collect()
    } catch { case _: Throwable => () }
    val pool = Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r); t.setDaemon(true); t
    }
    /** Block (bounded) until no Spark jobs are active. A cancelled job
      * group's tasks keep burning CPU for a while after cancelJobGroup
      * returns; in round 5 that bled ~14s into the very next measurement
      * (q_wordcount 0.4s -> 14.9s right after q_winnow_fps hit the cap).
      * Never start the next timer while zombie tasks are draining. */
    def drainActiveJobs(maxWaitMs: Long): Unit = {
      val deadline = System.nanoTime() + maxWaitMs * 1000000L
      while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty &&
             System.nanoTime() < deadline) {
        Thread.sleep(200)
      }
      // Zombie tasks outliving the drain bound mean the NEXT measurement
      // starts under contention — say so, so a poisoned number can be
      // discounted when reading the bench output instead of passing as real.
      val leftover = spark.sparkContext.statusTracker.getActiveJobIds()
      if (leftover.nonEmpty)
        System.err.println(
          s"[bench] WARN: drain deadline expired with ${leftover.length} job(s) still active - next measurement may be contended")
    }
    /** One watchdogged, measured execution: elapsed seconds, the cap on
      * timeout, -1.0 on failure. A failed query must never read as a fast
      * one in the emitted JSON. */
    def timedRun(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val fut = pool.submit(new Callable[Long] {
        def call(): Long = {
          // Job-group must be set on the thread that RUNS the query (Spark
          // job groups are thread-local) or cancelJobGroup finds nothing and
          // a timed-out query keeps running, stealing CPU from every query
          // after it.
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          forceEval(fn(spark, sfDir)); 0L
        }
      })
      val sec = try { fut.get(QueryCapSec, TimeUnit.SECONDS); (System.nanoTime() - t0) / 1e9 }
      catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelJobGroup(name)
          fut.cancel(true)
          drainActiveJobs(maxWaitMs = 15000)
          System.err.println(s"[bench] $name exceeded ${QueryCapSec}s - cancelled")
          QueryCapSec.toDouble
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
      }
      // Release any persisted blocks the query left behind (e.g. the
      // localCheckpoint lineage truncation in connected components):
      // accumulated blocks shrink execution memory for every later query.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      // At scaled SFs, force a GC between queries (VERDICT r13 next #7:
      // q_tpch21 measured 183.9 s in-sweep vs 39.8 s isolated at sf100).
      // Spark's ContextCleaner reclaims shuffle files and broadcast blocks
      // only when their owning objects are GC'd, and a 96 GB heap under a
      // 185-query sweep can go many queries without a collection — by the
      // tail of an sf100 sweep, hundreds of GB of dead shuffle files
      // compete with the parquet reads for page cache. The GC runs OUTSIDE
      // the timer (per-query numbers are unaffected either way); gated to
      // sf>0.5 because at the driver's sf0.1 the unpersist hygiene above
      // has been sufficient since r04 and the extra wall-clock buys
      // nothing.
      if (gcBetweenQueries) System.gc()
      sec
    }
    // Query-subset knob (VERDICT r15/r16 next #1): SPARK_GRAFT_QUERIES is a
    // comma-separated allowlist of query names. The full 187-query sweep
    // takes ~2.5 h at sf100 (measured r13) and cannot survive a round close
    // (the harness SIGTERMs stray JVMs), so targeted sub-sweeps — e.g. the
    // GC-fix watch entries plus the heavy dedup/join tier — need a way to
    // run ONLY those queries in a 20-30 min window.
    val selected = SparkEntry.selectFromEnv("bench")
    val firstPass = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      (name, fn, timedRun(name, fn))
    }
    // This box's local[32] timings are contention-noisy (PERF_NOTES: the
    // slowest query rotates randomly, 2-6x inflated; isolated timings are
    // stable). Re-measure apparent outliers and take the min — a genuine hot
    // spot measures slow twice, a scheduling hiccup doesn't. Do it as a
    // SECOND sweep after the full run, not inline: an inline retry lands in
    // the same contention window that inflated the first measurement
    // (round 5 re-measured q_winnow_fps straight into the same stall and
    // burned 2x60s of cap for nothing).
    val secondPass = firstPass.map { case (name, fn, first) =>
      val best =
        if (first > 2.0) {
          val again = timedRun(name, fn)
          if (again < 0) first else math.min(first, again)
        } else first
      (name, fn, best)
    }
    // Third sweep (min-of-3) for anything STILL >5s: rounds 4-6 showed this
    // box's host throttling can inflate a whole window 2-3x uniformly, so a
    // single re-measure can land in the same stall as the first (round 6:
    // four aggregate queries recorded 6-15s whose plans cost 0.2-4s in every
    // dev sweep). A genuine hot spot measures slow three times; a throttled
    // window has three chances to clear.
    val results = secondPass.map { case (name, fn, best) =>
      val v =
        if (best > 5.0) {
          val third = timedRun(name, fn)
          if (third < 0) best else math.min(best, third)
        } else best
      name -> v
    }
    // Decisecond precision for per-query values with trailing zeros
    // stripped ("0.21"→"0.2", "3.0"→"3") — every byte counts against the
    // 2000-char tail window, and 0.1s resolution is plenty for queries
    // whose signal is "sub-second" vs "multi-second".
    def fmt(v: Double): String =
      if (v < 0) "-1"
      else f"$v%.1f".reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse match {
        case "" => "0"
        case t => t
      }
    def line(qs: Seq[(String, Double)], omitted: Int): String = {
      val m = qs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
      val om = if (omitted > 0) s""","omitted":$omitted""" else ""
      val total = fmt(results.map(_._2).filter(_ > 0).sum)
      // Numeric sf when the dir is .../sfX.Y (it always is for the driver);
      // every byte of this line competes with query entries for the window.
      val sf = "sf([0-9.]+)$".r
        .findFirstMatchIn(sfDir.reverse.dropWhile(_ == '/').reverse)
        .map(_.group(1)).getOrElse("\"" + sfDir + "\"")
      // "value" leads for the documented contract; "total_sec" repeats it at
      // the very END of the line because the driver's window keeps the LAST
      // 2000 chars — if anything sneaks out after us and truncates the
      // front, the headline number still survives in the readable tail
      // (round 5 lost the total exactly this way).
      // "action":"checksum" marks the r12 methodology (full-result
      // materialization) so a reader comparing against pre-r12 BENCH
      // files — which timed .count() — sees the convention break in the
      // data itself, not just in PERF_NOTES.
      s"""{"metric":"total","value":$total,"unit":"sec","action":"checksum","queries":$m$om,"sf":$sf,"total_sec":$total}"""
    }
    // Dev-sweep hook (r12): the trimmed stdout line drops the fastest
    // entries, which is exactly what a cross-round per-query comparison
    // needs; SPARK_GRAFT_OUT writes the UNTRIMMED map to a file the driver
    // never reads.
    sys.env.get("SPARK_GRAFT_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line(results, 0) + "\n").getBytes("UTF-8"))
    }
    // Keep the slowest queries when trimming: they carry the signal.
    var kept = results
    var out = line(kept, results.size - kept.size)
    while (out.length > MaxLineLen && kept.nonEmpty) {
      val dropKey = kept.minBy(_._2.abs)._1
      kept = kept.filterNot(_._1 == dropKey)
      out = line(kept, results.size - kept.size)
    }
    // Silence Spark entirely, then stop, THEN print: shutdown-time WARN
    // lines (e.g. a late TaskKilled flush) landing after the JSON is what
    // pushed the line's front out of the round-5 tail window. The stop is
    // try/finally'd: if shutdown wedges or throws (it can, after cancelled
    // job groups), the round's single JSON line must STILL be emitted —
    // losing the whole bench to a failed stop() is worse than any log line
    // that might sneak out after it.
    spark.sparkContext.setLogLevel("OFF")
    try spark.stop()
    catch { case e: Throwable => System.err.println(s"[bench] stop failed: ${e.getMessage}") }
    finally println(out)
  }
}
