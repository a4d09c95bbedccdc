package graft.perfbench

/** A fixed piece of CPU work, timed after set-up and after every pass to
  * measure how fast the host runs the JVM at that moment. It calls no
  * engine code, so no change to the engine moves it; only the host does.
  *
  * It mixes the kinds of work the engine's passes are made of: chains of
  * dependent loads scattered over a table far larger than a core's caches
  * (hash tables, object graphs), arithmetic on values in registers
  * (generated code over rows), and short-lived objects in a hash map
  * (the planner and the scheduler). */
object HostSpeed {
  private val TableWords = 1 << 23 // 64 MiB of longs
  private val Loads = 1 << 18
  private val Mixes = 1 << 21
  private val Entries = 50000

  private lazy val table: Array[Long] = Array.tabulate(TableWords)(i => Plan.mix(i.toLong))
  @volatile private var sink = 0L

  private def loads(): Long = {
    val t = table
    val mask = TableWords - 1
    var h = 0L
    var i = 0
    while (i < Loads) { h = t((h ^ i).toInt & mask); i += 1 }
    h
  }

  private def mixes(seed: Long): Long = {
    var x = seed
    var i = 0
    while (i < Mixes) { x = (x ^ (x >>> 29)) * 0xBF58476D1CE4E5B9L + i; i += 1 }
    x
  }

  private def objects(): Long = {
    val m = new java.util.HashMap[java.lang.Long, String]()
    for (i <- 0 until Entries) m.put(Plan.mix(i), "v" + i)
    var h = 0L
    for (i <- 0 until Entries) h += m.get(Plan.mix(i)).length
    h
  }

  private def once(): Double = {
    val t0 = System.nanoTime()
    sink ^= mixes(loads()) + objects()
    (System.nanoTime() - t0) / 1e9
  }

  /** Seconds the work takes now: the median of three timings, so that one
    * timing cut into by a garbage collection or the JIT is left out. */
  def sample(): Double = Seq(once(), once(), once()).sorted.apply(1)

  /** Fills the table and lets the JIT compile the work, so that later
    * samples time the compiled code. */
  def warmUp(): Unit = for (_ <- 1 to 2) sample()
}
