package graft.perfbench

/** Everything a workload derives from its `--seed`, as pure functions so
  * that a seed names the same operations in every JVM. */
object Plan {
  /** SplitMix64's finalizer: a bijective, well-mixed 64-bit hash. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def rank(seed: Long, salt: Long, key: Long): Long = mix(mix(seed * 1000003L + salt) ^ key)

  /** The seed's query order (`String.hashCode` is fixed by the JLS). */
  def queryOrder(names: Seq[String], seed: Long): Seq[String] =
    names.sorted.sortBy(n => rank(seed, 1, n.hashCode.toLong))

  /** The store's ingest schedule: the seed-chosen half of `ids` is the
    * day-0 build, and the rest is dealt into `days` day batches of near
    * equal size. Every id lands in exactly one of them. */
  def daySplit(ids: Seq[Long], seed: Long, days: Int): (Seq[Long], Seq[Seq[Long]]) = {
    val ordered = ids.sortBy(id => rank(seed, 2, id))
    val (day0, rest) = ordered.splitAt(ordered.size / 2)
    (day0.sorted, (0 until days).map(d => rest.zipWithIndex.collect {
      case (id, i) if i % days == d => id
    }.sorted))
  }

  /** The store's steady-read probe batch: a seed-chosen `1/den` of `ids`. */
  def probe(ids: Seq[Long], seed: Long, den: Int): Seq[Long] =
    ids.sortBy(id => rank(seed, 3, id)).take(math.max(1, ids.size / den)).sorted
}
