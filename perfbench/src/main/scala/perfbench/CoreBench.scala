package perfbench

import graft.core.Reservoir

/** Direct microbenchmark of `graft.core.Reservoir`, the state machine
  * behind `appx_median_bounded`: the same insert → assignKeys/merge →
  * serialize → medianUpper sequence one aggregation group goes through
  * across two partial aggregates, with no Spark in the way.
  *
  * Work per call is fixed; only the value stream depends on the seed.
  * k=100 is a typical gate bound, k=20000 the reference engine's fixed
  * sample bound.
  */
object CoreBench {

  val Bounds: Seq[Int] = Seq(100, 20000)
  /** Values inserted into each of the two partial states. */
  val PartialRows = 50000

  /** Per-operation costs at one bound. */
  final case class Costs(insertNs: Double, mergeUs: Double,
      serializeUs: Double, stateBytes: Double, medianUs: Double)

  private def values(seed: Long, n: Int): Array[Double] = {
    val rng = new java.util.Random(seed)
    Array.fill(n)(rng.nextGaussian() * 1000.0)
  }

  /** One group's life cycle at bound `k`; returns the costs and the
    * final median. */
  def once(seed: Long, k: Int): (Costs, Option[Double]) = {
    val xs = values(seed, PartialRows)
    val ys = values(seed + 1, PartialRows)
    val a = Reservoir.empty[Double](k, seed)
    val b = Reservoir.empty[Double](k, seed + 1)
    val t0 = System.nanoTime()
    var i = 0
    while (i < xs.length) { a.insert(xs(i), k); b.insert(ys(i), k); i += 1 }
    val t1 = System.nanoTime()
    a.assignKeys(); b.assignKeys()
    val bytes = b.serializeTo(Reservoir.DoubleCodec)
    val t2 = System.nanoTime()
    a.merge(Reservoir.deserializeFrom(bytes, Reservoir.DoubleCodec))
    val t3 = System.nanoTime()
    val med = a.medianUpper
    val t4 = System.nanoTime()
    (Costs(
      insertNs = (t1 - t0).toDouble / (2 * PartialRows),
      mergeUs = (t3 - t2) / 1e3,
      serializeUs = (t2 - t1) / 1e3,
      stateBytes = bytes.length.toDouble,
      medianUs = (t4 - t3) / 1e3), med)
  }

  /** The pseudo-gate of a `uda_median` pass: the life cycle at every
    * bound, `reps` times. */
  def gate(seed: Long, reps: Int): Unit =
    for (r <- 0 until reps; k <- Bounds) once(seed * 31 + r, k)

  /** Exact regime check: with k at least the input size the reservoir
    * keeps every value, so after the merge the median must equal the
    * upper-middle element of the sorted union (the reference's
    * contract). */
  def exactRegimeHolds(seed: Long): Boolean = {
    val k = 2 * PartialRows
    val (_, med) = once(seed, k)
    val all = (values(seed, PartialRows) ++ values(seed + 1, PartialRows)).sorted
    med.contains(all(all.length / 2))
  }

  /** Median over `reps` calls of each cost, per bound. */
  def measure(seed: Long, reps: Int): Map[Int, Costs] = {
    gate(seed, reps) // JIT warm-up: the workload may not have run it yet
    Bounds.map { k =>
      val runs = (0 until reps).map(r => once(seed * 31 + r, k)._1)
      def med(f: Costs => Double) = Stats.median(runs.map(f))
      k -> Costs(med(_.insertNs), med(_.mergeUs), med(_.serializeUs),
        med(_.stateBytes), med(_.medianUs))
    }.toMap
  }
}
