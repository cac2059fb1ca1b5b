package graft.functions

import org.apache.spark.sql.Dataset

/** The one bounded driver-local collect behind every "decide with small
  * rows" fast path: [[Ivf.train]], [[Components.connectedComponents]],
  * the dedup cluster relation of q78/q133 and MinHash's 64-word
  * vocabulary check. Each site collects a relation that is small on the
  * inputs it is built for and finishes on the driver; when the relation
  * is not small, the site's distributed path (the 100 TB path) runs
  * instead, with identical results.
  */
object LocalPath {

  /** The heap rule, stated once: collected payload never exceeds 1/64 of
    * the driver's max heap, i.e. maxMemory / 512 elements of 8 bytes. The
    * objects a site builds from those rows cost a small multiple of the
    * payload, so a small-heap driver takes the distributed path instead
    * of running out of memory at a site's fixed budget. */
  private def heapBudget: Long = Runtime.getRuntime.maxMemory / 512

  /** Every row of `ds` if their summed `weight` fits the budget, else None.
    *
    * `weight` is a row's payload in 8-byte elements (at least 1; a site
    * that bounds a row count weighs each row 1). The budget is `budget`
    * lowered by the heap rule; a budget of 0 always returns None, which
    * is how tests force a site's distributed path.
    *
    * Cost: one Spark job, plus those of any shuffle stage in `ds`'s plan.
    * The relation is read as one partition through an iterator that stops
    * after the first row whose running weight passes the budget, so no
    * probe job runs, and neither the task nor the driver ever holds more
    * than the budget plus one row. On overflow the site pays this one job
    * over at most that many rows, then its distributed path. */
  def collectBounded[T](ds: Dataset[T], budget: Long)(weight: T => Long): Option[Array[T]] = {
    val cap = math.min(budget, heapBudget)
    if (cap <= 0) return None
    val rows = ds.coalesce(1)
      .mapPartitions(it => withinBudget(it, cap, weight))(ds.encoder)
      .collect()
    if (rows.iterator.map(weight).sum > cap) None else Some(rows)
  }

  /** `it` up to and including the first row whose running weight passes
    * `cap`; no row after that one is read. */
  private def withinBudget[T](it: Iterator[T], cap: Long,
      weight: T => Long): Iterator[T] = new Iterator[T] {
    private var used = 0L
    def hasNext: Boolean = used <= cap && it.hasNext
    def next(): T = { val r = it.next(); used += weight(r); r }
  }
}
