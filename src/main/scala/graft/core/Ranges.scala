package graft.core

/** Interval coalescing shared by the maintenance and streaming paths —
  * one implementation of the sort-then-fold merge so its edge cases
  * (duplicates, containment, adjacency) are fixed in one place.
  */
object Ranges {

  /** Merge overlapping ranges, and ranges whose gap is < `adjacency`
    * (adjacency 1 merges touching-or-adjacent ranges like [0,9]+[10,19]).
    * Input order and duplicates don't matter. */
  def merge(ranges: Seq[(Long, Long)], adjacency: Long = 1L): Seq[(Long, Long)] =
    ranges.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: tail, (s, e)) if s <= e0 + adjacency =>
        (s0, math.max(e0, e)) :: tail
      case (acc, r) => r :: acc
    }.reverse

  /** Contiguous runs of a slot list: [5,6,6,7,100] → [(5,7),(100,100)]. */
  def runsOf(slots: Seq[Long]): Seq[(Long, Long)] =
    merge(slots.map(s => (s, s)))
}

/** Rows per range: [[add]] counts `n` rows of one slot into element `i`
  * of a counts array for every `ranges(i)` holding the slot. A slot inside
  * several overlapping ranges counts once in each of them; a slot outside
  * every range counts nowhere. `ranges` must be sorted by start. Each slot
  * costs one binary search for the last range starting at or before it,
  * then a backward walk that stops once no earlier range reaches the slot
  * — a single step on a disjoint grid. */
final class RangeCounts(ranges: IndexedSeq[(Long, Long)]) extends Serializable {
  private val starts = ranges.map(_._1).toArray
  private val ends = ranges.map(_._2).toArray
  require(starts.indices.drop(1).forall(i => starts(i - 1) <= starts(i)),
    "RangeCounts needs ranges sorted by start")
  /** reach(i) = the largest end among ranges 0..i */
  private val reach = ends.scanLeft(Long.MinValue)(math.max).drop(1)

  def zero: Array[Long] = new Array[Long](starts.length)

  def add(counts: Array[Long], slot: Long, n: Long): Unit = {
    var lo = 0
    var hi = starts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (starts(mid) <= slot) lo = mid + 1 else hi = mid
    }
    var i = lo - 1
    while (i >= 0 && reach(i) >= slot) {
      if (ends(i) >= slot) counts(i) += n
      i -= 1
    }
  }

  /** Adds `b` into `a`, element by element, and returns `a`. */
  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }
}
