package graft.operators

/** Driver-side union-find over a bounded edge list — the kernel behind
  * the small-graph paths of [[Graph.connectedComponents]] and
  * `Similarity.dbscanLabels` (routing: [[DriverGate]]).
  *
  * Node ids are remapped through ONE sorted primitive long array (binary
  * search), parents live in an Int array, and find uses path halving —
  * ~16 bytes/node instead of the ~100 bytes/entry of a boxed
  * `mutable.Map[Long, Long]`, and O(1) allocations instead of O(E) boxed
  * tuples. Roots are always the component's MIN node id: ids are sorted,
  * so index order == id order, and every union links the larger root
  * under the smaller.
  */
private[operators] object DriverUnionFind {

  /** Distinct node ids, sorted ascending, from the flattened pair list. */
  def sortedIds(pairs: Array[(Long, Long)]): Array[Long] = {
    val all = new Array[Long](pairs.length * 2)
    var i = 0
    while (i < pairs.length) {
      all(2 * i) = pairs(i)._1
      all(2 * i + 1) = pairs(i)._2
      i += 1
    }
    java.util.Arrays.sort(all)
    var n = 0
    i = 0
    while (i < all.length) {
      if (n == 0 || all(n - 1) != all(i)) { all(n) = all(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(all, n)
  }

  /** Index of id `x` in the sorted id array (ids always contain x here). */
  @inline def indexOf(ids: Array[Long], x: Long): Int =
    java.util.Arrays.binarySearch(ids, x)

  /** Union every pair whose BOTH endpoints satisfy `keep` (by index);
    * returns the fully-compressed parent array: `parent(i)` IS the root
    * index of node `ids(i)`, and `ids(parent(i))` is the component's min
    * member id among kept nodes (an un-kept node stays its own root). */
  def unionAll(ids: Array[Long], pairs: Array[(Long, Long)],
      keep: Int => Boolean = _ => true): Array[Int] = {
    val parent = Array.tabulate(ids.length)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var i = 0
    while (i < pairs.length) {
      val a = indexOf(ids, pairs(i)._1)
      val b = indexOf(ids, pairs(i)._2)
      if (keep(a) && keep(b)) {
        val ra = find(a)
        val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      i += 1
    }
    i = 0
    while (i < parent.length) { parent(i) = find(i); i += 1 }
    parent
  }
}
