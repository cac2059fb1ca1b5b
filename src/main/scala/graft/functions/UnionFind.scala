package graft.functions

/** Path-compressed union-find over the indices `0 until keys.length` whose
  * root is always the member with the smallest key. So the root's key is
  * the component minimum: the fixpoint that [[Components]]' distributed
  * least()-propagation converges to, which is why the driver-local fast
  * paths (Components, the dedup cluster relation) can use it in place of
  * the loop. */
private[graft] final class UnionFind(keys: Array[Long]) {
  private val parent = Array.tabulate(keys.length)(identity)

  def find(x: Int): Int = {
    var r = x
    while (parent(r) != r) r = parent(r)
    var c = x
    while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
    r
  }

  def union(a: Int, b: Int): Unit = {
    val ra = find(a)
    val rb = find(b)
    if (ra != rb) {
      if (keys(ra) < keys(rb)) parent(rb) = ra else parent(ra) = rb
    }
  }

  /** The smallest key in `x`'s component. */
  def minKey(x: Int): Long = keys(find(x))
}
