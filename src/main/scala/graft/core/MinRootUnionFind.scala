package graft.core

/** Driver union-find over the point indices `0 until n`, in an `Int`
  * array, whose representative is always the MINIMUM index merged into
  * the set: every union hangs the larger root under the smaller. A caller
  * that numbers its ids in ascending order (see [[MinRootUnionFind.index]])
  * therefore gets the min id of each set as its label — exactly GraphX
  * connectedComponents' min-vertex labeling, so a small graph labeled
  * here is indistinguishable from one labeled by Pregel. Paths are
  * compressed on `find`. The one union-find behind Dbscan's label policy
  * and Curation.dupGroups. */
final class MinRootUnionFind(n: Int) {
  private val parent = Array.tabulate(n)(identity)

  /** The min index of `x`'s set. */
  def find(x: Int): Int = {
    var r = x
    while (parent(r) != r) r = parent(r)
    var c = x
    while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
    r
  }

  def union(a: Int, b: Int): Unit = {
    val ra = find(a); val rb = find(b)
    if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
  }
}

object MinRootUnionFind {
  /** The sorted distinct ids of `pairs`, and each pair's two ends as
    * indices into them — ascending id order, so a min index is a min id. */
  def index(pairs: Array[(Long, Long)]): (Array[Long], Array[Int], Array[Int]) = {
    val ids = (pairs.map(_._1) ++ pairs.map(_._2)).distinct
    java.util.Arrays.sort(ids)
    def ix(id: Long) = java.util.Arrays.binarySearch(ids, id)
    (ids, pairs.map(p => ix(p._1)), pairs.map(p => ix(p._2)))
  }
}
