package graft.core

import scala.collection.mutable

/** Driver union-find over long ids whose representative is always the
  * MINIMUM id merged into the set: every union hangs the larger root
  * under the smaller. That is exactly GraphX connectedComponents'
  * min-vertex labeling, so a small graph labeled here is
  * indistinguishable from one labeled by Pregel. Paths are compressed
  * on `find`. Shared by the small-graph routes of Dbscan and
  * Curation.dupGroups. */
final class MinRootUnionFind {
  private val parent = mutable.HashMap.empty[Long, Long]

  /** Adds `x` as a singleton set (no-op when already present). */
  def add(x: Long): Unit = parent.getOrElseUpdate(x, x)

  /** The min id of `x`'s set; `x` must have been added. */
  def find(x: Long): Long = {
    var r = x
    while (parent(r) != r) r = parent(r)
    var c = x
    while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
    r
  }

  def union(a: Long, b: Long): Unit = {
    val ra = find(a); val rb = find(b)
    if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
  }

  /** (id, min id of its set) for every added id. */
  def labels: Seq[(Long, Long)] = parent.keys.toSeq.map(id => (id, find(id)))
}
