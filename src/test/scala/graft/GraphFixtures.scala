package graft

/** Seeded edge lists of known structure for the graph-loop tests. */
object GraphFixtures {

  /** Disjoint clusters alternating a circulant of 7-10 nodes with offsets
    * 1-3 (degree 6) and a ring of 5-8 nodes (degree 2), until at least
    * `targetEdges` edges exist. Node ids are a seeded permutation of
    * `1..n` and each edge's orientation is seeded, so cluster membership
    * says nothing about id order or partition placement.
    *
    * Returns the undirected edges, each once, and every cluster's node ids.
    */
  def clusterGraph(targetEdges: Int, seed: Long): (Seq[(Long, Long)], Seq[Seq[Long]]) = {
    val shapes = {
      val b = Seq.newBuilder[(Int, Boolean)]
      var edges = 0
      var c = 0
      while (edges < targetEdges) {
        val dense = c % 2 == 0
        val size = (if (dense) 7 else 5) + (c / 2) % 4
        b += size -> dense
        edges += (if (dense) 3 * size else size)
        c += 1
      }
      b.result()
    }
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((1L to shapes.map(_._1).sum.toLong).toVector)
    val offsets = shapes.scanLeft(0)(_ + _._1)
    val clusters = shapes.indices.map(c => ids.slice(offsets(c), offsets(c + 1)))
    val edges = for {
      ((size, dense), members) <- shapes.zip(clusters)
      j <- 0 until size
      off <- 1 to (if (dense) 3 else 1)
    } yield {
      val (u, v) = (members(j), members((j + off) % size))
      if (rnd.nextBoolean()) (u, v) else (v, u)
    }
    (edges, clusters)
  }
}
