package perfbench

import java.math.{BigDecimal => JBigDecimal}

import org.scalatest.funsuite.AnyFunSuite

/** The generator's closed-form expectations against a naive in-memory
  * evaluation of the compare semantics (full outer join on the keys, exact
  * row match, tolerance rescue, per-column counts) over the very rows the
  * generator emits.
  */
class GenSpec extends AnyFunSuite {

  private def naive(t: Gen.Table, seed: Long): Gen.Expect = {
    val cat = new Gen.Categorizer(t, seed)
    val rows = (0L until t.rows).map(k => Gen.sides(t, seed, cat(k), k))
    val nk = t.keys.size
    val src = rows.flatMap(_._1).groupBy(_.take(nk))
    val tgt = rows.flatMap(_._2).groupBy(_.take(nk))
    def colMatch(c: Gen.Col, a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) => math.abs(x - y) <= t.tolerance
      case (x: JBigDecimal, y: JBigDecimal) =>
        x == y || x.subtract(y).abs.doubleValue <= t.tolerance
      case _ => a == b
    }
    def cols(r: Seq[Any]) = t.cols.zip(r.drop(nk))
    val perKey = (src.keySet ++ tgt.keySet).toSeq.map { key =>
      val (s, g) = (src.getOrElse(key, Nil), tgt.getOrElse(key, Nil))
      val pairs = for (a <- s; b <- g) yield (a, b)
      val chk = pairs.exists { case (a, b) => a == b }
      val bad = pairs.filter { case (a, b) => a != b }
        .filterNot { case (a, b) => cols(a).zip(cols(b)).forall { case ((c, x), (_, y)) => colMatch(c, x, y) } }
      val tol = !chk && pairs.exists { case (a, b) =>
        a != b && cols(a).zip(cols(b)).forall { case ((c, x), (_, y)) => colMatch(c, x, y) } }
      val status =
        if (s.isEmpty) Gen.MissingAtSource else if (g.isEmpty) Gen.MissingAtTarget else Gen.PresentInBoth
      val matched = chk || tol
      val dup = math.max(pairs.size, math.max(s.size, g.size)) - 1L
      (key, s, g, status, matched, dup, if (tol) Nil else bad)
    }
    def count(p: ((Seq[Any], Seq[Seq[Any]], Seq[Seq[Any]], String, Boolean, Long, Seq[(Seq[Any], Seq[Any])])) => Boolean) =
      perKey.count(p).toLong
    val badPairs = perKey.flatMap(_._7)
    val colUnmatched = t.cols.zipWithIndex.map { case (c, i) =>
      c.name -> badPairs.count { case (a, b) => !colMatch(c, a(nk + i), b(nk + i)) }.toLong
    }
    val extracts = t.cols.zipWithIndex.map { case (c, i) =>
      c.name -> badPairs.filter { case (a, b) => !colMatch(c, a(nk + i), b(nk + i)) }
        .map { case (a, b) => (a.take(nk), a(nk + i), b(nk + i)) }.distinct.size.toLong
    }.filter(_._2 > 0).toMap
    Gen.Expect(
      dataset = t.name,
      srcRows = src.values.map(_.size).sum.toLong,
      tgtRows = tgt.values.map(_.size).sum.toLong,
      srcDups = src.values.count(_.size > 1).toLong,
      tgtDups = tgt.values.count(_.size > 1).toLong,
      missSrc = count(_._2.isEmpty),
      missTgt = count(_._3.isEmpty),
      matched = count(_._5),
      rowGroups = perKey.groupBy(k => (k._4, k._5, k._6)).map { case (g, ks) => g -> ks.size.toLong },
      colUnmatched = colUnmatched,
      extracts = extracts)
  }

  private val tables =
    Seq(Gen.cleanWide(800), Gen.driftWide(3000)) ++ Gen.manySmall(0.05)

  for (t <- tables; seed <- Seq(1L, 7L)) {
    test(s"${t.name} (${t.rows} rows, seed $seed): closed-form expectation equals the naive compare") {
      assert(Gen.expect(t) == naive(t, seed))
    }
  }

  test("the drifted wide table exercises every drift category and fails") {
    val e = Gen.expect(Gen.driftWide(3000))
    assert(!e.passed)
    assert(e.missSrc > 0 && e.missTgt > 0 && e.srcDups > 0 && e.tgtDups > 0)
    assert(e.extracts.keySet == Set("l_comment", "l_extendedprice", "ship", "attrs"))
    assert(e.colUnmatched.toMap.apply("l_discount") == 0, "the in-tolerance change is rescued")
  }

  test("the clean wide table passes with a unique key") {
    val t = Gen.cleanWide(800)
    val e = Gen.expect(t)
    assert(e.passed && e.srcRows == 800 && e.tgtRows == 800 && e.extracts.isEmpty)
    val keys = (0L until t.rows).map(Gen.keyValues(t, _))
    assert(keys.distinct.size == keys.size)
  }

  test("the seeded permutation is a bijection and depends on the seed") {
    for (n <- Seq(1L, 2L, 97L, 1000L, 4096L)) {
      val p = Gen.Perm.seeded(n, 3, 5)
      assert((0L until n).map(p(_)).toSet == (0L until n).toSet)
    }
    val (a, b) = (Gen.Perm.seeded(1000, 1, 0), Gen.Perm.seeded(1000, 2, 0))
    assert((0L until 1000).map(a(_)) != (0L until 1000).map(b(_)))
  }

  test("inputs are a function of the seed") {
    val t = Gen.driftWide(500)
    def all(seed: Long) = {
      val cat = new Gen.Categorizer(t, seed)
      (0L until t.rows).map(k => Gen.sides(t, seed, cat(k), k))
    }
    assert(all(4) == all(4))
    assert(all(4) != all(5))
  }

  test("graph expectations equal naive PageRank, 3-core, BFS and components") {
    for (seed <- Seq(1L, 2L)) {
      val g = new GraphGen(600, seed)
      val edges = g.edges.toSeq
      assert(edges.size.toLong == g.edgeCount)
      val adj = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2).map { case (k, v) => k -> v.toSet }
      val nodes = adj.keySet
      assert(nodes.size.toLong == g.nodeCount)

      // PageRank on the integer grid, as the operator computes it
      val b0 = g.scale / nodes.size
      var r = nodes.map(_ -> b0).toMap
      for (_ <- 1 to 3) r = nodes.map { v =>
        val in = adj(v).toSeq.map(u => r(u) / adj(u).size).sum
        v -> ((1000000L - g.dampPpm) * b0 + g.dampPpm * in) / 1000000L
      }.toMap
      assert(r.values.groupMapReduce(identity)(_ => 1L)(_ + _) == g.expectedRanks)

      // 3-core by peeling
      var alive = nodes
      var changed = true
      while (changed) {
        val keep = alive.filter(v => adj(v).count(alive) >= 3)
        changed = keep != alive
        alive = keep
      }
      val coreDeg = if (alive.isEmpty) 0L else alive.map(v => adj(v).count(alive).toLong).min
      assert((alive.size.toLong, alive.sum, coreDeg) == g.expectedCore)

      // BFS up to 3 hops
      var dist = g.bfsSeeds.map(_ -> 0L).toMap
      var frontier = dist.keySet
      for (h <- 1L to 3L) {
        frontier = frontier.flatMap(adj).filterNot(dist.contains)
        dist ++= frontier.map(_ -> h)
      }
      assert(dist.groupMapReduce(_._2)(x => (1L, x._1)) { case ((a, b), (c, d)) => (a + c, b + d) } ==
        g.expectedHops)

      // components labelled by their minimum node
      val label = scala.collection.mutable.Map[Long, Long]()
      for (v <- nodes.toSeq.sorted if !label.contains(v)) {
        var stack = List(v)
        while (stack.nonEmpty) {
          val u = stack.head
          stack = stack.tail
          if (!label.contains(u)) { label(u) = v; stack = adj(u).toList ++ stack }
        }
      }
      assert((label.size.toLong, label.values.toSet.size.toLong, label.values.sum) == g.expectedComponents)
    }
  }
}
