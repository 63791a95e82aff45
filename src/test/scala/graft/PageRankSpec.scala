package graft

import org.apache.spark.sql.functions._

import graft.operators.PageRank

/** The fixed-point integer PageRank must match hand-computed floor
  * arithmetic exactly and be a pure function of the graph (re-run
  * identical), with teleport-floor ranks for sources and dangling sinks
  * keeping received mass. */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(edges: Seq[(String, String)], iters: Int): Map[String, Long] =
    PageRank.runFromEdges(edges.toDF("src", "dst"), iters)
      .as[(String, Long)].collect().toMap

  test("star graph matches hand-computed floor arithmetic") {
    // a->b, a->c, b->c: outdeg(a)=2, outdeg(b)=1
    // r1: a=150000, b=150000+85*(1000000/2)/100, c=150000+85*(500000+1000000)/100
    // r2: contrib(b)=150000/2=75000, contrib(c)=75000+575000=650000
    val r1 = ranks(Seq("a" -> "b", "a" -> "c", "b" -> "c"), 1)
    assert(r1 === Map("a" -> 150000L, "b" -> 575000L, "c" -> 1425000L))
    val r2 = ranks(Seq("a" -> "b", "a" -> "c", "b" -> "c"), 2)
    assert(r2 === Map("a" -> 150000L, "b" -> 213750L, "c" -> 702500L))
  }

  test("cycle is a fixpoint of the uniform start") {
    // 2-cycle, outdeg 1 each: r' = 150000 + 85*1000000/100 = 1000000
    val r = ranks(Seq("x" -> "y", "y" -> "x"), 3)
    assert(r === Map("x" -> 1000000L, "y" -> 1000000L))
  }

  test("deterministic: identical graph gives identical ranks") {
    val edges = for { a <- 1 to 20; b <- 1 to 20; if a != b && (a + b) % 3 == 0 }
      yield (s"n$a", s"n$b")
    assert(ranks(edges, 3) === ranks(edges, 3))
  }

  test("total mass never exceeds the uniform start (mass only leaks)") {
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d")
    val r = ranks(edges, 4)
    assert(r.values.sum <= 4 * PageRank.Scale)
    assert(r.values.forall(_ >= PageRank.Scale * 15 / 100))
  }

  private def pranks(edges: Seq[(String, String)], seeds: Seq[String],
      iters: Int): Map[String, Long] = {
    val e = edges.toDF("src", "dst")
    val n = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    PageRank.runPersonalized(n, e, seeds.toDF("node"), iters)
      .as[(String, Long)].collect().toMap
  }

  test("personalized: seed-set = all nodes equals uniform PageRank") {
    val edges = Seq("a" -> "b", "a" -> "c", "b" -> "c", "c" -> "a")
    val all = edges.flatMap(e => Seq(e._1, e._2)).distinct
    assert(pranks(edges, all, 3) === ranks(edges, 3))
  }

  test("personalized: hand-computed floor arithmetic from one seed") {
    // a->b, b->c, seed {a}: p0 = (a:1000000, b:0, c:0), outdeg 1 each
    // p1: a=150000, b=0+85*1000000/100=850000, c=0+0
    // p2: a=150000, b=85*150000/100=127500, c=85*850000/100=722500
    val r = pranks(Seq("a" -> "b", "b" -> "c"), Seq("a"), 2)
    assert(r === Map("a" -> 150000L, "b" -> 127500L, "c" -> 722500L))
  }

  test("personalized: mass stays zero where seeds cannot reach") {
    // two disjoint 2-cycles, seed only in the first
    val r = pranks(Seq("a" -> "b", "b" -> "a", "x" -> "y", "y" -> "x"),
      Seq("a"), 3)
    assert(r("x") === 0L && r("y") === 0L)
    assert(r("a") > 0L && r("b") > 0L)
  }

  private def wranks(edges: Seq[(String, String, Long)],
      iters: Int): Map[String, Long] =
    PageRank.runWeightedFromEdges(edges.toDF("src", "dst", "v"), iters)
      .as[(String, Long)].collect().toMap

  test("weighted: equal weights equal the unweighted ranks") {
    val shape = Seq("a" -> "b", "a" -> "c", "b" -> "c", "c" -> "a")
    for (w <- Seq(1L, 7L, 1000L)) {
      assert(wranks(shape.map { case (s, d) => (s, d, w) }, 3) ===
        ranks(shape, 3),
        s"uniform weight $w must reduce to the unweighted loop")
    }
  }

  test("weighted: hand-computed floor arithmetic on a 3:1 split") {
    // a->b v=3, a->c v=1 (vout(a)=4), b->c v=2 (vout(b)=2)
    // r1: contrib(b) = 1000000*3 div 4 = 750000
    //     contrib(c) = 1000000*1 div 4 + 1000000*2 div 2 = 1250000
    //     b = 150000 + 85*750000 div 100 = 787500
    //     c = 150000 + 85*1250000 div 100 = 1212500
    val r = wranks(Seq(("a", "b", 3L), ("a", "c", 1L), ("b", "c", 2L)), 1)
    assert(r === Map("a" -> 150000L, "b" -> 787500L, "c" -> 1212500L))
    // the heavier channel outranks the dust edge the unweighted form
    // scores identically
    val unw = ranks(Seq("a" -> "b", "a" -> "c", "b" -> "c"), 1)
    assert(unw("b") === 575000L && r("b") > unw("b"))
  }
}
