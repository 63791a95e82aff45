package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.chain.Chain
import graft.functions.{BottomKAgg, ScoredId}

/** Property-based invariants (SURVEY.md §5): prefix-lookup roundtrip,
  * range-partition conservation, dedup keeps max. Generators are driven
  * directly (deterministic seeds) — no scalatestplus bridge needed. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val hexGen: Gen[String] =
    Gen.listOfN(64, Gen.oneOf("0123456789abcdef".toSeq)).map(_.mkString)

  test("prefix lookup finds exactly the inserted hash") {
    samples(Gen.listOfN(20, hexGen), 10).foreach { hashes0 =>
      val hashes = hashes0.distinct
      val df = hashes.zipWithIndex.map { case (h, i) => (h, i.toLong) }
        .toDF("tx_hash", "tx_id")
      val target = hashes.head
      val got = df
        .filter(substring(col("tx_hash"), 1, Chain.PrefixLen) ===
          target.substring(0, Chain.PrefixLen))
        .filter(col("tx_hash") === target)
        .select("tx_hash").as[String].collect()
      assert(got.toSeq === Seq(target))
    }
  }

  test("range chunking covers ids exactly once (chunk() analog)") {
    samples(Gen.zip(Gen.choose(1L, 5000L), Gen.choose(1, 16)), 10)
      .foreach { case (n, k) =>
        // spark.range(0, n, 1, k) = the reference's chunk(): k contiguous
        // near-equal splits (blocksci_export.py:295-315)
        val parts = spark.range(0, n, 1, k)
        assert(parts.count() === n)
        assert(parts.distinct().count() === n)
        assert(parts.agg(min("id"), max("id")).as[(Long, Long)].head() ===
          ((0L, n - 1)))
      }
  }

  test("BottomKAgg top-k over ScoredId equals sort-and-take under random merges") {
    samples(Gen.listOfN(200,
      Gen.zip(Gen.choose(0, 4), Gen.choose(0.0, 1.0), Gen.choose(0L, 500L))),
      5).foreach { rows0 =>
      val rows = rows0.map { case (g, c, id) => (g.toLong, c, id) }
      val ds = rows.toDF("g", "cos", "id")
        .as[(Long, Double, Long)]
      val topk = new BottomKAgg[ScoredId](3)
      val got = ds.groupByKey(_._1)
        .mapValues(r => ScoredId(r._2, r._3))
        .agg(topk.toColumn.name("top"))
        .collect().toMap
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(r => ScoredId(r._2, r._3))
          .sorted(ScoredId.ord).take(3)
      }
      assert(got.view.mapValues(_.toSeq).toMap === want)
    }
  }

  test("MinHash-LSH recall: every injected exact duplicate becomes a pair") {
    // identical text → identical shingles → identical signatures in ANY
    // hash family → identical band keys → the pair MUST surface. This
    // guards the hash-family construction: precision may vary, recall
    // of exact dups may not.
    val dir = sf("sf0.001")
    val pairs = SparkEntry.queries("dedup_minhash_pairs")(spark, dir)
      .as[(Long, Long)].collect().toSet
    val dupIds = graft.ops.TextCorpus.corpus(spark, dir)
      .filter(col("doc_id") >= graft.ops.TextCorpus.DupOffset)
      .select("doc_id").as[Long].collect()
    // docs with < 3 words produce no shingles and legitimately drop out
    val shingled = graft.ops.TextCorpus
      .shingles(graft.ops.TextCorpus.words(graft.ops.TextCorpus.corpus(spark, dir)))
      .select("doc_id").distinct().as[Long].collect().toSet
    dupIds.filter(shingled.contains).foreach { dup =>
      val orig = dup - graft.ops.TextCorpus.DupOffset
      assert(pairs.contains((orig, dup)),
        s"exact duplicate pair ($orig, $dup) missing from LSH candidates")
    }
  }

  test("incremental probe recall: a new exact duplicate finds its tier partner") {
    // same identical-text argument as the self-join recall guard, but
    // across the batch/tier boundary: an arriving doc identical to a
    // parked one MUST surface as a (new, old) candidate.
    val dir = sf("sf0.001")
    val corpus = graft.ops.TextCorpus.corpus(spark, dir)
    val mod = graft.ops.DedupMaterialize.IncrementalBatchMod
    val batch = corpus.filter(col("doc_id") % mod === 0)
    val newBands = graft.api.Dedup.lshBands(
      graft.api.Dedup.minhashSignatures(graft.ops.TextCorpus.shingles(
        graft.ops.TextCorpus.words(batch))))
    val tier = graft.ops.DedupMaterialize.bandTable(spark, dir)
      .filter(col("doc_id") % mod =!= 0)
    val found = graft.api.Dedup.probePairs(newBands, tier)
      .as[(Long, Long)].collect().toSet
    // doc 0 is in the batch (0 % mod == 0) and its injected exact copy
    // (DupOffset) is in the tier (DupOffset % mod != 0) — fixture-pinned
    val off = graft.ops.TextCorpus.DupOffset
    assert(off % mod != 0, "fixture assumption broken: copy not in tier")
    assert(found.contains((0L, off)),
      s"new doc 0's exact tier duplicate $off not found: $found")
  }

  test("cluster recall: every injected exact duplicate shares its original's component") {
    // the pairs→clusters step must preserve what pair recall guarantees:
    // if (orig, dup) surfaces as a candidate pair, connected components
    // MUST put both in one cluster — and keep-one must keep exactly one
    val dir = sf("sf0.001")
    val comp = SparkEntry.queries("dedup_components")(spark, dir)
      .as[(Long, Long)].collect().toMap
    val pairs = SparkEntry.queries("dedup_minhash_pairs")(spark, dir)
      .as[(Long, Long)].collect()
    pairs.foreach { case (a, b) =>
      assert(comp(a) === comp(b), s"paired docs $a,$b split across clusters")
    }
    val keepOne = SparkEntry.queries("dedup_keep_one")(spark, dir)
      .as[(Long, Long)].collect()
    assert(keepOne.map(_._1).toSet === comp.values.toSet,
      "keep-one reps must be exactly the component labels")
    assert(keepOne.map(_._2).sum === comp.size,
      "cluster sizes must partition the corpus")
  }

  test("embedding near-dup recall: injected duplicate vectors all pair up") {
    val dir = sf("sf0.001")
    val found = SparkEntry.queries("dedup_embedding")(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val dups = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").cast("long")).as[Long].collect()
    dups.foreach { v =>
      assert(found.contains((v, v + 1000000L)),
        s"duplicate embedding pair ($v, ${v + 1000000L}) missing")
    }
  }

  test("LSH widths beyond 32 bits stay exact (64-bit bit weights)") {
    // regression for the 32-bit shiftleft wraparound: with bits=40, high
    // planes must contribute real 2^j weights (j >= 32), and the
    // multi-probe flip of a high bit must stay within [0, 2^40)
    val e = graft.api.Similarity.quantize(
      spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
        .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding"))
    val b = graft.api.Similarity.lshBuckets(spark, e, bits = 40)
    val mx = b.agg(max("bucket")).as[Long].head()
    assert(mx >= (1L << 32), s"no bucket uses a bit >= 32 (max=$mx)")
    assert(mx < (1L << 40), s"bucket overflows the declared width (max=$mx)")
    val probes = graft.api.Similarity.multiProbes(
      b.select(col("vec_id").as("query_id"), col("bucket")), bits = 40)
    assert(probes.agg(min("probe")).as[Long].head() >= 0L)
    assert(probes.agg(max("probe")).as[Long].head() < (1L << 40))
    // self + 40 single-bit flips, all distinct per query
    assert(probes.select("query_id", "probe").distinct()
      .groupBy("query_id").count().agg(min("count")).as[Long].head() === 41L)
  }

  test("custom as-of join equals reference scan on random data") {
    // random left/right time sets across many partitions — the oracle is
    // a driver-side sorted scan; exercises range boundaries and the
    // cross-range boundary carry for arbitrary alignments
    val timesGen = Gen.listOfN(120, Gen.chooseNum(0L, 500L))
    samples(Gen.zip(timesGen, timesGen), 6).foreach { case (lt0, rt0) =>
      val lt = lt0.distinct
      val rt = rt0.distinct
      val left = lt.toDF("t").repartition(7)
      val right = rt.zipWithIndex.map { case (t, i) => (t, i.toLong) }
        .toDF("rt", "v").repartition(5)
      val got = graft.plans.AsOfJoin.asof(left, right, "t", "rt")
        .select("t", "rt").as[(Long, Option[Long])].collect().toMap
      val sortedR = rt.sorted
      lt.foreach { t =>
        val expect = sortedR.takeWhile(_ <= t).lastOption
        assert(got(t) === expect, s"as-of mismatch at t=$t")
      }
    }
  }

  test("triangle counts equal brute-force combination counts") {
    import graft.queries.GraphQueries
    // random small graphs: ~12 nodes, edge set from random pairs
    samples(Gen.listOfN(40,
      Gen.zip(Gen.choose(0, 11), Gen.choose(0, 11))), 8).foreach { raw =>
      // zero-padded names so string order == numeric order (the edge
      // orientation and triangleCounts' a<b comparison must agree)
      val edges = raw.collect { case (a, b) if a != b =>
        (f"n${math.min(a, b)}%02d", f"n${math.max(a, b)}%02d")
      }.distinct
      if (edges.nonEmpty) {
        val pairs = edges.toDF("a", "b")
        val got = GraphQueries.triangleCounts(pairs)
          .as[(String, Long)].collect().toMap
        // brute force: every 3-subset of nodes, all three edges present
        val es = edges.toSet
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        val want = nodes.combinations(3).collect {
          case Seq(x, y, z) if es((x, y)) && es((y, z)) && es((x, z)) =>
            Seq(x, y, z)
        }.toSeq.flatten.groupBy(identity)
          .map { case (n, occ) => n -> occ.size.toLong }
        assert(got === want)
      }
    }
  }

  test("cospend fanout cap bounds the pair explosion") {
    import graft.queries.GraphQueries
    // one oversized consolidation tx (100 inputs) + one normal tx
    val big = (0 until 100).map(i => (1L, f"b$i%03d"))
    val small = Seq((2L, "x"), (2L, "y"), (2L, "z"))
    val ia = (big ++ small).toDF("tx_id", "address")
    val capped = GraphQueries.cospendPairs(ia, maxFanout = 5)
      .as[(String, String)].collect().toSet
    // the 100-input tx is dropped entirely — only the 3 pairs of tx 2
    assert(capped === Set(("x", "y"), ("x", "z"), ("y", "z")))
    // uncapped (cap ≥ fanout) keeps the full quadratic set
    val uncapped = GraphQueries.cospendPairs(ia, maxFanout = 100)
    assert(uncapped.count() === 100L * 99 / 2 + 3)
  }

  test("last-write-wins dedup keeps max id per key") {
    import org.apache.spark.sql.expressions.Window
    samples(Gen.listOfN(50, Gen.zip(Gen.choose(0, 9), Gen.choose(0L, 1000L))),
      10).foreach { pairs0 =>
      val pairs = pairs0.distinct
      val df = pairs.map { case (k, v) => (s"h$k", v) }.toDF("h", "v")
      val w = Window.partitionBy(col("h")).orderBy(col("v").desc)
      val got = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select("h", "v")
        .as[(String, Long)].collect().toMap
      val want = pairs.groupBy(p => s"h${p._1}")
        .map { case (k, vs) => k -> vs.map(_._2).max }
      assert(got === want)
    }
  }

  test("bpeRound merge application equals sequential greedy reference") {
    // reference: classic sequential leftmost-non-overlapping merge
    def greedy(syms: List[String], a: String, b: String): List[String] =
      syms match {
        case x :: y :: rest if x == a && y == b =>
          (x + y) :: greedy(rest, a, b)
        case x :: rest => x :: greedy(rest, a, b)
        case Nil => Nil
      }
    val wordGen = Gen.choose(1, 9).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("ab".toSeq)).map(_.mkString))
    samples(Gen.listOfN(12, wordGen), 6).foreach { ws0 =>
      val words = ws0.distinct
      val seqs = words.flatMap { w =>
        w.zipWithIndex.map { case (c, i) =>
          (w, 1L, (i + 1).toLong, c.toString)
        }
      }.toDF("word", "freq", "p", "sym")
      val (top, next) = graft.queries.TextQueries.bpeRound(spark, seqs)
      val (sa, sb, _) = top.as[(String, String, Long)].collect().head
      val got = next.as[(String, Long, Long, String)].collect()
        .groupBy(_._1)
        .map { case (w, rows) => w -> rows.sortBy(_._3).map(_._4).toList }
      val want = words
        .map(w => w -> greedy(w.map(_.toString).toList, sa, sb)).toMap
      assert(got === want, s"pair=($sa,$sb) words=$words")
    }
  }

  test("labelPropagate equals brute-force synchronous LPA on random graphs") {
    def reference(edges: Seq[(String, String)], iters: Int)
        : Map[String, String] = {
      val adj = (edges ++ edges.map(_.swap)).distinct
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var lbl = adj.keys.map(n => n -> n).toMap
      for (_ <- 1 to iters) {
        lbl = adj.map { case (n, nbrs) =>
          val counts = nbrs.groupBy(lbl).view.mapValues(_.size)
          // (count desc, label asc) — the query's total-order tie-break
          n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
      }
      lbl
    }
    val edgeGen = Gen.listOfN(25,
      Gen.zip(Gen.choose(0, 11), Gen.choose(0, 11)))
      .map(_.collect { case (a, b) if a != b => (s"n$a", s"n$b") })
    samples(edgeGen, 6).foreach { edges =>
      val df = edges.toDF("src", "dst")
      val gotMap = graft.queries.GraphQueries.labelPropagate(df, 3)
        .as[(String, String)].collect().toMap
      assert(gotMap === reference(edges, 3), s"edges=$edges")
    }
  }

  test("kCorePeel equals brute-force synchronous peeling on random graphs") {
    def reference(edges: Seq[(String, String)], k: Int, rounds: Int)
        : (Map[String, Long], Boolean) = {
      val sed = (edges ++ edges.map(_.swap)).distinct
      def degrees(surv: Set[String]): Map[String, Long] =
        sed.filter(e => surv(e._1) && surv(e._2))
          .groupBy(_._1).view.mapValues(_.size.toLong).toMap
      var surv = sed.map(_._1).toSet
      var prev = surv
      for (_ <- 1 to rounds) {
        prev = surv
        surv = degrees(surv).filter(_._2 >= k).keySet
      }
      (degrees(surv), surv.size == prev.size)
    }
    val edgeGen = Gen.listOfN(25,
      Gen.zip(Gen.choose(0, 11), Gen.choose(0, 11)))
      .map(_.collect { case (a, b) if a != b => (s"n$a", s"n$b") })
    samples(edgeGen, 6).filter(_.nonEmpty).foreach { edges =>
      val df = edges.toDF("src", "dst")
      val rows = graft.queries.GraphQueries.kCorePeel(df, 2, 3)
        .as[(String, Long, Boolean)].collect()
      val (wantDeg, wantConv) = reference(edges, 2, 3)
      assert(rows.map(r => r._1 -> r._2).toMap === wantDeg,
        s"edges=$edges")
      assert(rows.forall(_._3 == wantConv), s"edges=$edges")
    }
  }

  test("taintPropagate equals brute-force BFS layering on random digraphs") {
    def reference(edges: Seq[(String, String)], seeds: Set[String],
        rounds: Int): (Map[String, Long], Boolean) = {
      val adj = edges.distinct.groupBy(_._1)
        .view.mapValues(_.map(_._2)).toMap
      var dist = seeds.map(_ -> 0L).toMap
      var prevSize = dist.size
      for (r <- 1 to rounds) {
        prevSize = dist.size
        val next = dist.keys
          .flatMap(n => adj.getOrElse(n, Nil).map(_ -> (dist(n) + 1)))
          .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
        dist = (dist.toSeq ++ next.toSeq).groupBy(_._1)
          .view.mapValues(_.map(_._2).min).toMap
      }
      (dist, dist.size == prevSize)
    }
    val edgeGen = Gen.listOfN(25,
      Gen.zip(Gen.choose(0, 11), Gen.choose(0, 11)))
      .map(_.collect { case (a, b) if a != b => (s"n$a", s"n$b") })
    samples(edgeGen, 6).filter(_.nonEmpty).foreach { edges =>
      // deterministic seed pick: the two smallest node names, directed
      // reach from them exercises both reached and unreached nodes
      val seeds = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .sorted.take(2).toSet
      val df = edges.toDF("src", "dst")
      val seedDf = seeds.toSeq.toDF("node")
      val rows = graft.queries.GraphQueries
        .taintPropagate(df, seedDf, 3)
        .as[(String, Long, Boolean)].collect()
      val (wantDist, wantConv) = reference(edges, seeds, 3)
      assert(rows.map(r => r._1 -> r._2).toMap === wantDist,
        s"edges=$edges seeds=$seeds")
      assert(rows.forall(_._3 == wantConv), s"edges=$edges")
    }
  }

  test("KMV merge identity: bottomK(A ∪ B) == bottomK(bottomK(A) ∪ B)") {
    val setGen = Gen.listOfN(40, Gen.choose(0L, 200L))
    samples(Gen.zip(setGen, setGen), 8).foreach { case (a, b) =>
      val k = 8
      def bottomK(xs: Seq[Long]): Seq[Long] = {
        val agg = new BottomKAgg[Long](k)
        xs.toDF("h").as[Long].groupByKey(_ => true).mapValues(identity)
          .agg(agg.toColumn.name("sk")).collect().head._2
      }
      assert(bottomK(a ++ b) === bottomK(bottomK(a) ++ b))
      assert(bottomK(a ++ b) ===
        (a ++ b).distinct.sorted.take(k),
        "sketch is exactly the k smallest distinct values")
    }
  }

  test("BottomKAgg over pairs is the k smallest distinct pairs, merge-invariant") {
    val pairGen = Gen.zip(Gen.choose(0L, 50L), Gen.choose(0, 9).map(_ / 2.0))
    samples(Gen.zip(Gen.listOfN(60, pairGen), Gen.listOfN(60, pairGen)), 8)
      .foreach { case (a, b) =>
        val k = 8
        def bottomK(xs: Seq[(Long, Double)]): Seq[(Long, Double)] = {
          val agg = new BottomKAgg[(Long, Double)](k)
          xs.toDF("p", "v").as[(Long, Double)]
            .groupByKey(_ => true).mapValues(identity)
            .agg(agg.toColumn.name("sk")).collect().head._2
        }
        val expected = (a ++ b).distinct
          .sorted(Ordering.Tuple2[Long, Double]).take(k)
        assert(bottomK(a ++ b) === expected,
          "sample is exactly the k smallest distinct (priority, value) pairs")
        assert(bottomK(a ++ b) === bottomK(bottomK(a) ++ b),
          "semilattice merge identity (parked sample absorbs a batch)")
        assert(bottomK((a ++ b).reverse) === expected,
          "input order never changes the sample")
      }
  }

  test("quantile sample pairs fold -0.0 to 0.0 and refuse NaN payloads") {
    val agg = new BottomKAgg[(Long, Double)](4)
    val pair = graft.queries.EventQueries.samplePair _
    // -0.0 and 0.0 are one pair under SQL comparison — the sample must
    // keep one copy, not two JVM-distinct ones
    val b = agg.reduce(agg.reduce(agg.zero, pair(1L, -0.0)), pair(1L, 0.0))
    val out = agg.finish(b)
    assert(out === Seq((1L, 0.0)))
    assert(java.lang.Double.doubleToRawLongBits(out.head._2) == 0L,
      "-0.0 normalized to +0.0")
    intercept[IllegalArgumentException] {
      agg.reduce(agg.zero, pair(1L, Double.NaN))
    }
  }

  test("posting head: doc_freq is exact and postings the k smallest ids, " +
      "whatever the partitioning and merge order") {
    // the inverted_index aggregation: a count next to the bottom-k ids
    // over a (token, doc_id) set, at several partitionings and input
    // orders; every token holds far more than 4k ids, so buffers prune
    // both map-side and at merge
    val k = 5
    samples(Gen.listOfN(400, Gen.zip(Gen.choose(0, 3), Gen.choose(0L, 300L))),
      4).zipWithIndex.foreach { case (rows0, i) =>
      val rows = rows0.map { case (t, id) => (s"t${t % (i + 2)}", id) }.distinct
      val want = rows.groupBy(_._1).map { case (t, rs) =>
        t -> ((rs.size.toLong, rs.map(_._2).sorted.take(k)))
      }
      for (parts <- Seq(1, 3, 7); order <- Seq(rows, rows.reverse)) {
        val got = order.toDF("token", "doc_id").repartition(parts)
          .as[(String, Long)]
          .groupByKey(_._1).mapValues(_._2)
          .agg(count(lit(1)).as[Long], new BottomKAgg[Long](k).toColumn)
          .collect().map { case (t, n, ids) => t -> ((n, ids)) }.toMap
        assert(got === want, s"parts=$parts")
      }
    }
  }

  test("peel-chain DP equals brute-force increasing-block path depth") {
    val hopGen = Gen.zip(Gen.choose(0, 7), Gen.choose(0, 7),
      Gen.choose(1L, 6L)).suchThat { case (u, v, _) => u != v }
    samples(Gen.listOfN(25, hopGen), 8).foreach { hops0 =>
      val hops = hops0.map { case (u, v, b) => (s"n$u", s"n$v", b) }.distinct
      val df = hops.toDF("src", "dst", "b")
      val got = graft.queries.GraphQueries.peelDepths(df)
        .select("address", "peel_depth", "first_peel_block")
        .as[(String, Long, Long)].collect()
        .map { case (n, d, b) => n -> ((d, b)) }.toMap
      // brute force: depth(v) = longest path (≤3) of strictly
      // increasing b ending at v; first block = min b of any hop into v
      def chainsEndingAt(v: String, depth: Int): Seq[Long] =
        if (depth == 1) hops.collect { case (_, d, b) if d == v => b }
        else for {
          (u, d, b) <- hops if d == v
          pb <- chainsEndingAt(u, depth - 1) if b > pb
        } yield b
      val nodes = hops.map(_._2).distinct
      nodes.foreach { v =>
        val d1 = chainsEndingAt(v, 1)
        if (d1.isEmpty) assert(!got.contains(v))
        else {
          val depth =
            if (chainsEndingAt(v, 3).nonEmpty) 3L
            else if (chainsEndingAt(v, 2).nonEmpty) 2L else 1L
          assert(got(v) === ((depth, d1.min)),
            s"node $v: DP disagrees with brute force over $hops")
        }
      }
    }
  }

  test("pack_sequences: token conservation, full interior sequences, " +
      "contiguous in-sequence layout") {
    val packed = SparkEntry.queries("pack_sequences")(spark, sf("sf0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val L = 512L
    // per-doc conservation: the pieces of each doc cover it exactly,
    // in order, starting at token 0
    packed.groupBy(_._2).foreach { case (_, ps) =>
      val ordered = ps.sortBy(_._5)
      assert(ordered.head._5 === 0L)
      ordered.sliding(2).foreach {
        case Array(a, b) => assert(a._5 + a._4 === b._5)
        case _ => ()
      }
    }
    // per-sequence: every sequence except the last holds exactly L
    // tokens, pieces tile it contiguously from 0
    val maxSeq = packed.map(_._1).max
    packed.groupBy(_._1).foreach { case (seq, ps) =>
      val ordered = ps.sortBy(_._3)
      assert(ordered.head._3 === 0L)
      ordered.sliding(2).foreach {
        case Array(a, b) => assert(a._3 + a._4 === b._3)
        case _ => ()
      }
      val tot = ps.map(_._4).sum
      if (seq < maxSeq) assert(tot === L, s"seq $seq holds $tot")
      else assert(tot <= L)
    }
  }

  test("exclusivePrefixSum under heavy leading-key ties equals the serial cumsum") {
    import graft.operators.PrefixCarry
    // ~6 distinct leading keys over 400 rows: range-partition boundaries
    // MUST fall inside tie runs, so correctness rides entirely on the
    // tie-break column completing the total order (the documented
    // multi-column contract, PrefixCarry.scala) — the partition-boundary
    // stress for the two-phase scan. Occasional null values exercise the
    // null-safe per-range totals.
    samples(Gen.listOfN(400,
      Gen.zip(Gen.choose(0L, 5L), Gen.option(Gen.choose(0L, 20L)))), 5)
      .foreach { rows0 =>
        val rows = rows0.zipWithIndex.map { case ((k, v), i) =>
          (k, i.toLong, v)
        }
        val df = rows.toDF("k", "id", "v")
        val got = PrefixCarry.exclusivePrefixSum(df, Seq("k", "id"), "v")
          .select("k", "id", "prefix_sum").collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        assert(got.size === rows.size)
        var acc = 0L
        rows.sortBy(t => (t._1, t._2)).foreach { case (k, id, v) =>
          assert(got((k, id)) === acc, s"row ($k,$id) of $rows0")
          acc += v.getOrElse(0L)
        }
      }
  }

  test("minReach equals brute-force K-hop min-label reach on random " +
      "digraphs (graph_scc's F/B scans)") {
    import graft.queries.GraphQueries
    val k = 4
    samples(Gen.listOfN(60, Gen.zip(Gen.choose(0, 19), Gen.choose(0, 19))), 6)
      .foreach { pairs0 =>
        val edges = pairs0.filter(p => p._1 != p._2).distinct
        if (edges.nonEmpty) {
          def lbl(i: Int) = f"n$i%02d"
          val eDf = edges.map { case (a, b) => (lbl(a), lbl(b)) }
            .toDF("src", "dst")
          val nodesSeq = edges.flatMap(p => Seq(p._1, p._2)).distinct
          val nDf = nodesSeq.map(lbl).toDF("node")
          val got = GraphQueries.minReach(nDf, eDf, k).collect()
            .map(r => r.getString(0) -> r.getString(1)).toMap
          // brute force: F*(v) = min label over {u : u reaches v within
          // k hops} ∪ {v} — BFS from every source
          val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
          def reachFrom(s: Int): Set[Int] = {
            var frontier = Set(s); var seen = Set(s)
            for (_ <- 1 to k) {
              frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
                .diff(seen)
              seen ++= frontier
            }
            seen
          }
          val expect = scala.collection.mutable.Map.empty[Int, String]
          for (u <- nodesSeq; v <- reachFrom(u))
            expect(v) = Seq(expect.getOrElse(v, lbl(u)), lbl(u)).min
          for (v <- nodesSeq)
            assert(got(lbl(v)) === expect(v), s"node $v of $edges")
        }
      }
  }

  test("cycle3 equals brute-force temporal 3-cycle enumeration on " +
      "random timed digraphs") {
    import graft.queries.GraphQueries
    val gen = Gen.listOfN(40,
      Gen.zip(Gen.choose(0, 11), Gen.choose(0, 11), Gen.choose(1L, 6L)))
    samples(gen, 6).foreach { triples =>
      // first-occurrence aggregate, self-loops excluded
      val dagg0 = triples.filter(t => t._1 != t._2)
        .groupBy(t => (t._1, t._2)).view
        .mapValues(_.map(_._3).min).toMap
      if (dagg0.nonEmpty) {
        def lbl(i: Int) = f"n$i%02d"
        val dagg = dagg0.toSeq
          .map { case ((a, b), f) => (lbl(a), lbl(b), f) }
          .toDF("src", "dst", "first_out")
        val got = GraphQueries.cycle3(dagg, Long.MaxValue).collect()
          .map(r => r.getString(0) ->
            (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
        // brute force: all ordered triples with increasing first_out,
        // counted once at the min vertex
        val cycles = for {
          ((a, b), f1) <- dagg0.toSeq
          ((b2, c), f2) <- dagg0.toSeq if b2 == b && f2 > f1
          ((c2, a2), f3) <- dagg0.toSeq
          if c2 == c && a2 == a && f3 > f2 && a < b && a < c
        } yield (a, f1, f3)
        val expect = cycles.groupBy(_._1).map { case (apex, cs) =>
          lbl(apex) -> (cs.size.toLong, cs.map(_._2).min, cs.map(_._3).max)
        }
        assert(got === expect, s"edges: $dagg0")
      }
    }
  }

  test("planBands picks the divisor layout with S-curve inflection " +
      "nearest the threshold") {
    import graft.api.Dedup
    for (seeds <- Seq(8, 16, 32, 64, 128);
         t <- Seq(0.1, 0.25, 0.4, 0.5, 0.6, 0.75, 0.9)) {
      val (b, r) = Dedup.planBands(seeds, t)
      assert(b * r === seeds, s"b=$b r=$r seeds=$seeds")
      val layouts = (1 to seeds).filter(seeds % _ == 0)
        .map(bb => (bb, seeds / bb))
      def err(l: (Int, Int)): Double =
        math.abs(math.pow(1.0 / l._1, 1.0 / l._2) - t)
      val best = layouts.map(err).min
      assert(err((b, r)) === best, s"($b,$r) not optimal for n=$seeds t=$t")
      // tie-break toward more bands (recall side)
      layouts.filter(l => err(l) == best).foreach { l =>
        assert(b >= l._1, s"tie at n=$seeds t=$t broke toward fewer bands")
      }
    }
    // lower thresholds need more bands (catch lower-similarity pairs)
    val picks = Seq(0.2, 0.5, 0.8).map(Dedup.planBands(32, _)._1)
    assert(picks === picks.sorted.reverse, s"bands not antitone: $picks")
  }

  test("scurve is monotone in similarity and matches brute-force " +
      "band-collision probability") {
    import graft.api.Dedup
    val grid = (1 to 19).map(_ / 20.0)
    for ((b, r) <- Seq((2, 4), (8, 4), (4, 8), (16, 2))) {
      val ps = grid.map(Dedup.scurve(b, r, _))
      assert(ps === ps.sorted, s"S-curve not monotone for ($b,$r)")
      assert(ps.head > 0 && ps.last < 1)
      // definition check at s=0.5 against direct evaluation
      val direct = 1.0 - math.pow(1.0 - math.pow(0.5, r.toDouble), b.toDouble)
      assert(Dedup.scurve(b, r, 0.5) === direct)
    }
    // the dedup_band_plan query's scaled integers ARE this curve:
    // p·10^32 for (8,4) at s=i/10 equals 10^32 − (10^4 − i^4)^8
    for (i <- 1 to 9) {
      val j = BigInt(10000 - i * i * i * i)
      val scaled = (BigInt(10).pow(32) - j.pow(8)).toDouble / 1e32
      assert(math.abs(scaled - Dedup.scurve(8, 4, i / 10.0)) < 1e-12)
    }
  }

  test("prefix-filtered all-pairs cosine equals brute force on random " +
      "token sets (exactness: pruning admits no false negative)") {
    // small token universe forces dense overlap structure — the worst
    // case for a buggy prefix bound (many pairs sit exactly AT τ)
    val setGen = Gen.zip(Gen.choose(1, 12),
      Gen.choose(0, 19)).map { case (k, off) =>
      (0 until k).map(j => s"t${(j + off) % 20}").distinct
    }
    samples(Gen.listOfN(30, setGen), 8).zipWithIndex.foreach {
      case (sets, run) =>
        val sh = sets.zipWithIndex.flatMap { case (toks, i) =>
          toks.map(t => (i.toLong, t))
        }.toDF("doc_id", "shingle").distinct()
        val got = graft.api.Text.allPairsCosine(sh)
          .select("doc_a", "doc_b", "overlap", "na", "nb")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        // brute force over every pair, same integer threshold
        val setsByDoc = sets.map(_.toSet).zipWithIndex
        val want = (for {
          (a, i) <- setsByDoc; (b, j) <- setsByDoc; if i < j
          o = (a intersect b).size.toLong
          if 25 * o * o >= 16L * a.size * b.size && o > 0
        } yield (i.toLong, j.toLong, o, a.size.toLong, b.size.toLong)).toSet
        assert(got === want, s"run $run")
    }
  }

  test("incremental all-pairs (base + batch probe on the parked order) " +
      "equals the one-shot join") {
    val setGen = Gen.zip(Gen.choose(1, 12),
      Gen.choose(0, 19)).map { case (k, off) =>
      (0 until k).map(j => s"t${(j + off) % 20}").distinct
    }
    samples(Gen.listOfN(40, setGen), 5).zipWithIndex.foreach {
      case (sets, run) =>
        val sh = sets.zipWithIndex.flatMap { case (toks, i) =>
          toks.map(t => (i.toLong, t))
        }.toDF("doc_id", "shingle").distinct()
        val batch = col("doc_id") % 3 === 0
        // pre-batch state: old×old pairs, the old frequency order, and
        // the old indexed prefix — the probe ranks only the batch
        val base = graft.api.Text.allPairsCosine(sh.filter(!batch))
        val dfOld = sh.filter(!batch)
          .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        val prefix = graft.api.Text.allPairsPrefix(sh.filter(!batch), dfOld)
          .unionByName(graft.api.Text.allPairsPrefix(
            sh.filter(batch).withColumn("nw", lit(true)), dfOld))
        val probe = graft.api.Text.allPairsFromPrefix(prefix, sh,
          col("a.nw") || col("b.nw"))
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.as[(Long, Long, Long, Long, Long, Long)].collect().toSet
        assert(rows(base.unionByName(probe)) ===
          rows(graft.api.Text.allPairsCosine(sh)), s"run $run")
    }
  }
}
