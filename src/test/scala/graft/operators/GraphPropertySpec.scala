package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.TestSpark

/** ScalaCheck cross-checks of the graph operators against naive
  * single-threaded references on random graphs — the distributed
  * formulations (oriented wedge counting, integer fixed-point power
  * iteration, max-struct vote argmax) are exactly the places where a
  * re-formulation bug would survive a single pinned fixture.
  */
class GraphPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def check(prop: Prop, n: Int): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n)
      .withWorkers(1), prop)
    assert(r.passed, r.status.toString)
  }

  private val genGraph: Gen[Seq[(Long, Long)]] = for {
    n     <- Gen.choose(3, 20)
    m     <- Gen.choose(2, 40)
    edges <- Gen.listOfN(m, for {
               a <- Gen.choose(0L, n.toLong)
               b <- Gen.choose(0L, n.toLong)
             } yield (a, b))
  } yield edges.filter(e => e._1 != e._2).distinct

  test("property: triangle census equals naive per-node triangle counting") {
    import spark.implicits._
    check(Prop.forAll(genGraph) { edges =>
      edges.isEmpty || {
        val got = graft.operators.graph.Triangles
          .perNode(edges.toDF("src", "dst"), "src", "dst")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getDouble(3))).toSet
        // naive: undirected simple graph, count triangles per node
        val und = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
          .filter(e => e._1 != e._2).distinct
        val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
          .withDefaultValue(Set.empty)
        und.foreach { case (a, b) =>
          adj(a) = adj(a) + b; adj(b) = adj(b) + a
        }
        val want = adj.keys.map { v =>
          val nb = adj(v).toSeq
          val tri = (for { i <- nb.indices; j <- i + 1 until nb.length
                           if adj(nb(i)).contains(nb(j)) } yield 1).size.toLong
          val deg = nb.size.toLong
          val c = if (deg < 2) 0.0
            else BigDecimal(2.0 * tri / (deg * (deg - 1)))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          (v, deg, tri, c)
        }.toSet
        if (got != want) println(s"TRI MISMATCH edges=$und got=$got want=$want")
        got == want
      }
    }, n = 6)
  }

  test("broadcast gate: shuffle regime (broadcastNodes=0) is bit-identical to the broadcast regime") {
    // the 100 TB fallback path (r21, VERDICT r20 ask #10): every counted-
    // small loop frame that normally broadcasts must produce the same
    // rows when the gate forces the classic shuffle join, or the fallback
    // rots unexercised. Every graph entry point that reads the gate is
    // pinned: the rank kernel (plain, weighted, seeded), the BFS layer
    // loop (plain and labeled; undirected adds the two-layer anti-join
    // side), the k-core peel (local finish off, so the distributed
    // decrement and compaction rounds run), label propagation and Sssp.
    import spark.implicits._
    import graft.operators.graph._
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(200)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2).distinct
    val e = edges.toDF("s", "d")
    val ew = edges.map { case (a, b) => (a, b, 1L + (a * 7 + b) % 5) }.toDF("s", "d", "w")
    val seeds = (0L to 39L by 5).toDF("n")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString(",")).toSeq.sorted
    def both(name: String)(run: => org.apache.spark.sql.DataFrame): Unit = {
      val bc = rows(run)
      spark.conf.set(graft.LoopFrames.BroadcastNodesKey, "0")
      val sh = try rows(run) finally spark.conf.unset(graft.LoopFrames.BroadcastNodesKey)
      assert(bc.nonEmpty, name)
      assert(bc == sh, name)
    }
    both("PageRank.run")(PageRank.run(e, "s", "d", iterations = 3))
    both("PageRank.runWeighted")(PageRank.runWeighted(ew, "s", "d", "w", iterations = 3))
    both("TrustRank.run")(TrustRank.run(e, "s", "d", seeds, "n", iterations = 3))
    both("Bfs.hopDistance")(Bfs.hopDistance(e, "s", "d", seeds, "n",
      maxHops = 5, undirected = true))
    both("Bfs.hopDistanceLabeled")(Bfs.hopDistanceLabeled(e, "s", "d", seeds, "n",
      maxHops = 5, undirected = true))
    both("KCore.run")(KCore.run(e, "s", "d", k = 4, localFinishEdges = 0L))
    both("KCore.coreness")(KCore.coreness(e, "s", "d", maxK = 0, localFinishEdges = 0L))
    both("LabelPropagation.run")(LabelPropagation.run(e, "s", "d", iterations = 3))
    both("Sssp.run")(Sssp.run(ew, "s", "d", "w", seeds, "n", undirected = true))
  }

  test("property: label propagation equals naive synchronous LPA with the (cnt, min-label) tie rule") {
    import spark.implicits._
    val iters = 3
    check(Prop.forAll(genGraph) { edges =>
      edges.isEmpty || {
        val got = graft.operators.graph.LabelPropagation
          .run(edges.toDF("src", "dst"), "src", "dst", iterations = iters)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val e0 = edges.filter(e => e._1 != e._2)
        val und = (e0 ++ e0.map(_.swap)).distinct
        val in = und.groupBy(_._2).map { case (v, es) => v -> es.map(_._1) }
        val nodes = und.map(_._1).distinct
        var labels = nodes.map(v => v -> v).toMap
        for (_ <- 1 to iters) {
          labels = nodes.map { v =>
            val votes = in.getOrElse(v, Seq.empty).map(labels)
              .groupBy(identity).map { case (l, o) => (l, o.size) }
            if (votes.isEmpty) v -> labels(v)
            else v -> votes.toSeq.maxBy { case (l, c) => (c, -l) }._1
          }.toMap
        }
        if (got != labels) println(s"LPA MISMATCH edges=$und got=$got want=$labels")
        got == labels
      }
    }, n = 6)
  }

  test("property: integer fixed-point PageRank equals a naive Long replay") {
    import spark.implicits._
    val iters = 3
    val unit = 1000000000000L
    check(Prop.forAll(genGraph) { edges =>
      edges.isEmpty || {
        val got = graft.operators.graph.PageRank
          .run(edges.toDF("src", "dst"), "src", "dst", iterations = iters)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        val e = edges.distinct // directed, deduped — run() does the same
        val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
        val n = nodes.size.toLong
        val outdeg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
        val inEdges = e.groupBy(_._2).map { case (d, es) => d -> es.map(_._1) }
        val sinks = nodes.filterNot(outdeg.contains)
        val base = (15L * unit) / (100L * n)
        var r = nodes.map(v => v -> unit / n).toMap
        for (_ <- 1 to iters) {
          val dm = sinks.map(r).sum
          r = nodes.map { v =>
            val insum = inEdges.getOrElse(v, Seq.empty)
              .map(u => r(u) / outdeg(u)).sum
            v -> (base + (85L * (insum + dm / n)) / 100L)
          }.toMap
        }
        if (got != r) println(s"PR MISMATCH edges=$e got=$got want=$r")
        got == r
      }
    }, n = 5)
  }

  test("property: Sssp with unit weights equals Bfs hop distance (degeneration)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    check(Prop.forAll(genGraph) { edges =>
      edges.isEmpty || {
        val e = edges.toDF("src", "dst")
        val seeds = Seq(edges.head._1).toDF("node")
        val hops = graft.operators.graph.Bfs
          .hopDistance(e, "src", "dst", seeds, "node",
            maxHops = 30, undirected = true)
          .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
        val dist = graft.operators.graph.Sssp
          .run(e.withColumn("w", lit(1L)), "src", "dst", "w", seeds, "node",
            maxIter = 32, undirected = true)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        if (dist != hops) println(s"SSSP/BFS MISMATCH edges=$edges got=$dist want=$hops")
        dist == hops
      }
    }, n = 5)
  }

  test("property: k-core peel (delta + compaction) equals naive peel under deep blow-ups") {
    import spark.implicits._
    // paths welded to cliques force multiple compactions AND a deep peel
    val gen = for {
      len <- Gen.choose(6, 24)
      k   <- Gen.choose(2, 4)
    } yield (len, k)
    check(Prop.forAll(gen) { case (len, k) =>
      val path = (1L until len.toLong).map(i => (i, i + 1))
      val clique = for (i <- 100L to 105L; j <- (i + 1) to 105L) yield (i, j)
      val edges = path ++ clique :+ ((len.toLong, 100L))
      val got = graft.operators.graph.KCore
        .run(edges.toDF("s", "d"), "s", "d", k, maxIter = len + 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      var adj = edges.flatMap(p => Seq(p, p.swap)).distinct
      var deg = adj.groupBy(_._1).map { case (n2, es) => n2 -> es.size.toLong }
      var changed = true
      while (changed) {
        val dead = deg.filter(_._2 < k).keySet
        changed = dead.nonEmpty
        adj = adj.filter(p => !dead(p._1) && !dead(p._2))
        deg = adj.groupBy(_._1).map { case (n2, es) => n2 -> es.size.toLong }
      }
      if (got != deg) println(s"KCORE MISMATCH len=$len k=$k got=$got want=$deg")
      got == deg
    }, n = 6)
  }
}
