package graft.tools

/** Micro-benchmark sizing the single-task replay admission
  * (`Graph.replayCap` and its per-family `*PerRowUs` constants):
  * times the EXACT shipped replay bodies (`Graph.louvainReplay`,
  * `kcoreReplay`, `relaxReplay`, `pagerankReplay` — factored out of
  * their mapPartitions closures for this purpose) on synthetic
  * ring-of-cliques graphs at several edge counts, and prints
  * wall-clock + µs/edge·round. No SparkSession — the replays are pure
  * functions, which is the point: a cap admits a graph into ONE task,
  * so the only thing that matters is this single-threaded cost.
  *
  * Run: `sbt "runMain graft.tools.ReplayCalibrate"`. The measured
  * constants are recorded in the replay Scaladocs and justify the cap
  * values; re-run after touching any replay body.
  *
  * Graph shape: c cliques of 8 nodes (28 intra edges) ringed by one
  * bridge edge each — merge-heavy for Louvain (mutual-best pairs keep
  * merging for several rounds, so all rounds do real work) and
  * non-contiguous node ids (×7+13) so the dense renumbering is
  * exercised, not bypassed.
  */
object ReplayCalibrate {
  private def ringOfCliques(targetEdges: Int): Array[(Long, Long)] = {
    val s = 8
    val perClique = s * (s - 1) / 2 + 1 // 28 intra + 1 ring bridge
    val c = math.max(1, targetEdges / perClique)
    val b = Array.newBuilder[(Long, Long)]
    b.sizeHint(c * perClique)
    var q = 0
    while (q < c) {
      val base = q.toLong * s
      var i = 0
      while (i < s) {
        var j = i + 1
        while (j < s) {
          b += (((base + i) * 7 + 13, (base + j) * 7 + 13))
          j += 1
        }
        i += 1
      }
      // bridge to the next clique (ring)
      val nb = ((q + 1) % c).toLong * s
      b += (((base) * 7 + 13, (nb + 1) * 7 + 13))
      q += 1
    }
    b.result()
  }

  private def time[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e9, a)
  }

  def main(args: Array[String]): Unit = {
    import graft.operators.Graph
    val sizes = Seq(100000, 400000, 1200000, 2000000)
    println(f"${"replay"}%-10s ${"edges"}%10s ${"rounds"}%6s ${"sec"}%8s ${"us/edge/round"}%14s")
    for (m <- sizes) {
      val edges = ringOfCliques(m)
      val relaxRows = edges.map { case (a, b) => (a, b, 1L, false) } ++
        edges.take(100).map { case (a, _) => (a, a, 0L, true) }
      val prEdges = (edges ++ edges.map(e => (e._2, e._1))).map { case (a, b) => (a, b, 8L) }
      // one warmup + min of 2 timed runs per body (JIT)
      def bench(name: String, rounds: Int)(body: => Unit): Unit = {
        body
        val t = math.min(time(body)._1, time(body)._1)
        val per = t * 1e6 / edges.length / rounds
        println(f"$name%-10s ${edges.length}%10d $rounds%6d $t%8.2f $per%14.3f")
      }
      bench("louvain", 7)(Graph.louvainReplay(edges, 7).length)
      bench("kcore", 6)(Graph.kcoreReplay(edges, 6, 2L).length)
      bench("relax", 3)(Graph.relaxReplay(relaxRows, 3).length)
      bench("pagerank", 5)(Graph.pagerankReplay(prEdges, 5, 1000000L, 150L).length)
      bench("ppr", 5)(Graph.pprReplay(prEdges, 5, 1000000000000L).length)
      bench("katz", 4)(Graph.katzReplay(
        edges ++ edges.map(e => (e._2, e._1)), 4, 1000000L).length)
      bench("hits", 4)(Graph.hitsReplay(edges, 1000000000000L).length)
      bench("eigencent", 4)(Graph.eigenCentReplay(
        edges ++ edges.map(e => (e._2, e._1)), 4).length)
      // round 19: the two new BFS replays read the symmetric closure
      bench("hubclose", 3)(Graph.hubClosenessReplay(
        edges ++ edges.map(e => (e._2, e._1)), 5, 3).length)
      bench("brandes", 4)(Graph.btReplay(
        edges ++ edges.map(e => (e._2, e._1)), 8, 4).length)
      // triangle is costed per WEDGE-BOUND unit (Σ min(deg a, deg b)) —
      // the admission gate's work term — not per edge
      locally {
        val deg = scala.collection.mutable.HashMap.empty[Long, Long]
        edges.foreach { case (a, b) =>
          deg.update(a, deg.getOrElse(a, 0L) + 1L)
          deg.update(b, deg.getOrElse(b, 0L) + 1L)
        }
        val wb = edges.map { case (a, b) => math.min(deg(a), deg(b)) }.sum
        Graph.triangleReplay(edges).length // warmup
        val t = math.min(time(Graph.triangleReplay(edges).length)._1,
          time(Graph.triangleReplay(edges).length)._1)
        println(f"${"triangle"}%-10s ${edges.length}%10d ${1}%6d $t%8.2f ${t * 1e6 / wb}%14.3f  (per wedge-bound unit; wb=$wb)")
      }
      // dense dim×dim scatter grid at the same row count (the eigen
      // replay's real input is always dim² rows; cab alternates sign)
      val dim = math.max(2, math.sqrt(edges.length.toDouble).toInt)
      val grid = Array.tabulate(dim * dim) { k =>
        ((k / dim).toLong, (k % dim).toLong, (if (k % 2 == 0) 1L else -1L) * ((k % 997) + 1L))
      }
      bench("eigen", 3)(graft.operators.Ann.eigenReplay(grid, 3, 1000L).length)
    }
  }
}
