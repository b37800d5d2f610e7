package graft

import org.apache.spark.sql.functions._
import graft.operators.GraphOps

class GraphOpsSpec extends SparkTestBase {
  import spark.implicits._

  //  1 -> 2 -> 3 -> 4,  1 -> 5,  6 isolated from 1's component
  private lazy val chain = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (1L, 5L), (6L, 7L))
    .toDF("src", "dst")

  test("cap-reachability gate: an under-cap closure matches the eager " +
    "rail row-for-row (bfs and bfsLabeled)") {
    // |seeds| + |edges| = 6 <= the default cap, so the gate drops the
    // per-level count jobs; forcing the eager rail with a tight (but
    // non-truncating) cap must give the identical closure
    val chain5 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val s1 = Seq(1L).toDF("node")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getInt(1)).toSet
    val gated = rows(GraphOps.bfs(chain5, s1, maxDepth = 5))
    // bound 6 > maxNodes 5 -> eager; nodeCount only exceeds 5 after
    // the last level, so nothing is truncated
    val eager = rows(GraphOps.bfs(chain5, s1, maxDepth = 5, maxNodes = 5L))
    assert(gated == eager && gated.size == 6)
    val seeds2 = Seq((1L, 1L), (8L, 8L)).toDF("seed", "node")
    val lchain = Seq((1L, 2L), (2L, 3L), (8L, 2L)).toDF("src", "dst")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val lgated = pairs(GraphOps.bfsLabeled(lchain, seeds2, maxDepth = 5))
    // pairCount 2 > 6/(3+1) -> eager, cap 6 = final pair count (never
    // exceeded mid-walk)
    val leager = pairs(GraphOps.bfsLabeled(lchain, seeds2, maxDepth = 5,
      maxNodes = 6L))
    assert(lgated == leager && lgated.size == 6)
  }

  test("cap-reachability probe saturates above Int range (r12 advice): " +
    "a maxNodes past Int.MaxValue neither throws nor drops the rail") {
    // (maxNodes + 1).toInt used to wrap: 2^32 gave limit(1) (probe
    // undercounts -> gate silently drops the cap), Int.MaxValue + 2
    // gave a negative limit (AnalysisException at runtime). Saturated
    // probe: tiny graph, huge cap -> uncapped gate engages and the
    // closure is complete.
    val s1 = Seq(1L).toDF("node")
    val big = GraphOps.bfs(chain, s1, maxDepth = 3,
      maxNodes = Int.MaxValue.toLong + 2L)
    assert(big.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L, 5L))
    val pow32 = GraphOps.bfs(chain, s1, maxDepth = 3, maxNodes = 1L << 32)
    assert(pow32.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("bfs: min hop depth, depth cap respected") {
    val out = GraphOps.bfs(chain, Seq(1L).toDF("node"), maxDepth = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 0, 2L -> 1, 5L -> 1, 3L -> 2))
  }

  test("bfs: cycle terminates, node keeps first (minimum) depth") {
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val out = GraphOps.bfs(cyc, Seq(1L).toDF("node"), maxDepth = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  test("bfs: node cap stops expansion") {
    val star = (2L to 100L).map(i => (1L, i)).toDF("src", "dst")
    val out = GraphOps.bfs(star, Seq(1L).toDF("node"), maxDepth = 5, maxNodes = 1)
    // cap hit after the seed level is exceeded by level-1 expansion:
    // expansion stops, but the already-found frontier remains
    assert(out.count() == 100)
    assert(out.agg(max("depth")).head.getInt(0) == 1)
  }

  test("bfsLabeled: per-seed reachability, visited-set stops cycle " +
    "re-expansion, pair cap engages on a hub graph") {
    // two seeds over a shared chain with a cycle back to its head:
    // each seed's closure is attributed independently
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L), (9L, 2L)).toDF("src", "dst")
    val seeds = Seq((1L, 1L), (9L, 9L)).toDF("seed", "node")
    val out = GraphOps.bfsLabeled(cyc, seeds, maxDepth = 10,
        maxNodes = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // depth-10 over a 3-cycle terminates with first-depth kept: the
    // visited set is what bounds the loop, not the depth cap
    assert(out == Map((1L, 1L) -> 0, (1L, 2L) -> 1, (1L, 3L) -> 2,
      (9L, 9L) -> 0, (9L, 2L) -> 1, (9L, 3L) -> 2, (9L, 1L) -> 3))
    // hub graph: seed fans out to 200 nodes which all funnel into one
    // hub that fans out again — the pair cap stops expansion after the
    // level that exceeds it (the r10 verdict hub-corpus scenario)
    val hub = ((2L to 201L).map(i => (1L, i)) ++
      (2L to 201L).map(i => (i, 500L)) ++
      (502L to 600L).map(i => (500L, i))).toDF("src", "dst")
    val capped = GraphOps.bfsLabeled(hub,
      Seq((1L, 1L)).toDF("seed", "node"), maxDepth = 5, maxNodes = 10L)
    // level 1 lands 200 pairs > cap of 10: expansion stops there —
    // the hub's second fan-out (99 more) is never materialized
    assert(capped.count() == 201)
    assert(capped.agg(max("depth")).head.getInt(0) == 1)
  }

  /** Seeded random digraph on nodes 0..23: a 6-cycle, random edges
    * (self-loops and repeated rows included), and hub 0 with wide
    * fan-out and fan-in.
    */
  private def randomGraph(seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    def node() = rnd.nextInt(24).toLong
    (1L to 6L).map(i => (i, i % 6 + 1)) ++
      Seq.fill(10)((0L, node())) ++ Seq.fill(6)((node(), 0L)) ++
      Seq.fill(30)((node(), node()))
  }

  /** Plain-Scala BFS: minimum hop depth from any seed. */
  private def refDepths(edges: Seq[(Long, Long)], seeds: Set[Long],
                        maxDepth: Int): Map[Long, Int] = {
    val out = edges.groupMap(_._1)(_._2)
    var seen = seeds.map(_ -> 0).toMap
    var frontier = seeds
    for (d <- 1 to maxDepth) {
      frontier = frontier.flatMap(out.getOrElse(_, Nil)).filterNot(seen.contains)
      seen ++= frontier.map(_ -> d)
    }
    seen
  }

  /** The lexicographically smallest of ALL shortest paths to each
    * reached node, by enumerating them.
    */
  private def refPaths(edges: Seq[(Long, Long)], seeds: Set[Long],
                       maxDepth: Int): Map[Long, String] = {
    val depth = refDepths(edges, seeds, maxDepth)
    val into = edges.distinct.groupMap(_._2)(_._1)
    def all(v: Long): Seq[String] =
      if (depth(v) == 0) Seq(v.toString)
      else into(v).filter(u => depth.get(u).contains(depth(v) - 1))
        .flatMap(all).map(p => s"$p->$v")
    depth.keys.map(v => v -> all(v).min).toMap
  }

  test("BFS kernel: bfs, bfsReverse, bfsLabeled and bfsPaths match a " +
    "plain-Scala reference on random cyclic hub graphs, on every rail") {
    type DF = org.apache.spark.sql.DataFrame
    def nd(df: DF) = df.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    def ndp(df: DF) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq.sorted
    def snd(df: DF) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    for (g <- Seq(11L, 12L); maxDepth <- Seq(3, 5)) {
      val edges = randomGraph(g)
      val seeds = Set(1L, 9L + g)
      val edf = edges.toDF("src", "dst")
      val sdf = seeds.toSeq.toDF("node")
      val ldf = seeds.toSeq.map(s => (s, s)).toDF("seed", "node")
      val fwd = refDepths(edges, seeds, maxDepth).toSeq.sorted
      val bwd = refDepths(edges.map(_.swap), seeds, maxDepth).toSeq.sorted
      val lab = seeds.toSeq.flatMap(s =>
        refDepths(edges, Set(s), maxDepth).map { case (n, d) => (s, n, d) }).sorted
      val paths = refPaths(edges, seeds, maxDepth)
      // rails: the default cap (the reachability bound fits, so the
      // per-level counts are skipped), a tight cap equal to the closure
      // size (no level is cut, but the bound exceeds it, so each level
      // is counted), and uncapped (lazy at depth 3, counted at 5)
      val n0 = seeds.size
      assert(n0 + edges.size > fwd.size.max(bwd.size) &&
        n0 * (1 + edges.size) > lab.size)
      def rails(tight: Int) = Seq(GraphOps.DefaultMaxNodes, tight.toLong, Long.MaxValue)
      def at(cap: Long) = s"graph $g, depth $maxDepth, cap $cap"
      for (cap <- rails(fwd.size)) {
        assert(nd(GraphOps.bfs(edf, sdf, maxDepth, cap)) == fwd, s"bfs, ${at(cap)}")
        assert(ndp(GraphOps.bfsPaths(edf, sdf, maxDepth, cap)) ==
          fwd.map { case (n, d) => (n, d, paths(n)) }, s"bfsPaths, ${at(cap)}")
      }
      for (cap <- rails(bwd.size))
        assert(nd(GraphOps.bfsReverse(edf, sdf, maxDepth, cap)) == bwd,
          s"bfsReverse, ${at(cap)}")
      for (cap <- rails(lab.size))
        assert(snd(GraphOps.bfsLabeled(edf, ldf, maxDepth, cap)) == lab,
          s"bfsLabeled, ${at(cap)}")
    }
  }

  test("bfsPaths: the node cap stops a deep walk on a hub graph") {
    // seed fans out to 200 nodes that all funnel into hub 500, which
    // fans out again: level 1 exceeds the cap, so the walk stops there
    val hub = ((2L to 201L).map(i => (1L, i)) ++
      (2L to 201L).map(i => (i, 500L)) ++
      (502L to 600L).map(i => (500L, i))).toDF("src", "dst")
    val capped = GraphOps.bfsPaths(hub, Seq(1L).toDF("node"), maxDepth = 5,
      maxNodes = 10L)
    assert(capped.count() == 201)
    assert(capped.agg(max("depth")).head.getInt(0) == 1)
  }

  test("pageRank: exact micro-unit values on a symmetric star, deterministic") {
    import spark.implicits._
    // symmetric star 1 <-> {2,3,4}: outdeg(1)=3, outdeg(leaf)=1
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (1L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val pr1 = GraphOps.pageRank(edges, iters = 1, materializeEdges = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // center: 150000 + 0.85 * (3 leaves x 1e6/1)       = 2,700,000
    // leaf:   150000 + 0.85 * round(1e6/3) = 433,333 (exact hand calc)
    assert(pr1(1L) == 2700000L, s"center: ${pr1(1L)}")
    assert(Seq(2L, 3L, 4L).forall(n => pr1(n) == 433333L), pr1.toString)
    // mass propagates, stays positive, and the run is reproducible
    val a = GraphOps.pageRank(edges, iters = 3, materializeEdges = false)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = GraphOps.pageRank(edges, iters = 3, materializeEdges = false)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b)
    assert(a.forall(_._2 > 0L) && a.head._2 > a(1)._2,
      "hub must outrank leaves after 3 rounds")
  }

  test("pageRank: round N's plan does not contain round N-1's join (per-round lineage cut)") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (1L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val pr = GraphOps.pageRank(edges, iters = 3, materializeEdges = false)
    // the final frame's ANALYZED plan must be a bare checkpoint scan:
    // zero Join nodes (rounds 1..N-1 live behind LogicalRDDs, so the
    // broadcast collect of round N's rank side never recomputes them —
    // without the cut this plan holds 3 nested joins and round-join
    // work is O(iters^2))
    val joins = pr.queryExecution.analyzed.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.isEmpty,
      s"final rank frame re-derives ${joins.size} round-join(s) instead of scanning its checkpoint")
  }

  test("bfsReverse walks edges backwards (impact direction)") {
    val out = GraphOps.bfsReverse(chain, Seq(4L).toDF("node"), maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(4L -> 0, 3L -> 1, 2L -> 2, 1L -> 3))
  }

  test("collapseByTrust picks by explicit rank, not lexical order") {
    // lexically 'aaa' < 'call' but rank says call (0) wins
    val e = Seq((1L, 2L, "aaa"), (1L, 2L, "call")).toDF("src", "dst", "kind")
    val out = GraphOps.collapseByTrust(e, Map("call" -> 0, "aaa" -> 9)).collect()
    assert(out.length == 1 && out.head.getString(2) == "call")
  }

  test("related: co-occurrence counts shared neighbors") {
    // 1 and 8 share {2,5}; 1 and 6 share nothing
    val e = Seq((1L, 2L), (1L, 5L), (8L, 2L), (8L, 5L), (6L, 7L))
      .toDF("src", "dst")
    val out = GraphOps.related(e, Seq(1L).toDF("node"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSet == Set((1L, 8L, 2L)))
  }

  test("bfsPaths: shortest paths with deterministic lexicographic tie-break") {
    // 1 -> {2, 3} -> 4: two shortest paths to 4; "1->2->4" < "1->3->4"
    val g = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val out = GraphOps.bfsPaths(g, Seq(1L).toDF("node"), maxDepth = 3)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    assert(out(1L) == (0, "1"))
    assert(out(2L) == (1, "1->2"))
    assert(out(3L) == (1, "1->3"))
    assert(out(4L) == (2, "1->2->4"))
    // depth/path agree with plain bfs closure
    val plain = GraphOps.bfs(g, Seq(1L).toDF("node"), maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.view.mapValues(_._1).toMap == plain)
  }

  test("Versioned: commit appends, asOf resolves MVCC state with tombstones") {
    import graft.operators.Versioned
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .withColumn("gen", lit(1L)).withColumn("is_deleted", lit(false))
    val log2 = Versioned.commit(base,
      Seq((2L, "b2")).toDF("id", "v"), Seq(Tuple1(3L)).toDF("id"), "id", 2L)
    val log3 = Versioned.commit(log2,
      Seq((3L, "c3"), (4L, "d")).toDF("id", "v"),
      Seq.empty[Tuple1[Long]].toDF("id"), "id", 3L)
    def state(g: Long) = Versioned.asOf(log3, "id", g)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state(1L) == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(state(2L) == Map(1L -> "a", 2L -> "b2")) // 3 tombstoned
    assert(state(3L) == Map(1L -> "a", 2L -> "b2", 3L -> "c3", 4L -> "d")) // resurrected
  }

  test("Versioned.tryCommit: disjoint concurrent writers both land, overlapping aborts and retries") {
    import graft.operators.Versioned
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .withColumn("gen", lit(1L)).withColumn("is_deleted", lit(false))
    val noDel = Seq.empty[Tuple1[Long]].toDF("id")
    // writers A and B both prepared against gen 1
    val baseGen = Versioned.currentGen(base)
    assert(baseGen == 1L)
    // A commits first
    val afterA = Versioned.tryCommit(base,
      Seq((2L, "b-A")).toDF("id", "v"), noDel, "id", baseGen)
      .getOrElse(fail("A must commit"))
    // B touches a DISJOINT key: lands despite A's intervening commit
    val afterB = Versioned.tryCommit(afterA,
      Seq((4L, "d-B")).toDF("id", "v"), noDel, "id", baseGen)
      .getOrElse(fail("disjoint B must commit"))
    assert(Versioned.currentGen(afterB) == 3L)
    val live = Versioned.asOf(afterB, "id", 3L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(live == Map(1L -> "a", 2L -> "b-A", 3L -> "c", 4L -> "d-B"))
    // C overlaps A's key from the stale base: must abort with the key...
    val cUp = Seq((2L, "b-C"), (5L, "e-C")).toDF("id", "v")
    Versioned.tryCommit(afterB, cUp, noDel, "id", baseGen) match {
      case Left(conflicts) => assert(conflicts == Seq(2L))
      case Right(_) => fail("overlapping C must abort")
    }
    // ...and wins on retry after re-reading the current generation
    val afterC = Versioned.tryCommit(afterB, cUp, noDel, "id",
      Versioned.currentGen(afterB)).getOrElse(fail("retried C must commit"))
    val live2 = Versioned.asOf(afterC, "id", 4L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(live2(2L) == "b-C" && live2(5L) == "e-C")
  }

  test("Versioned.tryCommit: 4-writer race serializes — unique gens, max-gen value survives per key") {
    // The single-threaded test stages one conflict; this one races four
    // real threads through the optimistic protocol: PREPARE (read the
    // shared ref, snapshot baseGen) happens outside any lock so
    // baseGen goes stale whenever another writer lands in between;
    // only validate-and-publish is atomic (the counterpart of Delta's
    // atomic log-entry rename / SQLite's writer lock). A and B write
    // disjoint keys, C and D contend on key 100.
    import graft.operators.Versioned
    import java.util.concurrent.ConcurrentLinkedQueue
    import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
    val base = Seq((0L, "seed")).toDF("id", "v")
      .withColumn("gen", lit(1L)).withColumn("is_deleted", lit(false))
    val noDel = Seq.empty[Tuple1[Long]].toDF("id")
    val ref = new AtomicReference(base)
    val commitLock = new Object
    val committed = new ConcurrentLinkedQueue[(String, Long, Long, String)]()
    val aborts = new AtomicInteger(0)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val writers = Seq("A" -> Seq(10L, 11L), "B" -> Seq(20L, 21L),
      "C" -> Seq(100L, 30L), "D" -> Seq(100L, 40L))
    val iterations = 3
    val threads = writers.map { case (w, keys) =>
      new Thread(() => try {
        for (i <- 1 to iterations) {
          var landed = false
          while (!landed) {
            val baseGen = Versioned.currentGen(ref.get())
            val up = keys.map(k => (k, s"$w-$i")).toDF("id", "v")
            Thread.`yield`()
            commitLock.synchronized {
              Versioned.tryCommit(ref.get(), up, noDel, "id", baseGen) match {
                case Right(newLog) =>
                  val g = Versioned.currentGen(newLog)
                  keys.foreach(k => committed.add((w, k, g, s"$w-$i")))
                  ref.set(newLog)
                  landed = true
                case Left(conflicting) =>
                  // a conflict may only ever name this writer's own keys
                  assert(conflicting.forall(keys.map(x => x: Any).contains),
                    s"$w aborted on foreign keys $conflicting")
                  aborts.incrementAndGet()
              }
            }
          }
        }
      } catch { case t: Throwable => errors.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(300000))
    assert(errors.isEmpty, s"writer thread failed: ${errors.peek()}")

    val records = scala.jdk.CollectionConverters
      .CollectionHasAsScala(committed).asScala.toSeq
    // every commit landed exactly once, each stamped a UNIQUE gen, and
    // the lock-serialized history is gap-free: gens are exactly 2..13
    val gens = records.map(_._3).distinct.sorted
    assert(gens == (2L to (1L + writers.size * iterations)).toSeq,
      s"gens were $gens (aborts: ${aborts.get()})")
    // serializability: the surviving value per key is the one written
    // by the commit with the highest generation touching that key
    val expected = records.groupBy(_._2).map { case (k, rs) =>
      k -> rs.maxBy(_._3)._4 }
    val live = Versioned.asOf(ref.get(), "id", Versioned.currentGen(ref.get()))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((live - 0L) == expected, s"live=$live expected=$expected")
    // per-writer monotonicity: iteration order survives in gen order
    writers.foreach { case (w, _) =>
      val mine = records.filter(_._1 == w).sortBy(_._3).map(_._4).distinct
      assert(mine == (1 to iterations).map(i => s"$w-$i"),
        s"$w's commits out of order: $mine")
    }
  }

  test("Versioned.commitEvolved: schema evolution on write, asOf spans the boundary") {
    import graft.operators.Versioned
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .withColumn("gen", lit(1L)).withColumn("is_deleted", lit(false))
    // gen 2 adds a column the log has never seen (and keeps v)
    val evolved = Versioned.commitEvolved(base,
      Seq((2L, "b2", 0.9)).toDF("id", "v", "score"),
      Seq.empty[Tuple1[Long]].toDF("id"), "id", 2L)
    assert(evolved.columns.toSet ==
      Set("id", "v", "gen", "is_deleted", "score"))
    val s1 = Versioned.asOf(evolved, "id", 1L).collect()
      .map(r => r.getLong(0) -> Option(r.getAs[Any]("score"))).toMap
    assert(s1 == Map(1L -> None, 2L -> None)) // pre-evolution rows read null
    val s2 = Versioned.asOf(evolved, "id", 2L).collect()
      .map(r => (r.getLong(0), r.getAs[String]("v"),
        Option(r.getAs[Any]("score")))).toSet
    assert(s2 == Set((1L, "a", None), (2L, "b2", Some(0.9))))
  }

  test("q23's physical plan carries the salted join") {
    val plan = SparkEntry.queries("q23_graph_related_cooccur")(
      spark, sf).queryExecution.optimizedPlan.toString
    assert(plan.contains("__salt"), "hub-dst join should be salted")
  }

  test("related: salted join is row-identical to the plain shuffle join") {
    // hub-skewed graph: every node points at hub 99 plus a few spokes
    val e = ((1L to 40L).map(i => (i, 99L)) ++
      Seq((1L, 2L), (3L, 2L), (5L, 6L), (7L, 6L), (1L, 6L)))
      .toDF("src", "dst").distinct()
    val seeds = Seq(1L, 3L).toDF("node")
    val salted = GraphOps.related(e, seeds, numSalts = 4)
    // plain-join mirror (what related computed before salting)
    val a = e.join(broadcast(seeds), e("src") === seeds("node"))
      .select(col("src").as("seed"), col("dst").as("shared"))
    val b = e.select(col("src").as("other"), col("dst").as("shared"))
    val plain = a.join(b, Seq("shared"))
      .filter(col("other") =!= col("seed"))
      .groupBy(col("seed"), col("other"))
      .agg(countDistinct(col("shared")).as("n_shared"))
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
    assert(salted.count() > 0)
  }

  test("reliable checkpoint dir: deep capped BFS routes lineage cuts through it") {
    // with a checkpoint dir configured, Materialize.stable switches
    // from executor-local blocks to reliable checkpoint files — the
    // one-knob fault-tolerance upgrade for a real cluster. Results
    // must be identical either way.
    val chain = (1L to 8L).sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val local = GraphOps.bfs(chain, seeds, maxDepth = 6, maxNodes = 100L)
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val reliable = GraphOps.bfs(chain, seeds, maxDepth = 6, maxNodes = 100L)
      assert(reliable.exceptAll(local).count() == 0)
      assert(local.exceptAll(reliable).count() == 0)
      // the checkpoint dir was actually used (files written)
      val wrote = new java.io.File(dir).listFiles()
      assert(wrote != null && wrote.nonEmpty, "no reliable checkpoint written")
    } finally {
      // SparkContext has no unset; point it at a scratch dir for the
      // remaining suites so nothing else silently switches modes
      spark.sparkContext.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft_ckpt_rest").toString)
    }
  }

  test("triangleCounts: exact per-node counts on a known graph, orientation-proof") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles, each node in 3), plus a triangle
    // {10,11,12}, a dangling edge (20,21), and duplicate/reversed input
    // edges that must not double-count
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (2L, 1L), (3L, 1L), // reversed duplicates
      (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L)
    ).toDF("src", "dst")
    val out = graft.operators.GraphOps.triangleCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      10L -> 1L, 11L -> 1L, 12L -> 1L))
  }
}
