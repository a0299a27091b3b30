package graft.ops

import graft.SparkSpec

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents labels every node with the min reachable id") {
    // components: {1,2,3,4} (chain), {10,11}, {20,21,22} (triangle)
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)
    ).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents merges STRING-id graphs (md5/UUID dedup keys)") {
    // the round-9 regression this pins: label propagation's convergence
    // checksum was Σ(component cast to decimal), which is null for
    // string ids — "converged" before round one, every doc its own
    // component, no error. The checksum is type-agnostic now; a chain
    // (diameter > 1) would expose any premature-convergence variant.
    val pairs = Seq(
      ("bbb", "aaa"), ("bbb", "ccc"), ("ccc", "ddd"),
      ("zz1", "zz2")
    ).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs)
      .as[(String, String)].collect().toMap
    assert(out === Map(
      "aaa" -> "aaa", "bbb" -> "aaa", "ccc" -> "aaa", "ddd" -> "aaa",
      "zz1" -> "zz1", "zz2" -> "zz1"))
  }

  test("connectedComponents converges on a long chain (diameter > 2)") {
    val chain = (0 until 15).map(i => (i.toLong, i.toLong + 1)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(chain).as[(Long, Long)].collect()
    assert(out.length === 16)
    assert(out.forall(_._2 == 0L))
  }

  test("hybrid CC is diameter-proof: a 120-chain labels correctly " +
    "where capped label propagation alone cannot") {
    // diameter 120 ≫ the label-prop round cap: min-label propagation moves
    // a label one hop per round, so alone it CANNOT finish — the default
    // detects the non-convergence and falls back to the star pass, which
    // contracts in O(log²) phases regardless of diameter.
    val chain = (0 until 120).map(i => (i.toLong, i.toLong + 1)).toDF("id_a", "id_b")
    // force the DISTRIBUTED propagation arm: below the broadcast gates
    // the size-gated local solver answers exactly regardless of
    // diameter, so the capped-propagation failure mode this test pins
    // only exists above the gates
    spark.conf.set(Joins.MaxBroadcastRowsKey, "0")
    try {
      val capped = Dedup.connectedComponentsLabelProp(chain, maxRounds = 10)
        .as[(Long, Long)].collect()
      assert(capped.exists(_._2 != 0L)) // the failure mode the default avoids
      val hybrid = Dedup.connectedComponents(chain, propagationRounds = 10)
        .as[(Long, Long)].collect()
      assert(hybrid.length === 121)
      assert(hybrid.forall(_._2 == 0L))
    } finally spark.conf.unset(Joins.MaxBroadcastRowsKey)
    // and the size-gated local solver answers the same chain exactly,
    // no rescue needed
    val local = Dedup.connectedComponents(chain, propagationRounds = 10)
      .as[(Long, Long)].collect()
    assert(local.length === 121 && local.forall(_._2 == 0L))
  }

  test("star CC and label propagation agree on short-diameter graphs") {
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L), (4L, 4L), // self-loop tolerated
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)
    ).toDF("id_a", "id_b")
    val a = Dedup.connectedComponentsStar(pairs).as[(Long, Long)].collect().toMap
    val b = Dedup.connectedComponentsLabelProp(pairs)
      .as[(Long, Long)].collect().toMap
    val c = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(a === b)
    assert(a === c)
  }

  test("incremental merge equals from-scratch CC on the union of edges") {
    // store: {1,2,3} and {10,11}; batch edges exercise every merge shape:
    //  - (20,21): brand-new component
    //  - (5,2):   unlabeled old doc joins component 1
    //  - (3,10):  bridges components 1 and 10 (store must relabel 10,11 → 1)
    //  - (11,10): inside an existing component (quotient self-loop, no-op)
    val oldEdges = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val newEdges = Seq((20L, 21L), (5L, 2L), (3L, 10L), (11L, 10L))
      .toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(oldEdges)
    val inc = Dedup.connectedComponentsIncremental(labels, newEdges)
      .as[(Long, Long)].collect().toMap
    val scratch = Dedup.connectedComponents(
      oldEdges.unionByName(newEdges)).as[(Long, Long)].collect().toMap
    assert(inc === scratch)
    assert(inc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L,
      10L -> 1L, 11L -> 1L, 20L -> 20L, 21L -> 20L))
  }

  test("localMinComponents equals the distributed star pass on random graphs") {
    // the size-gated driver union-find must reproduce the star labeling
    // exactly — min reachable id per node — on arbitrary edge sets,
    // including chains (diameter), merged stars, and isolated pairs
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { _ =>
      val edges = Array.fill(60)(
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }
      val local = Dedup.localMinComponents(edges)
      val starDf = Dedup.connectedComponentsStar(
        edges.toSeq.toDF("id_a", "id_b")).as[(Long, Long)].collect().toMap
      assert(local === starDf)
    }
    // explicit long chain: union-find path compression must still yield
    // the global min, not a chain-local one
    val chain = (1L until 30L).map(i => (i, i + 1)).toArray
    assert(Dedup.localMinComponents(chain) ===
      (1L to 30L).map(_ -> 1L).toMap)
  }

  test("the local solve labels exactly as the distributed passes on " +
    "duplicate, two-way, self and half-null pairs") {
    // nullable long ids: None is a corrupt endpoint the CC null contract
    // must drop, keeping the pair's good endpoint self-labeled
    val rnd = new scala.util.Random(7)
    def endpoint(): Option[Long] =
      if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(30).toLong)
    val graphs = Seq(
      Seq((Some(2L), Some(1L)), (Some(2L), Some(1L)), (Some(1L), Some(2L)),
        (Some(3L), Some(3L)), (Some(4L), None), (None, Some(5L)),
        (None, None), (Some(5L), Some(6L)), (Some(6L), Some(5L)))) ++
      (1 to 4).map(_ => Seq.fill(40)((endpoint(), endpoint())))
    graphs.foreach { g =>
      val pairs = g.toDF("id_a", "id_b")
      val local = Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect()
      // every non-null endpoint labeled once, with its min reachable id
      val want = Dedup.localMinComponents(g.flatMap {
        case (Some(a), Some(b)) => Seq((a, b))
        case (a, b) => (a ++ b).map(x => (x, x))
      }.toArray)
      assert(local.toMap === want && local.length === want.size)
      val star = Dedup.connectedComponentsStar(pairs)
        .as[(Long, Long)].collect()
      // above the gates: the distributed propagation loop
      spark.conf.set(Joins.MaxBroadcastRowsKey, "0")
      val prop =
        try Dedup.connectedComponentsLabelProp(pairs).as[(Long, Long)].collect()
        finally spark.conf.unset(Joins.MaxBroadcastRowsKey)
      assert(local.sorted.toSeq === star.sorted.toSeq)
      assert(local.sorted.toSeq === prop.sorted.toSeq)
    }
  }

  test("connectedComponents on a small graph runs 2 jobs: the counted " +
    "pair checkpoint and one collect") {
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    var labels: Map[Long, Long] = null
    val jobs = jobsDuring {
      labels = Dedup.connectedComponents(pairs).as[(Long, Long)]
        .collect().toMap
    }
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // the labels come back as a driver-built local frame: collecting
    // them runs no job, so all that is counted is the CC itself
    assert(jobs === 2, s"connectedComponents ran $jobs jobs, want 2")
  }

  test("incremental merge takes the distributed star path above the gates " +
      "and still equals from-scratch CC") {
    // force the quotient below-gate fast path OFF by shrinking the row
    // gate to zero — the star arm must produce identical labels
    val oldEdges = Seq((2L, 1L), (10L, 11L)).toDF("id_a", "id_b")
    val newEdges = Seq((3L, 10L), (2L, 3L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(oldEdges)
    spark.conf.set(Joins.MaxBroadcastRowsKey, "0")
    try {
      val inc = Dedup.connectedComponentsIncremental(labels, newEdges)
        .as[(Long, Long)].collect().toMap
      assert(inc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
        10L -> 1L, 11L -> 1L))
    } finally spark.conf.unset(Joins.MaxBroadcastRowsKey)
  }

  test("tfidf: common tokens score lower than rare ones") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "apple durian")
    ).toDF("doc_id", "text")
    val out = Text.tfidf(docs, "doc_id", "text")
      .as[(Long, String, Long, Long, Double)].collect()
      .map { case (d, t, tf, df, s) => (d, t) -> ((tf, df, s)) }.toMap
    // 'apple' in all 3 docs: idf = ln(4/4)+1 = 1; tf=2 for doc 1
    assert(out((1L, "apple")) === ((2L, 3L, 2.0)))
    // 'cherry' df=1: idf = ln(4/2)+1
    val cherry = out((2L, "cherry"))
    assert(cherry._1 === 1L && cherry._2 === 1L)
    assert(math.abs(cherry._3 - (math.log(2.0) + 1.0)) < 1e-4)
    assert(cherry._3 > out((1L, "apple"))._3 / 2)
    // the web-scale escape hatch (shuffle join on token instead of a
    // vocab-sized broadcast) must produce the identical result
    spark.conf.set("spark.graft.text.broadcastVocab", "false")
    try {
      val shuffled = Text.tfidf(docs, "doc_id", "text")
        .as[(Long, String, Long, Long, Double)].collect()
        .map { case (d, t, tf, df, s) => (d, t) -> ((tf, df, s)) }.toMap
      assert(shuffled === out)
    } finally spark.conf.unset("spark.graft.text.broadcastVocab")
  }
}
