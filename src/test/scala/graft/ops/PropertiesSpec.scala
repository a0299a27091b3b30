package graft.ops

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.SparkSpec

/** ScalaCheck properties (SURVEY §5.3): randomized structural invariants
  * for the operators whose correctness doesn't reduce to one example —
  * closure on random forests/graphs, breadcrumb/level agreement, dedup
  * idempotence, components vs a union-find reference.
  *
  * Spark round-trips are slow, so each property runs a small number of
  * generated cases (the DuckDB oracle gate covers volume; these cover
  * SHAPE — cycles, orphans, singletons, duplicate-heavy inputs).
  */
object ClosureProps extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8).withWorkers(1)

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  /** Random parent-pointer FOREST: node i's parent is some j < i (or none). */
  private val forestGen: Gen[Map[Long, Option[Long]]] = for {
    n <- Gen.choose(1, 25)
    parents <- Gen.sequence[Seq[Option[Long]], Option[Long]](
      (0 until n).map { i =>
        if (i == 0) Gen.const(None)
        else Gen.option(Gen.choose(0L, i - 1L))
      })
  } yield parents.zipWithIndex.map { case (p, i) => i.toLong -> p }.toMap

  /** Arbitrary directed pairs over a small id space (cycles likely). */
  private val pairsGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(0, 25)
    pairs <- Gen.listOfN(n, for {
      a <- Gen.choose(0L, 12L)
      b <- Gen.choose(0L, 12L)
      if a != b
    } yield (a, b))
  } yield pairs

  /** Random parent map over ids 0..n-1 whose parents range over 0..n+2:
    * self-loops, cycles and missing parents (ids ≥ n) all occur.
    */
  private val parentMapGen: Gen[Map[Long, Option[Long]]] = for {
    n <- Gen.choose(1, 20)
    parents <- Gen.listOfN(n, Gen.option(Gen.choose(0L, n + 2L)))
  } yield parents.zipWithIndex.map { case (p, i) => i.toLong -> p }.toMap

  /** (node, ancestor) pairs at walk distance ≤ `maxDepth`, self included;
    * a missing parent is an ancestor whose own walk ends there.
    */
  private[ops] def refAncestors[K](
      parents: Map[K, Option[K]], maxDepth: Int = Int.MaxValue): Set[(K, K)] =
    parents.keySet.flatMap { id =>
      Iterator.iterate(Option(id))(o => o.flatMap(parents.get).flatten)
        .takeWhile(_.isDefined).zipWithIndex.takeWhile(_._2 <= maxDepth)
        .map { case (a, _) => id -> a.get }.toSet
    }

  /** Whether the reference walk from some node, capped at `maxDepth`
    * steps, visits an id twice: true exactly when the map has a parent
    * cycle of at most `maxDepth` nodes.
    */
  private[ops] def refRevisits[K](
      parents: Map[K, Option[K]], maxDepth: Int): Boolean =
    parents.keySet.exists { id =>
      val walk = Iterator.iterate(Option(id))(o => o.flatMap(parents.get).flatten)
        .takeWhile(_.isDefined).zipWithIndex.takeWhile(_._2 <= maxDepth)
        .map(_._1.get).toSeq
      walk.distinct.size < walk.size
    }

  /** The reference walker: each node's names root first, self last, up to
    * the first root or missing parent; `None` when the path would exceed
    * `maxDepth` levels (deep chains and cycles alike).
    */
  private[ops] def refBreadcrumbs[K](
      nodes: Map[K, (Option[K], String)], maxDepth: Int): Map[K, Option[Seq[String]]] = {
    @scala.annotation.tailrec
    def walk(id: K, acc: List[String]): Option[List[String]] = {
      val (parent, name) = nodes(id)
      val path = name :: acc
      if (path.size > maxDepth) None
      else parent.filter(nodes.contains) match {
        case Some(p) => walk(p, path)
        case None => Some(path)
      }
    }
    nodes.keySet.map(id => id -> walk(id, Nil)).toMap
  }

  property("transitiveClosure = reflexive ancestor set on random forests") =
    forAll(forestGen) { forest =>
      val df = forest.toSeq
        .map { case (id, p) => (id.toString, p.map(_.toString).orNull) }
        .toDF("id", "parent")
      val got = Closure.transitiveClosure(df, "id", "parent")
        .as[(String, String)].collect()
        .map { case (d, a) => (d.toLong, a.toLong) }.toSet
      got == refAncestors(forest)
    }

  private def closureOf(parents: Map[Long, Option[Long]], cap: Int) =
    Closure.transitiveClosure(parents.toSeq
      .map { case (id, p) => (id.toString, p.map(_.toString).orNull) }
      .toDF("id", "parent"), "id", "parent", maxDepth = cap)

  property("transitiveClosure raises on a cycle within the cap") =
    forAll(parentMapGen, Gen.choose(0, 6)) { (parents, cap) =>
      refRevisits(parents, cap) ==> {
        scala.util.Try(closureOf(parents, cap).collect()).failed.toOption
          .exists(e => e.isInstanceOf[IllegalArgumentException] &&
            e.getMessage.startsWith("Closure.transitiveClosure"))
      }
    }

  property("transitiveClosure = capped ancestor set when acyclic") =
    forAll(parentMapGen, Gen.choose(0, 6)) { (parents, cap) =>
      !refRevisits(parents, cap) ==> {
        val got = closureOf(parents, cap)
          .as[(String, String)].collect()
          .map { case (d, a) => (d.toLong, a.toLong) }
        got.length == got.toSet.size && got.toSet == refAncestors(parents, cap)
      }
    }

  property("breadcrumb path: root-first, self-last, levels = element_at") =
    forAll(parentMapGen) { parents =>
      val df = parents.toSeq
        .map { case (id, p) => (id.toString, p.map(_.toString).orNull, s"n$id") }
        .toDF("id", "parent", "name")
      val want = refBreadcrumbs(
        parents.map { case (id, p) => id -> (p, s"n$id") }, maxDepth = 32)
      val out = Closure.withLevelColumns(
        Closure.breadcrumbs(df, "id", "parent", "name"), "g", 3)
      val rows = out.select(col("id"), col("path"), col("breadcrumb"),
        col("g_level_1"), col("g_level_2"), col("g_level_3")).collect()
      rows.length == parents.size && rows.forall { r =>
        val path = Option(r.getSeq[String](1))
        val levels = Seq(r.getString(3), r.getString(4), r.getString(5))
        path == want(r.getString(0).toLong) &&
          Option(r.getString(2)) == path.map(_.mkString(" / ")) &&
          levels.zipWithIndex.forall { case (l, i) =>
            l == path.flatMap(_.lift(i)).getOrElse("")
          }
      }
    }

  property("dedupByPk is idempotent and pk-unique on duplicate-heavy input") =
    forAll(Gen.listOfN(30, Gen.choose(0L, 5L))) { keys =>
      val df = keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }
        .toDF("k", "v")
      val once = Transforms.dedupByPk(df, Seq("k"), Seq(col("v")))
      val twice = Transforms.dedupByPk(once, Seq("k"), Seq(col("v")))
      val a = once.as[(Long, Long)].collect().toSet
      val b = twice.as[(Long, Long)].collect().toSet
      a == b && a.size == a.map(_._1).size &&
        // survivor is the minimum orderCol per key
        a.forall { case (k, v) =>
          v == keys.zipWithIndex.filter(_._1 == k).map(_._2).min.toLong
        }
    }

  property("connectedComponents matches union-find on random graphs") =
    forAll(pairsGen) { pairs =>
      pairs.isEmpty || {
        val df = pairs.toDF("id_a", "id_b")
        val got = Dedup.connectedComponents(df)
          .as[(Long, Long)].collect().toMap
        // union-find reference
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        pairs.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = pairs.flatMap(p => Seq(p._1, p._2)).toSet
        val ref = nodes.map { n =>
          n -> nodes.filter(m => find(m) == find(n)).min
        }.toMap
        got == ref
      }
    }

  /** Pairs with producer glitches: ~1 in 5 endpoints NULL, self-pairs
    * allowed. */
  private val glitchyPairsGen: Gen[Seq[(Option[Long], Option[Long])]] = for {
    n <- Gen.choose(1, 20)
    pairs <- Gen.listOfN(n, Gen.zip(
      Gen.frequency(4 -> Gen.choose(0L, 10L).map(Option(_)),
        1 -> Gen.const(None: Option[Long])),
      Gen.frequency(4 -> Gen.choose(0L, 10L).map(Option(_)),
        1 -> Gen.const(None: Option[Long]))))
  } yield pairs

  property("the shared CC null contract on random glitchy graphs: every " +
    "formulation = union-find over valid edges, half-null survivors " +
    "self-labeled, no null rows") =
    forAll(glitchyPairsGen) { pairs =>
      val df = pairs.toDF("id_a", "id_b")
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.collect { case (Some(a), Some(b)) => (a, b) }.foreach {
        case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = pairs.flatMap(p => Seq(p._1, p._2).flatten).toSet
      val ref = nodes.map { n =>
        n -> nodes.filter(m => find(m) == find(n)).min
      }.toMap
      Seq(
        Dedup.connectedComponents(df),
        Dedup.connectedComponentsLabelProp(df),
        Dedup.connectedComponentsStar(df)).forall { cc =>
        cc.collect().map { r =>
          !r.isNullAt(0) && !r.isNullAt(1) || sys.error("null row leaked")
          (r.getLong(0), r.getLong(1))
        }.toMap == ref
      }
    }

  property("incremental CC merge = from-scratch CC for ANY old/new edge split") =
    forAll(pairsGen, Gen.choose(0L, 12L)) { (pairs, splitId) =>
      pairs.isEmpty || {
        // "old" = edges with both endpoints below the split — an arbitrary
        // but adversarial partition (new edges may bridge, extend, or be
        // disjoint from stored components in any combination)
        val (oldE, newE) = pairs.partition(p => p._1 < splitId && p._2 < splitId)
        newE.isEmpty || {
          val labels = Dedup.connectedComponents(
            if (oldE.isEmpty)
              Seq.empty[(Long, Long)].toDF("id_a", "id_b")
            else oldE.toDF("id_a", "id_b"))
          val inc = Dedup.connectedComponentsIncremental(
            labels, newE.toDF("id_a", "id_b"))
            .as[(Long, Long)].collect().toMap
          val scratch = Dedup.connectedComponents(pairs.toDF("id_a", "id_b"))
            .as[(Long, Long)].collect().toMap
          inc == scratch
        }
      }
    }

  property("incremental merge of GLITCHY batches = from-scratch CC over " +
    "the combined glitchy input (the null contract composes across the " +
    "store boundary)") =
    forAll(glitchyPairsGen, Gen.choose(0L, 10L)) { (pairs, splitId) =>
      val (oldE, newE) = pairs.partition {
        case (Some(a), Some(b)) => a < splitId && b < splitId
        case _ => false // glitchy edges always arrive in the NEW batch
      }
      newE.isEmpty || {
        val labels = Dedup.connectedComponents(
          if (oldE.isEmpty)
            Seq.empty[(Long, Long)].toDF("id_a", "id_b")
          else oldE.collect { case (Some(a), Some(b)) => (a, b) }
            .toDF("id_a", "id_b"))
        val inc = Dedup.connectedComponentsIncremental(
          labels, newE.toDF("id_a", "id_b"))
          .as[(Long, Long)].collect().toMap
        val scratch = Dedup.connectedComponents(pairs.toDF("id_a", "id_b"))
          .as[(Long, Long)].collect().toMap
        inc == scratch
      }
    }

  property("asofJoin matches the per-row latest-at-or-before reference") =
    forAll(
      Gen.listOfN(20, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 50L))),
      Gen.listOfN(20, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 50L)))) {
      (ls, rs) =>
        val left = ls.zipWithIndex
          .map { case ((k, t), i) => (i.toLong, k, new java.sql.Timestamp(t * 1000)) }
        val right = rs.zipWithIndex
          .map { case ((k, t), i) => (1000L + i, k, new java.sql.Timestamp(t * 1000)) }
        left.isEmpty || right.isEmpty || {
          val lDf = left.toDF("lid", "k", "ts")
          val rDf = right.toDF("rid", "k", "rts")
          val got = Joins.asofJoin(lDf, rDf, Seq("k"), "ts", "rts",
            Seq("rid"), col("rid"))
            .select("lid", "rid").as[(Long, Option[Long])].collect().toMap
          val ref = left.map { case (lid, k, ts) =>
            val cands = right.filter(r => r._2 == k && !r._3.after(ts))
            lid -> (if (cands.isEmpty) None
                    else Some(cands.maxBy(r => (r._3.getTime, r._1))._1))
          }.toMap
          got == ref
        }
    }

  property("rangeJoinBucketed equals the naive inequality join (random windows)") =
    forAll(
      Gen.listOfN(15, Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 120L))),
      Gen.listOfN(15, Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 120L))),
      Gen.oneOf(1000L, 7000L, 30000L)) { (ls, rs, win) =>
      val left = ls.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, new java.sql.Timestamp(t * 500)) }
      val right = rs.zipWithIndex
        .map { case ((k, t), i) => (1000L + i, k, new java.sql.Timestamp(t * 500)) }
      left.isEmpty || right.isEmpty || {
        val lDf = left.toDF("lid", "k", "ts")
        val rDf = right.toDF("rid", "k", "rts")
        val got = Joins.rangeJoinBucketed(lDf, rDf, Seq("k"), "ts", "rts", win)
          .select("lid", "rid").as[(Long, Long)].collect().toSet
        val ref = (for {
          (lid, lk, lts) <- left
          (rid, rk, rts) <- right
          if lk == rk && rts.getTime >= lts.getTime &&
            rts.getTime < lts.getTime + win
        } yield (lid, rid)).toSet
        got == ref
      }
    }

  private val docGen: Gen[Seq[(Long, String)]] = for {
    n <- Gen.choose(1, 8)
    docs <- Gen.sequence[Seq[String], String]((0 until n).map { _ =>
      Gen.choose(0, 120).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))
          .map(_.mkString(" ")))
    })
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  property("chunking covers every token: stride-offset chunks reassemble the doc") =
    forAll(docGen) { docs =>
      val df = docs.toDF("doc_id", "text")
      val toks = df
        .select(col("doc_id"), Text.tokens(col("text")).as("_ts"))
        .where(size(col("_ts")) > 0)
      val chunks = toks
        .select(col("doc_id"), col("_ts"),
          explode(sequence(lit(0), greatest(size(col("_ts")) - 1, lit(0)),
            lit(40))).as("_start"))
        .select(col("doc_id"), col("_start"),
          concat_ws(" ", slice(col("_ts"), col("_start") + 1, lit(50))).as("chunk"))
        .as[(Long, Int, String)].collect()
      docs.forall { case (id, text) =>
        val ts = text.split("\\s+").filter(_.nonEmpty)
        val mine = chunks.filter(_._1 == id).sortBy(_._2)
        if (ts.isEmpty) mine.isEmpty
        else {
          // non-overlap prefixes (first 40 tokens of each chunk) reassemble
          // the doc; every chunk is tokens [start, start+50)
          val reassembled = mine.flatMap { case (_, s, c) =>
            c.split(" ").filter(_.nonEmpty).take(
              math.min(40, math.max(0, ts.length - s)))
          }
          reassembled.toSeq == ts.toSeq &&
            mine.forall { case (_, s, c) =>
              c.split(" ").filter(_.nonEmpty).toSeq ==
                ts.slice(s, s + 50).toSeq
            }
        }
      }
    }

  property("incremental minhash candidates = the full run's pairs that " +
    "touch the batch, for ANY corpus/batch split of random " +
    "duplicate-heavy corpora") =
    forAll(docGen, Gen.choose(0L, 8L)) { (docs, splitId) =>
      val all = docs.toDF("doc_id", "text")
      val corpus = all.where(col("doc_id") < splitId)
      val batch = all.where(col("doc_id") >= splitId)
      batch.isEmpty || {
        val full = Dedup.minhashCandidatePairs(all, "doc_id", "text")
          .as[(Long, Long)].collect().toSet
        val stored = Dedup.bandTable(corpus.select(col("doc_id").as("_id"),
          Text.shingles(col("text"), 3).as("_sh")))
        val incr = Dedup.minhashIncrementalCandidates(
          batch, "doc_id", "text", stored).as[(Long, Long)].collect().toSet
        val batchIds = docs.map(_._1).filter(_ >= splitId).toSet
        incr == full.filter(p => batchIds(p._1) || batchIds(p._2))
      }
    }

  property("incremental exact dedup = the full run's keepers that are " +
    "batch ids, for ANY corpus/batch split") =
    forAll(docGen, Gen.choose(0L, 8L)) { (docs, splitId) =>
      val all = docs.toDF("doc_id", "text")
      val corpus = all.where(col("doc_id") < splitId)
      val batch = all.where(col("doc_id") >= splitId)
      batch.isEmpty || {
        val full = Dedup.exactGroups(all, "doc_id", "text")
          .select("keeper_id").as[Long].collect().toSet
        val store = Dedup.exactGroups(corpus, "doc_id", "text")
          .select("digest")
        val incr = Dedup.exactIncremental(batch, "doc_id", "text", store)
          .select("keeper_id").as[Long].collect().toSet
        val batchIds = docs.map(_._1).filter(_ >= splitId).toSet
        incr == full.filter(batchIds)
      }
    }

  property("incremental SRP/cosine candidates = the full run's pairs " +
    "touching the batch, for ANY corpus/batch split of random vectors") =
    forAll(
      Gen.choose(2, 10).flatMap(n => Gen.listOfN(n,
        Gen.listOfN(4, Gen.choose(-3, 3)))),
      Gen.choose(0L, 10L)) { (vecs, splitId) =>
      val all = vecs.zipWithIndex
        .map { case (v, i) => (i.toLong, v.map(_.toFloat)) }
        .toDF("vec_id", "embedding")
      val corpus = all.where(col("vec_id") < splitId)
      val batch = all.where(col("vec_id") >= splitId)
      batch.isEmpty || {
        val full = Similarity
          .cosineNearDupPairs(all, "vec_id", "embedding", 0.4)
          .as[(Long, Long, Double)].collect().toSet
        val stored = Similarity.srpTable(corpus, "vec_id", "embedding")
        val incr = Similarity.cosineIncrementalCandidates(
          batch, "vec_id", "embedding", stored, 0.4)
          .as[(Long, Long, Double)].collect().toSet
        val batchIds = (0L until vecs.length.toLong).filter(_ >= splitId).toSet
        incr == full.filter(p => batchIds(p._1) || batchIds(p._2))
      }
    }

  property("decontaminate keeps exactly the docs sharing no shingle with the eval set") =
    forAll(docGen) { docs =>
      val df = docs.toDF("doc_id", "text")
      val clean = {
        val corpusSh = df
          .select(col("doc_id"), Text.shingles(col("text"), 3).as("_sh"))
          .select(col("doc_id"), explode(col("_sh")).as("_s"))
        val evalSh = df.where(col("doc_id") < 2)
          .select(explode(Text.shingles(col("text"), 3)).as("_s")).distinct()
        val bad = corpusSh.join(broadcast(evalSh), Seq("_s"), "left_semi")
          .select("doc_id").distinct()
        df.join(bad, Seq("doc_id"), "left_anti").select("doc_id")
          .as[Long].collect().toSet
      }
      def sh(text: String): Set[String] = {
        val ts = text.split("\\s+").filter(_.nonEmpty).toSeq
        if (ts.length < 3) Set(ts.mkString(" "))
        else ts.sliding(3).map(_.mkString(" ")).toSet
      }
      val evalSet = docs.filter(_._1 < 2).flatMap(d => sh(d._2)).toSet
      val refClean = docs.filter(d => sh(d._2).intersect(evalSet).isEmpty)
        .map(_._1).toSet
      clean == refClean
    }

  property("segmentDedup = reference keep-first on random duplicate-heavy corpora") =
    forAll(for {
      n <- Gen.choose(1, 10)
      // tiny vocabulary + width 2 makes cross-doc segment collisions likely
      docs <- Gen.listOfN(n, Gen.choose(0, 7).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c")).map(_.mkString(" "))))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }) { docs =>
      val w = 2
      val out = Dedup.segmentDedup(docs.toDF("doc_id", "text"), "doc_id", "text", w)
        .as[(Long, String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      // reference: global keep-first over (doc_id, seg_id)-ordered segments
      def segsOf(t: String): Seq[String] = {
        val ts = t.split("\\s+").filter(_.nonEmpty).toSeq
        ts.grouped(w).map(_.mkString(" ")).toSeq
      }
      val seen = scala.collection.mutable.Set[String]()
      val ref = docs.map { case (id, t) =>
        val segs = segsOf(t)
        val kept = segs.filter(s => seen.add(s))
        id -> ((kept.mkString(" "), kept.size.toLong, segs.size.toLong))
      }.toMap
      out == ref
    }

  property("repeatedSpans: hashed-key arm ≡ exact-text arm, and both = " +
    "a naive cross-doc window reference, on duplicate-heavy corpora") =
    forAll(for {
      n <- Gen.choose(1, 8)
      docs <- Gen.listOfN(n, Gen.choose(0, 9).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("a", "b", "c")).map(_.mkString(" "))))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }) { docs =>
      val w = 2
      val df = docs.toDF("doc_id", "text")
      def collect(out: org.apache.spark.sql.DataFrame) =
        out.as[(Long, Long, Long, Double)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val exact = collect(Text.repeatedSpans(df, "doc_id", "text", w))
      val hashed = collect(Text.repeatedSpansHashed(df, "doc_id", "text", w))
      // naive reference: stride-1 windows (short doc -> whole doc), a
      // window is repeated iff >= 2 distinct docs contain its text
      def winsOf(t: String): Seq[String] = {
        val ts = t.split("\\s+").filter(_.nonEmpty).toSeq
        if (ts.size < w) Seq(ts.mkString(" "))
        else ts.sliding(w).map(_.mkString(" ")).toSeq
      }
      val byDoc = docs.map { case (id, t) => id -> winsOf(t) }
      val repeated = byDoc.flatMap { case (id, ws) => ws.distinct.map(_ -> id) }
        .groupBy(_._1).filter(_._2.map(_._2).distinct.size >= 2).keySet
      val ref = byDoc.map { case (id, ws) =>
        val nr = ws.count(repeated)
        id -> ((ws.size.toLong, nr.toLong,
          BigDecimal(nr.toDouble / ws.size)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }.toMap
      exact == ref && hashed == ref
    }

  property("firstPerGroup picks the true minimum per group") =
    forAll(Gen.listOfN(25, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 100L)))) {
      rows =>
        rows.isEmpty || {
          val df = rows.toDF("g", "v")
          val got = Transforms.firstPerGroup(df, Seq("g"), Seq(col("v")))
            .as[(Long, Long)].collect().toMap
          val ref = rows.groupBy(_._1).map { case (g, rs) =>
            g -> rs.map(_._2).min
          }
          got == ref
        }
    }

  // ------------------------------------------------------------------ PQ

  /** Random small corpora for the PQ family: n vectors of dim 4, values
    * on a coarse grid (exact in Float, so the Scala reference and the
    * engine walk identical doubles). iters = 0 keeps the model a PURE
    * function of the corpus (sliced first-ks-by-id seeds) — the Lloyd
    * round is pinned by PqSpec's fixtures; these properties cover
    * corpus SHAPE (duplicates, ties, tiny n vs ks).
    */
  private val pqCorpusGen: Gen[Seq[(Long, Seq[Float])]] = for {
    n <- Gen.choose(2, 10)
    vecs <- Gen.listOfN(n,
      Gen.listOfN(4, Gen.choose(-4, 4).map(_.toFloat / 4)))
  } yield vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }

  private def pqRef(sv: Seq[Double], book: Seq[Seq[Double]]): Int =
    book.zipWithIndex.map { case (cw, c) =>
      var s = 0.0
      var i = 0
      while (i < sv.length) { val d = sv(i) - cw(i); s += d * d; i += 1 }
      (BigDecimal(java.math.BigDecimal.valueOf(s)
        .setScale(9, java.math.RoundingMode.HALF_UP)), c)
    }.min._2

  property("pqEncode = per-subspace argmin reference on random corpora " +
    "(duplicates and exact ties included)") =
    forAll(pqCorpusGen) { corpus =>
      val df = corpus.toDF("vec_id", "embedding")
      val model = Similarity.pqTrain(df, "vec_id", "embedding",
        m = 2, ks = 2, iters = 0)
      val got = Similarity.pqEncode(df, "vec_id", "embedding", model)
        .select(col("vec_id"), col("codes"))
        .as[(Long, Seq[Int])].collect().toMap
      corpus.forall { case (id, v) =>
        got(id) == (0 until model.m).map { s =>
          pqRef(v.map(_.toDouble)
            .slice(s * model.subDim, (s + 1) * model.subDim),
            model.books(s))
        }
      }
    }

  property("pqTopK = exact-decimal ADC reference on random corpora") =
    forAll(pqCorpusGen) { corpus =>
      val df = corpus.toDF("vec_id", "embedding")
      val model = Similarity.pqTrain(df, "vec_id", "embedding",
        m = 2, ks = 2, iters = 0)
      val enc = Similarity.pqEncode(df, "vec_id", "embedding", model)
      val k = 3
      val got = Similarity.pqTopK(df.where(col("vec_id") < 2), enc,
        "vec_id", "embedding", k, model)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .as[(Long, Long, Int)].collect().toSet
      val codes = enc.select(col("vec_id"), col("codes"))
        .as[(Long, Seq[Int])].collect().toMap
      val expected = corpus.filter(_._1 < 2).flatMap { case (qid, qv) =>
        val tbl = (0 until model.m).map { s =>
          val qsv = qv.map(_.toDouble)
            .slice(s * model.subDim, (s + 1) * model.subDim)
          model.books(s).map { cw =>
            var d2 = 0.0
            var i = 0
            while (i < qsv.length) { val d = qsv(i) - cw(i); d2 += d * d; i += 1 }
            BigDecimal(java.math.BigDecimal.valueOf(d2)
              .setScale(6, java.math.RoundingMode.HALF_UP))
          }
        }
        corpus.map(_._1).filter(_ != qid).map { nid =>
          ((0 until model.m).map(s => tbl(s)(codes(nid)(s))).sum, nid)
        }.sorted.take(k).zipWithIndex
          .map { case ((_, nid), i) => (qid, nid, i + 1) }
      }.toSet
      got == expected
    }

  property("ivfPqTopK probing every cell = the full ADC scan on random " +
    "corpora (cell pruning loses exactly nothing at nprobe = cells)") =
    forAll(pqCorpusGen) { corpus =>
      val df = corpus.toDF("vec_id", "embedding")
      val model = Similarity.pqTrain(df, "vec_id", "embedding",
        m = 2, ks = 2, iters = 0)
      val enc = Similarity.pqEncode(df, "vec_id", "embedding", model)
      val queries = df.where(col("vec_id") < 2)
      val kc = math.min(3, corpus.length)
      val all = Similarity.ivfPqTopK(
        queries, df, "vec_id", "embedding", 3, kc, model, nprobe = kc)
      val brute = Similarity.pqTopK(queries, enc, "vec_id", "embedding", 3, model)
      // zero-norm vectors assign to NULL cells and drop from the probed
      // path but not the full scan — exclude corpora that have them
      // (cellOf's documented contract, spec-pinned elsewhere)
      val hasZero = corpus.exists(_._2.forall(_ == 0f))
      hasZero ||
        (all.exceptAll(brute).isEmpty && brute.exceptAll(all).isEmpty)
    }

  property("residual ivfPqTopK probing every cell = an in-memory " +
    "cell-relative ADC reference (codes AND tables both built from " +
    "vec − centroid(cell))") =
    forAll(pqCorpusGen) { corpus =>
      val hasZero = corpus.exists(_._2.forall(_ == 0f))
      // pqTrainRes seeds past the centroid prefix (ids 0..kc-1 at this
      // first-k convention), so it needs >= kc + 2 rows
      hasZero || corpus.length < 5 || {
        val df = corpus.toDF("vec_id", "embedding")
        val kc = math.min(3, corpus.length)
        val cents = Similarity.seedCentroidsFor(df, "vec_id", "embedding", kc)
        val centOf = cents.toMap
        val model = Similarity.pqTrainRes(df, "vec_id", "embedding", cents,
          m = 2, ks = 2, iters = 0)
        val queries = df.where(col("vec_id") < 2)
        val got = Similarity.ivfPqTopK(queries, df, "vec_id", "embedding",
          3, kc, model, nprobe = kc, residual = true)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .as[(Long, Long, Int)].collect().toSet
        // cells from the operator's own (three-way-spec-pinned) assigner;
        // everything downstream of them recomputed independently
        val cells = Similarity.withCell(df, "vec_id", "embedding", cents)
          .select(col("vec_id"), col("_cell"))
          .as[(Long, Long)].collect().toMap
        def resid(v: Seq[Float], cell: Long): Seq[Double] =
          v.map(_.toDouble).zip(centOf(cell)).map { case (a, b) => a - b }
        val codes: Map[Long, Seq[Int]] = corpus.map { case (id, v) =>
          val r = resid(v, cells(id))
          id -> (0 until model.m).map(s => pqRef(
            r.slice(s * model.subDim, (s + 1) * model.subDim), model.books(s)))
        }.toMap
        val expected = corpus.filter(_._1 < 2).flatMap { case (qid, qv) =>
          corpus.map(_._1).filter(_ != qid).map { nid =>
            val qrv = resid(qv, cells(nid)) // the neighbor's (probed) cell
            val score = (0 until model.m).map { s =>
              val qsv = qrv.slice(s * model.subDim, (s + 1) * model.subDim)
              val cw = model.books(s)(codes(nid)(s))
              var d2 = 0.0
              var i = 0
              while (i < qsv.length) { val d = qsv(i) - cw(i); d2 += d * d; i += 1 }
              BigDecimal(java.math.BigDecimal.valueOf(d2)
                .setScale(6, java.math.RoundingMode.HALF_UP))
            }.sum
            (score, nid)
          }.sorted.take(3).zipWithIndex
            .map { case ((_, nid), i) => (qid, nid, i + 1) }
        }.toSet
        got == expected
      }
    }

  // -------------------------------------------------------------- binary

  /** Random corpora for the binary family: dim 32 (one packed word),
    * integer-grid values INCLUDING exact zeros — the packing contract is
    * strictly `> 0`, so zeros must land on the 0-bit side everywhere.
    */
  private val binCorpusGen: Gen[Seq[(Long, Seq[Float])]] = for {
    n <- Gen.choose(2, 8)
    vecs <- Gen.listOfN(n,
      Gen.listOfN(32, Gen.choose(-2, 2).map(_.toFloat)))
  } yield vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }

  private def binRefWord(v: Seq[Float]): Long =
    v.zipWithIndex.map { case (x, j) => if (x > 0) 1L << j else 0L }.sum

  property("binQuantize = sign-bit reference on random corpora " +
    "(exact zeros pack as 0-bits)") =
    forAll(binCorpusGen) { corpus =>
      val df = corpus.toDF("vec_id", "embedding")
      val got = Similarity.binQuantize(df, "vec_id", "embedding", 32)
        .select(col("vec_id"), col("bin_words"))
        .as[(Long, Seq[Long])].collect().toMap
      corpus.forall { case (id, v) => got(id) == Seq(binRefWord(v)) }
    }

  property("hammingTopK = popcount reference with the (distance ASC, " +
    "id ASC) tie contract on random corpora") =
    forAll(binCorpusGen) { corpus =>
      val df = corpus.toDF("vec_id", "embedding")
      val codes = Similarity.binQuantize(df, "vec_id", "embedding", 32)
      val k = 3
      val got = Similarity.hammingTopK(df.where(col("vec_id") < 2), codes,
        "vec_id", "embedding", k, 32)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .as[(Long, Long, Int)].collect().toSet
      val packed = corpus.map { case (id, v) => id -> binRefWord(v) }.toMap
      val expected = corpus.filter(_._1 < 2).flatMap { case (qid, _) =>
        corpus.map(_._1).filter(_ != qid)
          .map(n => (java.lang.Long.bitCount(packed(qid) ^ packed(n)), n))
          .sorted.take(k).zipWithIndex
          .map { case ((_, nid), i) => (qid, nid, i + 1) }
      }.toSet
      got == expected
    }

  // ---- curation provenance: the audit partitions the corpus ----

  /** Duplicate-heavy random corpora over a 5-text pool (pool text 4
    * carries the benchmark span → 'contaminated'), with occasional
    * too-short docs ('quality') and two sources.
    */
  private def poolText(b: Int): String =
    s"the alpha$b bravo$b charlie$b delta$b echo$b foxtrot$b golf$b " +
      s"hotel$b india$b juliet$b"
  private val provSpan =
    "benchmark sentence copied verbatim into the corpus document"
  private val provCorpusGen: Gen[Seq[(Long, String, String)]] = for {
    n <- Gen.choose(1, 14)
    rows <- Gen.listOfN(n, for {
      base <- Gen.choose(0, 4)
      short <- Gen.frequency(4 -> false, 1 -> true)
      src <- Gen.oneOf("s1", "s2")
    } yield (base, short, src))
  } yield rows.zipWithIndex.map { case ((b, sh, src), i) =>
    val text =
      if (sh) "x y"
      else if (b == 4) s"the kilo$i lima$i mike$i november$i oscar$i " +
        s"papa$i quebec$i romeo$i sierra$i $provSpan"
      else poolText(b)
    (100L + i, text, src)
  }

  property("curateProvenance partitions the corpus: one row per doc, " +
    "legal reasons only, kept arm = curate's survivor ids — on random " +
    "duplicate-heavy corpora") =
    forAll(provCorpusGen) { rows =>
      val corpus = rows.toDF("doc_id", "text", "source")
      val bench = Seq((1L, s"the $provSpan")).toDF("doc_id", "text")
      val prov = Curation.curateProvenance(corpus, bench, "doc_id",
          "text", "source", pplBuckets = 2, dropTailBuckets = 0,
          capPerSource = 10, numShards = 2)
        .select("doc_id", "reason").as[(Long, String)].collect()
      val legal = Set("quality", "exact_dup", "near_dup", "contaminated",
        "semantic", "ppl_tail", "capped", "kept")
      val kept = Curation.curate(corpus, bench, "doc_id", "text",
          "source", pplBuckets = 2, dropTailBuckets = 0,
          capPerSource = 10, numShards = 2)
        .select("doc_id").as[Long].collect().toSet
      prov.length == rows.length &&
        prov.map(_._1).toSet == rows.map(_._1).toSet &&
        prov.forall(r => legal(r._2)) &&
        prov.collect { case (id, "kept") => id }.toSet == kept
    }

  // ---- cleanText: idempotent, canonical-equivalence-invariant ----

  private val dirtyCharGen: Gen[Char] = Gen.frequency(
    6 -> Gen.alphaChar, 2 -> Gen.const(' '), 1 -> Gen.const('\t'),
    1 -> Gen.const('\u00e9'), 1 -> Gen.const('\u0301'),
    1 -> Gen.const('\u0007'), 1 -> Gen.const('\u000C'),
    1 -> Gen.const('\u000B'),
    // C1 mojibake residue, NBSP, NEL — the round-15 extension of the
    // strip/whitespace classes; a control char landing BETWEEN a base
    // char and U+0301 is the strip-before-NFC ordering case the fixed
    // stage order must survive
    1 -> Gen.const('\u0092'), 1 -> Gen.const('\u00A0'),
    1 -> Gen.const('\u0085'))
  private val dirtyGen: Gen[String] =
    Gen.listOf(dirtyCharGen).map(_.mkString)

  property("cleanText is idempotent and invariant under canonical " +
    "decomposition (clean(NFD(s)) = clean(s)) on random dirty strings") =
    forAll(dirtyGen) { s =>
      val nfd = java.text.Normalizer.normalize(
        s, java.text.Normalizer.Form.NFD)
      val out = Seq(s, nfd).toDF("t")
        .select(Text.cleanText(col("t")).as("c")).as[String].collect()
      val again = Seq(out(0)).toDF("t")
        .select(Text.cleanText(col("t")).as("c")).as[String].head()
      out(0) == out(1) && again == out(0)
    }

  // ---- NB trainer: exact label-swap antisymmetry ----

  private val labeledDocsGen: Gen[Seq[(String, Boolean)]] = for {
    n <- Gen.choose(2, 12)
    docs <- Gen.listOfN(n, for {
      nw <- Gen.choose(1, 6)
      ws <- Gen.listOfN(nw, Gen.oneOf("alpha", "beta", "Gamma", "d", "ee"))
      lbl <- Gen.oneOf(true, false)
    } yield (ws.mkString(" "), lbl))
    // both classes non-empty (nbTrain itself allows one-sided count
    // tables; the swap property needs both labels realized)
    if docs.exists(_._2) && docs.exists(!_._2)
  } yield docs

  property("nbTrain label swap negates every w_units EXACTLY and swaps " +
    "the count columns (quantize-then-subtract integer symmetry)") =
    forAll(labeledDocsGen) { docs =>
      val df = docs.zipWithIndex
        .map { case ((t, l), i) => (i.toLong, t, l) }
        .toDF("id", "text", "seed")
      def table(isSeed: org.apache.spark.sql.Column) =
        Text.nbTrain(df, "text", isSeed)
          .as[(String, Long, Long, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val fwd = table(col("seed"))
      val swp = table(!col("seed"))
      fwd.keySet == swp.keySet && fwd.forall { case (t, (cs, cc, w)) =>
        swp(t) == ((cc, cs, -w))
      }
    }

  // ---- winnow_fp: native deque pass == brute-force definition ----

  /** Independent re-derivation of the winnow picks straight from the
    * paper's definition (per-window scan for the rightmost minimum,
    * then distinct) — deliberately O(n·w) and structurally unlike the
    * expression's monotonic deque, so a deque bug cannot hide.
    */
  private def winnowBrute(s: String, k: Int, w: Int): Seq[Long] = {
    val h = graft.functions.RollingHash.hashes(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8), k)
    if (h.length < w) Seq.empty
    else {
      val picks = (0 to h.length - w).map { i =>
        val win = h.slice(i, i + w)
        val mn = win.min
        val p = i + win.lastIndexOf(mn)
        p.toLong * 2147483648L + h(p)
      }
      picks.distinct
    }
  }

  private val winnowTextGen: Gen[String] = for {
    n <- Gen.choose(0, 120)
    // a tiny alphabet forces hash ties and repeated substrings — the
    // rightmost-tie and dedup paths, not just the generic min path
    cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', ' ', 'é'))
  } yield cs.mkString

  property("winnow_fp native expression == brute-force rightmost-min " +
    "definition (picks, order, dedup) on tie-heavy random text") =
    forAll(winnowTextGen, Gen.choose(1, 6), Gen.choose(1, 5)) {
      (s, k, w) =>
        val native = Seq(s).toDF("t")
          .select(call_function("winnow_fp", col("t"), lit(k), lit(w))
            .as("fp"))
          .as[Seq[Long]].head()
        native == winnowBrute(s, k, w)
    }

  // ---- ws_tokens: native byte scan == the retired composed split ----

  private val dirtyTextGen: Gen[String] = for {
    n <- Gen.choose(0, 40)
    cs <- Gen.listOfN(n, Gen.frequency(
      5 -> Gen.oneOf('a', 'b', 'Z', '1', 'é', '中', '.'),
      4 -> Gen.oneOf(' ', '\t', '\n', '\r', '\f', ''),
      1 -> Gen.oneOf(' ', ' ')))  // NOT \s: must stay in-token
  } yield cs.mkString

  property("ws_tokens native expression == filter(split(text, \\s+), " +
    "_ <> '') on whitespace-heavy text (leading/trailing runs, unicode " +
    "non-breaking spaces stay in-token, empty string)") =
    forAll(dirtyTextGen) { s =>
      val both = Seq(s).toDF("t").select(
        call_function("ws_tokens", col("t")).as("nat"),
        filter(split(col("t"), "\\s+"), t => t =!= "").as("old"))
        .as[(Seq[String], Seq[String])].head()
      both._1 == both._2
    }

  // ---- token_shingles: native == the retired composed formulation ----

  /** The exact composed column expression `shinglesOfTokens` used before
    * the native expression replaced it — kept here verbatim as the
    * independent semantics oracle (short-array concat_ws branch, null
    * propagation through the window concat, all of it).
    */
  private def shinglesComposed(ts: org.apache.spark.sql.Column, n: Int) = {
    val win = size(ts) - (n - 1)
    val joined = (2 to n).foldLeft(slice(ts, lit(1), win)) { (acc, k) =>
      zip_with(acc, slice(ts, lit(k), win), (a, b) => concat(a, lit(" "), b))
    }
    when(size(ts) < n, array(concat_ws(" ", ts))).otherwise(joined)
  }

  private val tokenArrayGen: Gen[Seq[Option[String]]] = for {
    n <- Gen.choose(0, 12)
    ts <- Gen.listOfN(n, Gen.frequency(
      9 -> Gen.oneOf("a", "bb", "ccc", "déf", "", "x1").map(Option(_)),
      1 -> Gen.const(Option.empty[String])))
  } yield ts

  property("token_shingles native expression == the composed " +
    "zip_with-fold formulation (short arrays, empties, null tokens)") =
    forAll(tokenArrayGen, Gen.choose(1, 5)) { (ts, n) =>
      val df = Seq(Tuple1(ts)).toDF("ts")
      val both = df.select(
        call_function("token_shingles", col("ts"), lit(n)).as("nat"),
        shinglesComposed(col("ts"), n).as("old"))
        .as[(Seq[Option[String]], Seq[Option[String]])].head()
      both._1 == both._2
    }

  // ---- BPE trainer: the two arms agree on random corpora ----

  private val bpeCorpusGen: Gen[Seq[String]] = for {
    n <- Gen.choose(1, 6)
    docs <- Gen.listOfN(n, for {
      nw <- Gen.choose(1, 5)
      ws <- Gen.listOfN(nw, Gen.oneOf(
        "aba", "abab", "bc", "bcbc", "ca", "caca", "x"))
    } yield ws.mkString(" "))
  } yield docs

  property("BpeTrain driver and distributed arms learn IDENTICAL merge " +
    "tables on random corpora (selection rule cannot drift)") =
    forAll(bpeCorpusGen) { docs =>
      val df = docs.toDF("text")
      val a = BpeTrain.train(df, "text", numMerges = 4)
      val b = BpeTrain.trainDistributed(df, "text", numMerges = 4,
        checkpointEvery = 8)
      a == b
    }
}
