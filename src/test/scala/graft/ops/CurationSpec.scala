package graft.ops

import org.apache.spark.sql.functions._

/** Behavior pins for the end-to-end curation composite beyond the graded
  * oracle row: per-stage drop reasons on a planted corpus, the knob
  * edges (dropTailBuckets = 0, cap larger than every group, empty
  * benchmark), and the output contract (dense per-shard positions).
  * Fixture texts are built so each doc trips exactly one stage: the
  * gopher rules need >= 10 words incl. a stopword; winnowing needs a
  * >= k + w − 1 = 39-byte verbatim span to flag contamination; docs
  * share no 3-gram shingles unless planted, so minhash pairs only what
  * the test intends.
  */
class CurationSpec extends graft.SparkSpec {

  import spark.implicits._

  // 10+ words, one stopword, mean word length in range, all alphabetic.
  // Every doc pays one branching ln(1/4) bigram ("the" → its unique
  // follower); the LONG variant dilutes that penalty over more bigrams,
  // so long docs score a strictly higher mean logprob than short ones —
  // the ppl-bucket stage has a real distribution to band (a corpus of
  // structurally identical docs scores ONE logprob and the median
  // threshold puts everything in the tail band, by the on-threshold →
  // lower-band rule)
  private def doc(i: Int): String =
    s"the alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i golf$i " +
      s"hotel$i india$i juliet$i"

  private def docLong(i: Int): String =
    doc(i) + s" kilo$i lima$i mike$i november$i oscar$i"

  private val benchSpan =
    "benchmark sentence copied verbatim into the corpus document"

  private def corpus() = Seq(
    (100L, doc(0), "s1"),
    (101L, doc(0), "s1"), // exact dup of 100 → only the min id survives
    (102L, doc(2), "s1"),
    (103L, "x y", "s1"), // gopher: too few words
    (104L, s"the kilo4 lima4 mike4 november4 oscar4 papa4 quebec4 " +
      s"romeo4 sierra4 $benchSpan", "s2"), // contaminated → dropped
    (105L, docLong(5), "s2"),
    (106L, docLong(6), "s2")
  ).toDF("doc_id", "text", "source")

  private def bench() =
    Seq((1L, s"the $benchSpan")).toDF("doc_id", "text")

  test("curate drops each planted doc at its intended stage and emits " +
    "dense per-shard training order over the survivors") {
    val out = Curation.curate(corpus(), bench(), "doc_id", "text", "source",
      pplBuckets = 2, dropTailBuckets = 0, capPerSource = 10, numShards = 2)
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids === Set(100L, 102L, 105L, 106L),
      s"unexpected survivor set: $ids")
    // dense 1..n positions within each shard (the resumability contract)
    val byShard = out.select("shard", "pos").as[(Long, Long)].collect()
      .groupBy(_._1)
    byShard.foreach { case (shard, g) =>
      assert(g.map(_._2).sorted.toSeq === (1L to g.size).toSeq,
        s"shard $shard positions not dense: ${g.map(_._2).sorted.toSeq}")
    }
  }

  test("funnel counters ride the stage jobs: every curation_<stage> " +
    "metric is observed, counts are monotone non-increasing") {
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("curation_"))
            seen.put(name, row.getAs[Long]("n_rows"))
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = Curation.curate(corpus(), bench(), "doc_id", "text",
        "source", pplBuckets = 2, dropTailBuckets = 0, capPerSource = 10,
        numShards = 2)
      val finalRows = out.count()
      // listener delivery is async — poll briefly for the full funnel
      val want = Seq("curation_kept", "curation_exact", "curation_deduped",
        "curation_clean", "curation_head", "curation_final")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!want.forall(seen.containsKey) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(want.forall(seen.containsKey), s"missing metrics: $seen")
      val counts = want.map(seen.get(_))
      assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
        s"funnel must be monotone non-increasing: $seen")
      assert(seen.get("curation_final") === finalRows)
      // the planted fixture's exact numbers: 6 pass gopher, 5 survive
      // the exact dup, 4 after decontamination
      assert(seen.get("curation_kept") === 6L)
      assert(seen.get("curation_exact") === 5L)
      assert(seen.get("curation_clean") === 4L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("curateStaged (bucketed-parquet seam) is byte-identical to curate " +
    "(checkpoint seam) — only the materialization changes") {
    val wh = java.nio.file.Files.createTempDirectory("graft_curst").toString
    val sink = graft.sources.BucketedSink(4, Seq("doc_id"))
    val base = Curation.curate(corpus(), bench(), "doc_id", "text", "source",
        pplBuckets = 2, dropTailBuckets = 0, capPerSource = 10, numShards = 2)
      .select("doc_id", "shard", "pos").as[(Long, Long, Long)].collect().toSet
    val staged = Curation.curateStaged(corpus(), bench(), "doc_id", "text",
        "source", sink, wh, pplBuckets = 2, dropTailBuckets = 0,
        capPerSource = 10, numShards = 2)
      .select("doc_id", "shard", "pos").as[(Long, Long, Long)].collect().toSet
    assert(staged === base, s"seams must agree: $staged vs $base")
    // the boundaries are REAL resumable parquet tables under the target
    val reread = sink.read(spark, wh, "stage_head")
    assert(reread.count() > 0, "stage tables persist and re-read")
    // a sink bucketed on the wrong column is rejected loudly
    val bad = intercept[IllegalArgumentException] {
      Curation.curateStaged(corpus(), bench(), "doc_id", "text", "source",
        graft.sources.BucketedSink(4, Seq("text")), wh)
    }
    assert(bad.getMessage.contains("must bucket on"))
  }

  test("semantic arm: a survivor whose embedding sits near a benchmark " +
    "embedding drops after winnow; docs without an embedding row pass " +
    "through untouched") {
    val emb = Seq(
      (102L, Array(1.0f, 0.0f)),  // cos ≈ 0.995 vs the benchmark → drop
      (100L, Array(0.0f, 1.0f))   // cos ≈ 0.1 → keep
      // 105/106 have NO embedding row → pass through
    ).toDF("doc_id", "embedding")
    val benchEmb = Seq((1L, Array(1.0f, 0.1f))).toDF("doc_id", "embedding")
    val out = Curation.curate(corpus(), bench(), "doc_id", "text", "source",
      pplBuckets = 2, dropTailBuckets = 0, capPerSource = 10, numShards = 2,
      semantic = Some(Curation.Semantic(emb, benchEmb, threshold = 0.7)))
    val ids = out.select("doc_id").as[Long].collect().toSet
    // the base fixture's survivors are {100, 102, 105, 106}; the
    // semantic screen removes exactly 102
    assert(ids.size === 3 && ids.contains(100L) && !ids.contains(102L),
      s"semantic screen must drop 102 only: $ids")
  }

  test("a benchmark whose winnow pass throws fails curate with that " +
    "exception, unwrapped, and leaves no graft-curate- thread alive") {
    import scala.jdk.CollectionConverters._
    val boom = udf((s: String) =>
      if (s != null) throw new IllegalStateException("winnow-branch-boom")
      else s)
    val badBench = bench().withColumn("text", boom(col("text")))
    // the branch's own job failure, not an ExecutionException around it
    val e = intercept[org.apache.spark.SparkException] {
      Curation.curate(corpus(), badBench, "doc_id", "text", "source",
        pplBuckets = 2, dropTailBuckets = 0, capPerSource = 10, numShards = 2)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains("winnow-branch-boom"))),
      s"unexpected failure: $e")
    // curate awaits the branch's termination; a worker that has finished
    // its last task still takes a moment to exit
    def alive = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith(Curation.BranchThreadPrefix))
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (alive.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(alive.isEmpty, alive.map(_.getName))
  }

  test("reliable materialization: curate and its provenance match the " +
    "local seam with the decontamination branch checkpointing beside " +
    "the near-dup chain") {
    def run() = (
      Curation.curate(corpus(), bench(), "doc_id", "text", "source",
        pplBuckets = 2, dropTailBuckets = 0, capPerSource = 10, numShards = 2)
        .as[(Long, Long, Long)].collect().toSet,
      Curation.curateProvenance(corpus(), bench(), "doc_id", "text",
        "source", pplBuckets = 2, dropTailBuckets = 0, capPerSource = 10,
        numShards = 2).as[(Long, String)].collect().toSet)
    val local = run()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-cur").toString
    spark.conf.set(graft.Materialize.ModeKey, "reliable")
    spark.conf.set(graft.Materialize.DirKey, dir)
    val reliable =
      try run()
      finally {
        spark.conf.unset(graft.Materialize.ModeKey)
        spark.conf.unset(graft.Materialize.DirKey)
      }
    assert(reliable === local)
    assert(local._2.contains((104L, "contaminated")), local._2)
  }

  test("empty benchmark: decontamination drops nothing") {
    val noBench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = Curation.curate(corpus(), noBench, "doc_id", "text", "source",
      pplBuckets = 2, dropTailBuckets = 0, capPerSource = 10, numShards = 2)
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids.contains(104L), "nothing is contaminated without a benchmark")
    assert(ids === Set(100L, 102L, 104L, 105L, 106L))
  }

  test("dropTailBuckets drops the lowest perplexity band; capPerSource = 1 " +
    "binds every source to one doc") {
    val base = Curation.curate(corpus(), bench(), "doc_id", "text", "source",
      pplBuckets = 2, dropTailBuckets = 0, capPerSource = 10, numShards = 2)
      .count()
    val dropped = Curation.curate(corpus(), bench(), "doc_id", "text",
      "source", pplBuckets = 2, dropTailBuckets = 1, capPerSource = 10,
      numShards = 2).count()
    assert(dropped < base && dropped > 0,
      s"tail drop must shrink the corpus: $base -> $dropped")
    // the short docs score the lower mean logprob (one ln(1/4) bigram
    // over fewer bigrams) → they are the dropped tail band
    val headIds = Curation.curate(corpus(), bench(), "doc_id", "text",
      "source", pplBuckets = 2, dropTailBuckets = 1, capPerSource = 10,
      numShards = 2).select("doc_id").as[Long].collect().toSet
    assert(headIds === Set(105L, 106L), s"expected the long docs: $headIds")
    val capped = Curation.curate(corpus(), bench(), "doc_id", "text",
      "source", pplBuckets = 2, dropTailBuckets = 0, capPerSource = 1,
      numShards = 2)
    val bySource = capped.select("doc_id").as[Long].collect().toSet
    // survivors before the cap: s1 → {100, 102}, s2 → {105, 106};
    // cap 1 keeps exactly one of each (the seeded-md5 rank decides)
    assert(capped.count() === 2)
    assert(bySource.exists(Set(100L, 102L)) && bySource.exists(Set(105L, 106L)))
  }

  test("canonicalize: benchmark contamination hidden by a decomposed-NFC " +
    "byte variant is caught ONLY with the cleanText stage on \u2014 winnow " +
    "fingerprints must see canonical bytes on BOTH sides") {
    // the benchmark carries the COMPOSED form; the corpus doc embeds the
    // DECOMPOSED e+U+0301 form with a doubled space \u2014 byte-different,
    // cleanText-equal (the classic mojibake contamination leak)
    // an accent on EVERY word: composed vs decomposed forms differ every
    // ~8 bytes, so no k+w-1 = 39-byte window is byte-identical between
    // them (a plain-ASCII tail that long would winnow-match regardless
    // and hide what this test pins)
    val spanComposed =
      "\u00e9valuation \u00e1nswer k\u00e9y r\u00e9produced " +
        "\u00e9xactly w\u00edthin tr\u00e1ining t\u00e9xt"
    val spanDecomposed =
      "e\u0301valuation a\u0301nswer ke\u0301y re\u0301produced " +
        "e\u0301xactly  wi\u0301thin tra\u0301ining te\u0301xt"
    val cc = corpus().union(Seq(
      (109L, s"the kilo9 lima9 mike9 november9 oscar9 papa9 quebec9 " +
        s"romeo9 sierra9 $spanDecomposed", "s2"))
      .toDF("doc_id", "text", "source"))
    val b2 = bench().union(Seq((2L, s"the $spanComposed"))
      .toDF("doc_id", "text"))
    val raw = Curation.curate(cc, b2, "doc_id", "text", "source",
        pplBuckets = 2, dropTailBuckets = 0, capPerSource = 10,
        numShards = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(raw.contains(109L),
      s"without canonicalization the byte-variant contamination leaks: $raw")
    val canon = Curation.curate(cc, b2, "doc_id", "text", "source",
        pplBuckets = 2, dropTailBuckets = 0, capPerSource = 10,
        numShards = 2, canonicalize = true)
      .select("doc_id").as[Long].collect().toSet
    assert(!canon.contains(109L),
      s"canonicalized fingerprints must catch 109: $canon")
    // the plain-ASCII contamination (104) is caught either way
    assert(!raw.contains(104L) && !canon.contains(104L))
    // the audit twin reproduces the SAME run it explains: with the flag
    // the leak reads 'contaminated', without it 'kept' — an audit of a
    // canonicalize=true run on raw bytes would contradict the run
    def reasonOf(canonical: Boolean): String =
      Curation.curateProvenance(cc, b2, "doc_id", "text", "source",
          pplBuckets = 2, dropTailBuckets = 0, capPerSource = 10,
          numShards = 2, canonicalize = canonical)
        .where(col("doc_id") === 109L)
        .select("reason").as[String].head()
    assert(reasonOf(canonical = true) === "contaminated")
    assert(reasonOf(canonical = false) === "kept")
  }

  test("classifier gate: a gopher-passing doc scoring under the threshold " +
    "drops at stage 1; provenance tells the two gates apart") {
    // every base-fixture doc starts with 'the'; weighting it negative
    // fails them all, so weight a token unique to 102 instead
    val cf = Curation.Classifier(
      Map("charlie2" -> -10.0), bias = 0.1, threshold = 0.5)
    val out = Curation.curate(corpus(), bench(), "doc_id", "text", "source",
        pplBuckets = 2, dropTailBuckets = 0, capPerSource = 10,
        numShards = 2, classifier = Some(cf))
      .select("doc_id").as[Long].collect().toSet
    assert(!out.contains(102L) && out.contains(100L),
      s"the classifier must drop 102 only: $out")
    val m = Curation.curateProvenance(corpus(), bench(), "doc_id", "text",
        "source", pplBuckets = 2, dropTailBuckets = 0, capPerSource = 10,
        numShards = 2, classifier = Some(cf))
      .select("doc_id", "reason").as[(Long, String)].collect().toMap
    assert(m(102L) === "classifier" && m(103L) === "quality",
      s"gate reasons must split: $m")
    assert(m.size === 7, "still one row per corpus doc")
  }

  test("curateProvenance: one row per corpus doc, first-drop reason per " +
    "planted stage, kept arm equals curate's survivor set") {
    def reasons(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.select("doc_id", "reason").as[(Long, String)].collect().toMap
    val m = reasons(Curation.curateProvenance(corpus(), bench(), "doc_id",
      "text", "source", pplBuckets = 2, dropTailBuckets = 0,
      capPerSource = 10, numShards = 2))
    assert(m.size === 7, s"one row per corpus doc: $m")
    assert(m(103L) === "quality")
    assert(m(101L) === "exact_dup")
    assert(m(104L) === "contaminated")
    assert(Seq(100L, 102L, 105L, 106L).forall(m(_) == "kept"), m.toString)
    val kept = Curation.curate(corpus(), bench(), "doc_id", "text", "source",
        pplBuckets = 2, dropTailBuckets = 0, capPerSource = 10, numShards = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(m.collect { case (id, "kept") => id }.toSet === kept,
      "the kept arm IS curate's output id set")
  }

  test("curateProvenance: ppl_tail / capped / semantic / near_dup arms " +
    "fire under the knobs that enable their stages") {
    def reasons(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.select("doc_id", "reason").as[(Long, String)].collect().toMap
    // dropTailBuckets = 1 → the short docs' band drops; capPerSource = 1
    // → one survivor per source (fixture analysis in the knob test above)
    val m = reasons(Curation.curateProvenance(corpus(), bench(), "doc_id",
      "text", "source", pplBuckets = 2, dropTailBuckets = 1,
      capPerSource = 1, numShards = 2))
    assert(m(100L) === "ppl_tail" && m(102L) === "ppl_tail", m.toString)
    assert(Seq(105L, 106L).map(m).sorted === Seq("capped", "kept"),
      s"cap 1 keeps exactly one of the two long s2 docs: $m")
    // semantic arm: the embedding fixture that drops 102 in the curate
    // semantic test labels it 'semantic' here (winnow ran first — 104
    // stays 'contaminated', the FIRST-stage precedence)
    val emb = Seq((102L, Array(1.0f, 0.0f)), (100L, Array(0.0f, 1.0f)))
      .toDF("doc_id", "embedding")
    val benchEmb = Seq((1L, Array(1.0f, 0.1f))).toDF("doc_id", "embedding")
    val ms = reasons(Curation.curateProvenance(corpus(), bench(), "doc_id",
      "text", "source", pplBuckets = 2, dropTailBuckets = 0,
      capPerSource = 10, numShards = 2,
      semantic = Some(Curation.Semantic(emb, benchEmb, threshold = 0.7))))
    assert(ms(102L) === "semantic" && ms(104L) === "contaminated", ms.toString)
    // near_dup arm: append one token to a copy — every minhash band
    // collides (the extra shingles don't displace any per-seed minimum),
    // so the pair clusters and keep-best drops exactly one of the two
    val nd = corpus().union(Seq(
      (107L, docLong(7), "s3"),
      (108L, docLong(7) + " papa7", "s3")).toDF("doc_id", "text", "source"))
    val mn = reasons(Curation.curateProvenance(nd, bench(), "doc_id",
      "text", "source", pplBuckets = 2, dropTailBuckets = 0,
      capPerSource = 10, numShards = 2))
    assert(Seq(107L, 108L).map(mn).sorted === Seq("kept", "near_dup"),
      s"one of the planted near-dups must drop: $mn")
  }
}
