package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-level BPE merge-table TRAINING — the component that produces
  * the `merges.txt` the existing `bpe_encode` expression consumes
  * (Sennrich et al. 2016 "Neural Machine Translation of Rare Words
  * with Subword Units" algorithm over the GPT-2 byte alphabet /
  * pre-tokenizer; Radford et al. 2019 §2.2).
  *
  * Structure mirrors the k-means trainer's scale split
  * ([[Similarity]]): the CORPUS-SIZED work is exactly one pass — the
  * `bpe_pretokenize`-explode word-count aggregation (map-side partial
  * agg, one shuffle keyed on the pre-token) — and everything after
  * operates on the bounded word-frequency table (distinct pre-tokens:
  * ~10⁶–10⁷ for web corpora, a model artifact, NOT corpus-sized).
  * Merge learning then runs in one of two arms:
  *
  *  - [[trainFromWordCounts]] (driver arm, the production default the
  *    way `kmeansFit` pulls ⌈√n⌉ centroids): the word-count table
  *    collects (bounded, weighted) and the greedy loop runs in-process
  *    with O(1) pair-count maintenance per merge — the shape every
  *    published trainer (subword-nmt, HuggingFace tokenizers) uses.
  *  - [[trainDistributed]] (cluster arm for when the vocab table is
  *    genuinely too big to collect): each round is ONE groupBy over
  *    adjacent symbol pairs of the words table + a single-row argmax
  *    collect + a map-side fold applying the winning merge. Cost is
  *    rounds × (pair-shuffle of Σ|word| rows over |V| words) — linear
  *    per round, never corpus-sized after round 0; lineage is cut
  *    through [[graft.Materialize.checkpoint]] every
  *    `checkpointEvery` rounds.
  *
  * Both arms implement the IDENTICAL selection rule — highest pair
  * frequency, ties broken by the lexicographically SMALLEST
  * `"left right"` pair string, stop when the best frequency drops
  * below `minPairFreq` — and are spec-pinned equal to each other and
  * byte-identical to the independent Python trainer
  * (tools/bpe_reference.py `train()`). Symbols never contain a raw
  * space (the byte alphabet maps 0x20 to `Ġ`), so the space-joined
  * pair string is unambiguous and is exactly the merges.txt line.
  */
object BpeTrain {

  /** One corpus pass: distinct pre-token → occurrence count.
    * `(word, freq)` with freq ≥ 1; the bounded table every merge round
    * runs on.
    */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(call_function("bpe_pretokenize", col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Driver-arm trainer: full pipeline. Collects [[wordCounts]] —
    * guarded by `maxVocab` so an unexpectedly huge vocab fails loudly
    * instead of OOMing the driver (raise it, sample the corpus, or use
    * [[trainDistributed]]).
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
      minPairFreq: Long = 2L, maxVocab: Int = 10_000_000): Seq[String] = {
    val wc = wordCounts(docs, textCol)
      .limit(maxVocab + 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(wc.length <= maxVocab,
      s"bpe train: >$maxVocab distinct pre-tokens — raise maxVocab, " +
        "sample the corpus, or use trainDistributed")
    trainFromWordCounts(wc.toSeq, numMerges, minPairFreq)
  }

  /** Greedy merge learning over a word-frequency table, in-process.
    * Deterministic: input order does not matter (counts are summed into
    * a map; the argmax scans with the tie-break rule).
    */
  def trainFromWordCounts(wordFreqs: Seq[(String, Long)], numMerges: Int,
      minPairFreq: Long = 2L): Seq[String] = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(minPairFreq >= 1, s"minPairFreq must be >= 1, got $minPairFreq")
    // words as mutable symbol arrays; freq per word
    var words: Array[(Array[String], Long)] = wordFreqs.iterator
      .filter { case (w, f) => w != null && w.nonEmpty && f > 0 }
      .map { case (w, f) => (w.toCharArray.map(String.valueOf), f) }
      .toArray
    val merges = Seq.newBuilder[String]
    var round = 0
    var done = false
    while (round < numMerges && !done) {
      // pair counts for this round (rebuilt per round: simple and
      // correct; the incremental-maintenance optimization matters for
      // 50k-merge production vocabs, not for correctness — and this
      // loop is O(rounds × Σ|word|), the same as the distributed arm)
      val counts = new java.util.HashMap[String, Long]()
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = syms(i) + " " + syms(i + 1)
          counts.merge(k, f, (a, b) => a + b)
          i += 1
        }
      }
      var bestPair: String = null
      var bestCnt = 0L
      counts.forEach { (k, v) =>
        if (v > bestCnt || (v == bestCnt && bestPair != null && k < bestPair)) {
          bestCnt = v; bestPair = k
        }
      }
      if (bestPair == null || bestCnt < minPairFreq) done = true
      else {
        merges += bestPair
        val sp = bestPair.indexOf(' ')
        val a = bestPair.substring(0, sp)
        val b = bestPair.substring(sp + 1)
        val ab = a + b
        words = words.map { case (syms, f) =>
          if (!containsPair(syms, a, b)) (syms, f)
          else (applyMerge(syms, a, b, ab), f)
        }
        round += 1
      }
    }
    merges.result()
  }

  private def containsPair(syms: Array[String], a: String, b: String): Boolean = {
    var i = 0
    while (i < syms.length - 1) {
      if (syms(i) == a && syms(i + 1) == b) return true
      i += 1
    }
    false
  }

  /** Left-to-right single pass fusing every non-overlapping (a,b) —
    * the published algorithm's replacement rule (the same loop
    * `BpeEncode.encode` applies at encode time).
    */
  private[ops] def applyMerge(
      syms: Array[String], a: String, b: String, ab: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
        out += ab; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Cluster-arm trainer: merge rounds as Spark jobs over the words
    * table, for vocabularies too large to collect. Each round:
    * adjacent-pair explode → hash agg (map-side partial) → single-row
    * ordered collect (the argmax — bounded, like a centroid pull) →
    * one map-side fold applying the merge. The corpus is touched only
    * by [[wordCounts]]; every round's shuffle is |pairs| ≤ Σ|word|
    * rows over the VOCAB table.
    */
  def trainDistributed(docs: DataFrame, textCol: String, numMerges: Int,
      minPairFreq: Long = 2L, checkpointEvery: Int = 8): Seq[String] = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(minPairFreq >= 1, s"minPairFreq must be >= 1, got $minPairFreq")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1, got $checkpointEvery")
    val spark = docs.sparkSession
    import spark.implicits._
    var words = wordCounts(docs, textCol)
      .select(filter(split(col("word"), ""), s => s =!= "").as("syms"),
        col("freq"))
      .cache()
    words.count() // materialize round 0 once; later rounds re-derive
    val merges = Seq.newBuilder[String]
    var round = 0
    var done = false
    while (round < numMerges && !done) {
      val best = words
        .where(size(col("syms")) >= 2)
        .select(explode(Text.shinglesOfTokens(col("syms"), 2)).as("pair"),
          col("freq"))
        .groupBy("pair").agg(sum("freq").as("cnt"))
        .where(col("cnt") >= minPairFreq)
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1)
        .as[(String, Long)].collect()
      if (best.isEmpty) done = true
      else {
        val pair = best.head._1
        merges += pair
        val sp = pair.indexOf(' ')
        val a = pair.substring(0, sp)
        val b = pair.substring(sp + 1)
        val prev = words
        val next0 = prev.select(mergeFold(col("syms"), a, b).as("syms"),
          col("freq"))
        val next =
          (if ((round + 1) % checkpointEvery == 0)
            graft.Materialize.checkpoint(next0)
          else next0).cache()
        next.count()
        prev.unpersist()
        words = next
        round += 1
      }
    }
    words.unpersist()
    merges.result()
  }

  /** Catalyst fold applying one merge to a symbol array: look-behind
    * accumulator — if the last emitted symbol is `a` and the incoming
    * one is `b`, replace the tail with `a+b`. Equivalent to the
    * left-to-right pass because a merged output `a+b` can never equal
    * `a` (symbols are non-empty, so `a+b` is strictly longer than `a`)
    * — the look-behind can never re-fire on its own output.
    */
  private[ops] def mergeFold(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) =>
        when(size(acc) > 0 && try_element_at(acc, lit(-1)) === lit(a)
            && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(s))))
}
