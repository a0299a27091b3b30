package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.ops.Curation

/** The seeded document corpus of `curation`: base documents plus planted
  * exact-duplicate groups, near duplicates, documents quoting a benchmark
  * document verbatim, and documents the quality gate rejects.
  */
final class CurationModel(seed: Long) {
  final case class Doc(id: Long, text: String, source: String)

  private val r = new SplittableRandom(seed * 0x2545F4914F6CDD1DL + 5)
  private val vocab: IndexedSeq[String] = (0 until 3000).map(_ =>
    (0 until r.nextInt(3, 10)).map(_ => ('a' + r.nextInt(26)).toChar).mkString)
  private val stops = IndexedSeq("the", "and", "of", "to", "a")
  private def words(n: Int): IndexedSeq[String] = (0 until n).map { _ =>
    if (r.nextInt(8) == 0) stops(r.nextInt(stops.size))
    else { val u = r.nextDouble(); vocab((u * u * vocab.size).toInt) }
  }
  private def source(): String = {
    val u = r.nextDouble(); f"src${(u * u * 40).toInt}%02d"
  }

  val benchmark: IndexedSeq[Doc] =
    (0 until 50).map(i => Doc(1000000L + i, words(r.nextInt(80, 140)).mkString(" "), "bench"))

  private val texts = mutable.ArrayBuffer.empty[(String, String)]
  /** Indices into `texts` of each planted exact-duplicate group. */
  val exactGroups = mutable.ArrayBuffer.empty[Seq[Int]]
  private val contaminatedIdx = mutable.ArrayBuffer.empty[Int]
  val nearDuplicates = 150

  {
    val base = 1000
    for (_ <- 0 until base) texts += (words(r.nextInt(15, 75)).mkString(" ") -> source())
    for (_ <- 0 until 150) {
      val b = r.nextInt(base)
      val copies = (0 until r.nextInt(1, 4)).map { _ =>
        texts += (texts(b)._1 -> source()); texts.size - 1
      }
      exactGroups += (b +: copies)
    }
    // near duplicates: a base text with about 3% of its words replaced
    for (_ <- 0 until nearDuplicates) {
      val w = texts(r.nextInt(base))._1.split(" ")
      texts += (w.map(x => if (r.nextInt(33) == 0) vocab(r.nextInt(vocab.size)) else x)
        .mkString(" ") -> source())
    }
    // contaminated: a 50-word verbatim span of a benchmark document inside
    // otherwise fresh text (far longer than the winnowing window)
    for (_ <- 0 until 60) {
      val bw = benchmark(r.nextInt(benchmark.size)).text.split(" ")
      val at = r.nextInt(bw.length - 50)
      val span = bw.slice(at, at + 50).mkString(" ")
      texts += (Seq(words(r.nextInt(10, 60)).mkString(" "), span,
        words(r.nextInt(10, 60)).mkString(" ")).mkString(" ") -> source())
      contaminatedIdx += texts.size - 1
    }
    // rejected by the quality gate: too short, or mostly numeric tokens
    for (i <- 0 until 100) texts += ((
      if (i % 2 == 0) words(r.nextInt(2, 9)).mkString(" ")
      else (0 until 40).map(_ => r.nextInt(100000).toString).mkString(" ") + " the")
      -> source())
  }

  /** Document ids are a seeded permutation, so planted kinds interleave. */
  private val ids: Array[Long] = {
    val a = Array.tabulate(texts.size)(_.toLong)
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  val docs: IndexedSeq[Doc] = texts.indices.map(i => Doc(ids(i), texts(i)._1, texts(i)._2))
  val exactGroupIds: Seq[Set[Long]] = exactGroups.toSeq.map(_.map(ids(_)).toSet)
  val contaminatedIds: Set[Long] = contaminatedIdx.map(ids(_)).toSet
  val contaminated: Int = contaminatedIds.size

  /** The documented Gopher quality rule of `Curation.curate`'s first
    * stage, on whitespace tokens: 10..1000 words, mean word length
    * 2..12, at least 70% of words with a letter, at least one stop word.
    */
  def passesGate(text: String): Boolean = {
    val ts = text.split("\\s+").filter(_.nonEmpty)
    val n = ts.length
    n >= 10 && n <= 1000 && {
      val mean = BigDecimal(ts.map(_.length).sum.toDouble / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val alpha = BigDecimal(ts.count(_.exists(c => c.isLetter && c < 128)).toDouble / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      mean >= 2.0 && mean <= 12.0 && alpha >= 0.7 &&
      ts.exists(t => stops.contains(t.toLowerCase))
    }
  }
  val gated: IndexedSeq[Doc] = docs.filter(d => passesGate(d.text))
}

/** `curation`: `Curation.curate` over the seeded corpus, output collected. */
final class CurationWorkload(seed: Long, root: Path) extends Workload {
  val capPerSource = 150
  val numShards = 8
  private val dir = root.resolve(s"inputs/curation-v5-seed$seed")
  private lazy val model = new CurationModel(seed)
  private var corpus: DataFrame = _
  private var benchmark: DataFrame = _
  override def observes: Boolean = true

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("source", StringType)))

  def prepare(spark: SparkSession): Unit = {
    model // built here, outside set-up, even when the inputs are cached
    if (Files.exists(dir.resolve("_DONE"))) return
    def write(docs: Seq[model.Doc], name: String): Unit =
      spark.createDataFrame(java.util.Arrays.asList(
          docs.map(d => Row(d.id, d.text, d.source)): _*), schema)
        .repartition(4).write.mode("overwrite").parquet(dir.resolve(name).toString)
    write(model.docs, "corpus")
    write(model.benchmark, "benchmark")
    Files.createFile(dir.resolve("_DONE"))
  }

  def register(spark: SparkSession): Unit = {
    corpus = spark.read.parquet(dir.resolve("corpus").toString)
    benchmark = spark.read.parquet(dir.resolve("benchmark").toString)
  }

  def iteration(spark: SparkSession, tracer: Option[Tracer]): AnyRef = {
    def span[T](n: String)(b: => T): T = tracer.fold(b)(_.span(n)(b))
    val out = span("curation.curate")(Curation.curate(corpus, benchmark,
      "doc_id", "text", "source", capPerSource = capPerSource,
      numShards = numShards))
    span("curation.output")(out.collect()).toSeq
  }

  def check(spark: SparkSession, result: AnyRef, observed: Seq[(String, Long)],
      iterStartMs: Long): Seq[String] = {
    val m = model
    val rows = result.asInstanceOf[Seq[Row]]
    val errors = mutable.ArrayBuffer.empty[String]
    def expect(cond: Boolean, msg: => String): Unit = if (!cond) errors += msg
    val byId = m.docs.map(d => d.id -> d).toMap
    val ids = rows.map(_.getAs[Long]("doc_id"))
    expect(ids.distinct.size == ids.size, "an output id appears twice")
    expect(ids.forall(byId.contains), "an output id is not a corpus id")
    val kept = ids.flatMap(byId.get)
    val md5 = kept.map(d => java.security.MessageDigest.getInstance("MD5")
      .digest(d.text.getBytes("UTF-8")).toSeq)
    expect(md5.distinct.size == md5.size, "two outputs have equal text")
    val keptSet = ids.toSet
    m.exactGroupIds.foreach(g => expect(g.count(keptSet) <= 1,
      s"exact-duplicate group ${g.toSeq.sorted} keeps ${g.count(keptSet)}"))
    expect(!m.contaminatedIds.exists(keptSet),
      s"contaminated docs kept: ${m.contaminatedIds.filter(keptSet)}")
    kept.groupBy(_.source).foreach { case (s, ds) =>
      expect(ds.size <= capPerSource, s"source $s keeps ${ds.size} > $capPerSource")
    }
    val sp = rows.map(r => (r.getAs[Any]("shard").toString.toLong, r.getAs[Any]("pos").toString.toLong))
    expect(sp.distinct.size == sp.size, "(shard, pos) pairs repeat")
    expect(sp.forall(p => p._1 >= 0 && p._1 < numShards), "a shard is out of range")
    // the observed funnel never grows and ends at the output count
    val stages = Seq("kept", "exact", "deduped", "clean", "head", "final")
    val funnel = stages.map(s => observed.filter(_._1 == s"curation_$s").map(_._2))
    expect(funnel.forall(_.size == 1), s"observed funnel ${stages.zip(funnel)}")
    if (funnel.forall(_.size == 1)) {
      val n = funnel.map(_.head)
      expect(n.zip(n.tail).forall { case (a, b) => b <= a }, s"funnel grows: ${stages.zip(n)}")
      expect(n.last == ids.size, s"funnel ends at ${n.last}, output has ${ids.size}")
      // lower bounds, so that a stage dropping documents it should keep
      // fails too: the gate and exact dedup are exact; near dedup and
      // decontamination remove at most twice what was planted; the
      // perplexity band drops the lowest of ten bands; the cap drops at
      // most each source's gate survivors beyond the cap
      val Seq(kept, exact, deduped, clean, head, last) = n
      val wantKept = m.gated.size.toLong
      val wantExact = m.gated.map(_.text).distinct.size.toLong
      val capExcess = m.gated.groupBy(_.source).values
        .map(ds => math.max(0, ds.size - capPerSource)).sum
      System.err.println(s"[perfbench] curation funnel ${stages.zip(n)}; " +
        s"gate $wantKept, distinct $wantExact, cap excess $capExcess")
      expect(kept == wantKept, s"gate kept $kept, want $wantKept")
      expect(exact == wantExact, s"exact dedup kept $exact, want $wantExact")
      expect(deduped >= exact - 2 * m.nearDuplicates,
        s"near dedup dropped ${exact - deduped} of $exact")
      expect(clean >= deduped - 2 * m.contaminated,
        s"decontamination dropped ${deduped - clean} of $deduped")
      expect(head >= clean * 8 / 10, s"perplexity band kept $head of $clean")
      expect(last >= head - capExcess, s"cap kept $last of $head")
    }
    expect(ids.nonEmpty, "empty output")
    errors.toSeq
  }
}
