package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** Registers graft's native Catalyst expressions through the public
  * extension hook:
  *
  * {{{
  * val spark = graft.GraftSession("local[4]", 4) // installs this extension
  * // or: --conf spark.sql.extensions=graft.functions.GraftExtensions
  * spark.sql("SELECT rolling_hash(text, 8) FROM docs")
  * }}}
  *
  * DEPENDENCY NOTE for library consumers: the ops-layer entry points that
  * delegate to these expressions (`Dedup.minhashSignature`, `.simhash16`,
  * `simhash64`, `Similarity.dot` and everything built on them) resolve the
  * functions BY NAME via `call_function`, so a session created without this
  * extension fails analysis with UNRESOLVED_ROUTINE. Either build the
  * session `withExtensions(new GraftExtensions)` / set
  * `spark.sql.extensions=graft.functions.GraftExtensions`, or call
  * [[GraftExtensions.register]] on an already-built session (idempotent).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** Retrofit the graft functions onto an EXISTING session that was built
    * without the extension (e.g. a shared notebook session). Idempotent:
    * already-registered names are left untouched.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, builder) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
  }

  private[functions] val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (
      new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (args: Seq[Expression]) => args match {
        case Seq(text, Literal(w: Int, IntegerType)) => RollingHash(text, w)
        case _ => throw new IllegalArgumentException(
          "rolling_hash(text, window): window must be an integer literal")
      }),
    (
      new FunctionIdentifier("winnow_fp"),
      new ExpressionInfo(classOf[WinnowFp].getName, "winnow_fp"),
      (args: Seq[Expression]) => args match {
        case Seq(text, Literal(k: Int, IntegerType), Literal(w: Int, IntegerType)) =>
          WinnowFp(text, k, w)
        case _ => throw new IllegalArgumentException(
          "winnow_fp(text, k, w): k and w must be integer literals")
      }),
    (
      new FunctionIdentifier("ws_tokens"),
      new ExpressionInfo(classOf[WsTokens].getName, "ws_tokens"),
      (args: Seq[Expression]) => args match {
        case Seq(text) => WsTokens(text)
        case _ => throw new IllegalArgumentException(
          "ws_tokens(text): exactly one string argument")
      }),
    (
      new FunctionIdentifier("token_shingles"),
      new ExpressionInfo(classOf[TokenShingles].getName, "token_shingles"),
      (args: Seq[Expression]) => args match {
        case Seq(ts, Literal(n: Int, IntegerType)) => TokenShingles(ts, n)
        case _ => throw new IllegalArgumentException(
          "token_shingles(tokens, n): n must be an integer literal")
      }),
    (
      new FunctionIdentifier("classifier_score"),
      new ExpressionInfo(classOf[ClassifierScore].getName, "classifier_score"),
      (args: Seq[Expression]) => args match {
        case Seq(ts, wm, b) => ClassifierScore(ts, wm, b)
        case _ => throw new IllegalArgumentException(
          "classifier_score(tokens, weights, bias): weights must be a " +
            "foldable map<string,double>, bias a foldable double")
      }),
    (
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (args: Seq[Expression]) => args match {
        case Seq(text) => NfcNormalize(text)
        case _ => throw new IllegalArgumentException(
          "nfc_normalize(text): exactly one string argument")
      }),
    (
      new FunctionIdentifier("simhash16"),
      new ExpressionInfo(classOf[SimHash16].getName, "simhash16"),
      (args: Seq[Expression]) => args match {
        case Seq(arr) => SimHash16(arr)
        case _ => throw new IllegalArgumentException(
          "simhash16(tokens): exactly one array<string> argument")
      }),
    (
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => args match {
        case Seq(arr) => SimHash64(arr)
        case _ => throw new IllegalArgumentException(
          "simhash64(tokens): exactly one array<string> argument")
      }),
    (
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) => args match {
        case Seq(arr, Literal(n: Int, IntegerType)) => MinHashSig(arr, n)
        case _ => throw new IllegalArgumentException(
          "minhash_sig(shingles, numHashes): numHashes must be an integer literal")
      }),
    (
      new FunctionIdentifier("srp_bucket"),
      new ExpressionInfo(classOf[VecSrpBucket].getName, "srp_bucket"),
      (args: Seq[Expression]) => args match {
        case Seq(v, Literal(fp: Int, IntegerType), Literal(np: Int, IntegerType)) =>
          VecSrpBucket(v, fp, np)
        case _ => throw new IllegalArgumentException(
          "srp_bucket(vec, firstPlane, numPlanes): plane args must be " +
            "integer literals")
      }),
    (
      new FunctionIdentifier("vec_argmax_cell"),
      new ExpressionInfo(classOf[VecArgmaxCell].getName, "vec_argmax_cell"),
      (args: Seq[Expression]) => args match {
        case Seq(v, m) => VecArgmaxCell(v, m)
        case _ => throw new IllegalArgumentException(
          "vec_argmax_cell(vec, centsMatrix): exactly two arguments, " +
            "centsMatrix a foldable array<array<double>>")
      }),
    (
      new FunctionIdentifier("vec_argmin_l2"),
      new ExpressionInfo(classOf[VecArgminL2].getName, "vec_argmin_l2"),
      (args: Seq[Expression]) => args match {
        case Seq(v, m) => VecArgminL2(v, m)
        case _ => throw new IllegalArgumentException(
          "vec_argmin_l2(vec, codebook): exactly two arguments, " +
            "codebook a foldable array<array<double>>")
      }),
    (
      new FunctionIdentifier("bpe_encode"),
      new ExpressionInfo(classOf[BpeEncode].getName, "bpe_encode"),
      (args: Seq[Expression]) => args match {
        case Seq(text, merges) => BpeEncode(text, merges)
        case _ => throw new IllegalArgumentException(
          "bpe_encode(text, merges): merges must be a foldable " +
            "array<string> of 'left right' merge lines")
      }),
    (
      new FunctionIdentifier("bpe_pretokenize"),
      new ExpressionInfo(classOf[BpePretokenize].getName, "bpe_pretokenize"),
      (args: Seq[Expression]) => args match {
        case Seq(text) => BpePretokenize(text)
        case _ => throw new IllegalArgumentException(
          "bpe_pretokenize(text): exactly one string argument")
      }),
    (
      new FunctionIdentifier("vec_sub_at"),
      new ExpressionInfo(classOf[VecSubAt].getName, "vec_sub_at"),
      (args: Seq[Expression]) => args match {
        case Seq(v, m, i) => VecSubAt(v, m, i)
        case _ => throw new IllegalArgumentException(
          "vec_sub_at(vec, mat, idx): exactly three arguments, " +
            "mat a foldable array<array<double>>")
      }),
    (
      new FunctionIdentifier("vec_top_cells"),
      new ExpressionInfo(classOf[VecTopCells].getName, "vec_top_cells"),
      (args: Seq[Expression]) => args match {
        case Seq(v, m, Literal(p: Int, IntegerType)) => VecTopCells(v, m, p)
        case _ => throw new IllegalArgumentException(
          "vec_top_cells(vec, centsMatrix, p): p must be an integer " +
            "literal, centsMatrix a foldable array<array<double>>")
      }),
    (
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => VecDot(a, b)
        case _ => throw new IllegalArgumentException(
          "vec_dot(a, b): exactly two array arguments")
      }),
    (
      new FunctionIdentifier("vec_hamming"),
      new ExpressionInfo(classOf[VecHamming].getName, "vec_hamming"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => VecHamming(a, b)
        case _ => throw new IllegalArgumentException(
          "vec_hamming(a, b): exactly two array<bigint> arguments")
      }),
    // Spark ships BloomFilterAggregate/BloomFilterMightContain as INTERNAL
    // expressions (only the InjectRuntimeFilter rule uses them; they are
    // not in the public FunctionRegistry). graft's bloom-prefiltered join
    // (ops.Joins.bloomPrefilterJoin) builds the same sketch explicitly, so
    // expose them under graft names through the extension hook — public
    // classes, public injection API, no Spark-private access.
    (
      new FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_filter_agg"),
      (args: Seq[Expression]) => args match {
        case Seq(child, items, bits) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate(child, items, bits)
        case _ => throw new IllegalArgumentException(
          "bloom_filter_agg(xxhash64(key), estimatedItems, numBits)")
      }),
    (
      new FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      (args: Seq[Expression]) => args match {
        case Seq(bf, value) =>
          org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(bf, value)
        case _ => throw new IllegalArgumentException(
          "might_contain(bloomFilter, xxhash64(key))")
      }),
    // plan-compact constant carrier for model artifacts (centroid
    // matrices, PQ codebooks, id decode arrays) — same value semantics as
    // the Literal argument, O(1) plan rendering/hashing (see ModelConst)
    (
      new FunctionIdentifier("model_const"),
      new ExpressionInfo(classOf[ModelConst].getName, "model_const"),
      (args: Seq[Expression]) => args match {
        case Seq(l: Literal) => ModelConst.fromLiteral(l)
        case _ => throw new IllegalArgumentException(
          "model_const(value): value must be a non-null literal " +
            "(build it with typedlit)")
      }))
}
