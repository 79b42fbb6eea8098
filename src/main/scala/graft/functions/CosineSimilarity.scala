package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst cosine-similarity expression (SURVEY.md §2.G).
  *
  * One fused loop computes dot, ||a||², ||b||² in a single pass over the two
  * arrays — no intermediate arrays, no lambda-function call overhead — and
  * `doGenCode` keeps it inside WholeStageCodegen. Accumulation order is
  * sequential left-to-right, matching [[VectorOps.cosine]] bit-for-bit.
  *
  * Semantics: both inputs must be array<double>, enforced at ANALYSIS time
  * via checkInputDataTypes (the builders in [[GraftFunctions]] insert a
  * widening Cast for float arrays — exact). Mismatched lengths fold over
  * the common prefix (zip semantics); a zero-norm input yields NaN (0/0),
  * the IEEE answer for an undefined angle — filter zero vectors upstream
  * if another policy is needed.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, array<double>) inputs, got ($l, $r)")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $a.getDouble($i); double $yv = $b.getDouble($i);
         |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** SQL registration for graft's native expressions. */
object GraftFunctions {
  val cosineSimBuilder: Seq[Expression] => Expression = exprs =>
    CosineSimilarity(
      Cast(exprs.head, ArrayType(DoubleType)),
      Cast(exprs(1), ArrayType(DoubleType)))

  val dotProductBuilder: Seq[Expression] => Expression = exprs =>
    ArrayDotProduct(
      Cast(exprs.head, ArrayType(DoubleType)),
      Cast(exprs(1), ArrayType(DoubleType)))

  val simHash64Builder: Seq[Expression] => Expression = exprs => SimHash64(exprs.head)

  /** minhash_sig(hashes, k): k must be a foldable int literal — it sizes
    * the signature buffer at plan time. */
  val minHashSigBuilder: Seq[Expression] => Expression = exprs =>
    MinHashSignature(exprs.head, exprs(1).eval() match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"minhash_sig k must be an integer literal, got $other")
    })

  val md5Hash64Builder: Seq[Expression] => Expression = exprs => Md5Hash64Array(exprs.head)

  /** bloom_filter_agg(xxhash64(key)[, estimatedItems[, numBits]]) —
    * Spark's own runtime-filter sketch aggregate
    * (catalyst BloomFilterAggregate), surfaced as a SQL function so a
    * scalar subquery can build a corpus bloom filter IN-PLAN (partial
    * per-partition blooms OR-merged map-side — one pass, no shuffle of
    * the keyed data). The analyzer wraps the bare AggregateFunction. */
  val bloomAggBuilder: Seq[Expression] => Expression = {
    case Seq(c) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
    case Seq(c, n) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        c, n, org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(
            n.eval().asInstanceOf[Number].longValue(), 0.03)))
    case Seq(c, n, m) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n, m)
    case other => throw new IllegalArgumentException(
      s"bloom_filter_agg takes 1-3 arguments, got ${other.size}")
  }

  /** bloom_might_contain(bloomScalarSubquery, xxhash64(key)) — codegen'd
    * probe (catalyst BloomFilterMightContain); the bloom side must be a
    * scalar subquery or constant, enforced by its own type check. */
  val bloomMightContainBuilder: Seq[Expression] => Expression = exprs =>
    org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      exprs.head, exprs(1))

  /** sign_buckets(vec, planes): planes must be a foldable
    * array<array<array<double>>> literal — it is plan-time quantizer
    * state, embedded in the expression as a reference object. */
  val signBucketsBuilder: Seq[Expression] => Expression = exprs => {
    def bad(msg: String) = throw new IllegalArgumentException(s"sign_buckets: $msg")
    val cast = Cast(exprs(1), ArrayType(ArrayType(ArrayType(DoubleType))))
    if (!cast.foldable)
      bad("planes must be a FOLDABLE array<array<array<double>>> literal " +
        "(plan-time quantizer state), got a non-foldable expression")
    // a NULL literal (or null nested table/plane/component) would
    // otherwise surface as a raw MatchError from the extractor
    val planes = cast.eval() match {
      case null => bad("planes literal must not be NULL"); Nil
      case ad: ArrayData => ad.toObjectArray(ArrayType(ArrayType(DoubleType))).toSeq.map {
        case t: ArrayData => t.toObjectArray(ArrayType(DoubleType)).toSeq.map {
          case p: ArrayData =>
            val arr = p.toObjectArray(DoubleType)
            if (arr.contains(null)) bad("plane components must not be NULL")
            arr.toSeq.map(_.asInstanceOf[Double])
          case _ => bad("planes contains a NULL plane"); Nil
        }
        case _ => bad("planes contains a NULL table"); Nil
      }
      case other => bad(s"planes must be a nested array literal, got $other"); Nil
    }
    SignBuckets(Cast(exprs.head, ArrayType(DoubleType)), planes)
  }

  /** Plan-time int-literal extractor for kernels whose buffer sizes are
    * expression state (minhash k, adc cells, shingle n). */
  private def intLit(name: String, e: Expression): Int = e.eval() match {
    case n: Number => n.intValue()
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  val wsTokenizeBuilder: Seq[Expression] => Expression = exprs => WsTokenizeExpr(exprs.head)

  val wsTokenCountBuilder: Seq[Expression] => Expression = exprs => WsTokenCountExpr(exprs.head)

  /** stopword_hits(tokens, array('the','a',…)): the word set is plan-time
    * expression state, so the second argument must fold to an
    * array<string> literal. */
  val stopwordHitsBuilder: Seq[Expression] => Expression = exprs => {
    val cast = Cast(exprs(1), ArrayType(org.apache.spark.sql.types.StringType))
    if (!cast.foldable) throw new IllegalArgumentException(
      "stopword_hits words must be a foldable array<string> literal (plan-time state)")
    val words = cast.eval() match {
      case null => throw new IllegalArgumentException("stopword_hits: words must not be NULL")
      case ad: ArrayData => ad.toObjectArray(org.apache.spark.sql.types.StringType).toSeq.map {
        case null => throw new IllegalArgumentException("stopword_hits: a word is NULL")
        case u => u.toString
      }
    }
    StopwordHits(exprs.head, words)
  }

  val shingleHash64Builder: Seq[Expression] => Expression = exprs =>
    ShingleHash64(exprs.head, intLit("shingle_hash64 n", exprs(1)))

  val adcLookupBuilder: Seq[Expression] => Expression = exprs =>
    AdcLookup(exprs.head, exprs(1), intLit("adc_lookup cells", exprs(2)))

  val randProject8Builder: Seq[Expression] => Expression = exprs =>
    RandProject8(Cast(exprs.head, ArrayType(DoubleType)))

  val rollingHashFpBuilder: Seq[Expression] => Expression = exprs =>
    RollingHashFp(exprs.head)

  val sortedIntersectCountBuilder: Seq[Expression] => Expression = exprs =>
    SortedIntersectCount(exprs.head, exprs(1))

  /** int_pow_root(x, p, q): floor(x^(p/q)) exact; p and q are plan-time
    * integer literals. */
  val intPowRootBuilder: Seq[Expression] => Expression = exprs =>
    IntegerPowRoot(exprs.head,
      intLit("int_pow_root p", exprs(1)), intLit("int_pow_root q", exprs(2)))

  /** Name → builder for every graft kernel: the table
    * [[graft.GraftExtensions]] injects into every graft session, so each
    * native expression is SQL-callable under the name listed here. */
  val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity].getName, cosineSimBuilder),
    ("dot_product", classOf[ArrayDotProduct].getName, dotProductBuilder),
    ("simhash64", classOf[SimHash64].getName, simHash64Builder),
    ("minhash_sig", classOf[MinHashSignature].getName, minHashSigBuilder),
    ("md5_hash64_array", classOf[Md5Hash64Array].getName, md5Hash64Builder),
    ("sign_buckets", classOf[SignBuckets].getName, signBucketsBuilder),
    ("bloom_filter_agg",
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
      bloomAggBuilder),
    ("bloom_might_contain",
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
      bloomMightContainBuilder),
    ("ws_tokenize", classOf[WsTokenizeExpr].getName, wsTokenizeBuilder),
    ("ws_token_count", classOf[WsTokenCountExpr].getName, wsTokenCountBuilder),
    ("stopword_hits", classOf[StopwordHits].getName, stopwordHitsBuilder),
    ("shingle_hash64", classOf[ShingleHash64].getName, shingleHash64Builder),
    ("adc_lookup", classOf[AdcLookup].getName, adcLookupBuilder),
    ("rand_project8", classOf[RandProject8].getName, randProject8Builder),
    ("rolling_hash_fp", classOf[RollingHashFp].getName, rollingHashFpBuilder),
    ("sorted_intersect_count", classOf[SortedIntersectCount].getName,
      sortedIntersectCountBuilder),
    ("int_pow_root", classOf[IntegerPowRoot].getName, intPowRootBuilder))

  import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}

  /** Column handles — built directly on the expressions, no registry needed. */
  def cosineSim(a: Column, b: Column): Column = toCol(cosineSimBuilder(Seq(toExpr(a), toExpr(b))))
  def dotProduct(a: Column, b: Column): Column = toCol(dotProductBuilder(Seq(toExpr(a), toExpr(b))))
  def simHash64(hashes: Column): Column = toCol(SimHash64(toExpr(hashes)))
  def minHashSig(hashes: Column, k: Int): Column = toCol(MinHashSignature(toExpr(hashes), k))
  def md5Hash64Array(tokens: Column): Column = toCol(Md5Hash64Array(toExpr(tokens)))
  def signBuckets(vec: Column, planes: Seq[Seq[Seq[Double]]]): Column =
    toCol(SignBuckets(toExpr(vec), planes))
  def adcLookup(codes: Column, dt: Column, cells: Int): Column =
    toCol(AdcLookup(toExpr(codes), toExpr(dt), cells))
  def shingleHash64(words: Column, n: Int): Column =
    toCol(ShingleHash64(toExpr(words), n))
  def randProject8(vec: Column): Column =
    toCol(RandProject8(toExpr(vec)))
  def rollingHashFp(text: Column): Column =
    toCol(RollingHashFp(toExpr(text)))
  def sortedIntersectCount(a: Column, b: Column): Column =
    toCol(SortedIntersectCount(toExpr(a), toExpr(b)))
  def stopwordHits(tokens: Column, words: Seq[String]): Column =
    toCol(StopwordHits(toExpr(tokens), words))
  def wsTokenize(text: Column): Column = toCol(WsTokenizeExpr(toExpr(text)))
  def wsTokenCount(text: Column): Column = toCol(WsTokenCountExpr(toExpr(text)))
  def intPowRoot(x: Column, p: Int, q: Int): Column = toCol(IntegerPowRoot(toExpr(x), p, q))
}
