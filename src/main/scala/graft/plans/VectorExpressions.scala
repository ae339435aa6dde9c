package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Analysis-time input checks shared by the custom expressions. Spark 4
  * hides `AbstractDataType` (so `ExpectsInputTypes` can't be mixed in
  * from outside the sql package); overriding `checkInputDataTypes`
  * directly gives the same analysis-time error instead of a codegen-time
  * ClassCastException when SQL users call graft functions on wrong types
  * (they are registered globally via GraftExtensions). */
private[plans] object InputChecks {
  def check(name: String)(exprs: (Expression, DataType => Boolean, String)*): TypeCheckResult = {
    exprs.zipWithIndex.foreach { case ((e, ok, want), i) =>
      if (!ok(e.dataType))
        return TypeCheckResult.TypeCheckFailure(
          s"$name: argument ${i + 1} must be $want, got ${e.dataType.catalogString}")
    }
    TypeCheckResult.TypeCheckSuccess
  }
  // NullType is accepted everywhere (e.g. SQL `vec_dot(NULL, emb)`):
  // evaluation is null-safe, so a null literal propagates null exactly
  // like the null-tolerant builtins instead of failing analysis
  val isNumericArray: DataType => Boolean = {
    case ArrayType(FloatType | DoubleType, _) => true
    case NullType => true
    case _ => false
  }
  val isLongArray: DataType => Boolean = {
    case ArrayType(LongType, _) => true
    case NullType => true
    case _ => false
  }
  val isString: DataType => Boolean = {
    case StringType => true
    case NullType => true
    case _ => false
  }
  val isStringArray: DataType => Boolean = {
    case ArrayType(StringType, _) => true
    case NullType => true
    case _ => false
  }
  /** array<struct<id: long, emb: array<float|double>, nrm: double>> — the
    * tile-slice row shape shared by CellPairsCosine and CellTopkPairs. */
  val isItemsArray: DataType => Boolean = {
    case ArrayType(st: StructType, _) if st.length == 3 =>
      st(0).dataType == LongType && st(2).dataType == DoubleType &&
        isNumericArray(st(1).dataType)
    case NullType => true
    case _ => false
  }
}

/** Custom codegen'd Catalyst expressions for the vector / hashing hot
  * paths. The composable alternative (`zip_with` + `aggregate`
  * higher-order functions) materializes an intermediate array per row and
  * walks lambda closures per element — an order of magnitude slower on a
  * 64-dim dot product than this tight fused loop, which whole-stage
  * codegen inlines straight into the scan-join-filter pipeline.
  *
  * Semantics are kept bit-identical to the HOF formulation (left-to-right
  * double-precision accumulation), so DuckDB-oracle hash parity is
  * unaffected.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.check(prettyName)(
      (left, InputChecks.isNumericArray, "array<float> or array<double>"),
      (right, InputChecks.isNumericArray, "array<float> or array<double>"))

  private def accessor(e: Expression): String = e.dataType match {
    case ArrayType(FloatType, _) => "getFloat"
    // DoubleType arrays; also the dead-code branch for a (rare,
    // non-foldable) NullType input that survives NullPropagation — the
    // generated code must compile even though the null check skips it
    case _ => "getDouble"
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lf = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val rf = right.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val n = x.numElements()
    if (y.numElements() != n) throw DotProduct.lengthMismatch(n, y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw graft.plans.DotProduct.lengthMismatch($n, $b.numElements());
         |}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $a.${accessor(left)}($i) * (double) $b.${accessor(right)}($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Vectors of different dimensionality have no meaningful dot product —
    * fail loudly rather than silently truncate (callable from codegen). */
  def lengthMismatch(n: Int, m: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"vec_dot: vector length mismatch ($n vs $m); dot products require equal dimensions")
}

/** Polynomial rolling hash over a string's code points, mod 1e9+7 —
  * fused replacement for split('')+aggregate (which builds a one-char
  * string array per row). Mirrors DuckDB's
  * `list_reduce(list_prepend(0, list_transform(string_split(s,''), ascii)), …)`.
  */
case class PolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.check(prettyName)((child, InputChecks.isString, "string"))

  override def nullSafeEval(v: Any): Any =
    HashUtil.polyHash(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HashUtil.polyHash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct word n-gram shingles in one fused pass: tokenize + slide +
  * dedup inside a single expression evaluation. The composable form
  * (`transform(sequence(…), i -> concat_ws(' ', slice(toks, i, n)))`)
  * re-evaluates the tokenizer expression for every lambda element —
  * O(tokens²) regex splits per row — which made shingling the dominant
  * cost of every dedup query. Output order is first-occurrence; only set
  * membership/cardinality is observable downstream. */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.check(prettyName)((child, InputChecks.isString, "string"))

  override def nullSafeEval(v: Any): Any =
    HashUtil.wordShingles(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HashUtil.wordShingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Sorted array of distinct 60-bit md5 hashes of a document's word
  * n-gram shingles — the internal form the Jaccard machinery runs on.
  * Long keys make the doc-frequency aggregation, prefix join, and
  * pairwise intersection all integer-speed; the string shingles
  * themselves never leave the expression. Collision risk at 60 bits is
  * ~N²/2⁶¹ — negligible against the oracle's string-set semantics. */
case class WordShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_shingle_hashes"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.check(prettyName)((child, InputChecks.isString, "string"))

  override def nullSafeEval(v: Any): Any =
    HashUtil.wordShingleHashes(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HashUtil.wordShingleHashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Intersection size of two SORTED distinct long arrays — two-pointer
  * merge, zero allocation. Pairs with `word_shingle_hashes` for the
  * candidate-verification step of Jaccard dedup. */
case class SortedIntersectCount(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.check(prettyName)(
      (left, InputChecks.isLongArray, "array<bigint>"),
      (right, InputChecks.isLongArray, "array<bigint>"))

  override def nullSafeEval(a: Any, b: Any): Any =
    HashUtil.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.HashUtil.sortedIntersectCount($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** 60-bit SimHash of a document in one fused pass: tokenize (with
  * multiplicity), md5-hash each token to its first 60 bits (same
  * convention as the shingle hashes — 15 md5 hex digits, BIGINT-safe
  * in the oracle), per-bit majority vote. Replaces an explode(tokens)
  * → 60-column aggregation → reassembly pipeline with a single linear
  * scan per row — no shuffle at all for signatures. 60 bits because
  * the round-6 scale run measured the original 32-bit signature
  * SATURATING at 100k docs (49% of the corpus within hamming 3 of
  * something — birthday collisions, not redundancy); at 60 bits the
  * same banding has 2^-15 per-band collision odds and the candidate
  * stream stays linear far past 100k. */
case class SimHash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.check(prettyName)((child, InputChecks.isString, "string"))

  override def nullSafeEval(v: Any): Any =
    HashUtil.simHash60(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HashUtil.simHash60($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All LSH hyperplane projections of an embedding in ONE expression:
  * output[p] = dot(emb, planes[p]). The composable form (one `vec_dot`
  * per plane, each carrying a 64-literal array) builds a ~10k-node
  * expression tree for a 10-table × 8-bit index — measured 3.8 s of
  * per-action Catalyst analysis + codegen on a 2k-row corpus, i.e. the
  * plan machinery dwarfed the data. The plane matrix rides along as a
  * single flattened reference object instead (`ctx.addReferenceObj`),
  * so the tree contributes ONE node regardless of table count. */
case class LshProjections(child: Expression, planes: Array[Double], dim: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "lsh_projections"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.check(prettyName)(
      (child, InputChecks.isNumericArray, "array<float> or array<double>"))

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(v: Any): Any =
    HashUtil.lshProjections(v.asInstanceOf[ArrayData], isFloat, planes, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshPlanes", planes, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.HashUtil.lshProjections($c, $isFloat, $ref, $dim)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Multi-table LSH bucket ids from precomputed projections + per-plane
  * thresholds: bucket[t] = Σ_b (proj[t·bits+b] > thr[t·bits+b]) << b.
  * Thresholds arrive as a column (the broadcast corpus-mean projections),
  * so centering costs nothing per row. */
case class LshBuckets(left: Expression, right: Expression, tables: Int, bits: Int)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_buckets"
  override def nullIntolerant: Boolean = true

  private val isDoubleArray: DataType => Boolean = {
    case ArrayType(DoubleType, _) => true
    case NullType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.check(prettyName)(
      (left, isDoubleArray, "array<double>"),
      (right, isDoubleArray, "array<double>"))

  override def nullSafeEval(a: Any, b: Any): Any =
    HashUtil.lshBucketIds(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], tables, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.plans.HashUtil.lshBucketIds($a, $b, $tables, $bits)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Top-`keep` nearest centroids of an embedding, by cosine with c_id
  * tie-break, over a broadcast array of (c_id, c_emb, c_nrm) structs
  * sorted by c_id — the quantizer-assignment kernel shared by IVF
  * search, blocked embedding dedup, and k-means training.
  *
  * Replaces the generate-and-rank formulation (crossJoin every vector
  * with every centroid row, then window row_number ≤ k): at 250k
  * vectors × 2.5k centroids that materializes a 625M-row intermediate
  * through a per-key sort — the scale experiment measured the blocked
  * dedup unable to finish in 25 minutes on that shape. This expression
  * folds over the centroid array in one fused loop per row: no
  * intermediate rows exist at all, and the insertion sort keeps exactly
  * the (cosine DESC, c_id ASC) order the window formulation (and the
  * DuckDB oracle) defines, because centroids arrive c_id-ascending and
  * replacement requires a STRICTLY greater cosine. */
case class NearestCentroidIds(first: Expression, second: Expression, third: Expression, keep: Int)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  def emb: Expression = first
  def nrm: Expression = second
  def cents: Expression = third

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nearest_centroid_ids"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.check(prettyName)(
      (first, InputChecks.isNumericArray, "array<float> or array<double>"),
      (second, { case DoubleType | NullType => true; case _ => false }, "double"),
      (third, { case ArrayType(_: StructType, _) | NullType => true; case _ => false },
        "array<struct<c_id,c_emb,c_nrm>>"))

  private def isFloat: Boolean = first.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(e: Any, n: Any, c: Any): Any =
    HashUtil.nearestCentroidIds(e.asInstanceOf[ArrayData], isFloat,
      n.asInstanceOf[Double], c.asInstanceOf[ArrayData], keep)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, n, c) =>
      s"${ev.value} = graft.plans.HashUtil.nearestCentroidIds($e, $isFloat, $n, $c, $keep);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** All above-threshold cosine pairs between two tile slices of a dedup
  * block — the fused replacement for the nested `transform` pair
  * expansion, whose per-element interpreted lambda walk dominated the
  * 100× scale experiment (Σ block² candidate pairs each paid ~µs of
  * Catalyst tree-eval; this loop pays ~ns and allocates output only for
  * survivors). Inputs are two arrays of struct(vec_id: long, embedding:
  * array<float|double>, nrm: double) slices of the SAME id-sorted block
  * array; `diag` marks the (a == b) diagonal cell, which expands i<j
  * pairs instead of the full A×B cross. Accumulation is left-to-right
  * double precision, identical to `vec_dot` and the DuckDB oracle. */
case class CellPairsCosine(
    first: Expression, second: Expression, third: Expression, threshold: Double)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  def ia: Expression = first
  def ib: Expression = second
  def diag: Expression = third

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id_a", LongType, nullable = false),
    StructField("id_b", LongType, nullable = false),
    StructField("cosine", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "cell_pairs_cosine"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.check(prettyName)(
      (first, InputChecks.isItemsArray, "array<struct<id: bigint, emb: array<float|double>, nrm: double>>"),
      (second, InputChecks.isItemsArray, "array<struct<id: bigint, emb: array<float|double>, nrm: double>>"),
      (third, { case BooleanType | NullType => true; case _ => false }, "boolean"))

  private def isFloat: Boolean = first.dataType match {
    case ArrayType(st: StructType, _) => st(1).dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any, d: Any): Any =
    HashUtil.cellPairsCosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      d.asInstanceOf[Boolean], isFloat, threshold)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, d) =>
      s"${ev.value} = graft.plans.HashUtil.cellPairsCosine($a, $b, $d, $isFloat, $threshold);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Per-query top-`k` cosine candidates between a tile of QUERIES and a
  * tile of CANDIDATES — the hot-LSH-bucket sibling of [[CellPairsCosine]].
  * A density-degenerate bucket holds a corpus fraction no hashing depth
  * can split; dropping it is a recall hole, and joining it is a spill.
  * Instead its (query × member) work is cut into tile cells, each cell
  * row pays a bounded q·m fused loop, and only `k` survivors per query
  * per cell leave the expression — the union of per-cell top-k contains
  * the per-bucket top-k (cell-local rank ≤ global rank), so downstream
  * re-ranking is exact over what the bucket would have contributed.
  * Inputs are arrays of struct(id: long, emb: array<float|double>,
  * nrm: double); candidate slices are id-sorted so equal-cosine ties
  * resolve to the lower cand_id, matching ORDER BY cosine DESC, cand_id.
  * Self-pairs (cand id == query id) are skipped. Accumulation is
  * left-to-right double precision, identical to `vec_dot`, so the ids
  * selected here are exactly the ids the exact rescoring step would
  * rank first. */
case class CellTopkPairs(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("q_id", LongType, nullable = false),
    StructField("cand_id", LongType, nullable = false),
    StructField("cosine", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "cell_topk_pairs"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.check(prettyName)(
      (left, InputChecks.isItemsArray, "array<struct<id: bigint, emb: array<float|double>, nrm: double>>"),
      (right, InputChecks.isItemsArray, "array<struct<id: bigint, emb: array<float|double>, nrm: double>>"))

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(st: StructType, _) => st(1).dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    HashUtil.cellTopkPairs(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right), k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.HashUtil.cellTopkPairs($a, $b, ${isFloat(left)}, ${isFloat(right)}, $k);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** POSITIONAL word-shingle hashes: the same 60-bit md5 hash per
  * `n`-word window as [[WordShingleHashes]], but one entry PER START
  * POSITION in document order, no set-dedup — the form span REWRITING
  * needs (a rewrite must know WHERE a shared span sits, not just that
  * it exists; and a window repeated inside one document must cover
  * every occurrence). */
case class WordShingleHashesPos(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_shingle_hashes_pos"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.check(prettyName)((child, InputChecks.isString, "string"))

  override def nullSafeEval(v: Any): Any =
    HashUtil.wordShingleHashesPos(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HashUtil.wordShingleHashesPos($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-document adjacent-token (bigram) counts in ONE fused pass:
  * array<struct<v, w, c>> of each distinct adjacent pair with its count,
  * sorted by (v, w) byte order for determinism. Replaces the
  * explode(arrays_zip(slice, slice)) → groupBy(doc_id, v, w) chain of
  * the bigram LM: a document's positions all live in its one tokens
  * array, so per-doc pair counting is ROW-LOCAL — the grouped form
  * paid a corpus-sized exchange (plus partial/final hash aggregation
  * over every token position) to group rows that were never apart
  * (guide §2.4, round 17). Counts are exact longs, so downstream
  * model/scoring arithmetic is unchanged. */
case class TokenPairCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("v", StringType, nullable = false),
    StructField("w", StringType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "token_pair_counts"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.check(prettyName)((child, InputChecks.isStringArray, "array<string>"))

  override def nullSafeEval(v: Any): Any =
    HashUtil.tokenPairCounts(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HashUtil.tokenPairCounts($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Rewrite a document by dropping every word covered by a shared
  * `n`-word span: `starts` lists the 0-based word positions where a
  * shared span begins (from the positional shingle hashes joined
  * against the corpus span frequencies), the kernel marks positions
  * `[p, p+n)` covered, and the surviving words re-join with single
  * spaces. Returns struct(text_clean, n_words, n_removed). Doing the
  * interval-union + rebuild in ONE fused kernel keeps the plan free of
  * a per-WORD explode/anti-join/re-aggregate chain — per doc the only
  * shuffled rows are its shared span starts, not its words. */
case class SpanScrub(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("text_clean", StringType, nullable = false),
    StructField("n_words", LongType, nullable = false),
    StructField("n_removed", LongType, nullable = false)))
  override def prettyName: String = "span_scrub"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.check(prettyName)(
      (left, InputChecks.isString, "string"),
      (right, InputChecks.isLongArray, "array<bigint>"))

  override def nullSafeEval(t: Any, s: Any): Any =
    HashUtil.spanScrub(t.asInstanceOf[UTF8String], s.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, s) =>
      s"${ev.value} = graft.plans.HashUtil.spanScrub($t, $s, $n);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Membership probe against a pre-built Bloom filter riding along as a
  * reference object — the serving half of bloom-indexed
  * decontamination: the (tiny) eval-set filter broadcasts with the
  * plan and the corpus-side check is a pure scan-local boolean, no
  * join, no shuffle. `org.apache.spark.util.sketch.BloomFilter` is
  * Spark's own sketch (the `df.stat.bloomFilter` builder), so bit
  * layout and hashing stay engine-canonical. One-sided error only:
  * `false` is definite, `true` may be a false positive at the
  * construction fpp. */
case class BloomMightContain(child: Expression,
    bloom: org.apache.spark.util.sketch.BloomFilter) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.check(prettyName)(
      (child, { case LongType | NullType => true; case _ => false }, "bigint"))

  override def nullSafeEval(v: Any): Any = bloom.mightContainLong(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", bloom, "org.apache.spark.util.sketch.BloomFilter")
    defineCodeGen(ctx, ev, c => s"$ref.mightContainLong($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** DEFLATE-compressed byte length of a string (zlib level fixed at
  * construction) — the primitive behind the compression-ratio quality
  * signal (a document that compresses far below typical prose is
  * boilerplate/repetition; one that refuses to compress is noise or
  * binary junk). Runs the deflate INSIDE codegen per row — no UDF
  * serialization, no intermediate byte-array column. Deterministic:
  * java.util.zip.Deflater with a pinned level and strategy produces
  * identical bytes on every JVM that ships the same zlib, which the
  * self-check relies on (driver recompute == task output). */
case class DeflateLength(child: Expression, level: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "deflate_length"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.check(prettyName)((child, InputChecks.isString, "string"))

  override def nullSafeEval(v: Any): Any =
    HashUtil.deflateLength(v.asInstanceOf[UTF8String], level)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.HashUtil.deflateLength($c, $level)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Product-quantization codes: split a (normalized) embedding into `m`
  * contiguous subvectors and emit, per subspace, the index of the
  * nearest codebook entry by squared L2 distance (strictly-less argmin,
  * so ties resolve to the LOWEST entry index — the order the DuckDB
  * oracle's `row_number() OVER (ORDER BY dist, j)` defines). The
  * codebook rides along as ONE flattened reference object (layout
  * `cb[(s·k + j)·dsub + d]`), same plan-size rationale as
  * [[LshProjections]]. The embedding is normalized INSIDE the kernel
  * (`x/nrm`), so codes quantize direction only — the right space for
  * cosine retrieval, and it spares the plan a materialized normalized
  * copy of every vector. */
case class PqCodes(left: Expression, right: Expression,
    codebook: Array[Double], m: Int, k: Int) extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_codes"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.check(prettyName)(
      (left, InputChecks.isNumericArray, "array<float> or array<double>"),
      (right, { case DoubleType | NullType => true; case _ => false }, "double"))

  private def isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(e: Any, n: Any): Any =
    HashUtil.pqCodes(e.asInstanceOf[ArrayData], isFloat,
      n.asInstanceOf[Double], codebook, m, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodebook", codebook, "double[]")
    defineCodeGen(ctx, ev, (e, n) =>
      s"graft.plans.HashUtil.pqCodes($e, $isFloat, $n, $ref, $m, $k)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Per-query ADC lookup table: `lut[s·k + j] = Σ_d (q_d / q_nrm) ·
  * cb[(s·k + j)·dsub + d]` — the partial dot of the normalized query's
  * s-th subvector with every codebook entry, computed ONCE per query
  * (O(k·dim)) so each candidate afterwards costs O(m) table lookups
  * instead of an O(dim) dot. Left-to-right accumulation per entry,
  * matching the oracle's `list_sum(list_transform(...))`. */
case class PqLut(left: Expression, right: Expression,
    codebook: Array[Double], m: Int, k: Int) extends BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_lut"
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.check(prettyName)(
      (left, InputChecks.isNumericArray, "array<float> or array<double>"),
      (right, { case DoubleType | NullType => true; case _ => false }, "double"))

  private def isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(e: Any, n: Any): Any =
    HashUtil.pqLut(e.asInstanceOf[ArrayData], isFloat,
      n.asInstanceOf[Double], codebook, m, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodebook", codebook, "double[]")
    defineCodeGen(ctx, ev, (e, n) =>
      s"graft.plans.HashUtil.pqLut($e, $isFloat, $n, $ref, $m, $k)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Per-query top-`topk` candidates by ADC score within one (query tile ×
  * candidate tile) cell — the PQ sibling of [[CellTopkPairs]]. Queries
  * arrive as struct(id, lut) rows (see [[PqLut]]), candidates as
  * struct(id, codes) rows ([[PqCodes]]): a pair costs `m` array lookups
  * summed s-ascending (`Σ_s lut[s·k + codes[s]]` — the same grouped
  * fold order the oracle's `list_sum(list(lut ORDER BY s))` computes),
  * and only `topk` survivors per query per cell leave the expression.
  * Candidate slices are id-sorted and insertion displaces on STRICTLY
  * greater score, so equal-ADC ties (common under PQ — candidates with
  * identical codes score identically) resolve to the lower cand_id,
  * matching the downstream `ORDER BY adc DESC, cand_id` window.
  * Self-pairs are skipped. */
case class CellPqTopk(left: Expression, right: Expression, k: Int, topk: Int)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("q_id", LongType, nullable = false),
    StructField("cand_id", LongType, nullable = false),
    StructField("adc", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "cell_pq_topk"
  override def nullIntolerant: Boolean = true

  private val isLutArray: DataType => Boolean = {
    case ArrayType(st: StructType, _) if st.length == 2 =>
      st(0).dataType == LongType && (st(1).dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      })
    case NullType => true
    case _ => false
  }
  private val isCodesArray: DataType => Boolean = {
    case ArrayType(st: StructType, _) if st.length == 2 =>
      st(0).dataType == LongType && (st(1).dataType match {
        case ArrayType(IntegerType, _) => true
        case _ => false
      })
    case NullType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.check(prettyName)(
      (left, isLutArray, "array<struct<id: bigint, lut: array<double>>>"),
      (right, isCodesArray, "array<struct<id: bigint, codes: array<int>>>"))

  override def nullSafeEval(a: Any, b: Any): Any =
    HashUtil.cellPqTopk(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], k, topk)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.HashUtil.cellPqTopk($a, $b, $k, $topk);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Static helpers callable from generated Java (Scala top-level object →
  * static forwarders). */
object HashUtil {
  private val ws = java.util.regex.Pattern.compile("[ \\t\\n\\x0B\\f\\r]+")
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Thread-local md5 as lowercase hex — for callers outside codegen
    * (e.g. the multimodal stub decoder) so they share the per-thread
    * digest instead of allocating one per record. */
  def md5Hex(bytes: Array[Byte]): String = {
    val md = md5Local.get()
    md.reset()
    md.digest(bytes).map("%02x".format(_)).mkString
  }

  /** First 4 md5 bytes as an unsigned 32-bit value in a long — identical
    * to Spark's conv(substring(md5(s),1,8),16,10) and DuckDB's
    * ('0x' || substr(md5(s),1,8))::BIGINT. */
  private def md5Int32(bytes: Array[Byte]): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(bytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** First 60 bits of md5 (keeps the long positive). */
  private def md5Int60(bytes: Array[Byte]): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(bytes)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h >>> 4
  }

  def wordShingleHashes(s: UTF8String, n: Int): ArrayData = {
    val toks = ws.split(s.toString).filterNot(_.isEmpty)
    val m = toks.length - n + 1
    if (m <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      hs(i) = md5Int60(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      i += 1
    }
    java.util.Arrays.sort(hs)
    // unique in place (set semantics, like the distinct string shingles)
    var k = 0
    var p = 1
    while (p < m) {
      if (hs(p) != hs(k)) { k += 1; hs(k) = hs(p) }
      p += 1
    }
    val out = new Array[Any](k + 1)
    var q = 0
    while (q <= k) { out(q) = hs(q); q += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Adjacent-pair counts of a tokens array, sorted by (v, w) binary
    * order: one index sort over n−1 positions + a run-length pass —
    * no per-pair string concatenation, no hash map. The emitted
    * UTF8Strings are cloned: the input array may be an UnsafeArrayData
    * view whose backing buffer the scan reuses across rows. */
  def tokenPairCounts(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    if (n < 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val ts = new Array[UTF8String](n)
    var i = 0
    while (i < n) { ts(i) = toks.getUTF8String(i); i += 1 }
    val idx = new Array[Integer](n - 1)
    i = 0
    while (i < n - 1) { idx(i) = Integer.valueOf(i); i += 1 }
    val cmp = new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int = {
        val c1 = ts(a).compareTo(ts(b))
        if (c1 != 0) c1 else ts(a + 1).compareTo(ts(b + 1))
      }
    }
    java.util.Arrays.sort(idx, cmp)
    val out = new java.util.ArrayList[Any]()
    var s = 0
    while (s < idx.length) {
      var e = s + 1
      while (e < idx.length && cmp.compare(idx(s), idx(e)) == 0) e += 1
      val p = idx(s).intValue()
      out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](ts(p).clone(), ts(p + 1).clone(), (e - s).toLong)))
      s = e
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  def simHash60(s: UTF8String): Long = {
    val toks = ws.split(s.toString)
    val w = new Array[Int](60)
    var i = 0
    while (i < toks.length) {
      if (!toks(i).isEmpty) {
        val h = md5Int60(toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var b = 0
        while (b < 60) {
          if (((h >>> b) & 1L) == 1L) w(b) += 1 else w(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) {
      if (w(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  def polyHash(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }

  /** Top-`keep` centroid ids by (cosine DESC, c_id ASC). `cents` is an
    * array of structs (c_id: long, c_emb: array<double>, c_nrm: double)
    * SORTED by c_id; strict-greater replacement preserves the ascending
    * c_id order as the tie-break. */
  def nearestCentroidIds(emb: ArrayData, isFloat: Boolean, nrm: Double,
      cents: ArrayData, keep: Int): ArrayData = {
    val dim = emb.numElements()
    val nC = cents.numElements()
    val k = math.min(keep, nC)
    val topCos = Array.fill(k)(Double.NegativeInfinity)
    val topId = new Array[Long](k)
    var filled = 0
    var c = 0
    while (c < nC) {
      val row = cents.getStruct(c, 3)
      val cEmb = row.getArray(1)
      if (cEmb.numElements() != dim)
        throw new IllegalArgumentException(
          s"nearest_centroid_ids: centroid dim ${cEmb.numElements()} != embedding dim $dim")
      var acc = 0.0
      var d = 0
      while (d < dim) {
        val v = if (isFloat) emb.getFloat(d).toDouble else emb.getDouble(d)
        acc += v * cEmb.getDouble(d)
        d += 1
      }
      val cos = acc / (nrm * row.getDouble(2))
      // insertion position: strictly greater displaces (equal cosine keeps
      // the earlier = lower c_id, matching ORDER BY cos DESC, c_id ASC)
      var pos = filled
      while (pos > 0 && cos > topCos(pos - 1)) pos -= 1
      if (pos < k) {
        var m = math.min(filled, k - 1)
        while (m > pos) { topCos(m) = topCos(m - 1); topId(m) = topId(m - 1); m -= 1 }
        topCos(pos) = cos
        topId(pos) = row.getLong(0)
        if (filled < k) filled += 1
      }
      c += 1
    }
    val out = new Array[Any](filled)
    var i = 0
    while (i < filled) { out(i) = topId(i); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def lshProjections(emb: ArrayData, isFloat: Boolean,
      planes: Array[Double], dim: Int): ArrayData = {
    if (emb.numElements() != dim)
      throw new IllegalArgumentException(
        s"lsh_projections: expected $dim-dim embedding, got ${emb.numElements()}")
    val nPlanes = planes.length / dim
    val out = new Array[Any](nPlanes)
    var p = 0
    while (p < nPlanes) {
      val base = p * dim
      var acc = 0.0
      var d = 0
      while (d < dim) {
        val v = if (isFloat) emb.getFloat(d).toDouble else emb.getDouble(d)
        acc += v * planes(base + d)
        d += 1
      }
      out(p) = acc
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def lshBucketIds(proj: ArrayData, thr: ArrayData, tables: Int, bits: Int): ArrayData = {
    val need = tables * bits
    if (proj.numElements() != need || thr.numElements() != need)
      throw new IllegalArgumentException(
        s"lsh_buckets: need $need projections/thresholds, got ${proj.numElements()}/${thr.numElements()}")
    val out = new Array[Any](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < bits) {
        if (proj.getDouble(t * bits + b) > thr.getDouble(t * bits + b)) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** See [[CellPairsCosine]]. Both slices are materialized into primitive
    * arrays once (≤ tile × dim doubles each), then the O(na·nb) loop runs
    * on plain JVM arrays — no per-pair ArrayData dispatch, no per-pair
    * allocation unless the pair survives the threshold. */
  /** Materialize a tile slice of struct(id, emb, nrm) rows into primitive
    * arrays once (≤ tile × dim doubles), so the O(na·nb) loops below run
    * on plain JVM arrays — no per-pair ArrayData dispatch. */
  private def extractItems(arr: ArrayData, n: Int,
      isFloat: Boolean): (Array[Long], Array[Array[Double]], Array[Double]) = {
    val ids = new Array[Long](n)
    val embs = new Array[Array[Double]](n)
    val nrms = new Array[Double](n)
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 3)
      ids(i) = row.getLong(0)
      val e = row.getArray(1)
      val dim = e.numElements()
      val v = new Array[Double](dim)
      var d = 0
      while (d < dim) {
        v(d) = if (isFloat) e.getFloat(d).toDouble else e.getDouble(d)
        d += 1
      }
      embs(i) = v
      nrms(i) = row.getDouble(2)
      i += 1
    }
    (ids, embs, nrms)
  }

  def cellPairsCosine(ia: ArrayData, ib: ArrayData, diag: Boolean,
      isFloat: Boolean, threshold: Double): ArrayData = {
    val na = ia.numElements()
    val nb = ib.numElements()
    // diag means "ib IS the same slice as ia" — the loops below then reuse
    // ia's extracted arrays while bounding on nb, so a mismatched pair
    // would index out of bounds (nb > na) or silently drop pairs (nb < na)
    if (diag) require(na == nb,
      s"cell_pairs_cosine: diag=true requires identical slices, got $na vs $nb elements")
    if (na == 0 || nb == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val (aIds, aEmbs, aNrms) = extractItems(ia, na, isFloat)
    val (bIds, bEmbs, bNrms) =
      if (diag) (aIds, aEmbs, aNrms) else extractItems(ib, nb, isFloat)
    val out = new java.util.ArrayList[Any]()
    var i = 0
    while (i < na) {
      val av = aEmbs(i)
      val dim = av.length
      var j = if (diag) i + 1 else 0
      while (j < nb) {
        val bv = bEmbs(j)
        if (bv.length != dim) throw DotProduct.lengthMismatch(dim, bv.length)
        var acc = 0.0
        var d = 0
        while (d < dim) { acc += av(d) * bv(d); d += 1 }
        val cos = acc / (aNrms(i) * bNrms(j))
        if (cos >= threshold) {
          out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](aIds(i), bIds(j), cos)))
        }
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** See [[CellTopkPairs]]: per-query top-k by (cosine DESC, cand_id ASC)
    * within one (query tile × candidate tile) cell, self-pairs skipped.
    * Insertion uses strict-greater displacement, so on equal cosine the
    * earlier (= lower, slices are id-sorted) cand_id wins — the same
    * tie-break as the downstream row_number window. */
  def cellTopkPairs(qs: ArrayData, cs: ArrayData,
      qFloat: Boolean, cFloat: Boolean, k: Int): ArrayData = {
    val nq = qs.numElements()
    val nc = cs.numElements()
    if (nq == 0 || nc == 0 || k <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val (qIds, qEmbs, qNrms) = extractItems(qs, nq, qFloat)
    val (cIds, cEmbs, cNrms) = extractItems(cs, nc, cFloat)
    val out = new java.util.ArrayList[Any]()
    val topCos = new Array[Double](k)
    val topId = new Array[Long](k)
    var i = 0
    while (i < nq) {
      val qv = qEmbs(i)
      val dim = qv.length
      java.util.Arrays.fill(topCos, Double.NegativeInfinity)
      var filled = 0
      var j = 0
      while (j < nc) {
        if (cIds(j) != qIds(i)) {
          val cv = cEmbs(j)
          if (cv.length != dim) throw DotProduct.lengthMismatch(dim, cv.length)
          var acc = 0.0
          var d = 0
          while (d < dim) { acc += qv(d) * cv(d); d += 1 }
          val cos = acc / (qNrms(i) * cNrms(j))
          var pos = filled
          while (pos > 0 && cos > topCos(pos - 1)) pos -= 1
          if (pos < k) {
            var m = math.min(filled, k - 1)
            while (m > pos) { topCos(m) = topCos(m - 1); topId(m) = topId(m - 1); m -= 1 }
            topCos(pos) = cos
            topId(pos) = cIds(j)
            if (filled < k) filled += 1
          }
        }
        j += 1
      }
      var r = 0
      while (r < filled) {
        out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](qIds(i), topId(r), topCos(r))))
        r += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** See [[PqCodes]]: per-subspace argmin of squared L2 distance between
    * the normalized subvector and each codebook entry; strict less-than
    * keeps the lowest entry index on exact ties. */
  def pqCodes(emb: ArrayData, isFloat: Boolean, nrm: Double,
      cb: Array[Double], m: Int, k: Int): ArrayData = {
    val dim = emb.numElements()
    val dsub = cb.length / (m * k)
    if (dim != m * dsub)
      throw new IllegalArgumentException(
        s"pq_codes: expected ${m * dsub}-dim embedding for m=$m dsub=$dsub, got $dim")
    val x = new Array[Double](dim)
    var d0 = 0
    while (d0 < dim) {
      x(d0) = (if (isFloat) emb.getFloat(d0).toDouble else emb.getDouble(d0)) / nrm
      d0 += 1
    }
    val out = new Array[Any](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestDist = Double.PositiveInfinity
      var j = 0
      while (j < k) {
        val base = (s * k + j) * dsub
        var acc = 0.0
        var d = 0
        while (d < dsub) {
          val diff = x(s * dsub + d) - cb(base + d)
          acc += diff * diff
          d += 1
        }
        if (acc < bestDist) { bestDist = acc; best = j }
        j += 1
      }
      out(s) = best
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** See [[PqLut]]: `lut[s·k + j] = Σ_d (q_d/q_nrm) · cb[(s·k+j)·dsub + d]`,
    * left-to-right per entry. */
  def pqLut(emb: ArrayData, isFloat: Boolean, nrm: Double,
      cb: Array[Double], m: Int, k: Int): ArrayData = {
    val dim = emb.numElements()
    val dsub = cb.length / (m * k)
    if (dim != m * dsub)
      throw new IllegalArgumentException(
        s"pq_lut: expected ${m * dsub}-dim embedding for m=$m dsub=$dsub, got $dim")
    val x = new Array[Double](dim)
    var d0 = 0
    while (d0 < dim) {
      x(d0) = (if (isFloat) emb.getFloat(d0).toDouble else emb.getDouble(d0)) / nrm
      d0 += 1
    }
    val out = new Array[Any](m * k)
    var s = 0
    while (s < m) {
      var j = 0
      while (j < k) {
        val base = (s * k + j) * dsub
        var acc = 0.0
        var d = 0
        while (d < dsub) { acc += x(s * dsub + d) * cb(base + d); d += 1 }
        out(s * k + j) = acc
        j += 1
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** See [[CellPqTopk]]: per-query top-k by (ADC DESC, cand_id ASC),
    * self-pairs skipped, strict-greater insertion over id-sorted
    * candidates. ADC = Σ_s lut[s·k + codes[s]], s ascending. */
  def cellPqTopk(qs: ArrayData, cs: ArrayData, k: Int, topk: Int): ArrayData = {
    val nq = qs.numElements()
    val nc = cs.numElements()
    if (nq == 0 || nc == 0 || topk <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    // materialize both tiles into primitive arrays once
    val qIds = new Array[Long](nq)
    val qLuts = new Array[Array[Double]](nq)
    var i0 = 0
    while (i0 < nq) {
      val row = qs.getStruct(i0, 2)
      qIds(i0) = row.getLong(0)
      qLuts(i0) = row.getArray(1).toDoubleArray()
      i0 += 1
    }
    val cIds = new Array[Long](nc)
    val cCodes = new Array[Array[Int]](nc)
    var j0 = 0
    while (j0 < nc) {
      val row = cs.getStruct(j0, 2)
      cIds(j0) = row.getLong(0)
      cCodes(j0) = row.getArray(1).toIntArray()
      j0 += 1
    }
    val out = new java.util.ArrayList[Any]()
    // two selection strategies with IDENTICAL semantics — top-topk by
    // (adc DESC, cand_id ASC): a shifted insertion array for small topk
    // (the oracle-pinned serving depths), a bounded min-heap for large
    // shortlist depths where O(depth) shifts per insert would dominate
    // (a 1024-deep shortlist over a 64k cell pays ~4k O(log depth)
    // heap replacements instead of ~2M element shifts per query)
    val useHeap = topk > 64
    val topAdc = new Array[Double](topk)
    val topId = new Array[Long](topk)
    var i = 0
    while (i < nq) {
      val lut = qLuts(i)
      var filled = 0
      if (!useHeap) java.util.Arrays.fill(topAdc, Double.NegativeInfinity)
      var j = 0
      while (j < nc) {
        if (cIds(j) != qIds(i)) {
          val codes = cCodes(j)
          val m = codes.length
          if (lut.length != m * k)
            throw new IllegalArgumentException(
              s"cell_pq_topk: lut has ${lut.length} entries but codes need ${m * k}")
          var adc = 0.0
          var s = 0
          while (s < m) { adc += lut(s * k + codes(s)); s += 1 }
          if (!useHeap) {
            var pos = filled
            while (pos > 0 && adc > topAdc(pos - 1)) pos -= 1
            if (pos < topk) {
              var w = math.min(filled, topk - 1)
              while (w > pos) { topAdc(w) = topAdc(w - 1); topId(w) = topId(w - 1); w -= 1 }
              topAdc(pos) = adc
              topId(pos) = cIds(j)
              if (filled < topk) filled += 1
            }
          } else {
            // min-heap keyed (adc ASC, cand_id DESC): root = current worst
            def worseAt(a: Int, adcB: Double, idB: Long): Boolean =
              topAdc(a) < adcB || (topAdc(a) == adcB && topId(a) > idB)
            if (filled < topk) {
              // sift-up insert
              var c = filled
              topAdc(c) = adc; topId(c) = cIds(j)
              filled += 1
              while (c > 0 && worseAt(c, topAdc((c - 1) / 2), topId((c - 1) / 2))) {
                val p = (c - 1) / 2
                val ta = topAdc(c); val ti = topId(c)
                topAdc(c) = topAdc(p); topId(c) = topId(p)
                topAdc(p) = ta; topId(p) = ti
                c = p
              }
            } else if (worseAt(0, adc, cIds(j))) {
              // replace root, sift down
              topAdc(0) = adc; topId(0) = cIds(j)
              var c = 0
              var done = false
              while (!done) {
                val l = 2 * c + 1; val r = 2 * c + 2
                var worst = c
                if (l < topk && worseAt(l, topAdc(worst), topId(worst))) worst = l
                if (r < topk && worseAt(r, topAdc(worst), topId(worst))) worst = r
                if (worst == c) done = true
                else {
                  val ta = topAdc(c); val ti = topId(c)
                  topAdc(c) = topAdc(worst); topId(c) = topId(worst)
                  topAdc(worst) = ta; topId(worst) = ti
                  c = worst
                }
              }
            }
          }
        }
        j += 1
      }
      if (useHeap && filled > 1) {
        // emit in (adc DESC, cand_id ASC) order like the insertion path
        val idx = Array.range(0, filled).sortWith { (a, b) =>
          topAdc(a) > topAdc(b) || (topAdc(a) == topAdc(b) && topId(a) < topId(b))
        }
        val sa = idx.map(topAdc); val si = idx.map(topId)
        System.arraycopy(sa, 0, topAdc, 0, filled)
        System.arraycopy(si, 0, topId, 0, filled)
      }
      var r = 0
      while (r < filled) {
        out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](qIds(i), topId(r), topAdc(r))))
        r += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** See [[DeflateLength]]: deflate byte count at a pinned level. A
    * fresh Deflater per call (not thread-local reuse): `end()` frees
    * the native zlib state eagerly, and the per-row allocation is noise
    * next to the compression itself. */
  def deflateLength(s: UTF8String, level: Int): Long = {
    val input = s.getBytes
    val d = new java.util.zip.Deflater(level)
    try {
      d.setInput(input)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }

  /** See [[WordShingleHashesPos]]: one hash per window start, document
    * order, no dedup. */
  def wordShingleHashesPos(s: UTF8String, n: Int): ArrayData = {
    val toks = ws.split(s.toString).filterNot(_.isEmpty)
    val m = toks.length - n + 1
    if (m <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      out(i) = md5Int60(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** See [[SpanScrub]]: mark `[p, p+n)` covered for each 0-based start,
    * rebuild the text from uncovered words (single-space joined).
    * Return type must be the concrete InternalRow (not Any/Object) —
    * the generated code assigns straight into an InternalRow slot and
    * janino rejects the Object-to-InternalRow assignment, which would
    * silently drop the whole stage to interpreted eval. */
  def spanScrub(text: UTF8String, starts: ArrayData, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = ws.split(text.toString).filterNot(_.isEmpty)
    val covered = new Array[Boolean](toks.length)
    var i = 0
    while (i < starts.numElements()) {
      val p0 = starts.getLong(i).toInt
      var w0 = math.max(0, p0)
      val until = math.min(toks.length, p0 + n)
      while (w0 < until) { covered(w0) = true; w0 += 1 }
      i += 1
    }
    val sb = new java.lang.StringBuilder()
    var removed = 0L
    var w = 0
    while (w < toks.length) {
      if (covered(w)) removed += 1
      else {
        if (sb.length() > 0) sb.append(' ')
        sb.append(toks(w))
      }
      w += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      UTF8String.fromString(sb.toString), toks.length.toLong, removed))
  }

  def wordShingles(s: UTF8String, n: Int): ArrayData = {
    val toks = ws.split(s.toString).filterNot(_.isEmpty)
    val out = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + n <= toks.length) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      out.add(sb.toString)
      i += 1
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = UTF8String.fromString(it.next()); k += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }
}

/** Column-level API for the custom expressions. */
object VectorFunctions {
  def vec_dot(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))
  def poly_hash(c: Column): Column =
    GraftBridge.column(PolyHash(GraftBridge.expression(c)))
  def word_shingles(c: Column, n: Int): Column =
    GraftBridge.column(WordShingles(GraftBridge.expression(c), n))
  def word_shingle_hashes(c: Column, n: Int): Column =
    GraftBridge.column(WordShingleHashes(GraftBridge.expression(c), n))
  def sorted_intersect_count(a: Column, b: Column): Column =
    GraftBridge.column(SortedIntersectCount(GraftBridge.expression(a), GraftBridge.expression(b)))
  def simhash60(c: Column): Column =
    GraftBridge.column(SimHash60(GraftBridge.expression(c)))
  def lsh_projections(c: Column, planes: Array[Double], dim: Int): Column =
    GraftBridge.column(LshProjections(GraftBridge.expression(c), planes, dim))
  def lsh_buckets(proj: Column, thr: Column, tables: Int, bits: Int): Column =
    GraftBridge.column(LshBuckets(GraftBridge.expression(proj), GraftBridge.expression(thr), tables, bits))
  def nearest_centroid_ids(emb: Column, nrm: Column, cents: Column, keep: Int): Column =
    GraftBridge.column(NearestCentroidIds(GraftBridge.expression(emb),
      GraftBridge.expression(nrm), GraftBridge.expression(cents), keep))
  def cell_pairs_cosine(ia: Column, ib: Column, diag: Column, threshold: Double): Column =
    GraftBridge.column(CellPairsCosine(GraftBridge.expression(ia),
      GraftBridge.expression(ib), GraftBridge.expression(diag), threshold))
  def cell_topk_pairs(qs: Column, cs: Column, k: Int): Column =
    GraftBridge.column(CellTopkPairs(GraftBridge.expression(qs), GraftBridge.expression(cs), k))
  def pq_codes(emb: Column, nrm: Column, codebook: Array[Double], m: Int, k: Int): Column =
    GraftBridge.column(PqCodes(GraftBridge.expression(emb), GraftBridge.expression(nrm),
      codebook, m, k))
  def pq_lut(emb: Column, nrm: Column, codebook: Array[Double], m: Int, k: Int): Column =
    GraftBridge.column(PqLut(GraftBridge.expression(emb), GraftBridge.expression(nrm),
      codebook, m, k))
  def cell_pq_topk(qs: Column, cs: Column, k: Int, topk: Int): Column =
    GraftBridge.column(CellPqTopk(GraftBridge.expression(qs), GraftBridge.expression(cs), k, topk))
  def word_shingle_hashes_pos(c: Column, n: Int): Column =
    GraftBridge.column(WordShingleHashesPos(GraftBridge.expression(c), n))
  def deflate_length(c: Column, level: Int): Column =
    GraftBridge.column(DeflateLength(GraftBridge.expression(c), level))
  def bloom_might_contain(c: Column, bloom: org.apache.spark.util.sketch.BloomFilter): Column =
    GraftBridge.column(BloomMightContain(GraftBridge.expression(c), bloom))
  def span_scrub(text: Column, starts: Column, n: Int): Column =
    GraftBridge.column(SpanScrub(GraftBridge.expression(text), GraftBridge.expression(starts), n))
  def token_pair_counts(toks: Column): Column =
    GraftBridge.column(TokenPairCounts(GraftBridge.expression(toks)))
}
