package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Map-side sketch expressions for the dedup family: the per-document
  * MinHash signature and SimHash packing computed in ONE codegen'd pass
  * over the shingle array, instead of exploding the shingle stream into
  * a wide hash aggregation (8 MIN buffers for MinHash, 64 SUM buffers +
  * COUNT for SimHash64). The groupBy forms were already partial-agg
  * shuffles — the scale-safe shape — but every exploded row paid a
  * hash-table probe against the wide buffer; at sf0.1 that aggregation
  * WAS the measured cost of simhash_pairs (VERDICT r3 #5: the bit-sum
  * rewrite alone moved nothing, because the buffer update machinery,
  * not the vote expression, dominates). Sketching per document is a
  * map-only operator: no shuffle until the band join, which is the
  * first key-dependent step.
  *
  * Numeric semantics are IDENTICAL to the aggregation forms (same
  * poly-hash, same affine mixes mod P, same majority vote
  * 2*ones > n), so the DuckDB oracles are unchanged. Empty shingle
  * arrays must be filtered by the caller (`size(toks) > 2`): the
  * aggregation forms drop empty documents because explode emits no
  * rows, and these expressions are total functions that would instead
  * emit a degenerate sketch.
  */
case class MinHashSig(child: Expression, perms: Seq[(Long, Long)], combine: Int = 1)
    extends UnaryExpression {
  require(combine >= 1 && perms.size % combine == 0,
    s"min_hash_sig: ${perms.size} permutations must group evenly into bands of $combine")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "min_hash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"min_hash_sig requires array<string>, got ${other.simpleString}")
  }

  @transient private lazy val as: Array[Long] = perms.map(_._1).toArray
  @transient private lazy val bs: Array[Long] = perms.map(_._2).toArray

  /** Empty input -> NULL, not a sentinel: with no elements the minima
    * stay Long.MaxValue and the band fold would overflow into an
    * arbitrary-but-deterministic key shared by every empty doc — all
    * empty inputs would become LSH candidates of each other. The
    * registered queries filter short docs before sketching; the null
    * makes the expression safe for call sites that don't. */
  override def nullable: Boolean = true

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (arr.numElements() == 0) null
    else MinHashSig.sig(arr, as, bs, combine)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("as", as, "long[]")
    val bsRef = ctx.addReferenceObj("bs", bs, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""if ($c.numElements() == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.MinHashSig.sig($c, $asRef, $bsRef, $combine);
         |}""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  /** k running minima of (poly_hash(e) * a_j + b_j) mod P over the
    * array elements — one pass, no per-element allocation — then
    * folded into k/combine LSH band keys (combine=2: m0*P + m1, the
    * band key the groupBy form derived in a separate projection).
    * Emitting band keys from the sketch lets the caller fan bands out
    * with ONE posexplode reference (pos = band index), so the
    * non-cheap sketch is never duplicated by projection collapse.
    * Equals the groupBy(doc).agg(min((h*a+b)%P)...) form element for
    * element. Callers guarantee non-empty input (the expression
    * returns NULL for empty arrays before reaching here). */
  def sig(arr: ArrayData, as: Array[Long], bs: Array[Long], combine: Int): ArrayData = {
    val k = as.length
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = PolyHash.hash(arr.getUTF8String(i))
      var j = 0
      while (j < k) {
        val v = (h * as(j) + bs(j)) % PolyHash.P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    if (combine == 1) new GenericArrayData(mins)
    else {
      val keys = new Array[Long](k / combine)
      var b = 0
      while (b < keys.length) {
        var key = 0L
        var r = 0
        while (r < combine) {
          key = key * PolyHash.P + mins(b * combine + r)
          r += 1
        }
        keys(b) = key
        b += 1
      }
      new GenericArrayData(keys)
    }
  }
}

/** Token n-grams as strings: element i is elements [i, i+n) of the
  * input joined with single spaces; fewer than n tokens yields an
  * empty array. Semantically identical to the HOF form
  * `transform(sequence(1, size(t)-n+1), i -> concat_ws(' ', t[i],
  * t[i+1], ...))` guarded by a size() CASE, and to the DuckDB
  * oracle's list_transform(range(...)) — but one codegen'd loop
  * instead of three interpreted lambda layers per element, and (since
  * HOFs have no codegen) it keeps the whole scan-side projection
  * inside WholeStageCodegen. The shingle build feeds EVERY
  * dedup-family query, so this is the hottest scan-side expression in
  * the engine. */
case class TokenNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"token_ngrams: n must be positive, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "token_ngrams"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_ngrams requires array<string>, got ${other.simpleString}")
  }

  protected override def nullSafeEval(input: Any): Any =
    TokenNgrams.ngrams(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenNgrams.ngrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): TokenNgrams =
    copy(child = newChild)
}

object TokenNgrams {
  private val SPACE = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  def ngrams(arr: ArrayData, n: Int): ArrayData = {
    val len = arr.numElements()
    val out = if (len < n) new Array[AnyRef](0)
    else {
      val res = new Array[AnyRef](len - n + 1)
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
      var i = 0
      while (i <= len - n) {
        var j = 0
        while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
        res(i) = org.apache.spark.unsafe.types.UTF8String.concatWs(SPACE, parts: _*)
        i += 1
      }
      res
    }
    new GenericArrayData(out)
  }
}

/** Character n-grams of a string: element i is code points [i, i+n)
  * of the input; strings shorter than n yield an empty array.
  * Semantically identical to the HOF form `transform(sequence(1,
  * length(s)-n+1), i -> concat(substr(s,i,1), ...))` it replaced
  * and to the DuckDB oracle's
  * `s[i] || s[i+1]` — but one codegen'd loop instead of n interpreted
  * substr calls per position, keeping the tokenizer-training pair
  * explode inside WholeStageCodegen. substring() is code-point-based
  * (matches SQL substr semantics for non-ASCII). */
case class CharNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"char_ngrams: n must be positive, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_ngrams"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_ngrams requires string, got ${other.simpleString}")
  }

  protected override def nullSafeEval(input: Any): Any =
    CharNgrams.ngrams(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharNgrams.ngrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): CharNgrams =
    copy(child = newChild)
}

object CharNgrams {
  def ngrams(s: org.apache.spark.unsafe.types.UTF8String, n: Int): ArrayData = {
    val len = s.numChars()
    val out = if (len < n) new Array[AnyRef](0)
    else {
      val res = new Array[AnyRef](len - n + 1)
      var i = 0
      while (i <= len - n) { res(i) = s.substring(i, i + n); i += 1 }
      res
    }
    new GenericArrayData(out)
  }
}

/** Content-defined chunk hashes: split the token array after every
  * token whose poly-hash lands in 1/modulus of the hash space, and
  * emit the poly-hash of each chunk (tokens joined with single
  * spaces). Element i is the i-th non-empty chunk in document order —
  * identical to the HOF form (filter(sequence) boundary positions +
  * transform slot ranges + poly_hash(concat_ws(slice))) that
  * TrainingData.cdcChunkStreamHof keeps for the spec, but one
  * codegen'd pass instead of two interpreted lambda layers hashing
  * every token. Empty input
  * yields an empty array (no chunks), mirroring the HOF form, which
  * never sees n = 0 from split(). */
case class CdcChunkHashes(child: Expression, modulus: Int) extends UnaryExpression {
  require(modulus >= 2, s"cdc_chunk_hashes: modulus must be >= 2, got $modulus")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cdc_chunk_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cdc_chunk_hashes requires array<string>, got ${other.simpleString}")
  }

  protected override def nullSafeEval(input: Any): Any =
    CdcChunkHashes.chunks(input.asInstanceOf[ArrayData], modulus)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CdcChunkHashes.chunks($c, $modulus)")

  override protected def withNewChildInternal(newChild: Expression): CdcChunkHashes =
    copy(child = newChild)
}

object CdcChunkHashes {
  private val SPACE = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  def chunks(arr: ArrayData, modulus: Int): ArrayData = {
    val n = arr.numElements()
    val out = new java.util.ArrayList[AnyRef]
    var start = 0
    var i = 0
    while (i < n) {
      if (PolyHash.hash(arr.getUTF8String(i)) % modulus == 0) {
        out.add(java.lang.Long.valueOf(hashChunk(arr, start, i)))
        start = i + 1
      }
      i += 1
    }
    if (start < n) out.add(java.lang.Long.valueOf(hashChunk(arr, start, n - 1)))
    new GenericArrayData(out.toArray)
  }

  private def hashChunk(arr: ArrayData, s: Int, e: Int): Long = {
    val parts = new Array[org.apache.spark.unsafe.types.UTF8String](e - s + 1)
    var j = s
    while (j <= e) { parts(j - s) = arr.getUTF8String(j); j += 1 }
    PolyHash.hash(org.apache.spark.unsafe.types.UTF8String.concatWs(SPACE, parts: _*))
  }
}

/** SimHash packed signature: for each affine mix g_m = (h*a_m+b_m) mod
  * P, the low `width` bits vote with multiplicity; bit j of the result
  * is the majority vote 2*ones_j > n. With mixes = [(1,0)], width = 32
  * this is the 32-bit signature (g = h, since h < P); with 4 mixes at
  * width 16 it is the 64-bit signature. Bit-identical to the exploded
  * SUM/COUNT aggregation it replaces. */
case class SimHashPack(child: Expression, mixes: Seq[(Long, Long)], width: Int)
    extends UnaryExpression {
  require(mixes.nonEmpty && width > 0 && mixes.size * width <= 64,
    s"simhash_pack: ${mixes.size} mixes x $width bits must fit in 64")

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_pack"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_pack requires array<string>, got ${other.simpleString}")
  }

  @transient private lazy val as: Array[Long] = mixes.map(_._1).toArray
  @transient private lazy val bs: Array[Long] = mixes.map(_._2).toArray

  /** Empty input -> NULL (see [[MinHashSig.nullable]]): the vote loop
    * would otherwise emit signature 0 for every empty doc, silently
    * collapsing them into one dedup survivor at any signature-equality
    * call site that forgot the short-doc filter. */
  override def nullable: Boolean = true

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (arr.numElements() == 0) null
    else SimHashPack.pack(arr, as, bs, width)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("as", as, "long[]")
    val bsRef = ctx.addReferenceObj("bs", bs, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""if ($c.numElements() == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.SimHashPack.pack($c, $asRef, $bsRef, $width);
         |}""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashPack =
    copy(child = newChild)
}

object SimHashPack {
  def pack(arr: ArrayData, as: Array[Long], bs: Array[Long], width: Int): Long = {
    val k = as.length
    val nbits = k * width
    val ones = new Array[Int](nbits)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = PolyHash.hash(arr.getUTF8String(i))
      var m = 0
      while (m < k) {
        val g = (h * as(m) + bs(m)) % PolyHash.P
        val base = m * width
        var b = 0
        while (b < width) {
          ones(base + b) += ((g >>> b) & 1L).toInt
          b += 1
        }
        m += 1
      }
      i += 1
    }
    var packed = 0L
    var j = 0
    while (j < nbits) {
      if (2L * ones(j) > n) packed |= (1L << j)
      j += 1
    }
    packed
  }
}
