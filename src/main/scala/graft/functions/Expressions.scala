package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions with full codegen.
  *
  * These stay inside WholeStageCodegen (no UDF boxing, no Scala-collection
  * conversion): `doGenCode` emits a single static call into the
  * [[VectorKernels]]/[[HashKernels]]/[[HexKernels]] loops, which operate on
  * Catalyst's primitive containers directly. All are null-intolerant
  * (null in → null out) via the `nullSafeEval`/`nullSafeCodeGen` contract.
  *
  * Input validation is hand-rolled `checkInputDataTypes` because Spark's
  * `ExpectsInputTypes`/`AbstractDataType` are `private[sql]`.
  */
private[graft] object TypeChecks {
  def isFloatArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true; case _ => false
  }
  def isLongArray(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true; case _ => false
  }
  def expect(name: String, ok: Boolean, want: String, got: Seq[DataType]): TypeCheckResult =
    if (ok) TypeCheckSuccess
    else TypeCheckFailure(s"$name expects $want, got ${got.map(_.catalogString).mkString(", ")}")
}
import TypeChecks._

/** `nfc_norm(s)` → Unicode NFC (canonical-composition) normalization —
  * the normalize-before-hash step (CCNet/C4 class): without it, the same
  * text in composed vs decomposed spelling defeats every byte-keyed
  * signature (MD5 content dedup, shingles, MinHash). Codegen'd static
  * call; the already-normalized fast path returns the input without
  * allocating (see [[TextNormKernels.nfc]]). */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "nfc_norm"
  override def checkInputDataTypes(): TypeCheckResult =
    expect(prettyName, child.dataType.isInstanceOf[StringType], "string", Seq(child.dataType))

  override def nullSafeEval(input: Any): Any =
    TextNormKernels.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.TextNormKernels.nfc($c);
    """)

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** `hex_to_dec(hexString)` → arbitrary-precision decimal string.
  * Exists for MD5-pseudonym parity with the reference (see HexKernels). */
case class HexToDecimal(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "hex_to_dec"
  override def checkInputDataTypes(): TypeCheckResult =
    expect(prettyName, child.dataType.isInstanceOf[StringType], "string", Seq(child.dataType))

  override def nullSafeEval(input: Any): Any =
    HexKernels.hexToDec(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.HexKernels.hexToDec($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): HexToDecimal =
    copy(child = newChild)
}

/** `cosine_sim(array<float>, array<float>)` → double. */
case class CosineSimilarity(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  override def checkInputDataTypes(): TypeCheckResult =
    expect(prettyName, isFloatArray(left.dataType) && isFloatArray(right.dataType),
      "(array<float>, array<float>)", Seq(left.dataType, right.dataType))

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorKernels.cosine($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** `nearest_cell(array<float>)` → bigint: the id of the cosine-nearest
  * centroid among a COLLECTED centroid set, evaluated entirely scan-side
  * ([[VectorKernels.nearestCell]] — same doubles, same NaN-greatest /
  * tie-to-smaller-id total order as the `max_by` aggregate form it
  * replaces). The centroid arrays ride the plan as codegen reference
  * objects (the broadcast-equivalent byte budget); no join, no exchange,
  * no per-candidate row blow-up — one corpus scan emits the assignment.
  * Equality/canonicalization note: the arrays are compared by the
  * deterministic `centsKey` fingerprint, not reference identity, so
  * identical plans still dedup. */
case class NearestCellId(child: Expression, ids: Array[Long],
    cents: Array[Array[Float]]) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "nearest_cell"
  override def checkInputDataTypes(): TypeCheckResult =
    expect(prettyName, isFloatArray(child.dataType), "array<float>", Seq(child.dataType))

  // deterministic value fingerprint so equals/hashCode don't fall back to
  // array reference identity (Catalyst compares expressions structurally)
  private lazy val centsKey: Long = {
    var h = 1125899906842597L
    var j = 0
    while (j < ids.length) {
      h = 31 * h + ids(j)
      val c = cents(j); var i = 0
      while (i < c.length) { h = 31 * h + java.lang.Float.floatToIntBits(c(i)); i += 1 }
      j += 1
    }
    h
  }
  // equals is STRUCTURAL (r17 advisory): centsKey alone would let a 2^-64
  // fingerprint collision silently substitute one centroid set for another
  // via Catalyst subexpression elimination / plan dedup; the key stays the
  // cheap hashCode, equality checks the payload (bounded by contract).
  override def equals(other: Any): Boolean = other match {
    case o: NearestCellId => o.child == child && o.centsKey == centsKey &&
      java.util.Arrays.equals(o.ids, ids) &&
      o.cents.length == cents.length &&
      cents.indices.forall(i => java.util.Arrays.equals(o.cents(i), cents(i)))
    case _ => false
  }
  override def hashCode(): Int = (child, centsKey).hashCode()

  override def nullSafeEval(input: Any): Any =
    VectorKernels.nearestCell(input.asInstanceOf[ArrayData], ids, cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("nearestCellIds", ids, "long[]")
    val centsRef = ctx.addReferenceObj("nearestCellCents", cents, "float[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorKernels.nearestCell($c, $idsRef, $centsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCellId =
    copy(child = newChild)
}

/** `nearest_cell_in(array<float>, array<struct<cell_id bigint, c_emb
  * array<float>>>)` → bigint: the stage-2 argmax of the two-level
  * assignment, evaluated scan-side against the vector's own coarse
  * group's member array ([[VectorKernels.nearestCellIn]] — same doubles,
  * same (cosine DESC, cell ASC) total order, same null ordering as the
  * `max_by(cell, struct(cs, -cell))` aggregate it replaces). The member
  * array rides each joined row, so the per-vector argmax needs NO
  * re-grouping exchange of the corpus and no |group|-way row fan-out:
  * one projection after the group equi-join emits the cell. */
case class NearestCellIn(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "nearest_cell_in"
  override def checkInputDataTypes(): TypeCheckResult = {
    val memberOk = right.dataType match {
      case ArrayType(StructType(fields), _) if fields.length == 2 =>
        fields(0).dataType.isInstanceOf[LongType] && isFloatArray(fields(1).dataType)
      case _ => false
    }
    expect(prettyName, isFloatArray(left.dataType) && memberOk,
      "(array<float>, array<struct<bigint, array<float>>>)",
      Seq(left.dataType, right.dataType))
  }

  override def nullSafeEval(e: Any, m: Any): Any =
    VectorKernels.nearestCellIn(e.asInstanceOf[ArrayData], m.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, m) =>
      s"${ev.value} = graft.functions.VectorKernels.nearestCellIn($e, $m);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCellIn =
    copy(left = newLeft, right = newRight)
}

/** Shared payload of the PQ codebook-literal expressions: the per-sub
  * sorted cell ids, centroid arrays, and ‖c‖² terms (precomputed with the
  * SAME Scala `.sum` fold the literal tree used), plus the deterministic
  * fingerprint [[NearestCellId]]-style equality rides on. */
private[functions] object PqBookRef {
  def sumSq(cents: Array[Array[Array[Double]]]): Array[Array[Double]] =
    cents.map(_.map(cv => cv.map(x => x * x).sum))
  def key(ids: Array[Array[Long]], cents: Array[Array[Array[Double]]]): Long = {
    var h = 1125899906842597L
    var s = 0
    while (s < ids.length) {
      val is = ids(s); val cs = cents(s)
      var c = 0
      while (c < is.length) {
        h = 31 * h + is(c)
        val cv = cs(c); var i = 0
        while (i < cv.length) {
          h = 31 * h + java.lang.Double.doubleToLongBits(cv(i)); i += 1
        }
        c += 1
      }
      s += 1
    }
    h
  }
  def same(aIds: Array[Array[Long]], aC: Array[Array[Array[Double]]],
      bIds: Array[Array[Long]], bC: Array[Array[Array[Double]]]): Boolean =
    aIds.length == bIds.length &&
      aIds.indices.forall(s => java.util.Arrays.equals(aIds(s), bIds(s))) &&
      aC.length == bC.length &&
      aC.indices.forall(s => aC(s).length == bC(s).length &&
        aC(s).indices.forall(c => java.util.Arrays.equals(aC(s)(c), bC(s)(c))))
  /** Fail fast on a codebook subspace with no cells: the kernels read
    * cell 0 of every subspace (an empty one would surface as an
    * ArrayIndexOutOfBounds deep inside a task). */
  def requireCells(ids: Array[Array[Long]],
      cents: Array[Array[Array[Double]]]): Unit =
    ids.indices.foreach(s => require(ids(s).nonEmpty && cents(s).nonEmpty,
      s"PQ codebook subspace $s has no cells"))
  def isVec(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
  def isDoubleVec(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true; case _ => false
  }
}

/** `pq_codes(array<float|double>)` → array<bigint>: all m PQ subspace
  * codes of one vector, evaluated scan-side against a codebook carried as
  * a codegen reference object ([[VectorKernels.pqCodes]] — bit-equivalent
  * to the `array_min(array(struct(‖c‖²−2·e_s·c, cell), …))` literal tree
  * it replaces, for every non-null embedding). One difference: a NULL
  * embedding yields NULL codes (null-safe evaluation), where the literal
  * tree degenerated to the smallest cell id of every subspace (its
  * all-null distances sorted first, ties to the smaller cell). A
  * codebook subspace with no cells fails at construction
  * ([[PqBookRef.requireCells]]). The literal spelling planned m·kc candidate structs with
  * a zip_with-fold dot EACH (m=8, kc=16 → a ~10⁵-char expression tree per
  * encode site): semantically fine, but every materialization re-planned
  * and re-codegen'd that tree — the dominant constant of the PQ entries
  * (guide §1.2 step 2 / §4: make the per-task code cheap once the job
  * shape is right). */
case class PqEncodeCodes(child: Expression, subDim: Int,
    ids: Array[Array[Long]], cents: Array[Array[Array[Double]]])
  extends UnaryExpression {
  PqBookRef.requireCells(ids, cents)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_codes"
  override def checkInputDataTypes(): TypeCheckResult =
    expect(prettyName, PqBookRef.isVec(child.dataType),
      "array<float> or array<double>", Seq(child.dataType))

  private lazy val isDouble = PqBookRef.isDoubleVec(child.dataType)
  @transient private lazy val sq = PqBookRef.sumSq(cents)
  private lazy val bookKey: Long = PqBookRef.key(ids, cents)
  override def equals(other: Any): Boolean = other match {
    case o: PqEncodeCodes => o.child == child && o.subDim == subDim &&
      o.bookKey == bookKey && PqBookRef.same(o.ids, o.cents, ids, cents)
    case _ => false
  }
  override def hashCode(): Int = (child, subDim, bookKey).hashCode()

  override def nullSafeEval(input: Any): Any =
    VectorKernels.pqCodes(input.asInstanceOf[ArrayData], isDouble, subDim,
      ids, cents, sq)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("pqIds", ids, "long[][]")
    val centsRef = ctx.addReferenceObj("pqCents", cents, "double[][][]")
    val sqRef = ctx.addReferenceObj("pqSumSq", sq, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorKernels.pqCodes($c, $isDouble, " +
        s"$subDim, $idsRef, $centsRef, $sqRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeCodes =
    copy(child = newChild)
}

/** `pq_cell(sub, sv)` → bigint: one subspace's PQ argmin code for a
  * subvector row, the trainer-iteration form of [[PqEncodeCodes]] (the
  * subs table carries (sub, sv) rows; the codebook rides as a reference
  * object). Same kernel, same tie/null semantics. */
case class PqAssignCell(left: Expression, right: Expression,
    ids: Array[Array[Long]], cents: Array[Array[Array[Double]]])
  extends BinaryExpression {
  PqBookRef.requireCells(ids, cents)
  override def dataType: DataType = LongType
  override def prettyName: String = "pq_cell"
  override def checkInputDataTypes(): TypeCheckResult =
    expect(prettyName,
      left.dataType.isInstanceOf[IntegerType] && PqBookRef.isVec(right.dataType),
      "(int, array<float> or array<double>)", Seq(left.dataType, right.dataType))

  private lazy val isDouble = PqBookRef.isDoubleVec(right.dataType)
  @transient private lazy val sq = PqBookRef.sumSq(cents)
  private lazy val bookKey: Long = PqBookRef.key(ids, cents)
  override def equals(other: Any): Boolean = other match {
    case o: PqAssignCell => o.left == left && o.right == right &&
      o.bookKey == bookKey && PqBookRef.same(o.ids, o.cents, ids, cents)
    case _ => false
  }
  override def hashCode(): Int = (left, right, bookKey).hashCode()

  override def nullSafeEval(sub: Any, sv: Any): Any = {
    val s = sub.asInstanceOf[Int]
    val v = sv.asInstanceOf[ArrayData]
    VectorKernels.pqCell(v, isDouble, 0, cents(s)(0).length, ids(s), cents(s), sq(s))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("pqIds", ids, "long[][]")
    val centsRef = ctx.addReferenceObj("pqCents", cents, "double[][][]")
    val sqRef = ctx.addReferenceObj("pqSumSq", sq, "double[][]")
    nullSafeCodeGen(ctx, ev, (s, v) =>
      s"${ev.value} = graft.functions.VectorKernels.pqCell($v, $isDouble, 0, " +
        s"$centsRef[$s][0].length, $idsRef[$s], $centsRef[$s], $sqRef[$s]);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAssignCell =
    copy(left = newLeft, right = newRight)
}

/** `dot_f(array<float>, array<float>)` → double. */
case class DotProductF(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f"
  override def checkInputDataTypes(): TypeCheckResult =
    expect(prettyName, isFloatArray(left.dataType) && isFloatArray(right.dataType),
      "(array<float>, array<float>)", Seq(left.dataType, right.dataType))

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorKernels.dot($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductF =
    copy(left = newLeft, right = newRight)
}

/** `minhash_sig(array<long>, k, seed)` → array<long> of k MinHash values. */
case class MinHashSig(child: Expression, k: Int, seed: Long) extends UnaryExpression {
  require(k > 0, "minhash_sig: k must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def checkInputDataTypes(): TypeCheckResult =
    expect(prettyName, isLongArray(child.dataType), "array<bigint>", Seq(child.dataType))

  override def nullSafeEval(input: Any): Any =
    HashKernels.minhash(input.asInstanceOf[ArrayData], k, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.minhash($c, $k, ${seed}L);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** `shingle_hashes(string, n)` → array<long> of hashed n-token-window
  * shingles (single-pass tokenizer+hasher — see TextKernels.shingleHashes). */
case class ShingleHashes(child: Expression, n: Int, seed: Long) extends UnaryExpression {
  require(n > 0, "shingle_hashes: n must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"
  override def checkInputDataTypes(): TypeCheckResult =
    expect(prettyName, child.dataType.isInstanceOf[StringType], "string", Seq(child.dataType))

  override def nullSafeEval(input: Any): Any =
    TextKernels.shingleHashes(input.asInstanceOf[UTF8String], n, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.shingleHashes($c, $n, ${seed}L);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** `doc_fingerprint(string)` → whole-document polynomial rolling hash
  * (init 7, base 31, mod 1e9+7 over UTF-8 bytes). */
case class DocFingerprint(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "doc_fingerprint"
  override def checkInputDataTypes(): TypeCheckResult =
    expect(prettyName, child.dataType.isInstanceOf[StringType], "string", Seq(child.dataType))

  override def nullSafeEval(input: Any): Any =
    TextKernels.polyFingerprint(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.polyFingerprint($c);")

  override protected def withNewChildInternal(newChild: Expression): DocFingerprint =
    copy(child = newChild)
}

/** `hash_lane_counts(string, dims)` → per-lane token counts under the
  * 32-bit-md5-prefix feature hash ([[TextKernels.hashLaneCounts]]). */
case class HashLaneCounts(child: Expression, dims: Int) extends UnaryExpression {
  require(dims > 0, "hash_lane_counts: dims must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hash_lane_counts"
  override def checkInputDataTypes(): TypeCheckResult =
    expect(prettyName, child.dataType.isInstanceOf[StringType], "string", Seq(child.dataType))

  override def nullSafeEval(input: Any): Any =
    TextKernels.hashLaneCounts(input.asInstanceOf[UTF8String], dims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.hashLaneCounts($c, $dims);")

  override protected def withNewChildInternal(newChild: Expression): HashLaneCounts =
    copy(child = newChild)
}

/** `byte_entropy(string)` → Shannon entropy (nats) of the byte
  * distribution ([[TextKernels.byteEntropy]]). */
case class ByteEntropy(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "byte_entropy"
  override def checkInputDataTypes(): TypeCheckResult =
    expect(prettyName, child.dataType.isInstanceOf[StringType], "string", Seq(child.dataType))

  override def nullSafeEval(input: Any): Any =
    TextKernels.byteEntropy(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.byteEntropy($c);")

  override protected def withNewChildInternal(newChild: Expression): ByteEntropy =
    copy(child = newChild)
}

/** `rolling_min_hash(string, k)` → min Rabin-Karp k-byte-window hash. */
case class RollingMinHash(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0, "rolling_min_hash: k must be positive")
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_min_hash"
  override def checkInputDataTypes(): TypeCheckResult =
    expect(prettyName, child.dataType.isInstanceOf[StringType], "string", Seq(child.dataType))

  override def nullSafeEval(input: Any): Any =
    TextKernels.rollingMinHash(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.rollingMinHash($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): RollingMinHash =
    copy(child = newChild)
}

/** `simhash64(array<long>)` → 64-bit SimHash fingerprint. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override def checkInputDataTypes(): TypeCheckResult =
    expect(prettyName, isLongArray(child.dataType), "array<bigint>", Seq(child.dataType))

  override def nullSafeEval(input: Any): Any =
    HashKernels.simhash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels.simhash($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** `z_order2(int, int)` → long: signed-order-preserving Morton interleave
  * of two 32-bit dimensions — the clustering key behind
  * [[graft.sources.Layout.writeZOrdered]]. A codegen'd scalar so the
  * z-value projection rides the scan stage. */
case class ZOrder2(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "z_order2"
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.expect(prettyName,
      left.dataType.isInstanceOf[IntegerType] && right.dataType.isInstanceOf[IntegerType],
      "(int, int)", Seq(left.dataType, right.dataType))

  override def nullSafeEval(a: Any, b: Any): Any =
    ZOrderKernels.zInterleave(a.asInstanceOf[Int], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ZOrderKernels.zInterleave($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrder2 =
    copy(left = newLeft, right = newRight)
}

/** `phash_bands(binary)` → array<bigint> of 4 × 16-bit perceptual-hash
  * band values over the payload's hashed-bigram histogram
  * ([[MediaKernels.phashBands]]) — the banded-LSH signature for
  * perceptual near-dup detection over opaque media columns. */
case class PhashBands(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "phash_bands"
  override def checkInputDataTypes(): TypeCheckResult =
    expect(prettyName, child.dataType == BinaryType, "binary", Seq(child.dataType))

  override def nullSafeEval(input: Any): Any =
    MediaKernels.phashBands(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MediaKernels.phashBands($c);")

  override protected def withNewChildInternal(newChild: Expression): PhashBands =
    copy(child = newChild)
}
