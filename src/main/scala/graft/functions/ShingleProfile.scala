package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `shingle_profile(toks)` — the whole MinHash signature pass of the
  * dedup-index family as ONE pure-map kernel: per document, the word
  * n-gram shingle set (string-distinct, the array_distinct contract),
  * each shingle's 64-bit identity hash (≡ `xxhash64(concat_ws(' ', …))`,
  * seed 42 — via the SAME XXH64 primitives Spark's XxHash64 expression
  * dispatches to), the SORTED shingle-hash profile `ss` (≡
  * `sort_array(collect_list(shingle))` over Graft.shingleRows — two
  * string-distinct shingles that collide to one long keep both copies),
  * and the k-permutation MinHash signature `mh` with
  * `mh(s) = min over shingles of xxhash64(shingle, s)` replicated term
  * for term (`hashInt(s, hashLong(h, 42))` — the exact
  * left-fold Spark's multi-arg xxhash64 performs over a LONG then an
  * INT child).
  *
  * Replaces, for the dedup index's build/query paths, the shingle
  * EXPLODE (one row per (doc_id, shingle)) feeding TWO corpus-scale
  * doc_id exchanges — `MinHashLSH.signatures`' 16-min aggregate and
  * the profile aggregate's sort_array(collect_list) — plus the exploded
  * frame's localCheckpoint: row volume stays at doc grain and the
  * signature pass costs ZERO exchanges (guide §1.2 step 1, §2.3/2.4).
  * Returns NULL for a document with fewer than `nGram` tokens — exactly
  * the rows Graft.shingleRows' `size(toks) >= n` filter dropped;
  * callers filter nulls. Law-pinned against the exploded form in
  * DedupIndexSpec. */
case class ShingleProfile(child: Expression, nGram: Int, k: Int)
  extends UnaryExpression {

  require(nGram >= 1, s"shingle size must be >= 1, got $nGram")
  require(k >= 1, s"signature length must be >= 1, got $k")

  override def dataType: DataType = StructType(Seq(
    StructField("ss", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("mh", ArrayType(LongType, containsNull = false),
      nullable = false)))

  // null for sub-nGram docs even when the child is non-null
  override def nullable: Boolean = true
  override def prettyName: String = "shingle_profile"

  @transient private lazy val space = UTF8String.fromString(" ")

  /** The whole per-row pass, shared verbatim by eval and codegen. */
  def fold(a: Any): InternalRow = {
    if (a == null) return null
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < nGram) return null
    val nSh = n - nGram + 1
    val seen = new java.util.HashSet[UTF8String](nSh * 2)
    val hs = new Array[Long](nSh)
    var m = 0
    val mh = new Array[Long](k)
    java.util.Arrays.fill(mh, Long.MaxValue)
    val parts = new Array[UTF8String](nGram)
    var i = 0
    while (i < nSh) {
      var g = 0
      while (g < nGram) {
        // concat_ws semantics: null tokens are skipped (split() never
        // yields them; defensive parity with the column form)
        parts(g) = if (arr.isNullAt(i + g)) null else arr.getUTF8String(i + g)
        g += 1
      }
      val sh = UTF8String.concatWs(space, parts: _*)
      if (seen.add(sh)) {
        val h = XXH64.hashUTF8String(sh, 42L)
        hs(m) = h
        m += 1
        // xxhash64(shingle, s): seed 42 → hashLong(shingle) → hashInt(s)
        val hl = XXH64.hashLong(h, 42L)
        var s = 0
        while (s < k) {
          val v = XXH64.hashInt(s, hl)
          if (v < mh(s)) mh(s) = v
          s += 1
        }
      }
      i += 1
    }
    val ss = if (m == hs.length) hs else java.util.Arrays.copyOf(hs, m)
    java.util.Arrays.sort(ss)
    new GenericInternalRow(Array[Any](
      UnsafeArrayData.fromPrimitiveArray(ss),
      UnsafeArrayData.fromPrimitiveArray(mh)))
  }

  override def eval(input: InternalRow): Any = fold(child.eval(input))

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleProfile", this,
      classOf[ShingleProfile].getName)
    val childGen = child.genCode(ctx)
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val resultCode =
      code"""
         |${childGen.code}
         |InternalRow ${ev.value} =
         |  $ref.fold(${childGen.isNull} ? null : ${childGen.value});
         |boolean ${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    ev.copy(code = resultCode)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object ShingleProfile {
  /** struct(ss, mh) of a token-array column — ss = the doc's sorted
    * shingle-hash profile, mh = its k-permutation MinHash signature;
    * NULL when the doc has fewer than `nGram` tokens. */
  def profile(toks: Column, nGram: Int = 3, k: Int = 16): Column =
    ColumnBridge.column(
      ShingleProfile(ColumnBridge.expression(toks), nGram, k))
}
