package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}

/** Codegen'd MinHash signature over a shingle array.
  *
  * The `aggregate`/`zip_with` lambda composition in
  * [[graft.functions.TextFunctions.minhashSignature]] is evaluated
  * interpreted with per-element boxing — measured ~5 s for 5k docs × 64
  * perms at sf0.1, dominating the LSH dedup pipeline. This expression runs
  * the same computation as one primitive kernel loop
  * ([[SimhashShinglesKernel.minhashSignature]]), which both the
  * interpreted and the generated code call.
  *
  * Hash recipe matches the lambda composition EXACTLY (xxhash64(s) =
  * hashUTF8String(s, 42); xxhash64(h, p) = hashInt(p, hashLong(h, 42))), so
  * signatures — and therefore LSH candidates — are bit-identical; pinned in
  * TextExpressionsSpec.
  */
case class MinHashSignature(child: Expression, numPerms: Int)
    extends UnaryExpression with KernelExpression {

  override def prettyName: String = "minhash_signature"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    SimhashShinglesKernel.minhashSignature(input.asInstanceOf[ArrayData], numPerms)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"${kernelRef(SimhashShinglesKernel)}.minhashSignature($a, $numPerms)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd 64-bit SimHash over a token array
  * ([[SimhashShinglesKernel.simhash64]]): one pass accumulating the 64
  * per-bit majority votes in a local int array, then packing.
  *
  * Replaces the 3-operator composition in [[graft.operators.Dedup.simhash]]
  * (`explode(tokens) → xxhash64 → groupBy(id).agg(64 vote sums)`): the
  * explode pushes one row per token occurrence through a Generate and the
  * aggregate shuffles 64 longs per doc; as a scalar projection the simhash
  * column costs no shuffle at all. Hash recipe matches the composition
  * EXACTLY (xxhash64(tok) = hashUTF8String(tok, 42) — and the seed 42 for
  * a NULL token, like xxhash64(NULL); vote +1/-1 per occurrence, bit set
  * iff the vote sum is positive) — bit-identical per row, pinned in
  * TextExpressionsSpec. An EMPTY array yields NULL (the explode emitted no
  * row for such a doc, so it vanished from the old output; a NULL here
  * likewise drops out of downstream band joins instead of colliding all
  * empty docs at simhash 0).
  *
  * `portable = true` swaps the per-token hash for
  * [[PortableHashKernel.md5Head60]] (60 bits; bits 60–63 of the simhash are
  * then always 0 — harmless: banding and Hamming verification are
  * indifferent to constant bits). That mode is what lets a DuckDB oracle
  * recompute the simhash exactly (md5 is universal; xxhash64 is not) — see
  * PortableHashKernel. Same +1/−1 vote and strictly-positive bit rule in
  * both modes; a NULL token hashes to 42 in both (xxhash64(NULL) = seed;
  * kept identical so the modes differ ONLY in the hash family). */
case class SimHash64(child: Expression, portable: Boolean = false)
    extends UnaryExpression with KernelExpression {

  override def prettyName: String =
    if (portable) "simhash64_portable" else "simhash64"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    SimhashShinglesKernel.simhash64(input.asInstanceOf[ArrayData], portable)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => boxedKernelCall(ctx, ev,
      s"${kernelRef(SimhashShinglesKernel)}.simhash64($a, $portable)"))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd distinct word n-gram shingles over raw text: tokenize on the
  * single-space separator, join each n-token window with a space, keep
  * first occurrences.
  *
  * Replaces the `split → transform(sequence, concat_ws(slice)) →
  * array_distinct` composition in
  * [[graft.functions.TextFunctions.shingles]]: higher-order functions
  * (`transform`) evaluate interpreted with per-element Column machinery —
  * measured ~1.9 s just to shingle the sf0.1 documents table, the single
  * largest cost inside the LSH dedup pipelines. Output matches the
  * composition exactly — same strings, same first-occurrence order, empty
  * array below n tokens, empty-string tokens from repeated separators
  * preserved (Java split semantics with limit -1) — pinned in
  * TextExpressionsSpec. */
case class Shingles(child: Expression, n: Int)
    extends UnaryExpression with KernelExpression {

  require(n >= 1, s"shingle size $n < 1")

  override def prettyName: String = "shingles"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def inputTypes: Seq[DataType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    SimhashShinglesKernel.shingles(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"${kernelRef(SimhashShinglesKernel)}.shingles($a, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shared primitive kernels for the hashing and token expressions (object
  * methods so the generated code can call them — the loop itself is plain
  * JVM code either way; what matters is escaping the interpreted HOF
  * machinery). */
object SimhashShinglesKernel {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String

  private val space = UTF8String.fromString(" ")

  /** [[MinHashSignature]]: per shingle one string hash, then one `hashInt`
    * per permutation, taking minima in a local array. */
  def minhashSignature(arr: ArrayData, numPerms: Int): UnsafeArrayData = {
    val n = arr.numElements()
    val sig = Array.fill(numPerms)(Long.MaxValue)
    var i = 0
    while (i < n) {
      // null element hashes as the seed (xxhash64(NULL) = 42) — the same
      // rule simhash64 applies, keeping bit-parity with the composed
      // xxhash64-based reference instead of NPE'ing on a null slot
      val tok = if (arr.isNullAt(i)) 42L
        else XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      val seeded = XXH64.hashLong(tok, 42L)
      var p = 0
      while (p < numPerms) {
        val hp = XXH64.hashInt(p, seeded)
        if (hp < sig(p)) sig(p) = hp
        p += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** [[SimHash64]]: the 64 per-bit majority votes accumulated in a local
    * int array, then packed; null for an empty array. */
  def simhash64(arr: ArrayData, portable: Boolean): java.lang.Long = {
    val n = arr.numElements()
    if (n == 0) return null
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h =
        if (arr.isNullAt(i)) 42L // xxhash64(NULL) = the seed
        else if (portable) PortableHashKernel.md5Head60(arr.getUTF8String(i))
        else XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      var b = 0
      while (b < 64) {
        votes(b) += (((h >>> b) & 1L).toInt << 1) - 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }

  /** Java `split(" ", -1)` semantics (what Spark's split gives the old
    * composition): repeated separators yield empty tokens, trailing empties
    * kept. */
  def splitOnSpace(s: UTF8String): Array[UTF8String] = s.split(space, -1)

  /** Per-word exact-match counts in ONE tokenization pass (for
    * [[TokenCounts]]). Linear scan per token over the (small, constant)
    * word list — no hashing needed for ≤ a dozen markers. */
  def countTokens(s: UTF8String, targets: Array[UTF8String]): UnsafeArrayData = {
    val toks = splitOnSpace(s)
    val counts = new Array[Int](targets.length)
    var i = 0
    while (i < toks.length) {
      var w = 0
      while (w < targets.length) {
        if (toks(i).equals(targets(w))) counts(w) += 1
        w += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(counts)
  }

  /** Count of tokens exactly equal to `target` (for [[TokenOccurrences]]). */
  def countToken(s: UTF8String, target: UTF8String): Int = {
    val toks = splitOnSpace(s)
    var c = 0
    var i = 0
    while (i < toks.length) {
      if (toks(i).equals(target)) c += 1
      i += 1
    }
    c
  }

  /** [[Shingles]]: distinct n-gram shingles of the space-split text in
    * first-occurrence order; empty below n tokens. */
  def shingles(s: UTF8String, n: Int): ArrayData = {
    val toks = splitOnSpace(s)
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= toks.length - n) {
      val parts = new Array[UTF8String](n)
      System.arraycopy(toks, i, parts, 0, n)
      seen.add(UTF8String.concatWs(space, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }
}

/** Codegen'd count of exact-match occurrences of a constant token:
  * replaces `size(filter(split(text, " "), t => t === w))` — the `filter`
  * HOF evaluates interpreted, and langId runs SIX of them per row.
  * Matching is on the split tokens (repeated separators yield empty tokens,
  * Java split limit -1), identical to the composition (parity pinned in
  * TextExpressionsSpec). */
case class TokenOccurrences(child: Expression, word: String)
    extends UnaryExpression with KernelExpression {

  override def prettyName: String = "token_occurrences"
  override def dataType: DataType = IntegerType
  override protected def inputTypes: Seq[DataType] = Seq(StringType)

  private lazy val target =
    org.apache.spark.unsafe.types.UTF8String.fromString(word)

  override def nullSafeEval(input: Any): Any =
    SimhashShinglesKernel.countToken(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], target)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("targetToken", target,
      classOf[org.apache.spark.unsafe.types.UTF8String].getName)
    defineCodeGen(ctx, ev, a => s"${kernelRef(SimhashShinglesKernel)}.countToken($a, $t)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd multi-word exact-match counter: one tokenization pass counting
  * every marker word — [[TokenOccurrences]] per word still re-split the
  * text per expression (langId = six splits per row). Consumers reference
  * the SAME TokenCounts subtree from several projections of one select, so
  * whole-stage codegen's subexpression elimination evaluates it once. */
case class TokenCounts(child: Expression, words: Seq[String])
    extends UnaryExpression with KernelExpression {

  require(words.nonEmpty, "words must be non-empty")

  override def prettyName: String = "token_counts"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def inputTypes: Seq[DataType] = Seq(StringType)

  private lazy val targets: Array[org.apache.spark.unsafe.types.UTF8String] =
    words.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray

  override def nullSafeEval(input: Any): Any =
    SimhashShinglesKernel.countTokens(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], targets)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the JAVA SOURCE array syntax, not classOf[...].getName — that
    // returns the JVM binary name ("[Lorg...;"), which janino cannot
    // parse as a cast: the whole stage would fail to compile and fall
    // back to interpreted execution (pinned compiled in the spec)
    val t = ctx.addReferenceObj("targetTokens", targets,
      "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, a => s"${kernelRef(SimhashShinglesKernel)}.countTokens($a, $t)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-ROW term-frequency aggregation: tokens → array<struct<term, tf>>.
  *
  * The point is the shuffle it deletes. A document's tokens arrive in ONE
  * row, so the (doc, term) frequency relation every tf-idf/BM25-style
  * scorer starts from needs no `explode → groupBy(id, term)` exchange at
  * all — q81's old plan shuffled that 155M-row relation at the 100× dir
  * (and Spark's exchange reuse only deduplicated one of its three
  * consumers; the corpus tokenized three times). As a scalar projection
  * the tf map costs zero network and the corpus tokenizes once per
  * consuming pass.
  *
  * The kernel is one LinkedHashMap pass per row (insertion-ordered so the
  * output is deterministic; parity with the explode+groupBy twin is pinned
  * order-insensitively in TextExpressionsSpec). Codegen emits a static
  * kernel call, keeping the projection inside the enclosing
  * whole-stage-codegen span.
  */
object TermCountsKernel {
  def eval(arr: ArrayData): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val n = arr.numElements()
    val m = new java.util.LinkedHashMap[org.apache.spark.unsafe.types.UTF8String, Integer](
      Math.max(16, n))
    var i = 0
    while (i < n) {
      // split() never yields nulls; the guard keeps a hand-built array
      // with a null slot from NPE'ing (empty string, like the composed twin)
      val t = if (arr.isNullAt(i))
        org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8
      else arr.getUTF8String(i)
      val prev = m.get(t)
      if (prev == null)
        // defensive clone on first insert: the input UTF8String may view a
        // buffer Spark reuses across rows (same rule as the portable-hash
        // memo); lookups compare by content so the uncloned probe is fine
        m.put(t.clone(), Integer.valueOf(1))
      else m.put(t, Integer.valueOf(prev.intValue() + 1))
      i += 1
    }
    val out = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new GenericInternalRow(Array[Any](e.getKey, e.getValue.intValue()))
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Single-pass ASCII text normalization kernel: the fused equivalent of
  * `trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "),
  * " +", " "))` — four full string rewrites (each with its own allocation,
  * two through the regex engine) collapsed into one byte scan with one
  * output buffer. Measured 25.4 s → kernel cost ~1-2 s for the 100× stress
  * documents table; at 100 TB this chain runs once per document per
  * curation pass, so constant-factor per-row cost IS the scale story for
  * map-only stages.
  *
  * Unicode parity with the composed chain (spec-pinned): `lower` applies
  * full Java case mapping BEFORE the regex strips non-[a-z0-9 ] chars, and
  * exactly two code points lower-case INTO ASCII alphanumerics —
  * U+212A KELVIN SIGN → 'k' and U+0130 LATIN CAPITAL I WITH DOT ABOVE →
  * 'i' + U+0307 (the combining dot then becomes a space). Both are
  * special-cased; every other non-ASCII sequence maps to a space run, which
  * collapse makes indistinguishable from the per-code-point replacement the
  * regex performs. */
object NormalizeKernel {
  import org.apache.spark.unsafe.types.UTF8String

  def normalizeAscii(s: UTF8String): UTF8String = {
    val n = s.numBytes
    // output never exceeds input: ASCII 1→1, U+212A 3→1, U+0130 2→2
    // ('i' + collapsed space), other multi-byte k→1 space
    val out = new Array[Byte](n)
    var i = 0
    var o = 0
    var pendingSpace = false
    while (i < n) {
      val ub = s.getByte(i) & 0xff
      if (ub < 0x80) {
        var c = ub
        if (c >= 'A' && c <= 'Z') c += 32
        if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
          if (pendingSpace && o > 0) { out(o) = ' '; o += 1 }
          pendingSpace = false
          out(o) = c.toByte; o += 1
        } else pendingSpace = true
        i += 1
      } else if (ub == 0xe2 && i + 2 < n && (s.getByte(i + 1) & 0xff) == 0x84
          && (s.getByte(i + 2) & 0xff) == 0xaa) {
        // U+212A KELVIN SIGN lowers to ASCII 'k'
        if (pendingSpace && o > 0) { out(o) = ' '; o += 1 }
        pendingSpace = false
        out(o) = 'k'; o += 1
        i += 3
      } else if (ub == 0xc4 && i + 1 < n && (s.getByte(i + 1) & 0xff) == 0xb0) {
        // U+0130 lowers to 'i' + U+0307; the combining dot becomes a space
        if (pendingSpace && o > 0) { out(o) = ' '; o += 1 }
        out(o) = 'i'; o += 1
        pendingSpace = true
        i += 2
      } else {
        pendingSpace = true
        i += (if (ub >= 0xf0) 4 else if (ub >= 0xe0) 3 else 2)
      }
    }
    UTF8String.fromBytes(out, 0, o)
  }
}

case class NormalizeAscii(child: Expression)
    extends UnaryExpression with KernelExpression {

  override def prettyName: String = "normalize_ascii"
  override def dataType: DataType = StringType
  override protected def inputTypes: Seq[DataType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    NormalizeKernel.normalizeAscii(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"${kernelRef(NormalizeKernel)}.normalizeAscii($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class TermCounts(child: Expression)
    extends UnaryExpression with KernelExpression {

  override def prettyName: String = "term_counts"

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", IntegerType, nullable = false))),
    containsNull = false)
  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    TermCountsKernel.eval(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"${kernelRef(TermCountsKernel)}.eval($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The fixed ordered BPE merge table q118 applies (8 rules incl. one
  * second-order rule). One canonical copy: the kernel, the composed
  * replace-chain twin ([[graft.queries.Analytics.bpeApplyComposed]]) and
  * the DuckDB oracle all read this list. */
object BpeMerges {
  val table: Array[(String, String)] = Array(
    "t" -> "h", "i" -> "n", "e" -> "r", "a" -> "n",
    "o" -> "n", "r" -> "e", "t" -> "i", "th" -> "e")
}

object BpeKernel {
  import org.apache.spark.unsafe.types.UTF8String

  /** Applies [[BpeMerges.table]] rule by rule, each rule one
    * left-to-right non-overlapping pass (a freshly merged unit is not
    * re-eligible within the same pass — exactly the semantics of the
    * double-space-lattice replace() chain it replaces, parity-pinned in
    * SampleStatsSpec). Works on a local unit array: no lattice string,
    * no 8× string-copy churn — the composed chain allocated ~3× the
    * corpus per rule and measured 237 s at the 1000× dir. */
  def eval(tok: UTF8String): ArrayData = {
    val s = tok.toString
    var units = new Array[String](s.length)
    var ci = 0
    while (ci < s.length) { units(ci) = String.valueOf(s.charAt(ci)); ci += 1 }
    var n = s.length
    var j = 0
    while (j < BpeMerges.table.length) {
      val a = BpeMerges.table(j)._1
      val b = BpeMerges.table(j)._2
      val out = new Array[String](n)
      var oi = 0
      var i = 0
      while (i < n) {
        if (i + 1 < n && units(i) == a && units(i + 1) == b) {
          out(oi) = a + b; oi += 1; i += 2
        } else { out(oi) = units(i); oi += 1; i += 1 }
      }
      units = out
      n = oi
      j += 1
    }
    val res = new Array[AnyRef](n)
    var k = 0
    while (k < n) { res(k) = UTF8String.fromString(units(k)); k += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(res)
  }
}

/** `bpe_units(token)` → ARRAY<STRING> of subword units after the fixed
  * merge table. */
case class BpeUnits(child: Expression)
    extends UnaryExpression with KernelExpression {

  override def prettyName: String = "bpe_units"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def inputTypes: Seq[DataType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    BpeKernel.eval(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"${kernelRef(BpeKernel)}.eval($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Kernel for [[BigramHashes]] — one static entry so codegen is a single
  * compiled call (the Shingles pattern). */
object BigramHashesKernel {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String

  private val Space = UTF8String.fromString(" ")

  /** Adjacent-pair (md5Head60("w1 w2"), md5Head60(w1)) rows for a token
    * array — n-1 rows for n tokens, empty below 2. Null-element semantics
    * mirror the composed form exactly: concat_ws skips null parts (so the
    * joined key degrades to the surviving token, or "" for a null pair)
    * and h1 is NULL for a null head token, like md5(NULL). */
  def bigramHashes(arr: ArrayData): GenericArrayData = {
    val n = arr.numElements()
    val m = math.max(0, n - 1)
    val rows = new Array[Any](m)
    var i = 0
    while (i < m) {
      val x = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      val y = if (arr.isNullAt(i + 1)) null else arr.getUTF8String(i + 1)
      val joined =
        if (x != null && y != null) UTF8String.concatWs(Space, x, y)
        else if (x != null) x
        else if (y != null) y
        else UTF8String.EMPTY_UTF8
      val row = new GenericInternalRow(2)
      // both hashes ride the thread-local md5 memo — Zipfian bigram and
      // head-word repeats skip the digest entirely
      row.update(0, PortableHashKernel.md5Head60(joined))
      if (x != null) row.update(1, PortableHashKernel.md5Head60(x))
      else row.setNullAt(1)
      rows(i) = row
      i += 1
    }
    new GenericArrayData(rows)
  }
}

/** Codegen'd adjacent-bigram hashing for q126's tokenizer projection:
  * replaces the `zip_with(slice, slice, struct(md5Head60(concat_ws(..)),
  * md5Head60(x)))` HOF chain, which evaluates interpreted with a boxed
  * lambda frame per bigram and builds an intermediate hex STRING per hash
  * (md5 → hex → substring → conv → cast). The kernel walks the token
  * array once, digests raw UTF-8 bytes straight to the 60-bit long
  * ([[PortableHashKernel.md5Head60]], thread-local memo), and emits the
  * (hbg, h1) struct rows directly. Value-identical to the composition —
  * incl. concat_ws null-skipping and md5(NULL) → NULL h1 — pinned in
  * TextExpressionsSpec. */
case class BigramHashes(child: Expression)
    extends UnaryExpression with KernelExpression {

  override def prettyName: String = "bigram_hashes"
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("hbg", LongType, nullable = false),
      StructField("h1", LongType, nullable = true))),
    containsNull = false)
  override protected def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    BigramHashesKernel.bigramHashes(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"${kernelRef(BigramHashesKernel)}.bigramHashes($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
