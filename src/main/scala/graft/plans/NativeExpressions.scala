package graft.plans

import graft.functions.Dna
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hottest domain scalars — the
  * preference ladder from SURVEY.md §7.3: built-in composition first,
  * then a custom `Expression` with codegen (this file), then UDFs.
  *
  * `RevCompExpression` generates straight-line Java (no row boxing, no
  * Scala closure dispatch) and stays inside whole-stage codegen;
  * `KmerGenerator` is a true Catalyst Generator: it streams k-mers to
  * the consumer without materializing the full substring array the
  * `transform(sequence(...))` formulation builds per row.
  */
object NativeDna {

  /** Codegen-ed revcomp core, shared by interpreted + generated paths.
    * Public + static-shaped so generated code can call it.
    */
  def revcomp(s: UTF8String): UTF8String =
    UTF8String.fromString(Dna.reverseComplement(s.toString))

  /** Codegen-ed codon translation core (X2). */
  def translateDna(s: UTF8String): UTF8String =
    UTF8String.fromString(Dna.translateDna(s.toString))

  /** Unicode NFC normalization core — composes decomposed sequences
    * (e + U+0301 → é) so visually-identical text hashes identically:
    * the standard preprocessing step before exact/near dedup on
    * multilingual corpora. ASCII fast path: bytes==chars means no
    * combining sequences, return the input untouched (no String
    * round-trip on the common case).
    */
  def nfc(s: UTF8String): UTF8String = {
    if (s.getBytes.length == s.numChars()) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))
  }

  /** Accent stripping with DuckDB `strip_accents` parity: NFD
    * decomposition, drop combining marks (Mn), NFC recompose — pure
    * ASCII stays on the byte==char fast path like [[nfc]].
    */
  def stripAccents(s: UTF8String): UTF8String = {
    if (s.getBytes.length == s.numChars()) s
    else UTF8String.fromString(java.text.Normalizer.normalize(
      java.text.Normalizer.normalize(s.toString,
        java.text.Normalizer.Form.NFD)
        .replaceAll("\\p{Mn}+", ""),
      java.text.Normalizer.Form.NFC))
  }

  /** Quality-string cores (X6/X7) — EXACT twins of the HOF forms
    * `aggregate(split(c, ""), 0, acc + ascii(ch))` etc.: ascii() is the
    * code point of the (single-code-point) element, so both loops step
    * by CODE POINT. ASCII fast path sums bytes directly (the Phred+33
    * domain); the general path walks code points.
    */
  def qualityCodePointSum(s: UTF8String): Long = {
    val nb = s.numBytes()
    if (nb == s.numChars()) {
      val b = s.getBytes
      var sum = 0L
      var i = 0
      while (i < nb) { sum += (b(i) & 0xff); i += 1 }
      sum
    } else {
      val str = s.toString
      var sum = 0L
      var i = 0
      while (i < str.length) {
        val cp = str.codePointAt(i)
        sum += cp
        i += Character.charCount(cp)
      }
      sum
    }
  }

  def lowQualityCount(s: UTF8String, t: Int): Int = {
    val nb = s.numBytes()
    if (nb == s.numChars()) {
      val b = s.getBytes
      var n = 0
      var i = 0
      while (i < nb) { if ((b(i) & 0xff) < t) n += 1; i += 1 }
      n
    } else {
      val str = s.toString
      var n = 0
      var i = 0
      while (i < str.length) {
        val cp = str.codePointAt(i)
        if (cp < t) n += 1
        i += Character.charCount(cp)
      }
      n
    }
  }

  /** Whitespace tokenization core — EXACTLY
    * `filter(split(trim(c), "\\s+"), _ != "")`: trim strips 0x20 spaces
    * only (the StringTrim rule), the split is Java regex `\s+` (ASCII
    * whitespace classes), empties drop. One compiled-regex pass per row;
    * the shared pattern is stateless and thread-safe.
    */
  private val wsPattern = java.util.regex.Pattern.compile("\\s+")
  def tokens(s: UTF8String): GenericArrayData = {
    val parts = wsPattern.split(s.trim().toString, -1)
    var n = 0
    var i = 0
    while (i < parts.length) { if (parts(i).nonEmpty) n += 1; i += 1 }
    val out = new Array[Any](n)
    var j = 0
    i = 0
    while (i < parts.length) {
      if (parts(i).nonEmpty) { out(j) = UTF8String.fromString(parts(i)); j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Web-corpus cores ([[graft.functions.Web]]): single-pass HTML→text
    * and URL canonicalization, codegen-callable like the rest of this
    * object. Both run once per crawled document — the hottest scalars
    * of a web-ingestion pipeline after tokenization.
    */
  def htmlToText(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.functions.Web.htmlToText(s.toString))

  def canonicalUrl(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.functions.Web.canonicalizeUrl(s.toString))

  /** May return null — "drop this link" ([[graft.functions.Web
    * .resolveUrl]]); the expression wrapper propagates it as SQL NULL.
    */
  def resolveUrl(base: UTF8String, href: UTF8String): UTF8String = {
    val r = graft.functions.Web.resolveUrl(base.toString, href.toString)
    if (r == null) null else UTF8String.fromString(r)
  }
}

/** X1 as a native unary expression with whole-stage codegen support. */
case class RevCompExpression(child: Expression) extends UnaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"revcomp_native requires STRING, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "revcomp_native"

  override protected def nullSafeEval(v: Any): Any =
    NativeDna.revcomp(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.NativeDna.revcomp($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Whitespace tokenizer as a native codegen expression. The HOF form
  * (`filter(split(...), lambda)`) is CodegenFallback: the per-element
  * predicate interprets AND the fallback breaks whole-stage codegen for
  * the entire enclosing projection — every text query paid that. This
  * stays inside the fused stage and runs one compiled-regex pass per
  * row. Registered as `tokens_native`; [[graft.functions.TextFunctions
  * .tokens]] builds it directly.
  */
case class TokensExpression(child: Expression) extends UnaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"tokens_native requires STRING, got ${child.dataType.catalogString}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "tokens_native"

  override protected def nullSafeEval(v: Any): Any =
    NativeDna.tokens(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.NativeDna.tokens($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** X6 as a native expression: mean Phred score = code-point sum /
  * numChars, one byte loop per read instead of a per-char
  * split("")+aggregate HOF (which allocated one single-char string AND
  * one interpreted lambda eval per base — at 100 TB of reads, the
  * hottest scalar in the quality-filter path). NULL on the empty
  * string — a deliberate improvement over the HOF form, whose
  * sum/length(=0) division THREW under Spark 4's default ANSI mode
  * (the try_divide semantics are the safe ones for a data-quality
  * scalar).
  */
case class AvgQualityExpression(child: Expression) extends UnaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"avg_quality_native requires STRING, got ${child.dataType.catalogString}")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "avg_quality_native"

  override protected def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String]
    val n = s.numChars()
    if (n == 0) null
    else NativeDna.qualityCodePointSum(s).toDouble / n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // freshName, not a fixed local: with a non-nullable child the code
      // isn't wrapped in its own block, and two instances in one codegen
      // scope would redeclare the variable (janino error → silent
      // interpreted fallback)
      val n = ctx.freshName("n")
      s"""
      int $n = $c.numChars();
      if ($n == 0) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = (double) graft.plans.NativeDna.qualityCodePointSum($c) / $n;
      }
    """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** X7 as a native expression: count of code points below the threshold
  * (same one-pass loop as [[AvgQualityExpression]]).
  */
case class LowQualityCountExpression(child: Expression, threshold: Expression)
    extends BinaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def left: Expression = child
  override def right: Expression = threshold
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && threshold.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"low_quality_count_native requires (STRING, INT), got " +
        s"(${child.dataType.catalogString}, ${threshold.dataType.catalogString})")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "low_quality_count_native"

  override protected def nullSafeEval(s: Any, t: Any): Any =
    NativeDna.lowQualityCount(s.asInstanceOf[UTF8String], t.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (s, t) => s"graft.plans.NativeDna.lowQualityCount($s, $t)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(child = newLeft, threshold = newRight)
}

/** X2 as a native unary expression: the 64-entry codon table compiled
  * into JIT-ed Scala, invoked from whole-stage-generated code — replaces
  * the per-row Scala UDF (closure dispatch + row boxing) in q24.
  */
case class TranslateDnaExpression(child: Expression) extends UnaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"translate_dna_native requires STRING, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "translate_dna_native"

  override protected def nullSafeEval(v: Any): Any =
    NativeDna.translateDna(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.NativeDna.translateDna($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Unicode NFC normalization as a native unary expression (whole-stage
  * codegen): text-pipeline preprocessing so canonically-equivalent
  * strings fingerprint identically before dedup.
  */
case class NfcNormalizeExpression(child: Expression) extends UnaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_native requires STRING, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_native"

  override protected def nullSafeEval(v: Any): Any =
    NativeDna.nfc(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.NativeDna.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class StripAccentsExpression(child: Expression)
    extends UnaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"strip_accents_native requires STRING, got " +
        child.dataType.catalogString)
  override def dataType: DataType = StringType
  override def prettyName: String = "strip_accents_native"

  override protected def nullSafeEval(v: Any): Any =
    NativeDna.stripAccents(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.NativeDna.stripAccents($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Mojibake repair kernel (the deterministic ftfy-core subset): detect
  * and undo UTF-8 text that was mis-decoded as CP-1252/Latin-1 and
  * re-encoded ("Ã¤" → "ä"), including the double-encoded form. Table
  * driven, zero heuristics beyond the decision rule below — the same
  * rule is replayable byte-exactly, which is what makes it safe to run
  * unsupervised over 100 TB of crawl text.
  *
  * One repair round: every char must map to a byte under SLOPPY
  * CP-1252 (the published table, [[graft.functions.Cp1252]], plus the
  * five undefined 0x80–0x9F slots as their C1 code points — the
  * "sloppy-windows-1252" convention mojibake actually round-trips
  * through); the byte string must then decode as STRICT UTF-8 with at
  * least one multibyte sequence. If any condition fails the text is
  * returned unchanged — genuine CP-1252/Latin-1 text (a lone "é") is
  * never valid UTF-8, so it is never touched. Rounds iterate to a
  * fixed point (≤ 3), which unwinds double-encoding.
  */
object NativeText {

  def fixEncodingOnce(s: String): String = {
    var hasHigh = false
    var i = 0
    while (i < s.length && !hasHigh) {
      if (s.charAt(i) >= 0x80) hasHigh = true
      i += 1
    }
    if (!hasHigh) return s // pure ASCII: nothing to repair
    val bytes = new Array[Byte](s.length)
    i = 0
    while (i < s.length) {
      val cp = s.charAt(i).toInt
      val b =
        if (cp >= 0x80 && cp <= 0x9f) cp // sloppy C1 fallback
        else graft.functions.Cp1252.fromChar(cp)
      if (b < 0) return s // not CP-1252-encodable: not this mojibake class
      bytes(i) = b.toByte
      i += 1
    }
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try {
      val out = dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
      // a successful strict decode of a string with high bytes always
      // consumed a multibyte sequence (a lone high byte is malformed),
      // so out != s here; returned as the repaired round
      out
    } catch {
      case _: java.nio.charset.CharacterCodingException => s
    }
  }

  def fixEncoding(u: UTF8String): UTF8String = {
    var cur = u.toString
    var rounds = 0
    var changed = true
    while (changed && rounds < 3) {
      val nxt = fixEncodingOnce(cur)
      changed = nxt != cur
      cur = nxt
      rounds += 1
    }
    UTF8String.fromString(cur)
  }

  /** The CORRUPTION this kernel undoes — UTF-8 bytes mis-decoded as
    * sloppy CP-1252 — exposed for fixtures and specs (apply N times to
    * plant N-times-encoded mojibake).
    */
  private[graft] def mojibake(s: String): String = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(bytes.length)
    bytes.foreach { b =>
      val v = b & 0xff
      val cp = graft.functions.Cp1252.toChar(v)
      sb.append((if (cp >= 0) cp else v).toChar) // sloppy C1 fallback
    }
    sb.toString
  }
}

/** Encoding repair as a native codegen expression — the "clean the
  * crawl before any tokenizer" scalar. Narrow, zero shuffle; stays
  * inside whole-stage codegen like its NFC sibling.
  */
case class FixEncodingExpression(child: Expression) extends UnaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fix_encoding_native requires STRING, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "fix_encoding_native"

  override protected def nullSafeEval(v: Any): Any =
    NativeText.fixEncoding(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.NativeText.fixEncoding($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** X5 as a Catalyst Generator: one output row per k-mer, streamed —
  * the `explode(transform(sequence(...)))` formulation materializes an
  * O(len·k) array per row first; this emits substrings lazily.
  */
case class KmerGenerator(child: Expression, kExpr: Expression)
    extends Expression with Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def elementSchema: StructType =
    StructType(StructField("kmer", StringType) :: Nil)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val s = child.eval(input)
    val kv = kExpr.eval(input)
    if (s == null || kv == null) Iterator.empty
    else {
      val u = s.asInstanceOf[UTF8String]
      val k = kv.asInstanceOf[Int]
      val bytes = u.getBytes
      if (k <= 0) Iterator.empty
      else if (bytes.length == u.numChars()) {
        // ASCII fast path: fromBytes wraps the shared array with an
        // offset — one allocation per k-mer, no re-encode, no String.
        if (bytes.length < k) Iterator.empty
        else (0 to bytes.length - k).iterator.map { i =>
          InternalRow(UTF8String.fromBytes(bytes, i, k))
        }
      } else {
        val str = u.toString
        if (str.length < k) Iterator.empty
        else (0 to str.length - k).iterator.map { i =>
          InternalRow(UTF8String.fromString(str.substring(i, i + k)))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), kExpr = newChildren(1))
}

/** JIT-compiled vector kernel shared by the interpreted and generated
  * paths of [[DotProductExpression]].
  */
object NativeVec {
  /** Index-ordered double dot product — bit-identical to the
    * `aggregate(zip_with(x, y, (p, q) => p*q), 0.0, _+_)` HOF
    * formulation (same cast-then-multiply-then-add sequence, same
    * order), including its null semantics: unequal lengths or a null
    * element yield null.
    */
  def dot(l: org.apache.spark.sql.catalyst.util.ArrayData,
          r: org.apache.spark.sql.catalyst.util.ArrayData,
          lFloat: Boolean, rFloat: Boolean): java.lang.Double = {
    val n = l.numElements()
    if (n != r.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (l.isNullAt(i) || r.isNullAt(i)) return null
      val x = if (lFloat) l.getFloat(i).toDouble else l.getDouble(i)
      val y = if (rFloat) r.getFloat(i).toDouble else r.getDouble(i)
      acc += x * y
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Binary (1-bit sign) pack loop — EXACT twin of the HOF formulation
    * in [[graft.operators.Similarity.binaryQuantize]]'s original
    * `transform(sequence(...), aggregate(...))` form: ceil(n/32) 32-bit
    * blocks as longs (values in [0, 2³²)), bit j of block b set iff
    * element 32b+j >= 0 (-0.0 and +0.0 both set; NaN and NULL elements
    * leave the bit 0 — `when(x >= 0, ...).otherwise(0)` semantics).
    * A zero-length embedding packs to a zero-length codes array (the
    * HOF form's floor((0+31)/32)-1 = -1 fed sequence(0,-1) = [0,-1] —
    * two spurious zero blocks; advisor finding, fixed here).
    */
  def binaryQuantize(e: org.apache.spark.sql.catalyst.util.ArrayData,
                     isFloat: Boolean): GenericArrayData = {
    val n = e.numElements()
    val nBlocks = (n + 31) / 32
    val out = new Array[Any](nBlocks)
    var b = 0
    while (b < nBlocks) {
      var code = 0L
      val lim = math.min(32, n - b * 32)
      var j = 0
      while (j < lim) {
        val i = b * 32 + j
        if (!e.isNullAt(i)) {
          val x = if (isFloat) e.getFloat(i).toDouble else e.getDouble(i)
          if (x >= 0) code |= (1L << j)
        }
        j += 1
      }
      out(b) = java.lang.Long.valueOf(code)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Hamming distance over packed code arrays — EXACT twin of the
    * `aggregate(zip_with(a, b, bit_count(xor)), 0, _+_)` HOF form,
    * null semantics included: unequal lengths (zip_with pads with
    * nulls) or a null element yield null.
    */
  def hamming(l: org.apache.spark.sql.catalyst.util.ArrayData,
              r: org.apache.spark.sql.catalyst.util.ArrayData): java.lang.Integer = {
    val n = l.numElements()
    if (n != r.numElements()) return null
    var acc = 0
    var i = 0
    while (i < n) {
      if (l.isNullAt(i) || r.isNullAt(i)) return null
      acc += java.lang.Long.bitCount(l.getLong(i) ^ r.getLong(i))
      i += 1
    }
    java.lang.Integer.valueOf(acc)
  }

  /** HALF_UP rounding to 4 dp through the decimal string representation
    * — the exact semantics of Spark's `round(x, 4)` on doubles
    * (`Round` evaluates `BigDecimal.valueOf(x).setScale(4, HALF_UP)`),
    * so kernels using this agree bit-for-bit with the SQL formulation.
    */
  def round4(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
}

/** Native dot product over two array<float|double> columns.
  *
  * The `aggregate(zip_with(...))` HOF formulation is CodegenFallback —
  * every element dispatches through interpreted lambda closures, the
  * same trap that cost q21/q28 4-5× on k-mers. This expression compiles
  * to one JIT-ed while-loop and stays inside whole-stage codegen — the
  * hot kernel of every cosine operator (brute-force, ANN, IVF, k-means,
  * embedding near-dup).
  */
/** Hilbert xy2d as a native codegen expression — the unrolled Column
  * form re-references x/y several times per level, growing the
  * expression TREE ~5^order nodes (minutes of analysis at order 8);
  * this compiles to one kernel call inside whole-stage codegen.
  * Out-of-grid inputs fail loudly in the kernel.
  */
case class HilbertExpression(left: Expression, right: Expression,
    order: Int) extends BinaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hilbert_native requires BIGINT inputs, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "hilbert_native"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    graft.operators.Hilbert.xy2dLong(order,
      l.asInstanceOf[Long], r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.operators.Hilbert.xy2dLong($order, $l, $r);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class DotProductExpression(left: Expression, right: Expression)
    extends BinaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_native requires ARRAY<FLOAT|DOUBLE> inputs, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_native"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    NativeVec.dot(
      l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      isFloat(left), isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val tmp = ctx.freshName("dotRes")
      s"""
         |java.lang.Double $tmp = graft.plans.NativeVec.dot(
         |  $l, $r, ${isFloat(left)}, ${isFloat(right)});
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Binary (1-bit sign) quantization as a native codegen expression —
  * the pack loop of the quantization ladder's memory-extreme rung. The
  * HOF form (`transform(sequence(...), aggregate(sequence(...), ...))`)
  * is CodegenFallback: TWO nested interpreted lambda evals per packed
  * bit plus a materialized index array per block. This compiles to one
  * JIT-ed while-loop inside whole-stage codegen (`Probe scalars` measures
  * the gap).
  */
case class BinaryQuantizeExpression(child: Expression) extends UnaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"binary_quantize_native requires ARRAY<FLOAT|DOUBLE>, got " +
        child.dataType.catalogString)
  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "binary_quantize_native"

  override protected def nullSafeEval(v: Any): Any =
    NativeVec.binaryQuantize(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.NativeVec.binaryQuantize($c, $isFloat)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hamming distance over two packed code arrays (array<long>) as a
  * native codegen expression: one xor+popcount while-loop replacing the
  * interpreted `aggregate(zip_with(...))` HOF — the inner kernel of
  * binary-code search, where per-element interpreted dispatch costs 4×+
  * (`Probe scalars`).
  */
case class HammingDistanceExpression(left: Expression, right: Expression)
    extends BinaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hamming_native requires ARRAY<BIGINT> inputs, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "hamming_native"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    NativeVec.hamming(
      l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val tmp = ctx.freshName("hammRes")
      s"""
         |java.lang.Integer $tmp = graft.plans.NativeVec.hamming($l, $r);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.intValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Driver-precomputed centroid table for [[CosineArgmaxExpression]]:
  * one plain JVM object handed to generated code via `addReferenceObj`,
  * so the generated method is O(1) in k — the literal-baked per-centroid
  * argmax (k inline struct/round/dot expressions) blows past javac's
  * 64 KB method limit around k ≈ 10²-10³, exactly the range an IVF
  * coarse quantizer trains at. Rides the task-binary broadcast: Spark
  * serializes the plan (centroid literals included) once per stage and
  * broadcasts it, so executors receive the k×dim matrix once, not per
  * task.
  */
final class CosineArgmaxKernel(ids: Array[Long], vecs: Array[Array[Double]],
    norms: Array[Double], embIsFloat: Boolean) extends Serializable {

  /** Argmax of round(cos, 4) with ties toward the smaller centroid id —
    * replicating the literal path's `array_max` over
    * `struct(rc, -cid, cid)` bit for bit (same cast-then-multiply dot
    * order, same HALF_UP rounding). Comparison uses SPARK's total order
    * for doubles: NaN is GREATER than every real value and EQUAL to
    * itself (an all-NaN embedding still scores NaN, and the literal
    * array_max then prefers it / tie-breaks by cid — plain `>`/`==`
    * would instead keep whichever came first in centroid order). A
    * dim-mismatched OR zero-denominator centroid (zero-norm centroid
    * or row — cosine undefined, and ANSI mode would throw on the 0
    * divisor) scores null in the literal path and loses to any real
    * score, so it is skipped here; all-null falls back to the smallest
    * centroid id, as lexicographic max of (null, -cid) does.
    */
  def apply(e: org.apache.spark.sql.catalyst.util.ArrayData,
            norm: Double): Long = {
    // Spark SQL double ordering: NaN greatest, NaN == NaN, -0.0 == 0.0.
    def gtSpark(a: Double, b: Double): Boolean =
      if (a.isNaN) !b.isNaN else if (b.isNaN) false else a > b
    def eqSpark(a: Double, b: Double): Boolean =
      (a.isNaN && b.isNaN) || a == b
    val nDim = e.numElements()
    var best = Double.NaN
    var bestId = Long.MaxValue
    var found = false
    var ci = 0
    while (ci < ids.length) {
      val c = vecs(ci)
      val denom = norm * norms(ci)
      if (c.length == nDim && denom != 0.0) {
        var acc = 0.0
        var i = 0
        while (i < nDim) {
          val x = if (embIsFloat) e.getFloat(i).toDouble else e.getDouble(i)
          acc += x * c(i)
          i += 1
        }
        val rc = NativeVec.round4(acc / denom)
        if (!found || gtSpark(rc, best) ||
          (eqSpark(rc, best) && ids(ci) < bestId)) {
          best = rc; bestId = ids(ci); found = true
        }
      }
      ci += 1
    }
    if (found) bestId else fallback
  }

  /** The literal path's all-null fallback (lexicographic max of
    * (null, -cid) structs): the smallest centroid id. Used both when
    * every centroid is excluded and when the row's embedding/norm is
    * null (dot_native over a null-element array) — the literal structs
    * all score null rc there too, so parity demands a cid, not null.
    */
  val fallback: Long = if (ids.isEmpty) -1L else ids.min
}

/** Narrow per-row cosine argmax over a driver-held centroid table —
  * the large-k twin of the literal-baked k-means assignment (see
  * [[graft.operators.Similarity.kmeansAssign]]). Children 3-5 must be
  * FOLDABLE (centroid ids, vectors, norms as literals): they are
  * evaluated once on the driver into a [[CosineArgmaxKernel]].
  */
case class CosineArgmaxExpression(emb: Expression, norm: Expression,
    cids: Expression, cvecs: Expression, cnorms: Expression)
    extends Expression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def children: Seq[Expression] = Seq(emb, norm, cids, cvecs, cnorms)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_argmax_native"

  override def checkInputDataTypes(): TypeCheckResult = {
    val embOk = emb.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (!embOk || norm.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        "cosine_argmax_native requires (ARRAY<FLOAT|DOUBLE>, DOUBLE, ...)")
    else if (!(cids.foldable && cvecs.foldable && cnorms.foldable))
      TypeCheckResult.TypeCheckFailure(
        "cosine_argmax_native centroid arguments must be literals")
    else TypeCheckResult.TypeCheckSuccess
  }

  private lazy val kernel: CosineArgmaxKernel = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val idArr = cids.eval(null).asInstanceOf[ArrayData].toLongArray()
    val vecArr = cvecs.eval(null).asInstanceOf[ArrayData].toObjectArray(
      ArrayType(DoubleType)).map(_.asInstanceOf[ArrayData].toDoubleArray())
    val normArr = cnorms.eval(null).asInstanceOf[ArrayData].toDoubleArray()
    require(idArr.length == vecArr.length && idArr.length == normArr.length,
      s"centroid table arity mismatch: ${idArr.length}/${vecArr.length}/${normArr.length}")
    val isFloat = emb.dataType.asInstanceOf[ArrayType].elementType == FloatType
    new CosineArgmaxKernel(idArr, vecArr, normArr, isFloat)
  }

  override def eval(input: InternalRow): Any = {
    val e = emb.eval(input)
    val n = norm.eval(input)
    // null embedding/norm: the literal path's structs all score null rc
    // and array_max still yields the smallest cid — mirror it
    if (e == null || n == null) kernel.fallback
    else kernel(e.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      n.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val kRef = ctx.addReferenceObj("argmaxKernel", kernel,
      classOf[CosineArgmaxKernel].getName)
    val embCode = emb.genCode(ctx)
    val normCode = norm.genCode(ctx)
    ev.copy(code =
      code"""
        ${embCode.code}
        ${normCode.code}
        boolean ${ev.isNull} = false;
        long ${ev.value} = (${embCode.isNull} || ${normCode.isNull})
          ? $kRef.fallback()
          : $kRef.apply(${embCode.value}, ${normCode.value});
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(emb = newChildren(0), norm = newChildren(1), cids = newChildren(2),
      cvecs = newChildren(3), cnorms = newChildren(4))
}

/** Driver-precomputed codebook for [[L2ArgminExpression]] — the
  * squared-L2 twin of [[CosineArgmaxKernel]], for PQ subspace
  * assignment. The literal path (ksub inline struct/round/dot
  * expressions PER SUBSPACE — m·ksub struct nodes in one projection)
  * is correct but its analysis + codegen cost dominates small-input
  * runs: `Probe funnel` measured pqEncode at ~8 s on 2 000 rows, nearly
  * all of it plan compilation. One kernel call per subspace collapses
  * the tree to O(m).
  */
final class L2ArgminKernel(ids: Array[Long], vecs: Array[Array[Double]],
    normsSq: Array[Double], subIsFloat: Boolean) extends Serializable {

  /** Argmax of nd = −round(nv + ‖c‖² − 2·v·c, 4) with ties toward the
    * smaller centroid id — replicating the literal `array_max` over
    * `struct(nd, -cid, cid)` bit for bit: same dot accumulation order,
    * same HALF_UP rounding ([[NativeVec.round4]]), Spark's total order
    * for doubles (NaN greatest, NaN == NaN). A dim-mismatched centroid
    * scores null in the literal path (dot_native returns null) and
    * loses to every real score, so it is skipped; all-null falls back
    * to the smallest centroid id, as lexicographic max of (null, -cid)
    * does.
    */
  def apply(s: org.apache.spark.sql.catalyst.util.ArrayData,
            nv: Double): Long = {
    def gtSpark(a: Double, b: Double): Boolean =
      if (a.isNaN) !b.isNaN else if (b.isNaN) false else a > b
    def eqSpark(a: Double, b: Double): Boolean =
      (a.isNaN && b.isNaN) || a == b
    val nDim = s.numElements()
    var best = Double.NaN
    var bestId = Long.MaxValue
    var found = false
    var ci = 0
    while (ci < ids.length) {
      val c = vecs(ci)
      if (c.length == nDim) {
        var acc = 0.0
        var i = 0
        while (i < nDim) {
          val x = if (subIsFloat) s.getFloat(i).toDouble else s.getDouble(i)
          acc += x * c(i)
          i += 1
        }
        val nd = -NativeVec.round4(nv + normsSq(ci) - 2.0 * acc)
        if (!found || gtSpark(nd, best) ||
          (eqSpark(nd, best) && ids(ci) < bestId)) {
          best = nd; bestId = ids(ci); found = true
        }
      }
      ci += 1
    }
    if (found) bestId else fallback
  }

  def fallback: Long = if (ids.isEmpty) -1L else ids.min
}

/** Narrow per-row squared-L2 argmin over a driver-held subspace
  * codebook — PQ assignment as ONE expression node instead of ksub
  * inlined struct terms (see [[L2ArgminKernel]]). Children 2-4 must be
  * FOLDABLE (centroid ids, vectors, squared norms as literals): they
  * are evaluated once on the driver into the kernel.
  */
case class L2ArgminExpression(sub: Expression, nv: Expression,
    cids: Expression, cvecs: Expression, cnormsSq: Expression)
    extends Expression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def children: Seq[Expression] = Seq(sub, nv, cids, cvecs, cnormsSq)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "l2_argmin_native"

  override def checkInputDataTypes(): TypeCheckResult = {
    val subOk = sub.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (!subOk || nv.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        "l2_argmin_native requires (ARRAY<FLOAT|DOUBLE>, DOUBLE, ...)")
    else if (!(cids.foldable && cvecs.foldable && cnormsSq.foldable))
      TypeCheckResult.TypeCheckFailure(
        "l2_argmin_native codebook arguments must be literals")
    else TypeCheckResult.TypeCheckSuccess
  }

  private lazy val kernel: L2ArgminKernel = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val idArr = cids.eval(null).asInstanceOf[ArrayData].toLongArray()
    val vecArr = cvecs.eval(null).asInstanceOf[ArrayData].toObjectArray(
      ArrayType(DoubleType)).map(_.asInstanceOf[ArrayData].toDoubleArray())
    val normArr = cnormsSq.eval(null).asInstanceOf[ArrayData].toDoubleArray()
    require(idArr.length == vecArr.length && idArr.length == normArr.length,
      s"codebook arity mismatch: ${idArr.length}/${vecArr.length}/${normArr.length}")
    val isFloat = sub.dataType.asInstanceOf[ArrayType].elementType == FloatType
    new L2ArgminKernel(idArr, vecArr, normArr, isFloat)
  }

  override def eval(input: InternalRow): Any = {
    val s = sub.eval(input)
    val n = nv.eval(input)
    if (s == null || n == null) kernel.fallback
    else kernel(s.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      n.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val kRef = ctx.addReferenceObj("l2ArgminKernel", kernel,
      classOf[L2ArgminKernel].getName)
    val subCode = sub.genCode(ctx)
    val nvCode = nv.genCode(ctx)
    ev.copy(code =
      code"""
        ${subCode.code}
        ${nvCode.code}
        boolean ${ev.isNull} = false;
        long ${ev.value} = (${subCode.isNull} || ${nvCode.isNull})
          ? $kRef.fallback()
          : $kRef.apply(${subCode.value}, ${nvCode.value});
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(sub = newChildren(0), nv = newChildren(1), cids = newChildren(2),
      cvecs = newChildren(3), cnormsSq = newChildren(4))
}

/** Driver-held weight vector for [[LogisticScoreExpression]] — one
  * plain JVM object handed to generated code via `addReferenceObj`
  * (the [[CosineArgmaxKernel]] doctrine). The POINT of the reference
  * object is CODEGEN STABILITY across training iterations: the
  * gradient-descent driver loop re-plans its aggregation every
  * iteration with UPDATED weights, and weights inlined as double
  * literals change the generated Java source each time, so every
  * iteration pays a fresh Janino compilation (analysis + codegen
  * dominated q312's 40-iteration training at 4-5 s). With the weights
  * riding in `references[]`, the generated source is IDENTICAL across
  * iterations and the codegen cache hits after the first.
  *
  * Arithmetic is the EXACT twin of the literal fold
  * ([[graft.operators.Corpus.logisticScore]]): z accumulates left-
  * associated in feature order (((b + x₁w₁) + x₂w₂) + …), then
  * 1.0 / (1.0 + StrictMath.exp(-z)) — same IEEE op sequence, same exp
  * (Spark 4's `Exp` generates java.lang.StrictMath.exp; Math.exp may
  * differ by 1 ulp — the parity spec caught exactly that), so σ is
  * bit-identical and the training trajectory is unchanged.
  */
final class LogisticScoreKernel(w: Array[Double]) extends Serializable {
  def apply(xs: Array[Double]): Double = {
    var z = w(0)
    var i = 0
    while (i < xs.length) { z += xs(i) * w(i + 1); i += 1 }
    1.0 / (1.0 + java.lang.StrictMath.exp(-z))
  }
}

/** σ(b + Σ wᵢ·xᵢ) over a driver-held weight vector — the codegen-
  * stable scoring expression of the GD trainer. Child 0 must be
  * FOLDABLE (the weights as an array<double> literal): it is evaluated
  * once on the driver into a [[LogisticScoreKernel]]; the remaining
  * children are the feature columns (all double). NULL in any feature
  * yields NULL, matching the literal fold's null propagation.
  */
case class LogisticScoreExpression(weights: Expression,
    features: Seq[Expression]) extends Expression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def children: Seq[Expression] = weights +: features
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = features.exists(_.nullable)
  override def prettyName: String = "logistic_score_native"

  override def checkInputDataTypes(): TypeCheckResult = {
    val wOk = weights.foldable && (weights.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (!wOk)
      TypeCheckResult.TypeCheckFailure(
        "logistic_score_native weights must be an ARRAY<DOUBLE> literal")
    else if (features.isEmpty || features.exists(_.dataType != DoubleType))
      TypeCheckResult.TypeCheckFailure(
        "logistic_score_native features must be 1+ DOUBLE columns")
    else TypeCheckResult.TypeCheckSuccess
  }

  private lazy val kernel: LogisticScoreKernel = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val w = weights.eval(null).asInstanceOf[ArrayData].toDoubleArray()
    require(w.length == features.length + 1,
      s"${w.length} weights for ${features.length} features + bias")
    new LogisticScoreKernel(w)
  }

  override def eval(input: InternalRow): Any = {
    val xs = new Array[Double](features.length)
    var i = 0
    while (i < features.length) {
      val v = features(i).eval(input)
      if (v == null) return null
      xs(i) = v.asInstanceOf[Double]
      i += 1
    }
    kernel(xs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val kRef = ctx.addReferenceObj("logisticKernel", kernel,
      classOf[LogisticScoreKernel].getName)
    val fCodes = features.map(_.genCode(ctx))
    val anyNull =
      if (fCodes.exists(_.isNull.toString != "false"))
        fCodes.map(_.isNull).mkString(" || ")
      else "false"
    val xsArr = fCodes.map(_.value).mkString(", ")
    ev.copy(code =
      code"""
        ${fCodes.map(_.code).reduce(_ + _)}
        boolean ${ev.isNull} = $anyNull;
        double ${ev.value} = ${ev.isNull}
          ? 0.0 : $kRef.apply(new double[]{$xsArr});
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(weights = newChildren.head, features = newChildren.tail)
}

/** Driver-held PQ lookup tables for [[AdcSumExpression]] — the ADC
  * distance's per-subspace centroid vectors (ce) and squared norms
  * (nc), cid-indexed with zero-filled slots for emptied clusters,
  * exactly the tables the literal `element_at(typedlit(...))` form
  * holds inline. One kernel call computes the whole m-term sum:
  * Σ_s (qnv_s + nc_s[code_s]) − 2·(qsub_s · ce_s[code_s]), terms
  * accumulated left-to-right in subspace order and each dot in index
  * order — the exact IEEE op sequence of
  * `adcTerms(...).reduce(_ + _)`, so `round(…, 4)` over either form
  * is bit-identical (DedupSpec pins it). Null semantics mirror the
  * literal form: a dim-mismatched codebook slice or a null sub-vector
  * element nulls the SUM (dot_native's null propagated through Add).
  * Codes are read back from index tables on disk, so each is
  * bounds-checked like the literal form's `element_at`: an
  * out-of-range code nulls the sum with ANSI off (`failOnError`
  * false) and raises INVALID_ARRAY_INDEX_IN_ELEMENT_AT with ANSI on.
  *
  * Why a kernel: the literal form inlines m×(2 element_at over nested
  * array literals + a dot call + adds) per CANDIDATE PAIR — the inner
  * loop of the IVF-ADC funnel, Σ|cell|² evaluations per query batch.
  * One flat call with primitive loops cuts the per-pair constant and
  * shrinks the scoring projection's codegen.
  */
final class AdcSumKernel(ce: Array[Array[Array[Double]]],
    nc: Array[Array[Double]], failOnError: Boolean) extends Serializable {

  def apply(codes: Array[Long],
            qsubs: Array[org.apache.spark.sql.catalyst.util.ArrayData],
            qnvs: Array[Double]): java.lang.Double = {
    var acc = 0.0
    var s = 0
    while (s < codes.length) {
      val code = codes(s)
      if (code < 0 || code >= ce(s).length) {
        if (failOnError)
          throw org.apache.spark.sql.graft.Bridge.elementAtIndexError(
            (code + 1).toInt, ce(s).length)
        return null
      }
      val c = code.toInt
      val cev = ce(s)(c)
      val q = qsubs(s)
      if (q.numElements() != cev.length) return null
      var d = 0.0
      var i = 0
      while (i < cev.length) {
        if (q.isNullAt(i)) return null
        d += q.getDouble(i) * cev(i)
        i += 1
      }
      val t = qnvs(s) + nc(s)(c) - 2.0 * d
      acc = if (s == 0) t else acc + t
      s += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** The full m-subspace ADC distance as ONE expression node. Children:
  * two FOLDABLE lookup-table literals (ce: array<array<array<double>>>,
  * nc: array<array<double>>), then the m corpus codes (bigint), the m
  * query sub-vectors (array<double>) and the m query squared norms
  * (double). NULL in any data child yields NULL, matching the literal
  * form's propagation. `failOnError` is the session's ANSI mode when
  * the expression is built, as for `element_at`.
  */
case class AdcSumExpression(ceLit: Expression, ncLit: Expression,
    data: Seq[Expression],
    failOnError: Boolean =
      org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
    extends Expression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def children: Seq[Expression] = ceLit +: ncLit +: data
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "adc_sum_native"

  private def m: Int = data.length / 3

  override def checkInputDataTypes(): TypeCheckResult = {
    def isDblArr(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (!(ceLit.foldable && ncLit.foldable))
      TypeCheckResult.TypeCheckFailure(
        "adc_sum_native lookup tables must be literals")
    else if (data.isEmpty || data.length % 3 != 0)
      TypeCheckResult.TypeCheckFailure(
        "adc_sum_native needs 3m data children (codes, qsubs, qnvs)")
    else if (!data.slice(0, m).forall(_.dataType == LongType) ||
      !data.slice(m, 2 * m).forall(e => isDblArr(e.dataType)) ||
      !data.slice(2 * m, 3 * m).forall(_.dataType == DoubleType))
      TypeCheckResult.TypeCheckFailure(
        "adc_sum_native children must be m BIGINT codes, " +
          "m ARRAY<DOUBLE> sub-vectors, m DOUBLE norms")
    else TypeCheckResult.TypeCheckSuccess
  }

  private lazy val kernel: AdcSumKernel = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val ce = ceLit.eval(null).asInstanceOf[ArrayData]
      .toObjectArray(ArrayType(ArrayType(DoubleType)))
      .map(_.asInstanceOf[ArrayData]
        .toObjectArray(ArrayType(DoubleType))
        .map(_.asInstanceOf[ArrayData].toDoubleArray()))
    val nc = ncLit.eval(null).asInstanceOf[ArrayData]
      .toObjectArray(ArrayType(DoubleType))
      .map(_.asInstanceOf[ArrayData].toDoubleArray())
    require(ce.length == m && nc.length == m,
      s"lookup tables for ${ce.length}/${nc.length} subspaces, need $m")
    new AdcSumKernel(ce, nc, failOnError)
  }

  override def eval(input: InternalRow): Any = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val codes = new Array[Long](m)
    val qsubs = new Array[ArrayData](m)
    val qnvs = new Array[Double](m)
    var s = 0
    while (s < m) {
      val c = data(s).eval(input)
      val q = data(m + s).eval(input)
      val n = data(2 * m + s).eval(input)
      if (c == null || q == null || n == null) return null
      codes(s) = c.asInstanceOf[Long]
      qsubs(s) = q.asInstanceOf[ArrayData]
      qnvs(s) = n.asInstanceOf[Double]
      s += 1
    }
    kernel(codes, qsubs, qnvs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val kRef = ctx.addReferenceObj("adcKernel", kernel,
      classOf[AdcSumKernel].getName)
    val dCodes = data.map(_.genCode(ctx))
    val anyNull =
      if (dCodes.exists(_.isNull.toString != "false"))
        dCodes.map(_.isNull).mkString(" || ")
      else "false"
    val codesArr = dCodes.slice(0, m).map(_.value).mkString(", ")
    val qsubArr = dCodes.slice(m, 2 * m).map(_.value).mkString(", ")
    val qnvArr = dCodes.slice(2 * m, 3 * m).map(_.value).mkString(", ")
    val res = ctx.freshName("adcRes")
    val adCls = "org.apache.spark.sql.catalyst.util.ArrayData"
    ev.copy(code =
      code"""
        ${dCodes.map(_.code).reduce(_ + _)}
        boolean ${ev.isNull} = $anyNull;
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) {
          java.lang.Double $res = $kRef.apply(
            new long[]{$codesArr},
            new $adCls[]{$qsubArr},
            new double[]{$qnvArr});
          if ($res == null) { ${ev.isNull} = true; }
          else { ${ev.value} = $res.doubleValue(); }
        }
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(ceLit = newChildren(0), ncLit = newChildren(1),
      data = newChildren.drop(2))
}

/** HTML→text extraction as a native unary expression
  * ([[graft.functions.Web.htmlToText]] rules). A per-document string
  * pass this size written as SQL string functions would be a tower of
  * regexp_replace calls (each a separate compiled-regex traversal);
  * here it is one scan per document and the projection stays fused.
  */
case class HtmlToTextExpression(child: Expression) extends UnaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"html_to_text_native requires STRING, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "html_to_text_native"

  override protected def nullSafeEval(v: Any): Any =
    NativeDna.htmlToText(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.NativeDna.htmlToText($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** URL canonicalization as a native unary expression
  * ([[graft.functions.Web.canonicalizeUrl]] rules) — the key-building
  * scalar of URL-level dedup, run once per crawl record.
  */
case class CanonicalizeUrlExpression(child: Expression) extends UnaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"canonicalize_url_native requires STRING, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "canonicalize_url_native"

  override protected def nullSafeEval(v: Any): Any =
    NativeDna.canonicalUrl(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.NativeDna.canonicalUrl($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** RFC 3986 reference resolution (base, href) → absolute http(s) URL,
  * null = drop ([[graft.functions.Web.resolveUrl]] rules). Codegen
  * keeps link extraction inside the fused stage; the expression is
  * nullable beyond its children because resolution itself can reject
  * (fragment-only, mailto:/javascript:, non-http base).
  */
case class ResolveUrlExpression(left: Expression, right: Expression)
    extends BinaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"resolve_url_native requires (STRING, STRING), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "resolve_url_native"

  override protected def nullSafeEval(b: Any, h: Any): Any =
    NativeDna.resolveUrl(b.asInstanceOf[UTF8String],
      h.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, h) => s"""
      ${ev.value} = graft.plans.NativeDna.resolveUrl($b, $h);
      ${ev.isNull} = (${ev.value} == null);
    """)

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Registration: both an extensions class (for
  * `SparkSession.builder.withExtensions(new GraftExtensions)`) and a
  * runtime registry hook for already-built sessions.
  */
object NativeFunctions {
  private val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "revcomp_native" -> (exprs => RevCompExpression(exprs.head)),
    "translate_dna_native" -> (exprs => TranslateDnaExpression(exprs.head)),
    "kmers_native" -> (exprs => KmerGenerator(exprs(0), exprs(1))),
    "dot_native" -> (exprs => DotProductExpression(exprs(0), exprs(1))),
    "nfc_native" -> (exprs => NfcNormalizeExpression(exprs.head)),
    "fix_encoding_native" -> (exprs => FixEncodingExpression(exprs.head)),
    "strip_accents_native" -> (exprs => StripAccentsExpression(exprs.head)),
    "tokens_native" -> (exprs => TokensExpression(exprs.head)),
    "avg_quality_native" -> (exprs => AvgQualityExpression(exprs.head)),
    "low_quality_count_native" -> (exprs =>
      LowQualityCountExpression(exprs(0), exprs(1))),
    "cosine_argmax_native" -> (exprs =>
      CosineArgmaxExpression(exprs(0), exprs(1), exprs(2), exprs(3), exprs(4))),
    "l2_argmin_native" -> (exprs =>
      L2ArgminExpression(exprs(0), exprs(1), exprs(2), exprs(3), exprs(4))),
    "logistic_score_native" -> (exprs =>
      LogisticScoreExpression(exprs.head, exprs.tail)),
    "adc_sum_native" -> (exprs =>
      AdcSumExpression(exprs(0), exprs(1), exprs.drop(2))),
    "binary_quantize_native" -> (exprs => BinaryQuantizeExpression(exprs.head)),
    "hamming_native" -> (exprs =>
      HammingDistanceExpression(exprs(0), exprs(1))),
    "html_to_text_native" -> (exprs => HtmlToTextExpression(exprs.head)),
    "canonicalize_url_native" -> (exprs =>
      CanonicalizeUrlExpression(exprs.head)),
    "resolve_url_native" -> (exprs =>
      ResolveUrlExpression(exprs(0), exprs(1))))

  def register(spark: SparkSession): Unit =
    fns.foreach { case (name, builder) =>
      val reg = spark.sessionState.functionRegistry
      // Idempotent: queries call register per invocation, and the
      // replace-path WARN (14 lines per call) floods the stdout tail
      // the driver parses for the Bench JSON line.
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((FunctionIdentifier("revcomp_native"),
      new ExpressionInfo(classOf[RevCompExpression].getName, "revcomp_native"),
      (exprs: Seq[Expression]) => RevCompExpression(exprs.head)))
    e.injectFunction((FunctionIdentifier("translate_dna_native"),
      new ExpressionInfo(classOf[TranslateDnaExpression].getName, "translate_dna_native"),
      (exprs: Seq[Expression]) => TranslateDnaExpression(exprs.head)))
    e.injectFunction((FunctionIdentifier("kmers_native"),
      new ExpressionInfo(classOf[KmerGenerator].getName, "kmers_native"),
      (exprs: Seq[Expression]) => KmerGenerator(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("dot_native"),
      new ExpressionInfo(classOf[DotProductExpression].getName, "dot_native"),
      (exprs: Seq[Expression]) => DotProductExpression(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("nfc_native"),
      new ExpressionInfo(classOf[NfcNormalizeExpression].getName, "nfc_native"),
      (exprs: Seq[Expression]) => NfcNormalizeExpression(exprs.head)))
    e.injectFunction((FunctionIdentifier("fix_encoding_native"),
      new ExpressionInfo(classOf[FixEncodingExpression].getName,
        "fix_encoding_native"),
      (exprs: Seq[Expression]) => FixEncodingExpression(exprs.head)))
    e.injectFunction((FunctionIdentifier("strip_accents_native"),
      new ExpressionInfo(classOf[StripAccentsExpression].getName,
        "strip_accents_native"),
      (exprs: Seq[Expression]) => StripAccentsExpression(exprs.head)))
    e.injectFunction((FunctionIdentifier("tokens_native"),
      new ExpressionInfo(classOf[TokensExpression].getName, "tokens_native"),
      (exprs: Seq[Expression]) => TokensExpression(exprs.head)))
    e.injectFunction((FunctionIdentifier("avg_quality_native"),
      new ExpressionInfo(classOf[AvgQualityExpression].getName, "avg_quality_native"),
      (exprs: Seq[Expression]) => AvgQualityExpression(exprs.head)))
    e.injectFunction((FunctionIdentifier("low_quality_count_native"),
      new ExpressionInfo(classOf[LowQualityCountExpression].getName, "low_quality_count_native"),
      (exprs: Seq[Expression]) => LowQualityCountExpression(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("cosine_argmax_native"),
      new ExpressionInfo(classOf[CosineArgmaxExpression].getName, "cosine_argmax_native"),
      (exprs: Seq[Expression]) =>
        CosineArgmaxExpression(exprs(0), exprs(1), exprs(2), exprs(3), exprs(4))))
    e.injectFunction((FunctionIdentifier("l2_argmin_native"),
      new ExpressionInfo(classOf[L2ArgminExpression].getName, "l2_argmin_native"),
      (exprs: Seq[Expression]) =>
        L2ArgminExpression(exprs(0), exprs(1), exprs(2), exprs(3), exprs(4))))
    e.injectFunction((FunctionIdentifier("adc_sum_native"),
      new ExpressionInfo(classOf[AdcSumExpression].getName,
        "adc_sum_native"),
      (exprs: Seq[Expression]) =>
        AdcSumExpression(exprs(0), exprs(1), exprs.drop(2))))
    e.injectFunction((FunctionIdentifier("logistic_score_native"),
      new ExpressionInfo(classOf[LogisticScoreExpression].getName,
        "logistic_score_native"),
      (exprs: Seq[Expression]) =>
        LogisticScoreExpression(exprs.head, exprs.tail)))
    e.injectFunction((FunctionIdentifier("binary_quantize_native"),
      new ExpressionInfo(classOf[BinaryQuantizeExpression].getName, "binary_quantize_native"),
      (exprs: Seq[Expression]) => BinaryQuantizeExpression(exprs.head)))
    e.injectFunction((FunctionIdentifier("hamming_native"),
      new ExpressionInfo(classOf[HammingDistanceExpression].getName, "hamming_native"),
      (exprs: Seq[Expression]) => HammingDistanceExpression(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("html_to_text_native"),
      new ExpressionInfo(classOf[HtmlToTextExpression].getName, "html_to_text_native"),
      (exprs: Seq[Expression]) => HtmlToTextExpression(exprs.head)))
    e.injectFunction((FunctionIdentifier("canonicalize_url_native"),
      new ExpressionInfo(classOf[CanonicalizeUrlExpression].getName, "canonicalize_url_native"),
      (exprs: Seq[Expression]) => CanonicalizeUrlExpression(exprs.head)))
    e.injectFunction((FunctionIdentifier("resolve_url_native"),
      new ExpressionInfo(classOf[ResolveUrlExpression].getName, "resolve_url_native"),
      (exprs: Seq[Expression]) => ResolveUrlExpression(exprs(0), exprs(1))))
    // SQL INSERT INTO a registered snapshot view → manifest commit
    // (without this, Spark's generic file-source insert would write
    // raw files no manifest references — see SnapshotInsertRule)
    e.injectResolutionRule(session => graft.io.SnapshotInsertRule(session))
    // SQL DELETE FROM a snapshot view → pruned copy-on-write commit
    e.injectResolutionRule(session => graft.io.SnapshotDeleteRule(session))
    // SQL UPDATE ... SET on a snapshot view → targeted rewrite commit
    e.injectResolutionRule(session => graft.io.SnapshotUpdateRule(session))
    // SQL MERGE INTO a snapshot view → stats-bounded mergeInto commit
    e.injectResolutionRule(session => graft.io.SnapshotMergeRule(session))
    // count(*)/min/max over a snapshot view → manifest constants
    e.injectOptimizerRule(_ => new SnapshotMetadataAggRule)
  }
}
