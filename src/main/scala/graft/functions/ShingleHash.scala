package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signing: the `numHashes` minima of the linear hash
  * family `a_k·h + b_k` (mod 2^64) over the DISTINCT 64-bit polynomial
  * hashes `h` of every `n`-token shingle of a whitespace-tokenized
  * document, in one compiled pass — no intermediate shingle strings and
  * no per-shingle rows. `null` for a document with no shingles (fewer
  * than `n` tokens, empty text), so it signs nothing.
  *
  * Signing emits the signature directly instead of exploding one row
  * per shingle and folding 64 MIN columns per document: the base hashes
  * and the `numHashes` minima stay in one array loop per document
  * (a) without the interpreted higher-order-function shingle
  * construction (~4 µs per lambda eval — the WinnowHash lesson) and
  * (b) with one fixed-size row per document on any later shuffle. The
  * base hash covers the exact token characters with a separator
  * sentinel between tokens, so shingles equal iff their token sequences
  * are equal (modulo 64-bit collisions, which MinHash tolerates by
  * construction). Exact-Jaccard verification keeps using real string
  * shingles. [[SignatureMin]] folds the signatures of rows that share a
  * doc id.
  *
  * `charK > 0` enables the SPACELESS-SCRIPT fallback: a document the
  * doc-level dispatch classifies as spaceless (majority non-ASCII code
  * points AND — fewer than `n` whitespace tokens, or average token
  * length ≥ [[graft.text.TextAnalysis.SpacelessAvgTokenLen]] code
  * points — CJK/Thai text carries no ASCII spaces, so its "tokens" are
  * whole sentences; the majority guard keeps pure-ASCII URLs/base64/
  * short phrases on word semantics) hashes character `charK`-grams of
  * the raw text instead:
  * word shingling would otherwise collapse its near-dup granularity to
  * the whole document. K-grams are CODE-POINT windows (not UTF-16
  * units) so they agree with the Column-level
  * [[graft.text.TextAnalysis.charShingles]] (`substr` counts code
  * points) that exact-Jaccard verification and the X124 DuckDB oracle
  * use. The two granularities never mix: a doc is EITHER word- or
  * char-shingled, and cross-granularity band collisions are chance
  * (rejected by exact verification like any false candidate).
  *
  * `runLevel` (requires `charK > 0`) refines the mixed-doc case: a doc
  * that is NOT doc-level spaceless but contains long non-ASCII runs
  * ([[graft.text.TextAnalysis.RunPattern]]) emits word-shingle hashes
  * of the remainder (runs replaced by a space) PLUS char-gram hashes
  * of each run — so an embedded CJK/Thai quote signs at the same
  * granularity a standalone spaceless doc of that quote does, and the
  * two can meet in a band bucket. Within one doc the two hash families
  * collide only by 64-bit chance (tolerated like any collision).
  */
case class ShingleHash(
    child: Expression, n: Int, charK: Int, runLevel: Boolean, numHashes: Int)
    extends UnaryExpression {

  require(n >= 1, "shingle size must be >= 1")
  require(charK >= 0, "charK must be >= 0 (0 = word shingles only)")
  require(!runLevel || charK > 0, "runLevel requires charK > 0")
  require(numHashes >= 1 && numHashes <= ShingleHash.MaxHashes,
    s"numHashes must be in 1..${ShingleHash.MaxHashes}")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle_hash requires a string input, got ${child.dataType}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    ShingleHash.signDoc(input.asInstanceOf[UTF8String], n, charK, runLevel, numHashes)

  // a static call with the config literals baked into the generated
  // code — participates in whole-stage codegen like CodePointUnits,
  // keeping the MinHash signing stage fused
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.ShingleHash.signDoc($c, $n, $charK, $runLevel, $numHashes);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override def prettyName: String = "shingle_hash"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHash {
  /** [[graft.text.TextAnalysis.RunPattern]] compiled once — the same
    * Java regex the Column twin's regexp ops use.
    */
  private val RunRegex =
    java.util.regex.Pattern.compile(graft.text.TextAnalysis.RunPattern)

  private val P = 1099511628211L

  /** Size of the hash family: the largest supported `numHashes`. */
  val MaxHashes = 256

  /** Odd multipliers `famA(k)` and offsets `famB(k)` of the linear hash
    * family h_k(x) = famA(k)·x + famB(k) (mod 2^64): one polynomial hash per shingle,
    * `numHashes` cheap long transforms. Fixed seed ⇒ stable signatures
    * across runs; changing it is a [[graft.text.MinHashDedup.SignatureVersion]]
    * bump.
    */
  private val (famA, famB) = {
    val rng = new scala.util.Random(0x5eed5eedL)
    Array.fill(MaxHashes)((rng.nextLong() | 1L, rng.nextLong())).unzip
  }

  /** The signature of one document (see [[ShingleHash]]), static so
    * generated code can call it (interpreted eval shares it).
    */
  def signDoc(
      input: UTF8String, n: Int, charK: Int, runLevel: Boolean, numHashes: Int): ArrayData = {
    // MIN over the raw hashes equals MIN over the distinct ones, so the
    // dedup sort of hashDoc is skipped here
    val hs = rawHashes(input.toString, n, charK, runLevel)
    if (hs.isEmpty) return null
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var k = 0
      while (k < numHashes) {
        val v = h * famA(k) + famB(k)
        if (v < sig(k)) sig(k) = v
        k += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** The DISTINCT base hashes of one document, sorted — the shingle
    * universe [[signDoc]] minimizes over.
    */
  def hashDoc(s: String, n: Int, charK: Int, runLevel: Boolean): Array[Long] =
    dedupSorted(rawHashes(s, n, charK, runLevel))

  /** The per-document dispatch: base hashes of the word shingles, the
    * char grams or both, un-deduped.
    */
  private def rawHashes(s: String, n: Int, charK: Int, runLevel: Boolean): Array[Long] = {
    // whitespace tokens, empties dropped (same rule as TextAnalysis.tokens)
    val toks = s.split(' ').filter(_.nonEmpty)
    if (charK > 0) {
      // doc-level spaceless dispatch — MUST stay arithmetic-identical
      // to TextAnalysis.spaceless (Column) and the X124 oracle SQL:
      // 2 * nonAsciiCodePoints >= codePoints (the majority test that
      // keeps LATIN docs — URLs, base64, short phrases — on word
      // semantics under BOTH disjuncts) AND (ntokens < n OR
      // codePoints >= SpacelessAvgTokenLen * ntokens)
      var i = 0
      var cp = 0
      var nonAscii = 0
      while (i < s.length) {
        val c = s.codePointAt(i)
        cp += 1
        if (c > 0x7f) nonAscii += 1
        i += Character.charCount(c)
      }
      if (nonAscii.toLong * 2 >= cp &&
          (toks.length < n ||
            cp.toLong >= graft.text.TextAnalysis.SpacelessAvgTokenLen.toLong * toks.length))
        return charGramHashes(s, cp, charK)
      if (runLevel) {
        // mixed doc under run-level: word shingles of the remainder
        // (long non-ASCII runs replaced by a space — the exact Column
        // regexp_replace semantics, same Java regex) ∪ char grams of
        // each run. MUST stay set-identical to the Column twin
        // TextAnalysis.shinglesAuto(_, n, charK, runLevel = true).
        // Per-run hash arrays are collected and copied ONCE — a
        // growing concat per run would be quadratic in the run count
        // on this stage-0 hot path.
        val m = RunRegex.matcher(s)
        if (m.find()) {
          m.reset()
          val parts = scala.collection.mutable.ArrayBuffer[Array[Long]](
            wordShingleHashes(
              RunRegex.matcher(s).replaceAll(" ")
                .split(' ').filter(_.nonEmpty), n))
          while (m.find()) {
            val run = s.substring(m.start, m.end)
            parts += charGramHashes(run, run.codePointCount(0, run.length), charK)
          }
          val out = new Array[Long](parts.iterator.map(_.length).sum)
          var o = 0
          parts.foreach { a =>
            System.arraycopy(a, 0, out, o, a.length)
            o += a.length
          }
          return out
        }
        // no runs: plain word path below
      }
    }
    wordShingleHashes(toks, n)
  }

  /** Polynomial hashes of every `n`-token shingle (raw, un-deduped):
    * rolling per-token hashes combined with a separator multiplier so
    * token boundaries stay significant.
    */
  private def wordShingleHashes(toks: Array[String], n: Int): Array[Long] = {
    if (toks.length < n) return Array.empty[Long]
    val th = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      var h = 0L
      val t = toks(i)
      var j = 0
      while (j < t.length) { h = h * P + t.charAt(j); j += 1 }
      th(i) = h
      i += 1
    }
    val raw = new Array[Long](toks.length - n + 1)
    i = 0
    while (i + n <= toks.length) {
      var h = 0L
      var j = 0
      while (j < n) { h = h * P + 0x1f; h = h * P + th(i + j); j += 1 }
      raw(i) = h
      i += 1
    }
    raw
  }

  /** Polynomial hashes of every `charK`-code-point window of `s` (raw,
    * un-deduped) — the spaceless-script shingle base (`cp` = the
    * text's code-point count, already known to every caller). One
    * surrogate-aware pass to code points, so windows count code points
    * exactly like Column substr / DuckDB substring do.
    */
  private def charGramHashes(s: String, cp: Int, charK: Int): Array[Long] = {
    if (cp < charK) return Array.empty[Long]
    val cps = new Array[Int](cp)
    var i = 0
    var o = 0
    while (i < s.length) {
      val c = s.codePointAt(i)
      cps(o) = c
      o += 1
      i += Character.charCount(c)
    }
    val raw = new Array[Long](cp - charK + 1)
    i = 0
    while (i + charK <= cp) {
      var h = 0L
      var j = 0
      while (j < charK) { h = h * P + cps(i + j); j += 1 }
      raw(i) = h
      i += 1
    }
    raw
  }

  /** Dedup by primitive sort, avoiding per-shingle boxing. */
  private def dedupSorted(raw: Array[Long]): Array[Long] = {
    if (raw.isEmpty) return raw
    java.util.Arrays.sort(raw)
    var w = 0
    var i = 0
    while (i < raw.length) {
      if (w == 0 || raw(i) != raw(w - 1)) { raw(w) = raw(i); w += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(raw, w)
  }

}
