package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.DatasetBridge.{column, expression}
import org.apache.spark.sql.types._

/** Single-pass per-document text kernels, shared by the eval and codegen
  * paths of the expressions below. Each walks one token array and returns
  * a scalar/struct — the array-side replacement for an explode + shuffle
  * formulation: at 100 TB the exploded shingle stream is orders of
  * magnitude larger than the documents themselves, and all of it was
  * being shuffled only to be re-grouped by doc_id.
  */
object TextKernels {

  private val md5Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  private def shingleAt(toks: ArrayData, i: Int): String = {
    val sb = new java.lang.StringBuilder()
    sb.append(toks.getUTF8String(i).toString).append(' ')
    sb.append(toks.getUTF8String(i + 1).toString).append(' ')
    sb.append(toks.getUTF8String(i + 2).toString)
    sb.toString
  }

  /** 56-bit SimHash over the DISTINCT word-3-gram shingles of a token
    * array. Bit-compatible with the exploded formulation (and the DuckDB
    * oracle): per shingle h = first 14 hex chars of md5 (= first 7 digest
    * bytes, big-endian); signature bit b is set iff set-votes outnumber
    * clear-votes, 2·c_b > cnt. Caller guarantees ≥ 3 tokens.
    */
  def simhash56(toks: ArrayData): Long = {
    val n = toks.numElements()
    val seen = new java.util.HashSet[String]()
    val votes = new Array[Int](56)
    var cnt = 0
    val md = md5Local.get()
    var i = 0
    while (i <= n - 3) {
      val s = shingleAt(toks, i)
      if (seen.add(s)) {
        cnt += 1
        md.reset()
        val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
        var h = 0L
        var b = 0
        while (b < 7) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
        var k = 0
        while (k < 56) { votes(k) += ((h >>> k) & 1L).toInt; k += 1 }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 56) { if (2 * votes(b) > cnt) sig |= 1L << b; b += 1 }
    sig
  }

  /** Sorted distinct 64-bit shingle hashes of a token array (first 8 md5
    * bytes per DISTINCT word-3-gram, big-endian) — the per-document set
    * representation of the Jaccard/containment joins, built in one pass.
    * Replaces explode → distinct → collect_set, whose two shuffles move
    * the entire shingle stream across the cluster just to land back on
    * doc_id. Hash values are engine-internal (the oracle intersects the
    * shingle STRINGS), so only injectivity matters: collision odds over D
    * distinct shingles are ~D²/2⁶⁵. Caller guarantees ≥ 3 tokens.
    */
  def shingleHashes(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val seen = new java.util.HashSet[String]()
    val hs = new java.util.TreeSet[java.lang.Long]()
    val md = md5Local.get()
    var i = 0
    while (i <= n - 3) {
      val s = shingleAt(toks, i)
      if (seen.add(s)) {
        md.reset()
        val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
        var h = 0L
        var b = 0
        while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
        hs.add(h)
      }
      i += 1
    }
    val out = new Array[Long](hs.size)
    val it = hs.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** MinHash signature of a token array: the Kirsch–Mitzenmacher minima
    * min((h1 + k·h2) & 2⁵⁶−1) for k = 0..nHashes−1, where h1/h2 are the
    * first/second 7 bytes of each DISTINCT shingle's md5 — bit-identical
    * to the exploded substr(md5)/conv formulation the DuckDB oracle runs
    * (hex chars 1–14 are digest bytes 0–6, chars 15–28 are bytes 7–13),
    * computed in one pass with no shingle explode and no 12-min shuffle.
    * Caller guarantees ≥ 3 tokens.
    */
  def minhashSig(toks: ArrayData, nHashes: Int): ArrayData = {
    val mask = (1L << 56) - 1
    val n = toks.numElements()
    val seen = new java.util.HashSet[String]()
    val mins = Array.fill(nHashes)(java.lang.Long.MAX_VALUE)
    val md = md5Local.get()
    var i = 0
    while (i <= n - 3) {
      val s = shingleAt(toks, i)
      if (seen.add(s)) {
        md.reset()
        val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
        var h1 = 0L; var h2 = 0L
        var b = 0
        while (b < 7) { h1 = (h1 << 8) | (d(b) & 0xffL); b += 1 }
        while (b < 14) { h2 = (h2 << 8) | (d(b) & 0xffL); b += 1 }
        var k = 0
        while (k < nHashes) {
          val v = (h1 + k * h2) & mask
          if (v < mins(k)) mins(k) = v
          k += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  /** Sorted distinct winnowing fingerprints of a token array: span hash
    * at position i = first 7 md5 bytes (56 bits, sign-safe — identical to
    * the oracle's substr(md5, 1, 14) parse) of the `spanWords`-word span;
    * fingerprints are the minima of each `window`-wide span-hash run
    * (Schleimer et al. '03). One pass, each span hashed once. Caller
    * guarantees ≥ spanWords + window − 1 tokens.
    */
  def winnowFps(toks: ArrayData, spanWords: Int, window: Int): ArrayData = {
    val n = toks.numElements()
    val nSpans = n - spanWords + 1
    val hs = new Array[Long](nSpans)
    val md = md5Local.get()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < nSpans) {
      sb.setLength(0)
      var k = 0
      while (k < spanWords) {
        if (k > 0) sb.append(' ')
        sb.append(toks.getUTF8String(i + k).toString)
        k += 1
      }
      md.reset()
      val d = md.digest(sb.toString.getBytes(StandardCharsets.UTF_8))
      var h = 0L
      var b = 0
      while (b < 7) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      hs(i) = h
      i += 1
    }
    val fps = new java.util.TreeSet[java.lang.Long]()
    var j = 0
    while (j <= nSpans - window) {
      var m = hs(j)
      var k = 1
      while (k < window) { if (hs(j + k) < m) m = hs(j + k); k += 1 }
      fps.add(m)
      j += 1
    }
    val out = new Array[Long](fps.size)
    val it = fps.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Unigram-distribution statistics of a token array:
    * (n_tokens, n_types, Σ c·ln c) — the lexical-entropy inputs
    * (H = ln n − Σ c·ln c / n), computed in one hash-map walk instead of
    * a doc×token shuffle + per-doc re-group. The float sum's iteration
    * order differs from a hash aggregate's — both are round-pinned by
    * the consumer before comparison.
    */
  def tokEntropy(toks: ArrayData): InternalRow = {
    val n = toks.numElements()
    val counts = new java.util.HashMap[String, Integer]()
    var i = 0
    while (i < n) {
      counts.merge(toks.getUTF8String(i).toString, Integer.valueOf(1),
        (a, b) => Integer.valueOf(a + b))
      i += 1
    }
    var sum = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().doubleValue()
      sum += c * Math.log(c)
    }
    InternalRow(n.toLong, counts.size.toLong, sum)
  }

  /** Word-3-gram multiset statistics of a token array:
    * (total_3grams, distinct_3grams, top_count) — the Gopher repetition
    * filter's inputs, computed in one hash-map walk. Caller guarantees
    * ≥ 3 tokens.
    */
  def ngramStats(toks: ArrayData): InternalRow = {
    val n = toks.numElements()
    val counts = new java.util.HashMap[String, Integer]()
    var top = 0
    var i = 0
    while (i <= n - 3) {
      val s = shingleAt(toks, i)
      val c = counts.merge(s, Integer.valueOf(1), (a, b) => Integer.valueOf(a + b))
      if (c > top) top = c.intValue()
      i += 1
    }
    InternalRow((n - 2).toLong, counts.size.toLong, top.toLong)
  }
}

/** `simhash56(tokens)` — the whole signature pipeline (shingle → distinct
  * → md5 → 56 bit votes → threshold) in one codegen'd projection. The
  * exploded alternative shuffles every shingle row and aggregates 56 sum
  * columns; this is a narrow map with zero shuffle.
  */
case class SimhashFromTokens(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash56"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash56 expects array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(toks: Any): Any =
    TextKernels.simhash56(toks.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TextKernels.simhash56($a)")

  override protected def withNewChildInternal(newChild: Expression): SimhashFromTokens =
    copy(child = newChild)
}

/** `shingle_hashes(tokens)` → sorted distinct `array<bigint>` of 64-bit
  * shingle hashes — the set representation consumed by
  * `sorted_intersect_count`, built without exploding the shingle stream.
  */
case class ShingleHashes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes expects array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(toks: Any): Any =
    TextKernels.shingleHashes(toks.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TextKernels.shingleHashes($a)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** `minhash_sig(tokens, nHashes)` → `array<bigint>` of the K–M MinHash
  * minima (nHashes is a positive constant of the plan).
  */
case class MinhashSig(child: Expression, nHashes: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if nHashes > 0 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects (array<string>, positive int literal), got " +
        s"${other.simpleString} with nHashes=$nHashes")
  }

  override def nullSafeEval(toks: Any): Any =
    TextKernels.minhashSig(toks.asInstanceOf[ArrayData], nHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.TextKernels.minhashSig($a, $nHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

/** `winnow_fps(tokens, spanWords, window)` → sorted distinct
  * `array<bigint>` of winnowing fingerprints (span sizes are positive
  * constants of the plan).
  */
case class WinnowFps(child: Expression, spanWords: Int, window: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if spanWords > 0 && window > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_fps expects (array<string>, positive int literals), got " +
        s"${other.simpleString} with spanWords=$spanWords window=$window")
  }

  override def nullSafeEval(toks: Any): Any =
    TextKernels.winnowFps(toks.asInstanceOf[ArrayData], spanWords, window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.TextKernels.winnowFps($a, $spanWords, $window)")

  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}

/** `ngram_stats(tokens)` → struct(total_3grams, distinct_3grams,
  * top_count): the repetition filter's per-document statistics without
  * exploding the shingle stream.
  */
case class NgramStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("total_3grams", LongType, nullable = false),
    StructField("distinct_3grams", LongType, nullable = false),
    StructField("top_count", LongType, nullable = false)))
  override def prettyName: String = "ngram_stats"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ngram_stats expects array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(toks: Any): Any =
    TextKernels.ngramStats(toks.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TextKernels.ngramStats($a)")

  override protected def withNewChildInternal(newChild: Expression): NgramStats =
    copy(child = newChild)
}

/** `tok_entropy(tokens)` → struct(n_tokens, n_types, sum_clnc): the
  * lexical-entropy inputs without shuffling the token stream.
  */
case class TokEntropy(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_types", LongType, nullable = false),
    StructField("sum_clnc", DoubleType, nullable = false)))
  override def prettyName: String = "tok_entropy"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"tok_entropy expects array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(toks: Any): Any =
    TextKernels.tokEntropy(toks.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.TextKernels.tokEntropy($a)")

  override protected def withNewChildInternal(newChild: Expression): TokEntropy =
    copy(child = newChild)
}

/** Column builders for the kernels above: each wraps its expression
  * straight into the plan, so whole-stage codegen fuses it in place.
  */
object TextFunctions {

  def simhash56(toks: Column): Column = column(SimhashFromTokens(expression(toks)))

  def shingleHashes(toks: Column): Column = column(ShingleHashes(expression(toks)))

  def ngramStats(toks: Column): Column = column(NgramStats(expression(toks)))

  def tokEntropy(toks: Column): Column = column(TokEntropy(expression(toks)))

  def minhashSig(toks: Column, nHashes: Int): Column =
    column(MinhashSig(expression(toks), nHashes))

  def winnowFps(toks: Column, spanWords: Int, window: Int): Column =
    column(WinnowFps(expression(toks), spanWords, window))
}
