package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd Catalyst expressions for the hashing / vector hot paths.
  *
  * Round-1 benchmarking showed the higher-order-function folds
  * (`transform`/`aggregate`) these replace are interpreted per-element
  * expression trees — milliseconds per short document once nested
  * (16 minhash lanes × per-char hash). Each expression here emits the
  * tight Java loop instead and keeps the SAME arithmetic as the DuckDB
  * oracle mirrors in [[Hashing]] / the similarity SQL, so engine
  * parity is unchanged: plain 64-bit integer arithmetic mod 2^31-1,
  * and sequential double folds for the float vector ops.
  *
  * Scale note: all of these are per-row projections — no shuffle, no
  * state; they widen the whole-stage-codegen span that round 1's
  * interpreted folds were breaking.
  */
object HashExprs {
  /** Shared Java snippet: polynomial rolling hash over code points,
    * identical to `ascii()`-based fold (`h = h*31 + codepoint mod P`)
    * and DuckDB's `string_split('')`+`ascii` mirror. */
  private[functions] def charHashJava(strVar: String, outVar: String): String =
    s"""|String $strVar$$s = $strVar.toString();
        |long $outVar = 0L;
        |int $strVar$$i = 0;
        |while ($strVar$$i < $strVar$$s.length()) {
        |  int $strVar$$cp = $strVar$$s.codePointAt($strVar$$i);
        |  $outVar = ($outVar * 31L + (long) $strVar$$cp) % ${Hashing.P}L;
        |  $strVar$$i += Character.charCount($strVar$$cp);
        |}""".stripMargin

  private[functions] def charHashEval(u: UTF8String): Long = {
    val s = u.toString
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31L + cp) % Hashing.P
      i += Character.charCount(cp)
    }
    h
  }

  /** Two independent-base polynomial folds (31 and [[Hashing.Base2]])
    * in ONE code-point pass, packed as `h31 * P + h37` (< P² ≈ 2^62,
    * no overflow). A single 31-bit hash suffers real birthday
    * collisions once window counts pass ~10^5 (≈12 expected at the
    * sf0.1 bench's 226k token windows); a collision on BOTH bases
    * requires the char-difference polynomial to vanish at 31 and 37
    * mod P simultaneously — ~1/P² for non-identical strings. */
  private[functions] def charHashWideJava(strVar: String, outVar: String): String =
    s"""|String $strVar$$s = $strVar.toString();
        |long $strVar$$h1 = 0L;
        |long $strVar$$h2 = 0L;
        |int $strVar$$i = 0;
        |while ($strVar$$i < $strVar$$s.length()) {
        |  int $strVar$$cp = $strVar$$s.codePointAt($strVar$$i);
        |  $strVar$$h1 = ($strVar$$h1 * 31L + (long) $strVar$$cp) % ${Hashing.P}L;
        |  $strVar$$h2 = ($strVar$$h2 * ${Hashing.Base2}L + (long) $strVar$$cp) % ${Hashing.P}L;
        |  $strVar$$i += Character.charCount($strVar$$cp);
        |}
        |long $outVar = $strVar$$h1 * ${Hashing.P}L + $strVar$$h2;""".stripMargin

  private[functions] def charHashWideEval(u: UTF8String): Long = {
    val s = u.toString
    var h1 = 0L
    var h2 = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h1 = (h1 * 31L + cp) % Hashing.P
      h2 = (h2 * Hashing.Base2 + cp) % Hashing.P
      i += Character.charCount(cp)
    }
    h1 * Hashing.P + h2
  }

  /** Analysis-time input type gate. These expressions are reachable
    * from arbitrary SQL via [[graft.GraftExtensions]], so a wrong-typed
    * call (`graft_char_hash(42)`) must fail ANALYSIS with a readable
    * message, not die inside codegen. (Spark 4 made
    * `ExpectsInputTypes.inputTypes`' `AbstractDataType` private[sql],
    * so the check is a hand-rolled `checkInputDataTypes`.) */
  private[functions] def requireTypes(
      fn: String, exprs: (Expression, DataType => Boolean, String)*)
      : TypeCheckResult = {
    exprs.zipWithIndex.collectFirst {
      case ((e, ok, expected), i) if !ok(e.dataType) =>
        TypeCheckResult.TypeCheckFailure(
          s"$fn requires $expected for argument ${i + 1}, " +
            s"got ${e.dataType.catalogString}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)
  }

  private[functions] val isString: DataType => Boolean = _ == StringType
  private[functions] val isStringArray: DataType => Boolean = {
    case ArrayType(StringType, _) => true
    case _ => false
  }
  private[functions] val isLongArray: DataType => Boolean = {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  private[functions] val isFloatArray: DataType => Boolean = {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private[functions] val isDoubleArray: DataType => Boolean = {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
}

/** `charHash(string) -> long`: polynomial rolling hash (mod 2^31-1)
  * over the string's code points. Mirrors [[Hashing.sqlCharHash]]. */
case class PolyCharHash(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_char_hash"

  override def checkInputDataTypes(): TypeCheckResult =
    HashExprs.requireTypes(prettyName, (child, HashExprs.isString, "STRING"))

  protected override def nullSafeEval(input: Any): Any =
    HashExprs.charHashEval(input.asInstanceOf[UTF8String])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val h = ctx.freshName("h")
      s"""|${HashExprs.charHashJava(c, h)}
          |${ev.value} = $h;""".stripMargin
    })

  protected override def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `charHashAll(array<string>) -> array<long>`: [[PolyCharHash]] of
  * every element in one pass (null elements stay null). Replaces the
  * interpreted `transform(arr, charHash)` from round 1. */
case class PolyCharHashArray(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_char_hash_all"

  override def checkInputDataTypes(): TypeCheckResult =
    HashExprs.requireTypes(prettyName,
      (child, HashExprs.isStringArray, "ARRAY<STRING>"))

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = arr.isNullAt(i); i += 1 }
    if (!hasNull) {
      val out = new Array[Long](n)
      i = 0
      while (i < n) {
        out(i) = HashExprs.charHashEval(arr.getUTF8String(i))
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    } else {
      val out = new Array[Any](n)
      i = 0
      while (i < n) {
        if (!arr.isNullAt(i))
          out(i) = HashExprs.charHashEval(arr.getUTF8String(i))
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val u = ctx.freshName("u")
      val h = ctx.freshName("h")
      val hasNull = ctx.freshName("hasNull")
      // testdata arrays never carry null elements; the boxed fallback
      // keeps exact `transform` null semantics anyway
      s"""|int $n = $c.numElements();
          |boolean $hasNull = false;
          |for (int $i = 0; $i < $n; $i++) {
          |  if ($c.isNullAt($i)) { $hasNull = true; break; }
          |}
          |if (!$hasNull) {
          |  long[] $out = new long[$n];
          |  for (int $i = 0; $i < $n; $i++) {
          |    UTF8String $u = $c.getUTF8String($i);
          |    ${HashExprs.charHashJava(u, h)}
          |    $out[$i] = $h;
          |  }
          |  ${ev.value} =
          |    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
          |} else {
          |  Object[] $out = new Object[$n];
          |  for (int $i = 0; $i < $n; $i++) {
          |    if (!$c.isNullAt($i)) {
          |      UTF8String $u = $c.getUTF8String($i);
          |      ${HashExprs.charHashJava(u, h)}
          |      $out[$i] = (Long) $h;
          |    }
          |  }
          |  ${ev.value} =
          |    new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
          |}""".stripMargin
    })

  protected override def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `charHashWideAll(array<string>) -> array<long>`: the ~62-bit
  * dual-base variant of [[PolyCharHashArray]]
  * ([[HashExprs.charHashWideJava]]) — one pass per element, both
  * polynomial folds fused in the same code-point loop. Used where a
  * hash stands in for STRING EQUALITY over large window populations
  * (`dedup_substring_spans`), where 31 bits of entropy would mint
  * false duplicates by birthday collision. */
case class PolyCharHashWideArray(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_char_hash_wide_all"

  override def checkInputDataTypes(): TypeCheckResult =
    HashExprs.requireTypes(prettyName,
      (child, HashExprs.isStringArray, "ARRAY<STRING>"))

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = arr.isNullAt(i); i += 1 }
    if (!hasNull) {
      val out = new Array[Long](n)
      i = 0
      while (i < n) {
        out(i) = HashExprs.charHashWideEval(arr.getUTF8String(i))
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    } else {
      val out = new Array[Any](n)
      i = 0
      while (i < n) {
        if (!arr.isNullAt(i))
          out(i) = HashExprs.charHashWideEval(arr.getUTF8String(i))
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val u = ctx.freshName("u")
      val h = ctx.freshName("h")
      val hasNull = ctx.freshName("hasNull")
      s"""|int $n = $c.numElements();
          |boolean $hasNull = false;
          |for (int $i = 0; $i < $n; $i++) {
          |  if ($c.isNullAt($i)) { $hasNull = true; break; }
          |}
          |if (!$hasNull) {
          |  long[] $out = new long[$n];
          |  for (int $i = 0; $i < $n; $i++) {
          |    UTF8String $u = $c.getUTF8String($i);
          |    ${HashExprs.charHashWideJava(u, h)}
          |    $out[$i] = $h;
          |  }
          |  ${ev.value} =
          |    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
          |} else {
          |  Object[] $out = new Object[$n];
          |  for (int $i = 0; $i < $n; $i++) {
          |    if (!$c.isNullAt($i)) {
          |      UTF8String $u = $c.getUTF8String($i);
          |      ${HashExprs.charHashWideJava(u, h)}
          |      $out[$i] = (Long) $h;
          |    }
          |  }
          |  ${ev.value} =
          |    new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
          |}""".stripMargin
    })

  protected override def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `whitespaceTokens(string) -> array<string>`: split on single
  * spaces with empty segments dropped, in one pass — replaces the
  * interpreted `filter(split(c, " "), length > 0)` pair (the `filter`
  * higher-order function is CodegenFallback and was the last
  * interpreted stage in the tokenize hot path). */
case class WhitespaceTokens(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokens"

  override def checkInputDataTypes(): TypeCheckResult =
    HashExprs.requireTypes(prettyName, (child, HashExprs.isString, "STRING"))

  protected override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    var start = 0
    var i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        if (i > start) out += UTF8String.fromString(s.substring(start, i))
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val start = ctx.freshName("start")
      val parts = ctx.freshName("parts")
      s"""|String $s = $c.toString();
          |java.util.ArrayList $parts = new java.util.ArrayList();
          |int $start = 0;
          |for (int $i = 0; $i <= $s.length(); $i++) {
          |  if ($i == $s.length() || $s.charAt($i) == ' ') {
          |    if ($i > $start) {
          |      $parts.add(UTF8String.fromString($s.substring($start, $i)));
          |    }
          |    $start = $i + 1;
          |  }
          |}
          |${ev.value} =
          |  new org.apache.spark.sql.catalyst.util.GenericArrayData($parts.toArray());""".stripMargin
    })

  protected override def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `charNgramHashes(str, n) -> array<long>`: the [[PolyCharHash]] of
  * every n-code-point substring window, in ONE pass over the string.
  * Replaces `charHashAll(transform(sequence(...), i -> substr(i, n)))`
  * — each `substr` rescans the UTF8 string from the start to find its
  * code-point offset, making char-n-gram extraction O(len²) per
  * document (5s of the sf0.1 bench for trigram language ID before
  * this). Bit-equal to the composed form (fuzz-pinned); fewer than
  * `n` code points yields an empty array. */
case class CharNgramHashes(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"n-gram size must be >= 1, got $n")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_char_ngram_hashes"

  override def checkInputDataTypes(): TypeCheckResult =
    HashExprs.requireTypes(prettyName, (child, HashExprs.isString, "STRING"))

  protected override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    // decode once into code points, then hash fixed windows
    val cps = new Array[Int](s.length)
    var len = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      cps(len) = cp
      len += 1
      i += Character.charCount(cp)
    }
    if (len < n) return UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    val out = new Array[Long](len - n + 1)
    i = 0
    while (i <= len - n) {
      var h = 0L
      var j = 0
      while (j < n) {
        h = (h * 31L + cps(i + j).toLong) % Hashing.P
        j += 1
      }
      out(i) = h
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val cps = ctx.freshName("cps")
      val len = ctx.freshName("len")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      s"""|String $s = $c.toString();
          |int[] $cps = new int[$s.length()];
          |int $len = 0;
          |int $i = 0;
          |while ($i < $s.length()) {
          |  int $s$$cp = $s.codePointAt($i);
          |  $cps[$len++] = $s$$cp;
          |  $i += Character.charCount($s$$cp);
          |}
          |long[] $out = ($len < $n)
          |  ? new long[0] : new long[$len - $n + 1];
          |for ($i = 0; $i <= $len - $n; $i++) {
          |  long $h = 0L;
          |  for (int $j = 0; $j < $n; $j++) {
          |    $h = ($h * 31L + (long) $cps[$i + $j]) % ${Hashing.P}L;
          |  }
          |  $out[$i] = $h;
          |}
          |${ev.value} =
          |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
          |""".stripMargin
    })

  protected override def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `wordNgrams(array<string>, n) -> array<string>`: space-joined
  * n-grams of adjacent tokens in one pass — replaces the interpreted
  * `transform(sequence(...), i -> concat_ws(" ", element_at...))`
  * construction (3 array probes per gram, per lambda-eval). Null
  * elements are skipped within a gram, matching `concat_ws`. Fewer
  * than `n` tokens yields an empty array. */
case class WordNgrams(child: Expression, n: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_ngrams"

  override def checkInputDataTypes(): TypeCheckResult =
    HashExprs.requireTypes(prettyName,
      (child, HashExprs.isStringArray, "ARRAY<STRING>"))

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val len = arr.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](len - n + 1)
    var i = 0
    while (i <= len - n) {
      val sb = new java.lang.StringBuilder
      var j = 0
      var first = true
      while (j < n) {
        if (!arr.isNullAt(i + j)) {
          if (!first) sb.append(' ')
          sb.append(arr.getUTF8String(i + j).toString)
          first = false
        }
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val len = ctx.freshName("len")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val sb = ctx.freshName("sb")
      val first = ctx.freshName("first")
      val out = ctx.freshName("out")
      s"""|int $len = $c.numElements();
          |Object[] $out = new Object[$len < $n ? 0 : $len - ${n - 1}];
          |for (int $i = 0; $i <= $len - $n; $i++) {
          |  StringBuilder $sb = new StringBuilder();
          |  boolean $first = true;
          |  for (int $j = 0; $j < $n; $j++) {
          |    if (!$c.isNullAt($i + $j)) {
          |      if (!$first) $sb.append(' ');
          |      $sb.append($c.getUTF8String($i + $j).toString());
          |      $first = false;
          |    }
          |  }
          |  $out[$i] = UTF8String.fromString($sb.toString());
          |}
          |${ev.value} =
          |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);""".stripMargin
    })

  protected override def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `minhashSig(array<long>) -> array<long>`: all [[Hashing.K]] min-hash
  * lanes `min((h*A_k + B_k) mod P)` computed in ONE pass over the
  * element hashes — round 1 traversed the array K times through
  * interpreted `array_min(transform(...))`. An empty input yields all
  * K lanes null (`array_min` of an empty array), null elements are
  * ignored (as `array_min` ignores nulls). */
case class MinHashSig(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult =
    HashExprs.requireTypes(prettyName,
      (child, HashExprs.isLongArray, "ARRAY<BIGINT>"))

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var seen = false
    val mins = Array.fill(Hashing.K)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        seen = true
        val h = arr.getLong(i)
        var k = 0
        while (k < Hashing.K) {
          val v = (h * Hashing.A(k) + Hashing.B(k)) % Hashing.P
          if (v < mins(k)) mins(k) = v
          k += 1
        }
      }
      i += 1
    }
    if (seen) UnsafeArrayData.fromPrimitiveArray(mins)
    else new GenericArrayData(new Array[Any](Hashing.K))
  }

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val aArr = ctx.addMutableState("long[]", "graftMinhashA",
        v => s"$v = new long[]{${Hashing.A.mkString("L,")}L};")
      val bArr = ctx.addMutableState("long[]", "graftMinhashB",
        v => s"$v = new long[]{${Hashing.B.mkString("L,")}L};")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val mins = ctx.freshName("mins")
      val seen = ctx.freshName("seen")
      s"""|int $n = $c.numElements();
          |boolean $seen = false;
          |long[] $mins = new long[${Hashing.K}];
          |java.util.Arrays.fill($mins, Long.MAX_VALUE);
          |for (int $i = 0; $i < $n; $i++) {
          |  if ($c.isNullAt($i)) continue;
          |  $seen = true;
          |  long $h = $c.getLong($i);
          |  for (int $k = 0; $k < ${Hashing.K}; $k++) {
          |    long $v = ($h * $aArr[$k] + $bArr[$k]) % ${Hashing.P}L;
          |    if ($v < $mins[$k]) $mins[$k] = $v;
          |  }
          |}
          |${ev.value} = $seen
          |  ? (org.apache.spark.sql.catalyst.util.ArrayData)
          |    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($mins)
          |  : (org.apache.spark.sql.catalyst.util.ArrayData)
          |    new org.apache.spark.sql.catalyst.util.GenericArrayData(
          |      new Object[${Hashing.K}]);""".stripMargin
    })

  protected override def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `simhash32(array<long>) -> long`: 32-bit SimHash — per-bit ±1 votes
  * over the element hashes, bit set iff the vote is positive. Null
  * elements vote -1 on every bit (exactly the `if(null,...)` else
  * branch of the round-1 fold); an empty array yields 0. Mirrors
  * [[Hashing.sqlSimhash32]]. */
case class SimHash32(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash32"

  override def checkInputDataTypes(): TypeCheckResult =
    HashExprs.requireTypes(prettyName,
      (child, HashExprs.isLongArray, "ARRAY<BIGINT>"))

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](32)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var j = 0
        while (j < 32) {
          votes(j) += (if (((h >> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
      } else {
        var j = 0
        while (j < 32) { votes(j) -= 1; j += 1 }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 32) {
      if (votes(j) > 0) out += (1L << j)
      j += 1
    }
    out
  }

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val votes = ctx.freshName("votes")
      val out = ctx.freshName("out")
      s"""|int $n = $c.numElements();
          |int[] $votes = new int[32];
          |for (int $i = 0; $i < $n; $i++) {
          |  if (!$c.isNullAt($i)) {
          |    long $h = $c.getLong($i);
          |    for (int $j = 0; $j < 32; $j++) {
          |      $votes[$j] += ((($h >> $j) & 1L) == 1L) ? 1 : -1;
          |    }
          |  } else {
          |    for (int $j = 0; $j < 32; $j++) $votes[$j] -= 1;
          |  }
          |}
          |long $out = 0L;
          |for (int $j = 0; $j < 32; $j++) {
          |  if ($votes[$j] > 0) $out += (1L << $j);
          |}
          |${ev.value} = $out;""".stripMargin
    })

  protected override def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `lshBucket(array<float>) -> long`: signed-random-hyperplane LSH
  * bucket (`planes` bits over `dims` dimensions). The hyperplane
  * weights come from the same integer LCG as the DuckDB mirror
  * (`((1103515245*(p*dims+i) + 12345) mod 2^31) / 2^31 - 0.5`, i
  * 1-based), divided by a power of two so the doubles are exact on
  * both engines; the per-plane dot product folds sequentially in
  * element order. Inputs shorter than `dims` or containing nulls
  * produce bucket 0 — the null-propagated else-branch both engines
  * take. */
case class LshBucket(child: Expression, planes: Int, dims: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_lsh_bucket"

  override def checkInputDataTypes(): TypeCheckResult =
    HashExprs.requireTypes(prettyName,
      (child, HashExprs.isFloatArray, "ARRAY<FLOAT>"))

  @transient private lazy val weights: Array[Double] = LshBucket.weightTable(planes, dims)

  protected override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < dims) return 0L
    var i = 0
    while (i < dims) {
      if (arr.isNullAt(i)) return 0L
      i += 1
    }
    var acc = 0L
    var p = 0
    while (p < planes) {
      var s = 0.0
      i = 0
      while (i < dims) {
        s += arr.getFloat(i).toDouble * weights(p * dims + i)
        i += 1
      }
      if (s > 0) acc += (1L << p)
      p += 1
    }
    acc
  }

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val w = ctx.addMutableState("double[]", "graftLshW",
        v => s"$v = graft.functions.LshBucket.weightTable($planes, $dims);")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val s = ctx.freshName("s")
      val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      s"""|int $n = $c.numElements();
          |boolean $bad = $n < $dims;
          |if (!$bad) {
          |  for (int $i = 0; $i < $dims; $i++) {
          |    if ($c.isNullAt($i)) { $bad = true; break; }
          |  }
          |}
          |long $acc = 0L;
          |if (!$bad) {
          |  for (int $p = 0; $p < $planes; $p++) {
          |    double $s = 0.0;
          |    for (int $i = 0; $i < $dims; $i++) {
          |      $s += (double) $c.getFloat($i) * $w[$p * $dims + $i];
          |    }
          |    if ($s > 0) $acc += (1L << $p);
          |  }
          |}
          |${ev.value} = $acc;""".stripMargin
    })

  protected override def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBucket {
  /** Weight for (plane p, 1-based dim i) — exact-double LCG output,
    * shared by codegen and interpreted eval. Public because generated
    * code calls it from the codegen'd class. */
  def weightTable(planes: Int, dims: Int): Array[Double] = {
    val w = new Array[Double](planes * dims)
    var p = 0
    while (p < planes) {
      var i = 1
      while (i <= dims) {
        w(p * dims + i - 1) =
          ((1103515245L * (p * dims + i) + 12345L) % 2147483648L).toDouble /
            2147483648.0 - 0.5
        i += 1
      }
      p += 1
    }
    w
  }
}

/** `floatDot(array<float>, array<float>) -> double`: sequential-order
  * dot product in double — the same fold the DuckDB `list_reduce`
  * mirror performs, so results are bit-identical. Null when lengths
  * differ or any paired element is null (zip_with semantics). */
case class FloatDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_float_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    HashExprs.requireTypes(prettyName,
      (left, HashExprs.isFloatArray, "ARRAY<FLOAT>"),
      (right, HashExprs.isFloatArray, "ARRAY<FLOAT>"))

  protected override def nullSafeEval(a: Any, b: Any): Any =
    FloatDot.fold(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""|int $n = $a.numElements();
          |if ($b.numElements() != $n) {
          |  ${ev.isNull} = true;
          |} else {
          |  double $s = 0.0;
          |  for (int $i = 0; $i < $n; $i++) {
          |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
          |    $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
          |  }
          |  if (!${ev.isNull}) ${ev.value} = $s;
          |}""".stripMargin
    })

  protected override def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object FloatDot {
  /** The fold behind [[FloatDot]], for the interpreted path and for
    * driver code over collected arrays: Σ x_i·y_i in element order, in
    * double; null when the lengths differ or any paired element is
    * null. */
  def fold(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (y.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }
}

/** `sqDist(array<float>, array<double>) -> double`: sequential-order
  * squared euclidean distance `Σ (a_i - b_i)²` in double — the
  * vector-to-centroid distance of a k-means assignment step (the
  * float side is the stored embedding, the double side the trained
  * centroid). Same fold order as the DuckDB `list_reduce` mirror, and
  * `-`, `*`, `+` are all exactly-rounded IEEE ops, so results are
  * bit-identical. Null when lengths differ or any paired element is
  * null (zip_with semantics). */
case class ArraySqDist(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sq_dist"

  override def checkInputDataTypes(): TypeCheckResult =
    HashExprs.requireTypes(prettyName,
      (left, HashExprs.isFloatArray, "ARRAY<FLOAT>"),
      (right, HashExprs.isDoubleArray, "ARRAY<DOUBLE>"))

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getFloat(i).toDouble - y.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val dd = ctx.freshName("dd")
      s"""|int $n = $a.numElements();
          |if ($b.numElements() != $n) {
          |  ${ev.isNull} = true;
          |} else {
          |  double $s = 0.0;
          |  for (int $i = 0; $i < $n; $i++) {
          |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
          |    double $dd = (double) $a.getFloat($i) - $b.getDouble($i);
          |    $s += $dd * $dd;
          |  }
          |  if (!${ev.isNull}) ${ev.value} = $s;
          |}""".stripMargin
    })

  protected override def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `cdcBoundaries(binary) -> array<long>`: content-defined chunk
  * boundaries by rolling hash — the shift-robust chunker a
  * dedup-oriented media pipeline uses instead of fixed byte ranges
  * ([[graft.operators.MultimodalOps]]'s `mm_chunk`): an insertion
  * early in a payload shifts every fixed-range boundary after it, but
  * content-defined boundaries RE-SYNCHRONIZE [[CdcBoundaries.Window]]
  * bytes past the edit, so unchanged content re-chunks identically
  * and downstream digest dedup still hits (Rabin-style CDC as used in
  * LBFS/backup dedup; public-domain technique).
  *
  * A boundary falls after offset `o` (0 < o < n) iff the polynomial
  * hash of the [[CdcBoundaries.Window]] bytes ending at `o` is ≡ 0
  * mod [[CdcBoundaries.Divisor]] — expected chunk length ≈ Divisor
  * bytes. Pure per-position predicate (no min/max clamp), so the
  * DuckDB mirror is an O(n·W) window fold while this codegen'd loop
  * is O(n) with an incremental pop-push (the 31^(W-1) factor of the
  * outgoing byte is subtracted before the shift — exact in 64-bit
  * arithmetic mod P).
  */
case class CdcBoundaries(child: Expression)
    extends UnaryExpression {
  import CdcBoundaries.{Divisor, Window}

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_cdc_boundaries"

  override def checkInputDataTypes(): TypeCheckResult =
    HashExprs.requireTypes(prettyName,
      (child, (dt: DataType) => dt == BinaryType, "BINARY"))

  protected override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    val n = bytes.length
    var h = 0L
    var o = 0
    while (o < n) {
      h = (h * 31L + (bytes(o) & 0xffL)) % Hashing.P
      if (o >= Window) {
        // pop the byte that left the window: after the push above its
        // weight in h is 31^W
        h = (h - (bytes(o - Window) & 0xffL) * CdcBoundaries.PopWeight % Hashing.P
          + Hashing.P) % Hashing.P
      }
      val end = o + 1
      if (end >= Window && end < n && h % Divisor == 0L) out += end.toLong
      o += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out.toArray)
  }

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val o = ctx.freshName("o")
      val cnt = ctx.freshName("cnt")
      val out = ctx.freshName("out")
      val end = ctx.freshName("end")
      s"""|int $n = $c.length;
          |long $h = 0L; int $cnt = 0;
          |long[] $out = new long[$n];
          |for (int $o = 0; $o < $n; $o++) {
          |  $h = ($h * 31L + ((long) $c[$o] & 0xffL)) % ${Hashing.P}L;
          |  if ($o >= $Window) {
          |    $h = ($h - ((long) $c[$o - $Window] & 0xffL)
          |      * ${CdcBoundaries.PopWeight}L % ${Hashing.P}L
          |      + ${Hashing.P}L) % ${Hashing.P}L;
          |  }
          |  int $end = $o + 1;
          |  if ($end >= $Window && $end < $n && $h % ${Divisor}L == 0L) {
          |    $out[$cnt++] = (long) $end;
          |  }
          |}
          |${ev.value} =
          |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
          |    java.util.Arrays.copyOf($out, $cnt));""".stripMargin
    })

  protected override def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CdcBoundaries {
  /** Rolling-hash window (bytes). */
  val Window = 8
  /** Boundary divisor — expected chunk length ≈ this many bytes. */
  val Divisor = 64L
  /** 31^Window mod P: the weight of the byte leaving the window at
    * the moment it is popped (the incoming push has already shifted
    * it once more). */
  val PopWeight: Long = {
    var w = 1L
    for (_ <- 1 to Window) w = w * 31L % Hashing.P
    w
  }
}
