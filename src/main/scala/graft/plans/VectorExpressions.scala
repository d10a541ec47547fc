package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector/hash hot paths.
  *
  * The first implementation used Spark higher-order functions
  * (`zip_with`/`aggregate`/`transform`); correct, but HOF lambdas are
  * interpreted per element, and the pair-wise operators evaluate them
  * O(n²·dim) times — at sf0.1 MinHash signatures alone cost 184 s. These
  * expressions evaluate one tight JVM loop per row instead (the preference
  * order of SURVEY.md: compose built-ins, then custom Expression), cutting
  * the vector path by >30×. They are registered in the session function
  * registry and used via `call_function`, so plans stay declarative.
  */
object VectorExpressions {

  /** dot(a, b) over ARRAY<DOUBLE> — one fused loop, no per-element lambda.
    * Full codegen (doGenCode) so the surrounding pair-filter stage keeps
    * its whole-stage-codegen span. */
  case class VecDot(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData].toDoubleArray()
      val y = b.asInstanceOf[ArrayData].toDoubleArray()
      val n = math.min(x.length, y.length)
      var i = 0
      var s = 0.0
      while (i < n) { s += x(i) * y(i); i += 1 }
      s
    }
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += $a.getDouble($i) * $b.getDouble($i);
           |}
           |${ev.value} = $s;
         """.stripMargin
      })
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** splitmix64 of a LONG as a columnar expression. ANSI mode traps the
    * wrapping multiplies splitmix64 needs, so the spray of
    * xor/shift/multiply can't be spelled in built-ins — here the JVM's
    * natural Long wrap IS mod-2^64, and doGenCode keeps call sites (epoch
    * shuffle keys, shard routing) inside whole-stage codegen. The oracle
    * replays the identical chain in HUGEINT ([[OracleSql]]'s mix64). */
  case class Mix64Expr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any = mix64(v.asInstanceOf[Long])
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, z => {
        val t = ctx.freshName("z")
        s"""
           |long $t = $z;
           |$t ^= ($t >>> 30); $t *= 0xBF58476D1CE4E5B9L;
           |$t ^= ($t >>> 27); $t *= 0x94D049BB133111EBL;
           |${ev.value} = $t ^ ($t >>> 31);
         """.stripMargin
      })
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** l2-normalized copy of an ARRAY<DOUBLE> (zero vector passes through). */
  case class VecNormalize(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val x = v.asInstanceOf[ArrayData].toDoubleArray()
      var i = 0
      var ss = 0.0
      while (i < x.length) { ss += x(i) * x(i); i += 1 }
      val norm = math.sqrt(ss)
      if (norm > 0) {
        val out = new Array[Double](x.length)
        i = 0
        while (i < x.length) { out(i) = x(i) / norm; i += 1 }
        new GenericArrayData(out)
      } else new GenericArrayData(x)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** 2^61 - 1 — the Mersenne prime modulus for MinHash fingerprints and
    * lanes. Mersenne form keeps Scala-side reduction branch-free (shift/
    * mask, no division) while every intermediate the DuckDB oracle replays
    * (a·fp+b < 2^99, acc·31+cp < 2^66) fits HUGEINT. */
  private[graft] val M61 = 2305843009213693951L

  /** (a · b) mod M61 for a, b < M61 — 128-bit product via multiplyHigh,
    * reduced with 2^61 ≡ 1 (mod M61): full = hi·2^64 + lo ≡ hi·8 +
    * (lo >>> 61) + (lo & M61). hi < 2^58 so hi<<3 stays clear of the
    * low 3 bits of (lo >>> 61); the sum is < 2^62, two conditional
    * subtractions complete the reduction. */
  private[graft] def mulmodM61(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var r = ((hi << 3) | (lo >>> 61)) + (lo & M61)
    if (r >= M61) r -= M61
    if (r >= M61) r -= M61
    r
  }

  /** OPTIMIZATION r14 (guide §4 per-row work): fold the code points of a
    * UTF8String without `toString` — the UTF-16 transcode allocated a
    * String + char[] per shingle in the former form, and these folds sit
    * in the hottest interpreted kernels (MinHash/SimHash). Decoding
    * UTF-8 directly yields exactly `String.codePointAt`'s sequence for
    * the valid UTF-8 Spark strings carry. `step(acc, cp)` must be the
    * per-code-point fold. */
  @inline private[graft] def foldCp(
      s: org.apache.spark.unsafe.types.UTF8String, acc0: Long)(
      step: (Long, Int) => Long): Long = {
    var acc = acc0
    val nb = s.numBytes()
    var i = 0
    while (i < nb) {
      val b0 = s.getByte(i) & 0xFF
      var cp = 0
      if (b0 < 0x80) { cp = b0; i += 1 }
      else if (b0 < 0xE0) {
        cp = ((b0 & 0x1F) << 6) | (s.getByte(i + 1) & 0x3F); i += 2
      } else if (b0 < 0xF0) {
        cp = ((b0 & 0x0F) << 12) | ((s.getByte(i + 1) & 0x3F) << 6) |
          (s.getByte(i + 2) & 0x3F); i += 3
      } else {
        cp = ((b0 & 0x07) << 18) | ((s.getByte(i + 1) & 0x3F) << 12) |
          ((s.getByte(i + 2) & 0x3F) << 6) | (s.getByte(i + 3) & 0x3F); i += 4
      }
      acc = step(acc, cp)
    }
    acc
  }

  /** Rolling polynomial codepoint hash mod M61 — the same fold the DuckDB
    * oracle writes as
    * `list_reduce(list_prepend(CAST(0 AS HUGEINT), [unicode(c) ...]),
    *  (acc,x) -> (acc*31+x) % (2^61-1))`,
    * so MinHash signatures are oracle-reproducible (and ~64× cheaper than
    * rehashing the full shingle bytes once per lane).
    *
    * Collision bound: two distinct shingles collide with probability
    * ≲ len/2^61 under the polynomial-hash model — at 10^9 distinct
    * shingles the expected number of colliding pairs is ~10^18/2^61 ≈
    * 10^-0.4, i.e. O(1) collisions corpus-wide, each biasing only pairs
    * containing the two colliding shingles. The previous mod-(1e9+7)
    * (~2^30) fingerprint expected ~10^17/2^30 ≈ 10^8 colliding pairs at
    * that scale, and a collision biased EVERY lane identically because all
    * lanes are affine in the one fingerprint. */
  private[graft] def codepointFp(s: org.apache.spark.unsafe.types.UTF8String): Long =
    foldCp(s, 0L) { (acc, cp) =>
      val fp = mulmodM61(acc, 31L) + cp
      if (fp >= M61) fp - M61 else fp
    }

  /** Rolling codepoint hash mod 2^64 (Long wrap IS mod 2^64) followed by the
    * splitmix64 finalizer for avalanche — both stages are pure integer
    * arithmetic a SQL oracle can replay in 128-bit columns. */
  private[graft] def codepointHash64(s: org.apache.spark.unsafe.types.UTF8String): Long =
    mix64(foldCp(s, 0L)((h, cp) => h * 31 + cp))

  /** splitmix64 finalizer (public-domain constant set). */
  private[graft] def mix64(z0: Long): Long = {
    var z = z0
    z ^= (z >>> 30); z *= 0xBF58476D1CE4E5B9L
    z ^= (z >>> 27); z *= 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** MinHash signature over ARRAY<STRING> shingles: lane i =
    * min over shingles of (a_i·fp(sh) + b_i) mod M61 — a universal affine
    * rehash of one rolling 61-bit fingerprint per shingle (collision bound
    * at [[codepointFp]]). Single pass over the shingles computing all
    * `numHashes` lanes; the (a_i, b_i) family is a fixed integer recurrence
    * so the DuckDB oracle derives the identical lanes inline (a_i·fp <
    * 2^99 rides in HUGEINT there, multiplyHigh here). */
  case class MinhashSig(child: Expression, numHashes: Int)
      extends UnaryExpression with CodegenFallback {
    private val P = M61
    private lazy val as: Array[Long] =
      Array.tabulate(numHashes)(i => (2654435761L * (i + 1)) % P)
    private lazy val bs: Array[Long] =
      Array.tabulate(numHashes)(i => (40503L * (i + 1) + 12345L) % P)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val sig = Array.fill(numHashes)(Long.MaxValue)
      var i = 0
      while (i < n) {
        val fp = codepointFp(arr.getUTF8String(i))
        var h = 0
        while (h < numHashes) {
          var hv = mulmodM61(as(h), fp) + bs(h)
          if (hv >= P) hv -= P
          if (hv < sig(h)) sig(h) = hv
          h += 1
        }
        i += 1
      }
      new GenericArrayData(sig)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** OPTIMIZATION r14 (guide §4): MinHash signature straight from the
    * TOKEN array — numerically identical to
    * `MinhashSig(ShinglesExpr(tokens, n), numHashes)` but with no shingle
    * strings ever materialized. The rolling M61 polynomial is linear, so
    * each n-token window's fingerprint falls out of prefix hashes:
    * with S_k = "t1 … tk" (space-joined) and W = "ti … tj",
    *   fp(S_j) = fp(S_{i-1} ++ " ")·31^len(W) + fp(W)  (mod M61)
    * ⇒ fp(W) = fp(S_j) − (fp(S_{i-1})·31 + 32)·31^len(W), all exact in
    * the prime field — bit-identical to folding the built shingle string
    * (KernelFusionSpec pins this). Shingle dedup is dropped because the
    * per-lane MIN is duplicate-invariant. O(total code points) per doc
    * instead of O(n · code points) string building + refolding. */
  case class MinhashTokensSig(child: Expression, n: Int, numHashes: Int)
      extends UnaryExpression with CodegenFallback {
    private val P = M61
    private lazy val as: Array[Long] =
      Array.tabulate(numHashes)(i => (2654435761L * (i + 1)) % P)
    private lazy val bs: Array[Long] =
      Array.tabulate(numHashes)(i => (40503L * (i + 1) + 12345L) % P)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val m = arr.numElements()
      // prefix fingerprints/code-point lengths over the space-joined stream
      val ph = new Array[Long](m + 1)
      val pc = new Array[Int](m + 1)
      var acc = 0L
      var cnt = 0
      var k = 0
      while (k < m) {
        if (k > 0) {
          acc = mulmodM61(acc, 31L) + 32L
          if (acc >= P) acc -= P
          cnt += 1
        }
        var local = 0
        acc = foldCp(arr.getUTF8String(k), acc) { (a, cp) =>
          local += 1
          val t = mulmodM61(a, 31L) + cp
          if (t >= P) t - P else t
        }
        cnt += local
        ph(k + 1) = acc
        pc(k + 1) = cnt
        k += 1
      }
      val pow = new Array[Long](cnt + 1)
      pow(0) = 1L
      var p = 1
      while (p <= cnt) { pow(p) = mulmodM61(pow(p - 1), 31L); p += 1 }
      val count = math.max(m - n + 1, 1)
      val sig = Array.fill(numHashes)(Long.MaxValue)
      var i = 0
      while (i < count) {
        val j = math.min(i + n, m)
        val fp =
          if (i == 0) ph(j)
          else {
            val lenW = pc(j) - pc(i) - 1
            var pre = mulmodM61(ph(i), 31L) + 32L
            if (pre >= P) pre -= P
            var w = ph(j) - mulmodM61(pre, pow(lenW))
            if (w < 0) w += P
            w
          }
        var h = 0
        while (h < numHashes) {
          var hv = mulmodM61(as(h), fp) + bs(h)
          if (hv >= P) hv -= P
          if (hv < sig(h)) sig(h) = hv
          h += 1
        }
        i += 1
      }
      new GenericArrayData(sig)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** OPTIMIZATION r15 (guide §4): every stride-1 `n`-token window
    * fingerprint of an ARRAY<STRING> token array — [[MinhashTokensSig]]'s
    * rolling M61 prefix-hash algebra with the lanes dropped and every
    * window fp emitted (position multiplicity preserved; arrays shorter
    * than `n` yield their whole text as the one window, mirroring the
    * callers' short-doc rule). Each fp is finalized with splitmix64 —
    * a 64-bit bijection, so window equality/distinctness is exactly the
    * M61 polynomial's — to disperse the fps for hash partitioning.
    * O(total code points) per document instead of the O(n · code points)
    * per-window string building + hashing of
    * `transform(sequence(...), i => xxhash64(array_join(slice(t,i,n))))`. */
  case class WindowFpsExpr(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    private val P = M61
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val m = arr.numElements()
      // prefix fingerprints/code-point lengths over the space-joined stream
      val ph = new Array[Long](m + 1)
      val pc = new Array[Int](m + 1)
      var acc = 0L
      var cnt = 0
      var k = 0
      while (k < m) {
        if (k > 0) {
          acc = mulmodM61(acc, 31L) + 32L
          if (acc >= P) acc -= P
          cnt += 1
        }
        var local = 0
        acc = foldCp(arr.getUTF8String(k), acc) { (a, cp) =>
          local += 1
          val t = mulmodM61(a, 31L) + cp
          if (t >= P) t - P else t
        }
        cnt += local
        ph(k + 1) = acc
        pc(k + 1) = cnt
        k += 1
      }
      val pow = new Array[Long](cnt + 1)
      pow(0) = 1L
      var p = 1
      while (p <= cnt) { pow(p) = mulmodM61(pow(p - 1), 31L); p += 1 }
      val count = math.max(m - n + 1, 1)
      val out = new Array[Long](count)
      var i = 0
      while (i < count) {
        val j = math.min(i + n, m)
        val fp =
          if (i == 0) ph(j)
          else {
            val lenW = pc(j) - pc(i) - 1
            var pre = mulmodM61(ph(i), 31L) + 32L
            if (pre >= P) pre -= P
            var w = ph(j) - mulmodM61(pre, pow(lenW))
            if (w < 0) w += P
            w
          }
        out(i) = mix64(fp)
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** 64-bit SimHash over ARRAY<STRING> tokens: one splitmix64-finalized
    * rolling hash per token, its 64 bits vote ±1 per output bit. */
  case class SimhashExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val counts = new Array[Int](64)
      var i = 0
      while (i < n) {
        val h = codepointHash64(arr.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
        i += 1
      }
      var out = 0L
      var b = 0
      while (b < 64) {
        if (counts(b) > 0) out |= (1L << b)
        b += 1
      }
      java.lang.Long.valueOf(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Hyperplane-sign LSH signatures: one long (bitsPerTable sign bits) per
    * table. `planes` rides inside the expression (seeded, deterministic). */
  case class HyperplaneSig(child: Expression, planes: Array[Array[Double]],
      bitsPerTable: Int) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    private def numTables: Int = planes.length / bitsPerTable
    override def nullSafeEval(v: Any): Any = {
      val x = v.asInstanceOf[ArrayData].toDoubleArray()
      val out = new Array[Long](numTables)
      var t = 0
      while (t < numTables) {
        var h = 0L
        var p = 0
        while (p < bitsPerTable) {
          val plane = planes(t * bitsPerTable + p)
          val n = math.min(plane.length, x.length)
          var d = 0
          var dot = 0.0
          while (d < n) { dot += x(d) * plane(d); d += 1 }
          if (dot > 0) h |= (1L << p)
          p += 1
        }
        out(t) = h
        t += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Distinct word-n-gram shingles of an ARRAY<STRING> token array — one
    * pass with a linked set, matching the semantics of
    * array_distinct(transform(sequence(...), i -> array_join(slice(t,i,n))))
    * (and the DuckDB oracle's list-comprehension form) exactly. */
  case class ShinglesExpr(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val m = arr.numElements()
      val count = math.max(m - n + 1, 1)
      val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]
      var i = 0
      while (i < count) {
        val sb = new java.lang.StringBuilder
        val end = math.min(i + n, m)
        var j = i
        while (j < end) {
          if (j > i) sb.append(' ')
          sb.append(arr.getUTF8String(j).toString)
          j += 1
        }
        seen.add(org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString))
        i += 1
      }
      new GenericArrayData(seen.toArray())
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  def shinglesOf(spark: SparkSession, tokens: Column, n: Int): Column = {
    val name = s"graft_shingles_$n"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, es => ShinglesExpr(es.head, n), "built-in")
    call_function(name, tokens)
  }

  /** Top-`nprobe` nearest centroids (by dot product over normalized
    * vectors) — the IVF cell-assignment argmin as one map-side pass over a
    * broadcast-in-expression centroid array: no join, no shuffle, no row
    * amplification. */
  case class NearestCells(child: Expression, centroids: Array[Array[Double]],
      nprobe: Int) extends UnaryExpression with CodegenFallback {
    require(nprobe >= 1 && nprobe <= centroids.length)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val x = v.asInstanceOf[ArrayData].toDoubleArray()
      val dots = new Array[Double](centroids.length)
      var c = 0
      while (c < centroids.length) {
        val cent = centroids(c)
        val n = math.min(cent.length, x.length)
        var d = 0
        var s = 0.0
        while (d < n) { s += x(d) * cent(d); d += 1 }
        dots(c) = s
        c += 1
      }
      val top = (0 until centroids.length)
        .sortBy(i => (-dots(i), i)).take(nprobe).toArray
      new GenericArrayData(top)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  def nearestCells(spark: SparkSession, v: Column,
      centroids: Array[Array[Double]], nprobe: Int): Column = {
    val name = s"graft_ivf_${java.lang.Integer.toHexString(
      java.util.Arrays.deepHashCode(centroids.asInstanceOf[Array[AnyRef]]))}_$nprobe"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, es => NearestCells(es.head, centroids, nprobe), "built-in")
    call_function(name, v)
  }

  /** Idempotent session registration — delegates to the single builder
    * table in [[GraftExtensions]] so the Column API and the SQL-extension
    * install path can never diverge. Column-side accessors below. */
  def register(spark: SparkSession): Unit =
    GraftExtensions.register(spark)

  def vecDot(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("graft_vec_dot", a, b)
  }

  def vecNormalize(spark: SparkSession, v: Column): Column = {
    register(spark)
    call_function("graft_vec_normalize", v)
  }

  def mix64Col(spark: SparkSession, x: Column): Column = {
    register(spark)
    call_function("graft_mix64", x)
  }

  /** Parameterized expressions get per-use registrations (name carries the
    * parameters so different configs coexist in one session). */
  def minhashSig(spark: SparkSession, sh: Column, numHashes: Int): Column = {
    val name = s"graft_minhash_$numHashes"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, es => MinhashSig(es.head, numHashes), "built-in")
    call_function(name, sh)
  }

  /** [[MinhashTokensSig]] — MinHash lanes straight from the token array
    * (identical values to `minhashSig(shinglesOf(tokens, n), k)`). */
  def minhashTokensSig(spark: SparkSession, tokens: Column, n: Int,
      numHashes: Int): Column = {
    val name = s"graft_minhash_toks_${n}_$numHashes"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, es => MinhashTokensSig(es.head, n, numHashes), "built-in")
    call_function(name, tokens)
  }

  /** [[WindowFpsExpr]] — all stride-1 n-token window fingerprints. */
  def windowFpsOf(spark: SparkSession, tokens: Column, n: Int): Column = {
    val name = s"graft_window_fps_$n"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, es => WindowFpsExpr(es.head, n), "built-in")
    call_function(name, tokens)
  }

  def simhash(spark: SparkSession, tokens: Column): Column = {
    register(spark) // graft_simhash comes from the shared builder table
    call_function("graft_simhash", tokens)
  }

  def hyperplaneSig(spark: SparkSession, v: Column,
      planes: Array[Array[Double]], bitsPerTable: Int): Column = {
    val name = s"graft_hplane_${planes.length}_$bitsPerTable"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, es => HyperplaneSig(es.head, planes, bitsPerTable), "built-in")
    call_function(name, v)
  }
}
