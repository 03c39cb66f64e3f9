package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hash-family primitives for near-duplicate detection at corpus scale:
  * word shingles, MinHash signatures, LSH band keys, and SimHash.
  *
  * Engine-portability design decision: every hash is derived from md5 hex
  * strings, because md5 is bit-identical in Spark and DuckDB — which makes
  * each operator oracle-checkable end-to-end. A lexicographic MIN over
  * fixed-width lowercase hex equals the numeric MIN of the underlying
  * 128-bit value, so MinHash = min(md5(seed || shingle)) needs no hex→int
  * conversion at all.
  *
  * Scale: shingling is a per-row map + explode (no shuffle); signatures are
  * one hash-partitioned groupBy(doc); LSH banding turns the O(n²) pair
  * search into an equi-join on band keys — the canonical web-scale
  * dedup plan (one shuffle on band key, skew-bounded by band width).
  */
object Hashing {

  /** Sentinel above any md5 hex string — the fold's identity for min. */
  private[graft] val MinhashSentinel = "￿"

  private val TokenRe = java.util.regex.Pattern.compile("[a-z0-9]+")
  private val HexDigits = "0123456789abcdef".toCharArray

  // one MessageDigest per executor thread, reset per call (digest()
  // resets): getInstance() walks the JCA provider list per call, which
  // dominated the per-token cost of the simhash/minhash UDFs (guide
  // §4.5 — initialise heavyweight state once per task, not per row)
  private val Md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def md5Bytes(s: String): Array[Byte] =
    Md5.get().digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def md5Hex(s: String): String = {
    val d = md5Bytes(s)
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Word-level shingles (n consecutive lowercase tokens joined by a
    * space), distinct, insertion-ordered. Tokenization = runs of
    * alphanumerics, matching TextAnalysis.tokenCount and the oracle.
    *
    * Plain Scala, exposed through UDFs below: per-row text hashing is
    * CPU-bound, and Catalyst higher-order functions run interpreted
    * (no whole-stage codegen), measured 10-30× slower than JIT-compiled
    * Scala on this workload. The semantics stay oracle-checkable because
    * the oracle compares md5 hex values, which are engine-portable. */
  def shinglesScala(text: String, n: Int): Array[String] = {
    if (text == null) return Array.empty
    val toks = scala.collection.mutable.ArrayBuffer.empty[String]
    val m = TokenRe.matcher(text.toLowerCase(java.util.Locale.ROOT))
    while (m.find()) toks += m.group()
    if (toks.length < n) return Array.empty
    val seen = new java.util.LinkedHashSet[String]
    var i = 0
    while (i + n <= toks.length) {
      seen.add(toks.slice(i, i + n).mkString(" "))
      i += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  /** All `k` MinHash values (32-hex-char strings) for a document: element
    * `i` = min over distinct shingles of md5(i:shingle) — lexicographic
    * min over fixed-width hex == numeric min of the 128-bit value. Docs
    * with no shingles return all-sentinel (callers filter; the oracle's
    * per-shingle join drops such docs implicitly). */
  def minhashesScala(text: String, shingleN: Int, k: Int): Array[String] = {
    val sh = shinglesScala(text, shingleN)
    val mins = Array.fill(k)(MinhashSentinel)
    var i = 0
    while (i < sh.length) {
      var seed = 0
      while (seed < k) {
        val h = md5Hex(seed.toString + ":" + sh(i))
        if (h.compareTo(mins(seed)) < 0) mins(seed) = h
        seed += 1
      }
      i += 1
    }
    mins
  }

  /** LSH band keys for a document: key `b` = band index + its
    * `rowsPerBand` consecutive MinHashes. Docs sharing any band key are
    * candidate near-duplicates. Empty docs → empty array (no keys, no
    * pairs — matches the oracle's per-shingle join dropping them). */
  def bandKeysScala(text: String, shingleN: Int, bands: Int,
                    rowsPerBand: Int): Array[String] = {
    val mh = minhashesScala(text, shingleN, bands * rowsPerBand)
    if (mh.length == 0 || mh(0) == MinhashSentinel) return Array.empty
    Array.tabulate(bands) { b =>
      val sb = new StringBuilder(b.toString).append(':')
      var r = 0
      while (r < rowsPerBand) {
        if (r > 0) sb.append('|')
        sb.append(mh(b * rowsPerBand + r))
        r += 1
      }
      sb.toString
    }
  }

  /** Distinct-shingle UDF (ARRAY<STRING>) for explode-based operators. */
  def shinglesUdf(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((t: String) => shinglesScala(t, n))

  /** Rolling k-token gram hashes over a pre-split token array: element
    * i = md5 hex of the space-joined tokens [i, i+k) — byte-identical
    * to Catalyst's md5(array_join(slice(toks, i+1, k), " ")) but one
    * JIT-compiled call per ROW (ThreadLocal digest, §4.5) instead of a
    * per-position interpreted HOF chain with a slice+join allocation
    * each. Fewer than k tokens → empty array. */
  def gramHashesScala(toks: Seq[String], k: Int): Array[String] = {
    if (toks == null || toks.length < k) return Array.empty
    val ts = toks.toIndexedSeq
    val n = ts.length - k + 1
    val out = new Array[String](n)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(ts(i + j))
        j += 1
      }
      out(i) = md5Hex(sb.toString)
      i += 1
    }
    out
  }

  def gramHashesUdf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((ts: Seq[String]) => gramHashesScala(ts, k))

  /** Band-key UDF: one call per row, exploded directly — keeping the whole
    * signature computation in one JIT-compiled call avoids Catalyst
    * re-evaluating a nested UDF once per band inside a lambda. */
  def bandKeysUdf(shingleN: Int, bands: Int,
                  rowsPerBand: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((t: String) => bandKeysScala(t, shingleN, bands, rowsPerBand))

  // per-thread token → vote-bitmask cache for [[simhashScala]]: corpus
  // tokens are Zipf-distributed, so most md5 calls repeat earlier
  // tokens; the mask is a pure function of the token (deterministic
  // across rows/tasks/retries), so memoizing it per executor thread is
  // semantics-free (guide §4.5 per-task state). Bounded: cleared when
  // it reaches 64k entries, never otherwise — so each executor thread
  // keeps up to 64k tokens (and their masks) for its whole lifetime.
  private val TokenMask = new ThreadLocal[java.util.HashMap[String, Integer]] {
    override def initialValue(): java.util.HashMap[String, Integer] =
      new java.util.HashMap[String, Integer](1 << 14)
  }

  /** Bit j (0-based, j < 32) set iff hex digit j of md5(tok) >= '8' —
    * i.e. the top bit of nibble j — computed straight from the digest
    * bytes, skipping the 32-char hex rendering per token. */
  private def tokenVoteMask(tok: String): Int = {
    val d = md5Bytes(tok)
    var mask = 0
    var j = 0
    while (j < 32) {
      val nib =
        if ((j & 1) == 0) (d(j >> 1) >> 4) & 0xf
        else d(j >> 1) & 0xf
      if (nib >= 8) mask |= 1 << j
      j += 1
    }
    mask
  }

  /** SimHash in plain Scala — identical semantics to [[simhash]] below
    * (asserted equal in HashingSpec), used by Dedup so the per-token vote
    * loop runs JIT-compiled instead of as an interpreted Catalyst fold. */
  def simhashScala(text: String, bits: Int): String = {
    require(bits >= 1 && bits <= 32)
    if (text == null) return "0" * bits
    val votes = new Array[Int](bits)
    val cache = TokenMask.get()
    val m = TokenRe.matcher(text.toLowerCase(java.util.Locale.ROOT))
    while (m.find()) {
      val tok = m.group()
      var mask = cache.get(tok)
      if (mask == null) {
        if (cache.size >= (1 << 16)) cache.clear()
        mask = Integer.valueOf(tokenVoteMask(tok))
        cache.put(tok, mask)
      }
      val mv = mask.intValue
      var j = 0
      while (j < bits) {
        if (((mv >>> j) & 1) == 1) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
    }
    val sb = new StringBuilder(bits)
    var j = 0
    while (j < bits) { sb.append(if (votes(j) > 0) '1' else '0'); j += 1 }
    sb.toString
  }

  def simhashUdf(bits: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((t: String) => simhashScala(t, bits))

  /** Masked-signature keys for Hamming-distance-≤1 bucketing: key `j` is
    * the signature with bit j wildcarded. Two signatures within Hamming
    * distance 1 collide on the key that masks their (single) differing
    * bit; equal signatures collide on every key. One UDF call per row —
    * the signature is computed once, not once per mask position. */
  def simhashMaskedKeysScala(text: String, bits: Int): Array[String] = {
    val sig = simhashScala(text, bits)
    Array.tabulate(bits)(j =>
      s"$j:" + sig.substring(0, j) + "_" + sig.substring(j + 1))
  }

  def simhashMaskedKeysUdf(bits: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((t: String) => simhashMaskedKeysScala(t, bits))

  /** SimHash over hex-derived bits: each token contributes ±1 to `bits`
    * bit positions; bit j of the signature is 1 iff the sum is positive.
    * Bit j of a token = 1 iff hex digit j of md5(token) >= '8' (the top
    * bit of the nibble) — a pure string comparison, so the oracle SQL is a
    * substring test in both engines. Returns a `bits`-char '0'/'1' string.
    * bits <= 32 (md5 hex length). Column-expression form, kept as the
    * oracle-documented reference semantics; the hot path uses
    * [[simhashScala]]. */
  def simhash(text: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 32)
    val toks = regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))
    // md5 evaluated once per token (transform), then folded into a
    // `bits`-wide vote vector in a single pass.
    val votes = aggregate(
      transform(toks, t => md5(t)),
      array_repeat(lit(0), bits),
      (acc, h) => zip_with(acc, sequence(lit(1), lit(bits)),
        (a, j) => a + when(h.substr(j, lit(1)) >= "8", 1).otherwise(-1)))
    array_join(transform(votes, v => when(v > 0, lit("1")).otherwise(lit("0"))), "")
  }
}
