package graft.llm

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Column
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.Platform

/** The per-document word k-gram kernel every shingle consumer shares. It
  * reads the tokenizer's array (see [[TextAnalysis.tokens]]) once per
  * document and builds either the document's k-grams or its MinHash
  * minima in one compiled pass: no higher-order lambda (those evaluate
  * interpreted), no explode, no shuffle.
  *
  * A k-gram is its `k` tokens joined by one space. Its MinHash input is
  * Spark's `xxhash64` of that string's UTF-8 bytes (seed 42), and hash
  * function `i` is `rotl(h, (7i + 13) mod 64) ^ c_i` with `c_i` the i-th
  * long of `Random(42)`; the minimum is taken as a signed long. Band keys
  * stored in [[MinhashIndex]] tables depend on every one of these choices.
  * Null text and documents with fewer than `k` tokens have no k-grams. */
private[llm] object Shingles {

  /** The k-grams of `toks` in order; with `distinct`, only the first
    * occurrence of each (as `array_distinct` keeps). */
  def grams(toks: scala.collection.Seq[String], k: Int,
      distinct: Boolean): Array[String] =
    if (toks == null || toks.length < k) Array.empty
    else {
      val gs = toks.iterator.sliding(k).map(_.mkString(" "))
      (if (distinct) gs.distinct else gs).toArray
    }

  /** MinHash minima of the k-grams of `toks` under the hash family with
    * constants `consts`, or null when there is no k-gram. */
  def minhash(toks: scala.collection.Seq[String], k: Int,
      consts: Array[Long]): Array[Long] = {
    val gs = grams(toks, k, distinct = false)
    if (gs.isEmpty) return null
    val mins = Array.fill(consts.length)(Long.MaxValue)
    gs.foreach { g =>
      val b = g.getBytes(UTF_8)
      val h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
      var m = 0
      while (m < consts.length) {
        val v = java.lang.Long.rotateLeft(h, (7 * m + 13) % 64) ^ consts(m)
        if (v < mins(m)) mins(m) = v
        m += 1
      }
    }
    mins
  }

  /** `array<string>` column of [[grams]] over a token-array column. */
  def gramsCol(toks: Column, k: Int, distinct: Boolean): Column = {
    require(k >= 1, s"shingle length must be at least 1, got $k")
    udf(new UDF1[scala.collection.Seq[String], Array[String]] {
      def call(t: scala.collection.Seq[String]): Array[String] =
        grams(t, k, distinct)
    }, ArrayType(StringType))(toks)
  }

  /** `array<bigint>` column of [[minhash]] over a token-array column: null
    * for documents without a k-gram. */
  def minhashCol(toks: Column, k: Int, numHashes: Int): Column = {
    require(k >= 1, s"shingle length must be at least 1, got $k")
    val rng = new scala.util.Random(42)
    val consts = Array.fill(numHashes)(rng.nextLong())
    udf(new UDF1[scala.collection.Seq[String], Array[Long]] {
      def call(t: scala.collection.Seq[String]): Array[Long] =
        minhash(t, k, consts)
    }, ArrayType(LongType))(toks)
  }
}
