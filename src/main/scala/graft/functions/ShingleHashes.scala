package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** JVM-native forms of the shingle-hash pipeline used by MinHash/SimHash
  * dedup. Semantically identical to the declarative chain
  * `transform(array_distinct(transform(sequence(...), trigram)), md5-hash)`
  * and to the DuckDB oracle (distinct order does not matter downstream:
  * min and sum are commutative over exact integers) — but one eval call
  * per row instead of millions of interpreted lambda frames.
  */

/** text -> distinct 3-gram (word) shingle hashes: first 8 hex digits of
  * md5(shingle) as a BIGINT. Empty array for texts under 3 tokens.
  */
case class ShingleHashes(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].toLowerCase.toString.split(" ", -1)
    if (toks.length < 3) return new GenericArrayData(Array.emptyLongArray)
    val md = java.security.MessageDigest.getInstance("MD5")
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + 2 < toks.length) {
      seen.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) {
      md.reset()
      val digest = md.digest(it.next().getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 8 hex digits == first 4 bytes, big-endian, unsigned
      out(j) = ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
        ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
}

/** hashes -> 16-wide MinHash signature with the fixed (a*h + b) % p family
  * shared with the DuckDB oracle.
  */
case class MinHashSig(child: Expression)
    extends UnaryExpression with CodegenFallback {

  import MinHashSig._

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val sig = Array.fill(16)(P)
    var i = 0
    while (i < hs.numElements()) {
      val h = hs.getLong(i)
      var k = 0
      while (k < 16) {
        val v = (A(k) * h + B(k)) % P
        if (v < sig(k)) sig(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

object MinHashSig {
  val P = 2038074743L
  val A: Array[Long] = Array(3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59)
  val B: Array[Long] = Array(101, 103, 107, 109, 113, 127, 131, 137, 139, 149, 151, 157, 163, 167, 173, 179)
}

/** hashes -> 32-bit SimHash (bit j set when the +/-1 bit-j vote is > 0). */
case class SimHash32(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash32"

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](32)
    var i = 0
    while (i < hs.numElements()) {
      val h = hs.getLong(i)
      var j = 0
      while (j < 32) {
        if (((h >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 32) {
      if (votes(j) > 0) out |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(c: Expression): SimHash32 = copy(child = c)
}

object ShingleHashes {
  /** Install the native functions ([[graft.GraftExtensions.install]]). */
  def register(spark: SparkSession): Unit = graft.GraftExtensions.install(spark)
}
