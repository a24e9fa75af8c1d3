package graft.functions

import java.nio.charset.StandardCharsets

/** The text primitives the compiled kernels share: one token scanner
  * and one portable hash.
  *
  *  - [[foreachToken]] is the `Tokenizer.tokensCol` contract over
  *    ALREADY lowered text: a token is a maximal run of [a-z0-9],
  *    exactly the non-empty pieces of `split(s, '[^a-z0-9]+')`. Callers
  *    lowercase with Spark's own `lower` (or the same
  *    `UTF8String.toLowerCase`), so case folding cannot diverge from the
  *    relational forms. Tokens stream to the caller as they are found;
  *    nothing is collected.
  *  - [[Hasher.hash]] is the first 15 hex chars of md5 of the UTF-8
  *    bytes read as a 60-bit Long: the `Dedup.portableHash` / DuckDB
  *    `substr(md5(x),1,15)` value, raw (callers reduce it as they need).
  */
object KernelText {

  def foreachToken(s: String)(f: String => Unit): Unit = {
    val len = s.length
    var i = 0
    while (i < len) {
      if (isTokenChar(s.charAt(i))) {
        val start = i
        while (i < len && isTokenChar(s.charAt(i))) i += 1
        f(s.substring(start, i))
      } else i += 1
    }
  }

  private def isTokenChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')

  /** One thread's digest and output buffer: hashing allocates nothing
    * beyond the caller's bytes.
    */
  final class Hasher private[KernelText] {
    private val md = java.security.MessageDigest.getInstance("MD5")
    private val d16 = new Array[Byte](16)

    def hash(bytes: Array[Byte], off: Int, len: Int): Long = {
      md.reset()
      md.update(bytes, off, len)
      md.digest(d16, 0, 16)
      // first 15 hex chars as a number: bytes 0..6 + high nibble of 7
      var v = 0L
      var b = 0
      while (b < 7) { v = (v << 8) | (d16(b) & 0xffL); b += 1 }
      (v << 4) | ((d16(7) >> 4) & 0x0fL)
    }

    def hash(s: String): Long = {
      val bytes = s.getBytes(StandardCharsets.UTF_8)
      hash(bytes, 0, bytes.length)
    }
  }

  private val local = ThreadLocal.withInitial[Hasher](() => new Hasher)

  /** This thread's [[Hasher]]; fetch it once per row, not per hash. */
  def hasher: Hasher = local.get()
}
