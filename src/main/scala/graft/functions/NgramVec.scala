package graft.functions

/** Plain-Scala mirror of the char-n-gram hashed vectorization that
  * graft.operators.FuzzyJoin defines as Catalyst expressions (normalize ->
  * padded char 2-4-grams -> md5 bucket -> tf). Used where the vector is
  * consumed inside RDD code (StringEncoder's SVD fit): evaluating the
  * 256-bucket HOF expression tree through Catalyst costs ~15s of optimizer
  * time per plan, while this is a straight loop. Equality with the
  * expression form is asserted in FuzzyJoinSpec.
  */
object NgramVec {

  private val hexChars = "0123456789abcdef".toCharArray
  private val mdPool: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
  private val nonAlnum = java.util.regex.Pattern.compile("[^a-z0-9]+")

  // hot path: a format-string hex encoder + per-call getInstance measured
  // ~400us per value (String.format dominates) — this is ~50x faster
  def md5Hex(s: String): String = hex(md5Bytes(s))

  /** Raw 16-byte digest from the pooled MessageDigest — for hot loops that
    * compare digests (lexicographic lowercase-hex order == unsigned byte
    * order, so callers can compare bytes and hex-encode only winners) or
    * read nibbles directly (hex char i = nibble i of the byte stream).
    */
  // the Charset constant, not the name "UTF-8": a by-name lookup per
  // call showed up in executor profiles of the minhash/simhash loops
  def md5Bytes(s: String): Array[Byte] =
    md5().digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** This thread's pooled MD5 digest, reset — for loops that hash from
    * their own reused byte buffers (`digest(buf, off, 16)` resets it again).
    */
  private[graft] def md5(): java.security.MessageDigest = {
    val md = mdPool.get()
    md.reset()
    md
  }

  def hex(bytes: Array[Byte]): String = hex(bytes, 0)

  /** Lowercase hex of the 16-byte digest starting at `off`. */
  def hex(bytes: Array[Byte], off: Int): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexChars((bytes(off + i) >> 4) & 0xf)
      out(2 * i + 1) = hexChars(bytes(off + i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Unsigned lexicographic compare of the 16-byte digests at `a(aOff)`
    * and `b(bOff)` (== comparing their lowercase-hex encodings as strings).
    */
  def compareDigests(a: Array[Byte], aOff: Int, b: Array[Byte], bOff: Int): Int = {
    var i = 0
    while (i < 16) {
      val d = (a(aOff + i) & 0xff) - (b(bOff + i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    0
  }

  /** Text.normalize: lowercase, non-alphanumerics to single spaces, trim. */
  def normalize(s: String): String =
    nonAlnum.matcher(s.toLowerCase).replaceAll(" ").trim

  /** FuzzyJoin.charNgrams234: one pad space each side, windows n = 2..4. */
  def grams234(s: String): Seq[String] = {
    val padded = " " + normalize(s) + " "
    (2 to 4).flatMap { n =>
      if (padded.length - (n - 1) <= 0) Seq.empty
      else (0 to padded.length - n).map(i => padded.substring(i, i + n))
    }
  }

  /** FuzzyJoin.bucketOf: first 4 md5 hex digits mod nBuckets. */
  def bucket(g: String, nBuckets: Int): Int =
    Integer.parseInt(md5Hex(g).substring(0, 4), 16) % nBuckets

  /** Term-frequency array over nBuckets. */
  def tf(s: String, nBuckets: Int): Array[Double] = {
    val a = new Array[Double](nBuckets)
    grams234(s).foreach(g => a(bucket(g, nBuckets)) += 1.0)
    a
  }

  /** sqrt-idf weights from per-bucket document frequencies (FuzzyJoin.fit). */
  def idf(df: Array[Long], n: Long): Array[Double] =
    df.map(d => math.sqrt((1.0 + n) / (1.0 + d)))

  /** l2-normalized (tf * idf); all-zero stays zero (FuzzyJoin semantics). */
  def tfidf(s: String, weights: Array[Double], nBuckets: Int): Array[Double] = {
    val v = tf(s, nBuckets)
    var i = 0; var norm2 = 0.0
    while (i < v.length) { v(i) *= weights(i); norm2 += v(i) * v(i); i += 1 }
    val norm = math.sqrt(norm2)
    if (norm != 0.0) { i = 0; while (i < v.length) { v(i) /= norm; i += 1 } }
    v
  }
}
