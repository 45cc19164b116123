package graft.functions

/** Scalar vector math over `array<float>` columns, shared between
  * interpreted eval and generated code (codegen emits static calls into
  * this object, keeping whole-stage codegen spans intact).
  *
  * Accumulation is in double: the DuckDB oracle computes
  * `list_cosine_similarity(a::DOUBLE[], b::DOUBLE[])`, and double
  * accumulation over float inputs is bit-stable across both engines.
  */
object VectorOps {

  def dot(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x(i).toDouble * y(i).toDouble; i += 1 }
    acc
  }

  def normSq(x: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < x.length) { val v = x(i).toDouble; acc += v * v; i += 1 }
    acc
  }

  def l2Norm(x: Array[Float]): Double = math.sqrt(normSq(x))

  /** `x / ‖x‖₂`, a zero vector unchanged — MLlib `Normalizer(p = 2)`'s
    * arithmetic exactly (sequential `v·v` sum, `sqrt`, one division each).
    */
  def l2Normalize(x: Array[Double]): Array[Double] = {
    var acc = 0.0
    var i = 0
    while (i < x.length) { acc += x(i) * x(i); i += 1 }
    val norm = math.sqrt(acc)
    if (norm == 0.0) x else x.map(_ / norm)
  }

  /** Cosine similarity; 0.0 when either vector is all-zero (matches the
    * pgvector convention the reference delegates to —
    * reference: src/clients/vector-client.ts:396-415 delegates the whole
    * similarity computation to a pgvector stored function).
    */
  def cosine(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var d = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x(i).toDouble; val yi = y(i).toDouble
      d += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else d / math.sqrt(nx * ny)
  }

  /** Squared L2 distance (for IVF assignment / brute-force kNN). */
  def l2Sq(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var acc = 0.0
    var i = 0
    while (i < n) { val dlt = x(i).toDouble - y(i).toDouble; acc += dlt * dlt; i += 1 }
    acc
  }

  /** Deterministic local embedder: hashing-TF of character trigrams into
    * `dim` buckets, L2-normalized. Stands in for the reference's network
    * embedder (OpenAI ada-002, vector-client.ts:375-388) so correctness
    * tests are hermetic. Uses a fixed FNV-1a seed — same text always maps
    * to the same vector on any partition layout.
    */
  def hashEmbed(text: String, dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    if (text == null || text.isEmpty || dim <= 0) return out
    val s = "\u0002" + text + "\u0003" // STX/ETX boundary markers
    var i = 0
    while (i + 3 <= s.length) {
      var h = 0x811c9dc5
      var j = i
      while (j < i + 3) { h ^= s.charAt(j); h *= 0x01000193; j += 1 }
      val bucket = ((h % dim) + dim) % dim
      // sign hash decorrelates buckets (hashing-trick with signed counts)
      val sign = if ((h & 0x80000000) != 0) -1f else 1f
      out(bucket) += sign
      i += 1
    }
    val nrm = l2Norm(out)
    if (nrm > 0) {
      var k = 0
      while (k < dim) { out(k) = (out(k) / nrm).toFloat; k += 1 }
    }
    out
  }

  /** 64-bit SimHash over whitespace tokens (near-dup fingerprint). */
  def simhash64(text: String): Long = {
    if (text == null) return 0L
    val weights = new Array[Int](64)
    val toks = text.split("\\s+")
    var t = 0
    while (t < toks.length) {
      val tok = toks(t)
      if (tok.nonEmpty) {
        var h = 0xcbf29ce484222325L // FNV-1a 64
        var j = 0
        while (j < tok.length) { h ^= tok.charAt(j); h *= 0x100000001b3L; j += 1 }
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) weights(b) += 1 else weights(b) -= 1
          b += 1
        }
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (weights(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Byte-value histogram of a binary payload: `bins` equal-width buckets
    * over 0..255 (multimodal feature extraction — the deterministic
    * "feature vector" a real image/audio featurizer would replace).
    */
  def byteHistogram(bytes: Array[Byte], bins: Int): Array[Long] = {
    val out = new Array[Long](bins)
    if (bytes == null || bins <= 0) return out
    var i = 0
    while (i < bytes.length) {
      out((bytes(i) & 0xff) * bins / 256) += 1L
      i += 1
    }
    out
  }

  /** Every `stride`-th byte of a payload, starting at byte 0 — the
    * deterministic stand-in for a media downsample/resize (a real codec
    * resamples pixels; the Spark-side contract is just binary -> smaller
    * binary plus updated metadata).
    */
  def byteStride(bytes: Array[Byte], stride: Int): Array[Byte] = {
    if (bytes == null || stride <= 0) return Array.emptyByteArray
    val n = (bytes.length + stride - 1) / stride
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = bytes(i * stride); i += 1 }
    out
  }

  /** Polynomial rolling hash (Rabin-Karp style) of the full string —
    * cheap content fingerprint for exact-dup keys.
    */
  def rollingHash(text: String): Long = {
    if (text == null) return 0L
    var h = 0L
    var i = 0
    while (i < text.length) { h = h * 1000003L + text.charAt(i); i += 1 }
    h
  }

  /** Deterministic ±1 random projection (Achlioptas 2003 sign matrix;
    * Johnson–Lindenstrauss guarantee): out[j] = Σ_i sign(i,j)·v[i],
    * signs from a splitmix64 finalizer of (i, j) — the matrix is never
    * materialized, both engines of a pipeline regenerate it
    * bit-identically from the indices alone.
    */
  def rpProject(v: Array[Float], m: Int): Array[Float] = {
    val out = new Array[Float](math.max(m, 0))
    if (v == null || m <= 0) return out
    var j = 0
    while (j < m) {
      var acc = 0.0
      var i = 0
      while (i < v.length) {
        var z = (i.toLong << 32) ^ (j.toLong * 0x9E3779B97F4A7C15L)
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^= z >>> 31
        acc += (if ((z & 1L) == 0L) v(i) else -v(i))
        i += 1
      }
      out(j) = acc.toFloat
      j += 1
    }
    out
  }

  /** PQ asymmetric-distance sum: Σ_m lut[m·K + codes(m)], with
    * K = lut.length / codes.length (the flat per-query lookup table
    * carries one K-block per subspace in subspace order). Summation is
    * ascending-m — the same order the interpreted fold used, so the
    * codegen path is bit-identical to it. Out-of-range codes throw
    * (an index bug must never read another subspace's block silently).
    */
  def pqAdc(codes: Array[Int], lut: Array[Double]): Double = {
    if (codes.length == 0) return 0.0
    val k = lut.length / codes.length
    require(k * codes.length == lut.length,
      s"pq_adc: LUT length ${lut.length} is not a multiple of numSub ${codes.length}")
    var s = 0.0
    var m = 0
    while (m < codes.length) {
      val c = codes(m)
      require(c >= 0 && c < k, s"pq_adc: code $c out of range [0, $k) in subspace $m")
      s += lut(m * k + c)
      m += 1
    }
    s
  }
}
