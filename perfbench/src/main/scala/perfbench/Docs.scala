package perfbench

/** Generated documents in the value domain of the repository's test
  * corpus: texts of 10–100 words over its 30-word vocabulary, five
  * languages (en 40%, four others 15% each), sources `src0`–`src19` by
  * doc_id, and 64-dim unit embeddings for 40% of the ids around ten label
  * centroids. */
object Docs {
  val Vocab: Array[String] = Array(
    "merge", "window", "customer", "spark", "part", "group", "stream", "filter",
    "the", "sort", "scan", "vector", "join", "query", "big", "hash", "data",
    "column", "agg", "table", "line", "small", "slow", "key", "fast", "order",
    "row", "value", "a", "batch")
  val Langs: Array[String] = Array("en", "zh", "de", "fr", "es")

  def text(r: Rng): String =
    Array.fill(10 + r.int(91))(Vocab(r.int(Vocab.length))).mkString(" ")
  def lang(r: Rng): String = if (r.chance(0.4)) "en" else Langs(1 + r.int(4))

  /** `n` pairwise-distinct texts. */
  def distinctTexts(r: Rng, n: Int): Array[String] = {
    val seen = new java.util.HashSet[String]()
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      val t = text(r)
      if (seen.add(t)) { out(i) = t; i += 1 }
    }
    out
  }

  /** Replace one word with a token no generated text contains. */
  def perturb(r: Rng, text: String, token: String): String = {
    val w = text.split(' ')
    w(r.int(w.length)) = token
    w.mkString(" ")
  }

  /** A seeded permutation of 0 until n. */
  def permutation(r: Rng, n: Int): Array[Int] = {
    val p = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.int(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }

  def unitVector(r: Rng, center: Array[Double], spread: Double): Array[Float] = {
    val v = center.map(_ + spread * r.gaussian())
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / norm).toFloat)
  }
}
