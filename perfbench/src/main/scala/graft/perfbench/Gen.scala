package graft.perfbench

import graft.index.CorpusDoc

/** Seeded input generator owned by the benchmark. Every value is a pure
  * function of (seed, index), so one seed gives identical inputs at any
  * parallelism and on any host.
  *
  * Documents are code-like: keywords, punctuation and identifiers in
  * camelCase (`getKobu`), snake_case (`load_kobu`) or bare form (`kobu`).
  * Identifier stems are drawn from a Zipf vocabulary, so index-term df runs
  * from about N (hot stems, verb prefixes, keywords) down to 1.
  */
object Gen {

  /** splitmix64 finaliser over (seed, i, j). */
  def mix(seed: Long, i: Long, j: Long): Long = {
    var x = seed ^ (i * 0x9e3779b97f4a7c15L) ^ (j * 0xc2b2ae3d27d4eb4fL)
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Uniform double in [0, 1). */
  def unit(seed: Long, i: Long, j: Long): Double =
    (mix(seed, i, j) >>> 11).toDouble / (1L << 53).toDouble

  def below(seed: Long, i: Long, j: Long, m: Int): Int = (unit(seed, i, j) * m).toInt

  /** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
  final class Zipf(n: Int, s: Double) extends Serializable {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  // Stems are consonant-vowel syllables; with no 'e' and no 'q' they can
  // never spell a keyword, a verb prefix or a marker term.
  private val Consonants = "bcdfghjklmnprstvwz"
  private val Vowels = "aiou"
  private val Syllables: Array[String] =
    for (c <- Consonants.toArray; v <- Vowels.toArray) yield s"$c$v"

  /** The stem of vocabulary rank `r`: unique per rank, at least two
    * syllables, lowercase letters only (one token in Code mode).
    */
  def stem(r: Int): String = {
    val sb = new StringBuilder
    var x = r + Syllables.length // ≥ 2 syllables
    while (x > 0) { sb.append(Syllables(x % Syllables.length)); x /= Syllables.length }
    sb.toString
  }

  val VocabSize = 200000
  val ZipfS = 1.05
  private lazy val stems = new Zipf(VocabSize, ZipfS)

  val Prefixes: Array[String] = Array("get", "set", "read", "write", "parse",
    "build", "load", "init", "find", "update", "delete", "apply", "is", "has",
    "to", "with")
  private lazy val prefixZipf = new Zipf(Prefixes.length, 1.0)
  val Keywords: Array[String] = Array("val", "def", "return", "import", "if",
    "else", "for", "new", "this", "null", "true", "false", "case", "match")
  private val Langs = Array("scala", "java", "go", "py", "js", "rs")

  /** One identifier occurrence at token slot `w` of document `i`. */
  private def identifier(seed: Long, i: Long, w: Int): String = {
    val s = stem(stems.sample(unit(seed, i, 1000L + w)))
    val p = Prefixes(prefixZipf.sample(unit(seed, i, 2000L + w)))
    below(seed, i, 3000L + w, 10) match {
      case 0 | 1 | 2 | 3 => p + s.capitalize // camelCase
      case 4 | 5 | 6 => s"${p}_$s"           // snake_case
      case _ => s                            // bare stem
    }
  }

  /** Code-like content of document `i`: 40–160 tokens. */
  def content(seed: Long, i: Long): String = {
    val n = 40 + below(seed, i, 1, 121)
    val sb = new StringBuilder
    var w = 0
    while (w < n) {
      val word =
        if (below(seed, i, 4000L + w, 100) < 15)
          Keywords(below(seed, i, 5000L + w, Keywords.length))
        else identifier(seed, i, w)
      sb.append(word)
      sb.append(below(seed, i, 6000L + w, 8) match {
        case 0 => "(";
        case 1 => ");\n"
        case 2 => "."
        case 3 => " = "
        case _ => " "
      })
      w += 1
    }
    sb.toString
  }

  /** Corpus document `i`; (repo, path, commit) is unique per index. */
  def doc(seed: Long, i: Long): CorpusDoc = {
    val repoId = math.sqrt(below(seed, i, 2, 400).toDouble).toInt
    val lang = Langs(below(seed, i, 3, Langs.length))
    val path = s"src/pkg${below(seed, i, 4, 32)}/File$i.$lang"
    val commit = f"${mix(seed, i, 5) & Long.MaxValue}%016x${i & 0xffffffffL}%08x"
    CorpusDoc(s"org${repoId % 7}/repo$repoId", path, commit, lang, content(seed, i))
  }

  /** Unique marker term of ingest batch `b` (contains 'q', which no
    * generated stem, prefix or keyword does).
    */
  def marker(seed: Long, b: Int): String =
    s"qz${stem((mix(seed, b, 7) & 0xffff).toInt)}mark${stem(b)}"

  /** Ingest document `j` of batch `b`: a fresh corpus document (index
    * beyond the base corpus) carrying the batch's marker term.
    */
  def ingestDoc(seed: Long, base: Long, b: Int, batchSize: Int, j: Int): CorpusDoc = {
    val i = base + b.toLong * batchSize + j
    val d = doc(seed, i)
    d.copy(content = s"${marker(seed, b)} ${d.content}")
  }

  // ---- dedup documents: base docs plus planted near-duplicate clusters ----

  /** Word-level near copy of `text`: each word is replaced with
    * probability `rate` (deterministic in (seed, copy)).
    */
  def perturb(seed: Long, copy: Long, text: String, rate: Double): String = {
    val ws = text.split(" ")
    var w = 0
    while (w < ws.length) {
      if (unit(seed, copy, 9000L + w) < rate)
        ws(w) = stem(below(seed, copy, 9500L + w, VocabSize))
      w += 1
    }
    ws.mkString(" ")
  }

  /** Document table row for dedup: (doc_id, text). The first
    * `clusters * clusterSize` ids form planted clusters: ids
    * c*clusterSize .. c*clusterSize+clusterSize-1 are perturbed copies of
    * one source text. The rest are independent documents.
    */
  def dedupText(seed: Long, id: Long, clusters: Int, clusterSize: Int, rate: Double): String = {
    val planted = clusters.toLong * clusterSize
    if (id < planted) {
      val c = id / clusterSize
      perturb(seed, id, content(seed ^ 0x5eedL, c), rate)
    } else content(seed ^ 0xd0c5L, id)
  }

  // ---- clustered embeddings ----------------------------------------------

  /** Gaussian-ish noise from the sum of four uniforms (mean 0, var 1/3). */
  private def noise(seed: Long, a: Long, d: Int): Double =
    (unit(seed, a, 4 * d) + unit(seed, a, 4 * d + 1) +
      unit(seed, a, 4 * d + 2) + unit(seed, a, 4 * d + 3)) - 2.0

  /** Embedding of vector `id`: its center (id % centers) plus noise. */
  def embedding(seed: Long, id: Long, dim: Int, centers: Int, spread: Double): Array[Float] = {
    val c = id % centers
    Array.tabulate(dim)(d =>
      (noise(seed ^ 0xce17e5L, c, d) + spread * noise(seed, id, d)).toFloat)
  }
}
