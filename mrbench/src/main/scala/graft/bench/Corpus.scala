package graft.bench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.functions.{Djb2, Utf8ByteOrdering}

/** The `mr_wordcount` input: a seeded Zipf corpus in the reference's text
  * shape (single spaces, a `\n` every `tokensPerLine` tokens, every file
  * ending in `\n`), plus the word counts the reference program must print
  * for it.
  *
  * Same seed and sizes, same bytes. The vocabulary and each word's Zipf
  * rank are fixed, so every seed has the same head words and the same
  * partition skew; the seed draws the token stream. A few
  * words carry non-ASCII letters, some outside the BMP, so the layout gate
  * tests the unsigned-byte key order and djb2's sign-extended bytes, not
  * just ASCII.
  */
object Corpus {
  final case class Spec(tokens: Int, vocab: Int, files: Int, tokensPerLine: Int = 20)

  /** Word number `i` (0-based): bijective base-26, with a marked letter
    * appended to every 997th word (U+00E9) and every 4999th (U+1D11E,
    * two UTF-16 units) and every 7919th (U+FF21, above the surrogates).
    */
  def word(i: Int): String = {
    val sb = new java.lang.StringBuilder
    var n = i + 1
    while (n > 0) { n -= 1; sb.append(('a' + n % 26).toChar); n /= 26 }
    if (i % 997 == 3) sb.append('é')
    if (i % 4999 == 7) sb.appendCodePoint(0x1D11E)
    if (i % 7919 == 11) sb.append('Ａ')
    sb.toString
  }

  /** Write the corpus as `sample<k>.txt` files under `dir` (replacing
    * anything there) and return the expected count of every key,
    * including the empty key the tokenizer emits after each `\n`.
    */
  def generate(dir: String, seed: Long, spec: Spec): Map[String, Long] = {
    val root = new File(dir)
    if (root.exists()) deleteTree(root)
    root.mkdirs()
    // rank -> word: a fixed Fisher-Yates permutation of the vocabulary
    val byRank = Array.tabulate(spec.vocab)(identity)
    val perm = new SplittableRandom(spec.vocab)
    for (i <- spec.vocab - 1 until 0 by -1) {
      val j = perm.nextInt(i + 1)
      val t = byRank(i); byRank(i) = byRank(j); byRank(j) = t
    }
    val rnd = new SplittableRandom(seed)
    val words = Array.tabulate(spec.vocab)(i => word(i).getBytes(UTF_8))
    // Zipf(s = 1) cumulative weights over ranks
    val cdf = new Array[Double](spec.vocab)
    var acc = 0.0
    for (r <- 0 until spec.vocab) { acc += 1.0 / (r + 1); cdf(r) = acc }
    val counts = new Array[Long](spec.vocab)
    var newlines = 0L
    // file k gets a share proportional to k + 1, so every size differs
    val weightSum = spec.files.toLong * (spec.files + 1) / 2
    var left = spec.tokens
    for (k <- 0 until spec.files) {
      val n = if (k == spec.files - 1) left
        else (spec.tokens.toLong * (k + 1) / weightSum).toInt
      left -= n
      val out = new BufferedOutputStream(
        new FileOutputStream(new File(root, s"sample${k + 1}.txt")), 1 << 16)
      try {
        var t = 0
        while (t < n) {
          var r = java.util.Arrays.binarySearch(cdf, rnd.nextDouble() * acc)
          if (r < 0) r = -r - 1
          if (r >= spec.vocab) r = spec.vocab - 1
          val w = byRank(r)
          counts(w) += 1
          out.write(words(w))
          t += 1
          if (t % spec.tokensPerLine == 0 || t == n) { out.write('\n'); newlines += 1 }
          else out.write(' ')
        }
      } finally out.close()
    }
    val tally = mutable.HashMap.empty[String, Long]
    for (i <- 0 until spec.vocab if counts(i) > 0) tally(word(i)) = counts(i)
    if (newlines > 0) tally("") = newlines
    tally.toMap
  }

  /** The reference tokenizer over raw text: `getline` lines (each keeping
    * its `\n`), split on single `[ \t\n\r]` delimiters, empties kept.
    */
  def tally(text: String): Map[String, Long] =
    text.split("(?<=\n)").iterator.filter(_.nonEmpty)
      .flatMap(_.split("[ \t\n\r]", -1))
      .foldLeft(Map.empty[String, Long].withDefaultValue(0L))((m, t) => m.updated(t, m(t) + 1))

  /** Check the `result-<p>.txt` files under `dir` against `expected`:
    * every key in the file of partition djb2(key) % `parts`, keys in
    * strictly ascending unsigned-byte order within a file, every count
    * right, no key missing or extra. Returns the first few problems.
    */
  def check(dir: String, expected: Map[String, Long], parts: Int): Seq[String] = {
    val errors = mutable.ArrayBuffer.empty[String]
    def err(s: String): Unit = if (errors.size < 8) errors += s
    val seen = mutable.HashSet.empty[String]
    val names = Option(new File(dir).list()).map(_.toSeq).getOrElse(Nil)
    names.filterNot(_.matches("result-\\d+\\.txt"))
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))
      .foreach(n => err(s"unexpected file $n"))
    for (p <- 0 until parts) {
      val f = Paths.get(dir, s"result-$p.txt")
      if (Files.exists(f)) {
        var prev: String = null
        for (line <- Files.readAllLines(f, UTF_8).asScala) {
          val at = line.indexOf(": ")
          if (at < 0) err(s"result-$p.txt: malformed line '$line'")
          else {
            val key = line.substring(0, at)
            val value = line.substring(at + 2)
            if (!seen.add(key)) err(s"key '$key' written twice")
            val home = Djb2.partition(key, parts)
            if (home != p) err(s"key '$key' in result-$p.txt, belongs in result-$home.txt")
            if (prev != null && Utf8ByteOrdering.compare(prev, key) >= 0)
              err(s"result-$p.txt: '$prev' before '$key' breaks byte order")
            prev = key
            expected.get(key) match {
              case None => err(s"unexpected key '$key'")
              case Some(c) if c.toString != value => err(s"key '$key': got $value, want $c")
              case _ =>
            }
          }
        }
      }
    }
    if (seen.size != expected.size)
      err(s"${expected.keySet.diff(seen).size} expected keys missing")
    errors.toSeq
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
