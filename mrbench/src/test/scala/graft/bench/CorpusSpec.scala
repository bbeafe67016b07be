package graft.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Djb2

class CorpusSpec extends AnyFunSuite {
  private val spec = Corpus.Spec(tokens = 20000, vocab = 3000, files = 5)

  private def tmp(): Path = Files.createTempDirectory("mrbench-spec")

  private def files(dir: Path): Seq[(String, Array[Byte])] =
    Files.list(dir).toArray.map(_.asInstanceOf[Path]).sortBy(_.getFileName.toString)
      .map(p => p.getFileName.toString -> Files.readAllBytes(p)).toSeq

  private def writeResult(dir: Path, p: Int, lines: String*): Unit =
    Files.write(dir.resolve(s"result-$p.txt"), lines.map(_ + "\n").mkString.getBytes(UTF_8))

  test("same seed, same bytes; another seed, other bytes") {
    val (a, b, c) = (tmp(), tmp(), tmp())
    val ta = Corpus.generate(a.toString, 7, spec)
    val tb = Corpus.generate(b.toString, 7, spec)
    Corpus.generate(c.toString, 8, spec)
    assert(ta == tb)
    assert(files(a).map(f => (f._1, f._2.toSeq)) == files(b).map(f => (f._1, f._2.toSeq)))
    assert(files(a).map(_._2.toSeq) != files(c).map(_._2.toSeq))
  }

  test("the generator's tallies are what the reference tokenizer counts") {
    val d = tmp()
    val tally = Corpus.generate(d.toString, 3, spec)
    val fs = files(d)
    assert(fs.size == spec.files)
    assert(fs.map(_._2.length).distinct.size == spec.files, "file sizes must differ")
    val counted = fs.map(f => Corpus.tally(new String(f._2, UTF_8)))
      .reduce((x, y) => (x.keySet ++ y.keySet).map(k => k -> (x.getOrElse(k, 0L) + y.getOrElse(k, 0L))).toMap)
    assert(counted == tally)
    assert(tally.values.sum == spec.tokens + tally(""), "one empty key per newline")
    assert(tally.keys.exists(_.codePoints().anyMatch(_ > 0xFFFF)), "a word outside the BMP")
  }

  test("\"a  b\\nc\\n\" gives the empty key 3 times, in partition 1") {
    val t = Corpus.tally("a  b\nc\n")
    assert(t == Map("a" -> 1L, "b" -> 1L, "c" -> 1L, "" -> 3L))
    assert(Djb2.partition("", 10) == 1)
    val d = tmp()
    for ((p, keys) <- t.keys.toSeq.groupBy(Djb2.partition(_, 10)))
      writeResult(d, p, keys.sorted.map(k => s"$k: ${t(k)}"): _*)
    assert(Files.readAllLines(d.resolve("result-1.txt")).contains(": 3"))
    assert(Corpus.check(d.toString, t, 10).isEmpty)
  }

  test("the layout gate catches a wrong count, a misplaced key, bad order and a missing key") {
    val t = Map("a" -> 2L, "and" -> 1L, "to" -> 4L, "expect" -> 1L)
    // FIXTURES.md: a, and -> partition 0; expect, to -> partition 8
    def check(f: Path => Unit): Seq[String] = { val d = tmp(); f(d); Corpus.check(d.toString, t, 10) }
    assert(check { d => writeResult(d, 0, "a: 2", "and: 1"); writeResult(d, 8, "expect: 1", "to: 4") }.isEmpty)
    assert(check { d => writeResult(d, 0, "a: 2", "and: 1"); writeResult(d, 8, "expect: 1", "to: 5") }
      .exists(_.contains("got 5")))
    assert(check { d => writeResult(d, 0, "a: 2", "and: 1", "to: 4"); writeResult(d, 8, "expect: 1") }
      .exists(_.contains("belongs in result-8.txt")))
    assert(check { d => writeResult(d, 0, "and: 1", "a: 2"); writeResult(d, 8, "expect: 1", "to: 4") }
      .exists(_.contains("byte order")))
    assert(check { d => writeResult(d, 0, "a: 2"); writeResult(d, 8, "expect: 1", "to: 4") }
      .exists(_.contains("missing")))
  }

  test("key order is unsigned UTF-8 byte order, not UTF-16 order") {
    val hi = new String(Character.toChars(0x1D11E)) // UTF-16 D834 DD1E, UTF-8 F0 ...
    val fw = "Ａ" // UTF-16 FF21, UTF-8 EF BC A1
    val t = Map(hi -> 1L, fw -> 1L)
    val parts = t.keys.map(Djb2.partition(_, 1)).toSet
    assert(parts == Set(0))
    val d = tmp()
    writeResult(d, 0, s"$fw: 1", s"$hi: 1")
    assert(Corpus.check(d.toString, t, 1).isEmpty)
    val e = tmp()
    writeResult(e, 0, s"$hi: 1", s"$fw: 1")
    assert(Corpus.check(e.toString, t, 1).exists(_.contains("byte order")))
  }
}
