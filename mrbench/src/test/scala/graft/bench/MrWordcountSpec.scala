package graft.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The `mr_wordcount` ops through the real engine, gated as the benchmark
  * gates them.
  */
class MrWordcountSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val entryPoints = Seq("run", "runAgg", "runPartitioned")

  test("every entry point writes the reference's files for \"a  b\\nc\\n\"") {
    val work = Files.createTempDirectory("mrbench-mr")
    val wl = new MrWordcount(1, work.toString, Corpus.Spec(tokens = 10, vocab = 5, files = 1))
    val corpus = Files.createDirectories(work.resolve("corpus"))
    Files.write(corpus.resolve("sample1.txt"), "a  b\nc\n".getBytes(UTF_8))
    for (ep <- entryPoints) {
      wl.run(spark, ep, 0, new Tracer)
      val out = work.resolve("result").toString
      assert(Corpus.check(out, Corpus.tally("a  b\nc\n"), 10).isEmpty, ep)
      assert(Files.readAllLines(Paths.get(out, "result-1.txt")).contains(": 3"), ep)
    }
  }

  test("every entry point passes the gate on a generated corpus") {
    val work = Files.createTempDirectory("mrbench-mr")
    val wl = new MrWordcount(5, work.toString, Corpus.Spec(tokens = 30000, vocab = 8000, files = 4))
    wl.setup(spark)
    for (ep <- entryPoints) assert(wl.check(ep, wl.run(spark, ep, 0, new Tracer)).isEmpty, ep)
  }
}
