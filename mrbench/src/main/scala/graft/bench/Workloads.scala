package graft.bench

import java.io.File

import scala.io.Source
import scala.util.Random

import graft.{BenchWarm, MaterializedCaches, SparkEntry}
import graft.operators.{MRAggregators, MRJob, TextSink}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark workload: an untimed set-up per pass, then a fixed list
  * of ops, each timed on its own and checked after the clock stops.
  */
trait Workload {
  /** Build what the pass's ops read; timed as set-up, never as an op. */
  def setup(s: SparkSession): Unit
  /** Untimed JIT warm-up passes at the start of a run. */
  def warmupPasses: Int
  /** Timed passes a run makes at least. */
  def minPasses: Int
  /** The ops of one pass, in the run's seeded order. */
  def ops: Seq[String]
  /** Run op `name`; only this call is on the op clock. */
  def run(s: SparkSession, name: String, op: Int, tr: Tracer): Any
  /** Check the op's output after the clock stops: None when right. */
  def check(name: String, result: Any): Option[String]
  /** Run facts that go into the output (sizes, paths, seed effects). */
  def info: Map[String, Any]
}

object MrWordcount {
  /** 1/20 of a 20M-token, 500k-word corpus: same tokens per word. */
  val Size = Corpus.Spec(tokens = 1000000, vocab = 25000, files = 16)
}

/** The reference's own program at scale: getlines, one of MRJob's three
  * reducer entry points, then TextSink's djb2-partitioned result files,
  * over a seeded Zipf corpus. Every op's files are checked against the
  * generator's tallies.
  */
final class MrWordcount(seed: Long, work: String, spec: Corpus.Spec) extends Workload {
  private val corpus = new File(work, "corpus").getPath
  private val out = new File(work, "result").getPath
  private var tally = Map.empty[String, Long]
  val Partitions = 10

  def setup(s: SparkSession): Unit = tally = Corpus.generate(corpus, seed, spec)
  // a cold JIT makes the first pass 3x slower and the second still 1.2x
  val warmupPasses = 2
  val minPasses = 3

  // a fixed order: the first op after a session reset runs slower, and a
  // seeded order would hand that cost to a different entry point per seed
  val ops: Seq[String] = Seq("run", "runAgg", "runPartitioned")

  private val mapper: String => Iterator[(String, String)] =
    line => line.split("[ \t\n\r]", -1).iterator.map(t => (t, "1"))

  def run(s: SparkSession, name: String, op: Int, tr: Tracer): Any = {
    import s.implicits._
    Corpus.deleteTree(new File(out))
    tr.span("op:" + name, op, -1) { root =>
      val lines = tr.span("MRJob.getlines", op, root)(_ => MRJob.getlines(s, corpus))
      val counts: DataFrame = tr.span("MRJob." + name, op, root) { _ =>
        name match {
          case "run" =>
            MRJob.run[String, String, (String, Long)](lines, mapper, (k, vs) => (k, vs.size.toLong))
              .toDF("key", "value")
          case "runAgg" =>
            MRJob.runAgg(lines, mapper, new MRAggregators.CountValues[String])
              .toDF("key", "value")
          case "runPartitioned" =>
            MRJob.runPartitioned[(String, Long)](s, lines, mapper,
              (_, k, vs) => (k, vs.size.toLong), Partitions).toDF("key", "value")
        }
      }
      tr.span("TextSink.write", op, root)(_ => TextSink.write(s, counts, out, Partitions))
    }
  }

  def check(name: String, result: Any): Option[String] = {
    val errors = Corpus.check(out, tally, Partitions)
    if (errors.isEmpty) None else Some(errors.mkString("; "))
  }

  /** Bytes and files the last op's sink wrote. */
  def sinkOutput: (Long, Int) = {
    val fs = Option(new File(out).listFiles()).map(_.toSeq).getOrElse(Nil)
    (fs.map(_.length).sum, fs.size)
  }

  def tokens: Long = spec.tokens.toLong
  def vocabulary: Seq[String] = (0 until spec.vocab).map(Corpus.word)

  def info: Map[String, Any] = Map(
    "corpus_tokens" -> spec.tokens, "corpus_vocab" -> spec.vocab,
    "corpus_files" -> spec.files,
    "corpus_bytes" -> Option(new File(corpus).listFiles()).map(_.map(_.length).sum).getOrElse(0L),
    "result_partitions" -> Partitions, "op_order" -> ops)
}

/** A list of `SparkEntry.queries` entries at one scale factor, each run
  * and consumed the way `graft.Bench` does, its row count checked against
  * the counts recorded in the benchmark's `expected_rows.tsv`.
  */
final class Suite(seed: Long, sfDir: String, sf: String, names: Seq[String],
    expectedFile: String) extends Workload {
  private val entries = SparkEntry.queries
  private val expected: Map[String, Long] = {
    val src = Source.fromFile(expectedFile, "UTF-8")
    try src.getLines().filterNot(_.startsWith("#")).map(_.split("\t"))
      .collect { case Array(`sf`, q, n) => q -> n.toLong }.toMap
    finally src.close()
  }
  require(names.forall(entries.contains), s"unknown queries: ${names.filterNot(entries.contains)}")
  require(names.forall(expected.contains),
    s"no expected row count at $sf for: ${names.filterNot(expected.contains)}")

  val ops: Seq[String] = new Random(seed).shuffle(names)

  def setup(s: SparkSession): Unit = Suite.warm(s, sfDir)
  // ops late in a JIT-cold pass ran up to 1.3x faster than early ones,
  // so a seeded order moved time between queries
  val warmupPasses = 1
  val minPasses = 1

  def run(s: SparkSession, name: String, op: Int, tr: Tracer): Any =
    tr.span("op:" + name, op, -1) { root =>
      val df = tr.span("queries.build", op, root)(_ => entries(name)(s, sfDir))
      tr.span("queries.consume", op, root) { _ =>
        if (Suite.materializeFully(name)) {
          val n = df.queryExecution.toRdd.count()
          tr.recordPlan(df.queryExecution)
          n
        } else df.count()
      }
    }

  def check(name: String, result: Any): Option[String] = {
    val want = expected(name)
    if (result == want) None else Some(s"$name: $result rows, want $want")
  }

  def info: Map[String, Any] = Map("sf_dir" -> sfDir, "queries" -> names.size, "op_order" -> ops)
}

object Suite {
  /** `graft.Bench`'s untimed warm list, exactly: the same artifacts in the
    * same order, each in its own `BenchWarm.each`.
    */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    def warm(name: String)(build: => Any): Unit = BenchWarm.each(name)(build)
    warm("jvm_parquet") {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().collect()
    }
    warm("dedup_jit") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
      graft.operators.Dedup.minhash(docs).count()
      graft.operators.Dedup.simhash(docs).count()
    }
    warm("materialized_inputs") {
      graft.queries.Pipeline.warmMaterializedInputs(spark, sfDir)
    }
    warm("pagerank_jit") {
      val toy = spark.range(3).selectExpr("id AS src", "(id + 1) % 3 AS dst")
      graft.operators.PageRank.run(
        toy.union(toy.selectExpr("dst AS src", "src AS dst")), 2).count()
    }
    warm("edge_table") { graft.queries.Graph.edgeTable(spark, sfDir).count() }
    warm("hub_seed") { graft.queries.Graph.hubSeedAndNodes(spark, sfDir) }
    warm("pr_artifacts") { graft.queries.Graph.prArtifacts(spark, sfDir)._2.count() }
    warm("supplier_pairs") { graft.queries.Graph.supplierPairAgg(spark, sfDir).count() }
    warm("oriented_edges") { graft.queries.Graph.orientedEdges(spark, sfDir).count() }
    warm("bpe_merges") { graft.queries.Quality.bpeMerges(spark, sfDir) }
    warm("partitioned_orders") { graft.sources.Layout.partitionedOrders(spark, sfDir) }
    warm("daily_revenue") { graft.queries.Insights.dailyRevenue(spark, sfDir).count() }
  }

  /** `graft.Bench`'s list of queries consumed via `toRdd.count()`. */
  val materializeFully: Set[String] = Set(
    "boilerplate_ngrams", "boilerplate_scrub", "column_profile",
    "contamination_check", "decontaminate_train", "dedup_semantic",
    "distinct_ngrams", "dsir_weights", "dup_rate_by_source", "gap_fill",
    "ivf_ingest", "outer_join", "quality_model_agreement", "rich_club",
    "right_outer_join", "semdedup_threshold_curve", "snm_recall",
    "source_mix_report", "triangle_count", "vocab_coverage")

  /** `graft.Bench.sweepTemporaries`: unpersist every RDD that backs no
    * DfCache-held artifact.
    */
  def sweepTemporaries(spark: SparkSession): Unit = {
    val keep = protectedRddIds
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = false)
    }
  }

  def protectedRddIds: Set[Int] = MaterializedCaches.allDfs
    .flatMap(df => try org.apache.spark.sql.graft.Bridge.cachedRddIds(df)
      catch { case _: Exception => Nil }).toSet
}
