package graft.operators

import graft.functions.Djb2Partitioner
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.TaskContext

/** The reference's user-programmable MapReduce surface
  * (`/root/reference/mapreduce.h:44-46`: `MR_Run(files, Mapper, Reducer,
  * num_workers, num_partitions)`) re-expressed as idiomatic Spark.
  *
  * Semantic mapping (SURVEY.md §2 tier A):
  *   - `Mapper`  (`void (*)(char *file_name)` + `MR_Emit`) — a UDTF:
  *     one input line -> many (key, value) emits. Here: `String =>
  *     IterableOnce[(K, V)]` run through `Dataset.flatMap` (distributed,
  *     no driver-side loops).
  *   - `MR_Partitioner` (djb2 % P, `mapreduce.c:154-160`) — Spark's
  *     HashPartitioning by default; [[runPartitioned]] uses the byte-exact
  *     [[Djb2Partitioner]] when layout parity matters.
  *   - sorted-partition grouping + `MR_GetNext` (`mapreduce.c:169-213`) —
  *     `groupByKey(...).mapGroups`, whose `Iterator[V]` is exactly the
  *     value cursor. Value order within a key is unspecified in the
  *     reference too (SURVEY.md §1.3), so multiset semantics carry over.
  *   - the map->reduce barrier (`mapreduce.c:76`) — the shuffle stage
  *     boundary, which unlike the reference's `ThreadPool_check`
  *     (`threadpool.c:178-186`) is actually race-free; we implement the
  *     *intended* semantics per SURVEY.md §3.4.
  *
  * The engine's execution is left entirely to Catalyst/Tungsten: the shim
  * only declares the dataflow. It exists so a reference user can bring
  * arbitrary mapper/reducer pairs — relational queries should use the
  * DataFrame API directly (graft.queries).
  */
object MRJob {

  /** Read input files one line per record, like the reference's
    * per-file `getline` loop (`distwc.c:13-20`).
    *
    * CAVEAT (byte parity): `read.text` strips the trailing `\n` that
    * `getline` keeps, so a mapper splitting on `[ \t\n\r]` sees one fewer
    * empty token per newline than the reference (SURVEY.md §1.3). Use
    * [[getlines]] when exact empty-token parity matters.
    */
  def lines(spark: SparkSession, paths: Seq[String]): Dataset[String] = {
    import spark.implicits._
    spark.read.textFile(paths: _*)
  }

  /** Whole-file records (the reference schedules one map task per file,
    * `mapreduce.c:56-75`; use when per-file lineage matters).
    */
  def wholeFiles(spark: SparkSession, dir: String): Dataset[String] = {
    import spark.implicits._
    spark.read.option("wholetext", "true").textFile(dir)
  }

  /** `getline`-exact records (`distwc.c:13-14`): one row per line WITH its
    * trailing `\n` kept, and no `\n` invented for a final unterminated
    * line. A strsep-style mapper over these rows reproduces the
    * reference's token stream byte-for-byte, including the empty token
    * after each newline (SURVEY.md §1.3).
    */
  def getlines(spark: SparkSession, dir: String): Dataset[String] = {
    import spark.implicits._
    // an empty file yields zero getline records, but "".split(...) yields
    // Array("") — filter the empty-file case explicitly
    wholeFiles(spark, dir).flatMap(s =>
      if (s.isEmpty) Iterator.empty else s.split("(?<=\n)").iterator)
  }

  /** A11 — shortest-job-first task ordering (`mapreduce.c:24-29,55-71`:
    * stat each input file, qsort ascending by size, enqueue one map job
    * per file). Re-expressed at the same layer the reference does it —
    * the FILE-LIST scan: list + stat the directory, sort ascending by
    * (size, path), and schedule EXACTLY one task per file with the
    * partition INDEX equal to the SJF rank (Spark's scheduler launches
    * ready partitions in index order, so with fewer slots than files the
    * smallest files run first, like the reference's thread pool dequeue).
    * Returns (path, content) so any whole-file mapper composes on top.
    *
    * Scale honesty, both directions: one-task-per-file is the
    * reference's own granularity and only right when files are many and
    * small (the regime SJF targets); for big splittable files Spark's
    * native scan is strictly better — and its planner already applies
    * the OPPOSITE heuristic (largest-first bin-packing of splits, the
    * stronger makespan bound when tasks run in parallel rather than
    * from a shared queue). This operator exists for MR-shim parity, not
    * as the recommended 100 TB read path.
    */
  def sjfFiles(spark: SparkSession, dir: String): Dataset[(String, String)] = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val paths = fs.listStatus(p).filter(_.isFile)
      .map(f => (f.getPath.toString, f.getLen))
      .sortBy { case (path, len) => (len, path) } // total order: size, then path
      .map(_._1).toSeq
    spark.sparkContext
      .parallelize(paths, math.max(1, paths.length))
      .map { path =>
        // tasks re-derive the FS from the path URI (a Configuration is
        // not serializable; defaults cover file:// and cluster-default
        // remote schemes)
        val hp = new org.apache.hadoop.fs.Path(path)
        val hfs = hp.getFileSystem(new org.apache.hadoop.conf.Configuration())
        val in = hfs.open(hp)
        try {
          val out = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
          (path, new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
        } finally in.close()
      }.toDS()
  }

  /** MR_Run with the intended (race-free) semantics: map -> shuffle on key
    * -> grouped reduce. Returns the reducer's output dataset.
    */
  def run[K: Encoder, V: Encoder, OUT: Encoder](
      input: Dataset[String],
      mapper: String => IterableOnce[(K, V)],
      reducer: (K, Iterator[V]) => OUT)(
      implicit kv: Encoder[(K, V)]): Dataset[OUT] =
    input
      .flatMap(mapper)
      .groupByKey(_._1)
      .mapGroups((k, it) => reducer(k, it.map(_._2)))

  /** MR_Run with a typed Aggregator reducer: same API shape as [[run]] but
    * the reduction is an `Aggregator[V, B, OUT]`, which Catalyst executes
    * with map-side partial aggregation — at scale, the shuffle carries one
    * buffer per (task, key) instead of every emitted value. Prefer this
    * over [[run]] whenever the reduction is associative (the reference's
    * count reducer is; see [[MRAggregators.CountValues]]).
    */
  def runAgg[K: Encoder, V: Encoder, B, OUT](
      input: Dataset[String],
      mapper: String => IterableOnce[(K, V)],
      reducer: org.apache.spark.sql.expressions.Aggregator[V, B, OUT])(
      implicit kv: Encoder[(K, V)], kout: Encoder[(K, OUT)]): Dataset[(K, OUT)] =
    input
      .flatMap(mapper)
      .groupByKey(_._1)
      .mapValues((kvp: (K, V)) => kvp._2)(implicitly[Encoder[V]])
      .agg(reducer.toColumn)

  /** Streaming MR_Run: the same mapper/aggregator pair over an unbounded
    * text stream (`readStream.text`), producing a continuously-updated
    * grouped result — run with `outputMode("complete")` or "update".
    * The reference has no streaming story; this is the Spark-native
    * extension of its map -> shuffle -> reduce contract to streams.
    */
  def runStreaming[K: Encoder, V: Encoder, B, OUT](
      spark: SparkSession,
      inputDir: String,
      mapper: String => IterableOnce[(K, V)],
      reducer: org.apache.spark.sql.expressions.Aggregator[V, B, OUT])(
      implicit kv: Encoder[(K, V)], kout: Encoder[(K, OUT)]): Dataset[(K, OUT)] = {
    import spark.implicits._
    spark.readStream.text(inputDir).as[String]
      .flatMap(mapper)
      .groupByKey(_._1)
      .mapValues((kvp: (K, V)) => kvp._2)(implicitly[Encoder[V]])
      .agg(reducer.toColumn)
  }

  /** MR_Run with byte-exact partition layout parity: djb2(key) % P routing
    * (`mapreduce.c:113`) and ascending byte-order keys within each
    * partition (`mapreduce.c:123-141`). Output rows carry their partition
    * id, mirroring the reference's `result-<p>.txt` fan-out.
    *
    * Uses the RDD layer deliberately: [[Djb2Partitioner.layout]]
    * (`repartitionAndSortWithinPartitions`) is the one-shuffle primitive
    * that reproduces "hash-partition + keep sorted + group adjacent
    * equal keys" exactly — grouping is then a streaming pass over each
    * sorted partition (no per-key state beyond one group; spill-safe at
    * scale).
    */
  def runPartitioned[OUT: Encoder: scala.reflect.ClassTag](
      spark: SparkSession,
      input: Dataset[String],
      mapper: String => IterableOnce[(String, String)],
      reducer: (Int, String, Iterator[String]) => OUT,
      numPartitions: Int): Dataset[OUT] = {
    val sorted = Djb2Partitioner.layout(input.rdd.flatMap(mapper), numPartitions)
    val out = sorted.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      new GroupedKeyIterator(it).map { case (k, vs) => reducer(pid, k, vs) }
    }
    spark.createDataset(out)
  }
}

/** Streaming adjacent-equal-key grouper over a sorted (K,V) iterator —
  * the reference's reduce loop (`mapreduce.c:169-188`): one reducer call
  * per unique key, values pulled lazily like `MR_GetNext`
  * (`mapreduce.c:199-213`).
  *
  * Contract identical to the reference: the inner values iterator must be
  * consumed before advancing to the next key (the reference's cursor is
  * likewise shared single-pass state).
  */
final class GroupedKeyIterator(it: Iterator[(String, String)])
    extends Iterator[(String, Iterator[String])] {
  private val buf = it.buffered
  private var curKey: String = _
  private var inGroup = false

  // Like the reference (mapreduce.c:181-184), advancing to the next key
  // skips any values the reducer left unconsumed.
  private def drain(): Unit = if (inGroup) {
    while (buf.hasNext && buf.head._1 == curKey) buf.next()
    inGroup = false
  }

  override def hasNext: Boolean = { drain(); buf.hasNext }

  override def next(): (String, Iterator[String]) = {
    drain()
    curKey = buf.head._1
    inGroup = true
    val key = curKey
    val values = new Iterator[String] {
      override def hasNext: Boolean = buf.hasNext && buf.head._1 == key
      override def next(): String = buf.next()._2
    }
    (key, values)
  }
}

/** Typed UDAF surface matching the reference's Reducer hook
  * (`mapreduce.h:6`, `distwc.c:24-35`): the user's fold over the value
  * cursor, expressed as an `org.apache.spark.sql.expressions.Aggregator`
  * so Catalyst runs it with partial (map-side) aggregation — unlike
  * `mapGroups`, which must see all values post-shuffle.
  */
object MRAggregators {
  import org.apache.spark.sql.{Encoder, Encoders}
  import org.apache.spark.sql.expressions.Aggregator

  /** The reference's one reducer — count per key (`distwc.c:24-35`) — as a
    * partial-aggregation-capable typed aggregator.
    */
  class CountValues[V] extends Aggregator[V, Long, Long] {
    override def zero: Long = 0L
    override def reduce(b: Long, a: V): Long = b + 1
    override def merge(b1: Long, b2: Long): Long = b1 + b2
    override def finish(r: Long): Long = r
    override def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Exact integer weighted mean — input (weight, value-cents), buffer
    * (Σw, Σw·x), finish Σw·x / Σw (floor; operands are non-negative
    * here, where floor == truncate, so Scala `/` and DuckDB `//`
    * agree). The partial-merge shape is what makes a typed Aggregator
    * the right UDAF surface at scale: map-side combine runs `reduce`,
    * the shuffle carries two longs per group, and `merge` folds
    * partition buffers — unlike a mapGroups fold, which ships every
    * row. Declared through the oracle gate as `weighted_avg_agg`.
    */
  class WeightedMeanCents extends Aggregator[(Long, Long), (Long, Long), Long] {
    override def zero: (Long, Long) = (0L, 0L)
    override def reduce(b: (Long, Long), a: (Long, Long)): (Long, Long) =
      (b._1 + a._1, b._2 + a._1 * a._2)
    override def merge(b1: (Long, Long), b2: (Long, Long)): (Long, Long) =
      (b1._1 + b2._1, b1._2 + b2._2)
    override def finish(b: (Long, Long)): Long =
      if (b._1 == 0L) 0L else b._2 / b._1
    override def bufferEncoder: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** Sum of long values parsed from the reference's string value domain
    * ("1" emits) — shows a reducer consuming the value, not just counting.
    */
  class SumLongStrings extends Aggregator[String, Long, Long] {
    override def zero: Long = 0L
    override def reduce(b: Long, a: String): Long = b + java.lang.Long.parseLong(a)
    override def merge(b1: Long, b2: Long): Long = b1 + b2
    override def finish(r: Long): Long = r
    override def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }
}
