package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{GroupCounts, Grouper, Pack, PartitionedDataset}

/** A checked outcome of one operation (a query or a pipeline step). */
final case class Outcome(op: String, ok: Boolean, detail: String = "")

/** One pass of a workload: the timed part, then the untimed checks. */
final case class PassResult(seconds: Double, latencies: Seq[(String, Double)],
                            check: () => Seq[Outcome])

trait Workload {
  def name: String
  /** Items one pass handles: examples or queries. */
  def items: Long
  /** Input preparation; timed as part of set-up, run once per set-up. */
  def prepare(spark: SparkSession): Unit
  /** Untimed work after set-up: expected outputs, traffic properties. */
  def expect(spark: SparkSession): Unit = ()
  /** Fewest warm-up passes. */
  def warmupPasses: Int = 1
  /** Fewest measured passes. */
  def measuredPasses: Int = 1
  def pass(spark: SparkSession, trace: Tracer): PassResult
  /** Extra fields for the run record, as JSON values. */
  def record: Seq[(String, String)] = Nil
}

private object LocalFiles {
  def delete(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }
  /** Records in a TFRecord file, counted from the framing alone:
    * little-endian u64 length, u32 length CRC, payload, u32 payload CRC. */
  def tfrecords(f: File): Long = {
    val in = new java.io.RandomAccessFile(f, "r")
    try {
      val header = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var n = 0L
      while (in.getFilePointer < in.length) {
        in.readFully(header.array())
        in.seek(in.getFilePointer + 4 + header.getLong(0) + 4)
        n += 1
      }
      require(in.getFilePointer == in.length, s"$f ends inside a record")
      n
    } finally in.close()
  }
  def size(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(size).sum).getOrElse(0L) else f.length
}

/** The corpus of (seed, N), generated during set-up so that no measured
  * pass pays for it, plus the properties of the traffic it carries. */
final class CorpusInput(work: String, seed: Long, n: Long) {
  val dir = s"$work/corpus"
  val grouper: Grouper = Grouper.byColumn("source")
  var totals: Map[String, (Long, Long, Long)] = Map.empty
  var digest: Digest.Value = Digest.Value(0L, "")
  var textChars = 0L

  def generate(spark: SparkSession): DataFrame = Corpus.generate(spark, seed, n)

  def write(spark: SparkSession): Unit = generate(spark).write.mode("overwrite").parquet(dir)

  def read(spark: SparkSession): DataFrame = spark.read.schema(Corpus.schema).parquet(dir)

  def expect(df: DataFrame): Unit = {
    val spark = df.sparkSession
    df.createOrReplaceTempView("perfbench_corpus")
    totals = spark.sql(Corpus.groupTotalsSql("perfbench_corpus")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    digest = Digest.of(df)
    textChars = df.agg(sum(length(col("text")))).head().getLong(0)
  }

  /** Distinct groups, top-group share, singleton share, mean example bytes. */
  def traffic: Seq[(String, String)] = {
    val sizes = totals.values.map(_._1)
    Seq(
      "examples" -> n.toString,
      "distinct_groups" -> totals.size.toString,
      "top_group_share" -> Json.num(sizes.max.toDouble / n),
      "singleton_share" -> Json.num(sizes.count(_ == 1).toDouble / totals.size),
      "mean_example_bytes" -> Json.num(totals.values.map(_._2).sum.toDouble / n))
  }
}

/** The paper's write path: GroupCounts -> writeFormatted, then
  * packExamples -> writeTFRecords. */
final class PackWorkload(work: String, seed: Long, n: Long) extends Workload {
  val name = "pack"
  val items: Long = n
  private val input = new CorpusInput(work, seed, n)
  private val out = s"$work/pack-out"
  private var packedBytes = 0L
  // pass time and CPU keep falling for about seven passes while the JIT
  // compiles the aggregation, encode and write paths
  override val warmupPasses = 7
  // single passes differ by up to 30% (shuffle and file writes), so the
  // median is taken over several
  override val measuredPasses = 7

  def prepare(spark: SparkSession): Unit = input.write(spark)
  override def expect(spark: SparkSession): Unit = input.expect(input.read(spark))

  def pass(spark: SparkSession, trace: Tracer): PassResult = {
    LocalFiles.delete(new File(out))
    val df = input.read(spark)
    val t0 = System.nanoTime()
    trace("pack.counts") {
      val counts = trace("entry.build")(GroupCounts(df, input.grouper))
      trace("pack.write_counts")(GroupCounts.writeFormatted(counts, s"$out/counts"))
    }
    val t1 = System.nanoTime()
    trace("pack.pack_write") {
      val packed = trace("entry.build")(PartitionedDataset.packExamples(df, input.grouper))
      trace("pack.write_tfrecords")(PartitionedDataset.writeTFRecords(packed, s"$out/shards"))
    }
    val t2 = System.nanoTime()
    val lat = Seq("pack.counts" -> (t1 - t0) / 1e9, "pack.pack_write" -> (t2 - t1) / 1e9)
    PassResult((t2 - t0) / 1e9, lat, () => check(spark))
  }

  private def check(spark: SparkSession): Seq[Outcome] = {
    val lines = spark.read.text(s"$out/counts").collect().map(_.getString(0))
      .filter(_ != GroupCounts.Header)
    val got = lines.map { l =>
      val Array(g, e, b, w) = l.split(",")
      g -> ((e.toLong, b.toLong, w.toLong))
    }.toMap
    val counted = got == input.totals && lines.length == got.size &&
      got.values.map(_._1).sum == n && got.values.forall(_._2 < Pack.BytesLimit)
    val records = Option(new File(s"$out/shards").listFiles).getOrElse(Array.empty[File])
      .filterNot(f => f.getName.startsWith(".")).map(LocalFiles.tfrecords).sum
    packedBytes = LocalFiles.size(new File(s"$out/shards"))
    Seq(
      Outcome("pack.counts", counted, s"${got.size} groups"),
      Outcome("pack.pack_write", records == input.totals.size && packedBytes > 0,
        s"$records records"))
  }

  override def record: Seq[(String, String)] =
    input.traffic ++ Seq("pack.groups" -> input.totals.size.toString,
      "pack.packed_bytes" -> packedBytes.toString)
}

/** The paper's read path over the shards set-up wrote: loadTFRecords ->
  * decodeExamples with an all-column digest, then a per-group
  * mapGroups consumer. */
final class LoadWorkload(work: String, seed: Long, n: Long) extends Workload {
  val name = "load"
  val items: Long = n
  private val input = new CorpusInput(work, seed, n)
  private val shards = s"$work/load-shards"
  // a pass is short and mostly driver-side work (planning, scheduling),
  // which keeps getting faster for about fifteen passes while the JIT
  // compiles it; a fixed count, not a time, so a slow host gets no less
  // warm-up
  override val warmupPasses = 15
  // the median over a fixed count of passes, so a slow host does not
  // measure fewer
  override val measuredPasses = 10

  def prepare(spark: SparkSession): Unit = {
    LocalFiles.delete(new File(shards))
    PartitionedDataset.writeTFRecords(
      PartitionedDataset.packExamples(input.generate(spark), input.grouper), shards)
  }
  override def expect(spark: SparkSession): Unit = {
    val corpus = input.generate(spark).persist()
    input.expect(corpus)
    corpus.unpersist(blocking = true)
  }

  def pass(spark: SparkSession, trace: Tracer): PassResult = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val (groups, decoded) = trace("load.read_decode") {
      val groups = trace("entry.build")(PartitionedDataset.loadTFRecords(spark, s"$shards/*"))
      val examples = trace("entry.build")(PartitionedDataset.decodeExamples(groups, Corpus.schema))
      (groups, trace("load.digest")(Digest.of(examples)))
    }
    val t1 = System.nanoTime()
    val perGroup = trace("load.map_groups") {
      val ds = trace("entry.build")(PartitionedDataset.mapGroups(groups, Corpus.schema,
        (_: String, rows: Iterator[org.apache.spark.sql.Row]) => {
          var count = 0L
          var chars = 0L
          rows.foreach { r => count += 1; chars += r.getString(2).length }
          (count, chars)
        }, groupCol = "file"))
      ds.agg(sum(col("_1")), sum(col("_2")), count(lit(1))).as[(Long, Long, Long)].head()
    }
    val t2 = System.nanoTime()
    val lat = Seq("load.read_decode" -> (t1 - t0) / 1e9, "load.map_groups" -> (t2 - t1) / 1e9)
    PassResult((t2 - t0) / 1e9, lat, () => Seq(
      Outcome("load.read_decode", decoded == input.digest, decoded.toString),
      Outcome("load.map_groups",
        perGroup == ((n, input.textChars, input.totals.size.toLong)), perGroup.toString)))
  }

  override def record: Seq[(String, String)] = input.traffic
}

/** Queries of `SparkEntry.queries` over the bundled tables, each checked
  * against its row count and digest recorded from a known-good commit.
  * The seed sets the order the queries run in. */
final class QueryWorkload(val name: String, queries: Seq[String], dataDir: String,
                          reference: Map[String, Digest.Value], seed: Long) extends Workload {
  val items: Long = queries.size
  private val order = new scala.util.Random(seed).shuffle(queries)
  val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def prepare(spark: SparkSession): Unit =
    Option(new File(dataDir).listFiles).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foreach(f => spark.read.parquet(f.getPath).count())

  def pass(spark: SparkSession, trace: Tracer): PassResult = {
    val sc = spark.sparkContext
    var total = 0.0
    val lat = mutable.ArrayBuffer.empty[(String, Double)]
    val outcomes = order.map { q =>
      val persisted = sc.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      val got = try {
        val df = trace("entry.build")(SparkEntry.queries(q)(spark, dataDir))
        Right(trace("query.execute")(Digest.of(df)))
      } catch { case t: Throwable => Left(s"${t.getClass.getSimpleName}: ${t.getMessage}") }
      val dt = (System.nanoTime() - t0) / 1e9
      total += dt
      // drop what this query persisted, as the program's own bench loop does
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!persisted.contains(id)) rdd.unpersist(blocking = true)
      }
      got match {
        case Right(v) if reference.get(q).contains(v) =>
          lat += q -> dt
          times.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += dt
          Outcome(q, ok = true)
        case Right(v) => Outcome(q, ok = false, s"got $v, expected ${reference.get(q)}")
        case Left(err) => Outcome(q, ok = false, err)
      }
    }
    PassResult(total, lat.toSeq, () => outcomes)
  }

  override def record: Seq[(String, String)] = Seq(
    "queries" -> Json.obj(times.toSeq.map { case (q, ts) =>
      q -> ts.map(Json.num).mkString("[", ", ", "]") }))
}

object Queries {
  /** Every SparkEntry query of the curation families. */
  val curationFamilies = Seq("dedup_", "neardup_", "entity_", "text_", "dataset_card")

  def all: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  def curationFamily: Seq[String] = all.filter(q => curationFamilies.exists(q.startsWith))

  /** Four of the 45 curation-family queries at sf0.1, chosen from a
    * survey of all of them (`run.py --survey`) so that jobs per query,
    * planning share, driver idle share, task CPU per second, exchanges
    * per query and the median-to-mean query time come close to the whole
    * family's. It holds dedup_keep_best_documents, whose MinHash
    * candidate step runs array_intersect. */
  val curate: Seq[String] = Seq(
    "dedup_keep_best_documents", "entity_match_customers", "neardup_multiprobe_embeddings",
    "text_inverted_index")

  /** 13 of the 258 queries at sf0.01, chosen the same way from a survey
    * of the whole catalogue; streaming queries take the same share of the
    * time as in the whole (about a quarter). It holds
    * profile_winsorize_lineitem (binned cuts) and
    * embedding_second_component (PCA: power iteration for the top
    * component, one deflation, power iteration again). */
  val catalog: Seq[String] = Seq(
    "dedup_exact_documents", "embedding_second_component", "events_stream_covisitation",
    "events_stream_parquet_sink", "group_chunked_blocks", "profile_winsorize_lineitem",
    "rel_orders_rollup", "sample_fixed_k_documents", "sample_stratified_documents",
    "similarity_topk_embeddings", "source_csv_roundtrip", "sql_text_stats_extension",
    "text_blocklist_scan")

  /** Reads the reference written by [[writeReference]]. */
  def readReference(path: String): Map[String, Digest.Value] = {
    val line = """\s*"([^"]+)": \{"rows": (\d+), "digest": "(-?\d+)".*""".r
    scala.io.Source.fromFile(path).getLines().collect {
      case line(q, rows, d) => q -> Digest.Value(rows.toLong, d)
    }.toMap
  }

  def writeReference(path: String, values: Seq[(String, Digest.Value, Double)]): Unit = {
    val body = values.map { case (q, v, s) =>
      s"""  ${Json.str(q)}: {"rows": ${v.rows}, "digest": "${v.digest}", "seconds": ${Json.num(s)}}"""
    }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }
}
