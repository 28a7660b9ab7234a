package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{Encoders, SparkSession}

import graft.GraftExtensions
import graft.serialization.{SequenceExampleCodec, TFExampleCodec}
import graft.sources.TFRecordIO

/** The repository benchmark. One JVM runs one workload as a closed loop
  * (one client, one pipeline or query in flight) on `local[nproc]`, and
  * prints one JSON result as its last line. See perfbench/README.md. */
object Main {
  final case class Metric(name: String, unit: String, value: Double)

  /** The end-to-end metrics of an untraced run, in BENCHMARK.json order. */
  val endToEnd: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "setup_s" -> "s", "peak_heap_mb" -> "MB")

  /** The per-layer metrics of a traced run, in BENCHMARK.json order. */
  val perLayer: Seq[(String, String)] = Seq(
    "entry.build_s" -> "s", "entry.eager_jobs" -> "count",
    "plan.analysis_s" -> "s", "plan.optimization_s" -> "s", "plan.planning_s" -> "s",
    "plan.share" -> "share", "plan.exchanges" -> "count", "plan.broadcasts" -> "count",
    "plan.scala_aggregates" -> "count", "plan.array_intersect" -> "count",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.driver_idle_s" -> "s", "sched.task_deser_s" -> "s", "sched.task_run_s" -> "s",
    "sched.task_cpu_s" -> "s", "sched.task_skew" -> "ratio", "sched.core_busy_share" -> "share",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "spill.memory_bytes" -> "bytes", "spill.disk_bytes" -> "bytes",
    "mem.peak_execution_bytes" -> "bytes",
    "codec.example_encode_us" -> "us", "codec.example_decode_us" -> "us",
    "codec.seqex_encode_mb_s" -> "MB/s", "codec.seqex_decode_mb_s" -> "MB/s",
    "codec.bytes_per_example" -> "bytes",
    "tfrecord.write_s" -> "s", "tfrecord.read_s" -> "s",
    "scan.bytes_read" -> "bytes", "scan.records_read" -> "count",
    "stream.batches" -> "count", "stream.state_rows" -> "count",
    "stream.state_memory_bytes" -> "bytes",
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s")

  /** Listener counters that only some workloads move; they go to the run
    * record and the summary, not to the result line. */
  val recordOnly: Seq[(String, String)] = Seq(
    "sched.task_gc_s" -> "s", "shuffle.fetch_wait_s" -> "s",
    "stream.trigger_s" -> "s", "stream.add_batch_s" -> "s", "stream.planning_s" -> "s",
    "stream.wal_commit_s" -> "s", "stream.state_commit_s" -> "s",
    "plan.queries" -> "count", "plan.failed_queries" -> "count")

  /** Session starts per run; `setup_s` holds their median. */
  val Setups = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        examples: Long, data: String, work: String,
                        out: String, reference: String, mode: String)

  /** run.py validates the arguments; this only reads them. */
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def str(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(str("workload"), str("seed").toLong, str("seconds").toInt, str("trace") == "1",
      str("examples").toLong, str("data"), str("work"), str("out"),
      kv.getOrElse("reference", ""), kv.getOrElse("mode", "run"))
  }

  def main(argv: Array[String]): Unit = {
    val args = try parse(argv) catch {
      case e: IllegalArgumentException => // a missing or non-numeric argument
        System.err.println(s"perfbench: ${e.getMessage}")
        sys.exit(2)
    }
    val code = try run(args) catch {
      case e: Throwable =>
        System.err.println(s"perfbench: run failed: $e")
        e.printStackTrace()
        1
    }
    sys.exit(code)
  }

  private def session(args: Args): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Query workloads: (queries measured, every query recorded, tables). */
  private def querySet(workload: String): (Seq[String], Seq[String], String) = workload match {
    case "curate" => (Queries.curate, Queries.curationFamily, "sf0.1")
    case "catalog" => (Queries.catalog, Queries.all, "sf0.01")
    case w => throw new IllegalArgumentException(s"no query set for workload '$w'")
  }

  private def referencePath(args: Args, scale: String): String =
    if (args.reference.nonEmpty) args.reference else s"${args.data}/reference-$scale.json"

  private def workload(args: Args): Workload = args.workload match {
    case "pack" => new PackWorkload(args.work, args.seed, args.examples)
    case "load" => new LoadWorkload(args.work, args.seed, args.examples)
    case w =>
      val (queries, _, scale) = querySet(w)
      new QueryWorkload(w, queries, s"${args.data}/$scale",
        Queries.readReference(referencePath(args, scale)), args.seed)
  }

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between the closest ranks. */
  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Heap in use after a full collection. A trivial query first replaces
    * whatever state the last query of a pass left behind, so the reading
    * does not depend on the (seeded) query order. The pause between the
    * two collections lets Spark's ContextCleaner drop the broadcasts and
    * shuffles the first one found unreachable, so their blocks are
    * garbage by the second. */
  private def heapAfterGc(spark: SparkSession): Long = {
    spark.range(1).count()
    System.gc()
    Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** CPU time of this JVM, all threads, in nanoseconds. */
  private def processCpu(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  private def loadAverage(): String =
    try scala.io.Source.fromFile("/proc/loadavg").getLines().next().split(" ").take(3).mkString(" ")
    catch { case _: Exception => "unknown" }

  def run(args: Args): Int = {
    new File(args.work).mkdirs()
    new File(args.out).mkdirs()
    args.mode match {
      case "record" => return record(args)
      case "survey" => return survey(args)
      case "classes" => return loadClasses(args)
      case _ =>
    }
    val loadBefore = loadAverage()
    val w = workload(args)

    // set-up: session start plus input preparation, several times; the
    // first pass on the last session completes it
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 0 until Setups) {
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      val t0 = System.nanoTime()
      spark = session(args)
      w.prepare(spark)
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    w.expect(spark)

    var probes: Option[Probes] = None
    val trace = new Tracer(probes)
    val outcomes = mutable.ArrayBuffer.empty[Outcome]
    // a pass that failed a check has no time: it never counts as a fast success
    def checked(p: PassResult): PassResult = {
      val o = p.check()
      outcomes ++= o
      if (o.forall(_.ok)) p else p.copy(seconds = Double.NaN)
    }

    // warm-up: whole passes until JIT and caches have run for `seconds`
    // and for the workload's fewest passes. The first of them is cold
    // (JIT, code generation, file listings) and is part of set-up.
    val warmups = mutable.ArrayBuffer.empty[Double]
    while (warmups.length < w.warmupPasses || warmups.sum < args.seconds)
      warmups += checked(w.pass(spark, trace)).seconds

    // Whole passes while the next one still fits in `window` seconds of
    // pass time; at least `min` passes.
    def fits(done: Seq[Double], window: Double, min: Int): Boolean =
      done.length < min || done.sum + done.last <= window

    // measured passes, between full collections; a traced run
    // alternates traced and untraced passes
    val passes = mutable.ArrayBuffer.empty[(PassResult, Boolean)]
    val windows = mutable.ArrayBuffer.empty[Map[String, Double]]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    while (fits(passes.map(_._1.seconds).toSeq, args.seconds,
        math.max(w.measuredPasses, if (args.trace) 2 else 1))) {
      val traced = args.trace && passes.length % 2 == 0
      if (traced) {
        val p = new Probes(spark)
        p.install(); p.reset()
        probes = Some(p)
        trace.enabled = true
        trace.pass = passes.length
      }
      val cpu0 = processCpu()
      val r = w.pass(spark, trace)
      passCpu += (processCpu() - cpu0) / 1e9
      if (traced) {
        windows += probes.get.snapshot() + ("pass_s" -> r.seconds)
        probes.get.uninstall()
        probes = None
        trace.enabled = false
      }
      passes += ((checked(r), traced))
    }
    // read after the passes only: a full collection just before the
    // first measured pass makes that pass slower than the ones after it
    val heapPeak = heapAfterGc(spark)

    // only passes that passed every check are timed
    val plain = passes.filter(p => !p._2 && !p._1.seconds.isNaN).map(_._1).toSeq
    val timed = if (args.trace) passes.filter(p => p._2 && !p._1.seconds.isNaN).map(_._1).toSeq
      else plain
    val wall = median(timed.map(_.seconds))
    val e2e = Map(
      "wall_s" -> wall,
      "setup_s" -> (median(setupTimes.toSeq) + warmups.head),
      "peak_heap_mb" -> heapPeak / 1048576.0)
    // throughput and single-query latencies: run record and summary only
    val throughput = w.items * timed.length / timed.map(_.seconds).sum
    val latencies = timed.flatMap(_.latencies.map(_._2))
    val extra = w match {
      case _: QueryWorkload => Map("queries_per_s" -> throughput,
        "query_p50_s" -> median(latencies), "query_p95_s" -> quantile(latencies, 0.95),
        "query_samples" -> latencies.length.toDouble)
      case _ => Map("examples_per_s" -> throughput)
    }

    val layer: Map[String, Double] =
      if (!args.trace) Map.empty
      else layerMetrics(spark, trace, windows.toSeq, args) ++ Map(
        "trace.overhead_s" -> (wall - median(plain.map(_.seconds))),
        "trace.untraced_wall_s" -> median(plain.map(_.seconds)))

    val failed = outcomes.count(!_.ok)
    val loadAfter = loadAverage()
    val head = sys.props.getOrElse("perfbench.head", "unknown")
    val env = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "java" -> Json.str(sys.props("java.version")),
      "spark" -> Json.str(spark.version),
      "git_head" -> Json.str(head),
      "loadavg_before" -> Json.str(loadBefore),
      "loadavg_after" -> Json.str(loadAfter))

    val declared = (if (args.trace) perLayer else endToEnd).map { case (k, u) =>
      Metric(k, u, if (args.trace) layer.getOrElse(k, 0.0) else e2e(k))
    }
    val recordPath = s"${args.out}/${w.name}-seed${args.seed}-trace${if (args.trace) 1 else 0}.json"
    val recordJson = Json.obj(Seq(
      "workload" -> Json.str(w.name), "seed" -> args.seed.toString,
      "seconds" -> args.seconds.toString, "trace" -> args.trace.toString,
      "environment" -> Json.obj(env),
      "passes" -> passes.length.toString,
      "pass_seconds" -> passes.map(p => Json.num(p._1.seconds)).mkString("[", ", ", "]"),
      "pass_cpu_seconds" -> passCpu.map(Json.num).mkString("[", ", ", "]"),
      "session_prepare_seconds" -> setupTimes.map(Json.num).mkString("[", ", ", "]"),
      "warmup_seconds" -> warmups.map(Json.num).mkString("[", ", ", "]"),
      "attempted" -> outcomes.length.toString, "failed" -> failed.toString,
      "failed_share" -> Json.num(failed.toDouble / outcomes.length),
      "failures" -> outcomes.filterNot(_.ok).map(o => Json.str(s"${o.op}: ${o.detail}"))
        .mkString("[", ", ", "]"),
      "end_to_end" -> Json.nums(e2e ++ extra),
      "per_layer" -> Json.nums(layer)) ++ w.record ++
      (if (args.trace) Seq("spans" -> trace.toJson) else Nil))
    java.nio.file.Files.writeString(new File(recordPath).toPath, recordJson + "\n")

    println(s"[perfbench] workload=${w.name} seed=${args.seed} trace=${if (args.trace) 1 else 0} " +
      s"passes=${passes.length} attempted=${outcomes.length} failed=$failed " +
      s"failed_share=${Json.num(failed.toDouble / outcomes.length)} nproc=${Runtime.getRuntime.availableProcessors} " +
      s"loadavg=[$loadBefore]->[$loadAfter] record=$recordPath")
    outcomes.filterNot(_.ok).take(10).foreach(o => println(s"[perfbench] FAILED ${o.op}: ${o.detail}"))
    if (args.trace) {
      (perLayer ++ recordOnly).foreach { case (k, u) =>
        println(f"[perfbench] layer $k%-28s ${Json.num(layer.getOrElse(k, 0.0))} $u") }
      val listed = (perLayer ++ recordOnly).map(_._1).toSet
      layer.filterNot { case (k, _) => listed(k) || k.startsWith("trace.") }.toSeq.sorted
        .foreach { case (k, v) => println(f"[perfbench] layer $k%-28s ${Json.num(v)} s") }
      println(s"[perfbench] tracing overhead: traced wall_s ${Json.num(wall)} s - untraced wall_s " +
        s"${Json.num(layer("trace.untraced_wall_s"))} s = ${Json.num(layer("trace.overhead_s"))} s")
    } else {
      endToEnd.foreach { case (k, u) => println(f"[perfbench] e2e $k%-16s ${Json.num(e2e(k))} $u") }
      println(s"[perfbench] setup_s = median session start + input preparation " +
        s"${Json.num(median(setupTimes.toSeq))} s + first pass ${Json.num(warmups.head)} s")
      println(f"[perfbench] e2e ${"failed_share"}%-16s ${Json.num(failed.toDouble / outcomes.length)} share")
      extra.foreach { case (k, v) =>
        val u = if (k.endsWith("per_s")) "1/s" else if (k.endsWith("_s")) "s" else "count"
        println(f"[perfbench] e2e $k%-16s ${Json.num(v)} $u")
      }
    }
    spark.stop()
    val metrics = Json.obj(declared.map(m =>
      m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))
    println(Json.obj(Seq("correct" -> (failed == 0).toString,
      "attempted" -> outcomes.length.toString, "failed" -> failed.toString, "metrics" -> metrics)))
    0
  }

  private def layerMetrics(spark: SparkSession, trace: Tracer,
                           windows: Seq[Map[String, Double]], args: Args): Map[String, Double] = {
    def perPass(k: String): Double = windows.map(_.getOrElse(k, 0.0)).sum / windows.length
    val keys = windows.flatMap(_.keys).distinct.filter(_ != "pass_s")
    val counters = keys.map(k => k -> perPass(k)).toMap
    val builds = trace.spans.filter(_.name == "entry.build")
    val planning = perPass("plan.analysis_s") + perPass("plan.optimization_s") + perPass("plan.planning_s")
    val self = trace.selfSeconds.map { case (k, v) => s"self.$k" -> v / windows.length }
    val steps = trace.spans.filter(s => s.parent == -1 && s.name.contains('.') &&
      !s.name.startsWith("entry.") && !s.name.startsWith("query."))
      .groupBy(_.name).map { case (k, ss) => s"${k}_s" -> ss.map(_.seconds).sum / windows.length }
    counters ++ self ++ steps ++ layerProbes(spark, args) ++ Map(
      "entry.build_s" -> builds.map(_.seconds).sum / windows.length,
      "entry.eager_jobs" -> builds.map(_.counters.getOrElse("sched.jobs", 0.0)).sum / windows.length,
      "plan.share" -> planning / perPass("pass_s"))
  }

  /** Direct calls on a fixed corpus sample: the serialization codecs and
    * the TFRecord source, timed outside the workload's own passes. */
  private def layerProbes(spark: SparkSession, args: Args): Map[String, Double] = {
    val rows = Corpus.generate(spark, 1L, 2000L).collect().toIndexedSeq
    val codec = new TFExampleCodec(Corpus.schema)
    def rate[T](body: => T): Double = { // seconds per call of body
      body
      var calls = 0
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 300000000L) { body; calls += 1 }
      (System.nanoTime() - t0) / 1e9 / calls
    }
    val encoded = rows.map(codec.encode)
    val groups = encoded.grouped(50).toIndexedSeq
    val seqex = groups.map(SequenceExampleCodec.encode)
    val encodeS = rate(rows.foreach(codec.encode))
    val decodeS = rate(encoded.foreach(codec.decode))
    val seqEncS = rate(groups.foreach(SequenceExampleCodec.encode))
    val seqDecS = rate(seqex.foreach(SequenceExampleCodec.decode))
    val seqBytes = seqex.map(_.length.toLong).sum / 1e6

    val records = spark.createDataset((0 until 10).flatMap(_ => encoded))(Encoders.BINARY)
      .repartition(spark.sparkContext.defaultParallelism).cache()
    records.count()
    val dir = s"${args.work}/probe-tfrecords"
    def once(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
    val writes = (0 until 3).map(_ => once(TFRecordIO.write(records, dir)))
    val reads = (0 until 3).map(_ => once(TFRecordIO.read(spark, s"$dir/*").count()))
    records.unpersist()
    Map(
      "codec.example_encode_us" -> encodeS / rows.length * 1e6,
      "codec.example_decode_us" -> decodeS / rows.length * 1e6,
      "codec.seqex_encode_mb_s" -> seqBytes / seqEncS,
      "codec.seqex_decode_mb_s" -> seqBytes / seqDecS,
      "codec.bytes_per_example" -> encoded.map(_.length.toLong).sum.toDouble / encoded.length,
      "tfrecord.write_s" -> median(writes),
      "tfrecord.read_s" -> median(reads))
  }

  /** Runs a short traced pass of every kind of workload and exits, so
    * that the JVM can archive the classes they load (see run.py). */
  private def loadClasses(args: Args): Int = {
    val spark = session(args)
    val dir = s"${args.work}/classes"
    val workloads = Seq(new PackWorkload(dir, args.seed, args.examples),
      new LoadWorkload(dir, args.seed, args.examples),
      new QueryWorkload("catalog", Queries.catalog, s"${args.data}/sf0.01", Map.empty, args.seed))
    val probes = new Probes(spark)
    probes.install()
    val trace = new Tracer(Some(probes))
    trace.enabled = true
    workloads.foreach { w => w.prepare(spark); w.expect(spark); w.pass(spark, trace).check() }
    probes.uninstall()
    spark.stop()
    LocalFiles.delete(new File(dir))
    0
  }

  /** Runs every query of the workload's family once and writes its row
    * count and digest. */
  private def record(args: Args): Int = {
    val (_, queries, scale) = querySet(args.workload)
    val spark = session(args)
    val values = queries.map { q =>
      val t0 = System.nanoTime()
      val v = try Digest.of(graft.SparkEntry.queries(q)(spark, s"${args.data}/$scale")) catch {
        case t: Throwable =>
          System.err.println(s"perfbench: $q failed: $t")
          Digest.Value(-1L, "failed")
      }
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[perfbench] $q%-48s rows=${v.rows} seconds=$s%.3f")
      (q, v, s)
    }
    Queries.writeReference(referencePath(args, scale), values)
    spark.stop()
    if (values.exists(_._2.rows < 0)) 1 else 0
  }

  /** Runs every query of the workload's family twice, in a fixed order,
    * and records what the second run cost: seconds, and the listener
    * counters of the traced run. It prints the same aggregates for the
    * whole family and for the workload's measured subset, so the two can
    * be compared. */
  private def survey(args: Args): Int = {
    val (subset, queries, scale) = querySet(args.workload)
    val dir = s"${args.data}/$scale"
    val reference = Queries.readReference(referencePath(args, scale))
    val spark = session(args)
    val probes = new Probes(spark)
    probes.install()
    val trace = new Tracer(None)
    val rows = queries.map { q =>
      val w = new QueryWorkload(q, Seq(q), dir, reference, 0L)
      w.pass(spark, trace)
      probes.reset()
      val r = w.pass(spark, trace)
      val c = probes.snapshot() + ("seconds" -> r.seconds) +
        ("failed" -> r.check().count(!_.ok).toDouble)
      println(f"[perfbench] survey $q%-48s ${r.seconds}%.3f s jobs=${c.getOrElse("sched.jobs", 0.0)}%.0f")
      q -> c
    }
    probes.uninstall()
    spark.stop()
    java.nio.file.Files.writeString(new File(s"${args.out}/survey-${args.workload}.json").toPath,
      Json.obj(rows.map { case (q, c) => q -> Json.nums(c) }) + "\n")
    def summary(label: String, set: Seq[String]): Unit = {
      val rs = rows.filter(r => set.contains(r._1)).map(_._2)
      def total(k: String): Double = rs.map(_.getOrElse(k, 0.0)).sum
      val secs = rs.map(_("seconds"))
      val plan = total("plan.analysis_s") + total("plan.optimization_s") + total("plan.planning_s")
      println(s"[perfbench] survey $label: queries=${rs.length} seconds=${Json.num(total("seconds"))} " +
        s"p50_s=${Json.num(median(secs))} p95_s=${Json.num(quantile(secs, 0.95))} " +
        s"jobs_per_query=${Json.num(total("sched.jobs") / rs.length)} " +
        s"stages_per_query=${Json.num(total("sched.stages") / rs.length)} " +
        s"plan.share=${Json.num(plan / total("seconds"))} " +
        s"driver_idle_share=${Json.num(total("sched.driver_idle_s") / total("seconds"))} " +
        s"stream_batches=${Json.num(total("stream.batches"))} failed=${Json.num(total("failed"))}")
    }
    summary("all", queries)
    summary("subset", subset)
    if (rows.exists(_._2("failed") > 0)) 1 else 0
  }
}
