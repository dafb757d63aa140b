package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{ExtractJob, GenRow, Golden, ParquetTableIO, Turn}

/** One JVM of a benchmark run: a single closed-loop client that calls
  * `ExtractJob.runWithManifests` over a seeded corpus, one call at a time,
  * until its time is up. `perfbench/run.py` starts it and reads the JSON file
  * it writes; see that script for the arguments.
  *
  * phase=main    set up the corpus, warm up, measure; with trace=1 also run
  *               the kernel sample and trace every second call
  * phase=scaling reuse the corpus the main phase wrote, warm up, measure
  */
object Main {

  final class Opts(args: Array[String]) {
    private val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }

  def main(args: Array[String]): Unit = {
    val o = new Opts(args)
    val run = new Run(o)
    try run.go() finally run.spark.stop()
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

final class Run(o: Main.Opts) {
  import Main._

  private val workload = o("workload")
  private val phase = o("phase")
  private val cores = o.int("cores")
  private val seconds = o("seconds").toDouble
  private val trace = o.int("trace") == 1
  private val work = new File(o("work")).getAbsoluteFile
  private val genDir = s"$work/corpus"
  private val partitions = 3 * cores
  private val shards = o.int("shards")
  private val spans = new Spans
  private val workloadSpan = spans.add(-1, s"workload:${o("workload")}", System.currentTimeMillis(), 0L)

  private val t0Session = System.nanoTime()
  val spark: SparkSession = session(cores, s"$work/$phase")
  private val sessionS = (System.nanoTime() - t0Session) / 1e9
  import spark.implicits._

  private val out = scala.collection.mutable.LinkedHashMap[String, Any]()
  /** Calls after which the session SQL conf differed from before the call. */
  private var confDrift = 0

  def go(): Unit = {
    out("workload") = workload
    out("phase") = phase
    out("cores") = cores
    out("partitions") = partitions
    out("shards") = shards
    if (phase == "main") setUp()
    require(new File(genDir).isDirectory, s"corpus missing: $genDir (the main phase writes it)")
    val input = ParquetTableIO.readTurns(spark, genDir)
    val turns = input.count()
    out("turns") = turns

    val t0 = System.nanoTime()
    for (k <- 1 to o.int("warmup-calls")) deleteTree(new File(call(input, s"$work/out-$phase-warm$k", null, -1).dir))
    out("warmup_s") = (System.nanoTime() - t0) / 1e9
    if (phase == "main") out("setup_s") = sessionS + out("corpus_s").asInstanceOf[Double] + out("warmup_s").asInstanceOf[Double]

    // with trace=1, traced and untraced calls alternate, so drift during the
    // run cannot pass for tracing overhead
    val tracer = if (trace) new Tracer else null
    val all = loop(input, seconds, tracer)
    val untraced = all.filter(_.metrics.isEmpty)
    out("turns_per_s") = Stats.median(untraced.map(turns / _.wallS))
    out("call_s") = all.map(_.wallS)
    out("call_cpu_s") = all.map(_.cpuS)
    out("cpu_us_per_turn") = Stats.median(untraced.map(_.cpuS * 1e6 / turns))
    if (trace) perLayer(input, turns, untraced, all.filter(_.metrics.nonEmpty))
    check(all, turns)
    out("conf") = (spark.sparkContext.getConf.getAll ++ spark.conf.getAll).toMap
    spans.close(workloadSpan, System.currentTimeMillis())
    Files.write(Paths.get(o("result")), Json.write(out).getBytes(UTF_8))
    Files.write(Paths.get(s"$work/spans-$phase.json"), Json.write(
      spans.all.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))).getBytes(UTF_8))
  }

  /** Generates and writes the corpus `setup-reps` times; setup_s is the
    * session start, the median repetition and the warm-up calls.
    */
  private def setUp(): Unit = {
    val size = Corpus.Size(o.int("convs"), o.int("turns-per-conv"), o.int("long-convs"), o.int("long-turns"))
    val seed = o("seed").toLong
    val plant = o("plant")
    val reps = o.int("setup-reps")
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val gen = workload match {
        case "extract_transcript_mix" => Corpus.transcriptMix(spark, seed, size)
        case "extract_pdf_heavy" => Corpus.pdfHeavy(spark, seed, size)
        case w => sys.error(s"unknown workload $w")
      }
      Plant(plant, gen).write.mode("overwrite").parquet(genDir)
      (System.nanoTime() - t0) / 1e9
    }
    out("corpus_reps_s") = times
    out("corpus_s") = Stats.median(times)
    out("session_s") = sessionS
    val m = Corpus.makeUp(spark.read.parquet(genDir).as[GenRow], size.longTurns)
    out("makeup") = Map("rows" -> m.rows, "bytes" -> m.bytes, "long_share" -> m.longShare,
      "non_exact_rows" -> m.nonExactRows, "on_disk_mb" -> dirBytes(new File(genDir)) / 1e6)
  }

  /** One runWithManifests call into a fresh directory. With a tracer, the
    * call's span and its Spark metrics are recorded once the bus is drained.
    */
  private def call(input: Dataset[Turn], dir: String, tracer: Tracer, parent: Int): CallResult = {
    val rec = new CallRec
    val confBefore = spark.conf.getAll
    if (tracer != null) tracer.current = rec
    val a = System.currentTimeMillis()
    val cpu0 = processCpuNs()
    val t0 = System.nanoTime()
    ExtractJob.runWithManifests(spark, input, dir, shards, partitions)
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (processCpuNs() - cpu0) / 1e9
    if (spark.conf.getAll != confBefore) confDrift += 1
    val metrics = if (tracer == null) Map.empty[String, Double] else {
      val span = spans.add(parent, "runWithManifests", a, System.currentTimeMillis())
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      tracer.current = null
      Tracer.addSpans(spans, span, rec)
      val queries = spans.all.filter(_.parent == span)
      Tracer.callMetrics(rec, wall * 1e3, cores) ++ outputStats(dir) ++ Map(
        "pipeline.call_self_s" -> spans.selfMs(span) / 1e3,
        "spark.query_self_s" -> queries.map(q => spans.selfMs(q.id)).sum / 1e3)
    }
    val errors = spark.read.parquet(s"$dir/data").where(col("error").isNotNull).count()
    CallResult(dir, wall, cpu, errors, metrics)
  }

  /** Closed loop: the next call starts when the previous one has finished and
    * its output has been checked; stops once `secs` have passed, after at
    * least 4 calls. With a tracer, every second call is traced.
    */
  private def loop(input: Dataset[Turn], secs: Double, tracer: Tracer): Seq[CallResult] = {
    val results = ArrayBuffer.empty[CallResult]
    val run = spans.add(workloadSpan, "run", System.currentTimeMillis(), 0L)
    val deadline = System.nanoTime() + (secs * 1e9).toLong
    while (results.length < 4 || System.nanoTime() < deadline) {
      val traced = tracer != null && results.length % 2 == 1
      if (traced) {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      val r = call(input, s"$work/out-$phase-${results.length}", if (traced) tracer else null, run)
      if (traced) {
        spark.sparkContext.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }
      results.lastOption.foreach(p => deleteTree(new File(p.dir)))
      results += r
    }
    spans.close(run, System.currentTimeMillis())
    results.toSeq
  }

  private def outputStats(dir: String): Map[String, Double] = {
    val files = listFiles(new File(s"$dir/data")).filter(_.getName.endsWith(".parquet"))
    Map("pipeline.output_files" -> files.size.toDouble,
      "pipeline.output_mb" -> files.map(_.length).sum / 1e6)
  }

  /** Kernel timings, per-call Spark metrics (medians over traced calls), the
    * kernel's share of task CPU and the tracing overhead.
    */
  private def perLayer(input: Dataset[Turn], turns: Long, untraced: Seq[CallResult],
                       traced: Seq[CallResult]): Unit = {
    val sampleSize = o.int("kernel-sample")
    val every = math.max(1L, turns / sampleSize)
    val sample = input.where(pmod(xxhash64(col("conv_id"), col("turn_idx"), lit(o("seed").toLong)), lit(every)) === 0)
      .orderBy("conv_id", "turn_idx").limit(sampleSize).collect().toIndexedSeq
    val kernel = Kernel.measure(sample, o.int("kernel-reps"))
    val spark_ = traced.head.metrics.keys.toSeq.map(k => k -> Stats.median(traced.map(_.metrics(k))))
    val layer = scala.collection.mutable.LinkedHashMap[String, Double]()
    layer ++= kernel
    layer ++= spark_
    val cpuPerTurnUs = layer("spark.task_cpu_s") * 1e6 / turns
    layer("kernel.cpu_share") = kernel("kernel.mean_turn_us") / cpuPerTurnUs
    val untracedTps = Stats.median(untraced.map(turns / _.wallS))
    val tracedTps = Stats.median(traced.map(turns / _.wallS))
    layer("trace.turns_per_s") = tracedTps
    layer("trace.overhead_share") = untracedTps / tracedTps - 1.0
    out("kernel_sample") = sample.length
    out("kernel_sample_kinds") = sample.groupBy(_.tool).map { case (k, v) => k -> v.length }
    out("per_layer") = layer.toMap
  }

  /** Output checks, outside every timed region: each call's error rows, and
    * the golden diff of the last call's output.
    */
  private def check(all: Seq[CallResult], turns: Long): Unit = {
    val last = all.last
    val golden = spark.read.parquet(genDir).select("conv_id", "turn_idx", "expected_text", "gate").as[Golden]
    val diff = ExtractJob.goldenDiff(ExtractJob.readOutput(spark, last.dir), golden)
    val byReason = diff.groupBy("reason").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out("wrong_outputs") = byReason.values.sum
    out("wrong_by_reason") = byReason
    out("attempted") = turns * all.length
    out("failed_rows") = all.map(_.errors).sum
    out("calls") = all.length
    out("conf_drift") = confDrift
    deleteTree(new File(last.dir))
  }

  /** CPU time of every thread of this JVM, driver and executors alike. */
  private def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def listFiles(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) listFiles(f) else Seq(f))
  private def dirBytes(d: File): Long = listFiles(d).map(_.length).sum
  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

final case class CallResult(dir: String, wallS: Double, cpuS: Double, errors: Long,
                            metrics: Map[String, Double])

/** Faults the self-test plants to prove the checks can fail. */
object Plant {
  def apply(kind: String, gen: Dataset[GenRow]): Dataset[GenRow] = {
    import gen.sparkSession.implicits._
    def hit(g: GenRow) = g.turn_idx == 1 && g.conv_id.endsWith("3")
    kind match {
      case "none" => gen
      // a truncated PDF: must land in `error`, never fail the job
      case "poison" => gen.map(g => if (hit(g)) g.copy(text = "JVBERi0xLjQKdHJ1bmNhdGVk", tool = "pdf-b64") else g)
      case "wrong_golden" => gen.map(g => if (hit(g)) g.copy(expected_text = g.expected_text + "!") else g)
      case k => sys.error(s"unknown plant $k")
    }
  }
}

/** Minimal JSON writer for the result files. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case x => quote(x.toString)
  }
  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
