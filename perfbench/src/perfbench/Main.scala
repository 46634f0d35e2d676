package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * Benchmark harness: starts the shared GraftSession, sets up one workload
 * from a seed, runs its requests in a closed loop with one client for
 * `--seconds`, checks every output, and prints one JSON result line.
 *
 *   perfbench.Main --workload <qa|kgqa> --seed <n> --seconds <s>
 *                  --trace <0|1> --work <dir> [--report <file>]
 *
 * With --trace 0 the result carries the end-to-end metrics; with --trace 1
 * the per-layer metrics, measured by a [[Tracer]]. `--work` holds the
 * generated tables and Spark's local and warehouse dirs. The digests of
 * earlier runs live beside it, in `digests/`: a request's digest must repeat
 * for the same seed and input.
 */
object Main {

  final case class Metric(name: String, value: Double, unit: String)

  /** End-to-end metrics with their units. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s",
    "ops_per_s" -> "req/s", "lat_p50_ms" -> "ms", "lat_tail_ms" -> "ms",
    "cpu_ms_per_op" -> "ms", "cache_mb" -> "MB")

  /** Percentile reported as lat_tail_ms: a run holds too few requests for
    * a higher one to keep samples beyond it. */
  val TailPercentile = 75.0

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String) = args.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val name = arg("--workload")
    require(Workloads.all.contains(name),
      s"unknown workload '$name' (expected ${Workloads.all.mkString(", ")})")
    val seed = arg("--seed").toLong
    val seconds = arg("--seconds").toDouble
    val trace = arg("--trace") == "1"
    val work = new File(arg("--work")).getAbsoluteFile
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val tracer = new Tracer(trace)
    val spark = tracer.span("setup.session") {
      val cpus = Runtime.getRuntime.availableProcessors.toString
      graft.GraftSession.builder(cpus)
        .config("spark.local.dir", new File(work, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
        .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop").getPath)
        .getOrCreate()
    }
    try {
      tracer.attach(spark)
      val report = run(spark, tracer, name, seed, seconds, work, jvmStartMs)
      args.get("--report").foreach(p =>
        Files.write(Paths.get(p), report.full.getBytes(UTF_8)))
      println(report.line)
    } finally spark.stop()
  }

  /** The result line and the full report of a run, as JSON. */
  final case class Report(line: String, full: String)

  def run(spark: SparkSession, tracer: Tracer, name: String, seed: Long,
          seconds: Double, work: File, jvmStartMs: Long): Report = {
    val data = new File(work, "data").getPath
    val w = Workloads(name, Ctx(spark, seed, data, tracer))
    // untimed steps that gather and check each output, keyed by input;
    // a failed set-up ends the run without a result
    val pending = mutable.ArrayBuffer[(String, Option[() => Result])](
      "setup" -> Some(w.setup()))
    def attempt(key: String)(body: => () => Result): Unit =
      pending += (key -> (try Some(body) catch { case e: Exception =>
        warn(s"$key failed: $e"); None }))
    def send(i: Int): Unit =
      attempt(i.toString)(tracer.span("request", i)(w.request(i)))
    tracer.span("setup.warm")((0 until w.warmup).foreach(send))

    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val lat = mutable.ArrayBuffer.empty[Double]
    val cpu0 = processCpuNs()
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    var i = w.warmup
    while (System.nanoTime() < deadline) {
      val t0 = System.nanoTime()
      send(i)
      lat += (System.nanoTime() - t0) / 1e6
      i += 1
    }
    val wallS = (System.nanoTime() - start) / 1e9
    val cpuMs = (processCpuNs() - cpu0) / 1e6

    val results = pending.map { case (key, fin) => key -> fin.flatMap { f =>
      try Some(f()) catch { case e: Exception =>
        warn(s"$key output unreadable: $e"); None }
    }}
    results.foreach { case (key, r) =>
      r.filter(_.problems.nonEmpty).foreach(x =>
        warn(s"$key failed checks: ${x.problems.mkString("; ")}"))
    }
    val digestFile = new File(work.getParentFile, s"digests/$name-$seed.tsv")
    val badDigest = Digests.check(digestFile,
      results.collect { case (key, Some(r)) => key -> r.digest }.toSeq)
    badDigest.foreach(key => warn(s"$key digest differs from an earlier run"))
    val failed = failures(results.toSeq, badDigest)
    val attempted = results.size
    pending.clear()
    val storage = settledStorage(spark)
    val cacheMb = storage.map(_.memSize).sum / 1048576.0
    val timed = results.drop(1 + w.warmup).flatMap(_._2).toSeq
    val counts = results.head._2.fold(Map.empty[String, Double])(_.counts) ++
      timed.flatMap(_.counts.keys).distinct.map(k =>
        k -> timed.map(_.counts.getOrElse(k, 0.0)).sum / timed.size)

    val e2eValues = Map("setup_s" -> setupS, "ops_per_s" -> lat.size / wallS,
      "lat_p50_ms" -> Stats.percentile(lat.toSeq, 50),
      "lat_tail_ms" -> Stats.percentile(lat.toSeq, TailPercentile),
      "cpu_ms_per_op" -> cpuMs / lat.size, "cache_mb" -> cacheMb)
    val e2e = EndToEnd.map { case (n, u) => Metric(n, e2eValues(n), u) }
    val layers = if (tracer.enabled)
      Layers.metrics(tracer, counts, spark.sparkContext.defaultParallelism,
        w.warmup)
    else Nil
    val line = resultLine(attempted, failed, if (tracer.enabled) layers else e2e)
    val full = Map("workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> tracer.enabled, "attempted" -> attempted, "failed" -> failed,
      "requests_timed" -> lat.size, "tail_percentile" -> TailPercentile,
      "latencies_ms" -> lat.toSeq, "end_to_end" -> asJson(e2e),
      "per_layer" -> asJson(layers), "counts" -> counts,
      "storage" -> storage.map(r => Map("rdd" -> r.name,
        "level" -> r.storageLevel.description, "partitions" -> r.numPartitions,
        "cached" -> r.numCachedPartitions, "mem_mb" -> r.memSize / 1048576.0,
        "disk_mb" -> r.diskSize / 1048576.0)),
      "spans" -> (if (tracer.enabled) Layers.spanSummary(tracer) else Nil))
    Report(line, Json.write(full))
  }

  /** CPU time of the whole JVM (every thread, JIT and GC included); a
    * hypervisor's stolen time is not charged to it. */
  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Storage the run still holds: cached and checkpointed RDDs after GC
    * has let Spark's cleaner drop the ones nothing references any more
    * (superseded checkpoints of the build, request outputs). Without the
    * GC the sum depends on when the last collection happened. */
  def settledStorage(spark: SparkSession): Seq[org.apache.spark.storage.RDDInfo] = {
    def sample() = { System.gc(); Thread.sleep(300); spark.sparkContext.getRDDStorageInfo.toSeq }
    var last = sample()
    var next = sample()
    var tries = 0
    while (next.map(_.memSize).sum != last.map(_.memSize).sum && tries < 10) {
      last = next; next = sample(); tries += 1
    }
    next
  }

  /** Failed operations: no output, failed checks, or a digest that differs
    * from an earlier one for the same input. */
  def failures(results: Seq[(String, Option[Result])], badDigest: Set[String]): Int =
    results.count { case (key, r) =>
      r.forall(_.problems.nonEmpty) || badDigest.contains(key) }

  private def asJson(ms: Seq[Metric]) = ms.map(m =>
    m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap

  /** The result line: the last line of stdout. */
  def resultLine(attempted: Int, failed: Int, metrics: Seq[Metric]): String =
    Json.write(Map("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> asJson(metrics)))

  def warn(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

object Stats {
  /** Percentile by linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
}

/** Per-input digests remembered across runs of the same seed. */
object Digests {
  /** Returns the keys (set-up, or request index: request `i` always uses
    * the same input for a seed) whose digest disagrees with an earlier one
    * for the same key, in this run or a stored earlier run, and stores the
    * first digest per key. */
  def check(file: File, digests: Seq[(String, String)]): Set[String] = {
    val known = mutable.Map.empty[String, String]
    if (file.exists()) scala.io.Source.fromFile(file, "UTF-8").getLines()
      .map(_.split("\t")).foreach { case Array(k, d) => known(k) = d; case _ => }
    val bad = digests.collect {
      case (key, d) if known.getOrElseUpdate(key, d) != d => key
    }.toSet
    file.getParentFile.mkdirs()
    Files.write(file.toPath, known.toSeq.sorted.map { case (k, d) => s"$k\t$d" }
      .mkString("", "\n", "\n").getBytes(UTF_8))
    bad
  }
}

/** Minimal JSON writer for the result line and the report. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString + ".0"
      else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => (k.toString, x) }
      .sortBy(_._1).map { case (k, x) => s"${quote(k)}:${write(x)}" }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
