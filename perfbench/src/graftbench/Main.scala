package graftbench

import graft.GraftSession
import java.io.File
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One output check: `op` names the timed operation it judges. */
final case class Check(op: String, name: String, ok: Boolean, detail: String)

/** An operation that threw: its exception class and message travel in
  * the result, not only in the JVM's log.
  */
final case class Failure(op: String, cls: String, message: String)

object Failure {
  def of(op: String, e: Throwable): Failure = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    Failure(op, e.getClass.getName,
      Option(e.getMessage).getOrElse("").take(400) +
        (if (root ne e) s" | root: ${root.getClass.getName}: " +
          Option(root.getMessage).getOrElse("").take(200) else ""))
  }
}

/** What one iteration of a workload produced. `samples` holds timings in
  * seconds by metric name; `ops` lists the timed operations attempted.
  * `checks` judge the outputs (and decide `correct`); `cleanup` holds the
  * resource assertions made after the outputs were released, reported on
  * their own.
  */
final case class Iter(samples: Map[String, Seq[Double]], ops: Seq[String],
    failures: Seq[Failure], checks: Seq[Check], cleanup: Seq[Check] = Nil)

final class RunCtx(val spark: SparkSession, val tracer: Tracer,
    val heap: HeapMonitor, val benchDir: File)

/** A benchmark workload: writes its inputs from a seed, then runs one
  * cold iteration over them at a time.
  */
trait Workload {
  def name: String
  /** Write the inputs under `dir`; returns the number of input records. */
  def generate(ctx: RunCtx, dir: File, seed: Long): Long
  def iteration(ctx: RunCtx, in: File, out: File, seed: Long, iter: Int): Iter
  /** Workload-specific detail for the report (per-query latencies). */
  def detail: Any = null
  /** Per-layer metrics the workload derives from the trace at the end. */
  def traceExtras(t: Tracer): Seq[(String, Double)] = Nil
  /** Metrics derived from the cold iteration's samples, beyond `wall_s`. */
  def summarize(samples: Map[String, Seq[Double]], records: Long,
      wall: Double): Seq[(String, Double, String)] = Nil
}

/** Benchmark JVM entry point (launched by perfbench/run.py, which pins the
  * heap, the collector and the core count):
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --work <dir> --bench <perfbench dir> --cores <k> [--t0-ms <epoch ms>]
  *
  * Prints one `GRAFTBENCH_REPORT {json}` line.
  */
object Main {

  val workloads: Map[String, Workload] = Map(
    "permits_etl" -> PermitsEtl,
    "corpus_prep" -> CorpusPrep,
    "query_suite" -> QuerySuite)

  def main(args: Array[String]): Unit = {
    val mainEpochMs = System.currentTimeMillis()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = workloads.getOrElse(opts("workload"),
      sys.error(s"unknown workload ${opts("workload")}; known: ${workloads.keys.mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work"))
    val benchDir = new File(opts("bench"))
    val cores = opts("cores").toInt
    val t0Ms = opts.get("t0-ms").map(_.toLong)
    QuerySuite.all = opts.get("all").contains("1")
    val jvmBoot = t0Ms.map(t0 => (mainEpochMs - t0) / 1000.0).getOrElse(0.0).max(0.0)
    val report = run(wl, seed, seconds, trace, work, benchDir, cores, jvmBoot)
    opts.get("record").foreach(f => QuerySuite.record(new File(f), QuerySuite.passes.toSeq))
    println("GRAFTBENCH_REPORT " + Json(report))
    System.out.flush()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def session(cores: Int, localDir: File): SparkSession = {
    val spark = GraftSession.builder(cores)
      .config("spark.local.dir", localDir.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(localDir, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Input copies written per run, concurrently, one thread each: each
    * copy's generation is timed on its own, `setup_s` takes the median,
    * and iterations rotate over the copies.
    */
  val InputCopies = 3

  def run(wl: Workload, seed: Long, seconds: Double, trace: Boolean,
      work: File, benchDir: File, cores: Int,
      jvmBoot: Double): mutable.LinkedHashMap[String, Any] = {
    val localDir = new File(work, "spark-local")
    localDir.mkdirs()
    val freeMb = Host.freeDiskMb(work.getAbsolutePath)
    val loadStart = Host.loadavg()
    val heap = new HeapMonitor

    val tSession = System.nanoTime()
    val spark = session(cores, localDir)
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val modules = fileModules()
    val tracer = new Tracer(spark.sparkContext, cores, trace, modules)
    val ctx = new RunCtx(spark, tracer, heap, benchDir)

    val failures = mutable.ArrayBuffer.empty[Failure]
    val checks = mutable.ArrayBuffer.empty[Check]
    val cleanup = mutable.ArrayBuffer.empty[Check]
    val ops = mutable.ArrayBuffer.empty[String]

    val inputs = (0 until InputCopies).map(i => new File(work, s"in_$i"))
    val generated = inputs.map { dir =>
      scala.concurrent.Future {
        val t = System.nanoTime()
        val n = wl.generate(ctx, dir, seed)
        (n, (System.nanoTime() - t) / 1e9)
      }(scala.concurrent.ExecutionContext.global)
    }.map(f => scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
    val records = generated.head._1
    val genTimes = generated.map(_._2)
    val setupS = jvmBoot + sessionS + median(genTimes)
    System.err.println(f"[graftbench] setup: jvm $jvmBoot%.2fs session $sessionS%.2fs generate ${genTimes.mkString(",")}")
    // the generators' garbage is collected before timing, not during it
    heap.settle()
    heap.reset()

    val ticksStart = Host.cpuTicks()
    val cpuStart = Host.processCpuSeconds()
    var firstSteal, firstCpu = Double.NaN
    val runStart = System.nanoTime()
    def elapsed = (System.nanoTime() - runStart) / 1e9
    // The first iteration is the measurement: cold, in a fresh JVM, with
    // nothing cached. More iterations run while one more, as long as the
    // first, still ends within the seconds; they are reported apart from
    // it, as warm figures. A traced run makes three iterations: untraced
    // (cold), traced, untraced; the traced one gives the per-layer
    // numbers, and its wall time minus the last one's the tracing overhead.
    val perIter = mutable.ArrayBuffer.empty[Map[String, Seq[Double]]]
    var firstS = 0.0
    var i = 0
    while (i < (if (trace) 3 else 1) || (!trace && elapsed + firstS <= seconds)) {
      val out = new File(work, s"iter_$i")
      out.mkdirs()
      tracer.active = trace && i == 1
      val it = wl.iteration(ctx, inputs(i % InputCopies), out, seed, i)
      tracer.active = false
      ops ++= it.ops
      failures ++= it.failures
      checks ++= it.checks
      cleanup ++= it.cleanup
      perIter += it.samples
      deleteRecursively(out)
      if (i == 0) {
        firstS = elapsed
        firstSteal = Host.stealSince(ticksStart)
        firstCpu = Host.processCpuSeconds() - cpuStart
      }
      System.err.println(f"[graftbench] iteration $i%d: " +
        it.samples.map { case (k, v) => f"$k=${median(v)}%.3f" }.mkString(" ") +
        s" failures=${it.failures.size} failed_checks=${it.checks.count(!_.ok)}" +
        s" failed_cleanup=${it.cleanup.count(!_.ok)}" + f" at $elapsed%.1fs")
      i += 1
    }
    val measureS = elapsed
    heap.settle()

    val badOps = (failures.map(_.op) ++ checks.filterNot(_.ok).map(_.op)).toSet
    val failed = ops.count(badOps.contains)
    val cold = perIter.head
    def first(k: String) = cold.get(k).flatMap(_.headOption).getOrElse(Double.NaN)
    val wall = first("wall_s")
    val warm = perIter.tail.flatMap(_.get("wall_s")).flatten.toSeq
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", wall, "s"),
      ("rows_per_s", records / wall, "rows/s")) ++
      wl.summarize(cold, records, wall) ++
      (if (warm.isEmpty || trace) Nil else Seq(("warm_wall_s", median(warm), "s"))) ++ Seq(
      ("failed_frac", if (ops.isEmpty) 1.0 else failed.toDouble / ops.size, "fraction"),
      ("peak_heap_mb", heap.peakMb, "MB"))

    val perLayer = mutable.LinkedHashMap.empty[String, Double]
    if (trace) {
      perLayer ++= tracer.report()
      perLayer ++= wl.traceExtras(tracer)
      def wallOf(n: Int) = perIter(n).get("wall_s").flatMap(_.headOption).getOrElse(Double.NaN)
      perLayer("trace_overhead_s") = wallOf(1) - wallOf(2)
    }
    tracer.close()
    spark.stop()
    inputs.foreach(deleteRecursively)
    deleteRecursively(localDir)

    Json.obj(
      "workload" -> wl.name,
      "seed" -> seed,
      "trace" -> trace,
      "iterations" -> i,
      "measure_s" -> measureS,
      "iteration_wall_s" -> perIter.map(_.get("wall_s").flatMap(_.headOption).getOrElse(Double.NaN)),
      "input_records" -> records,
      "correct" -> (failures.isEmpty && checks.forall(_.ok)),
      "attempted" -> ops.size,
      "failed" -> failed,
      "end_to_end" -> Json.obj(e2e.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "per_layer" -> perLayer,
      "setup" -> Json.obj("jvm_boot_s" -> jvmBoot, "session_s" -> sessionS,
        "generate_s" -> genTimes),
      "host" -> Json.obj(
        "nproc" -> Host.nproc(), "cores" -> cores, "master" -> spark.sparkContext.master,
        "loadavg_start" -> loadStart, "loadavg_end" -> Host.loadavg(),
        // over the measured (first) iteration, its checks included
        "steal_frac" -> firstSteal, "process_cpu_s" -> firstCpu,
        "free_disk_mb" -> freeMb, "local_dir" -> localDir.getPath,
        "jvm" -> Host.jvm()),
      "failures" -> failures.map(f => Json.obj("op" -> f.op, "class" -> f.cls, "message" -> f.message)),
      "checks_failed" -> checks.filterNot(_.ok).take(50).map(c =>
        Json.obj("op" -> c.op, "check" -> c.name, "detail" -> c.detail)),
      "checks_passed" -> checks.count(_.ok),
      "cleanup_assertions" -> Json.obj("passed" -> cleanup.count(_.ok),
        "failed" -> cleanup.filterNot(_.ok).map(c =>
          Json.obj("op" -> c.op, "assertion" -> c.name, "detail" -> c.detail))),
      "detail" -> wl.detail)
  }

  /** graft source file name → module (`Dedup.scala` → `dedup`), from the
    * list the build writes next to the classes.
    */
  def fileModules(): Map[String, String] = {
    val f = new File(System.getProperty("graftbench.modules", ""))
    if (!f.isFile) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.split("\t")).collect {
        case Array(file, module) => file -> module
      }.toMap
      finally src.close()
    }
  }
}
