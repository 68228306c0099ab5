package graftbench

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Entry point of one benchmark run: one workload in one JVM.
  *
  *  1. set-up, once: session start and input generation;
  *  2. a warm-up, so that the measured pass runs compiled code (a registry
  *     workload's warm-up is the pass whose results go to the oracle
  *     check, then [[Main.WarmPasses]] noop passes beside that check);
  *     `setup_s` runs from JVM start to the end of the warm-up;
  *  3. exactly [[Main.MeasuredPasses]] measured passes, however long they
  *     take, so that two builds are always measured on the same operations;
  *  4. the untimed checks, then a JSON result file.
  *
  * `--trace 1` adds spans, layer tags and executor counters; the end-to-end
  * numbers always come from an untraced run.
  */
object Main {
  /** Fixed, not derived from elapsed time: a faster build must not earn
    * an extra, warmer pass.
    */
  val MeasuredPasses = 1
  /** Noop passes a registry workload runs after its checked pass, beside
    * the oracle check: a query's second run is still 7-10% slower than
    * its third (4 cores), so the measured pass is each query's third run.
    */
  val WarmPasses = 1

  final case class Args(workload: String, seed: Long, trace: Boolean, cores: Int,
                        work: Path, corpus: String, out: Path, inject: Set[String], genOnly: Boolean,
                        oracleCheck: Seq[String]) // the check's command, before its dump and corpus arguments

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, m.getOrElse("trace", "0") == "1", m.getOrElse("cores", "4").toInt,
      Paths.get(get("work")).toAbsolutePath, Paths.get(m.getOrElse("corpus", ".")).toAbsolutePath.toString,
      Paths.get(m.getOrElse("out", "result.json")).toAbsolutePath,
      m.getOrElse("inject", "").split(",").map(_.trim).filter(_.nonEmpty).toSet,
      m.getOrElse("gen-only", "0") == "1",
      Seq(m.getOrElse("python", "python3"), m.getOrElse("check-oracle", "tools/check_oracle.py")))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work)
    if (args.genOnly) { generate(args); return }
    val bench = args.workload match {
      case "feed_ingest"     => new FeedWorkload(args)
      case "corpus_curation" => new RegistryWorkload(args, Registry.Curation, Registry.CurationTables)
      case "star_analytics"  => new RegistryWorkload(args, Registry.Star, Registry.StarTables)
      case w                 => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val result = bench.run()
    Files.writeString(args.out, result)
  }

  /** Write every generated input of a seed (files and messages), nothing
    * else: the determinism self-test compares these trees byte for byte.
    */
  private def generate(args: Args): Unit = {
    val feeds = FeedGen.warmup(args.seed) ++ FeedGen.pass(args.seed)
    FeedGen.write(args.work, feeds)
    val msgs = feeds.zipWithIndex.map { case (f, i) => f.configFor(i + 1L, 1) }
    Files.writeString(args.work.resolve("messages.jsonl"), msgs.mkString("", "\n", "\n"))
    val orders = Seq("corpus_curation" -> Registry.Curation, "star_analytics" -> Registry.Star).map {
      case (w, qs) => s"$w: " + (0 to 3).map(p => Registry.order(qs, args.seed, p).mkString(",")).mkString(" | ")
    }
    Files.writeString(args.work.resolve("query_order.txt"), orders.mkString("", "\n", "\n"))
  }

  def session(args: Args): SparkSession = {
    val s = GraftSession.tune(SparkSession.builder()
        .master(s"local[${args.cores}]")
        .appName("graftbench")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", args.cores.toString)
        .config("spark.local.dir", args.work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString))
      // small corpus: wide initial shuffles only add scheduling overhead
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", args.cores.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val OracleCheckTimeoutS = 120L

  /** Seconds of CPU time the hypervisor gave to other guests, over all
    * CPUs of this machine since boot (the `steal` column of /proc/stat).
    */
  def hostStealS(): Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+")(8).toDouble / 100.0 finally src.close()
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.size == 1) s.head
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Harrell-Davis quantile estimate: every order statistic weighted by a
    * Beta((n+1)q, (n+1)(1-q)) density. Over a few heterogeneous samples it
    * moves smoothly with the data, where a single order statistic jumps
    * from one operation to another.
    */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 1) return s.head
    val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
    val steps = 20000
    val dens = Array.tabulate(steps) { k =>
      val t = (k + 0.5) / steps
      math.exp((a - 1) * math.log(t) + (b - 1) * math.log(1 - t))
    }
    val total = dens.sum
    val cdf = dens.scanLeft(0.0)(_ + _).map(_ / total)
    s.indices.map(i => (cdf(steps * (i + 1) / n) - cdf(steps * i / n)) * s(i)).sum
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  } + "\""

  def jnum(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}

/** What every workload shares: the set-up, the measured passes, the
  * counters and the result file.
  */
abstract class Workload(val args: Main.Args) {
  import Main._
  val tracer = new Tracer(args.trace)
  val counters = new ExecCounters
  var spark: SparkSession = _
  val failures = mutable.ArrayBuffer.empty[String]
  val inputs = mutable.LinkedHashMap.empty[String, String] // name -> json value
  val perLayer = mutable.Map.empty[String, Double]
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0
  /** JIT compilation time during the measured passes, summed over the
    * compiler threads.
    */
  var measuredJitS = 0.0

  /** Inputs under `dir`, and whatever the operations need to run. */
  def prepare(dir: Path): Unit
  def teardown(): Unit
  /** Warm-up; returns when it ended (epoch ms), which may be before the
    * call returns: untimed checks can overlap the warm-up's tail.
    */
  def warmup(): Long
  /** One measured pass; returns its wall seconds. */
  def pass(p: Int): Double
  /** Untimed checks and metric assembly after the measured passes. */
  def finish(passWalls: Seq[Double]): Seq[(String, Double, String)]

  def run(): String = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val timeline = mutable.LinkedHashMap.empty[String, Double]
    def mark(phase: String): Unit = timeline(phase) = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    spark = session(args)
    prepare(args.work.resolve("inputs"))
    mark("prepared")
    if (args.trace) counters.register(spark)
    timeline("warmup") = (warmup() - jvmStartMs) / 1000.0
    mark("warmup_checked")
    val setupS = timeline("warmup")

    if (args.trace) { counters.drain(); counters.active = true; tracer.active = true }
    // the process's CPU time and the host's steal beside each pass wall:
    // they tell a slower program from a busier host
    val cpuBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean
    val cpus = mutable.ArrayBuffer.empty[Double]
    val steals = mutable.ArrayBuffer.empty[Double]
    val jits = mutable.ArrayBuffer.empty[Double]
    val walls = (1 to MeasuredPasses).map { p =>
      val (c0, s0, j0) = (cpuBean.getProcessCpuTime, hostStealS(), jitBean.getTotalCompilationTime)
      val w = pass(p)
      cpus += (cpuBean.getProcessCpuTime - c0) / 1e9
      steals += hostStealS() - s0
      jits += (jitBean.getTotalCompilationTime - j0) / 1000.0
      w
    }
    inputs("pass_jit_s") = jits.map(jnum).mkString("[", ",", "]")
    measuredJitS = jits.sum
    inputs("pass_walls_s") = walls.map(jnum).mkString("[", ",", "]")
    inputs("pass_cpu_s") = cpus.map(jnum).mkString("[", ",", "]")
    inputs("pass_steal_s") = steals.map(jnum).mkString("[", ",", "]")
    if (args.trace) { counters.drain(); counters.active = false; tracer.active = false }
    mark("measured")
    val e2e = finish(walls) ++ Seq(
      ("setup_s", setupS, "s"),
      ("peak_rss_mb", peakRssMb(), "MB"))
    named("setup_s") = (setupS, "s")
    named("peak_rss_mb") = (peakRssMb(), "MB")
    named("failed_ratio") = (failures.size.toDouble / math.max(1, attempted), "ratio")
    inputs("passes") = walls.size.toString
    if (args.trace) Files.writeString(args.work.resolve("spans.json"), tracer.toJson)
    mark("checked")
    teardown()
    spark.stop()
    mark("stopped")
    inputs("timeline_s") = timeline.map { case (k, v) => s"${jstr(k)}:${jnum(v)}" }.mkString("{", ",", "}")

    def metrics(ms: Iterable[(String, Double, String)]) =
      ms.map { case (n, v, u) => s"${jstr(n)}:{\"value\":${jnum(v)},\"unit\":${jstr(u)}}" }.mkString("{", ",", "}")
    s"""{"workload":${jstr(args.workload)},"seed":${args.seed},"trace":${if (args.trace) 1 else 0},""" +
      s""""cores":${args.cores},"attempted":$attempted,"failed":${failures.size},""" +
      s""""failures":${failures.map(jstr).mkString("[", ",", "]")},""" +
      s""""end_to_end":${metrics(e2e)},""" +
      s""""per_layer":${metrics(if (args.trace) Layers.all.map { case (k, u) => (k, perLayer.getOrElse(k, 0.0), u) } else Nil)},""" +
      s""""named":${metrics(named.map { case (k, (v, u)) => (k, v, u) })},""" +
      s""""inputs":${inputs.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")}}"""
  }

  /** Percentiles over operation latencies, failed operations ranked as the
    * slowest (a failure misses any latency limit).
    */
  def latencies(ok: Seq[Double], failedN: Int): Seq[Double] =
    if (failedN == 0) ok else ok ++ Seq.fill(failedN)((ok :+ 0.0).max)

  /** Executor-layer counters, per measured operation. */
  def execLayer(ops: Int, wallS: Double): Unit = {
    val c = counters
    val n = math.max(1, ops).toDouble
    perLayer ++= Seq(
      "plans.analysis_ms" -> c.analysisMs / n,
      "plans.optimization_ms" -> c.optimizationMs / n,
      "plans.planning_ms" -> c.planningMs / n,
      "exec.jobs" -> c.jobsByLayer.values.sum / n,
      "exec.stages" -> c.stages / n,
      "exec.tasks" -> c.tasks / n,
      "exec.task_s" -> c.taskMs / 1000.0 / n,
      "exec.cpu_s" -> c.cpuNs / 1e9 / n,
      "exec.gc_s" -> c.gcMs / 1000.0 / n,
      "exec.jit_s" -> measuredJitS / n,
      "exec.task_wait_s" -> c.waitMs / 1000.0 / n,
      "exec.core_util" -> c.taskMs / 1000.0 / math.max(1e-9, wallS * args.cores),
      "exec.shuffle_read_mb" -> c.shuffleRead / 1048576.0 / n,
      "exec.shuffle_write_mb" -> c.shuffleWrite / 1048576.0 / n,
      "exec.spill_mb" -> c.spill / 1048576.0 / n,
      "exec.peak_exec_mem_mb" -> c.peakExecMem / 1048576.0)
  }

  /** Span-derived layer times per op, plus how much of each operation's
    * wall its child spans leave uncovered.
    */
  def spanLayers(ops: Int, layers: Seq[String], root: String): Unit = {
    val self = tracer.selfSeconds
    val n = math.max(1, ops).toDouble
    layers.foreach(l => perLayer(l + "_s") = self.getOrElse(l, 0.0) / n)
    val rootWall = tracer.all.filter(_.name == root).map(_.durNs).sum / 1e9
    perLayer("trace.op_self_share") = self.getOrElse(root, 0.0) / math.max(1e-9, rootWall)
    perLayer("trace.op_wall_s") = rootWall / n
    perLayer("trace.spans") = tracer.all.size.toDouble
  }
}

/** Every per-layer metric of the benchmark, in one order, so each traced
  * run reports all of them; a layer a workload bypasses reads 0.
  */
object Layers {
  val Feed = Seq("streaming.dispatch", "streaming.stats_wait", "sources.read", "operators.build", "sinks.write")
  val Query = Seq("queries.construct", "queries.exec")
  val Queries: Seq[String] = Registry.Curation ++ Registry.Star

  def all: Seq[(String, String)] =
    (Feed ++ Query).map(l => (l + "_s", "s/op")) ++ Seq(
      "sources.jobs" -> "jobs/op", "sinks.bytes_out" -> "bytes/op", "queries.construct_jobs" -> "jobs/op",
      "plans.analysis_ms" -> "ms/op", "plans.optimization_ms" -> "ms/op", "plans.planning_ms" -> "ms/op",
      "exec.jobs" -> "jobs/op", "exec.stages" -> "stages/op", "exec.tasks" -> "tasks/op",
      "exec.task_s" -> "s/op", "exec.cpu_s" -> "s/op", "exec.gc_s" -> "s/op", "exec.jit_s" -> "s/op",
      "exec.task_wait_s" -> "s/op",
      "exec.core_util" -> "ratio", "exec.shuffle_read_mb" -> "MB/op", "exec.shuffle_write_mb" -> "MB/op",
      "exec.spill_mb" -> "MB/op", "exec.peak_exec_mem_mb" -> "MB",
      "trace.op_self_share" -> "ratio", "trace.op_wall_s" -> "s/op", "trace.spans" -> "count") ++
      Queries.flatMap(q => Seq(s"q.$q.wall_s" -> "s", s"q.$q.count_s" -> "s"))
}

final class FeedWorkload(args: Main.Args) extends Workload(args) {
  import Main._
  private var loop: FeedLoop = _
  private var nextOp = 1
  private val passFeeds = FeedGen.pass(args.seed)
  private val warmFeeds = FeedGen.warmup(args.seed)
  private val runs = mutable.ArrayBuffer.empty[FeedRun]

  private def send(f: Feed, version: Int, config: String): FeedRun = {
    val op = nextOp
    nextOp += 1
    loop.send(f, op, version, config)
  }
  private def send(f: Feed, version: Int): FeedRun = send(f, version, f.configFor(nextOp.toLong, version))

  def prepare(d: Path): Unit = {
    FeedGen.write(d, warmFeeds ++ passFeeds)
    loop = new FeedLoop(spark, d, tracer)
  }

  def teardown(): Unit = { loop.stop(); loop = null }

  /** The small feeds of every kind, then the pass's largest feed of each
    * kind: the measured pass starts with the large-feed paths compiled too.
    */
  def warmup(): Long = {
    val largest = passFeeds.groupBy(_.kind).values.map(_.maxBy(_.rows)).toSeq.sortBy(_.id)
    (warmFeeds ++ largest).foreach(f => send(f, 0))
    System.currentTimeMillis()
  }

  def pass(p: Int): Double = {
    val t0 = System.nanoTime()
    passFeeds.zipWithIndex.foreach { case (f, i) =>
      val config = f.configFor(nextOp.toLong, p)
      // self-test: one feed maps a column its file does not have
      val sent = if (p == 1 && i == 0 && args.inject("missing_column"))
        config.replace("\"cost\"", "\"cost_missing\"") else config
      runs += send(f, p, sent)
    }
    (System.nanoTime() - t0) / 1e9
  }

  def finish(passWalls: Seq[Double]): Seq[(String, Double, String)] = {
    attempted = runs.size
    var bytes = 0L
    // the checks are independent and untimed: run them side by side
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val problems = Await.result(Future.traverse(runs.toSeq.zipWithIndex) { case (r, i) =>
      Future(r.error.orElse(FeedIngest.check(r, tamper = i == 1 && args.inject("tampered_expectation"))))
    }, scala.concurrent.duration.Duration.Inf)
    runs.zip(problems).foreach { case (r, problem) =>
      problem.foreach(m => failures += s"feed op${r.op} (f${r.feed.id}, ${r.feed.kind}, ${r.feed.rows} rows): $m")
      if (r.error.isEmpty) bytes += FeedIngest.outBytes(r.outDir)
    }
    val failedOps = failures.size
    val okRuns = runs.filter(r => r.error.isEmpty)
    val lat = latencies(okRuns.map(_.latencyS).toSeq, runs.size - okRuns.size)
    val rows = okRuns.map(_.feed.rows.toLong).sum
    val wall = passWalls.sum
    inputs("feeds") = passFeeds.map(f =>
      s"""{"id":${f.id},"kind":"${f.kind}","type_ids":${f.typeIds.mkString("[", ",", "]")},""" +
        s""""rows":${f.rows},"dup_ratio":${jnum(f.dupRatio)},"ragged_rows":${f.raggedRows},""" +
        s""""rules":"${f.rules.map { case (t, s, m) => s"$t<-$s${m.fold("")(":" + _)}" }.mkString(" ")}"}""")
      .mkString("[", ",", "]")
    inputs("type_mix") = passFeeds.groupMapReduce(_.kind)(_ => 1)(_ + _)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    inputs("ragged_share") = jnum(passFeeds.map(_.raggedRows).sum.toDouble / passFeeds.map(_.rows).sum)
    inputs("feed_samples") = lat.size.toString
    inputs("feed_latencies_s") = runs.map(r => s"""{"id":${r.feed.id},"s":${jnum(r.latencyS)}}""").mkString("[", ",", "]")

    val p50 = hdQuantile(lat, 0.5)
    val p90 = hdQuantile(lat, 0.9)
    named("feed_latency_p50_s") = (p50, "s")
    named("feed_latency_p90_s") = (p90, "s")
    named("feed_rows_per_s") = (rows / wall, "rows/s")
    if (args.trace) {
      spanLayers(runs.size, Layers.Feed, "feed")
      perLayer("sources.jobs") = counters.jobsByLayer("sources") / math.max(1.0, runs.size)
      perLayer("sinks.bytes_out") = bytes.toDouble / math.max(1, okRuns.size)
      execLayer(runs.size, runs.map(_.latencyS).sum)
    }
    if (failedOps > 0) System.err.println(failures.mkString("[graftbench] failed: ", "\n[graftbench] failed: ", ""))
    Seq(("op_p50_s", p50, "s"), ("op_p90_s", p90, "s"),
      ("pass_s", median(passWalls), "s"),
      ("geomean_s", geomean(okRuns.map(_.latencyS).toSeq), "s"),
      ("rows_per_s", rows / wall, "rows/s"))
  }
}

final class RegistryWorkload(args: Main.Args, names: Seq[String], tables: Seq[String]) extends Workload(args) {
  import Main._
  private val dump = args.work.resolve("dump")
  private var tableRows = Map.empty[String, Long]
  private val inputRows = mutable.Map.empty[String, Long]
  private val runs = mutable.ArrayBuffer.empty[QueryRun]
  private val failedRuns = mutable.Map.empty[String, Int].withDefaultValue(0)
  private var nextOp = 1
  private var warmRuns = Seq.empty[QueryRun]
  private var warmedS = 0.0

  private def failed(q: String, what: String, e: String): Unit = {
    failures += s"$q ($what): $e"
    failedRuns(q) += 1
  }

  private def run(name: String, p: Int)(sink: org.apache.spark.sql.DataFrame => Unit): QueryRun = {
    val op = nextOp
    nextOp += 1
    Registry.runOne(spark, args.corpus, name, p, op, tracer)(sink)
  }

  /** Input preparation for a registry workload: row counts of the corpus
    * tables it reads, which also warm the session's parquet path.
    */
  def prepare(d: Path): Unit =
    tableRows = tables.map(t =>
      t -> spark.read.parquet(s"${args.corpus}/$t.parquet").count()).toMap

  def teardown(): Unit = ()

  /** The checked pass, then [[Main.WarmPasses]] noop passes.
    *
    * The checked pass runs every query once, in the seed's pass-0 order,
    * and keeps its result for the oracle comparison. The repository's
    * DuckDB check (`tools/check_oracle.py`) of those results runs as a
    * child process beside the noop warm passes, which the JIT needs
    * anyway; the measured pass starts only after the check ended.
    */
  def warmup(): Long = {
    Registry.order(names, args.seed, 0).foreach { q =>
      val r = run(q, 0) { df =>
        val files = df.inputFiles.toSeq
        inputRows(q) = tableRows.collect { case (t, n) if files.exists(_.endsWith(s"/$t.parquet")) => n }.sum
        // self-test: the first query's kept result loses one row
        val kept =
          if (args.inject("tampered_result") && q == names.min) df.limit(math.max(0L, df.count() - 1).toInt)
          else df
        kept.write.mode("overwrite").parquet(dump.resolve(q).toString)
      }
      r.error.foreach(failed(q, "checked run", _))
    }
    val oracle = SparkEntry.oracleSql
    Files.writeString(Files.createDirectories(dump).resolve("oracle_sql.json"),
      names.map(q => s"${jstr(q)}:${jstr(oracle(q))}").mkString("{", ",", "}"))
    val t0 = System.nanoTime()
    val check = new ProcessBuilder((args.oracleCheck ++ Seq(dump.toString, args.corpus)): _*)
      .redirectOutput(args.work.resolve("oracle_check.out").toFile)
      .redirectError(args.work.resolve("oracle_check.err").toFile)
      .start()
    val checkEnd = check.onExit().thenApply(_ => System.nanoTime())
    val warmedAt =
      try {
        warmRuns = (1 to WarmPasses).flatMap { w =>
          Registry.order(names, args.seed, -w).map(q => run(q, -w)(noop))
        }
        warmedS = (System.nanoTime() - t0) / 1e9
        val at = System.currentTimeMillis()
        if (!check.waitFor(OracleCheckTimeoutS, java.util.concurrent.TimeUnit.SECONDS))
          System.err.println("[graftbench] oracle check timed out")
        at
      } finally {
        check.destroyForcibly()
        check.waitFor()
      }
    inputs("oracle_check_s") = jnum((checkEnd.get() - t0) / 1e9)
    inputs("oracle_check_exit") = check.exitValue().toString
    warmedAt
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def pass(p: Int): Double = {
    val t0 = System.nanoTime()
    Registry.order(names, args.seed, p).foreach(q => runs += run(q, p)(noop))
    (System.nanoTime() - t0) / 1e9
  }

  def finish(passWalls: Seq[Double]): Seq[(String, Double, String)] = {
    attempted = runs.size + warmRuns.size + names.size + (if (args.trace) names.size else 0)
    (warmRuns ++ runs).foreach(r => r.error.foreach(failed(r.name, s"pass ${r.pass}", _)))
    val ok = runs.filter(_.error.isEmpty)
    val lat = latencies(ok.map(_.wallS).toSeq, runs.size - ok.size)
    val perQuery = names.map(q => q -> median(runs.filter(_.name == q).map(_.wallS).toSeq)).toMap
    val rows = ok.map(r => inputRows.getOrElse(r.name, 0L)).sum
    val wall = passWalls.sum
    // checked pass, warm passes, measured passes
    inputs("query_order") = ((0 +: (-1 to -WarmPasses by -1)) ++ (1 to passWalls.size))
      .map(p => Registry.order(names, args.seed, p).map(jstr).mkString("[", ",", "]")).mkString("[", ",", "]")
    inputs("warm_passes_s") = jnum(warmedS)
    inputs("query_samples") = lat.size.toString
    inputs("query_walls_s") = runs.map(r => s"""{"q":${jstr(r.name)},"pass":${r.pass},"s":${jnum(r.wallS)}}""")
      .mkString("[", ",", "]")
    inputs("input_rows") = inputRows.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")

    val tag = if (names == Registry.Curation) "curation" else "analytics"
    named(s"${tag}_pass_s") = (median(passWalls), "s")
    named(s"${tag}_geomean_s") = (geomean(perQuery.values.toSeq), "s")
    if (args.trace) {
      spanLayers(runs.size, Layers.Query, "query")
      perLayer("queries.construct_jobs") = counters.jobsByLayer("queries.construct") / math.max(1.0, runs.size)
      execLayer(runs.size, runs.map(_.wallS).sum)
      names.foreach(q => perLayer(s"q.$q.wall_s") = perQuery(q))
      // count() beside full evaluation: what the pruned timing would report
      Registry.order(names, args.seed, 999).foreach { q =>
        val r = run(q, -1)(df => df.count(): Unit)
        perLayer(s"q.$q.count_s") = r.wallS
        r.error.foreach(failed(q, "count run", _))
      }
    }
    // executions per query, and how many of them already failed: a wrong
    // result found by the oracle check fails only the others
    val executions = names.map(q => q -> ((runs ++ warmRuns).count(_.name == q) + 1 + (if (args.trace) 1 else 0)))
    inputs("executions") = executions.map { case (q, n) => s"${jstr(q)}:$n" }.mkString("{", ",", "}")
    inputs("failed_executions") = names.map(q => s"${jstr(q)}:${failedRuns(q)}").mkString("{", ",", "}")
    Seq(("op_p50_s", hdQuantile(lat, 0.5), "s"), ("op_p90_s", hdQuantile(lat, 0.9), "s"),
      ("pass_s", median(passWalls), "s"),
      ("geomean_s", geomean(perQuery.values.toSeq), "s"),
      ("rows_per_s", rows / wall, "rows/s"))
  }
}
