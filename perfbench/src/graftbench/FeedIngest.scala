package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.config.InputConfig
import graft.operators.{Aggregator, Metrics}
import graft.sinks.ProduceSink
import graft.sources.{CsvSource, ExcelSource}
import graft.streaming.ConfigConsumer
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{CompletableFuture, TimeUnit}
import scala.jdk.CollectionConverters._

/** Outcome of one feed sent through the consumer loop. */
final case class FeedRun(feed: Feed, op: Int, version: Int, latencyS: Double,
                         error: Option[String], outDir: Path)

/** The reference's blocking consumer loop with one client: each config
  * message is moved into the [[ConfigConsumer]] source directory only after
  * the previous feed's `onStats` or `onError` has fired. Every hook here
  * (resolver, sink, stats and error callbacks) belongs to the benchmark;
  * graft sees only the files and the messages.
  */
final class FeedLoop(spark: SparkSession, root: Path, tracer: Tracer) {
  private val sc = spark.sparkContext
  private val messages = Files.createDirectories(root.resolve("messages"))
  private val staging = Files.createDirectories(root.resolve("staging"))
  private val outRoot = Files.createDirectories(root.resolve("out"))

  /** Boundary timestamps of the feed in flight (one at a time). */
  private final class Op(val id: Int) {
    val visibleNs: Long = System.nanoTime()
    val reads = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var sinkNs: (Long, Long) = (0L, 0L)
    val done = new CompletableFuture[(Long, Option[String])]()
  }
  @volatile private var current: Op = _

  private val resolver = new Aggregator.SourceResolver {
    def read(s: SparkSession, typeId: Int, source: String, range: Option[String]): DataFrame = {
      val t0 = System.nanoTime()
      try tracer.tagged(sc, "sources") {
        val path = root.resolve(source).toString
        typeId match {
          case 2 | 7 => CsvSource.read(s, path)
          case 4 | 6 => ExcelSource.toTable(ExcelSource.readXlsxGrid(s, path), range)
          case t     => throw new IllegalArgumentException(s"no benchmark resolver for type $t")
        }
      } finally current.reads += ((t0, System.nanoTime()))
    }
  }

  private def sink(cfg: InputConfig, feed: DataFrame): Unit = {
    val t0 = System.nanoTime()
    try tracer.tagged(sc, "sinks")(ProduceSink.writeJsonl(feed, "upc", outRoot.resolve(s"op${cfg.supplierId}").toString))
    finally current.sinkNs = (t0, System.nanoTime())
  }

  private val SupplierId = "\"supplier_id\"\\s*:\\s*(\\d+)".r.unanchored

  private val query = ConfigConsumer.start(spark, messages.toString, root.resolve("checkpoint").toString,
    resolver, sink,
    onError = (msg, e) => {
      val t = System.nanoTime()
      val op = current
      if (op != null && (msg match { case SupplierId(id) => id.toInt == op.id; case _ => true }))
        op.done.complete((t, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")))
    },
    onStats = (cfg, _: Metrics.RunStats) => {
      val t = System.nanoTime()
      val op = current
      if (op != null && cfg.supplierId == op.id) op.done.complete((t, None))
    })

  /** Send one feed's config message and block until its stats or error. */
  def send(feed: Feed, op: Int, version: Int, config: String): FeedRun = {
    val staged = staging.resolve(s"op$op.json")
    Files.writeString(staged, config + "\n")
    val o = new Op(op)
    current = o
    Files.move(staged, messages.resolve(s"op$op.json"), StandardCopyOption.ATOMIC_MOVE)
    val visible = System.nanoTime()
    val (end, err) =
      try o.done.get(120, TimeUnit.SECONDS)
      catch { case _: java.util.concurrent.TimeoutException => (System.nanoTime(), Some("timed out after 120 s")) }
    current = null
    if (tracer.enabled) {
      val root = tracer.record("feed", op, -1, visible, end)
      val firstRead = o.reads.headOption.map(_._1).getOrElse(end)
      tracer.record("streaming.dispatch", op, root, visible, firstRead)
      o.reads.foreach { case (a, b) => tracer.record("sources.read", op, root, a, b) }
      if (o.sinkNs._2 > 0) {
        tracer.record("operators.build", op, root, o.reads.last._2, o.sinkNs._1)
        tracer.record("sinks.write", op, root, o.sinkNs._1, o.sinkNs._2)
        tracer.record("streaming.stats_wait", op, root, o.sinkNs._2, end)
      }
    }
    FeedRun(feed, op, version, (end - visible) / 1e9, err, outRoot.resolve(s"op$op"))
  }

  def stop(): Unit = {
    query.stop()
    query.awaitTermination(30000)
  }
}

object FeedIngest {
  private val mapper = new ObjectMapper()

  /** Produced rows of one feed, keyed by upc, as plain values. */
  def produced(dir: Path): Map[String, Map[String, Any]] = {
    val parts = Files.list(dir).iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq
    parts.flatMap(p => Files.readAllLines(p).asScala).filter(_.nonEmpty).map { line =>
      val n = mapper.readTree(line)
      val m = n.properties().asScala.map { e =>
        val v = e.getValue
        e.getKey -> (if (v.isIntegralNumber) v.longValue: Any
                     else if (v.isNumber) v.doubleValue: Any
                     else v.asText: Any)
      }.toMap
      m("upc").toString -> m
    }.toMap
  }

  def outBytes(dir: Path): Long =
    Files.list(dir).iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
      .map(Files.size(_)).sum

  /** Compare one feed's output with its expectation; a description of the
    * first difference, or None when they agree.
    */
  def check(run: FeedRun, tamper: Boolean): Option[String] = {
    val exp0 = FeedGen.expected(run.feed, run.op.toLong, run.version)
    val exp =
      if (!tamper || exp0.isEmpty) exp0
      else {
        val (k, row) = exp0.minBy(_._1)
        exp0.updated(k, row.updated("version", run.version.toLong + 1))
      }
    val got = produced(run.outDir)
    if (got.size != exp.size) Some(s"${got.size} rows produced, ${exp.size} expected")
    else exp.collectFirst {
      case (k, row) if !got.get(k).contains(row) => s"upc $k: got ${got.get(k).orNull}, expected $row"
    }
  }
}
