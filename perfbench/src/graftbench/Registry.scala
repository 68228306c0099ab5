package graftbench

import graft.SparkEntry
import graft.operators.Caches
import org.apache.spark.sql.SparkSession

import java.util.SplittableRandom

/** One execution of a registry query. `wallS` covers construction (the
  * builder, with any eager jobs it runs), full evaluation and the release
  * of operator caches; a failed run keeps the time it took to fail.
  */
final case class QueryRun(name: String, pass: Int, op: Int, wallS: Double, error: Option[String])

/** Registry workloads: named `SparkEntry.queries` builders over a read-only
  * corpus, fully evaluated one at a time through the `noop` sink.
  */
object Registry {
  val Curation: Seq[String] = Seq("q_lang_id", "q_pii_redact", "q_text_clean", "q_quality_score",
    "q_dedup_exact", "q_dedup_minhash_banded", "q_substr_dedup", "q_quality_dup_rate",
    "q_curation_pipeline_v2")

  val Star: Seq[String] = Seq("q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q_window_topn", "q_rollup", "q_asof_join", "q_events_sessionize", "q_basket_pairs",
    "q_cohort_ltv", "q_supplier_agg", "q_dedupe_rules", "q_multisource_merge")

  val CurationTables: Seq[String] = Seq("documents")
  val StarTables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events")

  /** Query order of one pass: a seeded permutation per pass. */
  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] = {
    val r = new SplittableRandom(seed * 31L + pass)
    val a = names.toArray
    for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq
  }

  private def err(e: Throwable): Option[String] = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")

  /** Run one query to completion through `sink`, timing the whole op and
    * (when traced) its construction and execution as child spans.
    */
  def runOne(spark: SparkSession, corpus: String, name: String, pass: Int, op: Int, tracer: Tracer)
            (sink: org.apache.spark.sql.DataFrame => Unit): QueryRun = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val children = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    def child[T](layer: String)(body: => T): T = {
      val a = System.nanoTime()
      try tracer.tagged(sc, layer)(body) finally children += ((layer, a, System.nanoTime()))
    }
    val error =
      try {
        val df = child("queries.construct")(SparkEntry.queries(name)(spark, corpus))
        child("queries.exec")(sink(df))
        None
      } catch { case e: Throwable => err(e) }
      finally Caches.release()
    val t1 = System.nanoTime()
    if (tracer.enabled) {
      val rootId = tracer.record("query", op, -1, t0, t1)
      children.foreach { case (n, a, b) => tracer.record(n, op, rootId, a, b) }
    }
    QueryRun(name, pass, op, (t1 - t0) / 1e9, error)
  }
}
