package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** curation: a seeded order over analytic and LLM-curation `q_*` keys on
  * raw parquet. Each key's first result is saved (after the clock stops)
  * for perfbench/run.py, which compares it with the DuckDB oracle
  * (`SparkEntry.oracleSql`) — the only check that needs another engine.
  */
final class Curation(spark: SparkSession, data: String, work: Path, seed: Long)
    extends Workload {
  val warm = Curation.Keys.size
  val opsPerSecond = 2.4
  val block = Curation.Keys.size
  private val rnd = new scala.util.Random(seed)
  private val saved = mutable.Set.empty[String]

  def setup(): Unit = {
    val missing = Curation.Keys.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown query keys: ${missing.mkString(",")}")
    val oracle = Curation.Keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap
    Files.writeString(work.resolve("oracle_sql.json"), Json(oracle))
    // first warm-up: every key once (code generation), a few keys at a
    // time, as graft.Verify runs them; the second is one seeded pass
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, Runtime.getRuntime.availableProcessors()))
    try Curation.Keys.map(k => pool.submit(new Runnable {
      def run(): Unit = SparkEntry.queries(k)(spark, data).collect()
    })).foreach(_.get())
    finally pool.shutdown()
  }

  def plan(n: Int): IndexedSeq[String] =
    Iterator.continually(rnd.shuffle(Curation.Keys)).flatten.take(n).toIndexedSeq

  def run(i: Int, kind: String): OpOut = {
    val df = Trace.span("queries", "build") { SparkEntry.queries(kind)(spark, data) }
    val rows = Trace.span("queries", "exec") { df.collect() }
    OpOut(write = false, rows.length, () => {
      if (saved.add(kind))
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.parquet(work.resolve("results").resolve(kind).toString)
      None
    })
  }

  def end(): Map[String, Any] = {
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    val bytes = tables.map(t => Files.size(java.nio.file.Paths.get(s"$data/$t.parquet"))).sum
    val rows = tables.map(t => graft.queries.Tables.rowCount(data, t)).sum
    Map("table" -> "raw parquet", "warehouse_bytes" -> bytes, "live_rows" -> rows,
      "disk_files" -> tables.size)
  }
}

object Curation {
  /** Analytic keys (the q_ratio family minus Bench.LifecycleQKeys) that
    * finish in well under a second at the benchmark's scale: relational
    * shapes plus the dedup, similarity and text kernels of
    * graft.functions. */
  val Keys: Vector[String] = Vector(
    "q_pricing_summary", "q_join_inner", "q_dedup_minhash", "q_dedup_simhash",
    "q_text_stats", "q_text_vocab", "q_sim_topk", "q_sim_ann_lsh")
}
