package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.lake.{Engine, LakeTable}

/** upsert_refresh: seeded CDC batches beside reads. Merge-on-read
  * upserts of 1–2k rows skewed toward recent keys, key deletes, an
  * incremental refresh of an aggregate materialized view, MV reads and
  * base-table aggregates, with periodic compaction. The base table is
  * checked against the benchmark's own model of every key, and the MV
  * against a full recompute of that model as of its last refresh.
  */
final class UpsertRefresh(spark: SparkSession, wh: String, seed: Long)
    extends Workload {
  val warm = 4
  val opsPerSecond = 1.0
  val block = 10
  private val rnd = new scala.util.Random(seed)
  private val InitialKeys = 40000
  private val Groups = 16
  private val Regions = 8

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("grp", StringType),
    StructField("amt", DecimalType(18, 4)), StructField("ver", LongType),
    StructField("region", StringType)))
  // key → (grp, amt in 1/10000ths)
  private val model = mutable.HashMap.empty[Long, (String, Long)]
  private var mvState: Map[String, (Long, Long)] = Map.empty
  private var maxKey = 0L

  private def region(k: Long) = s"r${k % Regions}"
  private def rowOf(k: Long, ver: Long): (Row, (String, Long)) = {
    val grp = s"g${rnd.nextInt(Groups)}"
    val amt = 100000L + rnd.nextInt(9000000)
    (Row(k, grp, java.math.BigDecimal.valueOf(amt, 4), ver, region(k)), (grp, amt))
  }
  private def table() = Trace.span("lake", "load") { LakeTable.load(wh, "cdc", "accounts") }
  private def frame(rows: Seq[Row]) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  def setup(): Unit = {
    val r = Engine.processTableDefJson(wh,
      """{"database_name": "cdc", "table_name": "accounts", "columns": [
        |{"column_name": "k", "data_type": "long"},
        |{"column_name": "grp", "data_type": "string"},
        |{"column_name": "amt", "data_type": "decimal(18,4)"},
        |{"column_name": "ver", "data_type": "long"},
        |{"column_name": "region", "data_type": "string"}],
        |"partitions": [{"column": "region", "transform": "identity"}],
        |"properties": {}}""".stripMargin)
    require(!r.hasError, r.messageList.mkString("; "))
    table().append(frame((0 until InitialKeys).map { k =>
      val (row, m) = rowOf(k.toLong, 0L); model(k.toLong) = m; row
    }))
    maxKey = InitialKeys - 1
    spark.sql("CALL lk.system.create_mat_view('cdc', 'agg', " +
      "'SELECT grp, count(*) AS n, sum(amt) AS s FROM lk.cdc.accounts GROUP BY grp')")
      .collect()
    mvState = aggregate()
  }

  /** Blocks of 10 in a fixed order: 4 merges, a delete, 2 refreshes, an
    * MV read, a base aggregate and the periodic compaction. The seed
    * chooses every batch's keys and values. The warm-up is two merges, a
    * refresh and an MV read. */
  def plan(n: Int): IndexedSeq[String] = {
    val kinds = Vector("merge", "refresh", "mv_read", "merge", "compact", "merge",
      "delete", "refresh", "base_agg", "merge")
    Vector("merge", "refresh", "mv_read", "merge") ++
      Iterator.continually(kinds).flatten.take(n - warm).toIndexedSeq
  }

  /** A key from the most recent tenth of the key space. */
  private def recentKey(): Long = maxKey - rnd.nextInt(InitialKeys / 10)

  def run(i: Int, kind: String): OpOut = kind match {
    case "merge" =>
      val size = 1000 + rnd.nextInt(1001)
      val keys = mutable.LinkedHashSet.empty[Long]
      while (keys.size < size)
        keys += (if (rnd.nextInt(5) == 0) { maxKey += 1; maxKey } else recentKey())
      val rows = keys.toSeq.map { k => val (row, m) = rowOf(k, i.toLong); (k, row, m) }
      val src = frame(rows.map(_._2))
      val t = table()
      Trace.span("lake", "merge") { t.mergeMoR(spark, src, Seq("k")) }
      rows.foreach { case (k, _, m) => model(k) = m }
      OpOut(write = true, rows.size)
    case "delete" =>
      val keys = Seq.fill(50 + rnd.nextInt(151))(recentKey()).distinct
      val t = table()
      Trace.span("lake", "delete") {
        t.deleteMoR(spark, col("k").isin(keys.map(Long.box): _*))
      }
      keys.foreach(model.remove)
      OpOut(write = true, keys.size)
    case "refresh" =>
      Trace.span("sources", "mv_refresh") {
        spark.sql("CALL lk.system.refresh_mat_view('cdc', 'agg', 'incremental')").collect()
      }
      mvState = aggregate()
      OpOut(write = true, 1)
    case "mv_read" =>
      val got = Trace.span("sources", "sql") {
        spark.sql("SELECT grp, n, CAST(s AS STRING) FROM lk.cdc.agg").collect()
      }
      val want = mvState
      OpOut(write = false, got.length, () => check("mv", got, want))
    case "base_agg" =>
      val got = Trace.span("sources", "sql") {
        spark.sql("SELECT grp, count(*), CAST(sum(amt) AS STRING) " +
          "FROM lk.cdc.accounts GROUP BY grp").collect()
      }
      val want = aggregate()
      OpOut(write = false, got.length, () => check("base", got, want))
    case "compact" =>
      val t = table()
      Trace.span("lake", "compact") { t.compact(spark) }
      OpOut(write = true, 0)
  }

  /** group → (rows, sum of amt in 1/10000ths), over the model. */
  private def aggregate(): Map[String, (Long, Long)] =
    model.values.groupBy(_._1).map { case (g, vs) =>
      g -> (vs.size.toLong, vs.iterator.map(_._2).sum) }

  private def check(what: String, got: Array[Row],
      want: Map[String, (Long, Long)]): Option[String] =
    DefModel.sameRows(what,
      got.toSeq.map(r => s"${r.getString(0)},${r.getLong(1)},${r.getString(2)}"),
      want.toSeq.map { case (g, (n, s)) =>
        s"$g,$n,${java.math.BigDecimal.valueOf(s, 4).toPlainString}" })

  def end(): Map[String, Any] = LakeStats(wh, "cdc", "accounts", model.size.toLong)
}
