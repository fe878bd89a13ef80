package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

import graft.lake.{Engine, LakeTable}

/** lake_scan: read-only SQL through the `lk` LakeCatalog catalog over
  * lineitem, orders and customer, loaded in set-up as partitioned lake
  * tables built over several commits with a few merge-on-read deletes.
  * Each query instance is checked against the same SQL over the raw
  * parquet (with the same rows removed), computed once in set-up.
  */
final class LakeScan(spark: SparkSession, wh: String, data: String, seed: Long)
    extends Workload {
  val warm = 6
  val opsPerSecond = 4.8
  val block = 6
  private val rnd = new scala.util.Random(seed)
  private val LineitemCommits = 3
  private val TravelCommits = 2
  private val LineitemDeleted = "l_orderkey % 97 = 3"
  private val OrdersDeleted = "o_orderkey % 89 = 7"

  private def raw(name: String): DataFrame =
    spark.read.parquet(s"$data/$name.parquet")

  private def create(json: String): Unit = {
    val r = Engine.processTableDefJson(wh, json)
    require(!r.hasError, r.messageList.mkString("; "))
  }
  private def tableJson(name: String, cols: Seq[(String, String)],
      partition: String): String =
    s"""{"database_name": "tpch", "table_name": "$name", "columns": [""" +
      cols.map { case (c, t) => s"""{"column_name": "$c", "data_type": "$t"}""" }
        .mkString(", ") + s"""], "partitions": [$partition], "properties": {}}"""

  private var travelSnapshot = 0L
  private var commits = 0
  private var pool: IndexedSeq[(String, String, Seq[String])] = IndexedSeq.empty
  private var liveRows = 0L

  def setup(): Unit = {
    create(tableJson("lineitem", Seq("l_orderkey" -> "long", "l_partkey" -> "long",
      "l_suppkey" -> "long", "l_linenumber" -> "int", "l_quantity" -> "double",
      "l_extendedprice" -> "double", "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "timestamp"),
      """{"column": "l_shipdate", "transform": "year"}"""))
    create(tableJson("orders", Seq("o_orderkey" -> "long", "o_custkey" -> "long",
      "o_orderstatus" -> "string", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp", "o_orderpriority" -> "string"),
      """{"column": "o_orderdate", "transform": "year"}"""))
    create(tableJson("customer", Seq("c_custkey" -> "long", "c_name" -> "string",
      "c_nationkey" -> "int", "c_acctbal" -> "double", "c_mktsegment" -> "string"),
      """{"column": "c_mktsegment", "transform": "identity"}"""))
    def load(t: String) = LakeTable.load(wh, "tpch", t)
    for (k <- 0 until LineitemCommits) {
      load("lineitem").append(raw("lineitem").filter(expr(s"l_orderkey % $LineitemCommits = $k")))
      commits += 1
      if (k == TravelCommits - 1) travelSnapshot = load("lineitem").metadata.snapshots.last.id
    }
    load("orders").append(raw("orders"))
    load("customer").append(raw("customer"))
    load("lineitem").deleteMoR(spark, expr(LineitemDeleted))
    commits += 1
    load("orders").deleteMoR(spark, expr(OrdersDeleted))

    raw("lineitem").filter(s"NOT ($LineitemDeleted)").createOrReplaceTempView("raw_lineitem")
    raw("lineitem").filter(s"l_orderkey % $LineitemCommits < $TravelCommits")
      .createOrReplaceTempView("raw_lineitem_travel")
    raw("orders").filter(s"NOT ($OrdersDeleted)").createOrReplaceTempView("raw_orders")
    raw("customer").createOrReplaceTempView("raw_customer")
    liveRows = Seq("raw_lineitem", "raw_orders", "raw_customer")
      .map(v => spark.table(v).count()).sum

    // the query pool: a seeded instance of each template, and the
    // expected answer of each, from the raw parquet
    val maxOrder = raw("orders").agg(expr("max(o_orderkey)")).head.getLong(0)
    def ts(y: Int, m: Int) = f"TIMESTAMP_NTZ '$y%04d-$m%02d-01 00:00:00'"
    def dec(c: String) = s"CAST(sum(CAST($c AS DECIMAL(18,4))) AS STRING)"
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val templates: Seq[(String, () => String)] = Seq(
      "point" -> (() =>
        "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_shipdate " +
          s"FROM {L} WHERE l_orderkey = ${rnd.nextInt(maxOrder.toInt + 1)}"),
      "range" -> { () =>
        val y = 1995 + rnd.nextInt(6); val m = 1 + 3 * rnd.nextInt(4)
        s"SELECT l_returnflag, count(*) AS n, ${dec("l_quantity")} AS q FROM {L} " +
          s"WHERE l_shipdate >= ${ts(y, m)} AND l_shipdate < ${ts(if (m == 10) y + 1 else y, if (m == 10) 1 else m + 3)} " +
          "GROUP BY l_returnflag"
      },
      "q1" -> (() =>
        "SELECT l_returnflag, l_linestatus, count(*) AS n, " +
          s"${dec("l_quantity")} AS sq, ${dec("l_extendedprice")} AS sp, " +
          "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * " +
          "(1 - CAST(l_discount AS DECIMAL(18,4)))) AS STRING) AS sd " +
          s"FROM {L} WHERE l_shipdate <= ${ts(1998 + rnd.nextInt(3), 1 + rnd.nextInt(12))} " +
          "GROUP BY l_returnflag, l_linestatus"),
      "join3" -> { () =>
        val y = 1995 + rnd.nextInt(6)
        "SELECT o.o_orderpriority, count(*) AS n, " +
          "CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS STRING) AS rev " +
          "FROM {C} c JOIN {O} o ON c.c_custkey = o.o_custkey " +
          "JOIN {L} l ON l.l_orderkey = o.o_orderkey " +
          s"WHERE c.c_mktsegment = '${segments(rnd.nextInt(segments.size))}' " +
          s"AND o.o_orderdate >= ${ts(y, 1)} AND o.o_orderdate < ${ts(y + 1, 1)} " +
          "GROUP BY o.o_orderpriority"
      },
      "travel" -> (() =>
        s"SELECT count(*) AS n, ${dec("l_quantity")} AS q FROM {T} " +
          s"WHERE l_returnflag = '${Seq("A", "N", "R")(rnd.nextInt(3))}'"))
    val lake = Map("{L}" -> "lk.tpch.lineitem", "{O}" -> "lk.tpch.orders",
      "{C}" -> "lk.tpch.customer", "{T}" -> s"lk.tpch.lineitem VERSION AS OF $travelSnapshot")
    val rawNames = Map("{L}" -> "raw_lineitem", "{O}" -> "raw_orders",
      "{C}" -> "raw_customer", "{T}" -> "raw_lineitem_travel")
    def bind(q: String, m: Map[String, String]) =
      m.foldLeft(q) { case (s, (k, v)) => s.replace(k, v) }
    pool = templates.map { case (name, gen) =>
      val q = gen()
      (name, bind(q, lake), rows(spark.sql(bind(q, rawNames)).collect()))
    }.toIndexedSeq :+ ("snapshots", "SELECT count(*) AS n FROM lk.tpch.lineitem.snapshots",
      Seq(s"[$commits]"))
  }

  private def rows(rs: Array[org.apache.spark.sql.Row]): Seq[String] =
    rs.toSeq.map(_.toString)

  def plan(n: Int): IndexedSeq[String] =
    Iterator.continually(rnd.shuffle(pool.indices.toVector)).flatten
      .take(n).map(i => s"${pool(i)._1}#$i").toIndexedSeq

  def run(i: Int, kind: String): OpOut = {
    val (name, sql, want) = pool(kind.split('#')(1).toInt)
    val got = Trace.span("sources", "sql") { spark.sql(sql).collect() }
    OpOut(write = false, got.length,
      () => DefModel.sameRows(name, rows(got), want))
  }

  def end(): Map[String, Any] = {
    val per = Seq("lineitem", "orders", "customer").map(t => LakeStats(wh, "tpch", t, 0L))
    def sum(k: String) = per.map(_(k).asInstanceOf[Number].longValue).sum
    Map("table" -> "tpch.*", "live_rows" -> liveRows,
      "live_files_by_table" -> per.map(m => m("table") -> m("live_files")).toMap) ++
      Seq("warehouse_bytes", "disk_files", "live_files", "live_delete_files",
        "snapshots", "metadata_bytes").map(k => k -> sum(k))
  }
}
