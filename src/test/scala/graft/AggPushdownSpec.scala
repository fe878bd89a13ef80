package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Engine, LakeTable}

/** Metadata-only aggregate pushdown through the DSv2 connector:
  * COUNT(*) / MIN / MAX with no filters or grouping are answered from
  * per-file footer stats recorded at commit — zero data IO.
  */
class AggPushdownSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def mkTable(tag: String): (String, LakeTable) = {
    val wh = Files.createTempDirectory(s"graft-agg-$tag").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"ts","data_type":"timestamp"},
        |{"column_name":"v","data_type":"string"}],"partitions":[]}""".stripMargin)
    (wh, LakeTable.load(wh, "d", "t"))
  }

  private def lakeReader(wh: String) =
    spark.read.format("graft-lake")
      .option("warehouse", wh).option("database", "d").option("table", "t")
      .load()

  private def t(s: String) = java.time.LocalDateTime.parse(s)

  test("min/max/count answered with ZERO data IO (files removed on disk)") {
    import spark.implicits._
    val (wh, tb) = mkTable("zeroio")
    tb.append(Seq((5L, t("2024-01-01T10:00:00"), "a"),
      (9L, t("2024-03-01T10:00:00"), "b")).toDF("id", "ts", "v"))
    tb.append(Seq((2L, t("2023-12-25T08:30:00"), "c")).toDF("id", "ts", "v"))
    // delete every data file: a metadata-only answer cannot notice
    tb.plannedFiles().foreach(f => Files.delete(Paths.get(f.path)))
    val got = lakeReader(wh)
      .agg(min("id").as("mn"), max("id").as("mx"),
        count(lit(1)).as("n"), min("ts").as("mnts"))
      .collect()(0)
    assert(got.getLong(0) == 2L)
    assert(got.getLong(1) == 9L)
    assert(got.getLong(2) == 3L)
    assert(got.getAs[java.time.LocalDateTime](3) == t("2023-12-25T08:30:00"))
  }

  test("live MoR deletes disable min/max pushdown but keep answers right") {
    import spark.implicits._
    val (wh, tb) = mkTable("mor")
    tb.append(Seq((1L, t("2024-01-01T00:00:00"), "a"),
      (2L, t("2024-01-02T00:00:00"), "b"),
      (9L, t("2024-01-03T00:00:00"), "c")).toDF("id", "ts", "v"))
    tb.deleteMoR(spark, col("id") === 9L) // the max row dies
    val got = lakeReader(wh).agg(min("id"), max("id"), count(lit(1))).collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) == ((1L, 2L, 2L)))
  }

  test("filters keep the scan on the data path") {
    import spark.implicits._
    val (wh, tb) = mkTable("filt")
    tb.append(Seq((1L, t("2024-01-01T00:00:00"), "a"),
      (5L, t("2024-01-02T00:00:00"), "b")).toDF("id", "ts", "v"))
    val got = lakeReader(wh).filter(col("v") === "a")
      .agg(max("id")).collect()(0)
    assert(got.getLong(0) == 1L)
  }

  test("int->long promotion still answers min/max from old-file stats") {
    val wh = Files.createTempDirectory("graft-agg-promo").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"int"}],"partitions":[]}""".stripMargin)
    val tb = LakeTable.load(wh, "d", "t")
    import spark.implicits._
    tb.append(Seq(7, 3).toDF("id"))
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"}],"partitions":[]}""".stripMargin)
    val tb2 = LakeTable.load(wh, "d", "t")
    tb2.append(Seq(100L).toDF("id"))
    val got = lakeReader(wh).agg(min("id"), max("id")).collect()(0)
    assert((got.getLong(0), got.getLong(1)) == ((3L, 100L)))
  }

  test("decimal min/max uses re-scaled footer stats") {
    val wh = Files.createTempDirectory("graft-agg-dec").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("d",
        org.apache.spark.sql.types.DecimalType(10, 2))))
    val cols = schema.fields.toSeq.map(f =>
      graft.schema.TypeMapper.toColumnDef(f.name, f.dataType, f.nullable))
    val (tb, _) = LakeTable.create(wh,
      graft.schema.TableDef("d", "t", cols, Seq.empty, Map.empty))
    tb.append(spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row(BigDecimal("12.34").bigDecimal),
      org.apache.spark.sql.Row(BigDecimal("-5.67").bigDecimal)), schema))
    val got = lakeReader(wh).agg(min("d"), max("d")).collect()(0)
    assert(got.getDecimal(0).toString == "-5.67")
    assert(got.getDecimal(1).toString == "12.34")
  }

  test("min/max pushdown ignores 'nested' stats of a required struct") {
    val wh = Files.createTempDirectory("graft-agg-nested").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"st","data_type":"struct","required":true,
        | "struct_def":[{"column_name":"a","data_type":"long"}]}],
        |"partitions":[]}""".stripMargin)
    LakeTable.load(wh, "d", "t").append(spark.range(3, 9, 1, 2)
      .select(col("id"), struct((col("id") * -1).as("a")).as("st")))
    val tb = LakeTable.load(wh, "d", "t")
    val stId = graft.schema.FieldIds.idOf(tb.currentSchema("st"))
    assert(tb.plannedFiles().forall(_.stats(stId).kind == "nested"))
    // a struct min/max has no metadata answer: it scans and is right
    val got = lakeReader(wh).agg(min("st"), max("st"), max("id"))
      .collect()(0)
    assert(got.getStruct(0).getLong(0) == -8L)
    assert(got.getStruct(1).getLong(0) == -3L)
    assert(got.getLong(2) == 8L)
    // the flat column still answers from stats with zero data IO
    tb.plannedFiles().foreach(f => Files.delete(Paths.get(f.path)))
    val flat = lakeReader(wh).agg(min("id"), max("id")).collect()(0)
    assert((flat.getLong(0), flat.getLong(1)) == ((3L, 8L)))
  }
}
