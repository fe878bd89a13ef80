package graft.perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The harness's result checks, fed correct and corrupted results
  * (no Spark session: the checks compare rendered rows). Run with
  * `sbt test` in perfbench/. */
class ChecksSpec extends AnyFunSuite {
  import DefModel._

  private val addr = Struct(Vector(F(4, "city", Prim("string")), F(11, "zip", Prim("string"))))
  private val items = ArrOfStruct(Vector(F(7, "item_id", Prim("string")),
    F(8, "price", Prim("double"))))
  private val fields = Vector(F(1, "order_time", Prim("timestamp")),
    F(12, "qty", Prim("long")), F(3, "address", addr), F(6, "order_items", items))
  private val ts = LocalDateTime.of(2021, 3, 4, 1, 1, 1)
  // written before qty widened int→long, price float→double and zip was added
  private val modelRow: Map[Int, Any] = Map(1 -> ts, 12 -> 3, 3 -> Map(4 -> "c1"),
    6 -> Seq(Map(7 -> "item_1", 8 -> 12.34f)))

  private def sparkRow(qty: Any, city: String, price: Double): Row = {
    val itemT = StructType(Seq(StructField("item_id", StringType),
      StructField("price", DoubleType)))
    val addrT = StructType(Seq(StructField("city", StringType),
      StructField("zip", StringType)))
    val t = StructType(Seq(StructField("order_time", TimestampNTZType),
      StructField("qty", LongType), StructField("address", addrT),
      StructField("order_items", ArrayType(itemT))))
    new GenericRowWithSchema(Array(ts, qty,
      new GenericRowWithSchema(Array(city, null), addrT),
      Seq(new GenericRowWithSchema(Array("item_1", price), itemT))), t)
  }

  private def check(got: Row) = sameRows("read-back",
    Seq(renderSpark(got, Struct(fields))), Seq(render(modelRow, Struct(fields))))

  test("a read-back under an evolved schema matches the model") {
    assert(check(sparkRow(3L, "c1", 12.34f.toDouble)).isEmpty)
  }

  test("a corrupted read-back is caught") {
    assert(check(sparkRow(4L, "c1", 12.34f.toDouble)).nonEmpty, "changed value")
    assert(check(sparkRow(3L, "c2", 12.34f.toDouble)).nonEmpty, "changed nested value")
    assert(check(sparkRow(3L, "c1", 12.34)).nonEmpty, "float widened the wrong way")
  }

  test("missing, extra and duplicated rows are caught") {
    assert(sameRows("t", Seq("a", "b"), Seq("b", "a")).isEmpty)
    assert(sameRows("t", Seq("a"), Seq("a", "b")).nonEmpty)
    assert(sameRows("t", Seq("a", "a"), Seq("a", "b")).nonEmpty)
  }

  test("a table definition round-trips through the engine's parser") {
    val td = graft.schema.TableDef.parse(v2.json)
    assert(td.isRight, td)
    val expected = graft.schema.TableDef.parse(graft.gen.OrdersFixtures.ordersV2Json)
    assert(graft.schema.TypeMapper.toStructType(td.toOption.get.columns) ==
      graft.schema.TypeMapper.toStructType(expected.toOption.get.columns))
  }
}
