package graft.perfbench

import java.time.LocalDateTime

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.gen.{DataGen, OrdersFixtures}
import graft.lake.{Engine, LakeTable}

/** The benchmark's own model of a table definition. Every field has a
  * model id, so a field dropped and re-added under the same name is a
  * new field (old rows read NULL for it, as the lake's field ids say).
  */
object DefModel {
  sealed trait T
  final case class Prim(name: String) extends T
  final case class Struct(fields: Vector[F]) extends T
  final case class ArrOfStruct(fields: Vector[F]) extends T
  final case class F(id: Int, name: String, t: T, required: Boolean = false)

  final case class Def(fields: Vector[F], partition: String) {
    def json: String = {
      def col(f: F): String = {
        val req = if (f.required) ""","required": true""" else ""
        f.t match {
          case Prim(p) =>
            s"""{"column_name": "${f.name}", "data_type": "$p"$req}"""
          case Struct(fs) =>
            s"""{"column_name": "${f.name}", "data_type": "struct"$req, """ +
              s""""struct_def": [${fs.map(col).mkString(", ")}]}"""
          case ArrOfStruct(fs) =>
            s"""{"column_name": "${f.name}", "data_type": "array"$req, """ +
              """"array_def": {"column_name": "element", "data_type": "struct", """ +
              s""""struct_def": [${fs.map(col).mkString(", ")}]}}"""
        }
      }
      s"""{"database_name": "customer_order", "table_name": "orders", """ +
        s""""columns": [${fields.map(col).mkString(", ")}], """ +
        s""""partitions": [{"column": "order_time", "transform": "$partition"}], """ +
        """"properties": {}}"""
    }
  }

  /** OrdersFixtures v1 and v2 (the reference scenario), as models. */
  val v1 = Def(Vector(
    F(1, "order_time", Prim("timestamp")),
    F(2, "customer_name", Prim("string")),
    F(3, "address", Struct(Vector(F(4, "city", Prim("string")),
      F(5, "state", Prim("string"))))),
    F(6, "order_items", ArrOfStruct(Vector(
      F(7, "item_id", Prim("string"), required = true),
      F(8, "price", Prim("float"), required = true))), required = true)),
    "year")
  val v2 = Def(Vector(
    F(9, "order_id", Prim("string")),
    F(1, "order_time", Prim("timestamp")),
    F(2, "customer_name", Prim("string")),
    F(3, "address", Struct(Vector(F(10, "address_line", Prim("string")),
      F(4, "city", Prim("string")), F(5, "state", Prim("string")),
      F(11, "zip", Prim("string"))))),
    F(6, "order_items", ArrOfStruct(Vector(
      F(7, "item_id", Prim("string")),
      F(12, "item_count", Prim("int"), required = true),
      F(8, "price", Prim("float")))), required = true)),
    "month")

  /** A value as it reads back under field type `t` (the lake widens
    * int→long and float→double on read). */
  def render(v: Any, t: T): String = (v, t) match {
    case (null, _) => "null"
    case (m: Map[_, _], Struct(fs)) =>
      fs.map(f => f.name + "=" +
        render(m.asInstanceOf[Map[Int, Any]].getOrElse(f.id, null), f.t))
        .mkString("{", ",", "}")
    case (s: Seq[_], ArrOfStruct(fs)) =>
      s.map(e => render(e, Struct(fs))).mkString("[", ",", "]")
    case (f: Float, Prim("double")) => f.toDouble.toString
    case (i: Int, Prim("long")) => i.toLong.toString
    case (x, _) => x.toString
  }

  /** A Spark row read back, rendered the same way, walking the model's
    * current definition by name. */
  def renderSpark(v: Any, t: T): String = (v, t) match {
    case (null, _) => "null"
    case (r: Row, Struct(fs)) =>
      fs.map(f => f.name + "=" + renderSpark(r.get(r.fieldIndex(f.name)), f.t))
        .mkString("{", ",", "}")
    case (s: scala.collection.Seq[_], ArrOfStruct(fs)) =>
      s.map(e => renderSpark(e, Struct(fs))).mkString("[", ",", "]")
    case (x, _) => x.toString
  }

  /** Compare two row multisets; None when equal. */
  def sameRows(what: String, got: Seq[String], want: Seq[String]): Option[String] =
    if (got.size != want.size) Some(s"$what: ${got.size} rows, expected ${want.size}")
    else {
      val g = got.sorted; val w = want.sorted
      g.indices.find(i => g(i) != w(i)).map(i =>
        s"$what: row differs: got ${g(i).take(200)} expected ${w(i).take(200)}")
    }
}

/** evolve_ingest: the reference's Lambda loop. Each invoke processes a
  * table definition (unchanged, except at two of every 25 measured
  * operations, which evolve it) and appends 1–20 orders of 1–50 items.
  * Every 5th measured operation reads the whole table back against a
  * running model; one in 25 compacts. Evolutions, reads and compactions
  * sit at fixed positions, and the order and item counts cycle through
  * shuffled fixed sets, so a run's row and file counts hardly depend on
  * the seed; the seed picks the values, the evolutions and the order of
  * the counts.
  */
final class EvolveIngest(spark: SparkSession, wh: String, seed: Long)
    extends Workload {
  import DefModel._

  val warm = 3
  val opsPerSecond = 1.5
  val block = 5
  private val rnd = new scala.util.Random(seed)
  private var df: Def = v1
  private var nextId = 100
  private var evolutions = 0
  // every row appended so far, as a field-id map
  private val model = mutable.ArrayBuffer.empty[Map[Int, Any]]

  def setup(): Unit =
    Trace.span("schema", "ddl") {
      Engine.processTableDefJson(wh, OrdersFixtures.ordersV1Json)
    }

  def plan(n: Int): IndexedSeq[String] = (0 until n).map { i =>
    val j = i - warm
    if (j < 0) "invoke"
    else if (j % 25 == 12) "compact" else if (j % 25 == 3 || j % 25 == 10) "evolve"
    else if (j % 5 == 4) "read" else "invoke"
  }

  /** Draws that cycle through a shuffled fixed set, so every full cycle
    * sums to the same total whatever the seed. */
  private final class Cycle(values: Seq[Int]) {
    private var left = List.empty[Int]
    def next(): Int = {
      if (left.isEmpty) left = rnd.shuffle(values.toList)
      val v = left.head; left = left.tail; v
    }
  }
  // 1–20 orders in steps of 3: a 10 s run's 14 invokes are two cycles
  private val orderCounts = new Cycle(1 to 20 by 3)
  private val itemCounts = new Cycle(1 to 50)

  private def load() = Trace.span("lake", "load") {
    LakeTable.load(wh, "customer_order", "orders")
  }

  def run(i: Int, kind: String): OpOut = kind match {
    case "invoke" | "evolve" =>
      if (kind == "evolve") evolve()
      val json = evolutions match {
        case 0 => OrdersFixtures.ordersV1Json
        case 1 => OrdersFixtures.ordersV2Json
        case _ => df.json
      }
      val resp = Trace.span("schema", "ddl") { Engine.processTableDefJson(wh, json) }
      if (resp.hasError)
        return OpOut(write = true, 0, () => Some(resp.messageList.mkString("; ")))
      val t = load()
      val rows = (1 to orderCounts.next()).map(_ => genOrder())
      val frame = DataGen.toDf(spark,
        rows.map(r => toRow(r, t.currentSchema)), t.currentSchema)
      Trace.span("lake", "append") { t.append(frame) }
      model ++= rows
      OpOut(write = true, rows.size)
    case "read" =>
      val got = Trace.span("lake", "read") { load().read(spark).collect() }
      val d = df
      val want = model.toList
      OpOut(write = false, got.length, () => sameRows("read-back",
        got.toSeq.map(r => renderSpark(r, Struct(d.fields))),
        want.map(m => render(m, Struct(d.fields)))))
    case "compact" =>
      val t = load()
      Trace.span("lake", "compact") { t.compact(spark) }
      OpOut(write = true, 0)
  }

  /** One seeded, legal evolution of the model; the first is v1 → v2,
    * which also moves the partition transform from year to month. The
    * seeded ones leave the partitioning alone: another transform changes
    * the files per append, and so the run's cost, with the seed. */
  private def evolve(): Unit = {
    evolutions += 1
    if (evolutions == 1) { df = v2; return }
    def fresh(name: String, t: T) = { nextId += 1; F(nextId, s"${name}_$nextId", t) }
    val top = df.fields
    val addr = top.find(_.name == "address").get
    val items = top.find(_.name == "order_items").get
    val Struct(addrFs) = addr.t
    val ArrOfStruct(itemFs) = items.t
    def withTop(fs: Vector[F]) = df.copy(fields = fs)
    def replace(f: F) = top.map(x => if (x.id == f.id) f else x)
    val extraTop = top.filter(_.id > 100)
    val extraAddr = addrFs.filter(_.id > 100)
    val widenable = (top.map(f => (None: Option[F], f)) ++
      itemFs.map(f => (Some(items), f))).filter {
      case (_, F(_, _, Prim("int" | "float"), _)) => true
      case _ => false
    }
    rnd.nextInt(7) match {
      case 1 if extraTop.nonEmpty =>
        val victim = extraTop(rnd.nextInt(extraTop.size))
        df = withTop(top.filterNot(_.id == victim.id))
      case 2 => df = withTop(replace(addr.copy(t = Struct(addrFs :+ fresh("a", Prim("string"))))))
      case 3 if extraAddr.nonEmpty =>
        val victim = extraAddr(rnd.nextInt(extraAddr.size))
        df = withTop(replace(addr.copy(t = Struct(addrFs.filterNot(_.id == victim.id)))))
      case 4 => df = withTop(replace(items.copy(
        t = ArrOfStruct(itemFs :+ fresh("e", Prim(if (rnd.nextBoolean()) "int" else "float"))))))
      case 5 if widenable.nonEmpty =>
        val (parent, f) = widenable(rnd.nextInt(widenable.size))
        val wide = f.copy(t = Prim(if (f.t == Prim("int")) "long" else "double"))
        df = parent match {
          case None => withTop(replace(wide))
          case Some(p) => withTop(replace(p.copy(t = ArrOfStruct(
            itemFs.map(x => if (x.id == f.id) wide else x)))))
        }
      case 6 =>
        val from = rnd.nextInt(top.size)
        val moved = top(from)
        val rest = top.patch(from, Nil, 1)
        df = withTop(rest.patch(rnd.nextInt(rest.size + 1), Seq(moved), 0))
      case _ => df = withTop(top :+ fresh("c", Prim(if (rnd.nextBoolean()) "int" else "string")))
    }
  }

  // ---- data, as field-id maps --------------------------------------------
  private def value(t: T): Any = t match {
    case Prim("timestamp") => LocalDateTime.of(2020 + rnd.nextInt(6),
      1 + rnd.nextInt(12), 1 + rnd.nextInt(28), 1, 1, 1)
    case Prim("string") => s"v_${1 + rnd.nextInt(100)}"
    case Prim("int") => 1 + rnd.nextInt(5)
    case Prim("long") => 1L + rnd.nextInt(1000)
    case Prim("float") => math.round((10.0 + rnd.nextDouble() * 10.0) * 100.0).toFloat / 100.0f
    case Prim("double") => math.round((10.0 + rnd.nextDouble() * 10.0) * 100.0) / 100.0
    case Struct(fs) => fs.map(f => f.id -> value(f.t)).toMap
    case ArrOfStruct(fs) => (1 to itemCounts.next()).map(_ => value(Struct(fs)))
    case Prim(p) => throw new IllegalStateException(s"no generator for $p")
  }
  private def genOrder(): Map[Int, Any] =
    df.fields.map(f => f.id -> value(f.t)).toMap

  /** A model row as a Spark Row in the table's current schema order. */
  private def toRow(m: Map[Int, Any], schema: StructType): Row = {
    def conv(v: Any, t: T, dt: DataType): Any = (v, t, dt) match {
      case (null, _, _) => null
      case (mm: Map[_, _], Struct(fs), st: StructType) =>
        structRow(mm.asInstanceOf[Map[Int, Any]], fs, st)
      case (s: Seq[_], ArrOfStruct(fs), ArrayType(st: StructType, _)) =>
        s.map(e => structRow(e.asInstanceOf[Map[Int, Any]], fs, st))
      case (x, _, _) => x
    }
    def structRow(mm: Map[Int, Any], fs: Vector[F], st: StructType): Row =
      Row.fromSeq(st.fields.toSeq.map { sf =>
        fs.find(_.name == sf.name) match {
          case Some(f) => conv(mm.getOrElse(f.id, null), f.t, sf.dataType)
          case None => null
        }
      })
    structRow(m, df.fields, schema)
  }

  def end(): Map[String, Any] =
    LakeStats(wh, "customer_order", "orders", model.size.toLong) ++
      Map("evolutions" -> evolutions)
}
