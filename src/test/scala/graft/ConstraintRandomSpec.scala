package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{Constraints, Engine, LakeTable}

/** Seeded differential for CHECK-constraint enforcement: random
  * batches against random comparison constraints, mirrored by a
  * driver-side predicate oracle — a batch must land iff NO row
  * violates (NULL passes), a refused batch must land nothing, and the
  * table must equal the accepted-row ledger at every step regardless
  * of which files the stats proof skipped.
  */
class ConstraintRandomSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("op soup: accept/refuse always matches the predicate oracle; " +
      "refusals land nothing") {
    val wh = Files.createTempDirectory("graft-cons-rand").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"v","data_type":"long"},
        |{"column_name":"tag","data_type":"string"}],
        |"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    val rnd = new scala.util.Random(31L)
    // the live constraint set, mirrored driver-side as predicates
    // (NULL passes a CHECK — Option.forall encodes exactly that)
    var preds = Map.empty[String, (Option[Long], Option[Long],
      Option[String]) => Boolean]
    var consN = 0
    var ledger = Vector.empty[(Long, Option[Long], Option[String])]
    def addCons(): Unit = {
      consN += 1
      // bounds derive from the LEDGER so the ADD can attach (clean
      // history) while future poison rows still violate; the
      // tag-not-null case attaches only while no null tag landed —
      // both ADD outcomes are checked against the oracle either way
      val vFloor = math.min(0L,
        ledger.flatMap(_._2).minOption.getOrElse(0L))
      val kCeil = math.max(1000L,
        ledger.map(_._1).maxOption.getOrElse(0L) + 1L)
      val (name, sql, p) = rnd.nextInt(3) match {
        case 0 => (s"c$consN", s"v >= $vFloor",
          (k: Option[Long], v: Option[Long], t: Option[String]) =>
            v.forall(_ >= vFloor))
        case 1 => (s"c$consN", s"k < $kCeil",
          (k: Option[Long], v: Option[Long], t: Option[String]) =>
            k.forall(_ < kCeil))
        case 2 => (s"c$consN", "tag IS NOT NULL",
          (k: Option[Long], v: Option[Long], t: Option[String]) =>
            t.isDefined)
      }
      val live = LakeTable.load(wh, "d", "t")
      // ADD validates existing data: only add when the ledger passes
      if (ledger.forall { case (k, v, t) => p(Some(k), v, t) }) {
        live.addConstraint(spark, name, sql)
        preds += name -> p
      } else {
        val e = intercept[Exception] {
          live.addConstraint(spark, name, sql)
        }
        assert(e.getMessage.contains("existing rows violate"),
          e.getMessage)
      }
    }
    var nextK = 0L
    var accepted = 0; var refused = 0
    for (step <- 0 until 40) {
      if (step == 0 || (rnd.nextInt(5) == 0 && preds.size < 3)) addCons()
      if (rnd.nextInt(6) == 0 && preds.nonEmpty) {
        val name = preds.keys.toSeq(rnd.nextInt(preds.size))
        LakeTable.load(wh, "d", "t").dropConstraint(name)
        preds -= name
      }
      // a random batch, sometimes poisoned
      val rows = (0 until 1 + rnd.nextInt(4)).map { _ =>
        nextK += 1
        val k = if (rnd.nextInt(8) == 0) 1000000L + nextK else nextK
        val v = rnd.nextInt(8) match {
          case 0 => None                         // NULL passes a CHECK
          case 1 => Some(-50L - rnd.nextInt(50)) // poison
          case _ => Some(rnd.nextInt(200).toLong)
        }
        val t = if (rnd.nextInt(7) == 0) None else Some(s"t$nextK")
        (k, v, t)
      }
      val ok = rows.forall { case (k, v, t) =>
        preds.values.forall(p => p(Some(k), v, t)) }
      val df = rows.toDF("k", "v", "tag")
      if (ok) {
        LakeTable.load(wh, "d", "t").append(df)
        ledger ++= rows
        accepted += 1
      } else {
        intercept[Exception] { LakeTable.load(wh, "d", "t").append(df) }
        refused += 1
      }
      val got = LakeTable.load(wh, "d", "t").read(spark).collect()
        .map(r => (r.getLong(0),
          Option(r.get(1)).map(_ => r.getLong(1)),
          Option(r.get(2)).map(_.toString))).toSet
      assert(got == ledger.toSet,
        s"step $step: table diverged from the ledger " +
          s"(accepted=$accepted refused=$refused)")
    }
    assert(accepted >= 5 && refused >= 3,
      s"coverage: accepted=$accepted refused=$refused")
  }

  test("required array column: batches land iff no array is NULL on " +
      "every write route; task-counted files prove without a scan") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val wh = Files.createTempDirectory("graft-cons-rand-arr").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"v","data_type":"long"},
        |{"column_name":"arr","data_type":"array","required":true,
        | "array_def":{"column_name":"element","data_type":"long"}}],
        |"partitions":[]}""".stripMargin)
    LakeTable.load(wh, "d", "t").addConstraint(spark, "v_nonneg", "v >= 0")
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", LongType),
      StructField("arr", ArrayType(LongType, containsNull = false))))
    val rnd = new scala.util.Random(47L)
    type R = (Long, Option[Long], Option[Seq[Long]])
    var ledger = Vector.empty[R]
    var nextK = 0L
    var outcomes = Map.empty[(String, Boolean), Int]
    for (step <- 0 until 36) {
      // from step 24 on the table carries a parquet writer option, which
      // sends every append through FileFormatWriter (no nested counts)
      if (step == 24) LakeTable.load(wh, "d", "t").updateProperties(
        Map("write.option.parquet.page.size" -> "1048576"))
      val rows: Seq[R] = (0 until 1 + rnd.nextInt(5)).map { _ =>
        nextK += 1
        val v = rnd.nextInt(10) match {
          case 0 => None                      // NULL passes a CHECK
          case 1 => Some(-1L - rnd.nextInt(9)) // CHECK poison
          // clean values stay off the bound: the proof is conservative
          // AT it (a file with min(v) = 0 scans)
          case _ => Some(1L + rnd.nextInt(100))
        }
        val arr = rnd.nextInt(8) match {
          case 0 => None                      // required-column poison
          case 1 => Some(Seq.empty)           // empty is not NULL
          case _ => Some(Seq.fill(1 + rnd.nextInt(3))(
            rnd.nextInt(50).toLong))
        }
        (nextK, v, arr)
      }
      val ok = rows.forall { case (_, v, arr) =>
        v.forall(_ >= 0) && arr.isDefined }
      val data: Seq[Row] = rows.map { case (k, v, arr) =>
        Row(k, v.map(Long.box).orNull, arr.orNull) }
      val local = rnd.nextBoolean()
      val route = if (step >= 24) "ffw" else if (local) "local" else "task"
      val df =
        if (local) spark.createDataFrame(
          java.util.Arrays.asList(data: _*), schema)
        else spark.createDataFrame(
          spark.sparkContext.parallelize(data, 2), schema)
      Constraints.lastValidationScan = None
      if (ok) {
        LakeTable.load(wh, "d", "t").append(df)
        ledger ++= rows
        val (scanned, total) = Constraints.lastValidationScan.get
        assert(total > 0, s"step $step ($route)")
        // clean rows keep v >= 0, so the CHECK proves from min/max;
        // only the FileFormatWriter files leave `arr` unproven
        if (route == "ffw") assert(scanned > 0, s"step $step ($route)")
        else assert(scanned == 0, s"step $step ($route): $scanned/$total")
      } else {
        val e = intercept[Exception] { LakeTable.load(wh, "d", "t").append(df) }
        val named = rows.exists(_._3.isEmpty) &&
          e.getMessage.contains("required column 'arr'") ||
          e.getMessage.contains("v_nonneg")
        assert(named, s"step $step ($route): ${e.getMessage}")
      }
      outcomes += (route, ok) -> (outcomes.getOrElse((route, ok), 0) + 1)
      val got = LakeTable.load(wh, "d", "t").read(spark).collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_ => r.getLong(1)),
          Option(r.getSeq[Long](2)).map(_.toSeq))).toSet
      assert(got == ledger.toSet, s"step $step ($route): table diverged " +
        "from the ledger")
    }
    for (route <- Seq("local", "task", "ffw"); ok <- Seq(true, false))
      assert(outcomes.getOrElse((route, ok), 0) > 0,
        s"coverage: $outcomes")
  }
}
