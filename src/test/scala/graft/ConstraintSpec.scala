package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{ColStats, Constraints, Engine, FileStats, LakeTable,
  RangeFilter}
import graft.schema.FieldIds

/** CHECK constraints ([[graft.lake.Constraints]]): declared via
  * `ALTER TABLE … ADD CONSTRAINT name CHECK (expr)`, enforced on every
  * commit that adds data files, stats-first (footer min/max/null-count
  * proofs skip the read), refusing BY NAME with nothing landed.
  */
class ConstraintSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def vsql(q: String) =
    org.apache.spark.sql.GraftViewSubstitution.sql(spark, q)

  private def msgs(x: Throwable): String = Iterator.iterate(x)(_.getCause)
    .takeWhile(_ != null)
    .map(c => Option(c.getMessage).getOrElse("")).mkString(" ")

  private def setup(tag: String): String = {
    val wh = Files.createTempDirectory(s"graft-cons-$tag").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"amt","data_type":"long"},
        |{"column_name":"tag","data_type":"string"}],
        |"partitions":[]}""".stripMargin)
    wh
  }

  test("ADD CONSTRAINT validates existing data; commits refuse " +
      "violating rows by name with nothing landed; DROP lifts it") {
    val wh = setup("basic")
    import SparkTestSession.spark.implicits._
    val t = LakeTable.load(wh, "d", "t")
    t.append(Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "amt", "tag"))
    spark.conf.set("spark.sql.catalog.gcons", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gcons.warehouse", wh)
    vsql("ALTER TABLE gcons.d.t ADD CONSTRAINT amt_pos CHECK (amt > 0)")
      .collect()
    assert(LakeTable.load(wh, "d", "t").constraints ==
      Map("amt_pos" -> "amt > 0"))
    // a clean append passes
    vsql("INSERT INTO gcons.d.t VALUES (3, 30, 'c')").collect()
    // a violating append refuses BY NAME and lands NOTHING (the good
    // row in the same batch must not survive)
    val e = intercept[Exception] {
      vsql("INSERT INTO gcons.d.t VALUES (4, 40, 'd'), (5, -5, 'e')")
        .collect()
    }
    assert(msgs(e).contains("amt_pos"), msgs(e))
    assert(LakeTable.load(wh, "d", "t").read(spark).count() == 3L,
      "the refused batch must land nothing")
    // NULL passes a CHECK (SQL semantics)
    vsql("INSERT INTO gcons.d.t VALUES (6, NULL, 'f')").collect()
    assert(LakeTable.load(wh, "d", "t").read(spark).count() == 4L)
    // a CoW UPDATE that would break the constraint refuses too
    val e2 = intercept[Exception] {
      vsql("UPDATE gcons.d.t SET amt = -1 WHERE k = 1").collect()
    }
    assert(msgs(e2).contains("amt_pos"), msgs(e2))
    assert(LakeTable.load(wh, "d", "t").read(spark)
      .filter(col("k") === 1L).head().getLong(1) == 10L)
    // ADD over violating existing data refuses
    val e3 = intercept[Exception] {
      vsql("ALTER TABLE gcons.d.t ADD CONSTRAINT big CHECK (amt >= 15)")
        .collect()
    }
    assert(msgs(e3).contains("existing rows violate"), msgs(e3))
    // DROP lifts enforcement
    vsql("ALTER TABLE gcons.d.t DROP CONSTRAINT amt_pos").collect()
    vsql("INSERT INTO gcons.d.t VALUES (7, -7, 'g')").collect()
    assert(LakeTable.load(wh, "d", "t").constraints.isEmpty)
    // DROP of a missing name refuses unless IF EXISTS
    intercept[Exception] {
      vsql("ALTER TABLE gcons.d.t DROP CONSTRAINT nope").collect()
    }
    vsql("ALTER TABLE gcons.d.t DROP CONSTRAINT IF EXISTS nope")
      .collect()
  }

  test("stats-first: files proven clean by footer min/max skip the " +
      "validation read; only boundary-straddling files scan") {
    val wh = setup("stats")
    import SparkTestSession.spark.implicits._
    val t = LakeTable.load(wh, "d", "t")
    t.addConstraint(spark, "amt_pos", "amt > 0 AND tag IS NOT NULL")
    locally {
      // 4 single-file appends, all clean, min(amt) comfortably > 0:
      // every file must be PROVEN — zero validation scans
      for (b <- 1 to 4)
        LakeTable.load(wh, "d", "t").append(
          (0 until 50).map(i => (b * 100L + i, b * 10L + i, s"t$i"))
            .toDF("k", "amt", "tag").coalesce(1))
      val (scanned, total) = Constraints.lastValidationScan.get
      assert(total > 0 && scanned == 0,
        s"clean far-from-boundary files must prove via stats: " +
          s"$scanned/$total")
    }
    // an unprovable expression shape (arithmetic) always scans — and
    // still enforces correctly
    val t2 = LakeTable.load(wh, "d", "t")
    t2.addConstraint(spark, "sum_ok", "k + amt > 0")
    locally {
      LakeTable.load(wh, "d", "t").append(
        Seq((1000L, 1L, "x")).toDF("k", "amt", "tag").coalesce(1))
      val (scanned2, _) = Constraints.lastValidationScan.get
      assert(scanned2 >= 1, "unprovable shape must scan")
      val e = intercept[Exception] {
        LakeTable.load(wh, "d", "t").append(
          Seq((-10L, 5L, "x")).toDF("k", "amt", "tag").coalesce(1))
      }
      assert(e.getMessage.contains("sum_ok"), e.getMessage)
    }
  }

  test("required (non-nullable) columns enforce as implicit IS NOT " +
      "NULL on every write — the Iceberg required-field contract") {
    val wh = Files.createTempDirectory("graft-cons-req").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"k","data_type":"long","required":true},
        |{"column_name":"v","data_type":"long"}],
        |"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    // clean writes pass (and prove via null-count stats — no read)
    LakeTable.load(wh, "d", "t").append(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1))
    val (scanned, total) = Constraints.lastValidationScan.get
    assert(total > 0 && scanned == 0,
      s"null-count stats must prove the clean file: $scanned/$total")
    // a NULL in the required column refuses by name, nothing lands
    val df = Seq((Option.empty[Long], 3L), (Some(4L), 4L))
      .toDF("k", "v")
    val e = intercept[Exception] {
      LakeTable.load(wh, "d", "t").append(df)
    }
    assert(e.getMessage.contains("required column 'k'"), e.getMessage)
    assert(LakeTable.load(wh, "d", "t").read(spark).count() == 2L,
      "the refused batch must land nothing")
    // NULLs in the OPTIONAL column stay fine
    LakeTable.load(wh, "d", "t").append(
      Seq((5L, Option.empty[Long])).toDF("k", "v"))
    assert(LakeTable.load(wh, "d", "t").read(spark).count() == 3L)
  }

  test("constraints bind names: dropping a referenced column refuses; " +
      "add over staged WAP snapshots refuses; bad shapes refuse") {
    val wh = setup("guards")
    import SparkTestSession.spark.implicits._
    val t = LakeTable.load(wh, "d", "t")
    t.append(Seq((1L, 10L, "a")).toDF("k", "amt", "tag"))
    t.addConstraint(spark, "amt_pos", "amt > 0")
    // dropping the referenced column refuses by name
    val e = intercept[Exception] {
      LakeTable.load(wh, "d", "t").evolve(graft.schema.TableDef.parse(
        """{"database_name":"d","table_name":"t","columns":[
          |{"column_name":"k","data_type":"long"},
          |{"column_name":"tag","data_type":"string"}],
          |"partitions":[]}""".stripMargin).toOption.get)
    }
    assert(e.getMessage.contains("amt_pos"), e.getMessage)
    // unknown column / unparseable expression refuse at ADD
    intercept[Exception] {
      LakeTable.load(wh, "d", "t").addConstraint(spark, "bad", "zzz > 0")
    }
    intercept[Exception] {
      LakeTable.load(wh, "d", "t").addConstraint(spark, "bad", "amt >")
    }
    // duplicate name refuses
    intercept[Exception] {
      LakeTable.load(wh, "d", "t").addConstraint(spark, "amt_pos",
        "amt > 1")
    }
  }

  test("float/double boundaries: stats proofs widen by ulps — a " +
      "decimal literal the engine evaluates in binary cannot prove a " +
      "boundary file clean; far-from-boundary files still prove") {
    val wh = Files.createTempDirectory("graft-cons-fp").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"f","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"dv","data_type":"double"},
        |{"column_name":"fv","data_type":"float"}],
        |"partitions":[]}""".stripMargin)
    import SparkTestSession.spark.implicits._
    // CHECK (dv < 0.30000000000000001): the literal casts to double
    // 0.3 at evaluation, so a row dv = 0.3d VIOLATES (0.3 < 0.3 is
    // false) — but its footer stats render as exactly "0.3", which an
    // unwidened exact-decimal bound (violation: dv >= 0.300…01) would
    // prove 'clean' and land the bad row
    val t = LakeTable.load(wh, "d", "f")
    t.addConstraint(spark, "dv_lt", "dv < 0.30000000000000001")
    val e = intercept[Exception] {
      LakeTable.load(wh, "d", "f").append(
        Seq((1L, 0.3d, 0.0f)).toDF("k", "dv", "fv").coalesce(1))
    }
    assert(msgs(e).contains("dv_lt"), msgs(e))
    assert(LakeTable.load(wh, "d", "f").read(spark).count() == 0L)
    // same miss on the float side: fv = 0.3f is binary ~0.300000012,
    // which violates fv < 0.30000001 — stats "0.3" must not prove it
    val t2 = LakeTable.load(wh, "d", "f")
    t2.addConstraint(spark, "fv_lt", "fv < 0.30000001")
    val e2 = intercept[Exception] {
      LakeTable.load(wh, "d", "f").append(
        Seq((2L, 0.1d, 0.3f)).toDF("k", "dv", "fv").coalesce(1))
    }
    assert(msgs(e2).contains("fv_lt"), msgs(e2))
    // far from the boundary the 2-ulp widening is invisible: a clean
    // file still proves via stats (zero validation scans)
    LakeTable.load(wh, "d", "f").append(
      Seq((3L, 0.1d, 0.1f)).toDF("k", "dv", "fv").coalesce(1))
    val (scanned, total) = Constraints.lastValidationScan.get
    assert(total > 0 && scanned == 0,
      s"far-from-boundary floats must still prove via stats: " +
        s"$scanned/$total")
    assert(LakeTable.load(wh, "d", "f").read(spark).count() == 1L)
  }

  // ---- required struct / array / map columns ----------------------------

  /** d.n: optional `k` plus a REQUIRED top-level array, struct and map —
    * the shapes whose footers carry no null count. */
  private def nestedTable(tag: String,
      props: Map[String, String] = Map.empty): String = {
    val wh = Files.createTempDirectory(s"graft-cons-nested-$tag").toString
    val r = Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"n","columns":[
        |{"column_name":"k","data_type":"long"},
        |{"column_name":"arr","data_type":"array","required":true,
        | "array_def":{"column_name":"element","data_type":"long"}},
        |{"column_name":"st","data_type":"struct","required":true,
        | "struct_def":[{"column_name":"a","data_type":"long"}]},
        |{"column_name":"m","data_type":"map","required":true,
        | "map_def":{"key":{"column_name":"key","data_type":"string"},
        |   "value":{"column_name":"value","data_type":"long"}}}],
        |"partitions":[]}""".stripMargin)
    assert(!r.hasError, r.messageList)
    if (props.nonEmpty) LakeTable.load(wh, "d", "n").updateProperties(props)
    wh
  }

  private val nestedCols = Seq("arr", "st", "m")

  /** `n` rows keyed from `from` over two input partitions (a scan-shaped
    * plan: the direct task-writer route); the first is NULL in
    * `nullIn`. */
  private def nestedRows(from: Long, n: Int,
      nullIn: Option[String] = None): DataFrame = {
    def cell(c: String, v: Column): Column =
      if (nullIn.contains(c)) when(col("id") === from, lit(null)).otherwise(v)
      else v
    spark.range(from, from + n, 1, 2).select(col("id").as("k"),
      cell("arr", array(col("id"))).as("arr"),
      cell("st", struct(col("id").as("a"))).as("st"),
      cell("m", map(lit("x"), col("id"))).as("m"))
  }

  /** The same rows as a LocalRelation: the driver-local writer route. */
  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collectAsList(), df.schema)

  private def lastAdded(wh: String) =
    LakeTable.load(wh, "d", "n").metadata.snapshots.last.files

  test("required nested columns: clean direct and local appends prove " +
      "from writer null counts with zero validation scans") {
    val wh = nestedTable("prove")
    LakeTable.load(wh, "d", "n").append(nestedRows(0, 40))
    val direct = lastAdded(wh)
    assert(direct.size == 2 && direct.forall(_.rows > 0),
      "two input partitions write two files")
    assert(Constraints.lastValidationScan ==
      Some((0, direct.size * nestedCols.size)),
      Constraints.lastValidationScan)
    val schema = LakeTable.load(wh, "d", "n").currentSchema
    for (f <- direct; c <- nestedCols)
      assert(f.stats(FieldIds.idOf(schema(c))) ==
        ColStats("nested", "", "", 0L), s"$c in ${f.path}")
    LakeTable.load(wh, "d", "n").append(local(nestedRows(100, 5)))
    assert(lastAdded(wh).size == 1)
    assert(Constraints.lastValidationScan == Some((0, nestedCols.size)),
      Constraints.lastValidationScan)
    assert(LakeTable.load(wh, "d", "n").read(spark).count() == 45L)
  }

  test("required nested columns: a NULL refuses by name on every write " +
      "route and lands nothing") {
    val wh = nestedTable("refuse")
    LakeTable.load(wh, "d", "n").append(nestedRows(0, 10))
    for (c <- nestedCols;
         (route, frame) <- Seq(
           "direct" -> nestedRows(100, 10, Some(c)),
           "local" -> local(nestedRows(200, 10, Some(c))))) {
      val e = intercept[Exception] {
        LakeTable.load(wh, "d", "n").append(frame)
      }
      assert(msgs(e).contains(s"required column '$c'"), s"$route: ${msgs(e)}")
      assert(LakeTable.load(wh, "d", "n").read(spark).count() == 10L,
        s"$route: the refused batch must land nothing")
    }
    // the SQL INSERT route: a NULL never reaches the commit — Spark's
    // own check on the connector's non-nullable column refuses it by
    // name first
    spark.conf.set("spark.sql.catalog.gconsn", "graft.sources.LakeCatalog")
    spark.conf.set("spark.sql.catalog.gconsn.warehouse", wh)
    vsql("INSERT INTO gconsn.d.n VALUES " +
      "(500, array(5), named_struct('a', 5), map('x', 5))").collect()
    val e = intercept[Exception] {
      vsql("INSERT INTO gconsn.d.n VALUES " +
        "(501, array(6), named_struct('a', 6), map('x', 6)), " +
        "(502, NULL, named_struct('a', 7), map('x', 7))").collect()
    }
    assert(msgs(e).contains("NOT_NULL_ASSERT_VIOLATION") &&
      msgs(e).contains("arr"), msgs(e))
    assert(LakeTable.load(wh, "d", "n").read(spark).count() == 11L)
  }

  test("FileFormatWriter writes (write.option.*) carry no nested null " +
      "count: a clean append still scans, a NULL still refuses") {
    val wh = nestedTable("ffw",
      Map("write.option.parquet.block.size" -> "134217728"))
    LakeTable.load(wh, "d", "n").append(nestedRows(0, 20))
    val files = lastAdded(wh)
    val schema = LakeTable.load(wh, "d", "n").currentSchema
    assert(files.forall(f =>
      nestedCols.forall(c => !f.stats.contains(FieldIds.idOf(schema(c))))))
    val (scanned, total) = Constraints.lastValidationScan.get
    assert(total == files.size * nestedCols.size &&
      scanned == files.count(_.rows > 0) * nestedCols.size,
      s"unproven files must scan: $scanned/$total")
    val e = intercept[Exception] {
      LakeTable.load(wh, "d", "n").append(nestedRows(100, 20, Some("st")))
    }
    assert(msgs(e).contains("required column 'st'"), msgs(e))
    assert(LakeTable.load(wh, "d", "n").read(spark).count() == 20L)
  }

  test("the task writer counts nested NULLs per file: partial counts " +
      "as 'nested', all-NULL as 'none', flat tables record nothing") {
    val wh = nestedTable("writer")
    val schema = LakeTable.load(wh, "d", "n").currentSchema
    def writeOne(df: DataFrame, statsSchema: StructType) = {
      val dir = Files.createTempDirectory("graft-cons-writer").toString
      val w = new graft.sources.LakeParquetDataWriter(dir, df.schema,
        Seq.empty, "t", statsSchema = statsSchema)
      df.queryExecution.toRdd.map(_.copy()).collect().foreach(w.write)
      val msg = w.commit().asInstanceOf[graft.sources.LakeFilesBloomCommit]
      assert(msg.fileStats.size == 1)
      msg.fileStats.head._2
    }
    val mixed = nestedRows(0, 6).select(col("k"),
      when(col("k") < 2, lit(null)).otherwise(col("arr")).as("arr"),
      lit(null).cast(schema("st").dataType).as("st"), col("m"))
    val (rows, stats, _) = writeOne(mixed, schema)
    assert(rows == 6L)
    def id(c: String) = FieldIds.idOf(schema(c))
    assert(stats(id("arr")) == ColStats("nested", "", "", 2L))
    assert(stats(id("st")) == ColStats("none", "", "", 6L))
    assert(stats(id("m")) == ColStats("nested", "", "", 0L))
    // all-NULL prunes IS NOT NULL; the zero-null column proves clean
    assert(!FileStats.mightMatch(stats, schema,
      Seq(RangeFilter("st", notNull = true))))
    assert(!FileStats.mightMatch(stats, schema,
      Seq(RangeFilter("m", isNull = true))))
    assert(FileStats.mightMatch(stats, schema,
      Seq(RangeFilter("arr", isNull = true))))
    // a flat table (its required column is a long) gets no entries
    val flat = StructType(Seq(FieldIds.withId(
      StructField("k", LongType, nullable = false), 1)))
    val (_, flatStats, _) = writeOne(
      spark.range(0, 3, 1, 1).select(col("id").as("k")), flat)
    assert(flatStats.values.forall(_.kind == "num"), flatStats)
    // the driver footer read behind the stats fallback has no nested
    // entry — such a file stays unproven and takes the violation scan
    LakeTable.load(wh, "d", "n").append(nestedRows(0, 4))
    val footer = FileStats.fromFooterWithRows(
      lastAdded(wh).head.path, schema)._2
    assert(nestedCols.forall(c => !footer.contains(id(c))), footer)
    assert(FileStats.mightMatch(footer, schema,
      Seq(RangeFilter("arr", isNull = true))))
  }

  test("orders lifecycle v1 -> v2: every append proves with zero scans " +
      "and launches only its write jobs") {
    import graft.gen.OrdersFixtures.{ordersV1Json, ordersV2Json}
    // the twin declares order_items optional: no validation at all, so
    // its appends launch exactly the write jobs
    def optional(json: String) = json.replace(
      "\"data_type\": \"array\", \"required\": true", "\"data_type\": \"array\"")
    assert(optional(ordersV1Json) != ordersV1Json)
    val wh = Files.createTempDirectory("graft-cons-orders").toString
    val twin = Files.createTempDirectory("graft-cons-orders-twin").toString
    def value(dt: DataType, i: Int): Any = dt match {
      case StringType => s"s$i"
      case IntegerType => 1 + i % 5
      case FloatType => (i % 97).toFloat
      case TimestampNTZType =>
        java.time.LocalDateTime.of(2020 + i % 4, 1 + i % 12, 1, 0, 0)
      case st: StructType =>
        Row.fromSeq(st.fields.toSeq.map(f => value(f.dataType, i)))
      case ArrayType(et, _) => (0 until 1 + i % 3).map(j => value(et, i + j))
      case other => fail(s"no generator for $other")
    }
    def orders(schema: StructType, from: Int, n: Int,
        nullItems: Boolean = false): DataFrame = {
      val clean = graft.lake.Reconcile.clean(schema).asInstanceOf[StructType]
      val rows = (from until from + n).map { i =>
        Row.fromSeq(clean.fields.toSeq.map(f =>
          if (nullItems && f.name == "order_items" && i == from) null
          else value(f.dataType, i)))
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
        StructType(clean.fields.map(_.copy(nullable = true))))
    }
    var appended = 0
    for ((json, batches) <- Seq(ordersV1Json -> Seq(3, 7, 12),
        ordersV2Json -> Seq(1, 9, 20))) {
      assert(!Engine.processTableDefJson(wh, json).hasError)
      assert(!Engine.processTableDefJson(twin, optional(json)).hasError)
      for (n <- batches) {
        val t = LakeTable.load(wh, "customer_order", "orders")
        val frame = orders(t.currentSchema, appended, n)
        val jobs = JobCounter(spark) { t.append(frame) }
        val added = LakeTable.load(wh, "customer_order", "orders")
          .metadata.snapshots.last.files
        assert(Constraints.lastValidationScan == Some((0, added.size)),
          s"batch of $n: ${Constraints.lastValidationScan}")
        val tw = LakeTable.load(twin, "customer_order", "orders")
        val twinJobs = JobCounter(spark) {
          tw.append(orders(tw.currentSchema, appended, n))
        }
        assert(jobs == twinJobs,
          s"batch of $n: $jobs jobs vs $twinJobs without the constraint")
        appended += n
      }
    }
    val t = LakeTable.load(wh, "customer_order", "orders")
    val e = intercept[Exception] {
      t.append(orders(t.currentSchema, appended, 4, nullItems = true))
    }
    assert(msgs(e).contains("required column 'order_items'"), msgs(e))
    assert(LakeTable.load(wh, "customer_order", "orders").read(spark)
      .count() == appended.toLong)
  }
}
