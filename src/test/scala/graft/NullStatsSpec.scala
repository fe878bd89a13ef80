package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{ColStats, Engine, FileStats, LakeTable, RangeFilter}

/** Null-count file statistics and the prunes they unlock (Iceberg's
  * null_value_counts): `IS NULL` skips files with zero nulls,
  * `IS NOT NULL` and every value predicate skip all-null files
  * (kind "none"), and the schema-absence prune skips files written
  * BEFORE a column was added (they read as all-NULL for it). Also pins
  * the `startsWith` → lexical-range conversion and metadata
  * round-trip/backward compatibility of the `nulls` field.
  */
class NullStatsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def mk(tag: String): (String, LakeTable) = {
    val wh = Files.createTempDirectory(s"graft-nullstats-$tag").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"v","data_type":"string"}],
        |"partitions":[]}""".stripMargin)
    (wh, LakeTable.load(wh, "d", "t"))
  }

  private def dfOf(rows: Seq[(java.lang.Long, String)]) = {
    import spark.implicits._
    rows.toDF("id", "v").coalesce(1)
  }

  test("footer extraction: null counts and all-null 'none' kind") {
    val (wh, t) = mk("footer")
    t.append(dfOf(Seq((1L, "a"), (2L, null), (3L, null))))
    t.append(dfOf(Seq((4L, null), (5L, null))))
    val t2 = LakeTable.load(wh, "d", "t")
    val files = t2.plannedFiles().sortBy(_.path)
    assert(files.size == 2)
    val byMin = files.sortBy(_.stats(1).min.toLong) // field id 1 = id
    val f1 = byMin.head; val f2 = byMin.last
    assert(f1.stats(1).nulls == 0) // id: no nulls
    assert(f1.stats(2).nulls == 2) // v: two of three null
    assert(f1.stats(2).kind == "str")
    // second file: v entirely null -> "none" entry, no min/max
    assert(f2.stats(2).kind == "none")
    assert(f2.stats(2).nulls == 2)
  }

  test("IS NULL prunes zero-null files; IS NOT NULL prunes all-null files") {
    val (wh, t) = mk("prune")
    t.append(dfOf(Seq((1L, "a"), (2L, "b")))) // v fully populated
    t.append(dfOf(Seq((3L, null), (4L, null)))) // v all null
    val t2 = LakeTable.load(wh, "d", "t")
    val isNull = Seq(RangeFilter("v", isNull = true))
    val notNull = Seq(RangeFilter("v", notNull = true))
    assert(t2.plannedFiles(statsFilters = isNull).size == 1)
    assert(t2.plannedFiles(statsFilters = notNull).size == 1)
    assert(t2.plannedFiles(statsFilters = isNull).head.path !=
      t2.plannedFiles(statsFilters = notNull).head.path)
    // a value predicate also skips the all-null file
    val eq = Seq(RangeFilter("v", loStr = Some("a"), hiStr = Some("a")))
    assert(t2.plannedFiles(statsFilters = eq).size == 1)
    // results stay correct through the full read
    assert(t2.read(spark, statsFilters = isNull).count() == 2)
    assert(t2.read(spark, statsFilters = notNull)
      .filter("v is not null").count() == 2)
  }

  test("schema-absence prune: files predating an added column skip IS NOT NULL") {
    val wh = Files.createTempDirectory("graft-nullstats-absence").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"}],"partitions":[]}""".stripMargin)
    locally {
      import spark.implicits._
      LakeTable.load(wh, "d", "t").append(Seq(1L, 2L).toDF("id").coalesce(1))
    }
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"w","data_type":"string"}],"partitions":[]}""".stripMargin)
    locally {
      import spark.implicits._
      LakeTable.load(wh, "d", "t")
        .append(Seq((3L, "x"), (4L, "y")).toDF("id", "w").coalesce(1))
    }
    val t2 = LakeTable.load(wh, "d", "t")
    assert(t2.plannedFiles().size == 2)
    val planned = t2.plannedFiles(
      statsFilters = Seq(RangeFilter("w", notNull = true)))
    assert(planned.size == 1, "pre-evolution file must be skipped")
    // and an equality predicate on the added column prunes the same way
    assert(t2.plannedFiles(statsFilters =
      Seq(RangeFilter("w", loStr = Some("x"), hiStr = Some("x")))).size == 1)
    // IS NULL keeps the old file (its rows ARE null for w)
    assert(t2.plannedFiles(statsFilters =
      Seq(RangeFilter("w", isNull = true))).size >= 1)
    assert(t2.read(spark).filter("w is not null").count() == 2)
  }

  test("pushed IS NOT NULL / IS NULL / startsWith reach the connector plan") {
    import org.apache.spark.sql.sources._
    import graft.sources.LakeSource.filterToRanges
    assert(filterToRanges(IsNull("c")).contains(RangeFilter("c", isNull = true)))
    assert(filterToRanges(IsNotNull("c"))
      .contains(RangeFilter("c", notNull = true)))
    val sw = filterToRanges(StringStartsWith("c", "ab")).get
    assert(sw.loStr.contains("ab") && sw.hiStr.contains("ac"))
    // un-incrementable tail chars drop before incrementing
    val swMax = filterToRanges(
      StringStartsWith("c", "a" + Char.MaxValue)).get
    assert(swMax.loStr.contains("a" + Char.MaxValue) &&
      swMax.hiStr.contains("b"))
    // a prefix of ONLY Char.MaxValue has no finite upper bound
    assert(filterToRanges(StringStartsWith("c", Char.MaxValue.toString))
      .get.hiStr.isEmpty)
    assert(filterToRanges(EqualNullSafe("c", null))
      .contains(RangeFilter("c", isNull = true)))
  }

  test("startsWith range actually prunes files by string min/max") {
    val (wh, t) = mk("sw")
    t.append(dfOf(Seq((1L, "apple"), (2L, "apricot"))))
    t.append(dfOf(Seq((3L, "melon"), (4L, "mango"))))
    val t2 = LakeTable.load(wh, "d", "t")
    import org.apache.spark.sql.sources.StringStartsWith
    val rf = graft.sources.LakeSource
      .filterToRanges(StringStartsWith("v", "ap")).get
    val planned = t2.plannedFiles(statsFilters = Seq(rf))
    assert(planned.size == 1)
    assert(planned.head.stats(2).min == "apple")
  }

  test("nulls field round-trips through metadata; absent field reads as -1") {
    val (wh, t) = mk("roundtrip")
    t.append(dfOf(Seq((1L, "a"), (2L, null))))
    val re = LakeTable.load(wh, "d", "t")
    val st = re.plannedFiles().head.stats
    assert(st(1).nulls == 0 && st(2).nulls == 1)
    // pre-upgrade metadata (no "nulls" key) parses to unknown (-1):
    // strip the field from the JSON codec's input directly
    import graft.schema.Json._
    val enc = graft.lake.ManifestIO // touch: ensure object linked
    val legacy = parse(
      """{"path":"/x.parquet","schema-id":0,"spec-id":0,"rows":2,
        |"partition":{},"stats":{"1":{"kind":"num","min":"1","max":"2"}}}"""
        .stripMargin)
    val dfm = graft.lake.MetadataIO.dataFileFromJson(legacy)
    assert(dfm.stats(1).nulls == -1L)
    assert(enc != null)
  }

  test("unknown null accounting (-1) never prunes") {
    val cs = Map(1 -> ColStats("num", "1", "5", nulls = -1L))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      graft.schema.FieldIds.withId(
        org.apache.spark.sql.types.StructField("c",
          org.apache.spark.sql.types.LongType), 1)))
    assert(FileStats.mightMatch(cs, schema, Seq(RangeFilter("c", isNull = true))))
    assert(FileStats.mightMatch(cs, schema, Seq(RangeFilter("c", notNull = true))))
  }

  test("manifest summary merges 'none' with valued kinds and sums nulls") {
    import graft.lake.{DataFileMeta, ManifestIO}
    val a = DataFileMeta("/a", 0, 0, 3, Map.empty,
      Map(2 -> ColStats("str", "a", "c", nulls = 1)))
    val b = DataFileMeta("/b", 0, 0, 2, Map.empty,
      Map(2 -> ColStats("none", "", "", nulls = 2)))
    val merged = ManifestIO.summarizeStats(Seq(a, b))
    assert(merged(2) == ColStats("str", "a", "c", nulls = 3))
    // all files all-null -> summary stays "none"
    val c = DataFileMeta("/c", 0, 0, 2, Map.empty,
      Map(2 -> ColStats("none", "", "", nulls = 2)))
    assert(ManifestIO.summarizeStats(Seq(b, c))(2) ==
      ColStats("none", "", "", nulls = 4))
    // one unknown poisons the sum to unknown, kind still merges
    val d = DataFileMeta("/d", 0, 0, 2, Map.empty,
      Map(2 -> ColStats("str", "d", "e", nulls = -1)))
    assert(ManifestIO.summarizeStats(Seq(a, d))(2) ==
      ColStats("str", "a", "e", nulls = -1))
  }

  // ---- "nested": writer-counted nulls of required struct/array/map ------

  private val nestedSchema = org.apache.spark.sql.types.StructType(Seq(
    graft.schema.FieldIds.withId(org.apache.spark.sql.types.StructField(
      "arr", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType), nullable = false), 1)))

  test("a 'nested' entry never prunes a value, range or IN filter; " +
      "IS NULL prunes at zero nulls") {
    val clean = Map(1 -> ColStats("nested", "", "", nulls = 0))
    val some = Map(1 -> ColStats("nested", "", "", nulls = 2))
    for (st <- Seq(clean, some); f <- Seq(
        RangeFilter("arr", loNum = Some(BigDecimal(1))),
        RangeFilter("arr", hiNum = Some(BigDecimal(-5))),
        RangeFilter("arr", loNum = Some(BigDecimal(3)),
          hiNum = Some(BigDecimal(3))),
        RangeFilter("arr", loStr = Some("a"), hiStr = Some("z")),
        RangeFilter("arr", loNum = Some(BigDecimal(1)),
          hiNum = Some(BigDecimal(9)), eqSet = Seq("1", "9")),
        RangeFilter("arr", notNull = true)))
      assert(FileStats.mightMatch(st, nestedSchema, Seq(f)), s"$st $f")
    assert(!FileStats.mightMatch(clean, nestedSchema,
      Seq(RangeFilter("arr", isNull = true))))
    assert(FileStats.mightMatch(some, nestedSchema,
      Seq(RangeFilter("arr", isNull = true))))
    // the range check itself is conservative for any non-numeric kind
    assert(ColStats("nested", "", "", 0).overlaps(Some(BigDecimal(1)), None))
  }

  test("manifest summary merges 'nested' with 'none'; a file without " +
      "the entry drops it") {
    import graft.lake.{DataFileMeta, ManifestIO}
    def meta(p: String, st: Map[Int, ColStats]) =
      DataFileMeta(p, 0, 0, 2, Map.empty, st)
    val a = meta("/a", Map(1 -> ColStats("nested", "", "", nulls = 0)))
    val b = meta("/b", Map(1 -> ColStats("none", "", "", nulls = 2)))
    val c = meta("/c", Map(1 -> ColStats("nested", "", "", nulls = -1)))
    assert(ManifestIO.summarizeStats(Seq(a, b))(1) ==
      ColStats("nested", "", "", nulls = 2))
    assert(ManifestIO.summarizeStats(Seq(a, a))(1) ==
      ColStats("nested", "", "", nulls = 0))
    assert(ManifestIO.summarizeStats(Seq(a, c))(1) ==
      ColStats("nested", "", "", nulls = -1))
    assert(!ManifestIO.summarizeStats(Seq(a, meta("/d", Map.empty)))
      .contains(1))
  }

  test("stats JSON leaves empty min/max out and reads them back as " +
      "''; metadata that wrote them still loads") {
    import graft.lake.{DataFileMeta, MetadataIO}
    import graft.schema.Json._
    val st = Map(
      1 -> ColStats("nested", "", "", nulls = 0),
      2 -> ColStats("none", "", "", nulls = 3),
      3 -> ColStats("str", "", "b", nulls = 1),
      4 -> ColStats("num", "-1", "7"))
    val m = DataFileMeta("/x.parquet", 0, 0, 3, Map.empty, st)
    val js = write(MetadataIO.dataFileToJson(m))
    val keys = parse(js).asObj("stats").asObj.map { case (id, v) =>
      id.toInt -> v.asObj.keySet }
    assert(keys == Map(1 -> Set("kind", "nulls"), 2 -> Set("kind", "nulls"),
      3 -> Set("kind", "max", "nulls"), 4 -> Set("kind", "min", "max")), js)
    assert(MetadataIO.dataFileFromJson(parse(js)).stats == st)
    val legacy = parse(
      """{"path":"/x.parquet","schema-id":0,"spec-id":0,"rows":3,
        |"partition":{},"stats":{
        |"2":{"kind":"none","min":"","max":"","nulls":3},
        |"3":{"kind":"str","min":"","max":"b","nulls":1}}}""".stripMargin)
    assert(MetadataIO.dataFileFromJson(legacy).stats ==
      st.filter { case (id, _) => id == 2 || id == 3 })
  }

  test("a nested table's 'nested' entries survive the manifest and " +
      "manifest-stats round trip") {
    val wh = Files.createTempDirectory("graft-nullstats-nested").toString
    Engine.processTableDefJson(wh,
      """{"database_name":"d","table_name":"t","columns":[
        |{"column_name":"id","data_type":"long"},
        |{"column_name":"st","data_type":"struct","required":true,
        | "struct_def":[{"column_name":"a","data_type":"long"}]}],
        |"partitions":[]}""".stripMargin)
    import org.apache.spark.sql.functions._
    LakeTable.load(wh, "d", "t").append(spark.range(0, 6, 1, 2)
      .select(col("id"), struct(col("id").as("a")).as("st")))
    val t = LakeTable.load(wh, "d", "t")
    val stId = graft.schema.FieldIds.idOf(t.currentSchema("st"))
    val files = t.plannedFiles()
    assert(files.size == 2 && files.forall(_.stats(stId) ==
      ColStats("nested", "", "", nulls = 0)))
    // IS NULL on the proven-clean column plans no file at all
    assert(t.plannedFiles(
      statsFilters = Seq(RangeFilter("st", isNull = true))).isEmpty)
    // table versions (manifest-stats) and manifests (per-file stats)
    val json = Files.list(t.location.resolve("metadata")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".json"))
    assert(json.exists(_.getFileName.toString.startsWith("manifest-")))
    def emptyBounds(v: graft.schema.JValue): Int = v match {
      case graft.schema.JObject(fs) =>
        fs.count { case (k, x) => (k == "min" || k == "max") &&
          x == graft.schema.JString("") } + fs.values.map(emptyBounds).sum
      case graft.schema.JArray(xs) => xs.map(emptyBounds).sum
      case _ => 0
    }
    def nestedEntries(v: graft.schema.JValue): Int = v match {
      case graft.schema.JObject(fs) =>
        (if (fs.get("kind").contains(graft.schema.JString("nested"))) 1
         else 0) + fs.values.map(nestedEntries).sum
      case graft.schema.JArray(xs) => xs.map(nestedEntries).sum
      case _ => 0
    }
    val docs = json.map(p => graft.schema.Json.parse(Files.readString(p)))
    // two files in the manifest plus the version's manifest-stats entry
    assert(docs.map(nestedEntries).sum >= 3)
    assert(docs.map(emptyBounds).sum == 0)
  }
}
