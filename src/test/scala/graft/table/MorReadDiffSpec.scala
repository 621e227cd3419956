package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.dml.Dml

/** Merge-on-read reads, differentially: for each delete state, the table
  * scan (`readLatest`), the DSv2 connector (`format("graft")`) and a
  * plain-Spark model agree on the rows and on COUNT(*) — through the
  * table's `countLive` and the SQL engine's COUNT(*) route too — and the
  * per-file delete rule marks exactly the files a delete can touch.
  */
class MorReadDiffSpec extends SparkSpec {

  import spark.implicits._

  private def rows(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toSeq.map {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case v => v
    }.mkString("|")).toSeq.sorted

  private def agree(t: GraftTable, model: DataFrame, connector: Boolean = true): Unit = {
    val cols = model.columns.toSeq
    val expected = rows(model, cols)
    assert(rows(t.readLatest(), cols) === expected, "table scan vs model")
    val n = expected.size.toLong
    if (connector) {
      val conn = spark.read.format("graft").load(t.tableDir)
      assert(rows(conn, cols) === expected, "connector vs model")
      assert(conn.count() === n)
    }
    assert(t.readLatest().count() === n)
    assert(t.countLive() === Some(n))
    val eng = new graft.plan.SparkSqlEngine(spark)
    eng.registerGraftTable("mor_diff", t)
    assert(eng.execute("SELECT COUNT(*) AS n FROM mor_diff").rows.head("n") === n)
  }

  /** Append `df` as one data file; returns its path. */
  private def append(t: GraftTable, df: DataFrame): String = {
    t.append(df.coalesce(1))
    val s = t.latest
    val added = s.files.filter(_.writtenAt == s.snapshotId)
    assert(added.size === 1)
    added.head.path
  }

  /** The files of the latest snapshot the per-file rule marks. */
  private def marked(t: GraftTable): Set[String] = {
    val s = t.latest
    val plan = t.planner(s)
    s.files.filter(plan.marked).map(_.path).toSet
  }

  private def table(name: String, ddl: String): GraftTable =
    GraftTable.create(spark, scratchDir(name) + "/t", StructType.fromDDL(ddl))

  test("equality deletes with a null key: null rows go, only files that can hold them are marked") {
    val t = table("mordiff-null", "k bigint, v string")
    val a = (1L to 10L).map(i => (Option(i), s"a$i"))
    val b = (11L to 20L).map(i => (Option(i), s"b$i")) ++
      Seq((Option.empty[Long], "bn1"), (Option.empty[Long], "bn2"))
    val c = (21L to 30L).map(i => (Option(i), s"c$i"))
    val fa = append(t, a.toDF("k", "v"))
    val fb = append(t, b.toDF("k", "v"))
    append(t, c.toDF("k", "v"))
    Dml.deleteMorKeys(t, Seq(Option.empty[Long], Option(5L)).toDF("k"))
    // c holds neither a null nor 5
    assert(marked(t) === Set(fa, fb))
    agree(t, (a ++ b ++ c).toDF("k", "v").filter(col("k").isNotNull && col("k") =!= 5L))
  }

  test("a re-insert after the delete survives, and its file is not marked") {
    val t = table("mordiff-reinsert", "k bigint, v string")
    val a = (1L to 10L).map(i => (i, s"a$i"))
    val fa = append(t, a.toDF("k", "v"))
    Dml.deleteMorKeys(t, Seq(3L, 7L).toDF("k"))
    append(t, Seq((3L, "again")).toDF("k", "v"))
    assert(marked(t) === Set(fa))
    agree(t, (a.filterNot(r => r._1 == 3L || r._1 == 7L) :+ ((3L, "again"))).toDF("k", "v"))
  }

  test("consolidated per-row bounds: each tuple applies only to files older than its own commit") {
    val t = table("mordiff-consolidated", "k bigint, v string")
    val a = (1L to 10L).map(i => (i, s"a$i"))
    val b = (3L, "b3") +: (21L to 29L).map(i => (i, s"b$i"))
    val fa = append(t, a.toDF("k", "v"))
    Dml.deleteMorKeys(t, Seq(3L).toDF("k"))
    val fb = append(t, b.toDF("k", "v")) // re-inserts 3 after its delete
    Dml.deleteMorKeys(t, Seq(22L).toDF("k"))
    assert(t.rewriteDeleteFiles().isDefined)
    val d = t.latest.deletes
    assert(d.size === 1 && d.head.perRowAppliedAt)
    assert(d.head.stats.contains(SnapshotPlanner.AppliedAtCol))
    // written after the consolidated file's max bound: never marked
    append(t, Seq((22L, "c22")).toDF("k", "v"))
    assert(marked(t) === Set(fa, fb))
    agree(t, (a.filterNot(_._1 == 3L) ++ b.filterNot(_._1 == 22L) :+ ((22L, "c22")))
      .toDF("k", "v"))
  }

  test("positional vectors mark only the files they name") {
    val t = table("mordiff-dv", "k bigint, v string")
    val all = (1L to 30L).map(i => (i, s"v$i"))
    append(t, all.take(10).toDF("k", "v"))
    val fb = append(t, all.slice(10, 20).toDF("k", "v"))
    append(t, all.drop(20).toDF("k", "v"))
    Dml.deleteMor(t, col("k").isin(12L, 15L))
    assert(t.latest.deletes.forall(_.positional))
    assert(marked(t) === Set(fb))
    agree(t, all.filterNot(r => r._1 == 12L || r._1 == 15L).toDF("k", "v"))
  }

  test("vectors mixed with equality deletes reconcile together") {
    val t = table("mordiff-mixed", "k bigint, v string")
    val all = (1L to 30L).map(i => (i, s"v$i"))
    append(t, all.take(10).toDF("k", "v"))
    val fb = append(t, all.slice(10, 20).toDF("k", "v"))
    val fc = append(t, all.drop(20).toDF("k", "v"))
    Dml.deleteMor(t, col("k") === 12L)
    Dml.deleteMorKeys(t, Seq(25L).toDF("k"))
    assert(t.latest.deletes.count(_.positional) === 1 && t.latest.deletes.size === 2)
    assert(marked(t) === Set(fb, fc))
    agree(t, all.filterNot(r => r._1 == 12L || r._1 == 25L).toDF("k", "v"))
  }

  test("a key renamed and widened after the delete still deletes its rows") {
    val t = table("mordiff-evolved", "k int, v string")
    val a = (1 to 10).map(i => (i, s"a$i"))
    val b = (11 to 20).map(i => (i, s"b$i"))
    val fa = append(t, a.toDF("k", "v"))
    val fb = append(t, b.toDF("k", "v"))
    append(t, (31 to 40).map(i => (i, s"x$i")).toDF("k", "v"))
    Dml.deleteMorKeys(t, Seq(5, 15).toDF("k"))
    t.renameColumn("k", "id")
    t.widenColumn("id", "bigint")
    val c = Seq((5L, "c5"), (15L, "c15"))
    append(t, c.toDF("id", "v")) // re-inserts after the delete
    assert(marked(t) === Set(fa, fb))
    val kept = (a ++ b ++ (31 to 40).map(i => (i, s"x$i")))
      .filterNot(r => r._1 == 5 || r._1 == 15).map(r => (r._1.toLong, r._2))
    agree(t, (kept ++ c).toDF("id", "v"))
  }

  test("a doc written without delete stats applies its delete to every older file") {
    val t = table("mordiff-nostats", "k bigint, v string")
    val a = (1L to 10L).map(i => (i, s"a$i"))
    val b = (11L to 20L).map(i => (i, s"b$i"))
    val fa = append(t, a.toDF("k", "v"))
    val fb = append(t, b.toDF("k", "v"))
    Dml.deleteMorKeys(t, Seq(4L).toDF("k"))
    assert(marked(t) === Set(fa))
    // rewrite the delete commit's doc as the format before delete stats
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val doc = java.nio.file.Paths.get(t.tableDir, SnapshotLog.LogDir,
      f"v${t.latest.snapshotId}%08d.json")
    val stripped = JsonMethods.parse(java.nio.file.Files.readString(doc)).transformField {
      case (k @ ("deletes" | "addedDeletes"), JArray(ds)) =>
        (k, JArray(ds.map(_.removeField(_._1 == "stats"))))
    }
    val text = JsonMethods.compact(JsonMethods.render(stripped))
    assert(!text.contains("\"stats\""))
    java.nio.file.Files.writeString(doc, text)
    SnapshotLog.invalidate(t.tableDir)
    assert(t.latest.deletes.head.stats.isEmpty)
    assert(marked(t) === Set(fa, fb))
    agree(t, (a ++ b).filterNot(_._1 == 4L).toDF("k", "v"))
  }

  test("a BINARY key deletes the rows whose bytes are equal") {
    val t = table("mordiff-binary", "k binary, v string")
    val all = (1 to 20).map(i => (Array[Byte](i.toByte, 7), s"v$i"))
    append(t, all.take(10).toDF("k", "v"))
    append(t, all.drop(10).toDF("k", "v"))
    // fresh arrays: equal bytes, never the same objects as the rows'
    Dml.deleteMorKeys(t, Seq(Array[Byte](3, 7), Array[Byte](15, 7)).toDF("k"))
    // the connector refuses BINARY columns, so only the table scan reads here
    agree(t, all.filterNot(r => r._1(0) == 3 || r._1(0) == 15).toDF("k", "v"),
      connector = false)
  }

  test("a STRUCT key deletes the rows whose fields are equal") {
    val t = table("mordiff-struct", "k struct<a: bigint, b: string>, v string")
    def keyed(df: DataFrame): DataFrame =
      df.select(struct(col("a"), col("b")).cast("struct<a: bigint, b: string>").as("k") +:
        df.columns.drop(2).map(col).toSeq: _*)
    val all = (1L to 20L).map(i => (i, s"s${i % 3}", s"v$i"))
    append(t, keyed(all.take(10).toDF("a", "b", "v")))
    append(t, keyed(all.drop(10).toDF("a", "b", "v")))
    Dml.deleteMorKeys(t, keyed(Seq((4L, "s1"), (15L, "s0"), (16L, "nope")).toDF("a", "b")))
    agree(t, keyed(all.filterNot(r => r._1 == 4L || r._1 == 15L).toDF("a", "b", "v")))
  }

  test("a DOUBLE key of -0.0 deletes 0.0 and NaN deletes NaN, as Spark's <=> does") {
    val t = table("mordiff-double", "k double, v string")
    val fa = append(t, Seq((0.0, "zero"), (1.0, "one")).toDF("k", "v"))
    append(t, Seq((Double.NaN, "nan"), (3.0, "three")).toDF("k", "v"))
    val fc = append(t, Seq((5.0, "five"), (-0.0, "negzero")).toDF("k", "v"))
    Dml.deleteMorKeys(t, Seq(-0.0).toDF("k"))
    // bounds compare numerically: [-0.0, -0.0] meets [0.0, 1.0] and [-0.0, 5.0]
    assert(marked(t).contains(fa) && marked(t).contains(fc))
    Dml.deleteMorKeys(t, Seq(Double.NaN).toDF("k"))
    agree(t, Seq((1.0, "one"), (3.0, "three"), (5.0, "five")).toDF("k", "v"))
  }

  test("delete keys are stored in the column's type; a key that cannot widen to it is refused") {
    val t = table("mordiff-keytype", "k bigint, v string")
    val a = (1L to 10L).map(i => (i, s"a$i"))
    append(t, a.toDF("k", "v"))
    Dml.deleteMorKeys(t, Seq(4, 6).toDF("k")) // INT keys on a BIGINT column
    val d = t.latest.deletes.head
    val stored = spark.read.parquet(s"${SnapshotLog.dataPath(t.tableDir)}/${d.path}")
    assert(stored.schema("k").dataType === org.apache.spark.sql.types.LongType)
    assert(d.stats.contains("k"))
    agree(t, a.filterNot(r => r._1 == 4L || r._1 == 6L).toDF("k", "v"))
    val narrow = table("mordiff-keytype-narrow", "k int, v string")
    append(narrow, Seq((1, "x")).toDF("k", "v"))
    val e = intercept[IllegalArgumentException](
      Dml.deleteMorKeys(narrow, Seq(1L << 40).toDF("k")))
    assert(e.getMessage.contains("cannot widen"))
  }

  test("the scan plan names each delete file once, however many files it marks") {
    val t = table("mordiff-planshape", "k bigint, v string")
    val files = (0 until 4).map(g =>
      append(t, (1L to 10L).map(i => (g * 10 + i, s"v$g-$i")).toDF("k", "v")))
    Dml.deleteMorKeys(t, Seq(1L, 15L, 25L, 35L).toDF("k"))
    Dml.deleteMorKeys(t, Seq(22L).toDF("k"))
    assert(marked(t) === files.toSet)
    val live = t.readLatest().queryExecution.analyzed.flatMap(_.expressions)
      .flatMap(_.collect { case l: LiveRows => l })
    assert(live.size === 1)
    // 2 delete files; file sets {first}, {first, second} over 4 files
    assert(live.head.deletes.size === 2)
    assert(live.head.sets.map(_.size).sorted === Seq(1, 2))
    assert(live.head.files.size === 4)
  }
}
