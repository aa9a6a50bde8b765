package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.SparkTestBase

/** Golden end-to-end tests on the reference's own fixture
  * (`data/food_daily.csv`, 891 data rows): counts 891/869/22 and the
  * documented cleaning spot-checks (SURVEY §5). */
class FoodPipelineSpec extends SparkTestBase {

  private lazy val raw = Ingest.readRaw(spark, resource("food_daily.csv"))
  private lazy val cleaned = Clean(raw).cache()

  test("fixture loads all 891 data rows with the header skipped") {
    assert(raw.count() === 891)
    assert(raw.columns.toSeq ===
      FoodSchema.rawColumns :+ Ingest.NFieldsCol)
  }

  test("golden counts: total=891, delivered=869, other=22") {
    val (del, oth) = Split.byStatus(cleaned)
    val (d, o) = (del.count(), oth.count())
    assert(cleaned.count() === 891)
    assert(d === 869)
    assert(o === 22)
  }

  test("cleaning chain output schema is the declared 12 string columns") {
    assert(cleaned.columns.toSeq === FoodSchema.outputColumns)
    assert(cleaned.schema.fields.forall(_.dataType.typeName == "string"))
  }

  test("T3 after T2: Marga?ritA → margarita, noo%dles: → noodles") {
    val items = cleaned.select(col("items")).collect().map(_.getString(0))
    assert(items.exists(_.contains("margarita")))
    assert(items.exists(_.contains("noodles")))
    assert(!items.exists(i => i != null && i.exists("?%&".contains(_))))
  }

  test("T1 strips exactly one trailing colon (not runs, not interior)") {
    val items = cleaned.select(col("items")).collect().map(_.getString(0))
    // interior colons survive: packed lists keep their separators
    assert(items.exists(_.contains(":")))
    // reference data has ~840 trailing-colon rows; all must be stripped
    assert(!items.exists(i => i != null && i.endsWith(":")))
  }

  test("values not targeted by cleaning survive: trailing spaces kept") {
    val rests = cleaned.select(col("restaurant")).collect().map(_.getString(0))
    assert(rests.exists(_ == "brussels mussels "))
  }

  test("T4: every row gains new_col == \"1\"") {
    assert(cleaned.filter(col("new_col") =!= "1").count() === 0)
  }

  test("statuses are the lowercased closed set") {
    val statuses =
      cleaned.select(col("status")).distinct().collect().map(_.getString(0)).toSet
    assert(statuses === Set("delivered", "not delivered", "on hold", "cancelled"))
  }

  test("split is a partition: disjoint and covering") {
    val (del, oth) = Split.byStatus(cleaned)
    assert(del.count() + oth.count() === cleaned.count())
    assert(del.intersect(oth).count() === 0)
  }

  test("cleaning is idempotent on its own output columns") {
    val once = cleaned
    val twice = CleanReference.removeSpecialCharacters(
      CleanReference.lowercaseAll(CleanReference.removeLastColon(once)))
    assert(once.exceptAll(twice.select(FoodSchema.outputColumns.map(col): _*))
      .count() === 0)
  }

  test("single-pass job writes both branches day-partitioned with counts") {
    val out = Files.createTempDirectory("graft-sp").toString
    val counts =
      FoodOrdersJob.runSinglePass(spark, resource("food_daily.csv"), out)
    assert(counts === FoodOrdersJob.Counts(891, 869, 22))
    val del = spark.read.parquet(s"$out/branch=delivered")
    val oth = spark.read.parquet(s"$out/branch=other")
    assert(del.count() === 869)
    assert(oth.count() === 22)
    // day partition dirs exist under each branch
    assert(del.columns.contains(Sink.IngestDateCol))
  }

  test("two-write job produces the reference's two-table layout") {
    val base = Files.createTempDirectory("graft-tw").toString
    val counts = FoodOrdersJob.runTwoWrites(spark, resource("food_daily.csv"),
      s"$base/delivered_orders", s"$base/other_status_orders")
    assert(counts === FoodOrdersJob.Counts(891, 869, 22))
    assert(spark.read.parquet(s"$base/delivered_orders").count() === 869)
    assert(spark.read.parquet(s"$base/other_status_orders").count() === 22)
  }

  test("malformed rows (missing trailing fields) are dropped") {
    import java.nio.file.Files.writeString
    val f = Files.createTempFile("malformed", ".csv")
    writeString(f,
      "Customer_id,date,time,order_id,items,amount,mode,restaurnt,Status,ratings,feedback\n" +
        "C1,1/1/2024,1.2.3,O1,PiZza:,10,Card,R1,Delivered,5,Great\n" +
        "C2,1/1/2024,1.2.3,O2,Burger\n")
    val out = Clean(Ingest.readRaw(spark, f.toString))
    assert(out.count() === 1)
    assert(out.select("items").head().getString(0) === "pizza")
  }

  test("empty trailing field is kept; missing trailing field is dropped") {
    import java.nio.file.Files.writeString
    val f = Files.createTempFile("emptyvsmissing", ".csv")
    writeString(f,
      "Customer_id,date,time,order_id,items,amount,mode,restaurnt,Status,ratings,feedback\n" +
        // all 11 fields present, feedback EMPTY -> must be kept
        "C1,1/1/2024,1.2.3,O1,a:,10,Card,R1,Delivered,5,\n" +
        // only 10 fields (feedback missing entirely) -> dropped
        "C2,1/1/2024,1.2.3,O2,b:,10,Card,R1,Delivered,4\n")
    val out = Clean(Ingest.readRaw(spark, f.toString))
    assert(out.count() === 1)
    assert(out.select("customer_id").head().getString(0) === "c1")
    assert(out.select("feedback").head().getString(0) === "")
  }

  test("counts invariant holds for empty-status rows (routed to other)") {
    import java.nio.file.Files.writeString
    val in = Files.createTempFile("emptystatus", ".csv")
    writeString(in,
      "Customer_id,date,time,order_id,items,amount,mode,restaurnt,Status,ratings,feedback\n" +
        "C1,1/1/2024,1.2.3,O1,a:,10,Card,R1,Delivered,5,ok\n" +
        "C2,1/1/2024,1.2.3,O2,b:,10,Card,R1,,4,ok\n")
    val out = Files.createTempDirectory("emptystatus-out").toString
    val c = FoodOrdersJob.runSinglePass(spark, in.toString, out)
    assert(c === FoodOrdersJob.Counts(2, 1, 1))
    assert(c.total === c.delivered + c.other)
    assert(spark.read.parquet(s"$out/branch=other").count() === 1)
  }

  test("status junk routes correctly: 'Delivered?' lands in delivered") {
    import java.nio.file.Files.writeString
    val f = Files.createTempFile("statusjunk", ".csv")
    writeString(f,
      "Customer_id,date,time,order_id,items,amount,mode,restaurnt,Status,ratings,feedback\n" +
        "C1,1/1/2024,1.2.3,O1,a:,10,Card,R1,Delivered?,5,ok\n" +
        "C2,1/1/2024,1.2.3,O2,b:,10,Card,R1,ON HOLD,4,ok\n")
    val (del, oth) = Split.byStatus(Clean(Ingest.readRaw(spark, f.toString)))
    assert(del.count() === 1)
    assert(oth.count() === 1)
    assert(oth.select("status").head().getString(0) === "on hold")
  }

  private def shortRowFile(): String = {
    val f = Files.createTempFile("shortrow", ".csv")
    Files.writeString(f,
      "Customer_id,date,time,order_id,items,amount,mode,restaurnt,Status,ratings,feedback\n" +
        "C1,1/1/2024,1.2.3,O1,a:,10,Card,R1,Delivered,5,ok\n" +
        "C2,1/1/2024,1.2.3,O2,b:,10,Card,R1,Delivered,4\n")
    f.toString
  }

  test("readRaw alone is total under ANSI: a missing field reads as null") {
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    val raw = Ingest.readRaw(spark, shortRowFile())
    raw.write.format("noop").mode("overwrite").save()
    val byId = raw.collect().map(r => r.getAs[String]("customer_id") -> r).toMap
    assert(byId("C1").getAs[String]("feedback") === "ok")
    assert(byId("C1").getAs[Int](Ingest.NFieldsCol) === 11)
    assert(byId("C2").isNullAt(byId("C2").fieldIndex("feedback")))
    assert(byId("C2").getAs[String]("ratings") === "4")
    assert(byId("C2").getAs[Int](Ingest.NFieldsCol) === 10)
  }

  test("Clean applies no string function to the integer field count") {
    val plan = Clean(Ingest.readRaw(spark, shortRowFile()))
      .queryExecution.analyzed
    val overCount = plan.flatMap(_.expressions).flatMap(_.collect {
      case e if e.dataType.isInstanceOf[StringType] &&
        e.references.exists(_.name == Ingest.NFieldsCol) => e
    })
    assert(overCount.isEmpty, overCount.mkString("\n"))
  }
}
