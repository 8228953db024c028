package graft.etl

import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.lake.MergeTable
import graft.model.Schemas

/** End-to-end: dirty fixtures (per FIXTURES.md §A) through all three jobs —
  * validation/quarantine, dedup, FK semi-joins, MERGE, re-ingestion
  * idempotency. */
class IngestionSpec extends SparkSpec {
  import spark.implicits._

  private def write(p: Path, lines: String*): Unit =
    Files.writeString(p, lines.mkString("\n") + "\n")

  private def setup(): (Path, String, String, String) = {
    val dir = tmpDir("etl")
    Files.createDirectories(dir.resolve("raw/products"))
    Files.createDirectories(dir.resolve("raw/orders"))
    Files.createDirectories(dir.resolve("raw/order_items"))
    write(dir.resolve("raw/products/products.csv"),
      "product_id,department_id,department,product_name",
      "p1,1,produce,apple",
      "p2,2,dairy,milk",
      "p2,2,dairy,milk-dup",          // dup key → dedup
      "p3,,dairy,cheese",             // null required → quarantine
      ",4,misc,ghost")                // null PK → quarantine
    write(dir.resolve("raw/orders/sheet1.csv"),
      "order_num,order_id,user_id,order_timestamp,total_amount",
      "1,o1,u1,2024-01-01 10:00:00,50.0",
      "2,o2,u1,2024-01-02 11:00:00,75.5",
      "3,o3,u2,2024-01-02 12:00:00,-5.0",  // negative → quarantine
      "4,,u3,2024-01-03 09:00:00,10.0")    // null PK → quarantine
    write(dir.resolve("raw/order_items/sheet1.csv"),
      "id,order_id,user_id,days_since_prior_order,product_id,add_to_cart_order,reordered,order_timestamp",
      "i1,o1,u1,,p1,1,false,2024-01-01 10:00:00",
      "i2,o1,u1,3,p2,2,true,2024-01-01 10:00:00",
      "i3,oX,u1,3,p1,1,false,2024-01-01 10:00:00",  // orphan order FK
      "i4,o2,u1,3,pX,1,false,2024-01-02 11:00:00",  // orphan product FK
      "i5,o2,u1,,p1,,,")                            // null ts → quarantine
    (dir, s"$dir/tables/products", s"$dir/tables/orders",
      s"$dir/tables/order_items")
  }

  test("three-job pipeline end-to-end with dirty fixtures") {
    val (dir, productsT, ordersT, itemsT) = setup()

    val pr = Ingestion.productsJob(spark, s"$dir/raw/products",
      productsT, s"$dir/quarantine/products")
    assert(pr.validRows === 2 && pr.rejectedRows === 2)

    val or = Ingestion.ordersJob(spark, s"$dir/raw/orders",
      ordersT, s"$dir/quarantine/orders")
    assert(or.validRows === 2 && or.rejectedRows === 2)

    val ir = Ingestion.orderItemsJob(spark, s"$dir/raw/order_items",
      ordersT, productsT, itemsT, s"$dir/quarantine/order_items")
    // i1, i2 survive; i3/i4 dropped by FK semi-joins; i5 quarantined
    assert(ir.validRows === 2 && ir.rejectedRows === 1)

    val items = MergeTable(spark, itemsT, Some("date")).read()
    assert(items.select("id").as[String].collect().toSet === Set("i1", "i2"))
    // conformed: date derived from order_timestamp
    assert(items.select("date").distinct().as[java.sql.Date].head().toString
      === "2024-01-01")

    // quarantine files carry reasons
    val q = spark.read.option("header", "true")
      .csv(s"$dir/quarantine/orders")
    assert(q.select("rejection_reason").as[String].collect().toSet ===
      Set("Missing required fields", "total_amount must be positive"))
  }

  test("ordersJobXlsx ingests a real multi-sheet workbook end-to-end") {
    val dir = tmpDir("etlx")
    val header =
      Seq("order_num", "order_id", "user_id", "order_timestamp", "total_amount")
    val xlsx = graft.ingest.XlsxTestData.write(dir.resolve("orders.xlsx"), Seq(
      "Jan" -> Seq(header,
        Seq("1", "ox1", "u1", "2024-01-01 10:00:00", "25.5"),
        Seq("2", "ox2", "u2", "2024-01-01 11:00:00", "10.0")),
      "Feb" -> Seq(header,
        Seq("3", "ox3", "u3", "2024-02-01 10:00:00", null), // null amt OK
        Seq("4", "ox4", null, "2024-02-01 11:00:00", "5.0")), // → quarantine
      "Scratch" -> Seq(Seq("junk"), Seq("zzz")))) // bad header → skipped
    val r = Ingestion.ordersJobXlsx(spark, xlsx,
      s"$dir/tables/orders", s"$dir/quarantine/orders")
    assert(r.validRows === 3 && r.rejectedRows === 1)
    val t = MergeTable(spark, s"$dir/tables/orders", Some("date")).read()
    assert(t.select("order_id").as[String].collect().toSet ===
      Set("ox1", "ox2", "ox3"))
    assert(t.select("total_amount").where($"order_id" === "ox1")
      .as[Double].head() === 25.5)
    assert(t.select("date").distinct().as[java.sql.Date].collect()
      .map(_.toString).toSet === Set("2024-01-01", "2024-02-01"))
  }

  test("re-ingesting an overlapping batch MERGE-updates, doesn't duplicate") {
    val (dir, productsT, _, _) = setup()
    Ingestion.productsJob(spark, s"$dir/raw/products", productsT,
      s"$dir/quarantine/products")
    // second batch: p2 updated, p9 new
    write(dir.resolve("raw/products/products2.csv"),
      "product_id,department_id,department,product_name",
      "p2,2,dairy,milk-renamed",
      "p9,9,bakery,bread")
    Files.delete(dir.resolve("raw/products/products.csv"))
    Ingestion.productsJob(spark, s"$dir/raw/products", productsT,
      s"$dir/quarantine/products2")
    val t = MergeTable(spark, productsT, Some("department")).read()
    val byId = t.select("product_id", "product_name").as[(String, String)]
      .collect().toMap
    assert(byId === Map("p1" -> "apple", "p2" -> "milk-renamed",
      "p9" -> "bread"))
  }

  test("each job's MERGE adds at most one file per touched partition") {
    val (dir, productsT, ordersT, itemsT) = setup()
    def run(): Unit = {
      Ingestion.productsJob(spark, s"$dir/raw/products", productsT,
        s"$dir/quarantine/products")
      Ingestion.ordersJob(spark, s"$dir/raw/orders", ordersT,
        s"$dir/quarantine/orders")
      Ingestion.orderItemsJob(spark, s"$dir/raw/order_items", ordersT,
        productsT, itemsT, s"$dir/quarantine/order_items")
    }
    run()
    // a second landing: corrections and new rows in partitions that
    // already hold files, so each MERGE rewrites old rows beside new
    write(dir.resolve("raw/products/products.csv"),
      "product_id,department_id,department,product_name",
      "p1,1,produce,green-apple",
      "p4,2,dairy,yogurt",
      "p5,1,produce,pear")
    write(dir.resolve("raw/orders/sheet1.csv"),
      "order_num,order_id,user_id,order_timestamp,total_amount",
      "1,o1,u1,2024-01-01 10:00:00,55.0",
      "5,o4,u2,2024-01-02 13:00:00,12.0",
      "6,o5,u3,2024-01-01 14:00:00,8.0")
    write(dir.resolve("raw/order_items/sheet1.csv"),
      "id,order_id,user_id,days_since_prior_order,product_id,add_to_cart_order,reordered,order_timestamp",
      "i1,o1,u1,,p1,3,false,2024-01-01 10:00:00",
      "i6,o4,u2,2,p4,1,false,2024-01-02 13:00:00",
      "i7,o5,u3,1,p5,1,true,2024-01-01 14:00:00")
    val tables = Seq(productsT -> "department", ordersT -> "date",
      itemsT -> "date")
    def live() = tables.map { case (root, pc) =>
      MergeTable(spark, root, Some(pc)).read().inputFiles.toSet }
    val before = live()
    run()
    for (((root, _), (was, now)) <- tables.zip(before.zip(live()))) {
      val added = now -- was
      assert(added.nonEmpty, root)
      // the partition dir is the file's parent: `date=2024-01-01/part-…`
      val perPart = added.toSeq.groupBy(_.split('/').init.last)
        .view.mapValues(_.size).toMap
      assert(perPart.values.forall(_ == 1), s"$root: $perPart")
    }
  }

  test("malformed CSV rows are quarantined with their raw line and counted") {
    val (dir, productsT, ordersT, itemsT) = setup()
    val badOrder = "7,o7,u4,2024-01-03 09:00:00,not-a-number"
    val badItem = "i9,o1,u1,x,p1,one,false,2024-01-01 10:00:00"
    write(dir.resolve("raw/orders/sheet2.csv"),
      "order_num,order_id,user_id,order_timestamp,total_amount", badOrder)
    write(dir.resolve("raw/order_items/sheet2.csv"),
      "id,order_id,user_id,days_since_prior_order,product_id,add_to_cart_order,reordered,order_timestamp",
      badItem)
    Ingestion.productsJob(spark, s"$dir/raw/products", productsT,
      s"$dir/quarantine/products")
    val or = Ingestion.ordersJob(spark, s"$dir/raw/orders", ordersT,
      s"$dir/quarantine/orders")
    assert(or.validRows === 2 && or.rejectedRows === 3)
    val ir = Ingestion.orderItemsJob(spark, s"$dir/raw/order_items",
      ordersT, productsT, itemsT, s"$dir/quarantine/order_items")
    assert(ir.validRows === 2 && ir.rejectedRows === 2)
    for ((ds, line) <- Seq("orders" -> badOrder, "order_items" -> badItem)) {
      val q = spark.read.option("header", "true")
        .csv(s"$dir/quarantine/$ds")
      assert(q.filter($"rejection_reason" === "Malformed record")
        .select("raw_record").as[String].collect().toSeq === Seq(line))
    }
    assert(MergeTable(spark, ordersT, Some("date")).read()
      .filter($"order_id" === "o7").isEmpty)
    assert(MergeTable(spark, itemsT, Some("date")).read()
      .filter($"id" === "i9").isEmpty)
  }

  test("counts are exact under a CHECK constraint and with no rejects") {
    val (dir, productsT, _, _) = setup()
    Ingestion.productsJob(spark, s"$dir/raw/products", productsT,
      s"$dir/quarantine/p0")
    // the constraint probe is a limit action over the MERGE source;
    // it must not be what fills validRows
    MergeTable(spark, productsT, Some("department"))
      .addConstraint("dept_positive", "department_id > 0")
    write(dir.resolve("raw/products/products.csv"),
      "product_id,department_id,department,product_name",
      "p1,1,produce,apple",
      "p4,2,dairy,yogurt",
      "p4,2,dairy,yogurt-dup",
      "p5,3,bakery,bread",
      "p6,,bakery,bagel")
    val r1 = Ingestion.productsJob(spark, s"$dir/raw/products", productsT,
      s"$dir/quarantine/p1")
    assert((r1.validRows, r1.rejectedRows) === ((3L, 1L)))
    write(dir.resolve("raw/products/products.csv"),
      "product_id,department_id,department,product_name",
      "p7,1,produce,pear",
      "p8,2,dairy,cream")
    val r2 = Ingestion.productsJob(spark, s"$dir/raw/products", productsT,
      s"$dir/quarantine/p2")
    assert((r2.validRows, r2.rejectedRows) === ((2L, 0L)))
    assert(!Files.exists(dir.resolve("quarantine/p2")))
    assert(MergeTable(spark, productsT, Some("department")).read().count()
      === 6L)
  }

  test("no Spark job starts between a job's MERGE commit and its return") {
    val (dir, productsT, ordersT, itemsT) = setup()
    def check(root: String, pc: String)(
        job: => Ingestion.JobResult): Unit = {
      val (r, jobs) = graft.JobCensus.jobsOf(spark)(job)
      val committedAt = MergeTable(spark, root, Some(pc)).history()
        .filter($"version" === r.tableVersion)
        .select("committed_at").as[java.sql.Timestamp].head().getTime
      val late = jobs.filter(_.time > committedAt)
      assert(jobs.nonEmpty && late.isEmpty, s"$root: $late")
    }
    check(productsT, "department")(Ingestion.productsJob(spark,
      s"$dir/raw/products", productsT, s"$dir/quarantine/products"))
    check(ordersT, "date")(Ingestion.ordersJob(spark, s"$dir/raw/orders",
      ordersT, s"$dir/quarantine/orders"))
    check(itemsT, "date")(Ingestion.orderItemsJob(spark,
      s"$dir/raw/order_items", ordersT, productsT, itemsT,
      s"$dir/quarantine/order_items"))
  }
}
