package graft.pipeline

import java.nio.file.Files
import java.sql.Date
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.StructType

/** End-to-end reference-parity pipeline test: golden poc_analysis rows,
  * dirty-data cleaning, fuzzy-search enrichment + keep-newest dedup, the
  * incremental-watermark contract (README.md:20-22: a second run with
  * advanced watermarks inserts zero sales rows), and the sink contract:
  * `run` returns stored row counts without reading its tables back.
  */
class CocktailPipelineSpec extends SparkSpec {

  private def freshRun() = {
    val dir = Files.createTempDirectory("graft-pipe")
    val paths = Fixtures.writeAll(dir)
    val pipe = Fixtures.pipeline(dir, paths)
    (dir, paths, pipe)
  }

  /** `run` returns every table's stored row count, as a read-back would. */
  private def assertStoredCounts(warehouse: String, counts: Map[String, Long]): Unit = {
    val tables = Seq("bar_stock", "global_sales", "cocktails", "poc_analysis")
    assert(counts.keySet == tables.toSet)
    tables.foreach { t =>
      assert(counts(t) == spark.read.parquet(s"$warehouse/$t").count(), t)
    }
  }

  test("full run produces the golden poc_analysis") {
    val (dir, _, pipe) = freshRun()
    val counts = pipe.run(spark, s"$dir/warehouse")
    assert(counts("bar_stock") == 7)
    assert(counts("global_sales") == 8)
    // catalog: mojito (deduped from 2), mojito extra, margarita
    assert(counts("cocktails") == 3)

    val poc = spark.read.parquet(s"$dir/warehouse/poc_analysis")
      .collect()
      .map(r => (r.getAs[Date]("dayOfSale").toString, r.getAs[String]("drink"),
        r.getAs[Double]("price"), r.getAs[String]("bar"),
        Option(r.getAs[String]("strGlass")), r.getAs[Long]("drinkCount"),
        Option(r.getAs[Any]("stock")), Option(r.getAs[String]("comment"))))
      .toSet
    val expected = Set(
      ("2020-12-26", "mojito", 4.0, "budapest", Some("highball glass"), 2L, Some(3), Some("NO ISSUE")),
      ("2020-12-27", "sweet sangria", 5.0, "budapest", None, 1L, None, None),
      ("2020-12-26", "mojito", 5.5, "london", Some("highball glass"), 1L, Some(10), Some("NO ISSUE")),
      ("2020-12-26", "mystery drink", 6.0, "london", None, 1L, None, None),
      ("2020-12-26", "margarita", 7.2, "new york", Some("cocktail glass"), 1L, Some(2), Some("NO ISSUE")),
      ("2020-12-28", "margarita", 7.2, "new york", Some("cocktail glass"), 2L, Some(2), Some("POTENTIAL ISSUE")))
    assert(poc == expected)
  }

  test("dirty stock strings clean to ints; the coper-mug typo row survives but never joins") {
    val (_, _, pipe) = freshRun()
    val stock = pipe.barStock(spark).collect()
      .map(r => (r.getAs[String]("glassType"), r.getAs[Int]("stock"), r.getAs[String]("bar")))
    assert(stock.contains(("highball glass", 34, "new york"))) // "34 glasses" cleaned
    assert(stock.contains(("coper mug", 45, "london")))
  }

  test("surrogate keys are 0-based and dense across the union") {
    val (_, _, pipe) = freshRun()
    val ids = pipe.sales(spark)._1.select("saleID")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until 8L))
  }

  test("keep-newest dedup keeps the 2016 Mojito catalog row, not the 2015 copy") {
    val (_, _, pipe) = freshRun()
    val (salesDf, _) = pipe.sales(spark)
    val dim = pipe.cocktails(spark, salesDf).collect()
    val mojito = dim.filter(_.getAs[String]("strDrink") == "mojito")
    assert(mojito.length == 1)
    assert(mojito.head.getAs[java.sql.Timestamp]("dateModified").toString
      .startsWith("2016-11-04"))
    // fuzzy search pulled in "mojito extra" even though no sale matches it
    assert(dim.exists(_.getAs[String]("strDrink") == "mojito extra"))
  }

  test("second run with advanced watermarks inserts zero sales rows (incremental contract)") {
    val (dir, paths, pipe) = freshRun()
    assertStoredCounts(s"$dir/warehouse", pipe.run(spark, s"$dir/warehouse"))
    val wmAfterFirst = Watermarks.read(paths("watermarks"))
    assert(wmAfterFirst("BUDA_date_max") == "2020-12-27 12:00:00")
    assert(wmAfterFirst("LON_date_max") == "2020-12-26 13:05:00")
    assert(wmAfterFirst("NYC_date_max") == "2020-12-28 09:31:00")

    val counts2 = pipe.run(spark, s"$dir/warehouse")
    assert(counts2("global_sales") == 8) // unchanged: nothing newer (observed batch of 0)
    assert(counts2("cocktails") == 3)    // dim snapshot not shrunk by empty batch
    assertStoredCounts(s"$dir/warehouse", counts2)
    // watermarks unchanged (no non-empty batch to advance them)
    assert(Watermarks.read(paths("watermarks")) == wmAfterFirst)
  }

  test("watermark boundary row is excluded (strict >)") {
    val (dir, paths, pipe) = freshRun()
    // set LON watermark to the first london row's timestamp: only the
    // 13:05 row should load for london; other cities get full loads
    Watermarks.write(paths("watermarks"), Map(
      "BUDA_date_max" -> Watermarks.Epoch,
      "LON_date_max" -> "2020-12-26 13:00:00",
      "NYC_date_max" -> Watermarks.Epoch))
    val (salesDf, _) = pipe.sales(spark)
    val london = salesDf.filter(org.apache.spark.sql.functions.col("bar") === "london").collect()
    assert(london.length == 1)
    assert(london.head.getAs[java.sql.Timestamp]("dateOfSale").toString
      .startsWith("2020-12-26 13:05"))
  }

  test("malformed watermark file (the reference's NaT bug, truncated lines) falls back to full load") {
    val f = Files.createTempFile("graft-wm", ".txt")
    Files.writeString(f,
      """BUDA_date_max NaT
        |LON_date_max
        |NYC_date_max 2020-12-28 09:30:00
        |""".stripMargin)
    val wm = Watermarks.read(f.toString)
    // NaT and the valueless line are dropped (epoch fallback = reload);
    // the valid timestamp survives
    assert(wm == Map("NYC_date_max" -> "2020-12-28 09:30:00"))
  }

  test("saleIDs stay unique across appended incremental batches") {
    val (dir, paths, pipe) = freshRun()
    pipe.run(spark, s"$dir/warehouse")
    // rewind one city's watermark so the second run re-loads its rows
    val wm = Watermarks.read(paths("watermarks"))
    Watermarks.write(paths("watermarks"), wm.updated("LON_date_max", Watermarks.Epoch))
    val counts = pipe.run(spark, s"$dir/warehouse")
    // the stored total (8 + 2 re-loaded london rows), not the batch size
    assert(counts("global_sales") == 10)
    assertStoredCounts(s"$dir/warehouse", counts)
    val sales = spark.read.parquet(s"$dir/warehouse/global_sales")
    assert(sales.count() == 10)
    assert(sales.select("saleID").distinct().count() == 10) // keys unique across batches
  }

  test("the declared schemas are what run writes (owned tables are read with them)") {
    val (dir, _, pipe) = freshRun()
    pipe.run(spark, s"$dir/warehouse")
    def nullable(s: StructType) = StructType(s.fields.map(_.copy(nullable = true)))
    Seq("global_sales" -> Schemas.globalSales, "bar_stock" -> Schemas.barStock,
        "cocktails" -> Schemas.cocktails).foreach { case (t, declared) =>
      assert(spark.read.parquet(s"$dir/warehouse/$t").schema == nullable(declared), t)
    }
  }

  test("a fresh run reads no written table back and infers no schema") {
    val (dir, _, pipe) = freshRun()
    val sc = spark.sparkContext
    val runGroup = s"pipeline-spec-run-${java.util.UUID.randomUUID()}"
    val markerGroup = s"$runGroup-marker"
    val stageNames = new ConcurrentLinkedQueue[String]()
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`runGroup`) => e.stageInfos.foreach(s => stageNames.add(s.name))
          case Some(`markerGroup`) => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(runGroup, "pipeline run")
      try pipe.run(spark, s"$dir/warehouse") finally sc.clearJobGroup()
      // events arrive in order: once the marker job is seen, every job
      // of the run has been seen too
      sc.setJobGroup(markerGroup, "listener marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    val names = stageNames.asScala.toSeq
    assert(names.nonEmpty)
    // schema inference and a read-back's footer job run on the caller's
    // thread and carry the reader's call site
    assert(!names.exists(n => n.startsWith("parquet at") || n.startsWith("json at")),
      names.distinct.mkString("; "))
  }
}
