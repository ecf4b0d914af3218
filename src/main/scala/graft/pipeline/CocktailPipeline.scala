package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's end-to-end batch ETL, Spark-first (ref:
  * build_database.py:227-253 `main()`; SURVEY.md §3 E1-E3):
  *
  *   bar_stock CSV ──clean──────────────────────────┐
  *   3 city feeds ──wm-filter──union──keys──lower───┤──► poc_analysis
  *   distinct drinks ──cocktail source──dedup───────┘
  *
  * Inputs/outputs are paths + DataFrames; sinks are the caller's choice
  * (tests assert on DataFrames; `run` writes parquet tables). Every
  * stage is lazy until an action, with Catalyst pushing the watermark
  * filters into the CSV scans and broadcasting both dimension joins.
  * `run` executes these queries, each as one job per AQE query stage:
  * the watermark maxima (which also materializes the sales feeds'
  * parse-once checkpoint), the `max(saleID)`/row-count aggregate when
  * `global_sales` already exists, then one write per table. Nothing
  * `run` wrote is read back to be counted, and every read of an owned
  * table or of the catalog declares its [[Schemas]] type, so no job
  * infers a schema.
  */
final class CocktailPipeline(
    barStockPath: String,
    budapestPath: String,
    londonPath: String,
    nyPath: String,
    watermarkPath: String,
    cocktailSource: CocktailSource) {

  /** bar_stock: rename, clean dirty stock strings, lowercase, surrogate
    * keys (ref: build_database.py:76-92).
    */
  def barStock(spark: SparkSession): DataFrame = {
    val raw = SalesSources.barStock(spark, barStockPath)
      .withColumnRenamed("glass_type", "glassType")
      .withColumn("stock", Clean.extractInt(col("stock")))
    // keyed on bar so even this (bounded) dimension has no global window
    Clean.keyedOrderedId(Clean.lowercaseStrings(raw), "stockID",
        Seq(col("bar")), Seq(col("glassType")))
      .select("stockID", "glassType", "stock", "bar")
  }

  /** global_sales: per-city incremental load (strict-> watermark), 3-way
    * union, surrogate keys, lowercase (ref: build_database.py:95-170).
    * Returns the batch plus the advanced watermarks (only advanced for
    * non-empty city batches — SURVEY.md §8.6).
    */
  def sales(spark: SparkSession): (DataFrame, Map[String, String]) = {
    val wm = Watermarks.read(watermarkPath)
    val feeds = Seq(
      "BUDA_date_max" -> SalesSources.budapest(spark, budapestPath),
      "LON_date_max" -> SalesSources.london(spark, londonPath),
      "NYC_date_max" -> SalesSources.newYork(spark, nyPath))

    val filtered = feeds.map { case (key, df) =>
      key -> Watermarks.filterNewerThan(df, wm.get(key))
    }
    val unioned = filtered.map(_._2).reduce(_ unionByName _)
    // the cleaned batch is consumed THREE times (watermark maxima, the
    // per-key offset counts, the keyed numbering itself) and the gzip
    // feeds are non-splittable — a lazy localCheckpoint parses them ONCE
    // (the maxima job below materializes it) instead of one full
    // single-task decompress per consumer. The incremental batch is
    // day-sized by contract, so the materialization is bounded.
    val cleaned = Clean.lowercaseStrings(unioned).localCheckpoint(false)
    // all three per-city maxima in ONE job over the union
    val barToKey = Map("budapest" -> "BUDA_date_max",
      "london" -> "LON_date_max", "new york" -> "NYC_date_max")
    val maxima = cleaned.groupBy(col("bar").as("b"))
      .agg(max("dateOfSale").as("m")).collect()
      .flatMap(r => Option(r.getTimestamp(1)).flatMap(ts =>
        barToKey.get(r.getString(0)).map(_ -> ts.toString.stripSuffix(".0"))))
      .toMap
    val newWm = wm ++ maxima
    // saleID in (bar, dateOfSale, idx) order WITHOUT a data-sized global
    // window: number within (bar, sale-day) keyed windows and broadcast
    // per-key offsets — (bar, day) is a sort-prefix of (bar, dateOfSale),
    // so the ids are bit-identical to the global-window form while the
    // fact-side window stays keyed (the 100-TB shape; VERDICT r4 #1)
    val keyed = Clean.keyedOrderedId(
      cleaned,
      "saleID",
      Seq(col("bar"), to_date(col("dateOfSale"))),
      Seq(col("dateOfSale"), col("idx")))
    (keyed.select("saleID", "dateOfSale", "drink", "price", "bar"), newWm)
  }

  /** cocktails: distinct drinks across city feeds → source lookup →
    * 7-column projection → keep-newest dedup → lowercase (ref:
    * build_database.py:173-224).
    */
  def cocktails(spark: SparkSession, salesDf: DataFrame): DataFrame = {
    val terms = salesDf.select(col("drink").as("term")).distinct()
    val raw = cocktailSource.search(spark, terms)
    val projected = CocktailSource.project(raw).distinct()
    val deduped = Clean.keepNewest(projected,
      keys = Seq("idDrink", "strDrink", "strCategory", "strIBA", "strAlcoholic", "strGlass"),
      ts = "dateModified", tiebreak = "idDrink")
    Clean.lowercaseStrings(deduped)
  }

  /** The poc_analysis query, §2.8 verbatim (ref: database/poc_tables.sql:3-36):
    * grouped daily demand per (day, drink, price, bar, glass) left-joined
    * to stock, CASE without ELSE so unmatched glass/bar yields NULL
    * comment. Both joins broadcast — the dims are bounded by the drink
    * catalog and glass inventory, not by fact size.
    */
  def pocAnalysis(salesDf: DataFrame, cocktailsDf: DataFrame, stockDf: DataFrame): DataFrame = {
    val dim = cocktailsDf.select("strDrink", "strGlass")
    val grouped = salesDf
      .join(broadcast(dim), salesDf("drink") === dim("strDrink"), "left")
      .groupBy(to_date(col("dateOfSale")).as("dayOfSale"),
        col("drink"), col("price"), col("bar"), col("strGlass"))
      .agg(count(col("drink")).as("drinkCount"))
    val stock = stockDf.select(col("glassType"), col("bar").as("stockBar"), col("stock"))
    grouped
      .join(broadcast(stock),
        grouped("strGlass") === stock("glassType") && grouped("bar") === stock("stockBar"),
        "left")
      .select(col("dayOfSale"), col("drink"), col("price"), col("bar"),
        col("strGlass"), col("drinkCount"), col("stock"),
        when(col("drinkCount") < col("stock"), "NO ISSUE")
          .when(col("drinkCount") >= col("stock"), "POTENTIAL ISSUE")
          .as("comment"))
  }

  /** Full run: load all three tables, write them + poc_analysis as
    * parquet under `warehouseDir`, advance the watermark file (ref:
    * build_database.py:227-253 plus the §8.3 fix — the reference never
    * actually invoked poc_tables.sql).
    *
    * Sales APPEND across runs — that is the incremental contract
    * (README.md:20-22) — with saleIDs offset past the stored max so keys
    * stay unique across batches (the §8.5 fix; the reference restarts at
    * 0 and violates its own PK). Dimensions are snapshots: overwrite.
    *
    * Returns each table's stored row count after the run; for
    * `global_sales` that is the rows stored before plus this batch, not
    * the batch size.
    */
  def run(spark: SparkSession, warehouseDir: String): Map[String, Long] = {
    val stockDf = barStock(spark)
    val (salesDf, newWm) = sales(spark)

    // a table this run writes, read back under its declared schema
    def owned(name: String, schema: StructType): DataFrame =
      spark.read.schema(schema).parquet(s"$warehouseDir/$name")
    // the row count comes from the write itself: an observed count(1)
    // over the written rows, delivered with the write's own query — no
    // second scan of the table. A fresh Observation per call: each one
    // is bound to a single query.
    def save(name: String, df: DataFrame, mode: String = "overwrite"): Long = {
      val written = Observation()
      df.observe(written, count(lit(1)).as("rows"))
        .write.mode(mode).parquet(s"$warehouseDir/$name")
      written.get("rows").asInstanceOf[Long]
    }
    // existence via the Hadoop FS API, not java.nio — the warehouse may
    // be hdfs:///s3a://, where a local-path check would silently say "no"
    // and restart saleIDs at 0 (the §8.5 PK violation this offset fixes)
    val hPath = new org.apache.hadoop.fs.Path(s"$warehouseDir/global_sales")
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // rows already stored and the next free saleID, in one aggregate
    val (storedRows, keyOffset) =
      if (fs.exists(hPath)) {
        val r = owned("global_sales", Schemas.globalSales)
          .agg(count(lit(1)), max("saleID")).first()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1) + 1)
      } else (0L, 0L)
    val batchRows = save("global_sales",
      salesDf.withColumn("saleID", col("saleID") + keyOffset), "append")
    // advance watermarks IMMEDIATELY after the sales append commits: a
    // crash in the dimension/poc writes below must not leave old
    // watermarks pointing at already-appended rows (next run would
    // re-append them as undetectable duplicates under fresh saleIDs)
    Watermarks.write(watermarkPath, newWm)
    // dim terms come from ALL stored sales, not just this batch — an
    // empty incremental batch must not shrink the cocktails snapshot
    val allSales = owned("global_sales", Schemas.globalSales)
    val counts = Map(
      "bar_stock" -> save("bar_stock", stockDf),
      "global_sales" -> (storedRows + batchRows),
      "cocktails" -> save("cocktails", cocktails(spark, allSales)))
    // poc reads the saved tables (CTAS-equivalent) so it sees all batches
    val poc = pocAnalysis(allSales,
      owned("cocktails", Schemas.cocktails),
      owned("bar_stock", Schemas.barStock))
    counts + ("poc_analysis" -> save("poc_analysis", poc))
  }
}
