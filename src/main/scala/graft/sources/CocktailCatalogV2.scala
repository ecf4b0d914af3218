package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.pipeline.Schemas
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, StringContains, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Full-dress DataSource V2 for the drink-catalog source — the (c) option
  * of SURVEY.md §2.1 S5 (the reference's REST enrichment at
  * build_database.py:28-46), expressed the way a production HTTP source
  * plugs into Catalyst:
  *
  *   - declared schema (no inference) — the API's stable field contract,
  *     `Schemas.cocktailsApi`, shared with the pipeline's catalog readers;
  *   - column pruning pushdown: `ReadSchema` in the plan shows only what
  *     the query needs (the reference projects 7 of ~50 fields AFTER
  *     transfer; a DSv2 source never transfers them);
  *   - filter pushdown: EqualTo / StringContains / StringStartsWith on
  *     `strDrink` are absorbed by the scan — the literal analog of
  *     turning a predicate into `search.php?s={term}` API calls instead
  *     of fetching the world and filtering in the engine;
  *   - partition planning: the catalog splits into `partitions` input
  *     slices read in parallel (the distributed form of the reference's
  *     sequential per-drink loop).
  *
  * Offline/zero-egress, so the transport is a local JSON catalog fixture
  * (FIXTURES.md F3) standing in for the HTTP endpoint; everything from
  * the Scan interface up is exactly what the live source would be.
  *
  * Usage: spark.read.format("graft.sources.CocktailCatalogV2")
  *   .option("path", ...).option("partitions", 4).load()
  */
class CocktailCatalogV2 extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Schemas.cocktailsApi

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // properties arrive case-SENSITIVE here; re-wrap to honor the DSv2
    // case-insensitive option contract (.option("Path", ...) must work)
    val opts = new CaseInsensitiveStringMap(properties)
    val partitions = Option(opts.get("partitions")).map(_.toInt).getOrElse(1)
    require(partitions >= 1, s"option 'partitions' must be >= 1, got $partitions")
    new CocktailCatalogTable(opts.get("path"), partitions)
  }
}

class CocktailCatalogTable(path: String, partitions: Int)
    extends Table with SupportsRead {
  require(path != null, "option 'path' is required")
  override def name(): String = s"cocktail_catalog($path)"
  override def schema(): StructType = Schemas.cocktailsApi
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CocktailScanBuilder(path, partitions)
}

class CocktailScanBuilder(path: String, partitions: Int)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = Schemas.cocktailsApi
  private var pushed: Array[Filter] = Array.empty

  /** A filter is absorbable iff the "API" can answer it: name searches. */
  private def absorbable(f: Filter): Boolean = f match {
    case EqualTo("strDrink", _: String) => true
    case StringContains("strDrink", _) => true
    case StringStartsWith("strDrink", _) => true
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (abs, residual) = filters.partition(absorbable)
    pushed = abs
    residual // Spark evaluates these post-scan
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new CocktailScan(path, partitions, required, pushed)
}

class CocktailScan(path: String, partitions: Int, required: StructType,
    pushed: Array[Filter]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"CocktailCatalogV2 path=$path pushed=${pushed.mkString(",")}"

  override def planInputPartitions(): Array[InputPartition] =
    (0 until partitions).map(i =>
      CocktailInputPartition(path, i, partitions): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new CocktailReaderFactory(required, pushed)
}

case class CocktailInputPartition(path: String, slice: Int, of: Int)
    extends InputPartition

class CocktailReaderFactory(required: StructType, pushed: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val cp = p.asInstanceOf[CocktailInputPartition]
    new CocktailPartitionReader(cp, required, pushed)
  }
}

/** Executor-side reader: streams its slice of the catalog (element index
  * mod partition count), applies the absorbed name-search filters,
  * projects to the pruned schema. Rows are produced LAZILY — nothing is
  * buffered; the per-reader cost is one parse of the catalog (acceptable
  * for a fixture; the live HTTP source this models would fetch only its
  * slice's terms, one connection per partition).
  */
class CocktailPartitionReader(part: CocktailInputPartition,
    required: StructType, pushed: Array[Filter])
    extends PartitionReader[InternalRow] {

  private val fields = required.fields.map(_.name)

  private val rows: Iterator[InternalRow] = {
    val root = new ObjectMapper().readTree(new java.io.File(part.path))
    root.elements().asScala.zipWithIndex
      .collect { case (node, idx)
          if idx % part.of == part.slice && matches(node) =>
        val vals = new Array[Any](fields.length)
        var i = 0
        while (i < fields.length) {
          vals(i) = str(node, fields(i)).map(UTF8String.fromString).orNull
          i += 1
        }
        new GenericInternalRow(vals): InternalRow
      }
  }

  private def str(node: JsonNode, field: String): Option[String] = {
    val v = node.get(field)
    if (v == null || v.isNull) None else Some(v.asText())
  }

  private def matches(node: JsonNode): Boolean = pushed.forall {
    case EqualTo("strDrink", v: String) => str(node, "strDrink").contains(v)
    case StringContains("strDrink", v) => str(node, "strDrink").exists(_.contains(v))
    case StringStartsWith("strDrink", v) => str(node, "strDrink").exists(_.startsWith(v))
    case _ => true
  }

  private var current: InternalRow = _
  override def next(): Boolean = {
    if (rows.hasNext) { current = rows.next(); true } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
