package graft.sources

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 implementation of the Datalake BulkSearch scan (S1,
  * the "engine-grade" mapping in SURVEY.md §2.1): the reference
  * creates one server-side bulk search per configured query and
  * downloads all of them concurrently (`asyncio.gather`,
  * `src/Datalake2Anomali.py:296-336`). Here each configured query is
  * one [[InputPartition]] — Spark schedules the downloads as parallel
  * tasks, which is the same concurrency shape with cluster-grade
  * scheduling, retry, and locality for free.
  *
  * Column pruning ([[SupportsPushDownRequiredColumns]]) mirrors the
  * reference's `query_fields` projection (P1): the reader materializes
  * only the requested columns, and the http transport puts the pruned
  * list straight into the BulkSearch `query_fields` parameter.
  *
  * Transport is pluggable behind [[IocBulkSource.Fetcher]]:
  * `transport=http` is [[graft.pipeline.HttpConnectors.HttpIocFetcher]]
  * (what [[graft.pipeline.HttpConnectors.HttpSources]] reads through),
  * and the default file transport, used by the tests, reads
  * `{path}/{query_hash}.json` files shaped exactly like the API
  * response (FIXTURES.md §1): `{"count": n, "advanced_query_hash": h,
  * "results": [[atom_type, atom_value, hashes_md5, scores[], tags[]?],
  * ...]}`.
  *
  * Usage (file transport):
  * {{{
  * spark.read.format("graft-ioc")
  *   .option("path", fixtureDir)
  *   .option("queries", "qh1,qh2")
  *   .load()
  * }}}
  */
class IocBulkSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-ioc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    IocBulkSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new IocTable(new CaseInsensitiveStringMap(properties))
}

object IocBulkSource {
  /** Full source schema: the decoded positional row + its originating
    * query hash (J1's join key). */
  val schema: StructType = StructType(Seq(
    StructField("query_hash", StringType, nullable = false),
    StructField("atom_type", StringType, nullable = true),
    StructField("atom_value", StringType, nullable = true),
    StructField("hashes_md5", StringType, nullable = true),
    StructField("threat_scores", ArrayType(IntegerType), nullable = true),
    StructField("threat_tags", ArrayType(StringType), nullable = true)))

  /** One bulk-search "download": returns the positional rows for a
    * query hash. Executor-side; implementations must be serializable. */
  trait Fetcher extends Serializable {
    def fetch(queryHash: String): Seq[Seq[Any]]
  }

  /** The canonical positional row width (`threat[0..4]`,
    * `src/Datalake2Anomali.py:342-375`). */
  val PositionalWidth = 5

  /** Wire `query_fields` name → positional slot (the request order the
    * reference always uses, `src/Datalake2Anomali.py:297-300`). */
  val QueryFieldSlot: Map[String, Int] = Map(
    "atom_type" -> 0, "atom_value" -> 1, ".hashes.md5" -> 2,
    "threat_scores" -> 3, "tags" -> 4)

  /** Source column → wire `query_fields` name (P1: what a pruned scan
    * asks the server for). `query_hash` is connector-added, not a wire
    * field. */
  val ColumnQueryField: Map[String, String] = Map(
    "atom_type" -> "atom_type", "atom_value" -> "atom_value",
    "hashes_md5" -> ".hashes.md5", "threat_scores" -> "threat_scores",
    "threat_tags" -> "tags")

  /** Decode a bulk-search response document's `results` rows
    * (FIXTURES.md §1) — shared by the file and HTTP transports. */
  def parseResults(text: String): Seq[Seq[Any]] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    (JsonMethods.parse(text) \ "results") match {
      case JArray(rows) => rows.map {
        case JArray(cells) => cells.map {
          case JString(v) => v
          case JNull => null
          case JArray(xs) => xs.map {
            case JString(t) => t
            case JInt(i) => i.toInt
            case other => other.values
          }
          case other => other.values
        }
        case other => Seq(other.values)
      }
      case _ => Nil
    }
  }

  /** File-backed fetcher: parses `{dir}/{query_hash}.json`. */
  final case class FileFetcher(dir: String) extends Fetcher {
    override def fetch(queryHash: String): Seq[Seq[Any]] =
      parseResults(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/$queryHash.json")), "UTF-8"))
  }
}

private class IocTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"graft-ioc(${options.get("path")})"
  override def schema(): StructType = IocBulkSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new IocScanBuilder(opts)
}

private class IocScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = IocBulkSource.schema
  // P1: the pruned column list — the reference's query_fields pushdown
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new IocScan(options, required)
}

private class IocScan(options: CaseInsensitiveStringMap,
    required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  // T4: one partition per configured query = the asyncio.gather fan-out
  override def planInputPartitions(): Array[InputPartition] =
    options.get("queries").split(",").map(_.trim).filter(_.nonEmpty)
      .map(qh => IocInputPartition(qh): InputPartition)
  /** Transport selection: `transport=file` (default) reads
    * `{path}/{query_hash}.json`; `transport=http` GETs
    * `{url}/{query_hash}` under the endpoint's whole transport conf
    * (the `http` option, [[graft.pipeline.Http.Conf.encode]]) with the
    * PRUNED column list serialized into the request's `query_fields`
    * parameter — P1's pushdown reaching the wire, exactly where the
    * reference puts its projection
    * (`src/Datalake2Anomali.py:297-300,318-320`). */
  override def createReaderFactory(): PartitionReaderFactory = {
    val fetcher: IocBulkSource.Fetcher =
      options.getOrDefault("transport", "file") match {
        case "http" =>
          val wireFields = required.fieldNames.toSeq
            .flatMap(IocBulkSource.ColumnQueryField.get)
          graft.pipeline.HttpConnectors.HttpIocFetcher(
            graft.pipeline.HttpConnectors.DatalakeEndpoint(
              options.get("url"), options.getOrDefault("token", ""),
              Option(options.get("http")).fold(graft.pipeline.Http.Conf())(
                graft.pipeline.Http.Conf.decode)),
            // prune to requested columns; never request nothing (a
            // count(*) scan still needs rows back)
            if (wireFields.nonEmpty) wireFields else Seq("atom_type"))
        case _ => IocBulkSource.FileFetcher(options.get("path"))
      }
    new IocReaderFactory(fetcher, required)
  }
}

private final case class IocInputPartition(queryHash: String)
    extends InputPartition

private class IocReaderFactory(fetcher: IocBulkSource.Fetcher,
    required: StructType) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val qh = p.asInstanceOf[IocInputPartition].queryHash
    new PartitionReader[InternalRow] {
      private val it = fetcher.fetch(qh).iterator
      private var row: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { row = decode(qh, it.next()); true } else false
      override def get(): InternalRow = row
      override def close(): Unit = ()

      /** Positional decode (P2, `threat[0..4]` with the optional 5th
        * column, `src/Datalake2Anomali.py:360-376`), materializing
        * only the pruned columns. */
      private def decode(queryHash: String, cells: Seq[Any]): InternalRow = {
        def cell(i: Int): Any = if (cells.length > i) cells(i) else null
        val values = required.fields.map { f =>
          f.name match {
            case "query_hash" => UTF8String.fromString(queryHash)
            case "atom_type" => utf8(cell(0))
            case "atom_value" => utf8(cell(1))
            case "hashes_md5" => utf8(cell(2))
            case "threat_scores" => cell(3) match {
              case xs: Seq[_] => new GenericArrayData(
                xs.map(x => x.asInstanceOf[Int].asInstanceOf[Any]).toArray)
              case _ => null
            }
            case "threat_tags" => cell(4) match {
              case xs: Seq[_] => new GenericArrayData(
                xs.map(x => UTF8String.fromString(x.toString).asInstanceOf[Any]).toArray)
              case _ => null
            }
            case _ => null
          }
        }
        InternalRow.fromSeq(values.toSeq)
      }
      private def utf8(v: Any): UTF8String =
        if (v == null) null else UTF8String.fromString(v.toString)
    }
  }
}
