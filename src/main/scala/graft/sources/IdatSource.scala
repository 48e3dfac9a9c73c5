package graft.sources

import java.util.{Map => JMap}

import graft.io.Idat
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation,
  CountStar}
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsPushDownAggregates, SupportsPushDownFilters,
  SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter,
  In}
import org.apache.spark.sql.types.{FloatType, IntegerType, LongType,
  ShortType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** `spark.read.format("idat")` — DataSource V2 for Illumina IDAT v3
  * (SURVEY §4.3(4): the promotion from `binaryFile` + `mapPartitions`
  * once file counts grow).
  *
  * Scale properties the binaryFile path could not give:
  *   - **partition planning per file**: each IDAT file is one
  *     InputPartition, so a 100k-pair ingest schedules like any other
  *     file scan (locality hints, speculative retry per file) instead
  *     of shipping whole files as byte-array rows through a shuffle-
  *     prone binary column.
  *   - **section pushdown**: the IDAT section-offset directory
  *     (reference read_idat.py:302-322 reads it for exactly this
  *     reason) lets the reader seek to just the sections the query
  *     needs. Column pruning maps to sections: a
  *     `select(illumina_id, mean)` reads the ID + MEAN byte ranges and
  *     never touches STD_DEV/NUM_BEADS/RUN_INFO; a bare `count()` is
  *     ANSWERED from the 4-byte NUM_SNPS_READ section via COUNT(*)
  *     aggregate pushdown — one row per file, no per-probe row
  *     iteration at all. On object stores each section is one range
  *     request instead of a whole-object GET.
  *
  * All byte parsing, gzip included, is [[Idat.open]]'s: a gzipped file
  * is gunzipped into memory and read through the same section reader.
  *
  * Schema: one row per probe —
  * `(path, barcode, chip_type, illumina_id, mean, std_dev, n_beads)`.
  */
class IdatDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "idat"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    IdatTable.Schema

  override def getTable(schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new IdatTable(IdatTable.pathsFrom(properties))
}

object IdatTable {
  val Schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("barcode", StringType, nullable = true),
    StructField("chip_type", StringType, nullable = true),
    StructField("illumina_id", IntegerType, nullable = false),
    StructField("mean", FloatType, nullable = false),
    StructField("std_dev", FloatType, nullable = false),
    StructField("n_beads", ShortType, nullable = false)))

  /** Paths from reader options: `.load(p1, p2, …)` arrives as a JSON
    * array under "paths" plus optionally a single "path". */
  def pathsFrom(properties: JMap[String, String]): Seq[String] = {
    import org.json4s.{JArray, JString}
    val multi = Option(properties.get("paths")).toSeq.flatMap { s =>
      org.json4s.jackson.JsonMethods.parse(s) match {
        case JArray(vs) => vs.collect { case JString(x) => x }
        case _ => Nil
      }
    }
    val single = Option(properties.get("path")).toSeq
    (multi ++ single).distinct
  }
}

class IdatTable(paths: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"idat(${paths.take(3).mkString(",")}…)"
  override def schema(): StructType = IdatTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new IdatScanBuilder(paths)
}

/** Pushes `path` / `barcode` equality and IN filters into the source:
  * a path filter prunes whole FILES at planning time (a sheet-driven
  * ingest that targets two of 100k files opens two), and a barcode
  * filter is decided from the tiny barcode section alone — a
  * non-matching file's data sections are never read. Both pushdowns
  * are exact, so Spark does not re-evaluate the pushed predicates. */
class IdatScanBuilder(paths: Seq[String])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates {
  private var required: StructType = IdatTable.Schema
  private var pushed: Array[Filter] = Array.empty
  private var pathKeep: Option[Set[String]] = None
  private var barcodeKeep: Option[Set[String]] = None
  private var countStar = false

  /** COUNT(*) pushdown (partial — Spark sums the per-file counts): the
    * probe count IS the NUM_SNPS_READ header field, so a corpus-wide
    * census reads 4 bytes per file instead of iterating a million
    * emitted empty rows per file. Pushed filters compose: a barcode
    * miss contributes 0 from its barcode section alone. Grouped or
    * non-count aggregates stay in Spark. */
  override def supportCompletePushDown(agg: Aggregation): Boolean = false
  override def pushAggregation(agg: Aggregation): Boolean = {
    val ok = agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions()(0).isInstanceOf[CountStar]
    if (ok) countStar = true
    ok
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  private def strings(vs: Array[Any]): Option[Set[String]] =
    if (vs.forall(_.isInstanceOf[String]))
      Some(vs.map(_.asInstanceOf[String]).toSet)
    else None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def keep(cur: Option[Set[String]], vs: Set[String]) =
      Some(cur.fold(vs)(_ intersect vs))
    val residual = filters.filter {
      case EqualTo("path", v: String) =>
        pathKeep = keep(pathKeep, Set(v)); false
      case In("path", vs) if strings(vs).isDefined =>
        pathKeep = keep(pathKeep, strings(vs).get); false
      case EqualTo("barcode", v: String) =>
        barcodeKeep = keep(barcodeKeep, Set(v)); false
      case In("barcode", vs) if strings(vs).isDefined =>
        barcodeKeep = keep(barcodeKeep, strings(vs).get); false
      case _ => true
    }
    pushed = filters.diff(residual)
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new IdatScan(paths, required, pathKeep, barcodeKeep, countStar)
}

case class IdatInputPartition(path: String) extends InputPartition

class IdatScan(paths: Seq[String], required: StructType,
    pathKeep: Option[Set[String]], barcodeKeep: Option[Set[String]],
    countStar: Boolean) extends Scan with Batch {
  override def readSchema(): StructType =
    if (countStar)
      StructType(Seq(StructField("count(*)", LongType, nullable = false)))
    else required
  override def toBatch: Batch = this

  override def description(): String = {
    def fmt(k: String, o: Option[Set[String]]) =
      o.map(s => s"$k IN ${s.mkString("(", ",", ")")}")
    val fs = Seq(fmt("path", pathKeep), fmt("barcode", barcodeKeep))
      .flatten.mkString(", ")
    val agg = if (countStar) "PushedAggregation: [COUNT(*)], " else ""
    s"IdatScan ${agg}PushedFilters: [$fs], " +
      s"ReadSchema: ${readSchema().simpleString}"
  }

  /** One partition per file; globs and directories expand here on the
    * driver (listing only — no file bytes are read at planning time). */
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    paths.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      val matches = Option(fs.globStatus(hp)).getOrElse(Array.empty).toSeq
      // a path matching nothing is an ERROR, as it is for every file
      // source — silently planning zero partitions for it would let an
      // ingest proceed with samples missing (the binaryFile path this
      // source replaced threw here too)
      require(matches.nonEmpty, s"Path does not exist: $p")
      matches.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq
            .filter(f => f.isFile && f.getPath.getName.contains(".idat"))
            .map(_.getPath.toString)
        else Seq(st.getPath.toString)
      }
    }.distinct
      // pushed path filter: prune whole files before scheduling (the
      // column value is exactly this normalized path string)
      .filter(p => pathKeep.forall(_.contains(p)))
      .map(IdatInputPartition(_): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new IdatReaderFactory(required,
      new SerializableConfiguration(
        SparkSession.active.sparkContext.hadoopConfiguration),
      barcodeKeep, countStar)
}

class IdatReaderFactory(required: StructType,
    conf: SerializableConfiguration, barcodeKeep: Option[Set[String]],
    countStar: Boolean) extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] =
    new IdatPartitionReader(partition.asInstanceOf[IdatInputPartition].path,
      required, conf.value, barcodeKeep, countStar)
}

/** Reads one file through [[Idat.open]]. A pushed barcode filter is
  * decided from the barcode section alone — a miss reads no other
  * section. A match reads NUM_SNPS_READ; a COUNT(*) scan emits that
  * count as its one row (0 on a miss) and opens no data section, a row
  * scan reads just the sections its pruned schema names. */
class IdatPartitionReader(pathStr: String, required: StructType,
    conf: Configuration, barcodeKeep: Option[Set[String]],
    countStar: Boolean) extends PartitionReader[InternalRow] {

  // column ordinals resolved ONCE — a string match per field per row
  // would cost a million-probe file ~7M comparisons in the hot loop
  private val colIds: Array[Int] =
    if (countStar) Array.empty
    else required.fieldNames.map(IdatTable.Schema.fieldIndex)
  private def need(col: String) =
    !countStar && required.fieldNames.contains(col)

  private val pathUtf = UTF8String.fromString(pathStr)
  private var n = 0
  private var idx = -1
  private var ids: Array[Int] = _
  private var means: Array[Float] = _
  private var stds: Array[Float] = _
  private var beads: Array[Short] = _
  private var barcode: UTF8String = _
  private var chipType: UTF8String = _

  locally {
    val hp = new Path(pathStr)
    val fs = hp.getFileSystem(conf)
    val in = fs.open(hp)
    try {
      val idat = Idat.open(fs.getFileStatus(hp).getLen,
        in.readFully(_, _, _, _), pathStr)
      val bc =
        if (barcodeKeep.isDefined || need("barcode")) idat.barcode else null
      if (barcodeKeep.forall(_.contains(bc))) {
        n = idat.nSnpsRead
        barcode = UTF8String.fromString(bc)
        if (need("chip_type")) chipType = UTF8String.fromString(idat.chipType)
        if (need("illumina_id")) ids = idat.illuminaIds(n)
        if (need("mean")) means = idat.means(n)
        if (need("std_dev")) stds = idat.stdDevs(n)
        if (need("n_beads")) beads = idat.nBeads(n)
      }
    } finally in.close()
  }

  override def next(): Boolean = {
    idx += 1
    idx < (if (countStar) 1 else n)
  }

  override def get(): InternalRow =
    if (countStar) new GenericInternalRow(Array[Any](n.toLong))
    else {
      val vals = new Array[Any](colIds.length)
      var f = 0
      while (f < colIds.length) {
        vals(f) = colIds(f) match {
          case 0 => pathUtf
          case 1 => barcode
          case 2 => chipType
          case 3 => ids(idx)
          case 4 => means(idx)
          case 5 => stds(idx)
          case 6 => beads(idx)
        }
        f += 1
      }
      new GenericInternalRow(vals)
    }

  override def close(): Unit = ()
}
