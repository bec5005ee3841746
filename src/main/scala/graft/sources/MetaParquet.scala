package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.types._

import Snapshots.PartitionMeta

/** Direct (driver-side, no Spark job) parquet reader and writer for the
  * snapshot store's METADATA tables — strictly metadata-scale payloads: the
  * per-partition lineage rows (nParts rows per commit) and the one-row
  * snapshot manifests. This is the one module that knows their schemas.
  *
  * Why: a Spark job costs ~0.2-0.3 s of scheduler overhead on this engine's
  * local harness, and these tables hold a few rows per commit. Writing them
  * through Spark cost two jobs per commit (a `toDF.write.parquet` append
  * and a `coalesce(1)` manifest write); reading them through Spark cost a
  * schema-inference job plus a collect for every resume, winner resolution
  * and expiry — 5 jobs to build one `readData` frame. Per guide §1.2 the
  * distributed algorithm should not pay distributed-execution fixed costs
  * for driver-sized data; Iceberg reads its manifests on the driver for the
  * same reason. The files are written with parquet-mr (ships with Spark)
  * using the same optional-field schema Spark itself produces, so any
  * parquet reader sees them as plain part files.
  *
  * Crash safety: a file is materialized under a dot-prefixed temp name and
  * published with a same-directory ATOMIC_MOVE, matching the commit
  * discipline of [[Snapshots]]. The readers skip dot- and
  * underscore-prefixed names exactly as Spark's file index does, so a torn
  * temp file, a claim lock or a tombstone is never read as table content.
  *
  * [[rowWriter]] is the one exception to "driver-side": it is the parquet-mr
  * writer the snapshot write tasks open for the DATA files, kept beside
  * the metadata writer so that one module opens every file of the store.
  */
private[sources] object MetaParquet {

  private val lineageSchema: MessageType = MessageTypeParser.parseMessageType(
    """message lineage {
      |  optional int64 snapshot_id;
      |  optional int32 part_id;
      |  optional int64 row_count;
      |  optional int64 lineage_hash;
      |}""".stripMargin)

  private val manifestSchema: MessageType = MessageTypeParser.parseMessageType(
    """message manifest {
      |  optional int64 snapshot_id;
      |  optional binary ts (STRING);
      |  optional binary operation (STRING);
      |  optional int32 n_partitions;
      |}""".stripMargin)

  private def conf(): Configuration = {
    val c = new Configuration(false)
    // raw local fs: no .crc sidecar churn for files we atomically move
    c.set("fs.file.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }

  /** A writer of Spark rows to the local file `path`, through Spark's
    * own `ParquetWriteSupport`: the footer carries the Spark schema, so
    * `spark.read.parquet` reads back exactly `schema`'s types. `sqlConf`
    * holds the SQL keys the write support reads. This is the write path of
    * the snapshot DATA files, called in write tasks; it opens the file
    * with `java.nio` and no Hadoop filesystem, and replaces a file left at
    * `path` (a crashed attempt's) rather than failing on it. */
  def rowWriter(path: Path, schema: StructType, codec: CompressionCodecName,
                sqlConf: Map[String, String]): ParquetWriter[InternalRow] = {
    val c = new Configuration(false)
    sqlConf.foreach { case (k, v) => c.set(k, v) }
    ParquetWriteSupport.setSchema(schema, c)
    new RowWriterBuilder(new LocalOutputFile(path)).withConf(c).withCompressionCodec(codec)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
  }

  private final class RowWriterBuilder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** Write `rows` (values in `schema`'s column order) to `target`: a
    * dot-prefixed temp file, then a same-directory ATOMIC_MOVE. */
  private def writeRows(schema: MessageType, target: Path, rows: Seq[Seq[Any]]): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = target.getParent.resolve(s".${target.getFileName}.inprogress-${java.util.UUID.randomUUID}")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(tmp.toUri))
      .withType(schema)
      .withConf(conf())
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { r =>
      val g = new SimpleGroup(schema)
      schema.getFields.asScala.map(_.getName).zip(r).foreach {
        case (n, v: Long) => g.add(n, v)
        case (n, v: Int) => g.add(n, v)
        case (n, v) => g.add(n, v.toString)
      }
      writer.write(g)
    }
    finally writer.close()
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The rows of every visible file in `dir` (none when it is missing), in
    * `schema`'s column order: the mirror of [[writeRows]]. Dot- and
    * underscore-prefixed names are hidden, as they are to Spark. */
  private def readRows(schema: MessageType, dir: String): Vector[Row] = {
    val files = Option(new java.io.File(dir).listFiles).toVector.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    val cols = columns(schema)
    files.sortBy(_.getName).flatMap { f =>
      val reader = ParquetReader.builder(new GroupReadSupport(),
        new org.apache.hadoop.fs.Path(f.toURI)).withConf(conf()).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
        Row.fromSeq(cols.map {
          case (n, LongType) => g.getLong(n, 0)
          case (n, IntegerType) => g.getInteger(n, 0)
          case (n, _) => g.getString(n, 0)
        })
      }.toVector
      finally reader.close()
    }
  }

  /** Column names of `schema` with the Spark types `spark.read.parquet`
    * infers for them. */
  private def columns(schema: MessageType): Vector[(String, DataType)] =
    schema.getFields.asScala.toVector.map(f => f.getName ->
      (f.asPrimitiveType.getPrimitiveTypeName match {
        case PrimitiveTypeName.INT64 => LongType
        case PrimitiveTypeName.INT32 => IntegerType
        case _ => StringType
      }))

  /** Append one lineage part-file with the given rows (atomic publish). */
  def appendLineage(partitionsDir: String, rows: Seq[PartitionMeta]): Unit =
    writeRows(lineageSchema, Paths.get(partitionsDir,
      s"part-meta-${java.util.UUID.randomUUID}.parquet"),
      rows.map(m => Seq[Any](m.snapshotId, m.partId, m.rowCount, m.lineageHash)))

  /** Write the one-row manifest to `target` (atomic publish). */
  def writeManifest(target: Path, snapshotId: Long, ts: String,
                    operation: String, nParts: Int): Unit =
    writeRows(manifestSchema, target, Seq(Seq(snapshotId, ts, operation, nParts)))

  /** Every lineage row under `partitionsDir`. */
  def readLineage(partitionsDir: String): Vector[PartitionMeta] =
    readRows(lineageSchema, partitionsDir).map(r =>
      PartitionMeta(r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))

  /** The lineage table as a DataFrame over driver-read rows. */
  def lineageFrame(spark: SparkSession, partitionsDir: String): DataFrame =
    frame(spark, lineageSchema, partitionsDir)

  /** The manifest table as a DataFrame over driver-read rows. */
  def manifestFrame(spark: SparkSession, snapshotsDir: String): DataFrame =
    frame(spark, manifestSchema, snapshotsDir)

  private def frame(spark: SparkSession, schema: MessageType, dir: String): DataFrame =
    spark.createDataFrame(readRows(schema, dir).asJava,
      StructType(columns(schema).map { case (n, t) => StructField(n, t) }))
}
