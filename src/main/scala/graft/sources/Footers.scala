package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The engine's one view of parquet on disk: what files sit under a path,
  * and what schema and row count their footers declare.
  *
  * Every parquet read of a table, an artifact or a scratch pin goes
  * through [[read]], which hands Spark the schema up front. A schemaless
  * `read.parquet` runs a Spark footer-inference JOB per call; here the
  * schema comes from one driver-side footer read of the path's first data
  * file — the file Spark's own inference would open — cached per
  * (session, path) and replaced whenever the path's [[Listing.signature]]
  * moves. So a table regenerated in place, or a scratch directory
  * overwritten with a different shape, is re-read with its new schema
  * instead of misread through the old one. A partitioned layout needs no
  * special case: with the footer's data columns as the user schema, Spark
  * still discovers the partition columns (and infers their types) from
  * the directory names, on the driver.
  *
  * The walk is a recursive Hadoop `FileSystem.listStatus`, so remote
  * (non-local) paths are listed and measured, never assumed. (Not
  * `listFiles(path, true)`: its `LocatedFileStatus` per file made one
  * walk of the sf0.01 testdata ~200× slower.) A missing path or one with
  * no data file fails with an error naming it.
  */
object Footers {

  /** Every leaf file under a path (the path itself when it is a file),
    * sorted by path, plus the subset Spark's file index reads as data. */
  final case class Listing(files: Seq[FileStatus], dataFiles: Seq[FileStatus]) {
    /** Moves whenever a file under the path is added, removed, resized or
      * rewritten. */
    lazy val signature: String =
      files.map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}").mkString("|")
    def bytes: Long = files.map(_.getLen).sum
  }

  /** Spark's hidden-file rule (`HadoopFSUtils.shouldFilterOutPathName`):
    * `_SUCCESS`, `.crc` siblings, `_temporary` and in-flight copies are
    * not data; `_col=value` partition directories are. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  def listing(s: SparkSession, path: String): Listing =
    walk(s.sessionState.newHadoopConf(), path)

  /** Key for a session cache of anything derived from the files under
    * `path`: (session, path, listing signature), so a path regenerated
    * mid-session keys a fresh entry instead of serving the old one. */
  def cacheKey(s: SparkSession, path: String): String =
    s"${graft.SessionToken(s)}|$path|${listing(s, path).signature}"

  private def walk(conf: Configuration, path: String): Listing = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val files, data = Seq.newBuilder[FileStatus]
    def go(st: FileStatus, visible: Boolean): Unit =
      if (st.isDirectory)
        fs.listStatus(st.getPath).foreach(c => go(c, visible && !hidden(c.getPath.getName)))
      else {
        files += st
        if (visible) data += st
      }
    go(fs.getFileStatus(p), visible = true)
    Listing(files.result().sortBy(_.getPath.toString), data.result().sortBy(_.getPath.toString))
  }

  private def footer(conf: Configuration, f: FileStatus): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
    try r.getFooter finally r.close()
  }

  /** (session, path) → (listing signature, footer schema). One entry per
    * path: a new signature replaces the old entry. */
  private val schemas = new ConcurrentHashMap[String, (String, StructType)]()

  /** The path's schema as `spark.read.parquet(path).schema` infers it
    * (data columns only for a partitioned layout), without the job. */
  def schema(s: SparkSession, path: String): StructType = {
    val conf = s.sessionState.newHadoopConf()
    val l = walk(conf, path)
    val key = s"${graft.SessionToken(s)}|$path"
    val hit = schemas.get(key)
    if (hit != null && hit._1 == l.signature) hit._2
    else {
      val first = l.dataFiles.headOption.getOrElse(
        throw new IllegalArgumentException(s"no parquet data file under $path"))
      val sch = nullable(ParquetFileFormat.readSchemaFromFooter(
        new Footer(first.getPath, footer(conf, first)),
        new ParquetToSparkSchemaConverter(s.sessionState.conf))).asInstanceOf[StructType]
      schemas.put(key, (l.signature, sch))
      sch
    }
  }

  /** Every field, element and value nullable, as a file source reads them
    * (Spark's own `asNullable` is not public). */
  private def nullable(t: DataType): DataType = t match {
    case st: StructType =>
      StructType(st.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Row count from the footers' block headers: no scan job, no Spark
    * stage — a catalog's table statistic for pipelines that need a size
    * bound (e.g. sizing q22d's bloom sketch) without a pass over the
    * data. */
  def rowCount(s: SparkSession, path: String): Long = {
    val conf = s.sessionState.newHadoopConf()
    walk(conf, path).dataFiles.map(f => footer(conf, f).getBlocks.stream()
      .mapToLong(_.getRowCount).sum()).sum
  }

  /** `path` read with its footer schema: the plan is built off the
    * listing alone, with zero jobs. */
  def read(s: SparkSession, path: String): DataFrame =
    s.read.schema(schema(s, path)).parquet(path)
}
