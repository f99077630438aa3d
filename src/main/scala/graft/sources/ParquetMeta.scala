package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{GroupType, MessageType, PrimitiveType, Type}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.types._

/** DuckDB's parquet-introspection table functions — `parquet_schema`,
  * `parquet_metadata`, `parquet_file_metadata`, `parquet_kv_metadata`
  * (reachable through the reference passthrough `db/db.go:70`; DuckDB
  * ships them with its parquet reader). Column shapes match DuckDB 1.0
  * exactly (probed per function); values come from the SAME parquet
  * footers DuckDB reads, so they agree wherever the field is
  * format-defined (schema nodes, row-group stats, offsets, codecs).
  * Engine-specific renderings are documented inline.
  *
  * Scale posture: globs expand on the driver (file listing only), then
  * footers are read on EXECUTORS — one task per file batch, no data pages
  * touched. A 100 TB table of thousands of part files costs one
  * metadata-read job, not a driver loop.
  */
object ParquetMeta {

  /** Expand each path (possibly a glob or a directory) to concrete
    * parquet files, driver-side listing only. */
  private def expand(spark: SparkSession, paths: Seq[String]): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      val matched = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Nil)
      if (matched.isEmpty)
        throw new IllegalArgumentException(s"parquet metadata: no files match $p")
      matched.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).filter(s => !s.isDirectory &&
              s.getPath.getName.endsWith(".parquet")).map(_.getPath.toString).toSeq
        else Seq(st.getPath.toString)
      }
    }
  }

  /** Hadoop Configuration is not Serializable; ship it via its Writable
    * contract (what Spark's own SerializableConfiguration does — that
    * class is private[spark], so a local twin keeps us on public API). */
  private class ShippedConf(@transient var value: Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit =
      value.write(out)
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  private def distribute(spark: SparkSession, files: Seq[String],
      schema: StructType)(rows: (String, Configuration) => Seq[Row]): DataFrame = {
    // broadcast the SESSION hadoop conf: footer reads on executors must see
    // the same spark.hadoop.* settings (s3a/abfs/gs credentials, endpoints)
    // that normal parquet scans of the same paths resolve with
    val confBc = spark.sparkContext.broadcast(
      new ShippedConf(spark.sessionState.newHadoopConf()))
    val rdd = spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, 64)))
      .flatMap { f => rows(f, confBc.value.value) }
    spark.createDataFrame(rdd, schema)
  }

  private def fld(name: String, dt: DataType): StructField =
    StructField(name, dt, nullable = true)

  /** DuckDB renders bare filesystem paths and thrift physical-type names
    * (BYTE_ARRAY where parquet-java says BINARY). */
  private def bare(file: String): String = file.replaceFirst("^file:/*", "/")
  private def physName(p: PrimitiveType): String =
    p.getPrimitiveTypeName.name match {
      case "BINARY" => "BYTE_ARRAY"
      case other => other
    }

  /** The file's footer alone (no row-group or page reads). */
  private def openFooter(file: String, conf: Configuration): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromPath(new Path(file), conf),
      ParquetMetadataConverter.NO_FILTER)

  // --- parquet_schema ------------------------------------------------------

  private val schemaSchema = StructType(Seq(
    fld("file_name", StringType), fld("name", StringType),
    fld("type", StringType), fld("type_length", StringType),
    fld("repetition_type", StringType), fld("num_children", LongType),
    fld("converted_type", StringType), fld("scale", LongType),
    fld("precision", LongType), fld("field_id", LongType),
    fld("logical_type", StringType)))

  /** One row per schema node, depth-first preorder like DuckDB. The root
    * row carries the child count; primitives carry the physical type.
    * `logical_type` is parquet-java's annotation rendering (DuckDB prints
    * its own spelling of the same annotation — engine-specific). */
  def schemaDf(spark: SparkSession, paths: Seq[String]): DataFrame =
    distribute(spark, expand(spark, paths), schemaSchema) { (file, conf) =>
      val footer = openFooter(file, conf)
      val root: MessageType = footer.getFileMetaData.getSchema
      val out = Seq.newBuilder[Row]
      def id(t: Type): Any =
        Option(t.getId).map(i => i.intValue().toLong).orNull
      def walk(t: Type, isRoot: Boolean): Unit = t match {
        case g: GroupType =>
          out += Row(bare(file), g.getName, null, null,
            if (isRoot) "REQUIRED" else g.getRepetition.name,
            g.getFieldCount.toLong, null, null, null, id(g), null)
          g.getFields.forEach(f => walk(f, isRoot = false))
        case p: PrimitiveType =>
          val tlen = if (p.getTypeLength > 0) p.getTypeLength.toString else null
          val conv = Option(p.getOriginalType).map(_.name).orNull
          val (scale, prec) = Option(p.getDecimalMetadata)
            .map(d => (d.getScale.toLong, d.getPrecision.toLong))
            .getOrElse((null, null))
          val logical = Option(p.getLogicalTypeAnnotation).map(_.toString).orNull
          out += Row(bare(file), p.getName, physName(p), tlen,
            p.getRepetition.name, null, conv, scale, prec, id(p), logical)
      }
      walk(root, isRoot = true)
      out.result()
    }

  // --- parquet_metadata ----------------------------------------------------

  private val metadataSchema = StructType(Seq(
    fld("file_name", StringType), fld("row_group_id", LongType),
    fld("row_group_num_rows", LongType), fld("row_group_num_columns", LongType),
    fld("row_group_bytes", LongType), fld("column_id", LongType),
    fld("file_offset", LongType), fld("num_values", LongType),
    fld("path_in_schema", StringType), fld("type", StringType),
    fld("stats_min", StringType), fld("stats_max", StringType),
    fld("stats_null_count", LongType), fld("stats_distinct_count", LongType),
    fld("stats_min_value", StringType), fld("stats_max_value", StringType),
    fld("compression", StringType), fld("encodings", StringType),
    fld("index_page_offset", LongType), fld("dictionary_page_offset", LongType),
    fld("data_page_offset", LongType), fld("total_compressed_size", LongType),
    fld("total_uncompressed_size", LongType),
    fld("key_value_metadata", MapType(BinaryType, BinaryType))))

  /** One row per (row group × column chunk) with the footer's statistics.
    * `stats_min`/`stats_max` (the legacy fields) are populated only for
    * physical types whose sort order is signed-comparable — the same rule
    * both parquet-cpp and parquet-mr apply when writing them — so they
    * match DuckDB's reading of the written file. `encodings` joins the
    * chunk's encoding set sorted by name. */
  def metadataDf(spark: SparkSession, paths: Seq[String]): DataFrame =
    distribute(spark, expand(spark, paths), metadataSchema) { (file, conf) =>
      val footer = openFooter(file, conf)
      val out = Seq.newBuilder[Row]
      val groups = footer.getBlocks
      var rg = 0
      groups.forEach { block =>
        var ci = 0
        block.getColumns.forEach { c =>
          val stats = c.getStatistics
          val signedPhysical = physName(c.getPrimitiveType) match {
            case "BYTE_ARRAY" | "FIXED_LEN_BYTE_ARRAY" | "INT96" => false
            case _ => true
          }
          def render(v: => Any): String =
            try {
              val x = v
              if (x == null) null
              else x match {
                case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
                case other => other.toString
              }
            } catch { case _: Throwable => null }
          val minV = if (stats != null && !stats.isEmpty) render(stats.genericGetMin) else null
          val maxV = if (stats != null && !stats.isEmpty) render(stats.genericGetMax) else null
          val nulls: Any =
            if (stats != null && stats.isNumNullsSet) stats.getNumNulls else null
          val dictOff: Any =
            if (c.getDictionaryPageOffset > 0) c.getDictionaryPageOffset else null
          val encodings = c.getEncodings.toArray.map(_.toString).sorted.mkString(", ")
          out += Row(bare(file), rg.toLong, block.getRowCount,
            block.getColumns.size.toLong, block.getTotalByteSize, ci.toLong,
            c.getStartingPos + c.getTotalSize, c.getValueCount,
            String.join(".", c.getPath.toArray: _*),
            physName(c.getPrimitiveType),
            if (signedPhysical) minV else null,
            if (signedPhysical) maxV else null,
            nulls, null, minV, maxV,
            c.getCodec.name, encodings, null, dictOff,
            c.getFirstDataPageOffset, c.getTotalSize, c.getTotalUncompressedSize,
            Map.empty[Array[Byte], Array[Byte]])
          ci += 1
        }
        rg += 1
      }
      out.result()
    }

  // --- parquet_file_metadata -----------------------------------------------

  private val fileMetaSchema = StructType(Seq(
    fld("file_name", StringType), fld("created_by", StringType),
    fld("num_rows", LongType), fld("num_row_groups", LongType),
    fld("format_version", LongType), fld("encryption_algorithm", StringType),
    fld("footer_signing_key_metadata", StringType)))

  def fileMetadataDf(spark: SparkSession, paths: Seq[String]): DataFrame =
    distribute(spark, expand(spark, paths), fileMetaSchema) { (file, conf) =>
      val footer = openFooter(file, conf)
      val fm = footer.getFileMetaData
      val rows: Long = footer.getBlocks.size.toLong
      Seq(Row(bare(file), fm.getCreatedBy,
        footer.getBlocks.stream.mapToLong(_.getRowCount).sum, rows,
        footerVersion(file, conf), null, null))
    }

  /** The thrift FileMetaData's `version` field (i32, field id 1) —
    * parquet-java's object model drops it, so read it straight from the
    * footer bytes: [footer thrift][4-byte LE length]["PAR1"], compact
    * protocol, first field header 0x15 when version leads. Null when the
    * layout is unexpected — never a guess. */
  private def footerVersion(file: String, conf: Configuration): Any = {
    try {
      val p = new Path(file)
      val fs = p.getFileSystem(conf)
      val len = fs.getFileStatus(p).getLen
      val in = fs.open(p)
      try {
        in.seek(len - 8)
        val tail = new Array[Byte](8)
        in.readFully(tail)
        val footerLen = (tail(0) & 0xff) | ((tail(1) & 0xff) << 8) |
          ((tail(2) & 0xff) << 16) | ((tail(3) & 0xff) << 24)
        if (!(tail(4) == 'P' && tail(5) == 'A' && tail(6) == 'R' && tail(7) == '1'))
          return null
        in.seek(len - 8 - footerLen)
        val head = new Array[Byte](math.min(6, footerLen))
        in.readFully(head)
        // compact-protocol field header: (fieldIdDelta << 4) | type; the
        // version field is id 1, type i32 (0x5) → 0x15, then zigzag varint
        if (head(0) != 0x15) return null
        var i = 1; var shift = 0; var acc = 0L
        var done = false
        while (!done && i < head.length) {
          val b = head(i) & 0xff
          acc |= (b & 0x7fL) << shift
          shift += 7
          done = (b & 0x80) == 0
          i += 1
        }
        if (!done) null else (acc >>> 1) ^ -(acc & 1) // zigzag decode
      } finally in.close()
    } catch { case _: Throwable => null }
  }

  // --- parquet_kv_metadata ---------------------------------------------------

  private val kvSchema = StructType(Seq(
    fld("file_name", StringType), fld("key", BinaryType),
    fld("value", BinaryType)))

  def kvMetadataDf(spark: SparkSession, paths: Seq[String]): DataFrame =
    distribute(spark, expand(spark, paths), kvSchema) { (file, conf) =>
      val footer = openFooter(file, conf)
      val out = Seq.newBuilder[Row]
      footer.getFileMetaData.getKeyValueMetaData.forEach { (k, v) =>
        out += Row(bare(file), k.getBytes("UTF-8"),
          if (v == null) null else v.getBytes("UTF-8"))
      }
      out.result()
    }
}
