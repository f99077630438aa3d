package graft.engine

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation.hasUnevaluableExpr
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.execution.datasources._
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Decoded driver images of small parquet file sets, one cache per
  * gateway, and its session's optimizer rule that reads through them.
  *
  * An image is keyed by its read schema and each file's (path, length,
  * mtime), so a changed file set is another key and an image is never
  * stale. A file set whose rows decode past [[SqlGateway.DriverImageBytes]]
  * is remembered as too big, so it is not decoded on every statement.
  * Entries are evicted least recently used past four images' worth of
  * bytes. */
final class DriverImages {
  import DriverImages._

  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)
  private var bytes, hits, misses = 0L

  /** `/status`: bytes held, entries, and lookups answered without and
    * with reading files. */
  def stats: Map[String, Long] = synchronized {
    Map("image_bytes" -> bytes, "image_entries" -> entries.size.toLong,
      "image_hits" -> hits, "image_misses" -> misses)
  }

  /** The rows of parquet `files` under `schema`, cached or decoded on the
    * driver by Spark's parquet reader with `session`'s conf; None past the
    * bound, and the caller runs a job. */
  def rows(session: SparkSession, schema: StructType, files: Seq[FileStatus])
      : Option[Seq[InternalRow]] = {
    if (files.iterator.map(_.getLen).sum > Bound) return None
    val key = Key(schema, files.map(fileKey).toSet)
    synchronized {
      val e = Option(entries.get(key))
      if (e.isDefined) hits += 1 else misses += 1
      e
    }.map(_.rows).getOrElse {
      val image = decode(session, schema, files)
      synchronized(put(key, image))
      image
    }
  }

  /** `file` was just written holding `added`, and joins the file set
    * `base` (Nil for a new version): when the cache holds `base`'s image,
    * the new set's image is that plus `added`, so the next read is warm. */
  def written(schema: StructType, base: Seq[FileStatus], file: FileStatus,
      added: Seq[InternalRow]): Unit = synchronized {
    val prior = if (base.isEmpty) Some(Entry(Some(Vector.empty)))
      else Option(entries.get(Key(schema, base.map(fileKey).toSet)))
    prior.foreach { e =>
      // interpreted: a batch is a few rows, and generating a projection's
      // code would cost more than running it
      val copy = InterpretedUnsafeProjection.createProjection(schema.fields.toSeq.zipWithIndex
        .map { case (f, i) => BoundReference(i, f.dataType, nullable = true) })
      put(Key(schema, (base :+ file).map(fileKey).toSet),
        e.rows.map(_ ++ added.map(copy(_).copy())).filter(size(_) <= Bound))
    }
  }

  private def put(key: Key, rows: Option[Vector[UnsafeRow]]): Unit = {
    val e = Entry(rows, key.files.size * FileKeyBytes + rows.fold(0L)(size))
    Option(entries.put(key, e)).foreach(bytes -= _.bytes)
    bytes += e.bytes
    val eldest = entries.values.iterator
    while (bytes > 4 * Bound && eldest.hasNext) {
      bytes -= eldest.next().bytes
      eldest.remove()
    }
  }

  private def decode(session: SparkSession, schema: StructType, files: Seq[FileStatus])
      : Option[Vector[UnsafeRow]] = {
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(session, schema,
      StructType(Nil), schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      ColumnShim.hadoopConf(session))
    val copy = UnsafeProjection.create(schema)
    val image = Vector.newBuilder[UnsafeRow]
    var bytes = 0L
    files.iterator.takeWhile(_ => bytes <= Bound).foreach { f =>
      val rows = read(PartitionedFile(InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPath(f.getPath), 0, f.getLen,
        Array.empty, f.getModificationTime, f.getLen))
      try rows.takeWhile(_ => bytes <= Bound).foreach { r =>
        val row = copy(r).copy()
        bytes += row.getSizeInBytes
        image += row
      }
      finally rows match { case c: java.io.Closeable => c.close(); case _ => () }
    }
    if (bytes > Bound) None else Some(image.result())
  }

  /** A scan of a non-partitioned parquet relation whose image fits becomes
    * a LocalRelation of it, with the relation's own output; a Filter, a
    * Project, a global Sort and an Aggregate over any LocalRelation are
    * then evaluated with Spark's interpreted evaluators, so a small read
    * runs no job and a fresh literal compiles no class (Spark's
    * ConvertToLocalRelation filters with `Predicate.create`, which
    * generates one). A plan that is only a scan stays one
    * (`Dataset.inputFiles` lists its files), and no scan is swapped in a
    * plan that asks for a row's input file. */
  val rule: Rule[LogicalPlan] = new Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = plan match {
      case _: LogicalRelation => plan
      case _ =>
        lazy val inputFile = plan.exists(_.expressions.exists(_.exists {
          case _: InputFileName | _: InputFileBlockStart | _: InputFileBlockLength => true
          case _ => false
        }))
        plan.transformUp {
          case l: LogicalRelation if !l.isStreaming && !inputFile => image(l).getOrElse(l)
          case Filter(cond, LocalRelation(out, data, false, _)) if !hasUnevaluableExpr(cond) =>
            val p = Predicate.createInterpreted(BindReferences.bindReference(cond, out))
            p.initialize(0)
            LocalRelation(out, data.filter(p.eval))
          case Project(list, LocalRelation(out, data, false, _))
              if !list.exists(hasUnevaluableExpr) =>
            val p = new InterpretedMutableProjection(list, out)
            p.initialize(0)
            LocalRelation(list.map(_.toAttribute), data.map(p(_).copy()))
          case Sort(order, true, LocalRelation(out, data, false, _), _)
              if !order.exists(o => hasUnevaluableExpr(o.child)) =>
            LocalRelation(out, data.sorted(new InterpretedOrdering(order, out)))
          case a @ Aggregate(_, _, LocalRelation(out, data, false, _), _) =>
            aggregate(a, out, data).getOrElse(a)
        }
    }
  }

  private def image(l: LogicalRelation): Option[LocalRelation] = l.relation match {
    case r: HadoopFsRelation if r.fileFormat.isInstanceOf[ParquetFileFormat] &&
        r.partitionSchema.isEmpty && r.options.keySet.forall(k => PathOptions(k.toLowerCase)) &&
        !l.output.exists(a => MetadataAttribute.isValid(a.metadata)) =>
      rows(r.sparkSession, r.dataSchema, filesOf(r)).map(LocalRelation(l.output, _))
    case _ => None
  }
}

object DriverImages {
  private final case class Key(schema: StructType, files: Set[(String, Long, Long)])
  private final case class Entry(rows: Option[Vector[UnsafeRow]], bytes: Long = 0)

  private val Bound = SqlGateway.DriverImageBytes
  /** What one file of a key holds the cache to: its path, length and mtime. */
  private val FileKeyBytes = 128L
  /** The options of a plain `spark.read.parquet` or a catalog table; any
    * other may change how the files decode, and the scan stays. */
  private val PathOptions = Set("path", "paths")

  private def fileKey(f: FileStatus) = (f.getPath.toString, f.getLen, f.getModificationTime)

  private def size(rows: Vector[UnsafeRow]): Long = rows.iterator.map(_.getSizeInBytes.toLong).sum

  /** The files a scan of `r` reads: its index's listing, not a new one. */
  def filesOf(r: HadoopFsRelation): Seq[FileStatus] =
    r.location.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus))

  /** `a` over `rows` (attributes `in`) as a LocalRelation of its output,
    * aggregated on the driver as Spark's aggregation does in Complete
    * mode: one group per key, keyed on its bytes with float keys
    * normalized (-0.0 is 0.0, all NaNs one), as Spark's planner and hash
    * aggregate do; a global aggregate answers one row, also over no rows.
    * None, and the job runs, for a distinct, non-deterministic or
    * floating-point aggregate, an unevaluable expression, or a function
    * that is not a Catalyst aggregate function. */
  private def aggregate(a: Aggregate, in: Seq[Attribute], rows: Seq[InternalRow])
      : Option[LocalRelation] = a match {
    case PhysicalAggregation(groups, aggs, results, _) if foldable(a, groups, aggs, results) =>
      val key = InterpretedUnsafeProjection.createProjection(
        BindReferences.bindReferences(groups.map(ColumnShim.normalizeFloats), in))
      val folds = aggs.map(new Fold(_, in)).toArray
      val buffers = new java.util.LinkedHashMap[UnsafeRow, Array[InternalRow]]
      def group(k: UnsafeRow): Array[InternalRow] = Option(buffers.get(k)).getOrElse {
        val b = folds.map(_.start())
        buffers.put(k.copy(), b)
        b
      }
      if (groups.isEmpty) group(key(InternalRow.empty))
      rows.foreach { r =>
        val b = group(key(r))
        folds.indices.foreach(i => folds(i).step(b(i), r))
      }
      val out = new InterpretedMutableProjection(results,
        groups.map(_.toAttribute) ++ aggs.map(_.resultAttribute))
      val joined = new JoinedRow
      val data = buffers.entrySet.iterator.asScala.map { e =>
        val values = InternalRow.fromSeq(folds.indices.map(i => folds(i).value(e.getValue()(i))))
        out(joined(e.getKey, values)).copy()
      }
      Some(LocalRelation(a.output, data.toSeq))
    case _ => None
  }

  private def foldable(a: Aggregate, groups: Seq[NamedExpression],
      aggs: Seq[AggregateExpression], results: Seq[NamedExpression]): Boolean =
    a.expressions.forall(e => e.deterministic && !e.exists(_.isInstanceOf[PythonUDF])) &&
      groups.forall(g => UnsafeRowUtils.isBinaryStable(g.dataType)) &&
      !(groups ++ results).exists(hasUnevaluableExpr) &&
      aggs.forall { e =>
        !e.isDistinct && !floating(e.aggregateFunction) &&
          !e.filter.exists(hasUnevaluableExpr) && (e.aggregateFunction match {
          case f: DeclarativeAggregate =>
            !(f.initialValues ++ f.updateExpressions :+ f.evaluateExpression).exists(hasUnevaluableExpr)
          case f: ImperativeAggregate => !hasUnevaluableExpr(f)
          case _ => false
        })
      }

  /** Floating-point arithmetic (a double sum, `avg`, `stddev`, `corr`):
    * its last digits follow the order rows are added and partial buffers
    * merged in, so it keeps the job path's order. `min`, `max` and
    * `count` are exact in any order. */
  private def floating(f: AggregateFunction): Boolean = f match {
    case _: Min | _: Max | _: Count => false
    case _ => (f.dataType +: (f.children ++ f.aggBufferAttributes).map(_.dataType))
      .exists(ColumnShim.hasFloats)
  }

  /** One aggregate of a driver fold: a buffer per group, started, stepped
    * with each input row its FILTER keeps, and evaluated, all with
    * interpreted expressions. */
  private final class Fold(e: AggregateExpression, in: Seq[Attribute]) {
    private val buffer = e.aggregateFunction.aggBufferAttributes
    private val filter = e.filter.map(c => Predicate.createInterpreted(BindReferences.bindReference(c, in)))
    private val joined = new JoinedRow
    private val (init, update, result): (InternalRow => Any, (InternalRow, InternalRow) => Any,
        InternalRow => Any) = e.aggregateFunction match {
      case f: DeclarativeAggregate =>
        val init = new InterpretedMutableProjection(f.initialValues, Nil)
        val update = new InterpretedMutableProjection(f.updateExpressions, buffer ++ in)
        val result = BindReferences.bindReference(f.evaluateExpression, buffer)
        (b => init.target(b)(InternalRow.empty), (b, r) => update.target(b)(joined(b, r)),
          result.eval)
      case f: ImperativeAggregate =>
        val bound = BindReferences.bindReference[Expression](f, in).asInstanceOf[ImperativeAggregate]
        (bound.initialize, bound.update, bound.eval)
    }

    def start(): InternalRow = {
      val b = new SpecificInternalRow(buffer.map(_.dataType))
      init(b)
      b
    }
    def step(b: InternalRow, r: InternalRow): Unit = if (filter.forall(_.eval(r))) update(b, r)
    def value(b: InternalRow): Any = result(b)
  }
}
