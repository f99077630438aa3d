package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._

/** DuckDB's catalog-introspection table functions (`duckdb_tables()`,
  * `duckdb_columns()`, `pragma_table_info(...)`, ...), reachable through
  * the reference passthrough exactly like any other statement
  * (`db/db.go:70`; DuckDB ships them as built-in table functions). Each
  * renders the GATEWAY's catalog — Spark's table catalog plus the
  * gateway's own registries (constraints, defaults, sequences, indexes,
  * views, named types, settings) — in DuckDB 1.0's exact column shape
  * (names, order, types; probed per function and pinned in the corpus).
  *
  * Identity columns follow the gateway's established DuckDB-compat
  * surface: `database_name` is 'memory' and `schema_name` is 'main'
  * (the same constants `current_database()` / `current_schema()` already
  * return — SqlGateway rewrites, probed against the reference's
  * single-database layout). OIDs are synthesized (stable within one
  * listing, engine-specific — DuckDB's are internal allocation order and
  * carry no portable meaning).
  *
  * Everything here is driver-side metadata over the registries — no table
  * data is scanned except `duckdb_tables().estimated_size`, which runs
  * one `count()` per table (on parquet that reads row-group footers, not
  * data pages — the same storage-metadata read DuckDB's estimate does).
  */
private[engine] final class CatalogInfo(gw: SqlGateway) {
  private def spark: SparkSession = gw.spark
  private val DB = "memory"
  private val SCHEMA = "main"

  private val tagsType = MapType(StringType, StringType, valueContainsNull = true)
  private val emptyTags = Map.empty[String, String]

  /** Re-entry guard: resolving a registered view's CURRENT schema runs
    * its body through the gateway — a view whose body itself queries
    * duckdb_views()/duckdb_columns() would otherwise recurse without
    * bound (each listing re-binds every view). On re-entry the listing
    * falls back to alias counts / skips view columns instead. */
  private val resolvingViews = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }
  private[engine] def viewSchemaOf(name: String): Option[StructType] =
    if (resolvingViews.get()) None
    else {
      resolvingViews.set(true)
      try Some(gw.queryDf(s"SELECT * FROM $name").schema)
      catch { case _: Throwable => None }
      finally resolvingViews.set(false)
    }

  private def df(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def fld(name: String, dt: DataType): StructField =
    StructField(name, dt, nullable = true)

  /** User tables in the Spark catalog (excludes temp views and the
    * gateway's registered views). */
  private def userTables(): Seq[String] =
    ColumnShim.userTables(spark)
      .filterNot(n => gw.viewEntries.exists(_._1.equalsIgnoreCase(n)))

  /** Dispatch by function name (lowercased, no parens; the caller has
    * already rejected arguments — none of these take one). Unknown names
    * throw — the caller leaves unrecognized text for Spark's parser, so
    * misspellings refuse loudly either way. */
  def dispatch(name: String): DataFrame = name match {
    case "duckdb_tables" => tables()
    case "duckdb_columns" => columns()
    case "duckdb_views" => views()
    case "duckdb_schemas" => schemas()
    case "duckdb_databases" => databases()
    case "duckdb_sequences" => sequencesDf()
    case "duckdb_indexes" => indexesDf()
    case "duckdb_constraints" => constraintsDf()
    case "duckdb_types" => typesDf()
    case "duckdb_settings" => settingsDf()
    case "duckdb_keywords" => keywordsDf()
    case "duckdb_functions" => functionsDf()
    case "duckdb_extensions" => extensionsDf()
    case "duckdb_memory" => memoryDf()
    case "duckdb_temporary_files" => temporaryFilesDf()
    case "duckdb_dependencies" => dependenciesDf()
    case "duckdb_optimizers" => optimizersDf()
    case "duckdb_secrets" => secretsDf()
    case "pragma_collations" => collationsDf()
    case "pragma_user_agent" => userAgentDf()
    case "pragma_metadata_info" => metadataInfoDf()
    case other =>
      throw new IllegalArgumentException(s"unknown table function $other")
  }

  // --- duckdb_tables() ---------------------------------------------------

  private val tablesSchema = StructType(Seq(
    fld("database_name", StringType), fld("database_oid", LongType),
    fld("schema_name", StringType), fld("schema_oid", LongType),
    fld("table_name", StringType), fld("table_oid", LongType),
    fld("comment", StringType), fld("tags", tagsType),
    fld("internal", BooleanType), fld("temporary", BooleanType),
    fld("has_primary_key", BooleanType), fld("estimated_size", LongType),
    fld("column_count", LongType), fld("index_count", LongType),
    fld("check_constraint_count", LongType), fld("sql", StringType)))

  /** All tables' row counts in ONE Spark job: a union of per-table
    * global counts, collected once. A 1,000-table catalog costs one
    * job-submit, not 1,000 sequential jobs (r11 VERDICT item 2); per
    * table the scan is still footer metadata only on parquet. */
  private def estimatedSizes(names: Seq[String]): Map[String, Long] = {
    import org.apache.spark.sql.functions.{count, lit}
    val counts = names.flatMap { t =>
      try Some(spark.table(t).groupBy().agg(count(lit(1)).as("n"))
        .select(lit(t).as("t"), org.apache.spark.sql.functions.col("n")))
      catch { case _: Throwable => None }
    }
    if (counts.isEmpty) Map.empty
    else try counts.reduce(_.unionAll(_)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    catch { case _: Throwable =>
      // one broken table (deleted files, corrupt footer) must not fail
      // the whole listing: fall back to per-table isolation, 0 for the
      // broken one — the pre-batching behavior
      names.map(t => t -> (try spark.table(t).count()
        catch { case _: Throwable => 0L })).toMap
    }
  }

  def tables(): DataFrame = {
    val names = userTables()
    val sizes = estimatedSizes(names)
    val rows = names.zipWithIndex.map { case (t, i) =>
      val key = t.toLowerCase
      val schema = spark.table(t).schema
      val (pk, _) = gw.constraints.getOrElse(key, (Seq.empty[String], Seq.empty[String]))
      // DuckDB's count includes the PRIMARY KEY's implicit index (probed:
      // a table with one PK and one CREATE INDEX reports index_count 2)
      val idxCount = gw.indexes.values.count(_._1 == key) +
        (if (pk.nonEmpty) 1 else 0)
      val checkCount = gw.checks.getOrElse(key, Nil).size
      val estimated = sizes.getOrElse(t, 0L)
      Row(DB, 0L, SCHEMA, 1L, t, 1000L + i,
        gw.comments.get(s"table:$key").orNull, emptyTags, false,
        gw.tempTables.contains(key),
        pk.nonEmpty, estimated, schema.size.toLong, idxCount.toLong,
        checkCount.toLong, renderCreateTable(t, schema))
    }
    df(tablesSchema, rows)
  }

  /** DuckDB-style reconstruction (probed rendering): single-column PKs
    * inline, composite PKs trailing, `DEFAULT(expr)`, `NOT NULL` for
    * non-PK not-nulls, table-level `CHECK((expr))`. */
  private def renderCreateTable(t: String, schema: StructType): String = {
    val key = t.toLowerCase
    val (pk, notNull) = gw.constraints.getOrElse(key, (Seq.empty[String], Seq.empty[String]))
    val defaults = gw.columnDefaults.getOrElse(key, Map.empty)
    val cols = schema.fields.map { f =>
      val base = s"${f.name} ${Results.duckTypeName(f)}"
      val withPk = if (pk.size == 1 && pk.head.equalsIgnoreCase(f.name))
        s"$base PRIMARY KEY" else base
      val withDefault = defaults.collectFirst {
        case (c, expr) if c.equalsIgnoreCase(f.name) => s"$withPk DEFAULT($expr)"
      }.getOrElse(withPk)
      if (notNull.exists(_.equalsIgnoreCase(f.name)) &&
          !pk.exists(_.equalsIgnoreCase(f.name)))
        s"$withDefault NOT NULL"
      else withDefault
    }
    val tail = (if (pk.size > 1) Seq(s"PRIMARY KEY(${pk.mkString(", ")})") else Nil) ++
      gw.checks.getOrElse(key, Nil).map(e => s"CHECK(($e))")
    s"CREATE TABLE $t(${(cols ++ tail).mkString(", ")});"
  }

  // --- duckdb_columns() --------------------------------------------------

  private val columnsSchema = StructType(Seq(
    fld("database_name", StringType), fld("database_oid", LongType),
    fld("schema_name", StringType), fld("schema_oid", LongType),
    fld("table_name", StringType), fld("table_oid", LongType),
    fld("column_name", StringType), fld("column_index", IntegerType),
    fld("comment", StringType), fld("internal", BooleanType),
    fld("column_default", StringType), fld("is_nullable", BooleanType),
    fld("data_type", StringType), fld("data_type_id", LongType),
    fld("character_maximum_length", IntegerType),
    fld("numeric_precision", IntegerType),
    fld("numeric_precision_radix", IntegerType),
    fld("numeric_scale", IntegerType)))

  /** DuckDB's internal LogicalTypeId values (probed 1.0.0 via
    * duckdb_columns().data_type_id over a table of every type). */
  private def dataTypeId(f: StructField): Long =
    Results.duckTypeName(f) match {
      case "BOOLEAN" => 10L case "TINYINT" => 11L case "SMALLINT" => 12L
      case "INTEGER" => 13L case "BIGINT" => 14L case "DATE" => 15L
      case "TIME" => 16L case "TIMESTAMP" => 19L case "FLOAT" => 22L
      case "DOUBLE" => 23L case "VARCHAR" | "JSON" => 25L case "BLOB" => 26L
      case "INTERVAL" => 27L case "UTINYINT" => 28L case "USMALLINT" => 29L
      case "UINTEGER" => 30L case "UBIGINT" => 31L case "TIMESTAMPTZ" => 32L
      case "BIT" => 36L case "HUGEINT" => 50L case "UUID" => 54L
      case d if d.startsWith("DECIMAL") => 21L
      case s if s.startsWith("STRUCT") => 100L
      case l if l.endsWith("[]") => 101L
      case m if m.startsWith("MAP") => 102L
      case e if e.startsWith("ENUM") => 104L
      case _ => 0L
    }

  /** (precision, radix, scale) per DuckDB's probed rules: binary radix
    * with the mantissa/width for fixed-width numerics, decimal radix for
    * DECIMAL, nulls for everything else. */
  private def numericFacts(f: StructField): (Any, Any, Any) =
    Results.duckTypeName(f) match {
      case "TINYINT" | "UTINYINT" => (8, 2, 0)
      case "SMALLINT" | "USMALLINT" => (16, 2, 0)
      case "INTEGER" | "UINTEGER" => (32, 2, 0)
      case "BIGINT" | "UBIGINT" => (64, 2, 0)
      case "HUGEINT" | "UHUGEINT" => (128, 2, 0)
      case "FLOAT" => (24, 2, 0)
      case "DOUBLE" => (53, 2, 0)
      case d if d.startsWith("DECIMAL") => f.dataType match {
        case dt: DecimalType => (dt.precision, 10, dt.scale)
        case _ => (null, null, null)
      }
      case _ => (null, null, null)
    }

  def columns(): DataFrame = {
    val tableRows = userTables().zipWithIndex.flatMap { case (t, i) =>
      columnRows(t, 1000L + i, spark.table(t).schema, t.toLowerCase)
    }
    // registered views re-bind lazily; a broken view has no current
    // schema to list (querying it replays its bind error) — skip it here
    val viewRows = gw.viewEntries.zipWithIndex.flatMap { case ((name, _, _), i) =>
      viewSchemaOf(name).map(columnRows(name, 2000L + i, _, "")).getOrElse(Nil)
    }
    df(columnsSchema, tableRows ++ viewRows)
  }

  private def columnRows(t: String, oid: Long, schema: StructType,
      key: String): Seq[Row] = {
    val (pk, notNull) = gw.constraints.getOrElse(key, (Seq.empty[String], Seq.empty[String]))
    val defaults = gw.columnDefaults.getOrElse(key, Map.empty)
    schema.fields.zipWithIndex.map { case (f, i) =>
      val nullable = !notNull.exists(_.equalsIgnoreCase(f.name)) &&
        !pk.exists(_.equalsIgnoreCase(f.name))
      val dflt = defaults.collectFirst {
        case (c, e) if c.equalsIgnoreCase(f.name) => e }.orNull
      val (p, r, s) = numericFacts(f)
      val comment = if (key.isEmpty) null
        else gw.comments.get(s"column:$key.${f.name.toLowerCase}").orNull
      Row(DB, 0L, SCHEMA, 1L, t, oid, f.name, i + 1, comment, false, dflt,
        nullable, Results.duckTypeName(f), dataTypeId(f), null, p, r, s)
    }.toSeq
  }

  // --- duckdb_views() ----------------------------------------------------

  private val viewsSchema = StructType(Seq(
    fld("database_name", StringType), fld("database_oid", LongType),
    fld("schema_name", StringType), fld("schema_oid", LongType),
    fld("view_name", StringType), fld("view_oid", LongType),
    fld("comment", StringType), fld("tags", tagsType),
    fld("internal", BooleanType), fld("temporary", BooleanType),
    fld("column_count", LongType), fld("sql", StringType)))

  def views(): DataFrame = {
    val rows = gw.viewEntries.zipWithIndex.map { case ((name, aliases, body), i) =>
      val colCount = aliases.map(_.size.toLong).getOrElse(
        viewSchemaOf(name).map(_.size.toLong).getOrElse(-1L))
      val aliasText = aliases.map(a => s" (${a.mkString(", ")})").getOrElse("")
      Row(DB, 0L, SCHEMA, 1L, name, 2000L + i,
        gw.comments.get(s"view:${name.toLowerCase}").orNull, emptyTags,
        false, false, colCount, s"CREATE VIEW $name$aliasText AS $body;")
    }
    df(viewsSchema, rows)
  }

  // --- duckdb_schemas() / duckdb_databases() ------------------------------

  def schemas(): DataFrame = {
    val schema = StructType(Seq(
      fld("oid", LongType), fld("database_name", StringType),
      fld("database_oid", LongType), fld("schema_name", StringType),
      fld("comment", StringType), fld("tags", tagsType),
      fld("internal", BooleanType), fld("sql", StringType)))
    df(schema, Seq(Row(1L, DB, 0L, SCHEMA, null, emptyTags, true, null)))
  }

  def databases(): DataFrame = {
    val schema = StructType(Seq(
      fld("database_name", StringType), fld("database_oid", LongType),
      fld("path", StringType), fld("comment", StringType),
      fld("tags", tagsType), fld("internal", BooleanType),
      fld("type", StringType), fld("readonly", BooleanType)))
    val path = spark.conf.getOption("graft.data.dir")
      .getOrElse(spark.conf.get("spark.sql.warehouse.dir"))
    df(schema, Seq(Row(DB, 0L, path, null, emptyTags, false, "graft", false)))
  }

  // --- duckdb_sequences() ------------------------------------------------

  private val sequencesSchema = StructType(Seq(
    fld("database_name", StringType), fld("database_oid", LongType),
    fld("schema_name", StringType), fld("schema_oid", LongType),
    fld("sequence_name", StringType), fld("sequence_oid", LongType),
    fld("comment", StringType), fld("tags", tagsType),
    fld("temporary", BooleanType), fld("start_value", LongType),
    fld("min_value", LongType), fld("max_value", LongType),
    fld("increment_by", LongType), fld("cycle", BooleanType),
    fld("last_value", LongType), fld("sql", StringType)))

  def sequencesDf(): DataFrame = {
    val rows = gw.sequences.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((name, st), i) =>
        val start = gw.seqStarts.getOrElse(name,
          if (st.inc < 0) st.max else st.min)
        val last: Any = gw.seqLast.get(name).map(Long.box).orNull
        val sql = s"CREATE SEQUENCE $name INCREMENT BY ${st.inc} " +
          s"MINVALUE ${st.min} MAXVALUE ${st.max} START $start " +
          (if (st.cycle) "CYCLE;" else "NO CYCLE;")
        Row(DB, 0L, SCHEMA, 1L, name, 3000L + i, null, emptyTags, false,
          start, st.min, st.max, st.inc, st.cycle, last, sql)
    }
    df(sequencesSchema, rows)
  }

  // --- duckdb_indexes() --------------------------------------------------

  private val indexesSchema = StructType(Seq(
    fld("database_name", StringType), fld("database_oid", LongType),
    fld("schema_name", StringType), fld("schema_oid", LongType),
    fld("index_name", StringType), fld("index_oid", LongType),
    fld("table_name", StringType), fld("table_oid", LongType),
    fld("comment", StringType), fld("tags", tagsType),
    fld("is_unique", BooleanType), fld("is_primary", BooleanType),
    fld("expressions", StringType), fld("sql", StringType)))

  def indexesDf(): DataFrame = {
    val rows = gw.indexes.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((idx, (table, cols, unique)), i) =>
        val uq = if (unique) "UNIQUE " else ""
        Row(DB, 0L, SCHEMA, 1L, idx, 4000L + i, table, null,
          gw.comments.get(s"index:$idx").orNull, emptyTags,
          unique, false, null,
          s"CREATE ${uq}INDEX $idx ON $table(${cols.mkString(", ")});")
    }
    df(indexesSchema, rows)
  }

  // --- duckdb_constraints() ----------------------------------------------

  private val constraintsSchema = StructType(Seq(
    fld("database_name", StringType), fld("database_oid", LongType),
    fld("schema_name", StringType), fld("schema_oid", LongType),
    fld("table_name", StringType), fld("table_oid", LongType),
    fld("constraint_index", LongType), fld("constraint_type", StringType),
    fld("constraint_text", StringType), fld("expression", StringType),
    fld("constraint_column_indexes", ArrayType(LongType)),
    fld("constraint_column_names", ArrayType(StringType))))

  def constraintsDf(): DataFrame = {
    val rows = userTables().zipWithIndex.flatMap { case (t, ti) =>
      val key = t.toLowerCase
      val fields = spark.table(t).schema.fieldNames
      def idxOf(c: String): Long =
        fields.indexWhere(_.equalsIgnoreCase(c)).toLong
      val (pk, notNull) = gw.constraints.getOrElse(key, (Seq.empty[String], Seq.empty[String]))
      var ci = -1L
      def next(): Long = { ci += 1; ci }
      val pkRows = if (pk.isEmpty) Nil else Seq(
        Row(DB, 0L, SCHEMA, 1L, t, 1000L + ti, next(), "PRIMARY KEY",
          s"PRIMARY KEY(${pk.mkString(", ")})", null,
          pk.map(idxOf), pk))
      // DuckDB also lists each PK column as a NOT NULL row (probed)
      val nnCols = (notNull ++ pk.filterNot(p =>
        notNull.exists(_.equalsIgnoreCase(p)))).distinct
      val nnRows = nnCols.map(c =>
        Row(DB, 0L, SCHEMA, 1L, t, 1000L + ti, next(), "NOT NULL",
          "NOT NULL", null, Seq(idxOf(c)), Seq(c)))
      val checkRows = gw.checks.getOrElse(key, Nil).map(e =>
        Row(DB, 0L, SCHEMA, 1L, t, 1000L + ti, next(), "CHECK",
          s"CHECK(($e))", s"($e)",
          Seq.empty[Long], Seq.empty[String]))
      pkRows ++ nnRows ++ checkRows
    }
    df(constraintsSchema, rows)
  }

  // --- duckdb_types() ----------------------------------------------------

  private val typesSchema = StructType(Seq(
    fld("database_name", StringType), fld("database_oid", LongType),
    fld("schema_name", StringType), fld("schema_oid", LongType),
    fld("type_oid", LongType), fld("type_name", StringType),
    fld("type_size", LongType), fld("logical_type", StringType),
    fld("type_category", StringType), fld("comment", StringType),
    fld("tags", tagsType), fld("internal", BooleanType),
    fld("labels", ArrayType(StringType))))

  /** DuckDB 1.0's built-in type table for the user database (probed:
    * every internal row of duckdb_types() for database 'memory';
    * type_size -1 encodes DuckDB's NULL = "depends on instantiation"). */
  private val builtinTypes: Seq[(String, Int, String, String)] = Seq(
    ("bigint", 8, "BIGINT", "NUMERIC"), ("binary", 16, "BLOB", null),
    ("bit", 16, "BIT", null), ("bitstring", 16, "BIT", null),
    ("blob", 16, "BLOB", null), ("bool", 1, "BOOLEAN", "BOOLEAN"),
    ("boolean", 1, "BOOLEAN", "BOOLEAN"), ("bpchar", 16, "VARCHAR", "STRING"),
    ("bytea", 16, "BLOB", null), ("char", 16, "VARCHAR", "STRING"),
    ("date", 4, "DATE", "DATETIME"), ("datetime", 8, "TIMESTAMP", "DATETIME"),
    ("dec", -1, "DECIMAL", "NUMERIC"), ("decimal", -1, "DECIMAL", "NUMERIC"),
    ("double", 8, "DOUBLE", "NUMERIC"), ("enum", -1, "ENUM", null),
    ("float", 4, "FLOAT", "NUMERIC"), ("float4", 4, "FLOAT", "NUMERIC"),
    ("float8", 8, "DOUBLE", "NUMERIC"), ("guid", 16, "UUID", null),
    ("hugeint", 16, "HUGEINT", "NUMERIC"), ("int", 4, "INTEGER", "NUMERIC"),
    ("int1", 1, "TINYINT", "NUMERIC"), ("int128", 16, "HUGEINT", "NUMERIC"),
    ("int16", 2, "SMALLINT", "NUMERIC"), ("int2", 2, "SMALLINT", "NUMERIC"),
    ("int32", 4, "INTEGER", "NUMERIC"), ("int4", 4, "INTEGER", "NUMERIC"),
    ("int64", 8, "BIGINT", "NUMERIC"), ("int8", 8, "BIGINT", "NUMERIC"),
    ("integer", 4, "INTEGER", "NUMERIC"), ("integral", 4, "INTEGER", "NUMERIC"),
    ("interval", 16, "INTERVAL", "DATETIME"), ("list", 16, "LIST", "COMPOSITE"),
    ("logical", 1, "BOOLEAN", "BOOLEAN"), ("long", 8, "BIGINT", "NUMERIC"),
    ("map", 16, "MAP", "COMPOSITE"), ("null", 4, "NULL", null),
    ("numeric", -1, "DECIMAL", "NUMERIC"), ("nvarchar", 16, "VARCHAR", "STRING"),
    ("oid", 8, "BIGINT", "NUMERIC"), ("real", 4, "FLOAT", "NUMERIC"),
    ("row", 0, "STRUCT", "COMPOSITE"), ("short", 2, "SMALLINT", "NUMERIC"),
    ("signed", 4, "INTEGER", "NUMERIC"), ("smallint", 2, "SMALLINT", "NUMERIC"),
    ("string", 16, "VARCHAR", "STRING"), ("struct", 0, "STRUCT", "COMPOSITE"),
    ("text", 16, "VARCHAR", "STRING"), ("time", 8, "TIME", "DATETIME"),
    ("timestamp", 8, "TIMESTAMP", "DATETIME"),
    ("timestamp_ms", 8, "TIMESTAMP_MS", "DATETIME"),
    ("timestamp_ns", 8, "TIMESTAMP_NS", "DATETIME"),
    ("timestamp_s", 8, "TIMESTAMP_S", "DATETIME"),
    ("timestamp_us", 8, "TIMESTAMP", "DATETIME"),
    ("timestamptz", 8, "TIMESTAMP WITH TIME ZONE", "DATETIME"),
    ("timetz", 8, "TIME WITH TIME ZONE", "DATETIME"),
    ("tinyint", 1, "TINYINT", "NUMERIC"), ("ubigint", 8, "UBIGINT", "NUMERIC"),
    ("uhugeint", 16, "UHUGEINT", "NUMERIC"),
    ("uint128", 16, "UHUGEINT", "NUMERIC"), ("uint16", 2, "USMALLINT", "NUMERIC"),
    ("uint32", 4, "UINTEGER", "NUMERIC"), ("uint64", 8, "UBIGINT", "NUMERIC"),
    ("uint8", 1, "UTINYINT", "NUMERIC"), ("uinteger", 4, "UINTEGER", "NUMERIC"),
    ("union", 0, "UNION", "COMPOSITE"), ("usmallint", 2, "USMALLINT", "NUMERIC"),
    ("utinyint", 1, "UTINYINT", "NUMERIC"), ("uuid", 16, "UUID", null),
    ("varbinary", 16, "BLOB", null), ("varchar", 16, "VARCHAR", "STRING"))

  private val EnumLabelRe = """'((?:[^']|'')*)'""".r

  def typesDf(): DataFrame = {
    val builtins = builtinTypes.zipWithIndex.map { case ((n, sz, lt, cat), i) =>
      Row(DB, 0L, SCHEMA, 1L, 10L + i, n,
        if (sz < 0) null else sz.toLong, lt, cat, null, emptyTags, true, null)
    }
    // user enums (CREATE TYPE ... AS ENUM): definition text holds the
    // quoted labels in declaration order
    val users = gw.namedTypes.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((name, defn), i) =>
        val labels = EnumLabelRe.findAllMatchIn(defn)
          .map(_.group(1).replace("''", "'")).toSeq
        Row(DB, 0L, SCHEMA, 1L, 5000L + i, name, 1L, "ENUM", null, null,
          emptyTags, false, if (labels.nonEmpty) labels else null)
    }
    df(typesSchema, builtins ++ users)
  }

  // --- duckdb_settings() -------------------------------------------------

  def settingsDf(): DataFrame = {
    val schema = StructType(Seq(
      fld("name", StringType), fld("value", StringType),
      fld("description", StringType), fld("input_type", StringType),
      fld("scope", StringType)))
    // seeded defaults: the settings this engine actually HONORS (threads
    // feeds current_setting() live; memory_limit feeds pragma
    // database_size), listed at their live values with DuckDB 1.0's exact
    // descriptions — so a client probing a never-SET honored setting gets
    // a row, not silent emptiness. Settings the gateway merely records
    // are listed only once SET (r11 ADVICE: no silent empty subset for
    // the honored family).
    val threads = spark.sparkContext.defaultParallelism.toString
    // Locale.ROOT: DuckDB always prints '7.1 GiB'; the default-locale f""
    // interpolator would render '7,1 GiB' on comma-decimal locales
    val memGiB = String.format(java.util.Locale.ROOT, "%.1f GiB",
      Double.box(Runtime.getRuntime.maxMemory / 1024.0 / 1024 / 1024))
    val threadsDesc = "The number of total threads used by the system."
    val memDesc = "The maximum memory of the system (e.g. 1GB)"
    val defaults = Seq(
      ("threads", threads, threadsDesc, "BIGINT"),
      ("worker_threads", threads, threadsDesc, "BIGINT"),
      ("memory_limit", memGiB, memDesc, "VARCHAR"),
      ("max_memory", memGiB, memDesc, "VARCHAR"))
    val IntRe = """-?\d+""".r
    val setRows = gw.settings.toSeq.map { case (k, v) =>
      val seeded = defaults.find(_._1 == k)
      val inputType = seeded.map(_._4).getOrElse(v.toLowerCase match {
        case "true" | "false" => "BOOLEAN"
        case s if IntRe.matches(s) => "BIGINT"
        case _ => "VARCHAR"
      })
      val desc = seeded.map(_._3)
        .getOrElse("session setting recorded by the gateway")
      k -> Row(k, v, desc, inputType, "GLOBAL")
    }.toMap
    val rows = (defaults.collect {
      case (k, v, d, t) if !setRows.contains(k) => k -> Row(k, v, d, t, "GLOBAL")
    } ++ setRows).sortBy(_._1).map(_._2)
    df(schema, rows)
  }

  // --- duckdb_keywords() -------------------------------------------------

  /** DuckDB 1.0's full keyword table (probed: 479 rows; categories
    * r=reserved u=unreserved t=type_function c=column_name). */
  private val keywordData: String =
    "abort:u absolute:u access:u action:u add:u admin:u after:u aggregate:u all:r also:u alter:u " +
    "always:u analyse:r analyze:r and:r anti:t any:r array:r as:r asc:r asof:t assertion:u " +
    "assignment:u asymmetric:r at:u attach:u attribute:u authorization:t backward:u before:u begin:u " +
    "between:c bigint:c binary:t bit:c boolean:c both:r by:u cache:u call:u called:u cascade:u " +
    "cascaded:u case:r cast:r catalog:u centuries:u century:u chain:u char:c character:c " +
    "characteristics:u check:r checkpoint:u class:u close:u cluster:u coalesce:c collate:r " +
    "collation:t column:r columns:t comment:u comments:u commit:u committed:u compression:u " +
    "concurrently:t configuration:u conflict:u connection:u constraint:r constraints:u content:u " +
    "continue:u conversion:u copy:u cost:u create:r cross:t csv:u cube:u current:u cursor:u cycle:u " +
    "data:u database:u day:u days:u deallocate:u dec:c decade:u decades:u decimal:c declare:u " +
    "default:r defaults:u deferrable:r deferred:u definer:u delete:u delimiter:u delimiters:u " +
    "depends:u desc:r describe:r detach:u dictionary:u disable:u discard:u distinct:r do:r " +
    "document:u domain:u double:u drop:u each:u else:r enable:u encoding:u encrypted:u end:r enum:u " +
    "escape:u event:u except:r exclude:u excluding:u exclusive:u execute:u exists:c explain:u " +
    "export:u export_state:u extension:u extensions:u external:u extract:c false:r family:u fetch:r " +
    "filter:u first:u float:c following:u for:r force:u foreign:r forward:u freeze:t from:r full:t " +
    "function:u functions:u generated:t glob:t global:u grant:r granted:u group:r grouping:c " +
    "grouping_id:c groups:u handler:u having:r header:u hold:u hour:u hours:u identity:u if:u " +
    "ignore:u ilike:t immediate:u immutable:u implicit:u import:u in:r include:u including:u " +
    "increment:u index:u indexes:u inherit:u inherits:u initially:r inline:u inner:t inout:c input:u " +
    "insensitive:u insert:u install:u instead:u int:c integer:c intersect:r interval:c into:r " +
    "invoker:u is:t isnull:t isolation:u join:t json:u key:u label:u language:u large:u last:u " +
    "lateral:r leading:r leakproof:u left:t level:u like:t limit:r listen:u load:u local:u " +
    "location:u lock:u locked:u logged:u macro:u map:t mapping:u match:u materialized:u maxvalue:u " +
    "method:u microsecond:u microseconds:u millennia:u millennium:u millisecond:u milliseconds:u " +
    "minute:u minutes:u minvalue:u mode:u month:u months:u move:u name:u names:u national:c " +
    "natural:t nchar:c new:u next:u no:u none:c not:r nothing:u notify:u notnull:t nowait:u null:r " +
    "nullif:c nulls:u numeric:c object:u of:u off:u offset:r oids:u old:u on:r only:r operator:u " +
    "option:u options:u or:r order:r ordinality:u others:u out:c outer:t over:u overlaps:t overlay:c " +
    "overriding:u owned:u owner:u parallel:u parser:u partial:u partition:u passing:u password:u " +
    "percent:u persistent:u pivot:r pivot_longer:r pivot_wider:r placing:r plans:u policy:u " +
    "position:c positional:t pragma:u preceding:u precision:c prepare:u prepared:u preserve:u " +
    "primary:r prior:u privileges:u procedural:u procedure:u program:u publication:u qualify:r " +
    "quarter:u quarters:u quote:u range:u read:u real:c reassign:u recheck:u recursive:u ref:u " +
    "references:r referencing:u refresh:u reindex:u relative:u release:u rename:u repeatable:u " +
    "replace:u replica:u reset:u respect:u restart:u restrict:u returning:r returns:u revoke:u " +
    "right:t role:u rollback:u rollup:u row:c rows:u rule:u sample:u savepoint:u schema:u schemas:u " +
    "scope:u scroll:u search:u second:u seconds:u secret:u security:u select:r semi:t sequence:u " +
    "sequences:u serializable:u server:u session:u set:u setof:c sets:u share:u show:r similar:t " +
    "simple:u skip:u smallint:c snapshot:u some:r sql:u stable:u standalone:u start:u statement:u " +
    "statistics:u stdin:u stdout:u storage:u stored:u strict:u strip:u struct:t subscription:u " +
    "substring:c summarize:r symmetric:r sysid:u system:u table:r tables:u tablesample:t " +
    "tablespace:u temp:u template:u temporary:u text:u then:r ties:u time:c timestamp:c to:r " +
    "trailing:r transaction:u transform:u treat:c trigger:u trim:c true:r truncate:u trusted:u " +
    "try_cast:t type:u types:u unbounded:u uncommitted:u unencrypted:u union:r unique:r unknown:u " +
    "unlisten:u unlogged:u unpivot:r until:u update:u use:u user:u using:r vacuum:u valid:u " +
    "validate:u validator:u value:u values:c varchar:c variadic:r varying:u verbose:t version:u " +
    "view:u views:u virtual:u volatile:u week:u weeks:u when:r where:r whitespace:u window:r with:r " +
    "within:u without:u work:u wrapper:u write:u xml:u xmlattributes:c xmlconcat:c xmlelement:c " +
    "xmlexists:c xmlforest:c xmlnamespaces:c xmlparse:c xmlpi:c xmlroot:c xmlserialize:c xmltable:c " +
    "year:u years:u yes:u zone:u"

  def keywordsDf(): DataFrame = {
    val schema = StructType(Seq(
      fld("keyword_name", StringType), fld("keyword_category", StringType)))
    val cat = Map("r" -> "reserved", "u" -> "unreserved",
      "t" -> "type_function", "c" -> "column_name")
    val rows = keywordData.split("\\s+").toSeq.map { e =>
      val Array(w, c) = e.split(":", 2)
      Row(w, cat(c))
    }
    df(schema, rows)
  }

  // --- duckdb_functions() ------------------------------------------------

  private val functionsSchema = StructType(Seq(
    fld("database_name", StringType), fld("database_oid", StringType),
    fld("schema_name", StringType), fld("function_name", StringType),
    fld("function_type", StringType), fld("description", StringType),
    fld("comment", StringType), fld("tags", tagsType),
    fld("return_type", StringType), fld("parameters", ArrayType(StringType)),
    fld("parameter_types", ArrayType(StringType, containsNull = true)),
    fld("varargs", StringType), fld("macro_definition", StringType),
    fld("has_side_effects", BooleanType), fld("internal", BooleanType),
    fld("function_oid", LongType), fld("example", StringType),
    fld("stability", StringType)))

  /** Built-in aggregate function names in the engine's registry —
    * duckdb_functions() classifies by this set (DuckDB's function_type
    * column; probed: 'sum' → aggregate, 'abs' → scalar). */
  private val aggregateNames: Set[String] = Set(
    "any", "any_value", "approx_count_distinct", "approx_percentile",
    "array_agg", "avg", "bit_and", "bit_or", "bit_xor", "bitmap_construct_agg",
    "bitmap_or_agg", "bool_and", "bool_or", "collect_list", "collect_set",
    "corr", "count", "count_if", "count_min_sketch", "covar_pop",
    "covar_samp", "every", "first", "first_value", "grouping", "grouping_id",
    "histogram_numeric", "hll_sketch_agg", "hll_union_agg", "kurtosis",
    "last", "last_value", "listagg", "max", "max_by", "mean", "median",
    "min", "min_by", "mode", "percentile", "percentile_approx",
    "percentile_cont", "percentile_disc", "regr_avgx", "regr_avgy",
    "regr_count", "regr_intercept", "regr_r2", "regr_slope", "regr_sxx",
    "regr_sxy", "regr_syy", "skewness", "some", "std", "stddev",
    "stddev_pop", "stddev_samp", "string_agg", "sum", "try_avg", "try_sum",
    "var_pop", "var_samp", "variance")

  /** Generator/table-valued names in the registry. */
  private val tableFnNames: Set[String] = Set(
    "explode", "explode_outer", "posexplode", "posexplode_outer", "inline",
    "inline_outer", "stack", "json_tuple")

  /** The gateway's own table-function surface (read_* rewrites,
    * parquet/catalog introspection) — discoverable like DuckDB's. */
  private val gatewayTableFns: Seq[String] = Seq(
    "read_parquet", "read_csv", "read_csv_auto", "read_json",
    "read_json_auto", "read_ndjson", "read_ndjson_auto",
    "read_ndjson_objects", "read_text", "read_blob", "parquet_scan",
    "parquet_schema", "parquet_metadata", "parquet_file_metadata",
    "parquet_kv_metadata", "sniff_csv", "glob", "duckdb_tables",
    "duckdb_columns", "duckdb_views", "duckdb_schemas", "duckdb_databases",
    "duckdb_sequences", "duckdb_indexes", "duckdb_constraints",
    "duckdb_types", "duckdb_settings", "duckdb_keywords",
    "duckdb_functions", "duckdb_extensions", "duckdb_memory",
    "duckdb_temporary_files", "pragma_table_info", "pragma_version",
    "pragma_platform", "pragma_database_size", "pragma_show_tables")

  /** The engine's REGISTERED function surface: the session function
    * registry (Spark builtins + graft expressions, classified
    * scalar/aggregate/table), the gateway's table functions, and user
    * macros (with DuckDB's macro row shape: parameters listed,
    * parameter_types NULL per parameter, normalized `(body)` definition —
    * probed). DuckDB-spelling scalar aliases the gateway accepts via
    * rewrite (strftime, list_*, ...) execute but are not enumerated here;
    * they normalize to a registered name in this listing. Descriptions /
    * examples / return types are engine metadata Spark's registry does
    * not carry — NULL, like DuckDB's own macro rows. */
  def functionsDf(): DataFrame = {
    val registry = spark.catalog.listFunctions().collect()
      .map(_.name.toLowerCase).distinct.sorted.toSeq
    val builtinRows = registry.zipWithIndex.map { case (n, i) =>
      val ftype =
        if (aggregateNames(n)) "aggregate"
        else if (tableFnNames(n)) "table" else "scalar"
      Row("system", "0", SCHEMA, n, ftype, null, null, emptyTags, null,
        null, null, null, null, null, true, 10000L + i, null, null)
    }
    val tableRows = gatewayTableFns.sorted.zipWithIndex.map { case (n, i) =>
      Row("system", "0", SCHEMA, n, "table", null, null, emptyTags, null,
        null, null, null, null, null, true, 20000L + i, null, null)
    }
    val macroRows = gw.macros.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((name, (params, body)), i) =>
        val isTable = """(?is)^\s*(select|from|values|with)\b""".r
          .findFirstIn(body).isDefined
        val defn = if (isTable) body else s"($body)"
        Row(DB, "0", SCHEMA, name,
          if (isTable) "table_macro" else "macro", null, null, emptyTags,
          null, params, params.map(_ => null: String), null, defn, null,
          false, 30000L + i, null, null)
    }
    df(functionsSchema, builtinRows ++ tableRows ++ macroRows)
  }

  // --- duckdb_extensions() -----------------------------------------------

  private val extensionsSchema = StructType(Seq(
    fld("extension_name", StringType), fld("loaded", BooleanType),
    fld("installed", BooleanType), fld("install_path", StringType),
    fld("description", StringType), fld("aliases", ArrayType(StringType)),
    fld("extension_version", StringType), fld("install_mode", StringType),
    fld("installed_from", StringType)))

  /** DuckDB 1.0's extension table (probed), with loaded/installed
    * reflecting THIS engine's actual capabilities: parquet, json and
    * icu (timezones/collations) ship built-in (STATICALLY_LINKED, like
    * DuckDB's own); everything else is neither loaded nor loadable here
    * — listed unloaded so a capability probe answers honestly instead of
    * erroring on the table function. */
  private val extensionData: Seq[(String, Boolean, String, Seq[String])] = Seq(
    ("arrow", false, "A zero-copy data integration between Apache Arrow and DuckDB", Nil),
    ("autocomplete", false, "Adds support for autocomplete in the shell", Nil),
    ("aws", false, "Provides features that depend on the AWS SDK", Nil),
    ("azure", false, "Adds a filesystem abstraction for Azure blob storage to DuckDB", Nil),
    ("delta", false, "Adds support for Delta Lake", Nil),
    ("excel", false, "Adds support for Excel-like format strings", Nil),
    ("fts", false, "Adds support for Full-Text Search Indexes", Nil),
    ("httpfs", false, "Adds support for reading and writing files over a HTTP(S) connection",
      Seq("http", "https", "s3")),
    ("iceberg", false, "Adds support for Apache Iceberg", Nil),
    ("icu", true, "Adds support for time zones and collations using the ICU library", Nil),
    ("inet", false, "Adds support for IP-related data types and functions", Nil),
    ("jemalloc", false, "Overwrites system allocator with JEMalloc", Nil),
    ("json", true, "Adds support for JSON operations", Nil),
    ("motherduck", false, "Enables motherduck integration with the system", Seq("md")),
    ("mysql_scanner", false, "Adds support for connecting to a MySQL database", Seq("mysql")),
    ("parquet", true, "Adds support for reading and writing parquet files", Nil),
    ("postgres_scanner", false, "Adds support for connecting to a Postgres database", Seq("postgres")),
    ("spatial", false, "Geospatial extension that adds support for working with spatial data and functions", Nil),
    ("sqlite_scanner", false, "Adds support for reading and writing SQLite database files",
      Seq("sqlite", "sqlite3")),
    ("substrait", false, "Adds support for the Substrait integration", Nil),
    ("tpcds", false, "Adds TPC-DS data generation and query support", Nil),
    ("tpch", false, "Adds TPC-H data generation and query support", Nil),
    ("vss", false, "Adds indexing support to accelerate Vector Similarity Search", Nil))

  def extensionsDf(): DataFrame = {
    val rows = extensionData.map { case (n, loaded, desc, aliases) =>
      Row(n, loaded, loaded, "", desc, aliases, "",
        if (loaded) "STATICALLY_LINKED" else null, "")
    }
    df(extensionsSchema, rows)
  }

  // --- duckdb_memory() / duckdb_temporary_files() --------------------------

  /** DuckDB 1.0's 12 fixed memory tags (probed). The JVM does not account
    * per-component, so the one pool it does track — the allocator — maps
    * to ALLOCATOR (live used heap); component tags report 0, exactly what
    * a fresh DuckDB reports for them. */
  def memoryDf(): DataFrame = {
    val schema = StructType(Seq(
      fld("tag", StringType), fld("memory_usage_bytes", LongType),
      fld("temporary_storage_bytes", LongType)))
    val tags = Seq("BASE_TABLE", "HASH_TABLE", "PARQUET_READER",
      "CSV_READER", "ORDER_BY", "ART_INDEX", "COLUMN_DATA",
      "OVERFLOW_STRINGS", "IN_MEMORY_TABLE", "ALLOCATOR", "METADATA",
      "EXTENSION")
    val rt = Runtime.getRuntime
    val used = rt.totalMemory - rt.freeMemory
    val rows = tags.map(t =>
      Row(t, if (t == "ALLOCATOR") used else 0L, 0L))
    df(schema, rows)
  }

  /** Spill files currently held by THIS application's block-manager
    * directories (via the BlockDirsShim — a bare `blockmgr-*` glob over
    * the shared tmp dir would report other Spark apps' files on a
    * multi-app box) — the engine's twin of DuckDB's temp-file listing
    * (both empty when nothing has spilled). */
  def temporaryFilesDf(): DataFrame = {
    val schema = StructType(Seq(
      fld("path", StringType), fld("size", LongType)))
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    val rows = org.apache.spark.graft.BlockDirsShim.localDirs()
      .flatMap(walk)
      .map(f => Row(f.getPath, f.length)).sortBy(_.getString(0))
    df(schema, rows)
  }

  // --- duckdb_dependencies() ----------------------------------------------

  private val dependenciesSchema = StructType(Seq(
    fld("classid", LongType), fld("objid", LongType),
    fld("objsubid", IntegerType), fld("refclassid", LongType),
    fld("refobjid", LongType), fld("refobjsubid", IntegerType),
    fld("deptype", StringType)))

  /** DuckDB 1.0's dependency manager surfaces exactly two edge classes
    * through `duckdb_dependencies()` (probed; tables/views/sequences
    * alone record nothing): an index on a table rows as
    * (objid = table oid, refobjid = index oid, deptype 'a'), and a
    * column `DEFAULT nextval('seq')` rows as (objid = sequence oid,
    * refobjid = table oid, deptype 'n'). The oids here are the same
    * ones duckdb_tables/indexes/sequences report, so the catalog joins
    * a reference user's tooling runs work unchanged. */
  def dependenciesDf(): DataFrame = {
    val names = userTables()
    val tableOid = names.zipWithIndex
      .map { case (t, i) => t.toLowerCase -> (1000L + i) }.toMap
    val seqOid = gw.sequences.toSeq.sortBy(_._1).zipWithIndex
      .map { case ((n, _), i) => n -> (3000L + i) }.toMap
    val idxRows = gw.indexes.toSeq.sortBy(_._1).zipWithIndex.flatMap {
      case ((_, (table, _, _)), i) =>
        tableOid.get(table).map(t => Row(0L, t, 0, 0L, 4000L + i, 0, "a"))
    }
    val NextvalRe = """(?i)nextval\s*\(\s*'([^']+)'\s*\)""".r
    val seqRows = names.flatMap { t =>
      gw.columnDefaults.getOrElse(t.toLowerCase, Map.empty).values
        .flatMap(d => NextvalRe.findAllMatchIn(d).map(_.group(1).toLowerCase))
        .toSeq.distinct.sorted
        .flatMap(s => seqOid.get(s).map(so =>
          Row(0L, so, 0, 0L, tableOid(t.toLowerCase), 0, "n")))
    }
    df(dependenciesSchema, seqRows ++ idxRows)
  }

  // --- duckdb_optimizers() ------------------------------------------------

  /** DuckDB 1.0's optimizer inventory, verbatim (probed) — the surface a
    * reference user's tooling sees through `db/db.go:70`. The engine's
    * actual optimizer is Catalyst; the SURVEY §4 table maps each row to
    * its Catalyst twin (filter_pushdown → PushDownPredicates,
    * unused_columns → ColumnPruning, top_n → TakeOrderedAndProject,
    * join_order → CostBasedJoinReorder + AQE, statistics_propagation →
    * ComputeStats/AQE runtime stats, …). */
  def optimizersDf(): DataFrame = {
    val names = Seq("column_lifetime", "common_aggregate",
      "common_subexpressions", "compressed_materialization", "deliminator",
      "duplicate_groups", "expression_rewriter", "extension",
      "filter_pullup", "filter_pushdown", "in_clause", "join_order",
      "regex_range", "reorder_filter", "statistics_propagation", "top_n",
      "unnest_rewriter", "unused_columns")
    df(StructType(Seq(fld("name", StringType))), names.map(Row(_)))
  }

  // --- duckdb_secrets() ---------------------------------------------------

  /** Schema-exact empty listing (probed: a fresh DuckDB 1.0 with no
    * CREATE SECRET reports zero rows; this engine's credentials travel
    * through the session Hadoop conf, never a secret catalog). */
  def secretsDf(): DataFrame =
    df(StructType(Seq(fld("name", StringType), fld("type", StringType),
      fld("provider", StringType), fld("persistent", BooleanType),
      fld("storage", StringType),
      fld("scope", ArrayType(StringType, containsNull = true)),
      fld("secret_string", StringType))), Nil)

  // --- pragma_collations() ------------------------------------------------

  /** DuckDB 1.0's collation inventory, verbatim (probed: 133 names —
    * nocase/noaccent/nfc plus the bundled ICU locales). The gateway's
    * COLLATE rewrite honors NOCASE/NOACCENT and their dotted
    * combinations; an unsupported collation refuses loudly at use. */
  def collationsDf(): DataFrame = {
    val names = Seq("af", "am", "ar", "ar_sa", "as", "az", "be", "bg",
      "bn", "bo", "br", "bs", "ca", "ceb", "chr", "cs", "cy", "da", "de",
      "de_at", "dsb", "dz", "ee", "el", "en", "en_us", "eo", "es", "et",
      "fa", "fa_af", "ff", "fi", "fil", "fo", "fr", "fr_ca", "fy", "ga",
      "gl", "gu", "ha", "haw", "he", "he_il", "hi", "hr", "hsb", "hu",
      "hy", "id", "id_id", "ig", "is", "it", "ja", "ka", "kk", "kl",
      "km", "kn", "ko", "kok", "ku", "ky", "lb", "lkt", "ln", "lo", "lt",
      "lv", "mk", "ml", "mn", "mr", "ms", "mt", "my", "nb", "nb_no",
      "ne", "nfc", "nl", "nn", "noaccent", "nocase", "om", "or", "pa",
      "pa_in", "pl", "ps", "pt", "ro", "ru", "sa", "se", "si", "sk",
      "sl", "smn", "sq", "sr", "sr_ba", "sr_me", "sr_rs", "sv", "sw",
      "ta", "te", "th", "tk", "to", "tr", "ug", "uk", "ur", "uz", "vi",
      "wae", "wo", "xh", "yi", "yo", "yue", "yue_cn", "zh", "zh_cn",
      "zh_hk", "zh_mo", "zh_sg", "zh_tw", "zu")
    df(StructType(Seq(fld("collname", StringType))), names.map(Row(_)))
  }

  // --- pragma_user_agent() ------------------------------------------------

  /** The engine identity string a reference deployment's embedded DuckDB
    * reports (`duckdb/v1.0.0(linux_amd64_gcc4)`); clients append their
    * own suffix (the python oracle adds " python"), so pins compare the
    * engine prefix. */
  def userAgentDf(): DataFrame =
    df(StructType(Seq(fld("user_agent", StringType))),
      Seq(Row("duckdb/v1.0.0(linux_amd64_gcc4)")))

  // --- pragma_metadata_info() ----------------------------------------------

  /** Schema-exact empty listing (probed: an in-memory DuckDB 1.0 reports
    * zero metadata blocks; this engine's metadata lives in the Spark
    * catalog + parquet footers, not a block manager). */
  def metadataInfoDf(): DataFrame =
    df(StructType(Seq(fld("block_id", LongType), fld("total_blocks", LongType),
      fld("free_blocks", LongType),
      fld("free_list", ArrayType(LongType, containsNull = true)))), Nil)

  // --- pragma_storage_info(table) -------------------------------------------

  private val storageInfoSchema = StructType(Seq(
    fld("row_group_id", LongType), fld("column_name", StringType),
    fld("column_id", LongType), fld("column_path", StringType),
    fld("segment_id", LongType), fld("segment_type", StringType),
    fld("start", LongType), fld("count", LongType),
    fld("compression", StringType), fld("stats", StringType),
    fld("has_updates", BooleanType), fld("persistent", BooleanType),
    fld("block_id", LongType), fld("block_offset", LongType),
    fld("segment_info", StringType)))

  /** DuckDB's per-segment storage X-ray, schema-exact, describing THIS
    * engine's storage truthfully: one row per (parquet row group ×
    * column chunk), read from the table's footers (the ParquetMeta
    * machinery). `segment_type` is the column's DuckDB type name,
    * `start` the row group's cumulative row offset, `compression` the
    * parquet codec, `stats` the footer min/max/null-count in DuckDB's
    * rendering. Values are engine-specific by construction (DuckDB
    * describes its native block segments; a fresh table with no files
    * reports zero rows in both, and a missing table raises DuckDB's
    * Catalog Error) — the schema and the error contract are the parity
    * surface. Footer rows are bounded: one per column chunk, collected
    * driver-side like every other catalog listing. */
  def storageInfoDf(table: String): DataFrame = {
    val names = userTables()
    val t = names.find(_.equalsIgnoreCase(table)).getOrElse(
      throw new IllegalArgumentException(
        s"Catalog Error: Table with name $table does not exist!"))
    val schema = spark.table(t).schema
    val colId = schema.fields.zipWithIndex
      .map { case (f, i) => f.name.toLowerCase -> i }.toMap
    val typeName = schema.fields
      .map(f => f.name.toLowerCase -> Results.duckTypeName(f)).toMap
    val files = spark.table(t).inputFiles.toSeq.sorted
    if (files.isEmpty) return df(storageInfoSchema, Nil)
    val meta = graft.sources.ParquetMeta.metadataDf(spark, files)
      .select("file_name", "row_group_id", "row_group_num_rows",
        "path_in_schema", "stats_min_value", "stats_max_value",
        "stats_null_count", "compression", "num_values")
      .collect().toSeq
      .sortBy(r => (r.getString(0), r.getLong(1)))
    // global row-group ids + cumulative row offsets across files
    val groups = meta.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .distinct
    val rgId = groups.zipWithIndex
      .map { case ((f, rg, _), i) => (f, rg) -> i.toLong }.toMap
    val rgStart = groups.zip(groups.scanLeft(0L)(_ + _._3))
      .map { case ((f, rg, _), off) => (f, rg) -> off }.toMap
    val rows = meta.flatMap { r =>
      val key = (r.getString(0), r.getLong(1))
      val col = r.getString(3).split("\\.")(0)
      colId.get(col.toLowerCase).map { id =>
        val min = Option(r.get(4)).map(_.toString).getOrElse("NULL")
        val max = Option(r.get(5)).map(_.toString).getOrElse("NULL")
        val nulls = Option(r.get(6)).map(_.asInstanceOf[Long])
        val hasNull = nulls.map(_ > 0)
        val stats = s"[Min: $min, Max: $max]" + hasNull.map(h =>
          s"[Has Null: $h, Has No Null: ${!h || r.getLong(8) > nulls.get}]")
          .getOrElse("")
        Row(rgId(key), col, id.toLong, s"[$id]", 0L,
          typeName(col.toLowerCase), rgStart(key), r.getLong(8),
          r.getString(7), stats, false, true, null, null, "")
      }
    }
    df(storageInfoSchema, rows.sortBy(r => (r.getLong(0), r.getLong(2))))
  }
}
