package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim
import scala.collection.concurrent.TrieMap

/** The `db/db.go:49-117` equivalent: a two-method SQL passthrough —
  * `execute(sql)` for writes, `query(sql)` for reads — backed by
  * `spark.sql` instead of an embedded DuckDB.
  *
  * Semantics preserved from the reference (SURVEY.md §4.2):
  *  - **writes are serialized** (Raft applies one statement at a time,
  *    `store/store.go:242-256`) → a single writer lock here;
  *  - **reads are lock-free and concurrent** (`store/store.go:196-199`);
  *  - **`PRIMARY KEY` / `NOT NULL` are enforced on insert** — DuckDB
  *    enforces them natively (`cmd/cli/client.go:101`); Spark does not, so
  *    the gateway rewrites the DDL, remembers the constraints, and checks
  *    them with an anti-join before appending (SURVEY.md §7.4 item 2);
  *  - **UPDATE/DELETE** (named as supported, reference `README.md:36`)
  *    are read-filter-rewrite commands over the managed table — Spark has
  *    no DML on plain parquet (SURVEY.md §7.4 item 1);
  *  - **rows_affected** is computed around each write (`db/db.go:57-64`).
  *
  * Scale note: constraint checks and DML rewrites are full DataFrame plans
  * (anti-joins / filters), not driver loops — they distribute like any
  * other query. The writer lock serializes *statements*, not partitions.
  *
  * Storage model: gateway tables are parquet tables whose data lives under
  * a per-table **versioned directory** (`<warehouse>/<t>__graft/v<N>`).
  * UPDATE/DELETE write the rewritten table to `v<N+1>` and then atomically
  * repoint the catalog (`ALTER TABLE ... SET LOCATION`) — a concurrent
  * reader keeps reading the fully-intact `v<N>` files, giving the same
  * snapshot isolation DuckDB MVCC gives the reference's readers, and a
  * mid-write failure leaves the live table untouched. The previous version
  * is retained (like the reference's `retainSnapshotCount = 2`,
  * `store/store.go:22`) and GC'd one rewrite later.
  *
  * Session: the gateway owns one, cloned from `caller` at construction
  * (conf, current database, temp views, functions, listeners) with
  * [[DuckSemantics]] installed, so every statement and expression it
  * parses or analyzes — SELECT and DML alike — has DuckDB's semantics,
  * like the reference's one DuckDB connection (`db/db.go:52`, `:70`).
  * The conf and functions below land on it; `caller` is left alone.
  * A caller that read a gateway table before keeps its own cached
  * relation, so a gateway's tables are read through [[spark]].
  */
class SqlGateway(caller: SparkSession) {
  /** Decoded images of this gateway's small tables (and any small parquet
    * view it reads), which its session's reads and DML fold over. */
  private[graft] val images = new DriverImages
  val spark: SparkSession = ColumnShim.gatewaySession(caller, DuckSemantics.extensions(images))
  import SqlLex.splitTopLevel
  private val writeLock = new Object

  // DuckDB map semantics: a duplicate key keeps the LAST value (probed:
  // map_concat(MAP{'a':1}, MAP{'a':9}) → {'a':9}); Spark's default
  // policy throws instead
  spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
  // DuckDB's double quotes delimit IDENTIFIERS, never strings (probed:
  // `SELECT "a" FROM (SELECT 1 AS a) t` → 1; `SELECT "nosuch"` → binder
  // error, not a literal). Spark's ANSI flag gives exactly that reading.
  spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
  // TIME-of-day casts/literals resolve natively (probed: CAST('bad' AS
  // TIME) errors loudly in both engines; fraction round-trips). DDL-
  // declared TIME columns keep their STRING storage mapping (cornerType)
  // for parquet compatibility — this flag covers expression-level TIME.
  spark.conf.set("spark.sql.timeType.enabled", "true")

  // DuckDB-exact regexp_replace (first-match default, RE2 rewrite syntax,
  // option letters — graft.functions.DuckRegexpReplace scaladoc): every
  // DuckDB-dialect regexp_replace call is rewritten to this name, so the
  // flag/backref semantics never silently fall back to Spark's builtin.
  // Native Catalyst expression, not a UDF (idempotent re-registration).
  org.apache.spark.sql.graft.ColumnShim.registerFunction(spark,
    "duck_regexp_replace", {
      case Seq(s, p, r) => graft.functions.DuckRegexpReplace(s, p, r,
        org.apache.spark.sql.catalyst.expressions.Literal(""))
      case Seq(s, p, r, f) => graft.functions.DuckRegexpReplace(s, p, r, f)
      case args => throw new IllegalArgumentException(
        s"regexp_replace takes 3 or 4 arguments, got ${args.length}")
    })
  // DuckDB-exact TIMESTAMPTZ cast (DuckTstzCast scaladoc) — the per-row
  // path for non-literal `x::TIMESTAMPTZ` / `CAST(x AS TIMESTAMP WITH
  // TIME ZONE)`; literals fold at rewrite time through the same parser.
  // Second literal-true argument = TRY_CAST (NULL instead of raising).
  org.apache.spark.sql.graft.ColumnShim.registerFunction(spark,
    "graft_tstz_cast", {
      case Seq(c) => graft.functions.DuckTstzCast(c, tryMode = false)
      case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(t: Boolean, _)) =>
        graft.functions.DuckTstzCast(c, tryMode = t)
      case args => throw new IllegalArgumentException(
        s"graft_tstz_cast is internal; got ${args.length} args")
    })
  // DuckDB-exact strftime with the complete code table (DuckStrftime
  // scaladoc) — the fallback when the compile-time date_format translation
  // can't express a literal format, and the ONLY path for per-row formats.
  org.apache.spark.sql.graft.ColumnShim.registerFunction(spark,
    "duck_strftime", {
      case Seq(ts, fmt) => graft.functions.DuckStrftime(ts, fmt)
      case args => throw new IllegalArgumentException(
        s"strftime takes 2 arguments, got ${args.length}")
    })
  // DuckDB bracket slices `x[lo:hi]` have no Spark spelling at all — the
  // text pass emits this placeholder call and DuckSemantics.PlanRule swaps
  // the analyzed node for the type-dispatched LIST/VARCHAR tree (DuckSlice
  // scaladoc). The two trailing booleans mark which bounds were spelled.
  org.apache.spark.sql.graft.ColumnShim.registerFunction(spark,
    "graft_duck_slice", {
      case Seq(c, lo, hi,
          org.apache.spark.sql.catalyst.expressions.Literal(hasLo: Boolean, _),
          org.apache.spark.sql.catalyst.expressions.Literal(hasHi: Boolean, _)) =>
        graft.functions.DuckSlice(c, lo, hi, hasLo, hasHi)
      case args => throw new IllegalArgumentException(
        s"graft_duck_slice is internal; got ${args.length} args")
    })
  // step slices `x[lo:hi:step]` / 4-arg list_slice — LIST operands only
  // (strings stay unresolved → loud refusal, matching DuckDB's own
  // "not implemented for string types" error)
  org.apache.spark.sql.graft.ColumnShim.registerFunction(spark,
    "graft_duck_slice_step", {
      case Seq(c, lo, hi, st,
          org.apache.spark.sql.catalyst.expressions.Literal(hasLo: Boolean, _)) =>
        graft.functions.DuckSliceStep(c, lo, hi, st, hasLo)
      case args => throw new IllegalArgumentException(
        s"graft_duck_slice_step is internal; got ${args.length} args")
    })
  // DuckDB scalar functions Spark has no builtin for — string similarity
  // kernels + integer gcd/lcm (DuckTextDistance scaladoc). Registered
  // under their DuckDB names directly; no text rewrite involved.
  locally {
    import graft.functions._
    import org.apache.spark.sql.catalyst.expressions.Expression
    def two(name: String)(mk: (Expression, Expression) => Expression): Unit =
      org.apache.spark.sql.graft.ColumnShim.registerFunction(spark, name, {
        case Seq(a, b) => mk(a, b)
        case args => throw new IllegalArgumentException(
          s"$name takes 2 arguments, got ${args.length}")
      })
    two("jaccard")(DuckJaccard(_, _))
    two("hamming")(DuckHamming(_, _))
    two("mismatches")(DuckHamming(_, _))
    two("damerau_levenshtein")(DuckDamerauLevenshtein(_, _))
    two("jaro_similarity")(DuckJaro(_, _))
    two("jaro_winkler_similarity")(DuckJaroWinkler(_, _))
    two("gcd")(DuckGcd(_, _))
    two("lcm")(DuckLcm(_, _))
    two("greatest_common_divisor")(DuckGcd(_, _))
    two("least_common_multiple")(DuckLcm(_, _))
    // text/path/bytes/time scalars with no Spark builtin (DuckPathText
    // scaladoc — every corner probed against DuckDB 1.0)
    def lit(s: String) =
      org.apache.spark.sql.catalyst.expressions.Literal(s)
    def one(name: String)(mk: Expression => Expression): Unit =
      org.apache.spark.sql.graft.ColumnShim.registerFunction(spark, name, {
        case Seq(a) => mk(a)
        case args => throw new IllegalArgumentException(
          s"$name takes 1 argument, got ${args.length}")
      })
    one("strip_accents")(StripAccents(_))
    one("nfc_normalize")(NfcNormalize(_))
    // DuckDB's cast-to-JSON (DuckJsonCast scaladoc); the gateway rewrites
    // `x::JSON` and [TRY_]CAST(x AS JSON) onto these
    one("graft_json_cast")(DuckJsonCast(_, tryMode = false))
    one("graft_json_cast_try")(DuckJsonCast(_, tryMode = true))
    one("format_bytes")(FormatBytes(_))
    // ClickHouse-compat pair (probed): *Size is binary KiB like
    // format_bytes; *DecimalSize is SI kB with the same truncation
    one("formatreadablesize")(FormatBytes(_))
    one("formatreadabledecimalsize")(FormatBytes(_, decimal = true))
    one("gamma")(GammaFn(_))
    one("lgamma")(LGammaFn(_))
    one("duck_epoch_ms")(DuckEpochMs(_)) // epoch_ms: overloaded by arg type
    org.apache.spark.sql.graft.ColumnShim.registerFunction(spark, "bar", {
      case Seq(x, lo, hi) => BarFn(x, lo, hi,
        org.apache.spark.sql.catalyst.expressions.Literal(80.0))
      case Seq(x, lo, hi, w) => BarFn(x, lo, hi, w)
      case args => throw new IllegalArgumentException(
        s"bar takes 3-4 arguments, got ${args.length}")
    })
    def pathFn(name: String)(mk: (Expression, Expression) => Expression): Unit =
      org.apache.spark.sql.graft.ColumnShim.registerFunction(spark, name, {
        case Seq(a) => mk(a, lit("both_slash"))
        case Seq(a, s) => mk(a, s)
        case args => throw new IllegalArgumentException(
          s"$name takes 1-2 arguments, got ${args.length}")
      })
    pathFn("parse_path")(ParsePath(_, _))
    pathFn("parse_dirname")(ParseDirname(_, _))
    pathFn("parse_dirpath")(ParseDirpath(_, _))
    org.apache.spark.sql.graft.ColumnShim.registerFunction(spark,
      "parse_filename", {
        case Seq(a) => ParseFilename(a, org.apache.spark.sql.catalyst
          .expressions.Literal(false), lit("both_slash"))
        // 2-arg second operand: boolean = trim_extension, string = the
        // separator option (both probed DuckDB spellings)
        case Seq(a, t) if scala.util.Try(t.dataType ==
            org.apache.spark.sql.types.StringType).getOrElse(false) =>
          ParseFilename(a,
            org.apache.spark.sql.catalyst.expressions.Literal(false), t)
        case Seq(a, t) => ParseFilename(a, t, lit("both_slash"))
        case Seq(a, t, s) => ParseFilename(a, t, s)
        case args => throw new IllegalArgumentException(
          s"parse_filename takes 1-3 arguments, got ${args.length}")
      })
    two("time_bucket")(DuckTimeBucket(_, _))
    one("typeof")(DuckTypeof(_))
    two("nextafter")(NextAfter(_, _))
    one("length")(DuckLen(_)) // duck length works on LISTS too (DuckLen)
    one("len")(DuckLen(_))
    // json_merge_patch / json_contains (DuckJson scaladoc — RFC 7386 with
    // DuckDB's probed top-level deviations; structural containment)
    two("json_merge_patch")(DuckJsonMergePatch(_, _))
    two("json_contains")(DuckJsonContains(_, _))
    one("json_structure")(DuckJsonStructure(_))
    // age(a, b): Postgres-style calendar difference (DuckAge scaladoc);
    // the 1-arg current_date-anchored form is rewritten in defaults
    two("age")(DuckAge(_, _))
    // grapheme-cluster text functions (GraphemeExpressions scaladoc —
    // UAX #29 extended clusters via \X, index corners probed)
    one("length_grapheme")(LengthGrapheme(_))
    two("left_grapheme")(LeftGrapheme(_, _))
    two("right_grapheme")(RightGrapheme(_, _))
    org.apache.spark.sql.graft.ColumnShim.registerFunction(spark,
      "substring_grapheme", {
        case Seq(s, b) => SubstringGrapheme(s, b,
          org.apache.spark.sql.catalyst.expressions.Literal(Int.MaxValue))
        case Seq(s, b, l) => SubstringGrapheme(s, b, l)
        case args => throw new IllegalArgumentException(
          s"substring_grapheme takes 2-3 arguments, got ${args.length}")
      })
    // DuckDB's product aggregate (ProductAggregator scaladoc)
    spark.udf.register("graft_product",
      org.apache.spark.sql.functions.udaf(new ProductAggregator))
    // DuckDB's entropy aggregate (EntropyAggregator scaladoc)
    spark.udf.register("graft_entropy",
      org.apache.spark.sql.functions.udaf(new EntropyAggregator))
    // DuckDB's mad aggregate (MadAggregator scaladoc)
    spark.udf.register("graft_mad",
      org.apache.spark.sql.functions.udaf(new MadAggregator))
  }
  /** table → (primary-key columns, not-null columns) */
  private[engine] val constraints = new TrieMap[String, (Seq[String], Seq[String])]
  /** table → column → DEFAULT expression text (DuckDB spelling; applied
    * through duckCompat at insert time — the gateway builds every insert
    * batch itself, so Spark's own column-default metadata never fires) */
  private[engine] val columnDefaults = new TrieMap[String, Map[String, String]]
  /** table → CHECK expressions (SQL text; enforced on insert/update like
    * DuckDB — a row violates only when the expression is FALSE, NULL
    * passes, per the SQL standard). */
  private[engine] val checks = new TrieMap[String, Seq[String]]
  /** sequence state: `nextval`/`currval` are rewritten to literals before
    * `spark.sql` — the counter lives on the driver, matching DuckDB where
    * the sequence is database metadata, not data. Like PostgreSQL,
    * sequence advancement is NOT transactional (a rolled-back insert does
    * not refund its ids). */
  private[engine] val sequences = new TrieMap[String, SqlGateway.SeqState]
  /** sequence → last value returned by nextval (for currval). */
  private[engine] val seqLast = new TrieMap[String, Long]
  /** sequence → declared START value (duckdb_sequences reporting; the
    * live counter in [[sequences]] moves past it). Absent for sequences
    * restored from a pre-r11 snapshot — readers fall back to the
    * increment-sign default bound. */
  private[engine] val seqStarts = new TrieMap[String, Long]
  /** macro → (param name → default expression text) for the `p := expr`
    * parameters — DuckDB's named-only defaults (probed: passing one
    * positionally is a binder error). Keyed like [[macros]]. */
  private[engine] val macroDefaults = new TrieMap[String, Map[String, String]]
  /** macro → (parameter names, body SQL). Scalar macros, expanded
    * textually (DuckDB expands them at bind time — same effect). */
  private[engine] val macros = new TrieMap[String, (Seq[String], String)]
  /** index → (table, key columns, unique?). A non-unique index is pure
    * metadata here (Spark scans have no secondary-index access path, and
    * an index never changes results — accepting it is semantically exact);
    * a UNIQUE index is verified at creation and enforced on every
    * insert/update path like the PK. */
  private[engine] val indexes = new TrieMap[String, (String, Seq[String], Boolean)]
  /** prepared-statement name → SQL text with $1/$2… or ? placeholders. */
  private val prepared = new TrieMap[String, String]
  /** `SET key = value` session settings (DuckDB accepts engine-tuning
    * keys like memory_limit/threads; Spark's executor sizing is cluster
    * config, so the values are recorded and readable via
    * `current_setting()` rather than silently dropped). */
  private[engine] val settings = new TrieMap[String, String]
  /** CREATE TYPE name AS ENUM(...) — name → definition, expanded when the
    * name appears as a column type in CREATE TABLE. */
  private[engine] val namedTypes = new TrieMap[String, String]
  /** COMMENT ON metadata, keyed `table:<t>` / `column:<t>.<c>` /
    * `view:<v>` / `index:<i>` (all lowercased); surfaced through the
    * CatalogInfo comment columns like DuckDB's. */
  private[engine] val comments = new TrieMap[String, String]
  /** Tables created with CREATE TEMP/TEMPORARY TABLE — catalog flag only
    * (CreateRe scaladoc: DuckDB's own EXPORT drops temp-ness too). */
  private[engine] val tempTables = new TrieMap[String, Unit]
  /** table → current data-directory version (versioned-location tables). */
  private val versions = new TrieMap[String, Int]
  /** CREATE VIEW registry: key → (display name, optional column aliases,
    * body SQL). DuckDB re-binds a view's body at EVERY query (probed:
    * reflects later inserts, base-table drop+recreate, txn own-writes);
    * Spark's catalog views store the body text and re-analyze it with
    * SPARK semantics, bypassing every dialect pass (1-based subscripts,
    * `//`, duck casts, NULLS placement, /0→NULL…) — the silent-wrong
    * class this gateway eliminates. So views live HERE: the body runs
    * through the full [[queryDf]] pipeline and is materialized as a temp
    * view, re-materialized lazily after any mutating statement (the only
    * moments a DuckDB re-bind could observe anything new). Reference:
    * views reach the engine as plain statements via `db/db.go:70`. */
  // Copy-on-write: reads (queryDf's ensureUserViews on the HTTP pool's 8
  // threads takes NO lock) always see an immutable, insertion-ordered
  // snapshot; mutations (view DDL / clearViews — all under [[writeLock]])
  // swap the reference. Two threads racing to materialize the same stale
  // view do idempotent duplicate work (same body, same temp-view name),
  // never corrupt state.
  @volatile private var userViews =
    scala.collection.immutable.VectorMap.empty[String, (String, Option[Seq[String]], String)]
  /** view key → bind error replayed when a statement references it (body
    * no longer binds, or infinite recursion — DuckDB raises at bind). */
  private val brokenViews = new TrieMap[String, String]
  /** view key → (output column names, DuckDB type names) recorded at the
    * CREATE-time bind (snapshot-imported views record at first use).
    * DuckDB pins a view's result shape at creation and refuses a re-bind
    * that drifts — "Contents of view were altered" (probed: replacing an
    * inner view, ALTER on the base table) — so a reader never silently
    * sees a different shape than the one the view was declared with. */
  private val viewShapes = new TrieMap[String, (Seq[String], Seq[String])]
  /** view key → [[mutationGen]] at which its temp view was materialized. */
  private val viewGen = new TrieMap[String, Long]
  /** compiled whole-word reference pattern per registered name. */
  private val viewRefRe = new TrieMap[String, scala.util.matching.Regex]
  /** bumped after every successful mutating statement; a view whose
    * generation lags is re-materialized before its next use. */
  @volatile private var mutationGen = 0L

  // TEMP/TEMPORARY accepted and tracked ([[tempTables]]): DuckDB's temp
  // tables are session-scoped, and the gateway IS one session — they
  // behave as regular tables here except for the catalog's `temporary`
  // flag. Probed: DuckDB's own EXPORT DATABASE writes temp tables as
  // plain CREATE TABLE (temp-ness does not survive a snapshot there
  // either), so Snapshot needs no special casing.
  private val CreateRe =
    """(?is)\s*CREATE\s+(?:OR\s+(REPLACE)\s+)?(?:(?:GLOBAL\s+|LOCAL\s+)?(TEMP|TEMPORARY)\s+)?TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?([\w.]+)\s*\((.*)\)\s*""".r
  private val CtasRe =
    """(?is)\s*CREATE\s+(?:OR\s+(REPLACE)\s+)?(?:(?:GLOBAL\s+|LOCAL\s+)?(TEMP|TEMPORARY)\s+)?TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?([\w.]+)\s+AS\s+(.*)""".r
  private val InsertPrefixRe =
    """(?is)\s*INSERT\s+(?:OR\s+(REPLACE|IGNORE)\s+)?INTO\s+([\w.]+)\s*(.*)""".r
  private val UpdateRe =
    """(?is)\s*UPDATE\s+([\w.]+)\s+SET\s+(.*)\s*""".r
  private val DeleteRe =
    """(?is)\s*DELETE\s+FROM\s+([\w.]+)(?:\s+WHERE\s+(.*))?\s*""".r
  // DuckDB's join-form DELETE (`DELETE FROM t [AS a] USING u WHERE ...`,
  // reachable via db/db.go:52); the USING clause text is split at the
  // top-level WHERE by the handler (it may contain an alias)
  private val DeleteUsingRe =
    """(?is)\s*DELETE\s+FROM\s+([\w.]+)(?:\s+(?:AS\s+)?(\w+))?\s+USING\s+(.*)""".r
  private val DropRe = """(?is)\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?([\w.]+)\s*""".r
  // the alias list admits double-quoted names, which may contain parens
  // (probed: CREATE VIEW v ("col(1)") AS SELECT 42 binds in DuckDB)
  private val CreateViewRe =
    ("""(?is)\s*CREATE\s+(?:OR\s+(REPLACE)\s+)?(?:TEMP(?:ORARY)?\s+)?VIEW\s+""" +
     """(?:(IF\s+NOT\s+EXISTS)\s+)?([\w.]+)\s*""" +
     """(?:\(((?:[^()"]|"[^"]*")*)\))?\s*AS\s+(.*)""").r
  private val DropViewRe =
    """(?is)\s*DROP\s+VIEW\s+(?:(IF\s+EXISTS)\s+)?([\w.]+)\s*""".r
  // snapshot statements, reachable through the same passthrough a client
  // uses in the reference (`store/store.go:263` sends `EXPORT DATABASE
  // '<dir>' (FORMAT PARQUET)`, `store/store.go:314` `IMPORT DATABASE
  // '<dir>'` — both are plain SQL text to `db.Query`)
  private val ExportDbRe =
    """(?is)\s*EXPORT\s+DATABASE\s+'([^']+)'(?:\s*\(\s*FORMAT\s+PARQUET\s*\))?\s*""".r
  private val ImportDbRe = """(?is)\s*IMPORT\s+DATABASE\s+'([^']+)'\s*""".r
  private val AlterRenameRe =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*""".r
  private val AlterViewRenameRe =
    """(?is)\s*ALTER\s+VIEW\s+(?:(IF\s+EXISTS)\s+)?([\w.]+)\s+RENAME\s+TO\s+([\w.]+)\s*""".r
  private val AlterRenameTableRe =
    """(?is)\s*ALTER\s+TABLE\s+(?:(IF\s+EXISTS)\s+)?([\w.]+)\s+RENAME\s+TO\s+([\w.]+)\s*""".r
  private val AlterSetDefaultRe =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+(?:COLUMN\s+)?(\w+)\s+SET\s+DEFAULT\s+(.+?)\s*""".r
  private val AlterDropDefaultRe =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+(?:COLUMN\s+)?(\w+)\s+DROP\s+DEFAULT\s*""".r
  private val AlterTypeRe =
    ("""(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+(?:COLUMN\s+)?(\w+)\s+""" +
     """(?:SET\s+DATA\s+)?TYPE\s+(\w+(?:\s*\([^)]*\))?)(?:\s+USING\s+(.+?))?\s*""").r
  private val AlterAddColRe =
    ("""(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+COLUMN\s+""" +
     """(?:(IF\s+NOT\s+EXISTS)\s+)?(\w+)\s+(.+?)\s*""").r
  private val AlterDropColRe =
    """(?is)\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+(?:COLUMN\s+)?(?:(IF\s+EXISTS)\s+)?(\w+)\s*""".r
  // COPY, reachable through the reference's passthrough like every other
  // DuckDB statement (`db/db.go:52`, `db/db.go:70`): `COPY t TO 'p'
  // (FORMAT ...)`, `COPY (SELECT ...) TO 'p' (...)`, `COPY t FROM 'p'
  // (...)`. DuckDB writes ONE file; the Spark-idiomatic equivalent is a
  // directory of part files (what a cluster can write in parallel), and
  // COPY FROM reads either shape.
  private val CopyQueryToRe =
    """(?is)\s*COPY\s+\((.+)\)\s+TO\s+'([^']+)'\s*(?:\(\s*(.*?)\s*\))?\s*""".r
  private val CopyTableToRe =
    """(?is)\s*COPY\s+([\w.]+)\s+TO\s+'([^']+)'\s*(?:\(\s*(.*?)\s*\))?\s*""".r
  private val CopyFromRe =
    """(?is)\s*COPY\s+([\w.]+)\s+FROM\s+'([^']+)'\s*(?:\(\s*(.*?)\s*\))?\s*""".r
  private val TruncateRe = """(?is)\s*TRUNCATE\s+(?:TABLE\s+)?([\w.]+)\s*""".r
  // sequences / macros / indexes / prepared statements — all plain DuckDB
  // statements a client can send through the reference passthrough
  // (db/db.go:52, db/db.go:70)
  private val CreateSeqRe =
    """(?is)\s*CREATE\s+(?:OR\s+(REPLACE)\s+)?SEQUENCE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?([\w.]+)(.*)""".r
  private val DropSeqRe =
    """(?is)\s*DROP\s+SEQUENCE\s+(?:(IF\s+EXISTS)\s+)?([\w.]+)\s*(CASCADE|RESTRICT)?\s*""".r
  private val CreateMacroRe =
    """(?is)\s*CREATE\s+(?:(OR\s+REPLACE)\s+)?MACRO\s+([\w.]+)\s*\(([^)]*)\)\s+AS\s+(.*)""".r
  private val DropMacroRe =
    """(?is)\s*DROP\s+MACRO\s+(?:(IF\s+EXISTS)\s+)?([\w.]+)\s*""".r
  private val CreateIndexRe =
    ("""(?is)\s*CREATE\s+(UNIQUE\s+)?INDEX\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s+""" +
      """ON\s+([\w.]+)\s*\(([^)]*)\)\s*""").r
  private val DropIndexRe =
    """(?is)\s*DROP\s+INDEX\s+(?:(IF\s+EXISTS)\s+)?(\w+)\s*""".r
  private val PrepareRe = """(?is)\s*PREPARE\s+(\w+)\s+AS\s+(.*)""".r
  private val ExecuteStmtRe = """(?is)\s*EXECUTE\s+(\w+)\s*(?:\((.*)\))?\s*""".r
  private val DeallocateRe =
    """(?is)\s*DEALLOCATE\s+(?:PREPARE\s+)?(\w+)\s*""".r
  private val BeginRe = """(?is)\s*BEGIN(?:\s+TRANSACTION)?\s*""".r
  private val CommitRe = """(?is)\s*COMMIT\s*""".r
  private val RollbackRe = """(?is)\s*(?:ROLLBACK|ABORT)\s*""".r
  // CHECKPOINT flushes DuckDB's WAL to the database file; every gateway
  // write is already durable parquet when the statement returns, so the
  // no-op is semantically exact (same for VACUUM, a no-op in DuckDB too)
  private val CheckpointRe = """(?is)\s*(?:FORCE\s+)?CHECKPOINT\s*""".r
  private val VacuumRe = """(?is)\s*VACUUM(?:\s+ANALYZE)?\s*""".r
  // ANALYZE recomputes optimizer statistics — Spark has the real thing
  private val AnalyzeRe = """(?is)\s*ANALYZE(?:\s+([\w.]+))?\s*""".r
  private val SetRe = """(?is)\s*SET\s+(?:SESSION\s+|GLOBAL\s+)?(\w+)\s*(?:=|TO)\s*(.+?)\s*""".r
  private val CommentOnRe =
    """(?is)\s*COMMENT\s+ON\s+(TABLE|VIEW|COLUMN|INDEX)\s+([\w.]+)\s+IS\s+(NULL|'(?:[^']|'')*')\s*""".r
  private val UseRe = """(?is)\s*USE\s+([\w.]+)\s*""".r
  private val ResetRe = """(?is)\s*RESET\s+(\w+)\s*""".r
  // ATTACH/DETACH (DuckDB's multi-database surface) is out of this
  // engine's deployment shape — the reference runs one database per node
  // (`db/db.go:17`), and the gateway's catalog is single-database by
  // design (SURVEY §3.3). A clean named refusal here beats handing the
  // statement to Spark's parser for an unrelated syntax error.
  private val AttachRe = """(?is)\s*(ATTACH|DETACH)\b.*""".r
  // named types: CREATE TYPE mood AS ENUM ('sad','ok','happy') — the
  // declared name then usable as a column type in CREATE TABLE
  private val CreateTypeRe =
    """(?is)\s*CREATE\s+TYPE\s+(\w+)\s+AS\s+(ENUM\s*\([^)]*\))\s*""".r
  private val DropTypeRe =
    """(?is)\s*DROP\s+TYPE\s+(?:(IF\s+EXISTS)\s+)?(\w+)\s*""".r

  /** Write path (reference `db/db.go:49-65`). */
  def execute(sql: String): ExecuteResult = writeLock.synchronized {
    // view DDL manages the registry itself — a broken view must stay
    // droppable/replaceable, so its bind error is not replayed here
    val isViewDdl = sql match {
      case CreateViewRe(_, _, _, _, _) | DropViewRe(_, _) |
           AlterViewRenameRe(_, _, _) => true // registry-level: a broken
        // view must stay renamable/droppable (DuckDB renames broken views)
      case _ => false
    }
    if (!isViewDdl) ensureUserViews(sql)
    val res = sql match {
      case BeginRe() => beginTxn()
      case CommitRe() => commitTxn()
      case RollbackRe() => rollbackTxn()
      case PrepareRe(name, body) =>
        prepared(name.toLowerCase) = body.trim; ExecuteResult(0L)
      case DeallocateRe(name) =>
        prepared.remove(name.toLowerCase); ExecuteResult(0L)
      case ExecuteStmtRe(name, args) =>
        execute(bindPrepared(name, Option(args)))
      case TruncateRe(table) => delete(table, None)
      case CheckpointRe() | VacuumRe() => ExecuteResult(0L)
      case AttachRe(verb) =>
        throw new IllegalArgumentException(
          s"${verb.toUpperCase} is not supported: this engine serves ONE " +
            "database per service instance (the reference's deployment " +
            "shape, db/db.go:17). Deploy a second service instance for a " +
            "second database.")
      case AnalyzeRe(table) =>
        // real statistics for Catalyst's CBO, not an accept-and-ignore:
        // row counts + per-column NDV/nulls/min/max on the named table
        // (or every catalog table, DuckDB's bare-ANALYZE scope)
        val targets = Option(table).map(Seq(_)).getOrElse(
          ColumnShim.userTables(spark))
        targets.foreach { t =>
          // column stats only exist for atomic types; complex columns
          // still get table-level stats from the base statement
          val atomic = spark.table(t).schema.fields.collect {
            case f if !f.dataType.typeName.matches("array|map|struct|binary") =>
              f.name
          }
          if (atomic.isEmpty) spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS")
          else spark.sql(
            s"ANALYZE TABLE $t COMPUTE STATISTICS FOR COLUMNS ${atomic.mkString(", ")}")
        }
        ExecuteResult(targets.size.toLong)
      case SetRe(key, value) =>
        settings(key.toLowerCase) = value.stripPrefix("'").stripSuffix("'")
        ExecuteResult(0L)
      case CommentOnRe(kind, name, value) => commentOn(kind, name, value)
      case UseRe(target) =>
        // single-database layout: only the identity targets are valid
        // (probed: DuckDB errors on unknown catalogs and on `USE temp`)
        if (!Set("memory", "main", "memory.main")
            .contains(target.toLowerCase))
          throw new IllegalArgumentException(
            s"""SET schema: No catalog + schema named "$target" found.""")
        ExecuteResult(0L)
      case ResetRe(key) =>
        settings.remove(key.toLowerCase); ExecuteResult(0L)
      case CreateTypeRe(name, spec) =>
        if (namedTypes.contains(name.toLowerCase))
          throw new IllegalArgumentException(s"type $name already exists")
        namedTypes(name.toLowerCase) = spec.trim; ExecuteResult(0L)
      case DropTypeRe(ife, name) =>
        if (namedTypes.remove(name.toLowerCase).isEmpty && ife == null)
          throw new IllegalArgumentException(s"unknown type $name")
        ExecuteResult(0L)
      case CreateSeqRe(orReplace, ine, name, spec) =>
        // OR REPLACE resets the whole sequence state (probed: the counter
        // restarts at the new START). Replacing an EXISTING sequence
        // inside a transaction is refused like DROP SEQUENCE — rollback
        // restores sequences by key set only and could not resurrect the
        // replaced counter.
        if (orReplace != null) {
          if (inTxn && sequences.contains(name.toLowerCase))
            throw new IllegalArgumentException(
              "CREATE OR REPLACE SEQUENCE of an existing sequence inside " +
                "a transaction is not supported")
          sequences.remove(name.toLowerCase)
          seqLast.remove(name.toLowerCase)
          seqStarts.remove(name.toLowerCase)
        }
        createSequence(name, spec, ine != null)
      case DropSeqRe(ife, name, cascade) =>
        // refused in a txn: rollback could only restore the counter by
        // refunding already-handed-out ids (same honest-subset posture as
        // DROP TABLE)
        if (inTxn)
          throw new IllegalArgumentException(
            "DROP SEQUENCE inside a transaction is not supported")
        val seqKey = name.toLowerCase
        // DuckDB's dependency fence (probed, incl. IF EXISTS/RESTRICT): a
        // sequence with a dependent column DEFAULT refuses with duck's
        // exact (quirkily-worded) message; CASCADE drops the dependent
        // TABLES themselves, duck's own cascade behavior
        if (sequences.contains(seqKey)) {
          val NextvalRe =
        ("""(?i)nextval\s*\(\s*'""" +
          java.util.regex.Pattern.quote(seqKey) + """'\s*\)""").r
          val dependents = columnDefaults.toSeq.collect {
            case (t, defs) if defs.values.exists(d =>
              NextvalRe.findFirstIn(d.toLowerCase).isDefined) => t
          }.sorted
          if (dependents.nonEmpty) {
            if (cascade == null || cascade.equalsIgnoreCase("RESTRICT"))
              throw new IllegalArgumentException(
                s"""Dependency Error: Cannot drop entry "$name" because """ +
                  "there are entries that depend on it.\n" +
                  s"""table "${dependents.head}" depends on index "$name".""" +
                  "\nUse DROP...CASCADE to drop all dependents.")
            dependents.foreach(t => dropTable(t))
          }
        }
        if (sequences.remove(seqKey).isEmpty && ife == null)
          throw new IllegalArgumentException(s"unknown sequence $name")
        seqLast.remove(seqKey)
        seqStarts.remove(seqKey); ExecuteResult(0L)
      case CreateMacroRe(orReplace, name, params, body) =>
        val key = name.toLowerCase
        if (macros.contains(key) && orReplace == null)
          throw new IllegalArgumentException(s"macro $name already exists")
        // table macros (`AS TABLE SELECT ...`): store the bare query — the
        // expansion's paren-wrap makes a call in FROM position a plain
        // subquery, exactly DuckDB's table-function behavior (probed)
        val bodyT = body.trim
        val stored =
          if ("""(?is)^TABLE\s""".r.findFirstIn(bodyT).isDefined) bodyT.drop(5).trim
          else bodyT
        // default parameters (`p := expr`) — DuckDB makes them NAMED-only
        // at the call site (probed: a default param passed positionally is
        // a binder error). Names keep declared order; defaults ride in
        // [[macroDefaults]] so the (params, body) shape is untouched.
        val DefaultP = """(?s)^([\w]+)\s*:=\s*(.+)$""".r
        val parsed = splitTopLevel(params).map(_.trim).filter(_.nonEmpty).map {
          case DefaultP(p, dflt) => (p.toLowerCase, Some(dflt.trim))
          case p => (p.toLowerCase, None)
        }
        // a default expression referencing a PARAMETER is a binder error
        // in DuckDB (probed: CREATE MACRO m(x, y := x) → 'duplicate
        // column name'); our textual expansion would also substitute it
        // in the wrong order, so refuse at creation like duck does
        val allParams = parsed.map(_._1).toSet
        parsed.foreach { case (p, dOpt) =>
          dOpt.foreach { d =>
            allParams.foreach { other =>
              if (("""(?i)(?<![\w.])""" + java.util.regex.Pattern.quote(other) +
                  """(?![\w])""").r.findFirstIn(d).isDefined)
                throw new IllegalArgumentException(
                  s"""Binder Error: macro $name default parameter "$p" """ +
                    s"""references parameter "$other"""")
            }
          }
        }
        macros(key) = (parsed.map(_._1), stored)
        val dflts = parsed.collect { case (p, Some(d)) => p -> d }.toMap
        if (dflts.nonEmpty) macroDefaults(key) = dflts
        else macroDefaults.remove(key)
        ExecuteResult(0L)
      case DropMacroRe(ife, name) =>
        if (macros.remove(name.toLowerCase).isEmpty && ife == null)
          throw new IllegalArgumentException(s"unknown macro $name")
        macroDefaults.remove(name.toLowerCase)
        ExecuteResult(0L)
      case CreateIndexRe(unique, idx, table, cols) =>
        createIndex(idx, table, splitTopLevel(cols).map(_.trim.toLowerCase),
          unique != null)
      case DropIndexRe(ife, idx) =>
        if (indexes.remove(idx.toLowerCase).isEmpty && ife == null)
          throw new IllegalArgumentException(s"unknown index $idx")
        comments.remove(s"index:${idx.toLowerCase}")
        ExecuteResult(0L)
      case CtasRe(orReplace, temp, ine, table, query) =>
        if (orReplace != null && spark.catalog.tableExists(table)) dropTable(table)
        // an IF NOT EXISTS no-op must not rewrite the surviving table's
        // temp flag (evaluated after the OR REPLACE drop)
        val noOp = ine != null && spark.catalog.tableExists(table)
        val r = ctas(table, query, ine != null)
        if (!noOp) {
          if (temp != null) tempTables(tableKey(table)) = ()
          else tempTables.remove(tableKey(table))
        }
        r
      case CreateRe(orReplace, temp, ine, table, colSpec) =>
        if (orReplace != null && spark.catalog.tableExists(table)) dropTable(table)
        val noOp = ine != null && spark.catalog.tableExists(table)
        val r = createTable(table, colSpec, ine != null)
        if (!noOp) {
          if (temp != null) tempTables(tableKey(table)) = ()
          else tempTables.remove(tableKey(table))
        }
        r
      case CreateViewRe(orReplace, ine, name, aliases, body) =>
        // a quoted alias sheds its delimiters: the NAME is the inner text
        def unq(a: String) =
          if (a.length >= 2 && a.head == '"' && a.last == '"') a.tail.init else a
        createView(orReplace != null, ine != null, name,
          Option(aliases).map(splitTopLevel(_).map(a => unq(a.trim))
            .filter(_.nonEmpty)),
          body.trim)
      case DropViewRe(ife, name) => dropView(ife != null, name)
      case InsertPrefixRe(orMode, table, rest0) =>
        // `INSERT INTO t BY NAME <source>`: batch columns align to the
        // target's by NAME, not position; an unknown batch column errors
        // and absent target columns take their DEFAULT (DuckDB — probed)
        val ByNameRe = """(?is)^\s*BY\s+NAME\s+(.*)$""".r
        // `BY POSITION` is the default alignment spelled explicitly
        val ByPosRe = """(?is)^\s*BY\s+POSITION\s+(.*)$""".r
        val (byName, rest1) = rest0.trim match {
          case ByNameRe(r) => (true, r)
          case ByPosRe(r) => (false, r)
          case r => (false, r)
        }
        // `INSERT INTO t DEFAULT VALUES` — one row of all-DEFAULT columns
        // (probed); lower to the explicit per-column DEFAULT spelling the
        // VALUES path already resolves
        val rest = if ("""(?is)^\s*DEFAULT\s+VALUES\s*$""".r
            .findFirstIn(rest1).isDefined)
          "VALUES (" + spark.table(table).columns.map(_ => "DEFAULT")
            .mkString(", ") + ")"
        else rest1
        // DuckDB upsert surface: `ON CONFLICT DO NOTHING` keeps the
        // non-conflicting rows; `ON CONFLICT DO UPDATE SET ...` merges
        // (the SET expressions may reference `excluded.<col>` = the
        // incoming row, DuckDB semantics). `INSERT OR IGNORE` / `INSERT OR
        // REPLACE` are DuckDB sugar for DO NOTHING / replace-whole-row.
        val OnConflictNothingRe =
          """(?is)(.*?)\s+ON\s+CONFLICT\s*(?:\([^)]*\))?\s+DO\s+NOTHING\s*""".r
        val OnConflictUpdateRe =
          """(?is)(.*?)\s+ON\s+CONFLICT\s*(?:\([^)]*\))?\s+DO\s+UPDATE\s+SET\s+(.*)""".r
        Option(orMode).map(_.toUpperCase) match {
          case Some("IGNORE") =>
            val (cols, source) = parseInsertBody(rest.trim)
            insert(table, cols, source, skipConflicts = true,
              byName = byName)
          case Some("REPLACE") =>
            // replace the whole conflicting row: DO UPDATE SET <every
            // non-PK column> = excluded.<col> (matching DuckDB's OR REPLACE)
            val (cols, source) = parseInsertBody(rest.trim)
            val (pk, _) = constraints.getOrElse(table.toLowerCase, (Nil, Nil))
            if (pk.isEmpty)
              throw new IllegalArgumentException(
                s"INSERT OR REPLACE requires a PRIMARY KEY on $table")
            val nonPk = spark.table(table).columns
              .filterNot(c => pk.exists(_.equalsIgnoreCase(c)))
            if (nonPk.isEmpty) insert(table, cols, source,
              skipConflicts = true, byName = byName)
            else insert(table, cols, source,
              upsertSet = Some(nonPk.map(c => s"$c = excluded.$c").mkString(", ")),
              byName = byName)
          case _ =>
            rest.trim match {
              case OnConflictUpdateRe(body, sets) =>
                val (cols, source) = parseInsertBody(body.trim)
                insert(table, cols, source, upsertSet = Some(sets.trim),
                  byName = byName)
              case OnConflictNothingRe(body) =>
                val (cols, source) = parseInsertBody(body.trim)
                insert(table, cols, source, skipConflicts = true,
                  byName = byName)
              case body =>
                val (cols, source) = parseInsertBody(body)
                insert(table, cols, source, byName = byName)
            }
        }
      case UpdateRe(table, rest) =>
        // split SET-list from FROM/WHERE at the first *top-level* keyword —
        // a regex split would match 'where' inside a string literal. A
        // top-level FROM marks DuckDB's join-form UPDATE.
        splitAtTopLevelKw(rest, "from") match {
          case (setClause, Some(fromRest)) =>
            val (fromClause, where) = splitAtTopLevelWhere(fromRest)
            updateFrom(table, setClause, fromClause, where)
          case (_, None) =>
            val (setClause, where) = splitAtTopLevelWhere(rest)
            update(table, setClause, where)
        }
      case DeleteUsingRe(table, tAlias, usingRest) =>
        val (usingClause, where) = splitAtTopLevelWhere(usingRest)
        deleteUsing(table, Option(tAlias), usingClause, where)
      case DeleteRe(table, where) => delete(table, Option(where))
      case DropRe(table) => dropTable(table)
      case ExportDbRe(dir) =>
        ExecuteResult(Snapshot.exportDatabase(this, dir).size.toLong)
      case ImportDbRe(dir) =>
        ExecuteResult(Snapshot.importDatabase(this, dir).size.toLong)
      case AlterRenameRe(table, from, to) =>
        alterRenameColumn(table, from, to)
      case AlterViewRenameRe(ife, from, to) =>
        renameView(ife != null, from, to)
      case AlterRenameTableRe(ife, from, to) =>
        renameTable(ife != null, from, to)
      case AlterSetDefaultRe(table, colName, dflt) =>
        alterSetDefault(table, colName, Some(dflt))
      case AlterDropDefaultRe(table, colName) =>
        alterSetDefault(table, colName, None)
      case AlterTypeRe(table, colName, typeSpec, using) =>
        alterColumnType(table, colName, typeSpec, Option(using))
      case AlterAddColRe(table, ifNotExists, colName, spec) =>
        alterAddColumn(table, ifNotExists != null, colName, spec)
      case AlterDropColRe(table, ife, colName) =>
        // DROP COLUMN IF EXISTS of a missing column is a no-op (probed)
        if (ife != null && !spark.table(table).columns
            .exists(_.equalsIgnoreCase(colName))) ExecuteResult(0L)
        else alterDropColumn(table, colName)
      case CopyQueryToRe(query, path, optSpec) =>
        copyTo(runSql(query), path, optSpec)
      case CopyTableToRe(table, path, optSpec) =>
        copyTo(spark.table(table), path, optSpec)
      case CopyFromRe(table, path, optSpec) =>
        copyFrom(table, path, optSpec)
      case other =>
        // Any INSERT reaches InsertPrefixRe above; an INSERT variant we
        // can't parse must FAIL here, not silently skip PK/NOT NULL
        // enforcement via raw passthrough (DuckDB checks every insert path)
        if (other.trim.take(6).equalsIgnoreCase("INSERT"))
          throw new IllegalArgumentException(
            s"unsupported INSERT form (would bypass constraint checks): ${other.trim}")
        runSql(other)
        ExecuteResult(0L)
    }
    // a successful mutation is the only moment a DuckDB lazy view
    // re-bind could observe anything new — lagging views rematerialize
    // on their next use (ensureUserViews)
    if (MutatingLead(sql.trim.split("""[\s(]""", 2)(0).toLowerCase))
      mutationGen += 1
    res
  }

  private val SummarizeRe = """(?is)\s*SUMMARIZE\s+([\w.]+)\s*""".r
  // DESCRIBE/DESC only — Spark's own SHOW TABLES/DATABASES etc. must keep
  // passing through to spark.sql untouched
  private val DescribeRe = """(?is)\s*(?:DESCRIBE|DESC)\s+(?:TABLE\s+)?([\w.]+)\s*""".r
  // DESCRIBE/SUMMARIZE over an arbitrary SELECT (DuckDB statement forms)
  private val SummarizeSelRe = """(?is)\s*SUMMARIZE\s+(SELECT\b.*)""".r
  private val DescribeSelRe = """(?is)\s*(?:DESCRIBE|DESC)\s+(SELECT\b.*)""".r
  private val PivotRe =
    ("""(?is)\s*PIVOT\s+([\w.]+)\s+ON\s+([\w.]+(?:\s*,\s*[\w.]+)*)(?:\s+IN\s+\(([^()]*)\))?""" +
     """\s+USING\s+(.+?)(?:\s+GROUP\s+BY\s+(.+?))?(?:\s+ORDER\s+BY\s+(.+?))?\s*""").r
  // bare `PIVOT t ON c`: DuckDB defaults to count(*), zero-filled
  private val PivotBareRe =
    """(?is)\s*PIVOT\s+([\w.]+)\s+ON\s+([\w.]+)\s*""".r
  private val PivotSubRe = """(?is)\(\s*PIVOT\b""".r
  private val UnpivotRe =
    ("""(?is)\s*UNPIVOT\s+([\w.]+|\((?:[^()]|\([^()]*\))*\))\s+ON\s+(.*?)""" +
     """\s+INTO\s+NAME\s+(\w+)\s+VALUE\s+(\w+)(?:\s+ORDER\s+BY\s+(.+?))?\s*""").r

  /** Read path (reference `db/db.go:67-117`): local, lock-free. The
    * dialect's top-level analysis statements rewrite to their Spark
    * equivalents before `spark.sql`:
    *  - `SUMMARIZE t` → per-column profile union (one partial+final
    *    aggregation per column, min/max rendered as strings);
    *  - `PIVOT t ON c USING agg(x) [GROUP BY g,...]` → `groupBy.pivot.agg`
    *    (two-phase: distinct pivot values, then the pivoted aggregate —
    *    grouping defaults to every other column, DuckDB semantics);
    *  - `UNPIVOT t ON a,b,... INTO NAME k VALUE v` → `Dataset.unpivot`;
    *  - `read_parquet/read_csv/read_json('path')` table functions →
    *    temp views over the file sources ([[rewriteReadFunctions]]). */
  def query(sql: String): QueryResult = Results.fromDataFrame(queryDf(sql))

  /** The read path as a DataFrame (what [[query]] wraps) — also the hook
    * the registered oracle queries use to exercise the SQL-text surface. */
  private val PragmaTableInfoRe =
    """(?is)\s*PRAGMA\s+table_info\s*\(\s*'?([\w.]+)'?\s*\)\s*""".r
  private val PragmaShowTablesRe = """(?is)\s*PRAGMA\s+show_tables\s*""".r
  private val PragmaVersionRe = """(?is)\s*PRAGMA\s+version\s*""".r
  private val PragmaPlatformRe = """(?is)\s*PRAGMA\s+platform\s*""".r
  private val PragmaDbSizeRe = """(?is)\s*PRAGMA\s+database_size\s*""".r
  private val PragmaCollationsRe = """(?is)\s*PRAGMA\s+collations\s*""".r
  private val PragmaUserAgentRe = """(?is)\s*PRAGMA\s+user_agent\s*""".r
  private val PragmaMetadataInfoRe = """(?is)\s*PRAGMA\s+metadata_info\s*""".r
  private val PragmaStorageInfoRe =
    """(?is)\s*PRAGMA\s+storage_info\s*\(\s*'?([\w.]+)'?\s*\)\s*""".r

  /** DuckDB's (library_version, source_id) shape with this engine's info. */
  private def pragmaVersionDf: DataFrame =
    spark.createDataFrame(Seq((s"graft-spark-${spark.version}", "spark")))
      .toDF("library_version", "source_id")

  /** DuckDB's single `platform` column; the value names THIS engine's
    * runtime (DuckDB reports its compile target, e.g. linux_amd64_gcc4). */
  private def pragmaPlatformDf: DataFrame =
    spark.createDataFrame(Seq(Tuple1(
      s"spark_${spark.version}_scala_${scala.util.Properties.versionNumberString}")))
      .toDF("platform")

  /** Real on-disk bytes across the catalog's table locations, in DuckDB's
    * three-column database_size shape. */
  private def pragmaDbSizeDf: DataFrame = {
    val bytes = ColumnShim.userTables(spark)
      .map { t =>
        try {
          spark.sql(s"DESCRIBE EXTENDED $t").collect()
            .find(_.getString(0) == "Location").map(_.getString(1))
            .map { loc =>
              val p = new org.apache.hadoop.fs.Path(loc)
              p.getFileSystem(spark.sparkContext.hadoopConfiguration)
                .getContentSummary(p).getLength
            }.getOrElse(0L)
        } catch { // dropped, or its files removed, since it was listed
          case _: org.apache.spark.sql.AnalysisException | _: java.io.IOException => 0L
        }
      }.sum
    spark.createDataFrame(Seq(("graft", s"$bytes bytes",
      settings.getOrElse("memory_limit", "unset"))))
      .toDF("database_name", "database_size", "memory_limit")
  }
  // DuckDB FROM-first sugar, minimal forms: `FROM t` (full scan) and
  // `FROM t SELECT <list>` — anything richer refuses rather than guessing
  // at clause reordering.
  private val FromOnlyRe = """(?is)\s*FROM\s+([\w.]+)\s*""".r
  private val FromSelectRe = """(?is)\s*FROM\s+([\w.]+)\s+SELECT\s+(.*)""".r

  private val ExplainAnalyzeRe = """(?is)\s*EXPLAIN\s+ANALYZE\s+(.*)""".r
  private val ShowTablesStmtRe = """(?is)\s*SHOW\s+TABLES\s*""".r
  private val ShowAllTablesRe = """(?is)\s*SHOW\s+ALL\s+TABLES\s*""".r
  private val ShowTableRe = """(?is)\s*SHOW\s+([\w.]+)\s*""".r

  /** `SHOW ALL TABLES` — DuckDB's six-column shape (probed): (database,
    * schema, name, column_names LIST, column_types LIST, temporary),
    * tables and views both, name-ordered. */
  private def showAllTablesDf: DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("database", StringType), StructField("schema", StringType),
      StructField("name", StringType),
      StructField("column_names", ArrayType(StringType)),
      StructField("column_types", ArrayType(StringType)),
      StructField("temporary", BooleanType)))
    val tableNames = ColumnShim.userTables(spark)
      .filterNot(n => viewEntries.exists(_._1.equalsIgnoreCase(n)))
    val tableRows = tableNames.map { n =>
      val fs = spark.table(n).schema.fields
      org.apache.spark.sql.Row("memory", "main", n,
        fs.map(_.name).toSeq, fs.map(Results.duckTypeName(_)).toSeq,
        tempTables.contains(tableKey(n)))
    }
    val viewRows = viewEntries.map { case (n, _, _) =>
      // catalogInfo's resolver carries the re-entry guard (a view whose
      // body says SHOW ALL TABLES must not recurse)
      val fs = catalogInfo.viewSchemaOf(n)
        .map(_.fields).getOrElse(Array.empty[StructField])
      org.apache.spark.sql.Row("memory", "main", n,
        fs.map(_.name).toSeq, fs.map(Results.duckTypeName(_)).toSeq, false)
    }
    spark.createDataFrame(
      java.util.Arrays.asList((tableRows ++ viewRows).sortBy(_.getString(2)): _*),
      schema)
  }

  /** `INSERT/UPDATE/DELETE … RETURNING <items>` (DuckDB DML-with-rows,
    * reachable via db/db.go:70 since the reference sends every statement
    * through Query): the DML runs through the normal constraint-checked
    * write path, which stashes the affected rows' POST-image (pre-image
    * for DELETE — probed: DuckDB returns the deleted rows) before the
    * atomic swap; the RETURNING items then project over that capture with
    * the full dialect machinery. Unsupported DML forms (upsert, joined
    * UPDATE/DELETE) leave no capture and refuse loudly. */
  private def dmlReturning(sql: String): Option[(String, String)] = {
    val lead = sql.trim.split("""[\s(]""", 2)(0).toLowerCase
    if (!Set("insert", "update", "delete").contains(lead)) return None
    topLevel(sql, """\bRETURNING\b""").map { case (s, e) =>
      (sql.substring(0, s).trim, sql.substring(e).trim)
    }
  }
  @volatile private[engine] var captureReturning: Boolean = false
  @volatile private[engine] var capturedReturning:
      Option[(org.apache.spark.sql.types.StructType,
        Array[org.apache.spark.sql.Row])] = None

  /** RETURNING capture is a driver-side materialization feeding the JSON
    * boundary, so it honors the SAME row cap as the read path
    * (`Results.fromDataFrame`). Capped at cap+1: the boundary still sees
    * the overflow row and flags `truncated` exactly like a SELECT would.
    * Without this, `UPDATE big SET ... RETURNING *` collects the full
    * affected set — a driver OOM at scale the read path already prevents. */
  private def captureRows(df: DataFrame): Unit = {
    val cap = spark.conf.getOption("graft.query.maxResultRows")
      .map(_.toInt).getOrElse(Results.DefaultMaxRows)
    capturedReturning = Some((df.schema, df.limit(cap + 1).collect()))
  }

  private def runDmlReturning(dml: String, items: String): DataFrame =
    writeLock.synchronized {
      captureReturning = true; capturedReturning = None
      try execute(dml) finally captureReturning = false
      val (schema, rows) = capturedReturning.getOrElse(
        throw new IllegalArgumentException(
          "RETURNING is not supported for this statement form"))
      capturedReturning = None
      val df = spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema)
      if (items.trim == "*") df
      else {
        val v = s"graft_returning_${viewSeq.incrementAndGet()}"
        df.createOrReplaceTempView(v)
        try spark.sql(s"SELECT $items FROM $v")
          .localCheckpoint(true)
        finally spark.catalog.dropTempView(v)
      }
    }

  def queryDf(sql: String): DataFrame = {
    ensureUserViews(sql) // lazy DuckDB-style view re-bind, no-op when none
    queryDf0(sql)
  }

  private def queryDf0(sql: String): DataFrame = sql match {
    case ExecuteStmtRe(name, args) if prepared.contains(name.toLowerCase) =>
      queryDf(bindPrepared(name, Option(args)))
    case s if dmlReturning(s).isDefined =>
      val (dml, items) = dmlReturning(s).get
      runDmlReturning(dml, items)
    case ExplainAnalyzeRe(q) =>
      // DuckDB's EXPLAIN ANALYZE runs the query with timers; here: run it
      // (noop sink — full materialization, nothing collected), report the
      // executed plan + wall time in DuckDB's (explain_key, explain_value)
      // two-column shape
      val df = queryDf(q)
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      spark.createDataFrame(Seq(
        ("analyzed_plan", plan), ("runtime_s", f"$secs%.3f")))
        .toDF("explain_key", "explain_value")
    case PragmaTableInfoRe(table) => pragmaTableInfo(table)
    case PragmaShowTablesRe() => showTablesDf
    // `SHOW TABLES` renders DuckDB's single `name` column (Spark's native
    // three-column shape would silently diverge); `SHOW <table>` is
    // DESCRIBE (probed: identical six-column output)
    case ShowTablesStmtRe() => showTablesDf
    case ShowAllTablesRe() => showAllTablesDf
    case ShowTableRe(table) if spark.catalog.tableExists(table) =>
      describe(table)
    case PragmaVersionRe() => pragmaVersionDf
    case PragmaPlatformRe() => pragmaPlatformDf
    case PragmaDbSizeRe() => pragmaDbSizeDf
    case PragmaCollationsRe() => catalogInfo.collationsDf()
    case PragmaUserAgentRe() => catalogInfo.userAgentDf()
    case PragmaMetadataInfoRe() => catalogInfo.metadataInfoDf()
    case PragmaStorageInfoRe(table) => catalogInfo.storageInfoDf(table)
    case FromSelectRe(table, sel) if spark.catalog.tableExists(table) =>
      // FROM-first SELECT may carry WHERE/GROUP/ORDER/LIMIT after the
      // items — the FROM slots in before them
      val cut = topLevel(sel,
          """\b(?:WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|QUALIFY)\b""")
        .map(_._1).getOrElse(sel.length)
      queryDf(s"SELECT ${sel.substring(0, cut)} FROM $table " +
        sel.substring(cut))
    case FromOnlyRe(table) if spark.catalog.tableExists(table) =>
      spark.table(table)
    case SummarizeSelRe(sel) => summarize(queryDf(sel))
    case DescribeSelRe(sel) => describeDf(queryDf(sel))
    case SummarizeRe(table) => summarize(spark.table(table))
    case DescribeRe(table) => describe(table)
    // a parenthesized PIVOT subquery (`SELECT ... FROM (PIVOT ...)`,
    // `UNPIVOT (PIVOT ...)`) lifts to a temp view, then the statement
    // re-runs with the view name substituted — Spark's parser has no
    // PIVOT-statement grammar to nest
    case s if !s.trim.toUpperCase.startsWith("PIVOT") &&
        SqlLex(s).find(PivotSubRe).hasNext =>
      val lx = SqlLex(s)
      val open = lx.find(PivotSubRe).next().start
      val close = lx.close(open)
      if (close < 0) runSql(s) // unbalanced → let the parser refuse
      else {
        val v = s"graft_pivot_${viewSeq.incrementAndGet()}"
        queryDf(s.substring(open + 1, close).trim).createOrReplaceTempView(v)
        try queryDf(s.substring(0, open) + v + s.substring(close + 1))
          .localCheckpoint(true)
        finally spark.catalog.dropTempView(v)
      }
    case PivotRe(table, on, inVals, usingText, grp, ord) =>
      pivotStatement(table, on, Option(inVals), usingText,
        Option(grp), Option(ord))
    case PivotBareRe(table, on) =>
      pivotStatement(table, on, None, "count(*)", None, None)
    case UnpivotRe(table, onList, nameCol, valueCol, ord) =>
      val df = if (table.startsWith("(")) // subquery source
        queryDf(table.substring(1, table.length - 1))
      else spark.table(table)
      val values = splitTopLevel(onList).map(c => col(c.trim))
      val valueNames = splitTopLevel(onList).map(_.trim.toLowerCase).toSet
      val ids = df.columns.filterNot(c => valueNames.contains(c.toLowerCase)).map(col)
      val up = df.unpivot(ids.toArray, values.toArray, nameCol, valueCol)
      Option(ord).map(o => up.orderBy(
        splitTopLevel(o).map(e => expr(e.trim)): _*)).getOrElse(up)
    case _ => dialectQuery(SqlLex.normalize(sql)).getOrElse(runSql(sql))
  }

  // --- DuckDB SELECT-dialect statements -------------------------------
  // QUALIFY, star EXCLUDE/REPLACE, DISTINCT ON, COLUMNS(regex),
  // POSITIONAL JOIN, UNION [ALL] BY NAME. Every one of these operators
  // already exists first-class in the engine (ops/Dialect, ops/Positions
  // — q33, q45–q53); these handlers give them their DuckDB SQL spelling
  // through the gateway (all reachable via the reference passthrough,
  // `db/db.go:70`). Each matches a conservative statement shape and
  // otherwise declines — the statement then refuses downstream, never
  // gets guessed at.

  /** First top-level (outside literals, identifiers and parens) match of
    * the case-insensitive `pattern`, as (start, end). */
  private def topLevel(sql: String, pattern: String): Option[(Int, Int)] = {
    val lx = SqlLex(sql)
    lx.find(("(?i)" + pattern).r).find(m => lx.depth(m.start) == 0)
      .map(m => (m.start, m.end))
  }

  private val ExcludeRe =
    """(?is)^\s*SELECT\s+\*\s+EXCLUDE\s*(?:\(\s*([^)]+?)\s*\)|([A-Za-z_]\w*))\s+(FROM\b.*)$""".r
  private val ExcludeReplaceRe =
    ("""(?is)^\s*SELECT\s+\*\s+EXCLUDE\s*(?:\(\s*([^)]+?)\s*\)|([A-Za-z_]\w*))""" +
     """\s+REPLACE\s*\((.+?)\)\s+(FROM\b.*)$""").r
  private val ReplaceStarRe =
    """(?is)^\s*SELECT\s+\*\s+REPLACE\s*\((.+?)\)\s+(FROM\b.*)$""".r
  /** DuckDB datepart/EXTRACT part name → the engine's standalone
    * extract-function spelling (each DuckDB-exact; the emitted names are
    * themselves rewritten by their own fixes later in the chain). */
  private val duckPartFn: Map[String, String] = Map(
    "year" -> "year", "years" -> "year", "y" -> "year",
    "month" -> "month", "months" -> "month", "mon" -> "month",
    "day" -> "day", "days" -> "day", "d" -> "day",
    "quarter" -> "quarter", "quarters" -> "quarter",
    "hour" -> "hour", "hours" -> "hour", "h" -> "hour",
    "minute" -> "minute", "minutes" -> "minute",
    "second" -> "second", "seconds" -> "second", "s" -> "second",
    "dow" -> "dayofweek", "dayofweek" -> "dayofweek",
    "weekday" -> "dayofweek",
    "isodow" -> "isodow",
    "doy" -> "dayofyear", "dayofyear" -> "dayofyear",
    "week" -> "weekofyear", "weeks" -> "weekofyear",
    "isoyear" -> "isoyear", "yearweek" -> "yearweek",
    "era" -> "era", "epoch" -> "epoch",
    "decade" -> "decade", "decades" -> "decade",
    "century" -> "century", "centuries" -> "century",
    "millennium" -> "millennium", "millenniums" -> "millennium",
    "millennia" -> "millennium",
    "microseconds" -> "microsecond", "microsecond" -> "microsecond",
    "milliseconds" -> "millisecond", "millisecond" -> "millisecond")

  private val DistinctOnRe =
    ("""(?is)^\s*SELECT\s+DISTINCT\s+ON\s*\(\s*([^)]+?)\s*\)\s+(.+?)\s+""" +
     // source: a table name OR a parenthesized subquery/VALUES (≤3 paren
     // levels) with an optional alias + column list
     """(FROM\s+(?:[\w.]+|\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\)""" +
     """(?:\s+(?:AS\s+)?\w+(?:\s*\([^()]*\))?)?))""" +
     """\s*(?:ORDER\s+BY\s+(.+?))?\s*(LIMIT\s+\d+)?\s*$""").r
  private val ColumnsSelRe =
    """(?is)^\s*SELECT\s+COLUMNS\s*\(\s*'([^']+)'\s*\)\s+FROM\s+([\w.]+)\s*$""".r
  private val PositionalRe =
    ("""(?is)^\s*SELECT\s+(.+?)\s+FROM\s+([\w.]+)(?:\s+(?:AS\s+)?(\w+))?""" +
     """\s+POSITIONAL\s+JOIN\s+([\w.]+)(?:\s+(?:AS\s+)?(\w+))?\s*$""").r
  private val AsofJoinStmtRe =
    ("""(?is)^\s*SELECT\s+(.+?)\s+FROM\s+([\w.]+)(?:\s+(?:AS\s+)?(\w+))?""" +
     """\s+ASOF\s+(LEFT\s+)?JOIN\s+([\w.]+)(?:\s+(?:AS\s+)?(\w+))?""" +
     """\s+(?:ON\s+(.+?)|USING\s*\(([^)]+)\))\s*((?:WHERE|ORDER|LIMIT)\b.*)?$""").r
  // optional `[AS] t(col)` suffix: a column alias renames the output
  private val RangeTvfRe =
    ("""(?is)^\s*SELECT\s+\*\s+FROM\s+range\s*\(([^)]*)\)""" +
     """\s*(?:(?:AS\s+)?\w+\s*(?:\(\s*(\w+)\s*\))?)?\s*$""").r
  private val SeriesTvfRe =
    ("""(?is)^\s*SELECT\s+\*\s+FROM\s+generate_series\s*\(([^)]*)\)""" +
     """\s*(?:(?:AS\s+)?\w+\s*(?:\(\s*(\w+)\s*\))?)?\s*$""").r

  /** DuckDB's `ASOF [LEFT] JOIN` statement spelling, routed to the
    * engine's first-class [[graft.plans.AsofJoin]] operator (merge-join
    * exec, hash-partitioned by key — the operator q23/x16/x38 already
    * exercise). Supported shape: two catalog tables, joined either
    * `ON` 0..n alias-qualified equalities + exactly one `>=`/`<=`/`>`/`<`
    * inequality (DuckDB's backward/forward forms, strict via the
    * operator's exclusive-bound mode) + optional side-local extra
    * conjuncts, or `USING (c1, …, cn)` where the LAST column is the
    * backward inequality (DuckDB-probed). Anything else declines and
    * refuses downstream — never guessed. DuckDB semantics preserved:
    * default ASOF JOIN is INNER (unmatched left rows drop); `ASOF LEFT
    * JOIN` keeps them NULL-padded; side-local extra ON conjuncts
    * pre-filter their side (probed: they restrict the CANDIDATE set
    * before the nearest-pick, and a left row failing its conjunct drops
    * even under ASOF LEFT JOIN); multiple equalities join on a composite
    * struct key; zero equalities (keyless) funnel through a constant key
    * — a single global merge, which is the semantics. */
  private def asofStatement(sel: String, lTable: String,
      lAliasOpt: Option[String], leftJoin: Boolean, rTable: String,
      rAliasOpt: Option[String], condOpt: Option[String],
      usingOpt: Option[String], tail: Option[String]): Option[DataFrame] = {
    if (!spark.catalog.tableExists(lTable) ||
        !spark.catalog.tableExists(rTable)) return None
    val lAlias = lAliasOpt.getOrElse(lTable.split('.').last).toLowerCase
    val rAlias = rAliasOpt.getOrElse(rTable.split('.').last).toLowerCase
    val usingCols: Seq[String] = usingOpt
      .map(_.split(",").map(_.trim.toLowerCase).toSeq).getOrElse(Nil)
    if (usingOpt.isDefined && usingCols.exists(!_.matches("""\w+""")))
      return None
    var eqs = Vector.empty[(String, String)] // (left col, right col)
    var ts: Option[(String, String, Boolean, Boolean)] = None // (lts, rts, forward, strict)
    var lPreds = Vector.empty[String] // alias-stripped side-local conjuncts
    var rPreds = Vector.empty[String]
    // a side-local conjunct references exactly one side's alias and
    // nothing bare (a bare shared name is ambiguous; DuckDB errors)
    val PredKw = Set("and", "or", "not", "null", "true", "false", "is",
      "in", "between", "like", "ilike", "escape", "exists", "case", "when",
      "then", "else", "end", "distinct", "interval", "date", "timestamp")
    def classify(conj: String): Option[(Boolean, String)] = {
      val masked = SqlLex.mask(conj)
      if (masked.contains('"')) return None // quoted identifier: not attempted
      var side = 0 // 0 = none seen yet, 1 = left, 2 = right
      for (m <- """[A-Za-z_]\w*(?:\.\w+)?""".r.findAllMatchIn(masked)) {
        val tok = m.matched.toLowerCase
        val isFn = masked.drop(m.end).dropWhile(_ == ' ').startsWith("(")
        if (tok.startsWith(lAlias + ".")) { if (side == 2) return None; side = 1 }
        else if (tok.startsWith(rAlias + ".")) { if (side == 1) return None; side = 2 }
        else if (tok.contains(".")) return None // unknown qualifier
        else if (!isFn && !PredKw(tok)) return None // bare column ref
      }
      if (side == 0) None
      else Some((side == 1,
        conj.replaceAll(s"(?i)\\b(?:$lAlias|$rAlias)\\.", "")))
    }
    if (usingOpt.isDefined) {
      // USING (c1, …, cn): equality on all but the last column, backward
      // at-or-before inequality on the last (DuckDB-probed order)
      eqs = usingCols.dropRight(1).map(c => (c, c)).toVector
      ts = Some((usingCols.last, usingCols.last, false, false))
    } else {
      val CmpRe = """(?is)^\s*(\w+)\.(\w+)\s*(>=|<=|>|<)\s*(\w+)\.(\w+)\s*$""".r
      val EqRe = """(?is)^\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$""".r
      condOpt.get.split("""(?i)\bAND\b""").map(_.trim).foreach { conj =>
        conj match {
          case EqRe(a1, c1, a2, c2)
              if a1.toLowerCase == lAlias && a2.toLowerCase == rAlias =>
            eqs :+= ((c1, c2))
          case EqRe(a1, c1, a2, c2)
              if a1.toLowerCase == rAlias && a2.toLowerCase == lAlias =>
            eqs :+= ((c2, c1))
          case CmpRe(a1, c1, op, a2, c2)
              if Set(a1.toLowerCase, a2.toLowerCase) == Set(lAlias, rAlias) =>
            // normalize left-side-first; `flip` marks right-first spelling
            val flip = a1.toLowerCase == rAlias
            val (lc, rc) = if (flip) (c2, c1) else (c1, c2)
            if (ts.isDefined) return None // DuckDB: one inequality only
            op match {
              case ">=" => ts = Some((lc, rc, flip, false))
              case "<=" => ts = Some((lc, rc, !flip, false))
              case ">" => ts = Some((lc, rc, flip, true))
              case "<" => ts = Some((lc, rc, !flip, true))
            }
          case other => classify(other) match {
            case Some((true, p)) => lPreds :+= p
            case Some((false, p)) => rPreds :+= p
            case None => return None
          }
        }
      }
    }
    if (ts.isEmpty) return None
    val (lts, rts, fwd, strict) = ts.get
    try {
      // side-local extra ON conjuncts pre-filter their side (semantics
      // probed above); analysis errors decline to a downstream refusal
      val lDf = lPreds.foldLeft(spark.table(lTable))((d, p) => d.filter(expr(p)))
      val rDf = rPreds.foldLeft(spark.table(rTable))((d, p) => d.filter(expr(p)))
      // column names shared by both sides: the right side's copies join
      // under hidden names; textual references to a shared name must be
      // alias-qualified (ambiguous bare spellings error in DuckDB too) —
      // except USING columns, which DuckDB resolves to the left side
      val overlap = lDf.columns.map(_.toLowerCase).toSet
        .intersect(rDf.columns.map(_.toLowerCase).toSet)
      val rename: Map[String, String] =
        overlap.map(c => c -> s"__graft_r_$c").toMap
      val ambiguous = overlap -- usingCols.toSet
      if (ambiguous.nonEmpty) {
        if (sel.trim == "*") return None
        val refs = sel + " " + tail.getOrElse("")
        if (ambiguous.exists(c =>
            s"(?i)(?<![\\w.])${java.util.regex.Pattern.quote(c)}\\b"
              .r.findFirstIn(refs).isDefined)) return None
      }
      val rJoin0 = rename.foldLeft(rDf) { case (df, (o, n)) =>
        df.withColumnRenamed(o, n) }
      val rtsJ = rename.getOrElse(rts.toLowerCase, rts)
      val hiddenL = "__graft_lkey"; val hiddenR = "__graft_rkey"
      // composite key: uniform field names so both sides' struct types
      // align; nulled out when any field is NULL (NULL never matches)
      def keyStruct(df: DataFrame,
          cols: Seq[String]): org.apache.spark.sql.Column = {
        val anyNull = cols.map(df(_).isNull).reduce(_ || _)
        when(!anyNull, struct(cols.zipWithIndex.map {
          case (c, i) => df(c).as(s"k$i") }: _*))
      }
      val (lJoin, rJoin, lkName, rkName, hidden) = eqs match {
        case Vector((lk0, rk0)) =>
          (lDf, rJoin0, lk0, rename.getOrElse(rk0.toLowerCase, rk0),
            Seq.empty[String])
        case Vector() =>
          (lDf.withColumn(hiddenL, lit(0L)),
           rJoin0.withColumn(hiddenR, lit(0L)),
           hiddenL, hiddenR, Seq(hiddenL, hiddenR))
        case many =>
          (lDf.withColumn(hiddenL, keyStruct(lDf, many.map(_._1))),
           rJoin0.withColumn(hiddenR, keyStruct(rJoin0, many.map {
             case (_, rc) => rename.getOrElse(rc.toLowerCase, rc) })),
           hiddenL, hiddenR, Seq(hiddenL, hiddenR))
      }
      // strict (`>`/`<`) inequalities are first-class in the operator
      // (exclusive bound via the ts type's own ordering — exact for
      // integral, timestamp AND fractional ts columns); an unsupported
      // column type throws in Asof.join → decline to refuse downstream
      val joined = graft.plans.Asof.join(lJoin, rJoin,
        lkName, rkName, lts, rtsJ, forward = fwd, strict = strict)
      // a matched row always carries a non-null right ts (null-ts right
      // rows are unmatchable); unmatched left rows are NULL-padded —
      // filtering on it is exactly INNER
      val shaped0 = if (leftJoin) joined else joined.filter(col(rtsJ).isNotNull)
      val shaped1 = hidden.foldLeft(shaped0)(_ drop _)
      // `SELECT *` after USING dedups the join columns (left's survive)
      val starUsing = usingOpt.isDefined && sel.trim == "*"
      val shaped = if (starUsing)
        usingCols.foldLeft(shaped1)((d, c) => d.drop(rename.getOrElse(c, c)))
        else shaped1
      if (starUsing && tail.exists(t => usingCols.exists(c =>
          s"(?i)\\b$rAlias\\.$c\\b".r.findFirstIn(t).isDefined)))
        return None // right USING copy already dropped; decline, not guess
      def strip(s: String): String = {
        var o = s
        rename.foreach { case (c, n) =>
          o = o.replaceAll(s"(?i)\\b$rAlias\\.$c\\b", n) }
        o.replaceAll(s"(?i)\\b(?:$lAlias|$rAlias)\\.", "")
      }
      if (sel.trim == "*" && tail.forall(_.trim.isEmpty)) Some(shaped)
      else {
        val v = s"graft_asof_${viewSeq.incrementAndGet()}"
        shaped.createOrReplaceTempView(v)
        try {
          var res = spark.sql(
            s"SELECT ${strip(sel)} FROM $v ${tail.map(strip).getOrElse("")}")
          // a bare `q.col` projection (no AS) would leak the hidden name
          rename.foreach { case (c, n) =>
            if (res.columns.exists(_.equalsIgnoreCase(n)) &&
                !res.columns.exists(_.equalsIgnoreCase(c)))
              res = res.withColumnRenamed(n, c) }
          Some(res)
        } finally spark.catalog.dropTempView(v)
      }
    } catch {
      case _: IllegalArgumentException => None
      case _: org.apache.spark.sql.AnalysisException => None
    }
  }

  private val viewSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Substitutes `expr AS name` select-list aliases referenced by the
    * WHERE text with `(expr)`, skipping aliases shadowed by a real
    * column (the column wins in DuckDB — probed). Some only when at
    * least one substitution applied, so the caller's guard cannot loop. */
  private def aliasIntoWhere(sel: String, table: String,
      cond: String): Option[String] = {
    val cols = spark.table(table).columns.map(_.toLowerCase).toSet
    val AsRe = """(?is)^(.+?)\s+AS\s+([A-Za-z_]\w*)\s*$""".r
    val aliases = splitTopLevel(sel).map(_.trim).collect {
      case AsRe(e, n) if !cols(n.toLowerCase) => (n, e)
    }
    var changed = false
    var c = cond
    for ((n, e) <- aliases) {
      // not a function call, not a qualified/member reference
      val re = (s"(?i)(?<![\\w.$$])${java.util.regex.Pattern.quote(n)}" +
        """\b(?!\s*\()""").r
      c = SqlLex.replace(c, re) { _ => changed = true; s"($e)" }
    }
    if (changed) Some(c) else None
  }

  /** DuckDB's temporal `range`/`generate_series` TVFs: both emit
    * TIMESTAMP rows even for DATE bounds (probed); range excludes the
    * stop, generate_series includes it. sequence() is inclusive, so the
    * exclusive form filters the exact stop hit — direction-agnostic. */
  private def temporalSeries(args: String, name: String,
      exclusiveStop: Boolean): Option[DataFrame] = {
    val a = splitTopLevel(args).map(_.trim)
    if (a.length != 3) return None
    val base = s"SELECT explode(sequence(CAST(${a(0)} AS TIMESTAMP), " +
      s"CAST(${a(1)} AS TIMESTAMP), ${a(2)})) AS $name"
    Some(if (!exclusiveStop) spark.sql(base)
      else spark.sql(s"SELECT * FROM ($base) " +
        s"WHERE $name <> CAST(${a(1)} AS TIMESTAMP)"))
  }

  private val ColumnsAnyRe =
    ("""(?is)^\s*SELECT\s+(.+?)\s+FROM\s+([\w.]+)""" +
     """((?:\s+(?:WHERE|GROUP|HAVING|ORDER|LIMIT)\b.*)?)\s*$""").r
  // derived-table source, matched with a BALANCED-paren scan — a greedy
  // regex body would capture through the last ')' of the statement, so a
  // ')' in the tail (WHERE x IN (...), ORDER BY f(x)) mangled the subquery
  private object ColumnsSubqMatch {
    private val PrefixRe = """(?is)^\s*SELECT\s+(.+?)\s+FROM\s*\(""".r
    private val TailRe =
      ("""(?is)^\s*(?:AS\s+)?((?!(?:WHERE|GROUP|HAVING|ORDER|LIMIT)\b)\w+""" +
       """(?:\s*\(\s*\w+(?:\s*,\s*\w+)*\s*\))?)?""" +
       """\s*((?:(?:WHERE|GROUP|HAVING|ORDER|LIMIT)\b.*)?)\s*$""").r
    def unapply(sql: String): Option[(String, String, Option[String], String)] =
      PrefixRe.findFirstMatchIn(sql).flatMap { m =>
        val open = m.end - 1
        val close = SqlLex(sql).close(open)
        if (close < 0) None
        else sql.substring(close + 1) match {
          case TailRe(alias, tailPart) =>
            Some((m.group(1), sql.substring(open + 1, close),
              Option(alias), tailPart))
          case _ => None // a JOIN/comma after the subquery: not this shape
        }
      }
  }

  /** Expand every COLUMNS(...) in a select list against `table`'s
    * schema; None declines (e.g. two COLUMNS in one item). */
  private def expandColumnsSel(sel: String, table: String): Option[String] =
    expandColumnsSelCols(sel, spark.table(table).columns.toSeq, table)

  /** As [[expandColumnsSel]] over an explicit column list (subquery
    * sources — there is no catalog schema to consult). */
  private def expandColumnsSelCols(sel: String, cols: Seq[String],
      table: String): Option[String] = {
    val ColsTok = """(?i)\bCOLUMNS\s*\(""".r
    val expanded = splitTopLevel(sel).map(_.trim).map { item =>
      ColsTok.findFirstMatchIn(item) match {
        case None => Seq(item)
        case Some(m) =>
          val close = SqlLex(item).close(m.end - 1)
          if (close < 0) return None
          val i = close + 1
          if (ColsTok.findFirstMatchIn(item.substring(i)).isDefined)
            return None // two COLUMNS in one item: not attempted
          val arg = item.substring(m.end, i - 1).trim
          val StarExclude =
            """(?is)^\*\s+EXCLUDE\s*\(\s*([^)]+?)\s*\)$""".r
          val Lam = """(?s)^([A-Za-z_]\w*)\s*->\s*(.+)$""".r
          val matched: Seq[String] =
            if (arg == "*") cols
            else arg match {
              case StarExclude(ex) => // COLUMNS(* EXCLUDE (a, b))
                val drop = ex.split(",").map(_.trim.toLowerCase).toSet
                cols.filterNot(c => drop.contains(c.toLowerCase))
              case _ if arg.length >= 2 && arg.startsWith("'") &&
                  arg.endsWith("'") =>
                val re = arg.substring(1, arg.length - 1).r
                cols.filter(c => re.findFirstIn(c).isDefined)
              case Lam(v, body) =>
                val values = cols.map(c =>
                  s"('${c.replace("'", "''")}')").mkString(", ")
                spark.sql(s"SELECT $v FROM (VALUES $values) " +
                    s"AS graft_cols($v) WHERE $body")
                  .collect().map(_.getString(0)).toSeq
              case _ => return None
            }
          if (matched.isEmpty) throw new IllegalArgumentException(
            s"COLUMNS(...) matched no columns of $table")
          val head = item.substring(0, m.start)
          val rest = item.substring(i)
          matched.map(c => s"$head`$c`$rest AS `$c`")
      }
    }
    Some(expanded.flatten.mkString(", "))
  }

  /** Fixpoint loop for UNION-distinct recursion (see the dialectQuery
    * case). Each iteration runs the step with the recursive name bound to
    * the previous iteration's NEW rows only, deduplicates against the
    * accumulated set, and stops when nothing new appears — DuckDB's
    * documented UNION-recursion semantics. localCheckpoint() caps lineage
    * growth so the loop cost stays linear in iterations. */
  private def runRecursiveUnion(name: String, cols: Option[Seq[String]],
      base: String, step: String, fin: String): DataFrame = {
    def named(df: DataFrame) = cols.map(c => df.toDF(c: _*)).getOrElse(df)
    var acc = named(queryDf(base).distinct()).localCheckpoint()
    var frontier = acc
    var rounds = 0
    var done = false
    // finally-drop so a step/final that throws mid-loop can't leak the
    // temp view and shadow a same-named table for the session's remainder
    try {
      while (!done && rounds < 100000) {
        frontier.createOrReplaceTempView(name)
        val next = named(queryDf(step)).distinct()
          .except(acc).localCheckpoint()
        if (next.isEmpty) done = true
        else {
          acc = acc.union(next).localCheckpoint()
          frontier = next
          rounds += 1
        }
      }
      if (!done) throw new IllegalStateException(
        s"WITH RECURSIVE $name: no fixpoint after $rounds iterations")
      acc.createOrReplaceTempView(name)
      (if (fin.isEmpty) acc else queryDf(fin)).localCheckpoint()
    } finally {
      spark.catalog.dropTempView(name)
    }
  }

  private def dialectQuery(sql: String): Option[DataFrame] = {
    // percent LIMIT: floor(rows * p / 100) of the inner result (probed:
    // 25% and 28% of 10 rows are both 2). One extra count() action —
    // a dialect-gateway path, not a registered-query path.
    val LimitPctRe = """(?is)^(.*\S)\s+LIMIT\s+(\d+(?:\.\d+)?)\s*%\s*$""".r
    sql match {
      case LimitPctRe(head, pct) =>
        val df = queryDf(head)
        return Some(df.limit(
          math.floor(df.count() * pct.toDouble / 100.0).toInt))
      case _ =>
    }
    // SELECT-list aliases are referenceable from WHERE in DuckDB (a real
    // COLUMN of the same name wins — probed); Spark resolves WHERE
    // against the child only. Substitute each non-shadowed alias's
    // expression into the predicate, then re-enter.
    val AliasWhereRe = ("""(?is)^\s*SELECT\s+(.+?)\s+FROM\s+([\w.]+)""" +
      """\s+WHERE\s+(.+?)((?:\s+(?:GROUP|HAVING|ORDER|LIMIT)\b.*)?)\s*$""").r
    sql match {
      case AliasWhereRe(sel, table, cond, tailPart)
          if spark.catalog.tableExists(table) &&
            aliasIntoWhere(sel, table, cond).isDefined =>
        return aliasIntoWhere(sel, table, cond).map(c2 =>
          runSql(s"SELECT $sel FROM $table WHERE $c2 $tailPart"))
      case _ =>
    }
    // top-level VALUES statement: DuckDB names the columns col0, col1, …
    if ("""(?is)^\s*VALUES\s*\(""".r.findFirstIn(sql).isDefined) {
      val df = runSql(s"SELECT * FROM ($sql) graft_values")
      return Some(df.toDF(df.columns.indices.map(i => s"col$i"): _*))
    }
    // WITH RECURSIVE name AS (base UNION step) final — plain UNION
    // (distinct) recursion, which Spark's native recursive CTE refuses
    // (UNION ALL only). A driver fixpoint loop — the SQL-surface twin of
    // the engine's connected-components superstep: each iteration is one
    // distributed step over the FRONTIER only (new rows), dedup against
    // the accumulated set, terminating when no new row appears. The LAST
    // top-level non-ALL UNION splits base from the recursive term (UNION
    // is left-associative in both grammars).
    val RecUnionRe =
      """(?is)^\s*WITH\s+RECURSIVE\s+(\w+)\s*(?:\(\s*([^)]*?)\s*\))?\s+AS\s*\(""".r
    RecUnionRe.findFirstMatchIn(sql).foreach { m =>
      val close = SqlLex(sql).close(m.end - 1)
      if (close >= 0) {
        val body = sql.substring(m.end, close)
        val fin = sql.substring(close + 1).trim
        val UnionRe = """(?i)\bUNION\b(?!\s+(?:ALL|BY)\b)""".r
        val lx = SqlLex(body)
        val last = lx.find(UnionRe).filter(u => lx.depth(u.start) == 0)
          .toList.lastOption
        // a second CTE after the recursive one is not attempted (→ the
        // untouched statement refuses in Spark's parser)
        if (last.isDefined && !fin.startsWith(","))
          return Some(runRecursiveUnion(m.group(1),
            Option(m.group(2)).filter(_.nonEmpty)
              .map(splitTopLevel(_).map(_.trim)),
            body.substring(0, last.get.start).trim,
            body.substring(last.get.end).trim, fin))
      }
    }
    // UNION [ALL] BY NAME: split at the top level, each side re-enters
    // queryDf; missing columns NULL-fill exactly like DuckDB
    topLevel(sql, """\bUNION\s+(?:ALL\s+)?BY\s+NAME\b""").foreach { case (s, e) =>
      val all = sql.substring(s, e).toLowerCase.contains("all")
      val u = queryDf(sql.substring(0, s).trim)
        .unionByName(queryDf(sql.substring(e).trim), allowMissingColumns = true)
      return Some(if (all) u else u.distinct())
    }
    // QUALIFY: the window predicate becomes an appended projection item
    // (windows are legal in a SELECT list, not in WHERE), filtered and
    // dropped outside — semantically DuckDB's post-window filter
    topLevel(sql, """\bQUALIFY\b""").foreach { case (qs, qe) =>
      val head = sql.substring(0, qs)
      val rest = sql.substring(qe)
      val cut = topLevel(rest, """\b(?:ORDER\s+BY|LIMIT|OFFSET)\b""")
        .map(_._1).getOrElse(rest.length)
      val pred = rest.substring(0, cut).trim
      val tail = rest.substring(cut)
      return topLevel(head, """\bFROM\b""").map { case (fs, _) =>
        val inner = head.substring(0, fs) +
          s", ($pred) AS graft_qual " + head.substring(fs)
        runSql(s"SELECT * FROM ( $inner ) graft_qsub WHERE graft_qual $tail")
          .drop("graft_qual")
      }
    }
    sql match {
      case AsofJoinStmtRe(sel, lTable, lAlias, leftKw, rTable, rAlias,
          cond, usingCols, tail) =>
        asofStatement(sel, lTable, Option(lAlias), leftKw != null,
          rTable, Option(rAlias), Option(cond), Option(usingCols),
          Option(tail))
      // combined `* EXCLUDE (…) REPLACE (…)` (DuckDB admits both clauses
      // on one star — probed): replacements evaluate against the ORIGINAL
      // row first, then the excluded columns drop
      case ExcludeReplaceRe(parenCols, bareCol, items, from) =>
        val drops = Option(parenCols).map(splitTopLevel(_).map(_.trim))
          .getOrElse(Seq(bareCol))
        val AsRe = """(?is)^(.+?)\s+AS\s+([A-Za-z_]\w*)$""".r
        val parsed = splitTopLevel(items).map(_.trim).map {
          case AsRe(e, n) => Some(n.toLowerCase -> e)
          case _ => None
        }
        if (parsed.isEmpty || parsed.exists(_.isEmpty)) None
        else {
          val reps = parsed.flatten.toMap
          val base = runSql(s"SELECT * $from")
          val replaced = base.select(base.columns.map(c =>
            reps.get(c.toLowerCase).map(e => expr(e).as(c))
              .getOrElse(col(s"`$c`"))).toSeq: _*)
          Some(drops.foldLeft(replaced)((d, c) => d.drop(c)))
        }
      case ExcludeRe(parenCols, bareCol, from) =>
        val cols = Option(parenCols).map(splitTopLevel(_).map(_.trim))
          .getOrElse(Seq(bareCol))
        Some(cols.foldLeft(runSql(s"SELECT * $from"))((d, c) => d.drop(c)))
      case ReplaceStarRe(items, from) =>
        val AsRe = """(?is)^(.+?)\s+AS\s+([A-Za-z_]\w*)$""".r
        val parsed = splitTopLevel(items).map(_.trim).map {
          case AsRe(e, n) => Some(n.toLowerCase -> e)
          case _ => None
        }
        if (parsed.isEmpty || parsed.exists(_.isEmpty)) None
        else {
          val reps = parsed.flatten.toMap
          val base = runSql(s"SELECT * $from")
          // every replacement evaluates against the ORIGINAL row (DuckDB
          // semantics), so build one select, not chained withColumns
          Some(base.select(base.columns.map(c =>
            reps.get(c.toLowerCase).map(e => expr(e).as(c))
              .getOrElse(col(s"`$c`"))).toSeq: _*))
        }
      case DistinctOnRe(on, sel, from, ord, limit) =>
        // DuckDB keeps the FIRST row per ON-group in ORDER BY order (the
        // ON prefix of the ORDER BY orders groups, the remainder orders
        // within); with no ORDER BY the pick is arbitrary — the window
        // then orders by the ON columns themselves. DuckDB's default null
        // placement is NULLS LAST in BOTH directions (Spark's ASC default
        // is NULLS FIRST) — the constructed window text pins it so the
        // picked row is DuckDB's.
        val order = splitTopLevel(
          Option(ord).map(_.trim).filter(_.nonEmpty).getOrElse(on))
          .map(_.trim)
          .map(o => if ("(?i)NULLS\\s+(FIRST|LAST)".r.findFirstIn(o).isDefined) o
                    else s"$o NULLS LAST")
          .mkString(", ")
        val inner = s"SELECT $sel, row_number() OVER " +
          s"(PARTITION BY $on ORDER BY $order) AS graft_rn $from"
        val outerOrd = Option(ord).map(o => s" ORDER BY $o").getOrElse("")
        val lim = Option(limit).map(" " + _).getOrElse("")
        Some(runSql(
          s"SELECT * FROM ( $inner ) graft_don WHERE graft_rn = 1$outerOrd$lim")
          .drop("graft_rn"))
      case ColumnsSelRe(pattern, table) =>
        val df = spark.table(table)
        val re = pattern.r
        val cols = df.columns.filter(c => re.findFirstIn(c).isDefined)
        if (cols.isEmpty) throw new IllegalArgumentException(
          s"COLUMNS('$pattern') matched no columns of $table")
        Some(df.select(cols.map(c => col(s"`$c`")).toSeq: _*))
      // general COLUMNS expansion: COLUMNS(*) / COLUMNS('re') /
      // COLUMNS(c -> predicate-on-the-name), possibly wrapped in an
      // aggregate (`min(COLUMNS(*))`) — each matched column becomes its
      // own select item named after the column (probed: DuckDB keeps the
      // bare column names). Lambda predicates evaluate over the column-
      // name list itself, so any string expression DuckDB admits works.
      case ColumnsAnyRe(sel, table, tailPart)
          if """(?i)\bCOLUMNS\s*\(""".r.findFirstIn(sel).isDefined &&
            spark.catalog.tableExists(table) =>
        expandColumnsSel(sel, table).map(expanded =>
          runSql(s"SELECT $expanded FROM $table $tailPart"))
      // ...and over a derived-table source (`FROM (SELECT ...) t`): the
      // column list comes from analyzing the subquery. Analysis must be
      // SIDE-EFFECT-FREE — a nextval/currval in the body would advance
      // its sequence during discovery and then again (or after an error)
      // in the real run, so those decline to a loud refusal instead.
      case ColumnsSubqMatch(sel, sub, alias, tailPart)
          if """(?i)\bCOLUMNS\s*\(""".r.findFirstIn(sel).isDefined &&
            // guard against STATEMENT text only — a 'nextval(x)' string
            // literal in the body must not turn expansion into a refusal
            !SqlLex(sub).find("""(?i)\b(?:nextval|currval)\s*\(""".r).hasNext =>
        // a column-alias list on the derived table (`t(a, b)`) renames the
        // source columns — expansion must see the ALIASED names
        val aliasCols = alias.filter(_.contains("(")).map(a =>
          a.substring(a.indexOf('(') + 1, a.lastIndexOf(')'))
            .split(",").map(_.trim).toSeq)
        val srcCols = aliasCols.getOrElse(queryDf(sub).columns.toSeq)
        expandColumnsSelCols(sel, srcCols, "subquery")
          .map(expanded => runSql(s"SELECT $expanded FROM ($sub) " +
            s"${alias.getOrElse("graft_cols_src")} $tailPart"))
      case PositionalRe(sel, lt, la, rt, ra) =>
        Some(positionalJoin(sel, lt, Option(la), rt, Option(ra)))
      case RangeTvfRe(args, colAlias) if """(?i)\b(?:DATE|TIMESTAMP)\s*'"""
          .r.findFirstIn(args).isDefined =>
        temporalSeries(args, Option(colAlias).getOrElse("range"),
          exclusiveStop = true)
      case RangeTvfRe(args, colAlias) =>
        // Spark's native range TVF is exactly DuckDB's half-open table
        // form (1/2/3 args, negative steps, empty ranges) — only the
        // column name differs (id vs range). spark.sql directly: the
        // scalar range() rewrite must not see this call.
        Some(spark.sql(s"SELECT id AS " +
          s"${Option(colAlias).getOrElse("range")} FROM range($args)"))
      case SeriesTvfRe(args, colAlias) if """(?i)\b(?:DATE|TIMESTAMP)\s*'"""
          .r.findFirstIn(args).isDefined =>
        temporalSeries(args, Option(colAlias).getOrElse("generate_series"),
          exclusiveStop = false)
      case SeriesTvfRe(args, colAlias) =>
        // inclusive table series: literal ints compute exactly (empty
        // corner included); 3-arg expressions (timestamp + INTERVAL step
        // included) map to sequence(), whose bounds are inclusive too
        val a = splitTopLevel(args).map(_.trim)
        val listSql = intArgs(a) match {
          case Some(Seq(n)) => series(0, n, 1, inclusive = true)
          case Some(Seq(s, e)) => series(s, e, 1, inclusive = true)
          case Some(Seq(s, e, st)) => series(s, e, st, inclusive = true)
          case None if a.length == 3 =>
            Some(s"sequence(${a(0)}, ${a(1)}, ${a(2)})")
          case _ => None
        }
        listSql.map(l => spark.sql(s"SELECT explode($l) AS " +
          Option(colAlias).getOrElse("generate_series")))
      case _ => None
    }
  }

  /** DuckDB POSITIONAL JOIN: rows pair by their position in each table's
    * natural order, shorter side NULL-padded. Positions come from
    * `zipWithIndex` over the scan order (the distributed numbering of
    * ops/Positions, without a sort — natural order IS the contract here,
    * same as DuckDB's insertion order). */
  private def positionalJoin(sel: String, lt: String, la: Option[String],
      rt: String, ra: Option[String]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    def zipIdx(df: DataFrame): DataFrame = {
      val schema = StructType(df.schema.fields :+
        StructField("graft_pos", LongType, nullable = false))
      df.sparkSession.createDataFrame(
        df.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) },
        schema)
    }
    val l = zipIdx(spark.table(lt)).alias(la.getOrElse(lt))
    val r = zipIdx(spark.table(rt)).alias(ra.getOrElse(rt))
    l.join(r, Seq("graft_pos"), "full_outer")
      .orderBy(col("graft_pos"))
      .selectExpr(splitTopLevel(sel).map(_.trim): _*)
  }

  // --- DuckDB file-reading table functions (a client's most common ad-hoc
  //     idiom, reachable through the reference passthrough `db/db.go:70`):
  //     `SELECT * FROM read_parquet('f.parquet')`, `read_csv(...)`,
  //     `read_json(...)`. Spark has no SQL-text table functions over bare
  //     paths, so each call site is rewritten to a temp view over the
  //     matching `sources/FileSources`-style reader before `spark.sql`.
  //     The scan stays a plain DataFrame source: pushdown and pruning work
  //     exactly as on a registered table.

  // path argument: one quoted path (globs pass through to the reader,
  // which expands them exactly like DuckDB) or a bracketed list
  // ['a','b',...] — DuckDB's multi-file form
  private val ReadFnRe =
    ("""(?i)(?<![\w.])(?:read_(parquet|csv|csv_auto|json|json_auto|text|blob""" +
      """|ndjson|ndjson_auto|ndjson_objects|json_objects|json_objects_auto)""" +
      """|(parquet_scan|parquet_schema|parquet_metadata|parquet_file_metadata""" +
      """|parquet_kv_metadata|sniff_csv|glob))\s*\(\s*""" +
      """('[^']+'|\[\s*'[^']+'(?:\s*,\s*'[^']+')*\s*\])\s*((?:,[^)\[\]]*)?)\)""").r
  private val PathLitRe = """'([^']+)'""".r
  private val readViewCounter = new java.util.concurrent.atomic.AtomicLong

  // DuckDB's catalog-introspection table functions (CatalogInfo scaladoc)
  // and the pragma_* table-function spellings of the top-level PRAGMAs:
  // substituted with temp views over driver-built metadata DataFrames by
  // the same pass that handles read_*. The optional argument is one
  // quoted or bare identifier (pragma_table_info both ways, probed).
  private lazy val catalogInfo = new CatalogInfo(this)
  private val CatFnRe =
    ("""(?i)(?<![\w.])(duckdb_(?:tables|columns|views|schemas|databases|""" +
     """sequences|indexes|constraints|types|settings|keywords|functions""" +
     """|extensions|memory|temporary_files|dependencies|optimizers|secrets)""" +
     """|pragma_table_info|pragma_version|pragma_platform""" +
     """|pragma_database_size|pragma_show_tables|pragma_collations""" +
     """|pragma_user_agent|pragma_metadata_info|pragma_storage_info)""" +
     """\s*\(\s*(?:'([^']*)'|([\w.]+))?\s*\)""").r

  /** Replace every `read_*('path'[, opts])` outside string literals with a
    * temp view name registered over that file. The pattern reads the path
    * literal's contents, so it matches the raw text and keeps only matches
    * that start outside every literal and identifier ([[SqlLex.findRaw]]). */
  private[engine] def rewriteReadFunctions(sql: String): String =
    rewriteReadFunctionsTracked(sql)._1

  private def rewriteReadFunctionsTracked(sql: String): (String, Seq[String]) = {
    val views = Seq.newBuilder[String]
    def substitute(text: String, re: scala.util.matching.Regex)
        (mk: scala.util.matching.Regex.Match => DataFrame): String =
      SqlLex(text).replaceRaw(re) { m =>
        val view = s"graft_read_${readViewCounter.incrementAndGet()}"
        mk(m).createOrReplaceTempView(view)
        views += view
        view
      }
    val afterRead = substitute(sql, ReadFnRe) { m =>
      val kind = Option(m.group(1)).getOrElse(m.group(2)).toLowerCase
      val paths = PathLitRe.findAllMatchIn(m.group(3)).map(_.group(1)).toSeq
      readFunction(kind, paths, Option(m.group(4)).getOrElse(""))
    }
    // parenthesized DESCRIBE / SHOW ALL TABLES are derived tables in
    // DuckDB (probed) — substituted like the read functions
    val DescSubRe =
      """(?i)\(\s*(?:DESCRIBE\s+([\w.]+)|(SHOW\s+ALL\s+TABLES))\s*\)""".r
    val afterDesc = substitute(afterRead, DescSubRe) { m =>
      if (m.group(1) != null) describe(m.group(1)) else showAllTablesDf
    }
    val afterCat = substitute(afterDesc, CatFnRe) { m =>
      val arg = Option(m.group(2)).orElse(Option(m.group(3)))
      val name = m.group(1).toLowerCase
      // only pragma_table_info / pragma_storage_info take an argument —
      // DuckDB raises a binder error for arguments on the rest (probed)
      val takesArg = name == "pragma_table_info" || name == "pragma_storage_info"
      if (arg.isDefined && !takesArg)
        throw new IllegalArgumentException(
          s"Table function $name does not accept arguments")
      name match {
        case "pragma_table_info" => pragmaTableInfo(arg.getOrElse(
          throw new IllegalArgumentException(
            "pragma_table_info requires a table name")))
        case "pragma_storage_info" => catalogInfo.storageInfoDf(arg.getOrElse(
          throw new IllegalArgumentException(
            "pragma_storage_info requires a table name")))
        case "pragma_version" => pragmaVersionDf
        case "pragma_platform" => pragmaPlatformDf
        case "pragma_database_size" => pragmaDbSizeDf
        case "pragma_show_tables" => showTablesDf
        case other => catalogInfo.dispatch(other)
      }
    }
    (afterCat, views.result())
  }

  /** `spark.sql` over text whose read_* calls became temp views, dropping
    * the views right after — `spark.sql` analyzes eagerly, so the returned
    * DataFrame has already resolved the view into its file relation, and a
    * long-lived gateway session does not accumulate `graft_read_*` views
    * (which would otherwise leak into SHOW TABLES output forever). */
  private def sqlWithReadViews(text: String): DataFrame = {
    val (rewritten, views) = rewriteReadFunctionsTracked(text)
    try spark.sql(rewritten)
    finally views.foreach(v =>
      spark.catalog.dropTempView(v))
  }

  /** DuckDB string/list slice on a KNOWN string (probed, v1.0): 1-based
    * INCLUSIVE bounds, index 0 behaves as 1, negative counts from the end
    * (-1 = last), out-of-range clamps, inverted → empty. */
  private def duckSliceLiteral(s: String, io: Option[Long], jo: Option[Long]): String = {
    val n = s.length.toLong
    val i0 = io.getOrElse(1L); val j0 = jo.getOrElse(n)
    val start = math.max(if (i0 < 0) n + i0 + 1 else i0, 1L)
    val end = math.min(if (j0 < 0) n + j0 + 1 else j0, n)
    if (end < start) "" else s.substring((start - 1).toInt, end.toInt)
  }

  /** One file-function call → DataFrame. CSV/JSON accept DuckDB's common
    * named options (`header=`, `delim=`/`sep=`); types are inferred like
    * DuckDB's sniffer (ad-hoc reads — registered tables carry schemas). */
  private def readFunction(kind: String, path: Seq[String], optsText: String): DataFrame =
    kind match {
      case "parquet" => spark.read.parquet(path: _*)
      case "csv" | "csv_auto" =>
        var header = true
        // delimiter sniffing when unspecified (DuckDB's auto-detect, in
        // miniature): the candidate , ; | \t with the most QUOTE-AWARE
        // occurrences on the first line wins, ',' on ties — reads one
        // line of one file on the driver, never the data
        var delim: Option[String] = None
        splitTopLevel(optsText.stripPrefix(",")).map(_.trim).filter(_.nonEmpty).foreach { o =>
          val kv = o.split("=", 2).map(_.trim)
          kv(0).toLowerCase match {
            case "header" => header = kv(1).toLowerCase != "false" && kv(1) != "0"
            case "delim" | "sep" | "delimiter" =>
              delim = Some(kv(1).stripPrefix("'").stripSuffix("'"))
            case "auto_detect" => () // inference is already the default here
            case other =>
              throw new IllegalArgumentException(s"read_csv: unsupported option $other")
          }
        }
        val d = delim.getOrElse(sniffDelimiter(firstLineOf(path.head)))
        spark.read.option("header", header.toString).option("delimiter", d)
          .option("inferSchema", "true").csv(path: _*)
      case k if Set("ndjson", "ndjson_auto", "ndjson_objects",
          "json_objects", "json_objects_auto", "parquet_scan",
          "parquet_schema", "parquet_metadata", "parquet_file_metadata",
          "parquet_kv_metadata", "sniff_csv", "glob").contains(k) &&
          optsText.stripPrefix(",").trim.nonEmpty =>
        // these table functions take no handled options here — silently
        // dropping one would "succeed" with the option unapplied (same
        // refuse-loudly posture as read_csv's unknown-option error)
        throw new IllegalArgumentException(
          s"$k: unsupported options ${optsText.stripPrefix(",").trim}")
      case "json" | "json_auto" | "ndjson" | "ndjson_auto" =>
        // Spark's json source IS newline-delimited (and parses a one-line
        // top-level array into rows, like read_json on an array file)
        spark.read.json(path: _*)
      case "ndjson_objects" | "json_objects_auto" =>
        // DuckDB's raw-object readers: one VARCHAR row per newline-
        // delimited object, text verbatim (probed). Top-level-array files
        // refuse loudly (splitting an array re-renders element text —
        // a silent-divergence trap; read_json parses arrays fine).
        val first = firstLineOf(path.head).dropWhile(_.isWhitespace)
        if (first.startsWith("["))
          throw new IllegalArgumentException(
            s"read_$kind: top-level JSON array input is not supported " +
            "here; use read_json for array files")
        spark.read.text(path: _*).toDF("json")
          .filter(length(trim(col("json"))) > 0)
      case "json_objects" =>
        // DuckDB 1.0's read_json_objects defaults format='array' and
        // errors on ndjson input (probed); array splitting re-renders
        // element text — refuse both ways, naming the working readers
        throw new IllegalArgumentException(
          "read_json_objects: expected top-level JSON array " +
          "(format='array'); use read_ndjson_objects for newline-" +
          "delimited objects or read_json for array files")
      case "parquet_scan" => spark.read.parquet(path: _*)
      case "parquet_schema" => graft.sources.ParquetMeta.schemaDf(spark, path)
      case "parquet_metadata" =>
        graft.sources.ParquetMeta.metadataDf(spark, path)
      case "parquet_file_metadata" =>
        graft.sources.ParquetMeta.fileMetadataDf(spark, path)
      case "parquet_kv_metadata" =>
        graft.sources.ParquetMeta.kvMetadataDf(spark, path)
      case "sniff_csv" => sniffCsvDf(path.head)
      case "glob" =>
        // DuckDB's file-listing table function: one `file` row per match
        // (probed column name). Driver-side metadata listing only.
        import spark.implicits._
        val fs = new org.apache.hadoop.fs.Path(path.head)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val matches = Option(fs.globStatus(
            new org.apache.hadoop.fs.Path(path.head)))
          .map(_.toSeq).getOrElse(Nil)
          .map(_.getPath.toString.replaceFirst("^file:/*", "/")).sorted
        matches.toDF("file")
      case "text" | "blob" =>
        // DuckDB's whole-file readers: (filename, content, size,
        // last_modified) — read_text decodes UTF-8, read_blob stays
        // BLOB. Spark's binaryFile source is the distributed twin (one
        // row per file, lazy content loading, glob expansion) — its
        // file:-scheme path normalizes to DuckDB's bare filesystem path.
        val bin = spark.read.format("binaryFile").load(path: _*)
        val base = bin.select(
          regexp_replace(col("path"), "^file:/*", "/").as("filename"),
          col("content"),
          col("length").as("size"),
          col("modificationTime").as("last_modified"))
        if (kind == "text") base.withColumn("content", col("content").cast("string"))
        else base
      case other => throw new IllegalArgumentException(s"read_$other unsupported")
    }

  /** First text line of the first file matching `path` (driver-side, one
    * line — never the data). A COPY TO target may be a directory of part
    * files. Empty string when nothing matches. */
  private def firstLineOf(path: String): String =
    try {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val glob = fs.globStatus(new org.apache.hadoop.fs.Path(path))
      if (glob == null || glob.isEmpty) ""
      else {
        val f0 = glob.head
        val file = if (!f0.isDirectory) f0.getPath
          else fs.listStatus(f0.getPath).filter(s => !s.isDirectory &&
              !s.getPath.getName.startsWith("_") &&
              !s.getPath.getName.startsWith("."))
            .map(_.getPath).headOption.getOrElse(f0.getPath)
        val in = fs.open(file)
        try {
          val br = new java.io.BufferedReader(
            new java.io.InputStreamReader(in, "UTF-8"))
          Option(br.readLine()).getOrElse("")
        } finally in.close()
      }
    } catch { case scala.util.control.NonFatal(_) => "" }

  /** DuckDB's delimiter auto-detect, in miniature: the candidate
    * , ; | \t with the most QUOTE-AWARE occurrences on the first line
    * wins, ',' on ties. */
  private def sniffDelimiter(firstLine: String): String = {
    def countTop(ch: Char) = {
      var n = 0; var q = false
      firstLine.foreach { c =>
        if (c == '"') q = !q else if (c == ch && !q) n += 1 }
      n
    }
    val cands = Seq(',', ';', '|', '\t')
    val best = cands.maxBy(countTop)
    if (countTop(best) > countTop(',')) best.toString else ","
  }

  /** `sniff_csv('f.csv')` — DuckDB's dialect-detection table function in
    * its exact one-row shape (probed 1.0): detected delimiter/quote/
    * escape/new-line, skip count, header flag, the inferred column list
    * as STRUCT(name, type)[], and the ready-to-run `Prompt`. Detection
    * reuses the gateway's sniffing (first-line delimiter vote) plus one
    * schema-inference pass; integral columns render BIGINT like DuckDB's
    * sniffer. Header heuristic: the first line is a header unless its
    * fields already parse as the data types inferred for the rest. */
  private def sniffCsvDf(path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val first = firstLineOf(path)
    val delim = sniffDelimiter(first)
    def duckCsvType(dt: DataType): String = dt match {
      case ByteType | ShortType | IntegerType | LongType => "BIGINT"
      case FloatType | DoubleType | _: DecimalType => "DOUBLE"
      case BooleanType => "BOOLEAN"
      case DateType => "DATE"
      case _: TimestampType | TimestampNTZType => "TIMESTAMP"
      case _ => "VARCHAR"
    }
    // header detection: infer over the tail (skipping line 1); header=true
    // when any first-line field does not parse as its column's tail type,
    // OR when every column is VARCHAR (probed: DuckDB's sniffer reports
    // header=true for all-VARCHAR files unconditionally)
    val firstFields = {
      // quote-aware split of the first line on the detected delimiter
      val out = Seq.newBuilder[String]
      val sb = new StringBuilder; var q = false
      first.foreach { c =>
        if (c == '"') { q = !q }
        else if (c == delim.head && !q) { out += sb.toString; sb.clear() }
        else sb += c
      }
      out += sb.toString
      out.result()
    }
    def parsesAs(s: String, dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        s.trim.matches("""[+-]?\d+""")
      case FloatType | DoubleType | _: DecimalType =>
        scala.util.Try(s.trim.toDouble).isSuccess
      case BooleanType =>
        Set("true", "false").contains(s.trim.toLowerCase)
      case _ => true
    }
    val tailTypes = {
      // types inferred from the data rows alone (line 1 excluded), so a
      // VARCHAR header never masks a numeric column
      val withHeader = spark.read.option("header", "true")
        .option("delimiter", delim).option("inferSchema", "true").csv(path)
      withHeader.schema.fields.map(_.dataType)
    }
    val hasHeader = firstFields.size == tailTypes.length &&
      (tailTypes.forall(_.isInstanceOf[StringType]) ||
        firstFields.zip(tailTypes).exists { case (f, dt) => !parsesAs(f, dt) })
    val schemaFields =
      if (hasHeader)
        firstFields.zip(tailTypes).map { case (n, dt) => (n, duckCsvType(dt)) }
      else {
        // only the headerless branch needs the second inference pass
        val headless = spark.read.option("header", "false")
          .option("delimiter", delim).option("inferSchema", "true").csv(path)
        headless.schema.fields.map(f => (f.name.replace("_c", "column"),
          duckCsvType(f.dataType))).toSeq
      }
    val colsRendered = schemaFields
      .map { case (n, t) => s"'$n': '$t'" }.mkString("{", ", ", "}")
    val prompt = s"FROM read_csv('$path', auto_detect=false, delim='$delim', " +
      "quote='\"', escape='\"', new_line='\\n', skip=0, " +
      s"header=$hasHeader, columns=$colsRendered);"
    val schema = StructType(Seq(
      StructField("Delimiter", StringType), StructField("Quote", StringType),
      StructField("Escape", StringType),
      StructField("NewLineDelimiter", StringType),
      StructField("SkipRows", LongType), StructField("HasHeader", BooleanType),
      StructField("Columns", ArrayType(StructType(Seq(
        StructField("name", StringType), StructField("type", StringType))))),
      StructField("DateFormat", StringType),
      StructField("TimestampFormat", StringType),
      StructField("UserArguments", StringType),
      StructField("Prompt", StringType)))
    spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(delim, "\"", "\"", "\\n", 0L, hasHeader,
        schemaFields.map { case (n, t) => org.apache.spark.sql.Row(n, t) },
        null, null, null, prompt)), schema)
  }

  // --- sequences / macros / indexes / prepared statements ---------------

  /** `CREATE SEQUENCE name [START [WITH] n] [INCREMENT [BY] k] [MINVALUE n]
    * [MAXVALUE n] [[NO] CYCLE]`. DuckDB probed (1.0.0): options apply LEFT
    * TO RIGHT, and an INCREMENT clause RESETS min/max to its sign's
    * defaults, discarding bounds stated earlier — `MINVALUE 2 MAXVALUE 4
    * CYCLE INCREMENT 2` yields 1,3,5,7,… unbounded, while `INCREMENT 2
    * MINVALUE 2 MAXVALUE 4 CYCLE` yields 2,4,2,4. Default start is min
    * (ascending) / max (descending). */
  private def createSequence(name: String, spec: String,
      ifNotExists: Boolean): ExecuteResult = {
    val key = name.toLowerCase
    if (sequences.contains(key)) {
      if (ifNotExists) return ExecuteResult(0L)
      throw new IllegalArgumentException(s"sequence $name already exists")
    }
    var inc = 1L; var min = 1L; var max = Long.MaxValue
    var cycle = false; var startOpt: Option[Long] = None
    def defaults(k: Long): Unit =
      if (k < 0) { min = Long.MinValue; max = -1L }
      else { min = 1L; max = Long.MaxValue }
    val OptRe = ("""(?is)\b(?:START\s+(?:WITH\s+)?(-?\d+)""" +
      """|INCREMENT\s+(?:BY\s+)?(-?\d+)|MINVALUE\s+(-?\d+)""" +
      """|MAXVALUE\s+(-?\d+)|NO\s+(CYCLE|MINVALUE|MAXVALUE)|(CYCLE))""").r
    OptRe.findAllMatchIn(spec).foreach { m =>
      if (m.group(1) != null) startOpt = Some(m.group(1).toLong)
      else if (m.group(2) != null) { inc = m.group(2).toLong; defaults(inc) }
      else if (m.group(3) != null) min = m.group(3).toLong
      else if (m.group(4) != null) max = m.group(4).toLong
      else if (m.group(5) != null) m.group(5).toUpperCase match {
        case "CYCLE" => cycle = false
        case "MINVALUE" => min = if (inc < 0) Long.MinValue else 1L
        case "MAXVALUE" => max = if (inc < 0) -1L else Long.MaxValue
      }
      else if (m.group(6) != null) cycle = true
    }
    val start = startOpt.getOrElse(if (inc < 0) max else min)
    sequences(key) = SqlGateway.SeqState(start, inc, min, max, cycle)
    seqStarts(key) = start
    ExecuteResult(0L)
  }

  /** Advance `seq` and return the value handed out (thread-safe: the read
    * path can call nextval outside the writer lock). Bound handling at
    * retrieval, DuckDB-probed: an out-of-bounds counter wraps to the far
    * bound with CYCLE, errors without. */
  private def nextval(seq: String): Long = sequences.synchronized {
    val key = seq.toLowerCase
    val st = sequences.getOrElse(key,
      throw new IllegalArgumentException(s"unknown sequence $seq"))
    def reachedMin: Nothing = throw new IllegalArgumentException(
      s"""nextval: reached minimum value of sequence "$seq" (${st.min})""")
    def reachedMax: Nothing = throw new IllegalArgumentException(
      s"""nextval: reached maximum value of sequence "$seq" (${st.max})""")
    var ctr = st.next
    // retrieval bound check, BOTH bounds (duck-probed: a counter that
    // overflowed past the int64 range sits on the wrong side of its
    // travel direction and reports against whichever bound it violates)
    if (ctr < st.min) { if (st.cycle && st.inc < 0) ctr = st.max else reachedMin }
    else if (ctr > st.max) {
      if (st.cycle && st.inc >= 0) ctr = st.min else reachedMax
    }
    // increment-time int64-overflow check, duck-probed: CYCLE wraps to the
    // far bound and the call succeeds; without CYCLE the CURRENT call
    // errors and the stored counter still wraps two's-complement (the
    // next call then reports the OPPOSITE bound — duck does exactly this)
    val next =
      try Math.addExact(ctr, st.inc)
      catch { case _: ArithmeticException =>
        if (st.cycle) { if (st.inc >= 0) st.min else st.max }
        else {
          sequences(key) = st.copy(next = ctr + st.inc)
          if (st.inc >= 0) reachedMax else reachedMin
        }
      }
    sequences(key) = st.copy(next = next)
    seqLast(key) = ctr
    ctr
  }

  private def currval(seq: String): Long =
    seqLast.getOrElse(seq.toLowerCase,
      throw new IllegalArgumentException(
        s"currval: nextval has not been called for sequence $seq"))

  private val SeqFnRe =
    """(?i)(?<![\w.])(nextval|currval)\s*\(\s*'([\w.]+)'\s*\)""".r

  /** Replace `nextval('s')` / `currval('s')` with literals. Each textual
    * occurrence advances once — exact for VALUES lists (one call site per
    * tuple) and scalar selects; a nextval inside a multi-row SELECT source
    * is refused upstream ([[insert]]) rather than silently handing every
    * row the same id. */
  private def rewriteSequenceFunctions(sql: String): String =
    if (!sql.toLowerCase.contains("val")) sql
    else SqlLex(sql).replaceRaw(SeqFnRe) { m =>
      val v = if (m.group(1).equalsIgnoreCase("nextval")) nextval(m.group(2))
        else currval(m.group(2))
      s"CAST($v AS BIGINT)"
    }

  /** Expand scalar macro invocations textually (parameters substituted
    * parenthesized, arguments split on top-level commas), repeatedly so a
    * macro body may call another macro; depth-capped against cycles. */
  private def rewriteMacros(sql: String): String = {
    if (macros.isEmpty) return sql
    var cur = sql
    var depth = 0
    var changed = true
    while (changed && depth < 10) {
      changed = false
      depth += 1
      macros.foreach { case (name, (params, body)) =>
        val callRe = ("""(?i)(?<![\w.])""" + java.util.regex.Pattern.quote(name) +
          """\s*\(""").r
        val out = new StringBuilder
        var last = 0
        var matched = false
        val lx = SqlLex(cur)
        lx.find(callRe).foreach { m =>
          if (m.start >= last) {
            val open = m.end - 1
            val close = lx.close(open)
            if (close < 0) throw new IllegalArgumentException(
              s"unbalanced parentheses in a call to macro $name")
            val argText = cur.substring(open + 1, close)
            val args = splitTopLevel(argText).map(_.trim).filter(_.nonEmpty)
            // DuckDB call contract (probed): default params bind by NAME
            // only; positional args must exactly cover the non-default
            // params; naming a non-default param is a binder error
            val defaults = macroDefaults.getOrElse(name, Map.empty)
            val required = params.filterNot(defaults.contains)
            val NamedArg = """(?s)^([\w]+)\s*:=\s*(.+)$""".r
            val (named, positional) = args.partition(NamedArg.matches(_))
            val bindings = scala.collection.mutable.Map[String, String]()
            named.foreach { case NamedArg(p, v) =>
              // duck validates named args BEFORE the positional count
              val key = p.toLowerCase
              if (!defaults.contains(key))
                throw new IllegalArgumentException(
                  s"Binder Error: Macro $name does not have default parameter $p!")
              bindings(key) = v.trim
            }
            if (positional.length != required.length)
              throw new IllegalArgumentException(
                s"Binder Error: Macro function '$name(${required.mkString(", ")})' " +
                  (if (required.length == 1) "requires a single positional argument"
                   else s"requires ${required.length} positional arguments") +
                  s", but ${positional.length} positional arguments were provided")
            required.zip(positional).foreach { case (p, a) => bindings(p) = a }
            defaults.foreach { case (p, d) =>
              if (!bindings.contains(p)) bindings(p) = d }
            var expanded = body
            params.foreach { p =>
              val a = bindings(p)
              expanded = SqlLex.replace(expanded, ("""(?i)(?<![\w.])""" +
                java.util.regex.Pattern.quote(p) + """(?![\w])""").r)(_ => s"($a)")
            }
            out.append(cur.substring(last, m.start)).append(s"($expanded)")
            last = close + 1
            matched = true
          }
        }
        if (matched) {
          out.append(cur.substring(last)); cur = out.toString; changed = true
        }
      }
    }
    if (depth >= 10 && changed)
      throw new IllegalArgumentException("macro expansion exceeded depth 10 (cycle?)")
    cur
  }

  private val CurrentSettingRe =
    """(?i)(?<![\w.])current_setting\s*\(\s*'([\w.]+)'\s*\)""".r

  /** `current_setting('k')` → the recorded SET value as a string literal. */
  private def rewriteCurrentSetting(sql: String): String =
    if (!sql.toLowerCase.contains("current_setting")) sql
    else SqlLex(sql).replaceRaw(CurrentSettingRe) { m =>
      // 'threads' reads the live engine parallelism (DuckDB's default
      // reflects its own hardware; an INTEGER, unlike the recorded SETs)
      if (m.group(1).equalsIgnoreCase("threads") &&
          !settings.contains("threads"))
        spark.sparkContext.defaultParallelism.toString
      // 'timezone' reads the live session zone (DuckDB's default is its
      // own session TimeZone; this engine's is Spark's)
      else if (m.group(1).equalsIgnoreCase("timezone") &&
          !settings.contains("timezone"))
        s"'${spark.conf.get("spark.sql.session.timeZone")}'"
      else {
        val v = settings.getOrElse(m.group(1).toLowerCase,
          throw new IllegalArgumentException(s"unknown setting ${m.group(1)}"))
        s"'${v.replace("'", "''")}'"
      }
    }

  // --- DuckDB-spelled function compatibility ---------------------------
  // A client porting real DuckDB SQL spells functions DuckDB-style
  // (reachable through the reference passthrough `db/db.go:70`). Where
  // Spark has an exactly-semantics-identical function under another name,
  // rename it; where DuckDB's DEFAULT differs from Spark's for the same
  // name (1-arg `log` is log10 in DuckDB but ln in Spark; 2-arg
  // `regexp_extract` returns group 0 in DuckDB but group 1 in Spark), pin
  // DuckDB's default explicitly — those two would otherwise be SILENTLY
  // wrong, the one failure mode this grammar subset must never have.
  // Anything not provably identical is left alone and refuses downstream.
  // Measured against a DuckDB-documentation statement corpus in
  // DuckDbCorpusSpec.
  private val DuckFnAliases: Seq[(String, String)] = Seq(
    "strpos" -> "instr",               // both 1-based substring position
    "starts_with" -> "startswith",
    "ends_with" -> "endswith",
    "regexp_matches" -> "regexp_like", // both unanchored partial match
    "list_value" -> "array",
    "list_transform" -> "transform",   // same lambda arrow syntax
    "list_filter" -> "filter",
    "list_contains" -> "array_contains", // same (list, elem) arg order
    "list_has" -> "array_contains",    // documented list_contains alias
    "arbitrary" -> "first",            // DuckDB: first value seen
    "array_length" -> "array_size",    // both NULL-in NULL-out
    "len" -> "length",                 // strings/blobs; lists refuse in Spark
    // arg_max/arg_min/max_by/min_by are NOT blind renames: DuckDB's skip
    // rows whose VALUE argument is NULL, Spark's keep them — the whole
    // family (incl. the keep-NULL *_null variants) is rewritten with
    // probed-exact semantics in rewriteDuckDefaults.
    "list" -> "collect_list",          // both order-nondeterministic bags
    "quantile_cont" -> "percentile",   // same (col, q) interpolation
    "unnest" -> "explode",             // SELECT-list list flattening; a
                                       // non-list input fails analysis loudly
    "string_split_regex" -> "split",   // both regex-split, trailing empties kept
    "str_split_regex" -> "split",
    "regexp_split_to_array" -> "split",
    "list_position" -> "array_position", // both 1-based, 0 when absent,
    "list_indexof" -> "array_position",  // NULL element → NULL (verified)
    "list_append" -> "array_append",
    "list_max" -> "array_max",         // both skip NULL elements
    "list_min" -> "array_min",
    "list_reverse" -> "reverse",       // both NULL-in NULL-out (r8)
    "array_reverse" -> "reverse",
    "to_hex" -> "hex",                 // both uppercase, no 0x prefix
    "prefix" -> "startswith",          // r8 breadth (probed)
    "suffix" -> "endswith",
    "row" -> "struct",                 // both build an anonymous struct
    "to_base64" -> "base64",           // blob → base64 text
    "from_base64" -> "unbase64",       // base64 text → blob
    "list_apply" -> "transform",       // lambda-map aliases (probed)
    "apply" -> "transform",
    "list_pack" -> "array",
    "datetrunc" -> "date_trunc",       // r8 batch 6 (probed)
    "gen_random_uuid" -> "uuid",
    "today" -> "current_date",
    "editdist3" -> "levenshtein",      // r8 batch 15 (probed)
    "ucase" -> "upper",
    "lcase" -> "lower",
    // array_* spellings are DuckDB aliases of the list_* family (probed on
    // LIST inputs; fixed-size ARRAY values render identically). Aliases to
    // list_* names resolve because this rename pass runs BEFORE the
    // rewriteDuckDefaults fix chain that implements those names.
    "array_apply" -> "transform",
    "array_transform" -> "transform",
    "array_filter" -> "filter",
    "array_indexof" -> "array_position", // 1-based, 0 absent, NULL elem → NULL
    "array_has" -> "array_contains",
    "array_zip" -> "arrays_zip",
    "array_value" -> "array",          // fixed-size ARRAY constructor; the
                                       // value equals the same-element LIST
    "array_aggregate" -> "list_aggregate",
    "array_aggr" -> "list_aggregate",
    "array_reduce" -> "list_reduce",
    "array_unique" -> "list_unique",
    "array_resize" -> "list_resize",
    "array_reverse_sort" -> "list_reverse_sort",
    "array_grade_up" -> "list_grade_up",
    "array_select" -> "list_select",
    "array_where" -> "list_where",
    "array_cosine_similarity" -> "list_cosine_similarity",
    "array_distance" -> "list_distance",
    "array_inner_product" -> "list_inner_product",
    "array_dot_product" -> "list_inner_product",
    "approx_quantile" -> "approx_percentile", // both approximate quantiles
                                       // (t-digest vs G-K; same contract)
    "reservoir_quantile" -> "approx_percentile", // sampling-approximate
                                       // quantile; same contract as above
    "from_hex" -> "unhex",             // both left-pad odd-length hex
    "week" -> "weekofyear",            // both ISO week (probed: 2024-03-15 → 11)
    "to_binary" -> "bin",
    "row_to_json" -> "to_json",        // struct → minified object (probed)
    "array_to_json" -> "to_json",      // list → minified array (probed)
    "unpivot_list" -> "array",
    // (make_timestamptz is a Defaults fix, not an alias: its result must
    // carry instant-typedness for the '+00' VARCHAR suffix)
    "transaction_timestamp" -> "now",
    "get_current_timestamp" -> "now",
    "current_localtimestamp" -> "localtimestamp",
    "array_has_all" -> "list_has_all",   // NULL-exact fixes downstream
    "array_has_any" -> "list_has_any",
    "array_push_back" -> "array_append", // (list, elem) both
    "list_intersect" -> "array_intersect", // both dedup; DuckDB's result
                                           // order is hash-arbitrary
    "round_even" -> "bround",            // half-even rounding (probed)
    "roundbankers" -> "bround",
    "pg_size_pretty" -> "format_bytes",  // same KiB rendering (probed)
    "json_extract_path" -> "json_extract",           // 2-arg path twin
    "json_extract_path_text" -> "json_extract_string",
    "list_zip" -> "arrays_zip")        // both pad to the LONGEST list with
                                       // NULLs (probed: list_zip([1,2,3],[4]))

  private val DuckFnRe = (
    """(?i)(?<![\w.$])(""" +
      DuckFnAliases.map(_._1).sortBy(-_.length).mkString("|") +
      """)\s*\(""").r
  private val DuckFnLookup = DuckFnAliases.toMap

  private def rewriteDuckAliases(sql: String): String =
    SqlLex.replace(sql, DuckFnRe)(m => DuckFnLookup(m.group(1).toLowerCase) + "(")

  import SqlGateway.{DuckCall, DuckRaw, DuckStep}

  /** The DuckDB-default steps, in order: where Spark's same-named function
    * defaults differently, where DuckDB has a function Spark spells
    * otherwise, and the clause spellings around them. A step sees the text
    * every earlier step left, so a rule can emit a name a later rule
    * implements (weekday → dayofweek), and ordering comments below say
    * which rule must run first. No step sees its own output again. */
  private[graft] lazy val duckDefaultSteps: Vector[DuckStep] = {
    val steps = Vector.newBuilder[DuckStep]
    def call(name: String, arity: Int, rebuild: Seq[String] => Option[String],
        allowAt: (String, Int) => Boolean = (_, _) => true): Unit =
      steps += DuckCall(name, arity, rebuild, allowAt)
    def raw(when: String*)(pass: SqlLex => String): Unit =
      steps += DuckRaw(when, pass)

    call("log", 1, a => Some(s"log10(${a.head})"))
    // DuckDB raises Out of Range on log-of-nonpositive, sqrt-of-negative
    // and asin/acos outside [-1,1] (probed); Spark returns NULL/NaN —
    // silent divergences without these guards. Each guard wraps the call
    // AFTER the renames above so the emitted inner call is final; NULL
    // operands fall through the CASE to the (NULL-returning) native.
    def domainGuard(fn: String, negMsg: String, zeroToo: Boolean): Unit =
      call(fn, 1, a => {
        val x = a.head.trim
        val zero = if (zeroToo)
          s"WHEN ($x) = 0 THEN CAST(raise_error(" +
            s"'Out of Range Error: cannot take logarithm of zero') " +
            s"AS DOUBLE) " else ""
        Some(s"(CASE WHEN ($x) < 0 THEN CAST(raise_error('$negMsg') " +
          s"AS DOUBLE) ${zero}ELSE $fn($x) END)")
      })
    val logNeg = "Out of Range Error: cannot take logarithm of a negative number"
    domainGuard("ln", logNeg, zeroToo = true)
    domainGuard("log10", logNeg, zeroToo = true)
    domainGuard("log2", logNeg, zeroToo = true)
    domainGuard("sqrt",
      "Out of Range Error: cannot take square root of a negative number",
      zeroToo = false)
    for (fn <- Seq("asin", "acos"))
      call(fn, 1, a => {
        val x = a.head.trim
        Some(s"(CASE WHEN abs($x) > 1 THEN CAST(raise_error(" +
          s"'Invalid Input Error: ${fn.toUpperCase} is undefined outside " +
          s"[-1,1]') AS DOUBLE) ELSE $fn($x) END)")
      })
    // 2-arg log(b, x): either operand non-positive raises (probed)
    call("log", 2, a =>
      Some(s"(CASE WHEN (${a(0)}) <= 0 OR (${a(1)}) <= 0 THEN " +
        s"CAST(raise_error('$logNeg') AS DOUBLE) " +
        s"ELSE log(${a(0)}, ${a(1)}) END)"))
    // dayname/monthname return the FULL name in DuckDB ('Monday',
    // 'November'); Spark 4's same-named builtins abbreviate ('Mon',
    // 'Nov') — date_format's EEEE/MMMM patterns are the exact twins
    call("dayname", 1, a => Some(s"date_format(${a.head}, 'EEEE')"))
    call("monthname", 1, a => Some(s"date_format(${a.head}, 'MMMM')"))
    call("regexp_extract", 2,
      a => Some(s"regexp_extract(${a(0)}, ${a(1)}, 0)"))
    // DuckDB regexp_replace differs from Spark's builtin in default scope
    // (FIRST match unless the 'g' option), replacement syntax (RE2 `\1`
    // backrefs vs Java `$1`), and a 4th OPTIONS arg (Spark's 4th arg is a
    // position). Every call routes to the native duck_regexp_replace
    // expression, which carries the exact DuckDB semantics for all three
    // (graft.functions.DuckRegexpReplace) — unknown option letters still
    // refuse loudly inside the expression, like DuckDB.
    call("regexp_replace", 4, a =>
      Some(s"duck_regexp_replace(${a(0)}, ${a(1)}, ${a(2)}, ${a(3)})"))
    call("regexp_replace", 3, a =>
      Some(s"duck_regexp_replace(${a(0)}, ${a(1)}, ${a(2)}, '')"))
    // struct_pack(a := 1, b := x) → named_struct('a', 1, 'b', x); an arg
    // not of `ident := expr` shape leaves the whole call to refuse
    val Kv = """(?s)([A-Za-z_]\w*)\s*:=\s*(.+)""".r
    call("struct_pack", -1, args => {
      val kvs = args.map {
        case Kv(k, v) => Some(s"'$k', $v")
        case _ => None
      }
      if (kvs.nonEmpty && kvs.forall(_.isDefined))
        Some(kvs.flatten.mkString("named_struct(", ", ", ")"))
      else None
    })
    // date_diff('unit', a, b) (and DuckDB's datediff alias) counts UNIT
    // BOUNDARY CROSSINGS (duckdb 1.0 verified: month 01-31→02-01 = 1,
    // hour 01:59→03:01 = 2), not elapsed full units — so Spark's
    // timestampdiff is NOT equivalent. Exact spellings: day → datediff
    // (date-boundary count), year/month → calendar-field arithmetic,
    // hour/minute/second → truncate-then-divide on epoch micros (exact
    // integers: truncated stamps are whole multiples of the unit).
    for (fn <- Seq("date_diff", "datediff"))
      call(fn, 3, a => {
        def trunc(unit: String, micros: Long) = Some(
          s"((unix_micros(date_trunc('$unit', ${a(2)})) - " +
          s"unix_micros(date_trunc('$unit', ${a(1)}))) div ${micros}L)")
        a(0).toLowerCase.replaceAll("'", "").stripSuffix("s") match {
          case "day" => Some(s"datediff(${a(2)}, ${a(1)})")
          case "year" => Some(s"(year(${a(2)}) - year(${a(1)}))")
          case "month" => Some(s"((year(${a(2)}) - year(${a(1)})) * 12 + " +
            s"(month(${a(2)}) - month(${a(1)})))")
          // week boundaries are Mondays in both engines (probed:
          // 2024-01-01 → 2024-01-31 = 4)
          case "week" => Some(s"(datediff(date_trunc('week', ${a(2)}), " +
            s"date_trunc('week', ${a(1)})) div 7)")
          case "quarter" => Some(s"((year(${a(2)}) - year(${a(1)})) * 4 + " +
            s"(quarter(${a(2)}) - quarter(${a(1)})))")
          case "hour" => trunc("hour", 3600000000L)
          case "minute" => trunc("minute", 60000000L)
          case "second" => trunc("second", 1000000L)
          case _ => None
        }
      })
    // date_sub('unit', a, b) (and datesub) counts ELAPSED FULL UNITS —
    // NOT boundary crossings (probed: month Jan15→Mar10 = 1 where
    // date_diff says 2; day over a 7.5-day span = 7; negatives truncate
    // toward zero: -7.5 days → -7). Time units divide the exact micros
    // span with `div`; month-family counts calendar months then backs
    // off one when a + m months overshoots b (timestamp-aware, so times
    // matter exactly as probed: Jan15 10:00 → Mar15 09:59 is 1 month).
    for (fn <- Seq("date_sub", "datesub"))
      call(fn, 3, a => {
        val (x, y) =
          (s"CAST(${a(1)} AS TIMESTAMP)", s"CAST(${a(2)} AS TIMESTAMP)")
        def span(unitMicros: Long) = Some(
          s"((unix_micros($y) - unix_micros($x)) div ${unitMicros}L)")
        def fullMonths: String = {
          val m0 = s"((year(${a(2)}) - year(${a(1)})) * 12 + " +
            s"(month(${a(2)}) - month(${a(1)})))"
          s"(CASE WHEN $m0 >= 0 AND $x + make_interval(0, $m0) > $y " +
            s"THEN $m0 - 1 " +
            s"WHEN $m0 < 0 AND $x + make_interval(0, $m0) < $y " +
            s"THEN $m0 + 1 ELSE $m0 END)"
        }
        a(0).toLowerCase.replaceAll("'", "").stripSuffix("s") match {
          case "week" => span(7L * 86400000000L)
          case "day" => span(86400000000L)
          case "hour" => span(3600000000L)
          case "minute" => span(60000000L)
          case "second" => span(1000000L)
          case "millisecond" => span(1000L)
          case "microsecond" => span(1L)
          case "month" => Some(fullMonths)
          case "quarter" => Some(s"($fullMonths div 3)")
          case "year" => Some(s"($fullMonths div 12)")
          case _ => None
        }
      })
    // date_part/datepart with a part-name LIST → a struct of the parts
    // (probed: field order follows the list)
    for (fn <- Seq("date_part", "datepart"))
      call(fn, 2, a => {
        val lst = a(0).trim
        val inner =
          if (lst.toLowerCase.startsWith("array(") && lst.endsWith(")"))
            Some(lst.substring(6, lst.length - 1))
          else if (lst.startsWith("[") && lst.endsWith("]"))
            Some(lst.substring(1, lst.length - 1))
          else None
        inner.flatMap { names0 =>
          val names = splitTopLevel(names0).map(_.trim)
          if (names.isEmpty || names.exists(n =>
              !(n.startsWith("'") && n.endsWith("'")))) None
          else Some("named_struct(" + names.map { n =>
            // map each part through duckPartFn like the scalar form; an
            // unknown part keeps date_part → loud INVALID_EXTRACT_FIELD
            val bare = n.substring(1, n.length - 1).toLowerCase
            val call = duckPartFn.get(bare)
              .map(f => s"$f(${a(1)})")
              .getOrElse(s"date_part($n, ${a(1)})")
            s"$n, $call"
          }.mkString(", ") + ")")
        }
      })
    // datepart/date_part/EXTRACT with a literal part name → the engine's
    // own standalone extract functions, each already DuckDB-exact.
    // Spark's same-named date_part DISAGREES on dow (Sunday=1 vs DuckDB's
    // 0 — a silent wrong before this mapping) and REJECTS half of
    // DuckDB's part table (isodow/epoch/decade/era/...). Emissions spell
    // the duck function names; their own fixes later in this chain apply
    // the exact semantics. Unknown part names stay for Spark → loud
    // INVALID_EXTRACT_FIELD, as DuckDB errors on unknown parts too.
    val PartLit = """^'(\w+)'$""".r
    for (fn <- Seq("date_part", "datepart"))
      call(fn, 2, a => a(0).trim.toLowerCase match {
        case PartLit(p) => duckPartFn.get(p).map(f => s"$f(${a(1)})")
        case _ => None // non-literal / list form (handled above)
      })
    // EXTRACT(part FROM x) — same mapping, own scan (no comma args).
    // naive timestamps carry no zone: the timezone* parts are 0 (probed),
    // NULL-propagating through the operand
    val ExtrRe = """(?i)\bextract\s*\(\s*(\w+)\s+from\s+""".r
    raw("extract") { lx =>
      var cur = lx
      // right to left: a splice changes only text after the match start
      for (m <- lx.find(ExtrRe).toList.reverse) {
        val out = cur.sql
        val i = cur.close(m.start + m.matched.indexOf('(')) + 1
        if (i > 0) {
          val operand = out.substring(m.end, i - 1).trim
          val p = m.group(1).toLowerCase
          val repl = duckPartFn.get(p).map(f => s"$f($operand)")
            .orElse(if (Set("timezone", "timezone_hour", "timezone_minute")
                .contains(p))
              Some(s"CAST(CASE WHEN ($operand) IS NULL THEN NULL " +
                s"ELSE 0 END AS BIGINT)")
            else None)
          repl.foreach(r =>
            cur = SqlLex(out.substring(0, m.start) + r + out.substring(i)))
        }
      }
      cur.sql
    }
    // epoch(ts) → seconds since epoch as DOUBLE with fraction (duckdb 1.0
    // verified: 00:01:30.5 → 90.5); unix_micros keeps the fraction that
    // unix_timestamp truncates, and BIGINT/INT division is double in Spark
    call("epoch", 1, a =>
      // INTERVAL operand: total seconds (probed: epoch(INTERVAL 2
      // MINUTE) = 120.0) — normalize to second granularity, then the
      // integral cast reads seconds. Non-literal intervals refuse.
      if ("""(?i)^INTERVAL\b""".r.findFirstIn(a.head.trim).isDefined)
        Some(s"CAST(CAST(${a.head} AS INTERVAL SECOND) AS BIGINT)")
      else Some(s"(unix_micros(${a.head}) / 1000000)"))
    // epoch_ms is overloaded by arg type: ts → BIGINT ms, integral ms →
    // TIMESTAMP (DuckEpochMs dispatches)
    call("epoch_ms", 1, a => Some(s"duck_epoch_ms(${a.head})"))
    // epoch_us/epoch_ns: BIGINT micro/nanoseconds since epoch (probed:
    // 00:00:01.5 → 1500000 / 1500000000)
    call("epoch_us", 1, a => Some(s"unix_micros(${a.head})"))
    call("epoch_ns", 1, a =>
      Some(s"(unix_micros(${a.head}) * 1000)"))
    // [TRY_]CAST(x AS JSON) → the DuckJsonCast expression (the ::JSON
    // spelling rewrites in rewriteJsonColonCasts before the parse)
    for ((fn, suffix) <- Seq("cast" -> "", "try_cast" -> "_try")) {
      val AsJson = """(?is)^(.*\S)\s+AS\s+JSON\s*$""".r
      call(fn, 1, a => a.head.trim match {
        case AsJson(inner) => Some(s"graft_json_cast$suffix($inner)")
        case _ => None
      })
    }
    // DuckDB's array_prepend is (element, list) — Spark's is (list,
    // element). Runs BEFORE the array_push_front fix, whose output is
    // already in Spark argument order.
    call("array_prepend", 2, a =>
      Some(s"array_prepend(${a(1)}, ${a(0)})"))
    // BIT functions over the gateway's bitstring emulation (BIT values
    // are '0'/'1' strings here — GatewaySpec type corners): positions are
    // 0-based from the left like DuckDB's get_bit/set_bit (probed:
    // get_bit('0110'::BIT, 1) = 1, set_bit('0110'::BIT, 0, 1) = '1110').
    call("bitstring", 2, a =>
      Some(s"lpad(${a(0)}, ${a(1)}, '0')"))
    call("get_bit", 2, a =>
      Some(s"CAST(substr(${a(0)}, (${a(1)}) + 1, 1) AS INT)"))
    call("set_bit", 3, a =>
      Some(s"concat(substr(${a(0)}, 1, ${a(1)}), " +
        s"CAST(${a(2)} AS STRING), substr(${a(0)}, (${a(1)}) + 2))"))
    // bit_count over a BIT operand (spelled with a ::BIT cast) counts set
    // bits in the string form; integral operands keep Spark's native
    // bit_count untouched
    call("bit_count", 1, a =>
      if ("""(?is).*::\s*bit\s*$""".r.matches(a.head.trim))
        Some(s"length(replace(${a.head}, '0', ''))")
      else None)
    // 1-arg encode/decode: VARCHAR↔BLOB via utf-8 (Spark's own 2-arg
    // charset forms pass through untouched)
    call("encode", 1, a => Some(s"CAST(${a.head} AS BINARY)"))
    call("decode", 1, a => Some(s"CAST(${a.head} AS STRING)"))
    // array_length(l, dim): only dimension 1 exists for LISTs (DuckDB
    // errors on others — the untouched spelling refuses here too). The
    // alias pass has already renamed array_length → array_size.
    call("array_size", 2, a =>
      if (a(1).trim == "1") Some(s"size(${a(0)})") else None)
    // list_contains/array_has/array_contains: DuckDB is NULL only for a
    // NULL needle or NULL list — a null ELEMENT does not smear the result
    // (probed: contains([1,NULL], 3) = false where Spark's 3VL says NULL)
    call("array_contains", 2, a => {
      val (l, x) = (a(0).trim, a(1).trim)
      if (x.equalsIgnoreCase("NULL") || l.equalsIgnoreCase("NULL"))
        Some("CAST(NULL AS BOOLEAN)")
      else Some(s"(CASE WHEN ($x) IS NULL OR ($l) IS NULL " +
        s"THEN CAST(NULL AS BOOLEAN) " +
        s"ELSE coalesce(array_contains($l, $x), false) END)")
    })
    // to_timestamp over an epoch-seconds NUMBER (duck's overload; the
    // string overload is Spark-native and untouched). Duck types the
    // result TIMESTAMP WITH TIME ZONE (probed: its ::VARCHAR carries
    // '+00') — the identity tstz cast marks the instant-typedness.
    call("to_timestamp", 1, a =>
      if (a.head.trim.matches("""-?\d+(\.\d+)?"""))
        Some(s"graft_tstz_cast(timestamp_seconds(${a.head}))") else None)
    call("txid_current", -1, a =>
      if (a.isEmpty || a == Seq("")) Some("CAST(1 AS BIGINT)") else None)
    // ISO-year family (probed: isoyear('2021-01-01') = 2020 — the year
    // of that ISO week's Thursday; yearweek = isoyear*100 + isoweek)
    call("isoyear", 1, a => Some(
      s"year(date_add(CAST(${a(0)} AS DATE), 4 - (weekday(${a(0)}) + 1)))"))
    call("yearweek", 1, a => Some(
      s"(year(date_add(CAST(${a(0)} AS DATE), " +
        s"4 - (weekday(${a(0)}) + 1))) * 100 + weekofyear(${a(0)}))"))
    // microsecond/millisecond extract the SUB-MINUTE part (probed:
    // '…:01.123456' → 1123456 / 1123 — seconds fold in)
    call("microsecond", 1, a => Some(
      s"(unix_micros(CAST(${a(0)} AS TIMESTAMP)) % 60000000)"))
    call("millisecond", 1, a => Some(
      s"((unix_micros(CAST(${a(0)} AS TIMESTAMP)) % 60000000) div 1000)"))
    call("millennium", 1, a => Some(
      s"CAST(CASE WHEN year(${a(0)}) >= 0 THEN " +
        s"ceil(year(${a(0)}) / 1000.0) " +
        s"ELSE 0 - ceil((0 - year(${a(0)})) / 1000.0) END AS BIGINT)"))
    // 1-arg make_timestamp takes epoch MICROS (probed)
    call("make_timestamp", 1, a =>
      Some(s"timestamp_micros(${a(0)})"))
    // make_timestamptz: session TZ is pinned UTC, so the 6-arg form is
    // make_timestamp's instant and the 7th arg means the same zone
    // interpretation — wrapped in the identity tstz cast so the result
    // carries instant-typedness (the '+00' VARCHAR suffix, probed)
    call("make_timestamptz", -1, a =>
      if (a.length == 6 || a.length == 7)
        Some(s"graft_tstz_cast(make_timestamp(${a.mkString(", ")}))")
      else None)
    // timezone(tz, ts) and `ts AT TIME ZONE tz` dispatch on the OPERAND's
    // direction (probed): a naive TIMESTAMP is interpreted in tz and
    // becomes the instant (12:00 NY → 16:00+00 → to_utc_timestamp); a
    // TIMESTAMPTZ operand is the reverse overload — the instant renders
    // as tz-local naive text (12:00+00 NY → 08:00 → from_utc_timestamp).
    // r13 refused the TIMESTAMPTZ spelling as direction-ambiguous; r14
    // resolves it: TIMESTAMPTZ operands are rewrite-time-known UTC
    // instants (the literal/cast pass below pins them), so the spelling
    // IS the direction. Chains alternate: each application flips
    // naive↔instant (probed: TIMESTAMP AT NY AT Tokyo = 12:00 naive →
    // 16:00+00 → Tokyo-local 01:00 next day), so an operand that is
    // already a to_utc_timestamp(...) emission dispatches from_utc and
    // vice versa; nested timezone() calls rewrite innermost-first.
    def tzInstantTyped(x: String): Boolean = {
      // type the OUTERMOST expression: a rewritten from_utc emission is
      // naive even when its arguments still spell TIMESTAMPTZ (chains:
      // `(TSTZ AT NY) AT Tokyo` — the parenthesized inner result is the
      // local naive, so the outer AT converts local→instant)
      var l = x.trim
      def balanced(s: String): Boolean = {
        var d = 0; var ok = true
        s.foreach { c =>
          if (c == '(') d += 1
          else if (c == ')') { d -= 1; if (d < 0) ok = false }
        }
        ok && d == 0
      }
      while (l.startsWith("(") && l.endsWith(")") &&
          balanced(l.substring(1, l.length - 1)))
        l = l.substring(1, l.length - 1).trim
      val low = l.toLowerCase
      if (low.startsWith("from_utc_timestamp(")) false
      else if (low.startsWith("to_utc_timestamp(") ||
        low.startsWith("graft_tstz_cast(")) true
      else low.contains("timestamptz") || low.contains("with time zone")
    }
    call("timezone", 2, a =>
      // an operand that still holds a timezone()/AT TIME ZONE left
      // unrewritten (its own direction unknown) leaves this call too —
      // a word-boundary CALL match, not a substring test (a column named
      // order_timezone must not veto the call; r14 advice)
      if ("""(?i)\btimezone\s*\(""".r.findFirstIn(a(1)).isDefined ||
          """(?i)\bat\s+time\s+zone\b""".r.findFirstIn(a(1)).isDefined)
        None
      else if (tzInstantTyped(a(1)))
        Some(s"from_utc_timestamp(${a(1)}, ${a(0)})")
      else Some(s"to_utc_timestamp(${a(1)}, ${a(0)})"))
    val AtRe = """(?i)\s+AT\s+TIME\s+ZONE\s+('(?:[^']|'')*')""".r
    raw("zone") { lx0 =>
      var out = lx0.sql
      var lx = lx0
      // LEFTMOST-first, re-scanning after each rewrite: a chain's second
      // AT then sees the first's emitted call as its operand and flips
      // the direction (reverse-order index surgery would garble chains —
      // the spans overlap)
      var atRounds = 0
      var rewrote = true
      while (rewrote && atRounds < 16) {
        rewrote = false
        atRounds += 1
        val mk = lx.masked // backward scans: literal contents are blank
        lx.find(AtRe).nextOption().foreach { m =>
          // backward-scan one operand UNIT ending at jEnd: string literal
          // (with optional type keyword), balanced (...) with call name,
          // or an ident chain — returns the unit's start index, -1 if
          // nothing scannable
          def scanUnit(jEnd: Int): Int = {
            var unitAt = -1
            if (jEnd >= 0 && mk.charAt(jEnd) == '\'') {
              var k = jEnd - 1
              while (k >= 0 && mk.charAt(k) != '\'') k -= 1
              if (k >= 0) {
                var w = k - 1
                while (w >= 0 && mk.charAt(w).isWhitespace) w -= 1
                val we = w
                while (w >= 0 && mk.charAt(w).isLetter) w -= 1
                unitAt = if (we > w && Set("timestamp", "date", "timestamptz")
                    .contains(out.substring(w + 1, we + 1).toLowerCase)) w + 1
                  else k
              }
            } else if (jEnd >= 0 && mk.charAt(jEnd) == ')') {
              var depth = 0; var k = jEnd
              while (k >= 0 && unitAt < 0) {
                val ch = mk.charAt(k)
                if (ch == ')') depth += 1
                else if (ch == '(') { depth -= 1; if (depth == 0) unitAt = k }
                k -= 1
              }
              if (unitAt >= 0) {
                var w = unitAt - 1
                while (w >= 0 && (mk.charAt(w).isLetterOrDigit ||
                  mk.charAt(w) == '_' || mk.charAt(w) == '.')) w -= 1
                unitAt = w + 1
              }
            } else if (jEnd >= 0) {
              var w = jEnd
              while (w >= 0 && (mk.charAt(w).isLetterOrDigit ||
                mk.charAt(w) == '_' || mk.charAt(w) == '.')) w -= 1
              if (w < jEnd) unitAt = w + 1
            }
            unitAt
          }
          var j = m.start - 1
          while (j >= 0 && mk.charAt(j).isWhitespace) j -= 1
          var at = scanUnit(j)
          // '::'-cast suffix (r14 advice): when the captured unit is a
          // bare type keyword directly preceded by '::'
          // (`expr::TIMESTAMPTZ AT TIME ZONE 'z'`), the operand extends
          // left past the '::' to the cast's operand — otherwise the
          // emission garbles to `expr::from_utc_timestamp(TIMESTAMPTZ,…)`.
          // The multiword `::TIMESTAMP WITH TIME ZONE` spelling captures
          // its trailing ZONE word and extends the same way.
          var extGuard = 0
          var extended = true
          while (at >= 0 && extended && extGuard < 4) {
            extended = false
            extGuard += 1
            val lead = {
              var e = at
              while (e <= j && (mk.charAt(e).isLetterOrDigit ||
                mk.charAt(e) == '_')) e += 1
              out.substring(at, e).toLowerCase
            }
            val pre = out.substring(0, at)
            val castEnd: Int =
              if (Set("timestamptz", "timestamp", "date").contains(lead) &&
                  lead.length == (j - at + 1) &&
                  """::\s*$""".r.findFirstIn(pre).isDefined)
                """::\s*$""".r.findFirstIn(pre).map(s => at - s.length - 1).get
              else if (lead == "zone" && lead.length == (j - at + 1) &&
                  """(?i)::\s*timestamp\s+with\s+time\s+$""".r
                    .findFirstIn(pre).isDefined)
                """(?i)::\s*timestamp\s+with\s+time\s+$""".r
                  .findFirstIn(pre).map(s => at - s.length - 1).get
              else -2
            if (castEnd >= 0) {
              var k = castEnd
              while (k >= 0 && mk.charAt(k).isWhitespace) k -= 1
              val newAt = scanUnit(k)
              if (newAt >= 0) { at = newAt; extended = true }
            }
          }
          if (at >= 0) {
            val operand = out.substring(at, j + 1)
            val fn = if (tzInstantTyped(operand)) "from_utc_timestamp"
              else "to_utc_timestamp"
            out = out.substring(0, at) +
              s"$fn($operand, ${m.group(1)})" +
              out.substring(m.end)
            rewrote = true
          }
        }
        if (rewrote) lx = SqlLex(out)
      }
      out
    }
    // quantified comparisons, FALLBACK pass: simple-operand lhs shapes
    // are rewritten UPSTREAM by rewriteDuckClauses' min/max matrix
    // (uncorrelated scalar aggregates — one subquery scan, ReuseSubquery-
    // collapsed; same probed 3VL truth table), and a compound lhs refuses
    // loudly there. What reaches this pass: lhs operands the upstream
    // QOperand regex cannot capture — backward-scanned spans with NESTED
    // parens (a parenthesized scalar subquery, a call-with-call lhs).
    // Those rewrite to the 3-valued CASE over two counting subqueries —
    // FALSE dominates ALL (a definite failure), TRUE dominates ANY (a
    // definite pass), a NULL comparison otherwise yields NULL, empty
    // subqueries give ALL→TRUE / ANY→FALSE (standard semantics,
    // duck-probed; any truth-table fix must land in BOTH passes).
    val AllRe = """(?i)(==|<>|!=|<=|>=|=|<|>)\s*(ALL|ANY|SOME)\s*\(""".r
    raw("all", "any", "some") { lx =>
      var cur = lx
      // right to left: a splice changes only text after the operand start
      for (m <- lx.find(AllRe).toList.reverse) {
        val out = cur.sql
        val mk = cur.masked // backward scans: literal contents are blank
        // close of the subquery paren
        val i = SqlLex.close(mk, m.end - 1) + 1
        // backward operand span (literal / balanced-paren call / idents)
        var j = m.start - 1
        while (j >= 0 && mk.charAt(j).isWhitespace) j -= 1
        var at = -1
        if (i > 0 && j >= 0) {
          if (mk.charAt(j) == '\'') {
            var k = j - 1
            while (k >= 0 && mk.charAt(k) != '\'') k -= 1
            if (k >= 0) at = k
          } else if (mk.charAt(j) == ')') {
            var d = 0; var k = j
            while (k >= 0 && at < 0) {
              val ch = mk.charAt(k)
              if (ch == ')') d += 1
              else if (ch == '(') { d -= 1; if (d == 0) at = k }
              k -= 1
            }
            if (at >= 0) {
              var w = at - 1
              while (w >= 0 && (mk.charAt(w).isLetterOrDigit ||
                mk.charAt(w) == '_' || mk.charAt(w) == '.')) w -= 1
              at = w + 1
            }
          } else {
            var w = j
            while (w >= 0 && (mk.charAt(w).isLetterOrDigit ||
              mk.charAt(w) == '_' || mk.charAt(w) == '.' ||
              mk.charAt(w) == '$')) w -= 1
            if (w < j) at = w + 1
          }
        }
        val quant = m.group(2).toUpperCase
        val op = if (m.group(1) == "==") "=" else m.group(1)
        if (at >= 0 && !(op == "=" && quant == "ANY")) { // = ANY is native
          val operand = out.substring(at, j + 1)
          val sub = out.substring(m.end, i - 1)
          val repl =
            if (op == "=" && quant == "SOME") s"(($operand) = ANY ($sub))"
            else {
              def cnt(w: String) = s"(SELECT count(*) FROM ($sub) " +
                s"graft_q_g(graft_q_c) WHERE $w) > 0"
              val pass = s"(($operand) $op graft_q_c)"
              if (quant == "ALL")
                s"(CASE WHEN ${cnt(s"NOT $pass")} THEN FALSE " +
                  s"WHEN ${cnt(s"$pass IS NULL")} THEN " +
                  s"CAST(NULL AS BOOLEAN) ELSE TRUE END)"
              else // ANY / SOME
                s"(CASE WHEN ${cnt(pass)} THEN TRUE " +
                  s"WHEN ${cnt(s"$pass IS NULL")} THEN " +
                  s"CAST(NULL AS BOOLEAN) ELSE FALSE END)"
            }
          cur = SqlLex(out.substring(0, at) + repl + out.substring(i))
        }
      }
      cur.sql
    }
    // TIMESTAMPTZ literals/casts → a UTC-converted TIMESTAMP literal.
    // MUST run here, AFTER the timezone()/AT-TIME-ZONE smellsTz guards
    // above: those refuse on the SPELLING, and rewriting the literal
    // first would erase it and let the direction-ambiguous overload run
    // silently backwards (review finding; probed: duck's
    // timezone('America/New_York', TIMESTAMPTZ '...+00') converts
    // instant→local, the naive overload converts local→instant).
    raw("timestamptz", "with time zone") { lx =>
      // TIMESTAMPTZ → VARCHAR renders with duck's '+00' suffix (probed:
      // '2020-06-01 10:00:00+00') — handled BEFORE the generic literal
      // rewrite erases the tstz spelling, so the text cast cannot
      // silently drop the suffix. (Raw tstz SELECTs keep the documented
      // naive-rendering residual; casts to text are value-exact.)
      def utcPlus(text: String) = s"'${tstzLiteralToUtc(text)}+00'"
      // every rewrite in this block matches on the masked view: a string
      // literal whose CONTENT is tstz-cast-shaped text
      // (`SELECT 'note: x::timestamptz'`) passes through untouched
      val LitStr =
        """(?i)\bTIMESTAMPTZ\s+'([^']*)'\s*::\s*STRING\b""".r
      var out = lx.replace(LitStr)(m => utcPlus(m.group(1)))
      val CastStr =
        """(?i)'([^']*)'\s*::\s*TIMESTAMPTZ\s*::\s*STRING\b""".r
      out = SqlLex.replace(out, CastStr)(m => utcPlus(m.group(1)))
      // TRY_CAST included: a VALID literal renders identically, and an
      // invalid one already fails at the LITERAL (duck errors on the
      // literal itself before any TRY_CAST can absorb it — probed)
      val CastAs = ("""(?i)\b(?:TRY_)?CAST\s*\(\s*TIMESTAMPTZ\s+'([^']*)'""" +
        """\s+AS\s+STRING\s*\)""").r
      out = SqlLex.replace(out, CastAs)(m => utcPlus(m.group(1)))
      val CastAs2 = ("""(?i)\b(?:TRY_)?CAST\s*\(\s*'([^']*)'\s*::\s*TIMESTAMPTZ""" +
        """\s+AS\s+STRING\s*\)""").r
      out = SqlLex.replace(out, CastAs2)(m => utcPlus(m.group(1)))
      // literals still PARSE (and error) at rewrite time, but the
      // emission wraps the folded UTC literal in the identity tstz cast:
      // the analyzed plan then carries instant-typedness, so the result
      // boundary reports duck's TIMESTAMP WITH TIME ZONE type name and
      // '+00' text for a raw-selected literal (r15; the wrap constant-
      // folds away before execution — DuckTstzCast.foldable)
      val Lit = """(?i)\bTIMESTAMPTZ\s+'([^']*)'""".r
      out = SqlLex.replace(out, Lit)(m =>
        s"graft_tstz_cast(TIMESTAMP '${tstzLiteralToUtc(m.group(1))}')")
      val Cast = """(?i)'([^']*)'\s*::\s*TIMESTAMPTZ\b""".r
      out = SqlLex.replace(out, Cast)(m =>
        s"graft_tstz_cast(TIMESTAMP '${tstzLiteralToUtc(m.group(1))}')")
      // non-literal casts (r14, verdict item 1 tail): per-row DuckDB-
      // exact parse through the codegen'd [[graft.functions.DuckTstzCast]]
      // — a VARCHAR column of offset/zone-bearing text becomes the UTC
      // instant row by row, with duck's Conversion Error on bad text
      // (NULL under TRY_CAST). Runs AFTER the literal fast path above,
      // so constants still fold to plain TIMESTAMP literals.
      val TzTy = """(?:TIMESTAMPTZ|TIMESTAMP\s+WITH\s+TIME\s+ZONE)"""
      val Op = """((?:[\w.]+)?\([^()]*\)|[\w.]+)"""
      val Colon = (s"(?i)$Op\\s*::\\s*$TzTy\\b").r
      out = SqlLex.replace(out, Colon)(m =>
        s"graft_tstz_cast(${m.group(1)})")
      val CastForm =
        (s"(?i)\\b(TRY_)?CAST\\s*\\(([^()]+?)\\s+AS\\s+$TzTy\\s*\\)").r
      SqlLex.replace(out, CastForm)(m =>
        s"graft_tstz_cast(${m.group(2)}" +
          (if (m.group(1) != null) ", true" else "") + ")")
    }
    // (instant-typed CALL results cast to VARCHAR — per-row tstz casts,
    // naive→instant timezone conversions, declared-TIMESTAMPTZ columns —
    // get duck's '+00' suffix on the ANALYZED plan in
    // [[DuckSemantics.PlanRule]], where the declared column type is known;
    // a text-level append here would run the wrong way for a
    // declared-tstz column whose to_utc emission the plan pass flips.)
    // xor is the function spelling of ^; cot(x) is 1/tan(x) bit-exactly
    // (probed: cos/sin differs in the last ulp)
    call("xor", 2, a => Some(s"((${a(0)}) ^ (${a(1)}))"))
    call("cot", 1, a => Some(s"(1 / tan(${a.head}))"))
    // fdiv/fmod are FLOORED division/modulo returning DOUBLE (probed:
    // fmod(-5.5, 2) = 0.5, sign of the divisor — not C fmod)
    call("fdiv", 2, a => Some(
      s"CAST(floor((${a(0)}) / (${a(1)})) AS DOUBLE)"))
    call("fmod", 2, a => Some(
      s"CAST((${a(0)}) - floor((${a(0)}) / (${a(1)})) * (${a(1)}) AS DOUBLE)"))
    // (cbrt is left as Spark's correctly-rounded Math.cbrt: DuckDB calls
    // the SYSTEM libm cbrt, which is off by an ulp for some inputs
    // (probed: 27 → 3.0000000000000004 but 1000 → 10.0) — platform noise
    // under the repo's round-6 libm contract, not a semantic to copy.)
    // isinf/isfinite have no Spark twin; NULL-in NULL-out via the CASE
    call("isinf", 1, a => Some(
      s"(CASE WHEN ${a.head} IS NULL THEN NULL " +
        s"ELSE abs(${a.head}) = CAST('Infinity' AS DOUBLE) END)"))
    call("isfinite", 1, a => Some(
      s"(CASE WHEN ${a.head} IS NULL THEN NULL " +
        s"ELSE NOT isnan(${a.head}) AND " +
        s"abs(${a.head}) <> CAST('Infinity' AS DOUBLE) END)"))
    // 2-arg regexp_extract_all: DuckDB's default group is 0 (the whole
    // match); Spark's is 1 — spell group 0 out
    call("regexp_extract_all", 2,
      a => Some(s"regexp_extract_all(${a(0)}, ${a(1)}, 0)"))
    // even(x): round away from zero to the next even number, DOUBLE
    // (probed: even(0.1)=2, even(-0.1)=-2, even(2.0)=2, even(3)=4, even(0)=0)
    call("even", 1, a => Some(
      s"CAST((CASE WHEN ${a.head} < 0 THEN -1 ELSE 1 END) * " +
        s"ceil(abs(${a.head}) / 2) * 2 AS DOUBLE)"))
    // regexp_full_match = anchored regexp_like; the pattern is wrapped in
    // a non-capturing group so alternation anchors correctly
    call("regexp_full_match", 2, a => Some(
      s"regexp_like(${a(0)}, concat('^(?:', ${a(1)}, ')$$'))"))
    // regexp_escape on a literal: escape RE2's metacharacters here
    call("regexp_escape", 1, a =>
      // double the backslash: this emission is parsed by SPARK's
      // string literal rules (SqlLex.escapeBackslashes already ran)
      SqlLex.plainLiteral(a.head).map(lit => "'" + lit.flatMap {
        case c if "\\^$.|?*+()[]{}".contains(c) => s"\\\\$c"
        case c => c.toString
      } + "'"))
    // weekday is DuckDB's dayofweek twin (0 = Sunday — probed; Spark's
    // same-named builtin is 0 = Monday, a silent off-by-one): emitted as
    // dayofweek text so the fix below lands the shared -1 shift. Runs
    // BEFORE isodow, whose emitted Spark weekday must stay untouched.
    call("weekday", 1, a => Some(s"dayofweek(${a.head})"))
    // DuckDB dayofweek: 0 = Sunday .. 6 = Saturday; Spark's same-named
    // function is 1 = Sunday — same name, off-by-one (probed)
    call("dayofweek", 1, a => Some(s"(dayofweek(${a.head}) - 1)"))
    // era: 1 = AD, 0 = BC (probed)
    call("era", 1, a => Some(
      s"(CASE WHEN year(${a.head}) > 0 THEN 1 ELSE 0 END)"))
    // make_date's struct form takes {'year':…,'month':…,'day':…} (probed)
    call("make_date", 1, a => Some(
      s"make_date((${a.head}).year, (${a.head}).month, (${a.head}).day)"))
    // timezone(ts): the session offset — pinned UTC, 0 for every input
    // (probed); timezone('UTC', ts) is the identity in a UTC session for
    // BOTH the naive and the tz-carrying argument (probed both) — other
    // zones cannot be told apart textually (naive args convert one way,
    // TIMESTAMPTZ the other) and refuse rather than guess
    call("timezone", -1, a => a.length match {
      case 1 => Some(s"(CASE WHEN CAST(${a(0)} AS TIMESTAMP) IS NULL " +
        s"THEN CAST(NULL AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)")
      case 2 if a(0).trim.equalsIgnoreCase("'UTC'") ||
          a(0).trim.equalsIgnoreCase("'Etc/UTC'") =>
        Some(s"CAST(${a(1)} AS TIMESTAMP)")
      case _ => None
    })
    // isodow: 1 = Monday .. 7 = Sunday; Spark weekday is 0 = Monday
    call("isodow", 1, a => Some(s"(weekday(${a.head}) + 1)"))
    // format('…{spec}…', args...) — fmt-style template → format_string
    // with printf specs, for the spec subset whose Java rendering is
    // verified identical to DuckDB's fmt (see fmtTemplateToJava). Anything
    // outside the subset refuses rather than guessing.
    call("format", -1, args =>
      if (args.length < 2) None
      else SqlLex.plainLiteral(args.head).flatMap(fmtTemplateToJava(_, args.tail)))
    // printf: Spark's formatter rejects DECIMAL arguments for %f — a
    // fractional numeric LITERAL argument goes through DOUBLE, which is
    // how DuckDB's printf renders it anyway (probed: %5.2f of 3.14159)
    call("printf", -1, a =>
      if (a.length < 2) None
      else {
        val DecLit = """^-?\d+\.\d+$""".r
        val mapped = a.head +: a.tail.map(x =>
          if (DecLit.findFirstIn(x.trim).isDefined)
            s"CAST($x AS DOUBLE)" else x)
        if (mapped == a) None
        else Some(s"printf(${mapped.mkString(", ")})")
      })
    // ---- list-function spellings whose exact twin needs an argument
    //      reshape (all corner semantics verified against DuckDB 1.0) ----
    val IntLit = """^-?\d+$""".r
    // string_split family: DuckDB's separator is PLAIN TEXT, Spark's is a
    // regex — a literal separator is regex-escaped char by char; a
    // non-literal separator has no safe spelling and refuses
    for (fn <- Seq("string_split", "str_split", "string_to_array"))
      call(fn, 2, a =>
        SqlLex.plainLiteral(a(1)).map { sep =>
          val esc = sep.flatMap {
            case c if "\\^$.|?*+()[]{}".contains(c) => s"\\\\$c"
            case c => c.toString
          }
          s"split(${a(0)}, '$esc')"
        })
    // list_<agg> shorthands spell as list_aggregate(l, '<agg>') — this
    // runs BEFORE the list_aggregate fix below, which then expands them
    locally {
      val shorthands = Seq("list_sum" -> "sum", "list_avg" -> "avg",
        "list_median" -> "median", "list_mode" -> "mode",
        "list_product" -> "product", "list_first" -> "first",
        "list_last" -> "last", "list_histogram" -> "histogram",
        "list_count" -> "count",
        "list_bool_and" -> "bool_and", "list_bool_or" -> "bool_or",
        "list_bit_and" -> "bit_and", "list_bit_or" -> "bit_or",
        "list_bit_xor" -> "bit_xor", "list_string_agg" -> "string_agg",
        "list_stddev_samp" -> "stddev_samp",
        "list_stddev_pop" -> "stddev_pop",
        "list_var_samp" -> "var_samp", "list_var_pop" -> "var_pop",
        "list_sem" -> "sem", "list_mad" -> "mad",
        "list_skewness" -> "skewness", "list_kurtosis_pop" -> "kurtosis_pop",
        "list_kurtosis" -> "kurtosis", "list_entropy" -> "entropy",
        "list_approx_count_distinct" -> "approx_count_distinct")
      for ((fn, agg) <- shorthands)
        call(fn, 1, a =>
          Some(s"list_aggregate(${a(0)}, '$agg')"))
    }
    // list_aggregate(l, 'name') — the common aggregate names with exact
    // spellings (sum over a BIGINT accumulator: integer lists are exact,
    // a non-integer list fails lambda type-check loudly); unknown names
    // refuse
    for (fn <- Seq("list_aggregate", "list_aggr"))
      call(fn, 2, a => {
        // DuckDB ignores NULL elements in sum/avg/product/median and
        // returns NULL for an empty/all-NULL list (probed, v1.0) —
        // fold over the non-null sublist, guarded by its emptiness
        def nn = s"filter(${a(0)}, x -> x IS NOT NULL)"
        def guarded(body: String) =
          Some(s"(CASE WHEN size($nn) = 0 THEN NULL ELSE $body END)")
        a(1).trim.toLowerCase match {
        case "'sum'" =>
          guarded(s"aggregate($nn, CAST(0 AS BIGINT), (acc, x) -> acc + x)")
        case "'min'" => Some(s"array_min(${a(0)})")
        case "'max'" => Some(s"array_max(${a(0)})")
        case "'avg'" | "'mean'" => guarded(
          s"(aggregate($nn, CAST(0 AS BIGINT), (acc, x) -> acc + x)" +
            s" / size($nn))")
        case "'count'" => Some(s"size(filter(${a(0)}, x -> x IS NOT NULL))")
        case "'first'" => Some(s"try_element_at(${a(0)}, 1)")
        case "'last'" => Some(s"try_element_at(${a(0)}, -1)")
        case "'product'" => guarded( // duckdb: DOUBLE product
          s"aggregate($nn, CAST(1 AS DOUBLE), (acc, x) -> acc * x)")
        case "'mode'" => Some( // max count, ties broken by FIRST occurrence
          s"try_element_at(array_sort(transform(array_distinct(" +
            s"filter(${a(0)}, x -> x IS NOT NULL)), " +
            s"v -> struct(-size(filter(${a(0)}, x -> x = v)) AS c, " +
            s"array_position(${a(0)}, v) AS p, v AS v))), 1).v")
        case "'histogram'" => Some( // sorted-key value→count map, nulls dropped
          s"map_from_entries(transform(array_distinct(sort_array(" +
            s"filter(${a(0)}, x -> x IS NOT NULL))), " +
            s"v -> struct(v, size(filter(${a(0)}, x -> x = v)))))")
        case "'median'" => guarded( // sorted middle pair of the non-null
          // sublist, interpolated (duckdb: DOUBLE; NULLs ignored — probed)
          s"((try_element_at(sort_array($nn), CAST((size($nn) + 1) div 2 AS INT)) + " +
            s"try_element_at(sort_array($nn), CAST((size($nn) + 2) div 2 AS INT))) / 2)")
        // list twins of the aggregate surface (every value probed):
        // folds run over the non-null sublist, empty/all-NULL → NULL
        case "'bool_and'" => guarded(
          s"aggregate($nn, true, (acc, x) -> acc AND x)")
        case "'bool_or'" => guarded(
          s"aggregate($nn, false, (acc, x) -> acc OR x)")
        case "'bit_and'" => guarded(
          s"aggregate($nn, CAST(-1 AS BIGINT), (acc, x) -> acc & x)")
        case "'bit_or'" => guarded(
          s"aggregate($nn, CAST(0 AS BIGINT), (acc, x) -> acc | x)")
        case "'bit_xor'" => guarded(
          s"aggregate($nn, CAST(0 AS BIGINT), (acc, x) -> acc ^ x)")
        case "'string_agg'" => guarded( // ',' separator, NULLs skipped
          s"array_join(transform($nn, x -> CAST(x AS STRING)), ',')")
        case "'approx_count_distinct'" => // exact count stands in for
          // the HLL estimate (identical on the probed small lists)
          Some(s"size(array_distinct($nn))")
        case "'var_samp'" | "'var_pop'" | "'stddev_samp'" |
             "'stddev_pop'" | "'sem'" => {
          // raw-sum spellings over DOUBLE (exact on the probed inputs)
          def nF = s"CAST(size($nn) AS DOUBLE)"
          def s1 = s"aggregate($nn, CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
          def s2 = s"aggregate($nn, CAST(0 AS DOUBLE), " +
            s"(acc, x) -> acc + CAST(x AS DOUBLE) * x)"
          def ss = s"($s2 - $s1 * $s1 / $nF)"
          val e = a(1).trim.toLowerCase match {
            case "'var_samp'" => s"($ss / ($nF - 1))"
            case "'var_pop'" => s"($ss / $nF)"
            case "'stddev_samp'" => s"sqrt($ss / ($nF - 1))"
            case "'stddev_pop'" => s"sqrt($ss / $nF)"
            case _ => // sem = stddev_POP / sqrt(n) in DuckDB (probed)
              s"(sqrt($ss / $nF) / sqrt($nF))"
          }
          guarded(e)
        }
        case "'skewness'" | "'kurtosis'" | "'kurtosis_pop'" => {
          // DuckDB's raw-power-sum formulas, the same shapes the
          // aggregate fixes spell (bit-exact on the probed lists)
          def nF = s"CAST(size($nn) AS DOUBLE)"
          def t = s"(1.0 / $nF)"
          def s1 = s"aggregate($nn, CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
          def s2 = s"aggregate($nn, CAST(0 AS DOUBLE), " +
            s"(acc, x) -> acc + CAST(x AS DOUBLE) * x)"
          def s3 = s"aggregate($nn, CAST(0 AS DOUBLE), " +
            s"(acc, x) -> acc + CAST(x AS DOUBLE) * x * x)"
          def s4 = s"aggregate($nn, CAST(0 AS DOUBLE), " +
            s"(acc, x) -> acc + CAST(x AS DOUBLE) * x * x * x)"
          def m2 = s"($t * ($s2 - $s1 * $s1 * $t))"
          a(1).trim.toLowerCase match {
            case "'skewness'" => Some(
              s"(CASE WHEN size($nn) > 2 AND ($s2 - $s1 * $s1 * $t) <> 0 " +
                s"THEN sqrt($nF * ($nF - 1.0)) / ($nF - 2.0) * " +
                s"($t * ($s3 - 3 * $s2 * $s1 * $t + " +
                s"2 * power($s1, 3) * power($t, 2))) / power($m2, 1.5) " +
                s"ELSE NULL END)")
            case kk =>
              def m4 = s"($t * ($s4 - 4 * $s3 * $s1 * $t + " +
                s"6 * $s2 * $s1 * $s1 * $t * $t - 3 * power($s1, 4) * " +
                s"power($t, 3)))"
              if (kk == "'kurtosis'") Some(
                s"(CASE WHEN size($nn) > 3 AND ($s2 - $s1 * $s1 * $t) <> 0 " +
                  s"THEN ($nF - 1.0) * (($nF + 1.0) * $m4 / ($m2 * $m2) - " +
                  s"3 * ($nF - 1.0)) / (($nF - 2.0) * ($nF - 3.0)) " +
                  s"ELSE NULL END)")
              else Some(
                s"(CASE WHEN size($nn) > 1 AND ($s2 - $s1 * $s1 * $t) <> 0 " +
                  s"THEN $m4 / ($m2 * $m2) - 3 ELSE NULL END)")
          }
        }
        case "'mad'" => { // median absolute deviation from the median
          def med(l: String) =
            s"((try_element_at(sort_array($l), CAST((size($l) + 1) div 2 AS INT)) + " +
              s"try_element_at(sort_array($l), CAST((size($l) + 2) div 2 AS INT))) / 2)"
          guarded(med(s"transform($nn, x -> abs(CAST(x AS DOUBLE) - ${med(nn)}))"))
        }
        case "'entropy'" => guarded( // Shannon log2 over the value
          // distribution (ln-ratio, the EntropyAggregator caveat)
          s"aggregate(transform(array_distinct($nn), v -> " +
            s"CAST(size(filter($nn, x -> x = v)) AS DOUBLE) / size($nn) * " +
            s"(ln(CAST(size($nn) AS DOUBLE) / " +
            s"size(filter($nn, x -> x = v))) / ln(2.0))), " +
            s"CAST(0 AS DOUBLE), (acc, x) -> acc + x)")
        case _ => None
      }})
    // list_reduce(l, (a,b) -> …): first element is the seed, the lambda
    // folds left over the rest — exactly Spark's aggregate over slice(2…)
    // bare `reduce(l, lambda)` is DuckDB's 2-arg list_reduce alias —
    // Spark's own reduce() is the 3/4-arg aggregate form and keeps those
    // arities (fix only matches arity 2)
    for (fn <- Seq("list_reduce", "reduce"))
      call(fn, 2, a => {
        val Lam = """(?is)^\(\s*([A-Za-z_]\w*)\s*,\s*([A-Za-z_]\w*)\s*\)\s*->\s*(.+)$""".r
        a(1).trim match {
          case Lam(x, y, body) => Some(
            s"aggregate(slice(${a(0)}, 2, greatest(size(${a(0)}) - 1, 0)), " +
              s"try_element_at(${a(0)}, 1), ($x, $y) -> $body)")
          case _ => None
        }
      })
    call("to_base", 2, a => Some(s"conv(${a(0)}, 10, ${a(1)})"))
    // date_add(d, INTERVAL ...) — DuckDB's interval overload; Spark's own
    // date_add(d, int-days) keeps non-INTERVAL second args
    call("date_add", 2, a =>
      if ("""(?i)^\s*INTERVAL\b""".r.findFirstIn(a(1).trim).isDefined)
        Some(s"((${a(0)}) + (${a(1)}))")
      else None)
    call("unicode", 1, a => Some(s"ascii(${a.head})"))
    // ORDER-BY-inside-aggregate, for the self-ordered forms whose Spark
    // spelling is exact: array_agg(x ORDER BY x [DESC]) → sorted collect,
    // string_agg(x, sep ORDER BY x) → join of sorted collect, and
    // first/last(x ORDER BY x) → min/max. Ordering by a DIFFERENT
    // expression has no exact spelling and refuses.
    val AggOrd = """(?is)^(.+?)\s+ORDER\s+BY\s+(.+?)(?:\s+(ASC|DESC))?\s*$""".r
    def same(a: String, b: String) = a.trim.equalsIgnoreCase(b.trim)
    call("array_agg", 1, a => a.head.trim match {
      case AggOrd(e0, o, dir) =>
        // DISTINCT dedups before sorting (collect_set — array_agg
        // skips NULLs in both engines, so set-collection loses nothing)
        val Dist = """(?is)^DISTINCT\s+(.+)$""".r
        val (e, coll) = e0.trim match {
          case Dist(inner) => (inner, s"collect_set($inner)")
          case plain => (plain, s"array_agg($plain)")
        }
        if (!same(e, o)) None
        else {
          val asc = dir == null || dir.equalsIgnoreCase("ASC")
          Some(s"sort_array($coll${if (asc) "" else ", false"})")
        }
      case _ => None
    })
    // ORDER BY inside an ORDER-INSENSITIVE aggregate is a no-op — strip
    // it (DuckDB accepts `sum(x ORDER BY x)`)
    for (fn <- Seq("sum", "avg", "count", "min", "max", "bool_and",
        "bool_or", "bit_and", "bit_or", "bit_xor", "median", "mode",
        "entropy", "product", "skewness", "kurtosis"))
      call(fn, 1, a => a.head.trim match {
        case AggOrd(e, _, _) => Some(s"$fn($e)")
        case _ => None
      })
    // regr_* compute over DOUBLE in DuckDB regardless of input type
    // (probed: DECIMAL inputs still yield DOUBLE averages); Spark keeps
    // DECIMAL averages — cast both operands through
    for (fn <- Seq("regr_slope", "regr_intercept", "regr_r2",
        "regr_count", "regr_avgx", "regr_avgy", "regr_sxx", "regr_syy",
        "regr_sxy"))
      call(fn, 2, a =>
        if (a.forall(_.trim.toUpperCase.startsWith("CAST("))) None
        else Some(s"$fn(CAST(${a(0)} AS DOUBLE), " +
          s"CAST(${a(1)} AS DOUBLE))"))
    // enum introspection over CREATE TYPE … AS ENUM definitions: the
    // argument's ::typename resolves against the registered type table
    // (probed: range/first/last/code; code is 0-based)
    def enumValues(arg: String): Option[Seq[String]] = {
      val T = """(?is).*::\s*(\w+)\s*$""".r
      arg.trim match {
        case T(name) => namedTypes.get(name.toLowerCase).flatMap { spec =>
          val Inner = """(?is)^ENUM\s*\((.*)\)$""".r
          spec.trim match {
            case Inner(items) => Some(splitTopLevel(items).map(_.trim))
            case _ => None
          }
        }
        case _ => None
      }
    }
    call("enum_range", 1, a => enumValues(a(0)).map(vs =>
      s"array(${vs.mkString(", ")})"))
    call("enum_first", 1, a => enumValues(a(0)).map(_.head))
    call("enum_last", 1, a => enumValues(a(0)).map(_.last))
    call("enum_code", 1, a => enumValues(a(0)).map { vs =>
      val v = a(0).trim.replaceAll("(?is)::\\s*\\w+\\s*$", "")
      s"(array_position(array(${vs.mkString(", ")}), $v) - 1)"
    })
    // enum_range_boundary(lo, hi): the inclusive slice between the two
    // members; a NULL bound extends to that end (probed). Both-NULL
    // segfaults DuckDB 1.0 and needs at least one ::type to resolve.
    call("enum_range_boundary", 2, a => {
      val vs = enumValues(a(0)).orElse(enumValues(a(1)))
      vs.map { values =>
        def bound(arg: String, dflt: String): String = {
          val v = arg.trim.replaceAll("(?is)::\\s*\\w+\\s*$", "")
          if (v.equalsIgnoreCase("NULL")) dflt
          else s"array_position(array(${values.mkString(", ")}), $v)"
        }
        val lo = bound(a(0), "1")
        val hi = bound(a(1), values.length.toString)
        s"slice(array(${values.mkString(", ")}), $lo, ($hi) - ($lo) + 1)"
      }
    })
    // UNION-typed values model as a (tag, value) struct: union_value
    // constructs it, union_extract guards on the tag, union_tag reads it
    // (probed: extract of the live tag returns the value, the tag name
    // round-trips). Single-tag unions only — a column mixing tags of
    // different value types fails analysis loudly rather than guessing.
    call("union_value", 1, a => {
      val Named = """(?is)^([A-Za-z_]\w*)\s*:=\s*(.+)$""".r
      a.head.trim match {
        case Named(t, v) =>
          Some(s"named_struct('graft_tag', '$t', 'graft_val', $v)")
        case _ => None
      }
    })
    call("union_extract", 2, a => {
      val f = a(1).trim
      if (f.length >= 2 && f.startsWith("'") && f.endsWith("'"))
        Some(s"(CASE WHEN (${a(0)}).graft_tag = $f " +
          s"THEN (${a(0)}).graft_val END)")
      else None
    })
    call("union_tag", 1, a => Some(s"(${a(0)}).graft_tag"))
    // list(x ORDER BY x) arrives as collect_list via the alias — same
    // sorted-collect spelling as array_agg (r8)
    call("collect_list", 1, a => a.head.trim match {
      case AggOrd(e, o, dir) if same(e, o) =>
        val asc = dir == null || dir.equalsIgnoreCase("ASC")
        Some(s"sort_array(collect_list($e)${if (asc) "" else ", false"})")
      case _ => None
    })
    // DuckDB's arg_max/arg_min/max_by/min_by SKIP rows whose VALUE arg is
    // NULL (probed: arg_max over (1,9),(NULL,30),(2,3) is 1); Spark's
    // same-named max_by/min_by KEEP them (returns NULL here). NULLing the
    // ordering key on those rows makes Spark skip them too — both engines
    // ignore NULL ordering keys (probed). Runs BEFORE the *_null fixes so
    // their plain max_by/min_by output is never re-wrapped; 3-arg top-k
    // forms fall through and refuse loudly in analysis.
    locally {
      val nullSkip = Seq("max_by" -> "max_by", "min_by" -> "min_by",
        "arg_max" -> "max_by", "argmax" -> "max_by",
        "arg_min" -> "min_by", "argmin" -> "min_by")
      for ((dn, sn) <- nullSkip)
        call(dn, 2, a => Some(s"$sn(${a(0)}, " +
          s"CASE WHEN (${a(0)}) IS NULL THEN NULL ELSE (${a(1)}) END)"))
      // arg_max_null/arg_min_null keep NULL values at the extreme key —
      // exactly Spark's native behavior (probed: NULL at max y → NULL)
      call("arg_max_null", 2,
        a => Some(s"max_by(${a(0)}, ${a(1)})"))
      call("arg_min_null", 2,
        a => Some(s"min_by(${a(0)}, ${a(1)})"))
    }
    // count_star() is COUNT(*) (probed, incl. under FILTER)
    call("count_star", -1,
      a => if (a.isEmpty || a == Seq("")) Some("count(*)") else None)
    // group_concat / listagg → string_agg with DuckDB's ',' default
    // separator (probed; Spark's native listagg default is '' — a blind
    // passthrough would be silently wrong). Funnels through the proven
    // string_agg path below, which handles DISTINCT and ORDER BY.
    for (fn <- Seq("group_concat", "listagg"))
      call(fn, -1, a => a.length match {
        case 1 | 2 =>
          val sep = if (a.length == 2) a(1) else "','"
          // DuckDB renders non-string inputs as VARCHAR ('1,2'); keep the
          // DISTINCT / ORDER BY forms un-cast for the string_agg fix below
          val plain = !a(0).matches("""(?is).*\b(DISTINCT|ORDER)\b.*""")
          val e = if (plain) s"CAST(${a(0)} AS STRING)" else a(0)
          Some(s"string_agg($e, $sep)")
        case _ => None
      })
    // kahan/fsum compensated sums and favg: DOUBLE-accumulator aggregates;
    // Spark's sum/avg over DOUBLE match on every probed input (compensation
    // changes rounding only in pathological cancellation cases)
    for (fn <- Seq("kahan_sum", "sumkahan", "fsum"))
      call(fn, 1, a => Some(s"sum(CAST(${a(0)} AS DOUBLE))"))
    call("favg", 1, a => Some(s"avg(CAST(${a(0)} AS DOUBLE))"))
    // bitstring_agg(x, lo, hi) → BIT string with a '1' at each distinct x
    // (positions count from lo at the LEFT; NULL x ignored — probed).
    // Exact via a 64-bit mask: literal bounds only, width <= 63; an x
    // outside [lo, hi] errors like DuckDB (out-of-range shift → guard).
    call("bitstring_agg", 3, a => intArgs(a.tail) match {
      case Some(Seq(lo, hi)) if hi >= lo && hi - lo < 63 =>
        val w = hi - lo + 1
        Some(s"lpad(bin(sum(DISTINCT CASE WHEN (${a(0)}) < $lo OR " +
          s"(${a(0)}) > $hi THEN CAST(raise_error('bitstring_agg: value " +
          s"outside [$lo, $hi]') AS BIGINT) ELSE " +
          s"shiftleft(CAST(1 AS BIGINT), CAST($hi - (${a(0)}) AS INT)) " +
          s"END)), $w, '0')")
      case _ => None
    })
    // string_agg(e, sep ORDER BY o) FILTER (WHERE c): the ORDER BY form
    // rewrites to array_join(sort_array(collect...)) below, where a
    // trailing FILTER can no longer attach — push it into the collected
    // expression as a CASE first (string_agg skips NULLs in both engines,
    // probed, so NULL-ing filtered rows is exact)
    val SaFilter = ("""(?is)\bstring_agg\s*\(([^()]*\bORDER\s+BY\b[^()]*)\)""" +
      """\s*FILTER\s*\(\s*WHERE\s+([^()]+?)\s*\)""").r
    raw("string_agg")(_.replace(SaFilter) { m =>
      val parts = splitTopLevel(m.group(1))
      if (parts.isEmpty) m.matched
      else s"string_agg(CASE WHEN ${m.group(2)} THEN ${parts.head.trim} END" +
        s"${parts.tail.map(p => s", ${p.trim}").mkString})"
    })
    // 1-arg string_agg: DuckDB's default separator is ',' (probed:
    // 'foo,bar'); Spark's native default is the empty string
    call("string_agg", 1, a =>
      Some(s"string_agg(${a.head}, ',')"))
    call("string_agg", 2, a => {
      // DISTINCT dedups before joining (collect_set; string_agg skips
      // NULLs in both engines, so set-collection loses nothing)
      val Dist = """(?is)^DISTINCT\s+(.+)$""".r
      val (arg0, coll) = a(0).trim match {
        case Dist(e) => (e, s"collect_set($e)")
        case e => (e, s"collect_list($e)")
      }
      a(1).trim match {
        case AggOrd(sep, o, dir) if same(o, arg0) =>
          val asc = dir == null || dir.equalsIgnoreCase("ASC")
          Some(s"array_join(sort_array($coll" +
            s"${if (asc) "" else ", false"}), $sep)")
        case AggOrd(sep, o, dir) if !a(0).trim.toUpperCase.startsWith("DISTINCT") =>
          // ORDER BY a key OTHER than the aggregated expression: collect
          // (key, value) structs, sort by key, project values. NULL
          // values are dropped before collection (string_agg skips
          // NULLs — probed); key ties follow value order, which DuckDB
          // leaves scan-order-undefined anyway
          val asc = dir == null || dir.equalsIgnoreCase("ASC")
          val base = s"array_sort(collect_list(CASE WHEN ($arg0) IS NOT " +
            s"NULL THEN named_struct('gk', $o, 'gv', $arg0) END))"
          Some(s"array_join(transform(" +
            s"${if (asc) base else s"reverse($base)"}, " +
            s"graft_s -> graft_s.gv), $sep)")
        case _ => None
      }
    })
    // DuckDB default null order is NULLS LAST both directions (probed):
    // first ASC / first DESC never see the trailing NULLs → min/max are
    // exact; last ASC / last DESC land ON a NULL whenever one exists →
    // NULL if any element is NULL, else max/min
    for (fn <- Seq("first", "last"))
      call(fn, 1, a => a.head.trim match {
        case AggOrd(e, o, dir) if same(e, o) =>
          val asc = dir == null || dir.equalsIgnoreCase("ASC")
          if (fn == "first")
            Some(s"${if (asc) "min" else "max"}($e)")
          else
            Some(s"(CASE WHEN count($e) < count(*) THEN NULL " +
              s"ELSE ${if (asc) "max" else "min"}($e) END)")
        case _ => None
      })
    // list_sort/list_reverse_sort: DuckDB default is NULLS LAST both ways;
    // array_sort is asc-nulls-last, sort_array(_, false) desc-nulls-last
    call("list_sort", -1, a => a.length match {
      case 1 => Some(s"array_sort(${a.head})")
      case 2 if a(1).equalsIgnoreCase("'ASC'") => Some(s"array_sort(${a.head})")
      case 2 if a(1).equalsIgnoreCase("'DESC'") => Some(s"sort_array(${a.head}, false)")
      // 3-arg spells the null placement too (probed): sort_array asc
      // is nulls-first, array_sort asc is nulls-last, desc-nulls-first
      // is the reverse of asc-nulls-last
      case 3 =>
        (a(1).toUpperCase.replaceAll("'", ""),
          a(2).toUpperCase.replaceAll("'", "").replaceAll("\\s+", " ")) match {
          case ("ASC", "NULLS FIRST") => Some(s"sort_array(${a.head}, true)")
          case ("ASC", "NULLS LAST") => Some(s"array_sort(${a.head})")
          case ("DESC", "NULLS LAST") => Some(s"sort_array(${a.head}, false)")
          case ("DESC", "NULLS FIRST") =>
            Some(s"reverse(array_sort(${a.head}))")
          case _ => None
        }
      case _ => None
    })
    call("list_reverse_sort", 1,
      a => Some(s"sort_array(${a.head}, false)"))
    // DuckDB list_prepend(elem, list) vs Spark array_prepend(list, elem)
    call("list_prepend", 2,
      a => Some(s"array_prepend(${a(1)}, ${a(0)})"))
    // list_concat treats a NULL side as [] (probed) — Spark concat is
    // NULL-in NULL-out, so spell the NULL handling out
    call("list_concat", 2, a => Some(
      // flatten(array(..)) is array concat — NOT `concat`, which the
      // concat→concat_ws(NULL-skip) rewrite below would re-capture
      s"(CASE WHEN ${a(0)} IS NULL THEN ${a(1)} " +
        s"WHEN ${a(1)} IS NULL THEN ${a(0)} " +
        s"ELSE flatten(array(${a(0)}, ${a(1)})) END)"))
    // DuckDB's concat() stringifies every argument and SKIPS NULLs
    // (probed: concat('a',NULL,'b')='ab', all-NULL=''); Spark's concat is
    // NULL-strict. concat_ws('') has exactly DuckDB's skip semantics.
    // (`||` stays NULL-strict in both engines — untouched.) Known corner:
    // a LIST argument is stringified by DuckDB but flattened by
    // concat_ws — lists in string concat are outside this subset.
    call("concat", -1, a =>
      if (a.isEmpty) None else Some(s"concat_ws('', ${a.mkString(", ")})"))
    // 2-arg ltrim/rtrim: DuckDB is (string, characters), Spark is
    // (trimStr, srcStr) — REVERSED argument order (probed: Spark's
    // ltrim('xxyx','x') silently yields ''); 2-arg trim has no Spark
    // function form → TRIM(BOTH .. FROM ..) syntax
    for (fn <- Seq("ltrim", "rtrim"))
      call(fn, 2, a => Some(s"$fn(${a(1)}, ${a(0)})"))
    call("trim", 2, a => Some(s"trim(BOTH ${a(1)} FROM ${a(0)})"))
    // --- r8 function breadth (each corner probed against DuckDB 1.0) ---
    // map_extract/element_at return a LIST in DuckDB: [value] when the
    // key exists (even [NULL] for a NULL-valued key), [] when the key is
    // absent or the map/key is NULL — membership via map_keys, never
    // try_element_at alone (it conflates missing with NULL-valued).
    // Runs BEFORE the rewrites below that themselves emit element_at
    // text (fix never rescans its own output).
    for (fn <- Seq("map_extract", "element_at"))
      call(fn, 2, a => Some(
        s"(CASE WHEN array_contains(map_keys(${a(0)}), ${a(1)}) " +
          s"THEN array(try_element_at(${a(0)}, ${a(1)})) " +
          s"ELSE array() END)"))
    call("sha256", 1, a => Some(s"sha2(${a(0)}, 256)"))
    // struct_extract with a literal field name → dot access
    call("struct_extract", 2, a => {
      val f = a(1).trim
      if (f.length >= 2 && f.startsWith("'") && f.endsWith("'"))
        Some(s"(${a(0)}).`${f.substring(1, f.length - 1)}`")
      else None
    })
    call("regexp_split_to_table", 2, a =>
      Some(s"explode(split(${a(0)}, ${a(1)}))"))
    // unnest(x, recursive := true) arrives as explode(...) via the alias
    // table; a list-of-struct flattens columns — exactly Spark's inline
    call("explode", 2, a =>
      if (a(1).matches("(?is)recursive\\s*:=\\s*true"))
        Some(s"inline(${a(0)})")
      else if (a(1).matches("(?is)recursive\\s*:=\\s*false"))
        Some(s"explode(${a(0)})")
      else None)
    // unnest of a STRUCT expands its fields into one column each
    // (probed: unnest({'x':1,'y':2}) is columns x, y) — Spark's inline
    // over a one-element array is that exactly. Struct-typed column
    // refs still refuse loudly (explode rejects them in analysis).
    call("explode", 1, a => {
      val t = a(0).trim.toLowerCase
      if (t.startsWith("named_struct(") || t.startsWith("struct("))
        Some(s"inline(array(${a(0)}))")
      else None
    })
    // list_where keeps NULL data elements (probed: [1,NULL,3] masked →
    // [1,NULL]); the struct detour survives them where IF(m,x,NULL)+
    // filter would not. A short mask drops the tail (zip_with pads the
    // mask with NULL and the filter drops it — probed equivalence).
    call("list_where", 2, a => Some(
      s"transform(filter(zip_with(${a(0)}, ${a(1)}, " +
        s"(graft_v, graft_m) -> named_struct('m', graft_m, 'v', graft_v)), " +
        s"graft_s -> graft_s.m), graft_s -> graft_s.v)"))
    // list_select is 1-based; 0/negative/out-of-range indexes yield NULL
    // elements (probed), so the guard never lets ANSI element_at throw
    call("list_select", 2, a => Some(
      s"transform(${a(1)}, graft_i -> CASE WHEN graft_i >= 1 AND " +
        s"graft_i <= size(${a(0)}) THEN element_at(${a(0)}, graft_i) " +
        s"ELSE NULL END)"))
    // list_grade_up: 1-based indexes in ascending value order, NULLS
    // LAST, ties stable by position (probed: [NULL,2,1]→[3,2,1],
    // [2,2,1]→[3,1,2]) — the (is-null, value, index) sort key pins all 3
    call("list_grade_up", 1, a => Some(
      s"(CASE WHEN (${a(0)}) IS NULL THEN NULL " +
        s"WHEN size(${a(0)}) = 0 THEN array() " +
        s"ELSE transform(array_sort(zip_with(${a(0)}, " +
        s"sequence(1, size(${a(0)})), (graft_v, graft_i) -> " +
        s"named_struct('n', graft_v IS NULL, 'v', graft_v, " +
        s"'i', graft_i))), graft_s -> graft_s.i) END)"))
    // quantile_disc/quantile: percentile_disc has the same lower-value
    // discrete pick (probed: 0.5 of [1..4] → 2); a LIST of fractions
    // expands to an array of WITHIN GROUP aggregates
    for (fn <- Seq("quantile_disc", "quantile"))
      call(fn, 2, a => {
        val q = a(1).trim
        val inner =
          if (q.toLowerCase.startsWith("array(") && q.endsWith(")"))
            Some(q.substring(6, q.length - 1))
          else if (q.startsWith("[") && q.endsWith("]"))
            Some(q.substring(1, q.length - 1))
          else None
        inner match {
          case Some(qs) => Some("array(" + splitTopLevel(qs).map(_.trim)
            .map(f => s"percentile_disc($f) WITHIN GROUP (ORDER BY ${a(0)})")
            .mkString(", ") + ")")
          case None => Some(
            s"percentile_disc(${a(1)}) WITHIN GROUP (ORDER BY ${a(0)})")
        }
      })
    // mode() WITHIN GROUP (ORDER BY x) — DuckDB's ordered-set spelling of
    // mode(x) (probed: most-frequent value; the ORDER BY names the input).
    // Spark's deterministic mode breaks ties by lowest value, matching
    // DuckDB's observed smallest-value pick on ties.
    val ModeWithin = ("""(?is)\bmode\s*\(\s*\)\s*WITHIN\s+GROUP\s*""" +
      """\(\s*ORDER\s+BY\s+([^()]+?)(?:\s+(?:ASC|DESC))?\s*\)""").r
    raw("mode")(_.replace(ModeWithin)(m => s"mode(${m.group(1)}, true)"))
    // percentile_cont([q1,q2,...]) WITHIN GROUP — DuckDB's fraction-LIST
    // overload (probed: returns the list of interpolated percentiles);
    // Spark's percentile_cont takes no array, but exact interpolated
    // percentile() does
    val ContList = ("""(?is)\bpercentile_cont\s*\(\s*\[([^\[\]]*)\]\s*\)\s*""" +
      """WITHIN\s+GROUP\s*\(\s*ORDER\s+BY\s+([^()]+?)(?:\s+(ASC|DESC))?\s*\)""").r
    raw("percentile_cont")(_.replace(ContList) { m =>
      // DESC at fraction q = ASC at 1−q (probed: [0.25,0.5] DESC over
      // {1,2,3,4,10} → [4.0,3.0], exactly [0.75,0.5] ASC)
      val desc = Option(m.group(3)).exists(_.equalsIgnoreCase("desc"))
      val fr = splitTopLevel(m.group(1)).map(_.trim)
        .map(f => if (desc) s"1 - ($f)" else f).mkString(", ")
      s"percentile(${m.group(2)}, array($fr))"
    })
    // json_extract / the -> operator return JSON text (strings keep
    // their quotes — probed: '$.a' of {"a":"x"} is '"x"'); Spark's
    // variant path round-trips that exactly. json_extract_string/->>
    // strip to raw text = get_json_object. Bare paths get '$.'.
    def jsonPath(p: String): String =
      if (p.startsWith("'") && !p.startsWith("'$"))
        "'$." + p.stripPrefix("'") else p
    call("json_extract_string", 2, a =>
      Some(s"get_json_object(${a(0)}, ${jsonPath(a(1))})"))
    call("json_extract", 2, a =>
      Some(s"to_json(variant_get(parse_json(${a(0)}), ${jsonPath(a(1))}))"))
    // arrow CHAINS of ≥2 literal simple keys (x -> 'k' ->> 'n') fold
    // into one json path; the LAST arrow picks rendering — ->> raw text
    // (probed: '5'), -> JSON text. Chains must contain ->> so a lambda
    // body can never match; a single bare -> stays unsupported (it IS
    // Spark's lambda arrow — rewriting it would be the silent-wrong
    // class). Runs before the single-step ->> rule below.
    val ChainOp = """('(?:[^']|'')*'|(?:[\w.]+)?\([^()]*\)|[\w.]+)"""
    val Chain = (ChainOp + """((?:\s*->>?\s*'(?:[^']|'')*'){2,})""").r
    val Step = """\s*(->>|->)\s*'((?:[^']|'')*)'""".r
    raw("->>")(_.replace(Chain) { m =>
      val steps = Step.findAllMatchIn(m.group(2))
        .map(s => (s.group(1), s.group(2))).toList
      val foldable = steps.exists(_._1 == "->>") &&
        steps.forall(_._2.matches("""[A-Za-z_]\w*"""))
      if (!foldable) m.matched
      else {
        val path = "'$." + steps.map(_._2).mkString(".") + "'"
        if (steps.last._1 == "->>")
          s"get_json_object(${m.group(1)}, $path)"
        else s"to_json(variant_get(parse_json(${m.group(1)}), $path))"
      }
    })
    // x ->> 'path' (the distinct ->> token never collides with lambda
    // arrows); matched on the masked view like the other infix rewrites
    val Arrow = ("""('(?:[^']|'')*'|(?:[\w.]+)?\([^()]*\)|[\w.]+)""" +
      """\s*->>\s*('(?:[^']|'')*')""").r
    raw("->>")(_.replace(Arrow)(m =>
      s"get_json_object(${m.group(1)}, ${jsonPath(m.group(2))})"))
    // json aggregates: to_json over ordered collections renders exactly
    // DuckDB's minified form (probed: [1,2] / {"a":1,"b":2})
    call("json_group_array", 1, a =>
      Some(s"to_json(collect_list(${a(0)}))"))
    call("json_group_object", 2, a =>
      Some(s"to_json(map_from_arrays(collect_list(${a(0)}), " +
        s"collect_list(${a(1)})))"))
    // json_type of the top-level value, from its first character — the
    // container/string/boolean arms are exact; numeric arms are outside
    // this subset and refuse (DuckDB distinguishes UBIGINT/BIGINT/DOUBLE)
    // 2-arg json_type(j, path) classifies the element AT the path
    // (probed: '{"a":[1]}','$.a' → ARRAY) — route through json_extract,
    // whose missing-path NULL matches; the 1-arg fix below then rewrites
    // the produced inner call
    call("json_type", 2, a =>
      // the extract spelled in Spark form directly: the json_extract
      // rewrite pass has already run by this point
      Some(s"json_type(to_json(variant_get(parse_json(${a(0)}), " +
        s"${jsonPath(a(1))})))"))
    call("json_type", 1, a => Some(
      s"(CASE WHEN ${a(0)} IS NULL THEN NULL " + // missing path → NULL (probed)
        s"WHEN left(trim(${a(0)}), 1) = '[' THEN 'ARRAY' " +
        s"WHEN left(trim(${a(0)}), 1) = '{' THEN 'OBJECT' " +
        s"WHEN left(trim(${a(0)}), 1) = '\"' THEN 'VARCHAR' " +
        s"WHEN trim(${a(0)}) IN ('true', 'false') THEN 'BOOLEAN' " +
        s"WHEN trim(${a(0)}) = 'null' THEN 'NULL' " +
        s"ELSE CAST(raise_error('json_type: numeric arms are outside " +
        s"the exact subset') AS STRING) END)"))
    call("json_keys", 1, a =>
      Some(s"json_object_keys(${a(0)})"))
    call("json_valid", 1, a =>
      Some(s"(try_parse_json(${a(0)}) IS NOT NULL)"))
    // from_json / json_transform (and their _strict twins — DuckDB 1.0
    // errors on malformed input in BOTH, probed) with a LITERAL structure
    // argument: the structure JSON translates to a Spark DDL schema and
    // FAILFAST reproduces the loud-error contract. Type names map only
    // where the value rendering is identical (wrong-typed/missing fields
    // are NULL in both engines — probed). Non-literal structures refuse.
    def typeDdl(name: String): Option[String] = {
      val DecRe = """(?i)DECIMAL\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\)""".r
      name.trim.toUpperCase match {
        case "VARCHAR" | "TEXT" | "STRING" | "JSON" | "UUID" | "TIME" =>
          Some("STRING")
        case "TINYINT" | "INT1" => Some("TINYINT")
        case "SMALLINT" | "INT2" | "UTINYINT" => Some("SMALLINT")
        case "INTEGER" | "INT" | "INT4" | "USMALLINT" => Some("INT")
        case "BIGINT" | "INT8" | "UINTEGER" => Some("BIGINT")
        case "UBIGINT" => Some("DECIMAL(20,0)")
        case "HUGEINT" => Some("DECIMAL(38,0)")
        case "DOUBLE" => Some("DOUBLE")
        case "FLOAT" | "REAL" => Some("FLOAT")
        case "BOOLEAN" | "BOOL" => Some("BOOLEAN")
        case "DATE" => Some("DATE")
        case "TIMESTAMP" | "DATETIME" => Some("TIMESTAMP")
        case d if DecRe.pattern.matcher(d).matches() => Some(d)
        case _ => None
      }
    }
    def structDdl(n: com.fasterxml.jackson.databind.JsonNode)
        : Option[String] = {
      if (n.isTextual) typeDdl(n.asText)
      else if (n.isArray && n.size == 1)
        structDdl(n.get(0)).map(e => s"ARRAY<$e>")
      else if (n.isObject) {
        val fields = scala.collection.mutable.ListBuffer.empty[String]
        val it = n.fields()
        while (it.hasNext) {
          val e = it.next()
          structDdl(e.getValue) match {
            case Some(d) => fields += s"`${e.getKey}`: $d"
            case None => return None
          }
        }
        Some(s"STRUCT<${fields.mkString(", ")}>")
      } else None
    }
    for (fn <- Seq("from_json", "from_json_strict", "json_transform",
        "json_transform_strict"))
      call(fn, 2, a =>
        SqlLex.plainLiteral(a(1).trim).flatMap { lit =>
          val parsed = scala.util.Try(new com.fasterxml.jackson.databind
            .ObjectMapper().readTree(lit)).toOption
          parsed.flatMap(structDdl).collect {
            case ddl if ddl.startsWith("STRUCT") || ddl.startsWith("ARRAY") =>
              s"from_json(${a(0)}, '$ddl', map('mode', 'FAILFAST'))"
          }
        })
    // json_array / json_object constructors compose from per-element
    // json_quote renderings (the fix below runs AFTER these, so the
    // emitted json_quote calls get their own exact handling); NULL
    // elements render the JSON null token (probed: [1,"a",null])
    def jsonElem(x: String): String =
      if (x.trim.equalsIgnoreCase("null")) "'null'"
      else s"coalesce(json_quote($x), 'null')"
    call("json_array", -1, a =>
      if (a.forall(_.trim.isEmpty)) Some("'[]'")
      else Some("concat('[', concat_ws(',', " +
        a.map(jsonElem).mkString(", ") + "), ']')"))
    call("json_object", -1, a =>
      if (a.forall(_.trim.isEmpty)) Some("'{}'")
      else if (a.length % 2 != 0) None // duck: even key/value count
      else Some("concat('{', concat_ws(',', " +
        a.grouped(2).map { case Seq(k, v) =>
          s"concat(json_quote($k), ':', ${jsonElem(v)})" }.mkString(", ") +
        "), '}')"))
    // alias(expr) returns the enclosing select item's alias when one is
    // spelled (probed: `alias(v) AS a` → 'a'), else the column's own name
    // (`alias(v)` → 'v'); the identifier subset folds to a literal,
    // computed expressions refuse
    val Aliased = """(?i)\balias\s*\(\s*[\w.]+\s*\)\s+AS\s+(\w+)""".r
    raw("alias")(_.replace(Aliased)(m => s"'${m.group(1)}' AS ${m.group(1)}"))
    call("alias", 1, a => {
      val t = a(0).trim
      if (t.matches("""[A-Za-z_][\w.]*"""))
        Some(s"'${t.split('.').last}'")
      else None
    })
    // json_quote is DuckDB's generic to_json: numeric/boolean literals
    // render verbatim, string literals quote (JSON-escaped) — the literal
    // subset; container args alias through to to_json, others refuse
    call("json_quote", 1, a => {
      val t = a(0).trim
      if (t.matches("""(?i)-?\d+(\.\d+)?([eE][+-]?\d+)?|true|false"""))
        Some(s"'${t.toLowerCase}'")
      else SqlLex.plainLiteral(t).map { lit =>
        val inner = lit.replace("\\", "\\\\").replace("\"", "\\\"")
        "'\"" + inner + "\"'"
      }.orElse(Some(s"to_json(${a(0)})"))
    })
    // century/decade (probed: century(2000)=20, 2001→21; decade(2020)=202)
    call("century", 1, a => Some(
      s"CAST(CASE WHEN year(${a(0)}) >= 0 THEN " +
        s"ceil(year(${a(0)}) / 100.0) " +
        s"ELSE 0 - ceil((0 - year(${a(0)})) / 100.0) END AS BIGINT)"))
    call("decade", 1, a =>
      Some(s"CAST(floor(year(${a(0)}) / 10.0) AS BIGINT)"))
    // to_days/to_hours/… interval constructors → make_interval slots;
    // the scaled family (quarters = 3 months, decade/century/millennium =
    // 10/100/1000 years, milli/microseconds = fractional seconds via an
    // exact DECIMAL divide) probed against DuckDB
    locally {
      val slots = Seq("to_years" -> 0, "to_months" -> 1, "to_weeks" -> 2,
        "to_days" -> 3, "to_hours" -> 4, "to_minutes" -> 5,
        "to_seconds" -> 6)
      for ((fn, slot) <- slots)
        call(fn, 1, a => Some("make_interval(" +
          (Seq.fill(slot)("0") :+ a(0)).mkString(", ") + ")"))
      val scaled = Seq("to_quarters" -> (1, "(%s) * 3"),
        "to_decades" -> (0, "(%s) * 10"), "to_centuries" -> (0, "(%s) * 100"),
        "to_millennia" -> (0, "(%s) * 1000"),
        "to_milliseconds" -> (6, "CAST(%s AS DECIMAL(24,6)) / 1000"),
        "to_microseconds" -> (6, "CAST(%s AS DECIMAL(24,6)) / 1000000"))
      for ((fn, (slot, tpl)) <- scaled)
        call(fn, 1, a => Some("make_interval(" +
          (Seq.fill(slot)("0") :+ tpl.format(a(0))).mkString(", ") + ")"))
    }
    // julian day number: DuckDB's julian(x) is epoch-days + 2440588 plus
    // the fraction of day for timestamps (probed: DATE '2000-01-01' →
    // 2451545.0, 18:00 → .75 — DuckDB counts from midnight, not noon)
    call("julian", 1, a => Some(
      s"(CAST(unix_micros(CAST(${a(0)} AS TIMESTAMP)) AS DOUBLE) " +
        s"/ 86400000000.0 + 2440588.0)"))
    // session timezone is pinned UTC on both engines, where these are 0
    // for every TIMESTAMP/TIMESTAMPTZ input (probed)
    for (fn <- Seq("timezone_hour", "timezone_minute"))
      call(fn, 1, a => Some(s"(CASE WHEN CAST(${a(0)} AS " +
        s"TIMESTAMP) IS NULL THEN CAST(NULL AS BIGINT) " +
        s"ELSE CAST(0 AS BIGINT) END)"))
    call("try_strptime", 2, a =>
      SqlLex.plainLiteral(a(1)).flatMap(strftimeToJavaPattern).map(p =>
        s"try_to_timestamp(${a(0)}, '${p.replace("'", "''")}')"))
    call("current_database", -1, a =>
      if (a.isEmpty || a == Seq("")) Some("'memory'") else None)
    // array_push_front takes (list, elem) — list_prepend's reverse order
    call("array_push_front", 2, a =>
      Some(s"array_prepend(${a(0)}, ${a(1)})"))
    // pg_typeof renders the DuckDB type name lowercased (probed)
    call("pg_typeof", 1, a => Some(s"lower(typeof(${a(0)}))"))
    // geometric mean: exp of the mean log (probed exact on the corpus
    // pins; DOUBLE like DuckDB)
    for (fn <- Seq("geomean", "geometric_mean"))
      call(fn, 1, a =>
        Some(s"exp(avg(ln(CAST(${a(0)} AS DOUBLE))))"))
    // bare session-identity keywords (no parens): DuckDB pins these
    // (probed) — Spark's CURRENT_USER would leak the OS user instead
    for ((kw, v) <- Seq("current_user" -> "'duckdb'",
        "session_user" -> "'duckdb'", "current_role" -> "'duckdb'",
        "current_catalog" -> "'memory'")) {
      val Re = ("(?i)(?<![\\w.$'])" + kw + "(?![\\w($])").r
      raw(kw)(_.replace(Re)(_ => v))
    }
    // current_schemas(true) includes the implicit catalogs; (false) is
    // empty; in_search_path is TRUE only for ('memory', 'main') — all
    // probed against the reference's single-database layout
    call("current_schemas", 1, a => a.head.trim.toLowerCase match {
      case "true" => Some("array('main', 'main', 'main', 'pg_catalog')")
      case "false" => Some("CAST(array() AS ARRAY<STRING>)")
      case _ => None
    })
    call("in_search_path", 2, a => Some(
      s"((${a(0)}) = 'memory' AND (${a(1)}) = 'main')"))
    // setseed returns NULL; the RNG side effect has no deterministic
    // cross-engine observable (random() sequences differ by engine anyway)
    call("setseed", 1, a => Some(
      s"(CASE WHEN (${a(0)}) IS NULL THEN CAST(NULL AS INT) " +
        s"ELSE CAST(NULL AS INT) END)"))
    // constant_or_null(v, cond…): NULL when ANY condition arg is NULL
    call("constant_or_null", -1, a =>
      if (a.length < 2) None else Some(
        s"(CASE WHEN ${a.tail.map(c => s"($c) IS NULL").mkString(" OR ")} " +
          s"THEN NULL ELSE ${a(0)} END)"))
    call("strlen", 1, a => Some(s"octet_length(${a(0)})"))
    // operator-spelling function names (probed): divide is `//` (rides
    // the DuckFloorDiv plan swap via the div keyword), the rest are the
    // plain operators
    call("divide", 2, a => Some(s"((${a(0)}) div (${a(1)}))"))
    call("multiply", 2, a => Some(s"((${a(0)}) * (${a(1)}))"))
    call("subtract", 2, a => Some(s"((${a(0)}) - (${a(1)}))"))
    call("add", 2, a => Some(s"((${a(0)}) + (${a(1)}))"))
    // signbit: the IEEE sign bit. Two probed corners pull apart: DuckDB's
    // PARSER folds the sign off a literal -0.0 (signbit(-0.0) is false)
    // while a runtime negative zero keeps it (signbit('-0.0'::DOUBLE) is
    // true). Literal args evaluate the folded sign directly; everything
    // else reads the bit off the value's string rendering, which keeps
    // '-' for -0.0 and -Infinity.
    call("signbit", 1, a => {
      val t = a(0).trim
      if (t.matches("""-?\d+(\.\d+)?([eE][+-]?\d+)?"""))
        Some(if (BigDecimal(t).signum < 0) "true" else "false")
      else Some(s"startswith(CAST(CAST(${a(0)} AS DOUBLE) AS STRING), '-')")
    })
    // BIT values model as '0'/'1' strings (see cornerType). bit_length of
    // a BIT is its bit COUNT (model-string length); of a VARCHAR it is
    // 8 x octets, which Spark's same-named builtin already is. The ::BIT
    // marker survives until the erasure at the end of this pass, so the
    // cast-tagged form is distinguishable here.
    call("bit_length", 1, a => {
      val BitCast = """(?is)^(.+?)::\s*BIT(?:STRING)?\s*$""".r
      a(0).trim match {
        case BitCast(inner) => Some(s"length($inner)")
        case _ => None
      }
    })
    // bit_position is a 1-based substring search (0 when absent — probed)
    call("bit_position", 2,
      a => Some(s"instr(${a(1)}, ${a(0)})"))
    // unbin/from_binary: '01' text → BLOB, byte count = ceil(len/8) with
    // left zero-padding (probed: unbin('110') = \x06, 16-char = 2 bytes).
    // conv is 64-bit — longer inputs refuse loudly rather than truncate
    for (fn <- Seq("unbin", "from_binary"))
      call(fn, 1, a => Some(
        s"(CASE WHEN length(${a(0)}) > 64 THEN CAST(raise_error(" +
          s"'$fn: inputs beyond 64 bits are outside the exact subset') " +
          s"AS BINARY) ELSE unhex(lpad(conv(${a(0)}, 2, 16), " +
          s"CAST(ceil(length(${a(0)}) / 8.0) * 2 AS INT), '0')) END)"))
    // md5_number_lower/upper: the digest's second/first 8 bytes read
    // little-endian as an unsigned 64-bit number (probed byte order);
    // DECIMAL(20,0) carries the full unsigned range
    locally {
      def md5Num(arg: String, off: Int): String =
        s"(CASE WHEN ($arg) IS NULL THEN CAST(NULL AS DECIMAL(20,0)) " +
          s"ELSE CAST(conv(array_join(reverse(transform(sequence(0, 7), " +
          s"i -> substring(md5($arg), $off + i * 2, 2))), ''), 16, 10) " +
          s"AS DECIMAL(20,0)) END)"
      call("md5_number_lower", 1, a => Some(md5Num(a(0), 17)))
      call("md5_number_upper", 1, a => Some(md5Num(a(0), 1)))
    }
    call("current_schema", -1, a =>
      if (a.isEmpty || a == Seq("")) Some("'main'") else None)
    // product: DOUBLE product aggregate (graft_product registration)
    call("product", 1, a =>
      Some(s"graft_product(CAST(${a(0)} AS DOUBLE))"))
    // entropy: Shannon-log2 aggregate (graft_entropy registration); the
    // STRING cast is a 1:1 rendering, so the value distribution — and
    // therefore the entropy — is unchanged
    call("entropy", 1, a =>
      Some(s"graft_entropy(CAST(${a(0)} AS STRING))"))
    // mad: median-absolute-deviation aggregate (MadAggregator
    // registration); DOUBLE operand cast like product
    call("mad", 1, a =>
      Some(s"graft_mad(CAST(${a(0)} AS DOUBLE))"))
    // DuckDB skewness/kurtosis are SAMPLE statistics (bias-corrected G1 /
    // excess G2) computed from raw power sums; Spark's same-named
    // aggregates are population g1 / g2 AND use a different running-
    // moment op order, so a correction-factor rewrite lands 1 ulp off.
    // These spell out DuckDB's exact raw-sum formulas with DuckDB's exact
    // left-associative op order — verified BIT-exact against the oracle
    // on 5 datasets. NULL under n<3 / n<4 and zero variance (probed).
    call("skewness", 1, a => {
      val x = s"CAST(${a(0)} AS DOUBLE)" // duck sums doubles, not bigints
      val n = s"count($x)"; val t = s"(1.0 / count($x))"
      val s1 = s"sum($x)"; val s2 = s"sum(($x)*($x))"
      val s3 = s"sum(($x)*($x)*($x))"
      val m2 = s"($t * ($s2 - $s1 * $s1 * $t))"
      Some(s"(CASE WHEN $n > 2 AND ($s2 - $s1 * $s1 * $t) <> 0 THEN " +
        s"sqrt($n * ($n - 1.0)) / ($n - 2) * $t * " +
        s"($s3 - 3 * $s1 * $s2 * $t + 2 * power($s1, 3) * $t * $t) / " +
        s"sqrt(power($m2, 3)) ELSE NULL END)")
    })
    // 1-arg age anchors at current_date (probed: NOT now())
    call("age", 1, a =>
      Some(s"age(CAST(current_date() AS TIMESTAMP), " +
        s"CAST(${a(0)} AS TIMESTAMP))"))
    // sem: standard error of the mean = stddev_POP / sqrt(n) in DuckDB
    // (probed bit-exact; NULLs skipped by both factors)
    call("sem", 1, a => Some(
      s"(stddev_pop(${a(0)}) / sqrt(count(${a(0)})))"))
    // kurtosis_pop: population excess g2 = m4/m2^2 - 3 from the same raw
    // power sums (probed: NULL under n<2 / zero variance). Runs BEFORE the
    // sample-kurtosis fix; its output carries no kurtosis( token.
    call("kurtosis_pop", 1, a => {
      val x = s"CAST(${a(0)} AS DOUBLE)"
      val n = s"count($x)"; val t = s"(1.0 / count($x))"
      val s1 = s"sum($x)"; val s2 = s"sum(($x)*($x))"
      val s3 = s"sum(($x)*($x)*($x))"
      val s4 = s"sum(($x)*($x)*($x)*($x))"
      val m2 = s"($t * ($s2 - $s1 * $s1 * $t))"
      val m4 = s"($t * ($s4 - 4 * $s3 * $s1 * $t + " +
        s"6 * $s2 * $s1 * $s1 * $t * $t - 3 * power($s1, 4) * " +
        s"power($t, 3)))"
      Some(s"(CASE WHEN $n > 1 AND ($s2 - $s1 * $s1 * $t) <> 0 THEN " +
        s"$m4 / ($m2 * $m2) - 3 ELSE NULL END)")
    })
    call("kurtosis", 1, a => {
      val x = s"CAST(${a(0)} AS DOUBLE)" // duck sums doubles, not bigints
      val n = s"count($x)"; val t = s"(1.0 / count($x))"
      val s1 = s"sum($x)"; val s2 = s"sum(($x)*($x))"
      val s3 = s"sum(($x)*($x)*($x))"
      val s4 = s"sum(($x)*($x)*($x)*($x))"
      val m2 = s"($t * ($s2 - $s1 * $s1 * $t))"
      val m4 = s"($t * ($s4 - 4 * $s3 * $s1 * $t + " +
        s"6 * $s2 * $s1 * $s1 * $t * $t - 3 * power($s1, 4) * " +
        s"power($t, 3)))"
      Some(s"(CASE WHEN $n > 3 AND ($s2 - $s1 * $s1 * $t) <> 0 THEN " +
        s"($n - 1.0) * (($n + 1.0) * $m4 / ($m2 * $m2) - 3 * ($n - 1.0)) " +
        s"/ (($n - 2.0) * ($n - 3.0)) ELSE NULL END)")
    })
    // DuckDB admits IGNORE/RESPECT NULLS INSIDE the window function's
    // parens (`lag(v, 1 IGNORE NULLS)`); standard SQL (and Spark) spell
    // it after the call — move it out
    val Ig = """(?i)\s+(IGNORE|RESPECT)\s+NULLS\s*\)""".r
    raw("nulls")(_.replace(Ig)(m => ") " + m.group(1).toUpperCase + " NULLS "))
    // aggregate FILTER over a WINDOW (Spark's FILTER clause is
    // aggregation-only): fold the predicate into the argument — shared
    // with the pre-EXCLUDE pipeline slot, see [[foldWindowFilter]]
    raw("filter")(lx => foldWindowFilter(lx.sql))
    // duck's 2-arg map(keys, values) builds from two LISTS. The MAP
    // literal rewrite (clauses phase) also emits varargs map('k', v) —
    // so only LIST-literal operands take the from-arrays form; anything
    // else stays Spark's pair form, which is what the literal path means
    call("map", 2, a =>
      if (a.forall(_.trim.toLowerCase.startsWith("array(")))
        Some(s"map_from_arrays(${a(0)}, ${a(1)})")
      else None)
    call("generate_subscripts", 2, a =>
      if (a(1).trim == "1")
        Some(s"explode(sequence(1, size(${a(0)})))") else None)
    // regexp flags as a trailing options argument: only 'i' (and the
    // no-op 'c') translate — the (?i) inline flag is the exact twin
    // regexp_matches aliased
    call("regexp_like", 3, a => a(2).trim match {
      case "'i'" => Some(s"regexp_like(${a(0)}, '(?i)' || ${a(1)})")
      case "'c'" => Some(s"regexp_like(${a(0)}, ${a(1)})")
      case _ => None
    })
    call("regexp_extract", 4, a => a(3).trim match {
      case "'i'" =>
        Some(s"regexp_extract(${a(0)}, '(?i)' || ${a(1)}, ${a(2)})")
      case "'c'" => Some(s"regexp_extract(${a(0)}, ${a(1)}, ${a(2)})")
      case _ => None
    })
    // regexp_extract with a NAME LIST third argument → a struct of the
    // numbered groups (probed: struct field order follows the list)
    call("regexp_extract", 3, a => {
      val lst = a(2).trim
      val inner =
        if (lst.toLowerCase.startsWith("array(") && lst.endsWith(")"))
          Some(lst.substring(6, lst.length - 1))
        else if (lst.startsWith("[") && lst.endsWith("]"))
          Some(lst.substring(1, lst.length - 1))
        else None
      inner.flatMap { names0 =>
        val names = splitTopLevel(names0).map(_.trim)
        if (names.isEmpty || names.exists(n =>
            !(n.startsWith("'") && n.endsWith("'")))) None
        else Some("named_struct(" + names.zipWithIndex.map {
          case (n, i) =>
            s"$n, regexp_extract(${a(0)}, ${a(1)}, ${i + 1})"
        }.mkString(", ") + ")")
      }
    })
    // --- r8 breadth batch 4 (probed) -----------------------------------
    // embedding/list math: sequential left folds mirror DuckDB's loops
    // (probed: cosine [1,2]·[2,4] = 0.9999999999999998 — the dot over
    // sqrt(na)*sqrt(nb) op order); int lists go through DOUBLE like duck
    def dotFold(a: String, b: String): String =
      s"aggregate(zip_with($a, $b, (gx, gy) -> CAST(gx AS DOUBLE) * gy), " +
        s"CAST(0 AS DOUBLE), (gs, gv) -> gs + gv)"
    def normFold(a: String): String =
      s"aggregate($a, CAST(0 AS DOUBLE), " +
        s"(gs, gx) -> gs + CAST(gx AS DOUBLE) * gx)"
    for (fn <- Seq("list_dot_product", "list_inner_product"))
      call(fn, 2, a => Some(dotFold(a(0), a(1))))
    call("list_cosine_similarity", 2, a => Some(
      s"(${dotFold(a(0), a(1))} / " +
        s"(sqrt(${normFold(a(0))}) * sqrt(${normFold(a(1))})))"))
    call("list_distance", 2, a => Some(
      s"sqrt(aggregate(zip_with(${a(0)}, ${a(1)}, (gx, gy) -> " +
        s"(CAST(gx AS DOUBLE) - gy) * (CAST(gx AS DOUBLE) - gy)), " +
        s"CAST(0 AS DOUBLE), (gs, gv) -> gs + gv))"))
    // 3-vector cross product (DuckDB: ARRAY(3) only; a wrong-sized list
    // errors there — the size guard reproduces that loudly)
    call("array_cross_product", 2, a => Some(
      s"(CASE WHEN size(${a(0)}) != 3 OR size(${a(1)}) != 3 THEN " +
        s"CAST(raise_error('array_cross_product: 3-element arrays " +
        s"only') AS ARRAY<DOUBLE>) ELSE array(" +
        // element_at (1-based), not brackets: a bracket here would be
        // re-semanticized by DuckSemantics on the analyzed plan
        s"CAST(element_at(${a(0)}, 2) AS DOUBLE) * element_at(${a(1)}, 3) - " +
        s"CAST(element_at(${a(0)}, 3) AS DOUBLE) * element_at(${a(1)}, 2), " +
        s"CAST(element_at(${a(0)}, 3) AS DOUBLE) * element_at(${a(1)}, 1) - " +
        s"CAST(element_at(${a(0)}, 1) AS DOUBLE) * element_at(${a(1)}, 3), " +
        s"CAST(element_at(${a(0)}, 1) AS DOUBLE) * element_at(${a(1)}, 2) - " +
        s"CAST(element_at(${a(0)}, 2) AS DOUBLE) * element_at(${a(1)}, 1)) END)"))
    // list_concat treats a NULL operand as empty (probed) — Spark's
    // concat is NULL-strict; runs AFTER the string-concat fix above so
    // the emitted concat() is never re-rewritten to concat_ws
    for (fn <- Seq("list_concat", "list_cat", "array_concat", "array_cat"))
      call(fn, -1, a => if (a.isEmpty) None else Some(
        s"concat(${a.map(x => s"ifnull($x, array())").mkString(", ")})"))
    call("list_unique", 1, a => Some(
      s"size(array_distinct(filter(${a(0)}, gx -> gx IS NOT NULL)))"))
    call("list_any_value", 1, a => Some(
      s"try_element_at(filter(${a(0)}, gx -> gx IS NOT NULL), 1)"))
    call("array_pop_front", 1, a => Some(
      s"slice(${a(0)}, 2, greatest(size(${a(0)}) - 1, 0))"))
    call("array_pop_back", 1, a => Some(
      s"slice(${a(0)}, 1, greatest(size(${a(0)}) - 1, 0))"))
    // LIKE-with-escape function spellings
    call("like_escape", 3, a =>
      Some(s"((${a(0)}) LIKE ${a(1)} ESCAPE ${a(2)})"))
    call("not_like_escape", 3, a =>
      Some(s"((${a(0)}) NOT LIKE ${a(1)} ESCAPE ${a(2)})"))
    call("ilike_escape", 3, a =>
      Some(s"(lower(${a(0)}) LIKE lower(${a(1)}) ESCAPE ${a(2)})"))
    call("not_ilike_escape", 3, a =>
      Some(s"(lower(${a(0)}) NOT LIKE lower(${a(1)}) ESCAPE ${a(2)})"))
    call("ord", 1, a => Some(s"ascii(${a(0)})"))
    // quantified subquery comparisons with exact IN twins: `= ANY (…)`
    // ≡ IN, `<> ALL (…)` ≡ NOT IN (same NULL semantics); all other
    // quantifier/operator combinations pass through and refuse
    val EqAny = """(?is)=\s*ANY\s*\(""".r
    raw("any")(_.replace(EqAny)(_ => " IN ("))
    val NeAll = """(?is)(?:<>|!=)\s*ALL\s*\(""".r
    raw("all")(_.replace(NeAll)(_ => " NOT IN ("))
    // frame `EXCLUDE NO OTHERS` is the default — strip it
    val NoOthers = """(?is)\s+EXCLUDE\s+NO\s+OTHERS""".r
    raw("exclude")(_.replace(NoOthers)(_ => " "))
    // two-parameter lambdas: DuckDB passes a 1-BASED element index as
    // the second parameter (probed: list_transform([1,2,3],(x,i)->x+i)
    // = [2,4,6]); Spark's transform/filter pass 0-based. Every
    // transform/filter in gateway SQL is the duck dialect (the names
    // arrive via the list_transform/list_filter aliases), so each use of
    // the index variable in the body shifts by one. Masked-view
    // word substitution; internal rewrites only emit 1-param lambdas.
    for (fn <- Seq("transform", "filter"))
      call(fn, 2, a => {
        val Lam2 = ("""(?is)^\(\s*([A-Za-z_]\w*)\s*,\s*([A-Za-z_]\w*)\s*""" +
          """\)\s*->\s*(.+)$""").r
        a(1).trim match {
          case Lam2(x, i, body) =>
            val re = s"\\b${java.util.regex.Pattern.quote(i)}\\b".r
            val shifted = SqlLex.replace(body, re)(_ => s"($i + 1)")
            Some(s"$fn(${a(0)}, ($x, $i) -> ${shifted})")
          case _ => None // 1-param lambda: agreed semantics, untouched
        }
      })
    // 3-arg substr/substring: DuckDB's general index algebra differs from
    // Spark's on TWO corners (both probed): start 0 counts the pre-1
    // position against the length (substr('abc',0,2)='a'; Spark clamps to
    // 1 → 'ab'), and a NEGATIVE length selects |len| chars BEFORE start
    // (substr('abc',3,-2)='ab'; Spark → ''). The exact model: begin =
    // start-1 (positive) / length+start unclamped (negative) / -1 (zero);
    // end = begin+len; bounds swap when len < 0; clamp to [0, length].
    // Positive-literal starts with non-negative literal lengths pass
    // through — Spark's native substring is already exact there.
    for (fn <- Seq("substr", "substring"))
      call(fn, 3, a => intArgs(a.tail) match {
        case Some(Seq(st, ln)) if st > 0 && ln >= 0 => None
        case _ =>
          val (s, st, ln) = (a(0), a(1), a(2))
          val begin = s"(CASE WHEN ($st) > 0 THEN ($st) - 1 " +
            s"WHEN ($st) < 0 THEN length($s) + ($st) ELSE -1 END)"
          val end = s"($begin + ($ln))"
          val lo = s"greatest(least($begin, $end), 0)"
          val hi = s"least(greatest($begin, $end), length($s))"
          // NULL start/length must propagate (probed: DuckDB returns
          // NULL; the begin CASE would otherwise fall to ELSE -1 and
          // greatest/least skip NULLs → silently wrong non-NULL rows)
          Some(s"(CASE WHEN ($st) IS NULL OR ($ln) IS NULL " +
            s"THEN CAST(NULL AS STRING) " +
            s"ELSE substring($s, $lo + 1, greatest($hi - $lo, 0)) END)")
      })
    // list element extraction spellings (1-based, NULL out of range —
    // probed); array_extract on a STRING operand refuses downstream
    for (fn <- Seq("list_extract", "list_element", "array_extract"))
      call(fn, 2, a =>
        Some(s"try_element_at(${a(0)}, ${a(1)})"))
    call("version", -1, a =>
      if (a.isEmpty || a == Seq("")) Some("'v1.0.0'") else None)
    // histogram AGGREGATE: sorted-key value→count map, NULLs dropped
    // (probed — the list_aggregate 'histogram' arm's aggregate twin)
    call("histogram", 1, a => {
      val lst = s"sort_array(collect_list(${a(0)}))"
      Some(s"map_from_entries(transform(array_distinct($lst), " +
        s"gv -> struct(gv, size(filter($lst, ge -> ge = gv)))))")
    })
    // left/right with a NEGATIVE count trim from the opposite end in
    // DuckDB (probed: left('hello',-2)='hel'); Spark returns '' — spell
    // the general form out
    call("left", 2, a => Some(
      s"substr(${a(0)}, 1, CASE WHEN ${a(1)} < 0 " +
        s"THEN greatest(length(${a(0)}) + ${a(1)}, 0) ELSE ${a(1)} END)"))
    call("right", 2, a => Some(
      s"substr(${a(0)}, CASE WHEN ${a(1)} < 0 THEN (0 - (${a(1)})) + 1 " +
        s"ELSE greatest(length(${a(0)}) - ${a(1)} + 1, 1) END, " +
        s"CASE WHEN ${a(1)} < 0 THEN length(${a(0)}) " +
        s"ELSE least(${a(1)}, length(${a(0)})) END)"))
    // list_has_any: TRUE only on a shared NON-NULL element; FALSE when
    // the only overlap is NULL (probed) — Spark arrays_overlap answers
    // NULL there, so pin the FALSE arm; NULL list in → NULL out
    call("list_has_any", 2, a => Some(
      s"(CASE WHEN ${a(0)} IS NULL OR ${a(1)} IS NULL THEN NULL " +
        s"ELSE coalesce(arrays_overlap(${a(0)}, ${a(1)}), false) END)"))
    // list_has_all: NULL elements of the needle list are ignored (probed:
    // [1,2] ⊇ [NULL] is TRUE); array_except is null-safe set difference
    call("list_has_all", 2, a => Some(
      s"(CASE WHEN ${a(0)} IS NULL OR ${a(1)} IS NULL THEN NULL " +
        s"ELSE size(array_except(filter(${a(1)}, graft_e -> " +
        s"graft_e IS NOT NULL), ${a(0)})) = 0 END)"))
    // list_resize(l, n[, v]): truncate or pad with v (default NULL) to
    // exactly n elements. sequence(0, n) sidesteps Spark's descending
    // sequence(1, 0) corner; the CASE guards element_at in ANSI mode.
    call("list_resize", -1, a =>
      if (a.length != 2 && a.length != 3) None
      else {
        val pad = if (a.length == 3) a(2) else "NULL"
        Some(s"slice(transform(sequence(0, ${a(1)}), graft_i -> " +
          s"CASE WHEN graft_i = 0 THEN NULL " +
          s"WHEN graft_i <= size(${a(0)}) THEN element_at(${a(0)}, graft_i) " +
          s"ELSE $pad END), 2, ${a(1)})")
      })
    // struct_insert on a struct-literal operand: append the named fields
    // to the (already rewritten) named_struct constructor — the new field
    // lands LAST, matching DuckDB's field order (probed). A non-literal
    // struct operand has no textual field list and refuses.
    call("struct_insert", -1, a => {
      val NamedArg = """(?is)^([A-Za-z_]\w*)\s*:=\s*(.+)$""".r
      val base = a.head.trim
      if (a.length < 2 || !base.toLowerCase.startsWith("named_struct(") ||
          !base.endsWith(")")) None
      else {
        val adds = a.tail.map(_.trim).map {
          case NamedArg(n, v) => Some(s"'$n', $v")
          case _ => None
        }
        if (adds.exists(_.isEmpty)) None
        else {
          val inner = base.substring("named_struct(".length, base.length - 1)
          Some(s"named_struct($inner, ${adds.flatten.mkString(", ")})")
        }
      }
    })
    // array_distinct is the same DuckDB function as list_distinct and
    // drops NULLs too (probed: [1,1,2,NULL] → [2,1]); runs BEFORE the
    // list_* fixes so their emitted array_distinct(filter(...)) text is
    // not re-wrapped
    call("array_distinct", 1, a => Some(
      s"array_distinct(filter(${a.head}, graft_e -> graft_e IS NOT NULL))"))
    // list_distinct drops NULLs (Spark array_distinct keeps)
    call("list_distinct", 1, a => Some(
      s"array_distinct(filter(${a.head}, graft_e -> graft_e IS NOT NULL))"))
    // array_to_string: DuckDB yields NULL for an EMPTY list (verified),
    // array_join yields '' — and '' is a legitimate output for [''], so
    // the guard must test emptiness, not the result
    call("array_to_string", 2, a => Some(
      s"(CASE WHEN size(${a(0)}) = 0 THEN NULL " +
      s"ELSE array_join(${a(0)}, ${a(1)}) END)"))
    // list_slice/array_slice: 1-based INCLUSIVE [a,b] (clamped) → slice's
    // (start, length); only positive literal bounds are provably
    // equivalent (negative indexes count from the end differently)
    // 4-arg form: step slice (probed: identical to x[b:e:s], bounds
    // clamped to the list; negative steps walk backward)
    for (fn <- Seq("list_slice", "array_slice")) {
      call(fn, 4, a => Some(
        s"graft_duck_slice_step(${a(0)}, ${a(1)}, ${a(2)}, ${a(3)}, true)"))
      call(fn, 3, a => {
        // a string-literal operand slices HERE (duckdb's array_slice works
        // on strings; Spark's slice() does not) — any int bounds, probed
        val strLit = SqlLex.plainLiteral(a(0))
        (a(1).trim, a(2).trim) match {
          case (i @ IntLit(), j @ IntLit()) if strLit.isDefined =>
            Some("'" + duckSliceLiteral(strLit.get,
              Some(i.toLong), Some(j.toLong)) + "'")
          case (i @ IntLit(), j @ IntLit()) if i.toLong > 0 && j.toLong > 0 =>
            Some(s"slice(${a(0)}, $i, ${math.max(0L, j.toLong - i.toLong + 1)})")
          case _ => // probed: 3-arg list_slice ≡ the bracket slice exactly
            Some(s"graft_duck_slice(${a(0)}, ${a(1)}, ${a(2)}, true, true)")
        }
      })
    }
    // range/generate_series (scalar list form): range is half-open,
    // generate_series inclusive. Literal-int arguments compute the exact
    // list here (covers the empty corners Spark's sequence() errors on);
    // non-literal generate_series maps to sequence(), whose inclusive
    // semantics match — an empty-range input errors loudly there rather
    // than silently mismatching.
    // table position (`FROM range(...)`, `JOIN range(...)`) is NOT the
    // scalar list form: Spark's native range TVF serves it (and the
    // SELECT * shape gets DuckDB's column name in dialectQuery) — the
    // scalar rewrite must leave it alone
    def scalarPos(s: String, start: Int): Boolean = {
      var j = start - 1
      while (j >= 0 && s.charAt(j).isWhitespace) j -= 1
      val e = j
      while (j >= 0 && s.charAt(j).isLetter) j -= 1
      val w = s.substring(j + 1, e + 1).toLowerCase
      w != "from" && w != "join"
    }
    call("range", -1, a => intArgs(a).flatMap {
      case Seq(n) => series(0, n, 1, inclusive = false)
      case Seq(s, e) => series(s, e, 1, inclusive = false)
      case Seq(s, e, st) => series(s, e, st, inclusive = false)
      case _ => None
    }, allowAt = scalarPos)
    call("generate_series", -1, a => (intArgs(a) match {
      case Some(Seq(n)) => series(0, n, 1, inclusive = true)
      case Some(Seq(s, e)) => series(s, e, 1, inclusive = true)
      case Some(Seq(s, e, st)) => series(s, e, st, inclusive = true)
      case None if a.length == 3 => Some(s"sequence(${a(0)}, ${a(1)}, ${a(2)})")
      case _ => None
    }), allowAt = scalarPos)
    // strftime with a LITERAL format string whose every %-code has an
    // exactly-equivalent JVM pattern → codegen'd date_format; any other
    // format (exotic codes like %-y/%U/%f, or a PER-ROW format column)
    // falls back to the native full-code-table duck_strftime expression.
    // strptime keeps the translate-or-refuse posture (parsing has no
    // native fallback).
    call("strftime", 2, a =>
      SqlLex.plainLiteral(a(1)).flatMap(strftimeToJavaPattern).map(p =>
        s"date_format(${a(0)}, '${p.replace("'", "''")}')")
        .orElse(Some(s"duck_strftime(${a(0)}, ${a(1)})")))
    call("strptime", 2, a =>
      SqlLex.plainLiteral(a(1)).flatMap(strftimeToJavaPattern).map(p =>
        s"to_timestamp(${a(0)}, '${p.replace("'", "''")}')"))
    // '01…'::BIT literal casts erase to the model string (BIT stores as a
    // '0'/'1' text — cornerType). LAST in this pass: the bit_* fixes above
    // key on the marker. Literal contents are read from the raw text, at
    // code positions only; non-literal ::BIT operands
    // stay and refuse downstream rather than skipping DuckDB's validation.
    val BitLit = """(?i)'([01]+)'\s*::\s*BIT(?:STRING)?\b""".r
    raw("::")(_.replaceRaw(BitLit)(m => s"'${m.group(1)}'"))
    steps.result()
  }

  /** Pin DuckDB defaults: run [[duckDefaultSteps]] in order over one
    * statement. A call rule runs when the lowercased text holds its name
    * (a raw pass when it holds one of its triggers); the text is lowercased
    * and lexed once per version, not once per step. */
  private def rewriteDuckDefaults(sql: String): String = {
    var out = sql
    var lower = sql.toLowerCase
    var lex: SqlLex = null
    def lexed: SqlLex = { if (lex == null) lex = SqlLex(out); lex }
    for (step <- duckDefaultSteps) {
      val next = step match {
        case c: DuckCall if lower.contains(c.name) => rewriteCalls(lexed, c)
        case r: DuckRaw if r.when.exists(lower.contains) => r.pass(lexed)
        case _ => out
      }
      if (next ne out) { out = next; lower = out.toLowerCase; lex = null }
    }
    out
  }

  /** The lexed text with every call of `c` rewritten. Calls are found, and
    * their closing parens matched, on the [[SqlLex]] masked view. A call's
    * arguments are rewritten before the call itself, so each nested
    * same-name call is rewritten exactly once, and no rule ever sees its
    * own output. */
  private def rewriteCalls(lx: SqlLex, c: DuckCall): String = {
    val s = lx.sql
    val calls = lx.find(c.re).map(m => (m.start, m.end, lx.close(m.end - 1)))
      .filter(_._3 >= 0).toVector
    var k = 0
    var rewrote = false
    // s(from until to), every call that starts inside it rewritten
    def span(from: Int, to: Int): String = {
      val sb = new java.lang.StringBuilder
      var last = from
      while (k < calls.length && calls(k)._1 < to) {
        val (start, open, close) = calls(k)
        k += 1
        val args = span(open, close)
        val built =
          if (!c.allowAt(s, start)) None
          else {
            val a = splitTopLevel(args).map(_.trim)
            if (c.arity < 0 || a.length == c.arity) c.rebuild(a) else None
          }
        sb.append(s, last, start)
        built match {
          case Some(b) => rewrote = true; sb.append(b)
          case None => sb.append(s, start, open).append(args).append(')')
        }
        last = close + 1
      }
      sb.append(s, last, to).toString
    }
    if (calls.isEmpty) s
    else { val out = span(0, s.length); if (rewrote) out else s }
  }

  private def intArgs(a: Seq[String]): Option[Seq[Long]] = {
    val IntLit = """^-?\d+$""".r
    if (a.forall(s => IntLit.findFirstIn(s).isDefined)) Some(a.map(_.toLong))
    else None
  }

  /** A literal integer series as an `array(...)` SQL literal — the exact
    * spelling of DuckDB's range (half-open) / generate_series (inclusive)
    * for literal bounds, including the empty corners that Spark's
    * `sequence()` raises on. Bounded at 100k elements (literal lists only;
    * anything bigger refuses rather than exploding the SQL text). */
  private def series(start: Long, stop: Long, step: Long,
      inclusive: Boolean): Option[String] = {
    if (step == 0) return None
    val b = scala.collection.mutable.ListBuffer[Long]()
    var v = start
    while (if (step > 0) (if (inclusive) v <= stop else v < stop)
           else (if (inclusive) v >= stop else v > stop)) {
      b += v; v += step
      if (b.length > 100000) return None
    }
    Some(if (b.isEmpty) "array()" else b.mkString("array(", ", ", ")"))
  }

  /** fmt-style `format()` template + argument texts → a complete
    * `format_string(...)` call, for the spec subset whose printf rendering
    * is bit-identical to DuckDB's fmt (every mapping probed against
    * DuckDB 1.0): `{}`/`{N}` (→ `%N$s` over a STRING-cast argument —
    * Spark's string cast renders int/double/bool/date exactly as fmt
    * does), types d/s/f/e/E/x/X/o, width, `<`/`>` align (fmt's
    * string-left default included), `0`-pad, `+`/space sign, `#` alt
    * form, `,` grouping (integers only — fmt REFUSES `{:,.2f}`, so comma
    * with a float type refuses here too), precision for f/e/E/s, and
    * `{{`/`}}`/`%` literals. Outside the subset (bare width with no
    * type or align — fmt aligns by ARGUMENT type there; `g` — Java keeps
    * trailing zeros fmt trims; `b` binary; fill chars; `^` centering;
    * mixed auto+indexed) → None, and the whole call refuses. */
  private def fmtTemplateToJava(template: String,
      args: Seq[String]): Option[String] = {
    case class Ph(idx: Option[Int], spec: String)
    val pieces = scala.collection.mutable.ListBuffer[Either[String, Ph]]()
    val lit = new StringBuilder
    var i = 0
    while (i < template.length) {
      val c = template.charAt(i)
      if (c == '{' && i + 1 < template.length && template.charAt(i + 1) == '{') {
        lit += '{'; i += 2
      } else if (c == '}' && i + 1 < template.length &&
          template.charAt(i + 1) == '}') {
        lit += '}'; i += 2
      } else if (c == '{') {
        val j = template.indexOf('}', i)
        if (j < 0) return None
        val inside = template.substring(i + 1, j)
        val (idxTxt, spec) = inside.indexOf(':') match {
          case -1 => (inside, "")
          case k => (inside.substring(0, k), inside.substring(k + 1))
        }
        val idx =
          if (idxTxt.isEmpty) None
          else if (idxTxt.nonEmpty && idxTxt.forall(_.isDigit)) Some(idxTxt.toInt)
          else return None
        pieces += Left(lit.toString); lit.clear()
        pieces += Right(Ph(idx, spec))
        i = j + 1
      } else if (c == '}') return None
      else { lit += c; i += 1 }
    }
    pieces += Left(lit.toString)

    val phs = pieces.collect { case Right(p) => p }
    // fmt errors on mixing automatic and manual indexing — refuse the mix
    if (!phs.forall(_.idx.isEmpty) && !phs.forall(_.idx.isDefined)) return None

    /** spec → (java spec after `%idx$`, arg cast: 'n' none, 's' STRING,
      * 'd' DOUBLE — %f/%e reject Catalyst Decimal args, so float convs
      * take the argument through an explicit DOUBLE cast). */
    def specToJava(spec: String): Option[(String, Char)] = {
      if (spec.isEmpty) return Some(("s", 's'))
      var s = spec
      if (s.length >= 2 && "<>^".contains(s.charAt(1))) return None // fill char
      var align = ' '
      if ("<>^".contains(s.charAt(0))) { align = s.charAt(0); s = s.drop(1) }
      if (align == '^') return None
      var sign: Option[Char] = None
      if (s.nonEmpty && "+- ".contains(s.charAt(0))) {
        sign = Some(s.charAt(0)); s = s.drop(1)
      }
      var hash = false
      if (s.startsWith("#")) { hash = true; s = s.drop(1) }
      var zero = false
      if (s.startsWith("0")) { zero = true; s = s.drop(1) }
      val wEnd = s.indexWhere(!_.isDigit) match { case -1 => s.length; case k => k }
      val width = s.substring(0, wEnd); s = s.substring(wEnd)
      var comma = false
      if (s.startsWith(",")) { comma = true; s = s.drop(1) }
      var prec = ""
      if (s.startsWith(".")) {
        val p = s.drop(1)
        val pEnd = p.indexWhere(!_.isDigit) match { case -1 => p.length; case k => k }
        if (pEnd == 0) return None
        prec = "." + p.substring(0, pEnd); s = p.substring(pEnd)
      }
      val signFlag = sign match {
        case Some('+') => "+"; case Some(' ') => " "; case _ => "" // '-' = default
      }
      val leftFlag = if (align == '<') "-" else ""
      val zeroFlag = if (zero) "0" else ""
      s match { // the remaining text must be exactly the type letter
        case "d" =>
          if (hash || prec.nonEmpty) None
          else Some((leftFlag + signFlag + zeroFlag + (if (comma) "," else "") +
            width + "d", 'n'))
        case "f" | "e" | "E" =>
          if (hash || comma) None
          else Some((leftFlag + signFlag + zeroFlag + width + prec + s, 'd'))
        case "x" | "X" | "o" =>
          if (sign.nonEmpty || comma || prec.nonEmpty) None
          else Some((leftFlag + (if (hash) "#" else "") + zeroFlag + width + s,
            'n'))
        case "s" =>
          if (sign.nonEmpty || hash || zero || comma) None
          // fmt left-aligns strings by default; Java right-aligns → '-'
          else Some(((if (align != '>') "-" else "") + width + prec + "s", 's'))
        case "g" =>
          // bare {:g} only: Java %g is fmt's %g EXCEPT it keeps trailing
          // zeros fmt trims — the argument wrapper ('g' cast mode) trims
          // them with two anchored regex passes (duckdb-verified corners:
          // 12345.7, 1.5, 2, 1e+20, 1.2345e-05, 1.23457e+06)
          if (align == ' ' && sign.isEmpty && !hash && !zero &&
              width.isEmpty && !comma && prec.isEmpty) Some(("s", 'g'))
          else None
        case "" =>
          if (comma && align == ' ' && sign.isEmpty && !hash && !zero &&
              width.isEmpty && prec.isEmpty) Some((",d", 'n'))
          else if (width.nonEmpty && align == '<' && sign.isEmpty && !hash &&
              !zero && !comma && prec.isEmpty) Some(("-" + width + "s", 's'))
          else if (width.nonEmpty && align == '>' && sign.isEmpty && !hash &&
              !zero && !comma && prec.isEmpty) Some((width + "s", 's'))
          else None // bare width aligns by ARGUMENT type in fmt — unknowable
        case _ => None
      }
    }

    var autoCount = 0
    val argCast = Array.fill(args.length)(Option.empty[Char])
    val out = new StringBuilder
    for (p <- pieces) p match {
      case Left(text) =>
        text.foreach { case '%' => out ++= "%%"; case ch => out += ch }
      case Right(ph) =>
        val argIdx = ph.idx.getOrElse { val k = autoCount; autoCount += 1; k }
        if (argIdx >= args.length) return None
        // arg-shape-aware specs: a BARE width aligns by argument type in
        // fmt (numbers right, strings left) — decidable here only for
        // literal arguments; `b` (binary) spells as conv(x, 10, 2) for
        // non-negative integer literals (conv would two's-complement a
        // negative). Non-literal arguments refuse.
        val argText = args(argIdx)
        val special: Option[(String, Char)] = ph.spec match {
          case "b" if argText.matches("""\d+""") => Some(("s", 'b'))
          case sp if sp.nonEmpty && sp.forall(_.isDigit) =>
            if (argText.matches("""-?\d+(\.\d+)?""")) Some((sp + "s", 's'))
            else if (argText.length >= 2 && argText.head == '\'' &&
              argText.last == '\'') Some(("-" + sp + "s", 's'))
            else None
          case _ => None
        }
        special.orElse(specToJava(ph.spec)) match {
          case None => return None
          case Some((conv, cast)) =>
            argCast(argIdx) match {
              case Some(prev) if prev != cast => return None // conflicting uses
              case _ => argCast(argIdx) = Some(cast)
            }
            out ++= "%"; out ++= (argIdx + 1).toString; out ++= "$"; out ++= conv
        }
    }
    val wrapped = args.zipWithIndex.map { case (a, k) => argCast(k) match {
      case Some('s') => s"CAST($a AS STRING)"
      case Some('d') => s"CAST($a AS DOUBLE)"
      case Some('b') => s"conv($a, 10, 2)"
      case Some('g') =>
        // %g then trim trailing mantissa zeros (and a bare trailing dot)
        "regexp_replace(regexp_replace(format_string('%g', CAST(" + a +
          " AS DOUBLE)), '(\\\\.[0-9]*?)0+(e[+-][0-9]+)?$', '$1$2'), " +
          "'\\\\.(?=e|$)', '')"
      case _ => a
    } }
    Some(s"format_string('${out.toString}', ${wrapped.mkString(", ")})")
  }

  /** C-style strftime codes → JVM datetime pattern, only for codes whose
    * Spark rendering is exactly DuckDB's (both engines document these):
    * full/abbrev day + month names agree, zero-padded numerics agree.
    * Literal text is pattern-quoted. Returns None on any unknown code. */
  private def strftimeToJavaPattern(fmt: String): Option[String] = {
    val codes = Map('Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'd' -> "dd",
      'H' -> "HH", 'I' -> "hh", 'M' -> "mm", 'S' -> "ss", 'p' -> "a",
      'j' -> "DDD", 'B' -> "MMMM", 'b' -> "MMM", 'A' -> "EEEE",
      'a' -> "EEE")
    // `%-X` = X without zero padding; the single-letter JVM pattern is
    // exactly the unpadded field (verified vs DuckDB 1.0: %-d→"5",
    // %-H:%-M:%-S→"3:7:9", %-j→"5"). %-y has no JVM twin (DuckDB prints
    // year%100 unpadded; "y" is the FULL year) and stays refused.
    val noPad = Map('d' -> "d", 'm' -> "M", 'H' -> "H", 'I' -> "h",
      'M' -> "m", 'S' -> "s", 'j' -> "D")
    val sb = new StringBuilder
    val lit = new StringBuilder
    def flushLit(): Unit = if (lit.nonEmpty) {
      // quote literal runs so letters aren't read as pattern codes
      if (lit.exists(c => c.isLetter || c == '\''))
        sb.append("'").append(lit.toString.replace("'", "''")).append("'")
      else sb.append(lit)
      lit.clear()
    }
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        val code = fmt.charAt(i + 1)
        if (code == '%') { lit += '%'; i += 2 }
        else if (code == '-' && i + 2 < fmt.length &&
            noPad.contains(fmt.charAt(i + 2))) {
          flushLit(); sb.append(noPad(fmt.charAt(i + 2))); i += 3
        }
        else codes.get(code) match {
          case Some(p) => flushLit(); sb.append(p); i += 2
          case None => return None
        }
      } else if (c == '%') return None
      else { lit += c; i += 1 }
    }
    flushLit()
    Some(sb.toString)
  }

  /** `TIMESTAMPTZ '<text>'` / `'<text>'::TIMESTAMPTZ` literals → a
    * `TIMESTAMP '<utc>'` literal, converted at rewrite time: DuckDB
    * parses the offset/zone and stores the instant, rendered in the
    * session zone (UTC here) — probed value-exact incl. equality against
    * the converted naive TIMESTAMP. Full text grammar (single-digit
    * fields, named zones, Z, 24:00:00, truncated fractions, duck's
    * rejection of short/second-bearing offsets) lives in
    * [[graft.functions.DuckTstzCast]], which is also the r14 PER-ROW
    * path for non-literal casts. The rewrite runs after the
    * timezone()/AT TIME ZONE spelling dispatch in
    * [[rewriteDuckDefaults]], which reads the TIMESTAMPTZ spelling to
    * pick the conversion direction (instant→local vs local→instant). */
  private def tstzLiteralToUtc(text: String): String =
    graft.functions.DuckTstzCast.toUtcText(text)

  /** DuckDB clause-level sugar with an exactly-equivalent Spark spelling:
    * bare VARCHAR/BLOB cast targets, `USING SAMPLE` → TABLESAMPLE, bare
    * `SEMI/ANTI JOIN` → `LEFT SEMI/ANTI JOIN` (DuckDB's SEMI is left
    * semi), and the operator spellings Spark lacks. The cast targets and
    * operators are matched on the [[SqlLex]] masked view and spliced from
    * the raw text, so cast- or operator-shaped TEXT inside a string literal
    * or quoted identifier stays byte-exact. */
  private def rewriteDuckClauses(sql: String): String = {
    var out = sql
    if (out.toLowerCase.contains("varchar")) {
      out = SqlLex.replace(out, """(?i)::\s*varchar(?![\w(])""".r)(_ => "::STRING")
      out = SqlLex.replace(out, """(?i)\bas\s+varchar\s*\)""".r)(_ => "AS STRING)")
    }
    if (out.toLowerCase.contains("blob")) {
      out = SqlLex.replace(out, """(?i)::\s*blob\b""".r)(_ => "::BINARY")
      out = SqlLex.replace(out, """(?i)\bas\s+blob\s*\)""".r)(_ => "AS BINARY)")
    }
    // unsigned integer casts: range-GUARDED onto the next wider signed
    // type — DuckDB raises on out-of-range (probed: 300::UTINYINT,
    // (-1)::UTINYINT, 70000::USMALLINT all Conversion Error), so a blind
    // widening would be silently wrong
    if (out.toLowerCase.contains("utinyint") ||
        out.toLowerCase.contains("usmallint") ||
        out.toLowerCase.contains("uinteger") ||
        out.toLowerCase.contains("ubigint")) {
      val Op = """('(?:[^']|'')*'|(?:[\w.]+)?\([^()]*\)|[\w.]+)"""
      val ranges = Seq(
        ("utinyint", "0", "255", "SMALLINT"),
        ("usmallint", "0", "65535", "INT"),
        ("uinteger", "0", "4294967295", "BIGINT"),
        ("ubigint", "0", "18446744073709551615", "DECIMAL(20,0)"))
      def guarded(x: String, lo: String, hi: String, t: String, n: String) =
        s"(CASE WHEN ($x) IS NULL THEN CAST(NULL AS $t) " +
          s"WHEN ($x) BETWEEN $lo AND $hi THEN CAST($x AS $t) " +
          s"ELSE CAST(raise_error('Conversion Error: value is out of " +
          s"range for ${n.toUpperCase}') AS $t) END)"
      for ((n, lo, hi, t) <- ranges if out.toLowerCase.contains(n)) {
        val Colon = (s"(?i)$Op\\s*::\\s*$n\\b").r
        out = SqlLex.replace(out, Colon)(m => guarded(m.group(1), lo, hi, t, n))
        val CastForm = (s"(?i)\\bCAST\\s*\\(([^()]+?)\\s+AS\\s+$n\\s*\\)").r
        out = SqlLex.replace(out, CastForm)(m => guarded(m.group(1), lo, hi, t, n))
      }
    }
    // every clause spelling below is matched on the masked view: the same
    // words inside a string literal are data
    def sub(re: String)(f: scala.util.matching.Regex.Match => String): Unit =
      out = SqlLex.replace(out, ("(?i)" + re).r)(f)
    def rows(m: scala.util.matching.Regex.Match) = s"TABLESAMPLE (${m.group(1)} ROWS)"
    def percent(m: scala.util.matching.Regex.Match) =
      s"TABLESAMPLE (${m.group(1)} PERCENT)"
    // `GROUP BY ()` is the empty grouping set (probed: one global row);
    // Spark's parser wants the GROUPING SETS spelling
    if (out.toLowerCase.contains("group by"))
      sub("""\bGROUP\s+BY\s*\(\s*\)""")(_ => "GROUP BY GROUPING SETS (())")
    if (out.toLowerCase.contains("using sample")) {
      sub("""\busing\s+sample\s+(\d+(?:\.\d+)?)\s*(?:%|percent\b)\s*""" +
        """\(\s*(?:bernoulli|system)\s*\)""")(percent)
      sub("""\busing\s+sample\s+(\d+)\s+rows\b""")(rows)
      sub("""\busing\s+sample\s+(\d+(?:\.\d+)?)\s*(?:%|percent\b)""")(percent)
      sub("""\busing\s+sample\s+reservoir\s*\(\s*(\d+)(?:\s+rows)?\s*\)""")(rows)
      // bare row count: `USING SAMPLE 2` samples 2 rows (probed)
      sub("""\busing\s+sample\s+(\d+)\b(?!\s*(?:%|percent|rows))""")(rows)
    }
    if (out.toLowerCase.contains("tablesample")) {
      sub("""\btablesample\s+reservoir\s*\(\s*(\d+)(?:\s+rows)?\s*\)""")(rows)
      // DuckDB admits parenless TABLESAMPLE (`t TABLESAMPLE 100%`,
      // `TABLESAMPLE 3 ROWS` — probed); Spark's grammar wants parens
      sub("""\btablesample\s+(\d+(?:\.\d+)?)\s*(?:%|percent\b)""")(percent)
      sub("""\btablesample\s+(\d+)\s+rows\b""")(rows)
    }
    // standard FETCH FIRST/NEXT n ROWS ONLY ≡ LIMIT n (ROW alone = 1)
    if (out.toLowerCase.contains("fetch")) {
      sub("""\bFETCH\s+(?:FIRST|NEXT)\s+(\d+)\s+ROWS?\s+ONLY""")(m =>
        s"LIMIT ${m.group(1)}")
      sub("""\bFETCH\s+(?:FIRST|NEXT)\s+ROW\s+ONLY""")(_ => "LIMIT 1")
    }
    if (out.toLowerCase.contains("join"))
      sub("""(?<!left\s)(?<!right\s)\b(semi|anti)\s+join\b""")(m =>
        s"LEFT ${m.group(1)} JOIN")
    if (out.toLowerCase.contains("interval")) {
      // DuckDB's single interval type mixes year-month and day-time
      // units in one literal; Spark's two interval types cannot — a mixed
      // `INTERVAL '1 year 2 months 3 days'` becomes make_interval(...)
      // (CalendarIntervalType, which adds to dates and timestamps).
      // Single-kind strings are left for Spark's own literal parser.
      val Term = """(?i)(-?\d+(?:\.\d+)?)\s*(years?|yrs?|months?|mons?|weeks?|days?|hours?|hrs?|minutes?|mins?|seconds?|secs?)""".r
      val Lit = """(?i)\binterval\s*'([^']+)'(?!\s*(?:year|month|week|day|hour|minute|second|yr|mon|min|sec|hr))""".r
      out = SqlLex(out).replaceRaw(Lit) { m =>
        val terms = Term.findAllMatchIn(m.group(1)).map(t =>
          (t.group(1), t.group(2).toLowerCase)).toSeq
        val joined = terms.map(t => t._1 + t._2).mkString
        def kind(u: String) = if (u.startsWith("y") || u.startsWith("mon")) "ym" else "dt"
        val kinds = terms.map(t => kind(t._2)).distinct
        // rewrite only a well-formed, fully-consumed, MIXED literal
        if (terms.isEmpty || kinds.size < 2 ||
            m.group(1).replaceAll("""[\s,]""", "") != joined) m.matched
        else {
          def slot(p: String*) =
            terms.filter(t => p.exists(t._2.startsWith)).map(_._1)
              .reduceOption((a, b) => s"$a + $b").getOrElse("0")
          s"make_interval(${slot("y")}, ${slot("mon")}, ${slot("w")}, " +
            s"${slot("d")}, ${slot("ho", "hr")}, ${slot("min")}, ${slot("s")})"
        }
      }
      // `INTERVAL (expr) UNIT` (parenthesized count) — Spark only accepts
      // literal counts there; route through make_interval's typed slots
      val Paren = """(?i)\binterval\s*\(([^()']*)\)\s*(year|month|week|day|hour|minute|second)s?\b""".r
      out = SqlLex.replace(out, Paren) { m =>
        val e = m.group(1)
        val slots = Seq("year", "month", "week", "day", "hour", "minute", "second")
          .map(u => if (u == m.group(2).toLowerCase) s"($e)" else "0")
        s"make_interval(${slots.mkString(", ")})"
      }
    }
    // --- DuckDB operator spellings with no Spark twin (r8) -------------
    // CTE materialization hints are advisory — strip them
    if (out.toLowerCase.contains("materialized"))
      sub("""\bAS\s+(?:NOT\s+)?MATERIALIZED\s*\(""")(_ => "AS (")
    // operand shape shared by the infix rewrites below: a quoted literal,
    // a dotted identifier/number, or a simple (possibly named) call
    val Operand = """('(?:[^']|'')*'|(?:[\w.]+)?\([^()]*\)|[\w.]+)"""
    // x [NOT] SIMILAR TO p and the ~ / !~ aliases: FULL-match regex
    // (probed: 'abc' ~ 'b' is FALSE) → anchored regexp_like
    if (out.toLowerCase.contains("similar to") || out.contains("~")) {
      val Sim = (s"(?i)$Operand\\s+(NOT\\s+)?SIMILAR\\s+TO\\s+$Operand").r
      out = SqlLex.replace(out, Sim)(m =>
        s"${if (m.group(2) != null) "NOT " else ""}" +
          s"regexp_like(${m.group(1)}, concat('^(?:', ${m.group(3)}, ')$$'))")
      // `~~~` is the GLOB operator (probed; no !~~~ exists in DuckDB 1.0)
      // — spelled out to GLOB so the glob→regex rewrite below handles it.
      // Runs before the LIKE aliases so `~~` never eats its prefix.
      val GlobOp = (s"$Operand\\s*~~~\\s*$Operand").r
      out = SqlLex.replace(out, GlobOp)(m => s"${m.group(1)} GLOB ${m.group(2)}")
      // LIKE-operator aliases first — `~~` must not be eaten as `~`
      // (probed: ~~ LIKE, !~~ NOT LIKE, ~~* ILIKE, !~~* NOT ILIKE)
      val LikeOp = (s"$Operand\\s*(!~~\\*|!~~|~~\\*|~~)\\s*$Operand").r
      out = SqlLex.replace(out, LikeOp) { m =>
        val ci = m.group(2).endsWith("*")
        val neg = if (m.group(2).startsWith("!")) "NOT " else ""
        if (ci) s"(lower(${m.group(1)}) ${neg}LIKE lower(${m.group(3)}))"
        else s"(${m.group(1)} ${neg}LIKE ${m.group(3)})"
      }
      val Tilde = (s"$Operand\\s*(!?)~\\s*$Operand").r
      out = SqlLex.replace(out, Tilde)(m =>
        s"${if (m.group(2) == "!") "NOT " else ""}" +
          s"regexp_like(${m.group(1)}, concat('^(?:', ${m.group(3)}, ')$$'))")
    }
    // list containment operators: a @> b is contains-all, a <@ b the
    // reverse (probed) — routed through list_has_all's NULL-exact fix
    if (out.contains("@>") || out.contains("<@")) {
      val Cont = (s"$Operand\\s*(@>|<@)\\s*$Operand").r
      out = SqlLex.replace(out, Cont)(m =>
        if (m.group(2) == "@>") s"list_has_all(${m.group(1)}, ${m.group(3)})"
        else s"list_has_all(${m.group(3)}, ${m.group(1)})")
    }
    // quantified LIST comparisons: `x op ANY(list)` / `x op ALL(list)`
    // (SOME = ANY) → exists/forall, whose three-valued NULL handling is
    // DuckDB-exact (probed: 3 = ANY([1,NULL]) NULL, 1 = ANY([1,NULL])
    // true, ANY of empty false, ALL of empty true, 1 <> ALL([1,NULL])
    // false); a NULL LIST counts as empty (probed: = ANY(NULL) false,
    // <> ALL(NULL) true) — the CASE guard. Subquery forms pass through.
    if ("""(?i)\b(any|some|all)\s*\(""".r.findFirstIn(out).isDefined) {
      // lhs also admits a typed literal (DATE '...', TIMESTAMP '...') —
      // Operand alone captures just the quoted part and the comparison
      // would run against a string (probed: DATE lhs is common)
      val QOperand =
        """((?:(?:DATE|TIMESTAMPTZ|TIME|TIMESTAMP|INTERVAL)\s+)?""" +
          """(?:'(?:[^']|'')*'|(?:[\w.]+)?\([^()]*\)|[\w.]+))"""
      val Quant =
        (s"(?i)$QOperand\\s*(=|==|<>|!=|<=|>=|<|>)\\s*(ANY|SOME|ALL)\\s*\\(").r
      var more = true
      // scan cursor: an unsupported quantifier (e.g. `< ALL(subq)`) skips
      // PAST its match instead of aborting the loop, so later rewritable
      // occurrences in the same statement still rewrite (r12 advice)
      var from = 0
      while (more) {
        val qIn = out
        val lx = SqlLex(qIn)
        lx.find(Quant).find(_.start >= from) match {
          case None => more = false
          case Some(m) =>
            // compound-lhs guard: Operand captures only the TRAILING
            // simple term of `'x' || c = ANY(...)`, so a rewrite would
            // rebind precedence — `'x' || exists(...)` string-concats a
            // boolean SILENTLY (DuckDB parses the whole ||-chain as the
            // lhs). Refuse loudly; the parenthesized spelling
            // `('x' || c) = ANY(...)` matches Operand's call form and
            // rewrites correctly.
            val prevCh = qIn.substring(0, m.start).reverse
              .dropWhile(_.isWhitespace).headOption
            if (prevCh.exists(c => "|&+-*/%^~!=<>".contains(c)))
              throw new IllegalArgumentException(
                "quantified comparison with a compound left operand is " +
                "not supported: parenthesize it, e.g. (a || b) " +
                s"${m.group(2)} ${m.group(3)}(...)")
            val i = lx.close(m.end - 1) + 1
            if (i == 0) more = false
            else if ("""(?is)^\s*(select|values|with|table)\b""".r
                .findFirstIn(qIn.substring(m.end)).isDefined) {
              // SUBQUERY form. `x = ANY(q)` IS `x IN (q)` and
              // `x <> ALL(q)` IS `x NOT IN (q)` — standard-SQL identities
              // DuckDB follows (probed incl. NULL lhs and empty q); those
              // keep the semi-join plan. Every OTHER op × quantifier
              // rewrites to a three-valued CASE over the subquery's
              // (count, null-count, min/max) scalar aggregates — the
              // standard quantified-comparison algebra, probed exact vs
              // DuckDB 1.0 for empty q, NULL lhs, NULL elements and
              // all-NULL q (r12 verdict item 6): `x < ANY(q)` is true iff
              // x < max(q), false on empty, NULL on NULL lhs or when no
              // non-null element beats x but NULLs exist; ALL dualizes
              // (empty → true, false iff x fails against min/max). Spark
              // reuses the identical scalar subqueries (ReuseSubquery),
              // so q is scanned once, not three times. Lhs shapes
              // QOperand cannot capture (nested-paren operands) fall
              // through to rewriteDuckDefaults' counting-subquery
              // FALLBACK with the same probed truth table — a semantics
              // fix must land in both passes.
              val arg = qIn.substring(m.end, i - 1)
              val op = if (m.group(2) == "==") "="
                else if (m.group(2) == "!=") "<>" else m.group(2)
              val all = m.group(3).equalsIgnoreCase("all")
              val L = s"(${m.group(1)})"
              def agg(fn: String) =
                s"(SELECT $fn FROM ($arg) graft_qsub(graft_qv))"
              val cnt = agg("count(*)")
              val nulls = agg("count(*) - count(graft_qv)")
              val mn = agg("min(graft_qv)")
              val mx = agg("max(graft_qv)")
              val NULLB = "CAST(NULL AS BOOLEAN)"
              def caseOf(emptyVal: String, decided: String, decidedVal: String,
                  elseVal: String) =
                s"(CASE WHEN $cnt = 0 THEN $emptyVal " +
                  s"WHEN $L IS NULL THEN $NULLB " +
                  s"WHEN $decided THEN $decidedVal " +
                  s"WHEN $nulls > 0 THEN $NULLB ELSE $elseVal END)"
              val repl = (op, all) match {
                case ("=", false) => s"($L IN ($arg))"
                case ("<>", true) => s"($L NOT IN ($arg))"
                case ("<", false)  => caseOf("false", s"$L < $mx", "true", "false")
                case ("<=", false) => caseOf("false", s"$L <= $mx", "true", "false")
                case (">", false)  => caseOf("false", s"$L > $mn", "true", "false")
                case (">=", false) => caseOf("false", s"$L >= $mn", "true", "false")
                case ("<", true)   => caseOf("true", s"$L >= $mn", "false", "true")
                case ("<=", true)  => caseOf("true", s"$L > $mn", "false", "true")
                case (">", true)   => caseOf("true", s"$L <= $mx", "false", "true")
                case (">=", true)  => caseOf("true", s"$L < $mx", "false", "true")
                case ("=", true)   =>
                  caseOf("true", s"$mn <> $L OR $mx <> $L", "false", "true")
                case ("<>", false) =>
                  caseOf("false", s"$mn <> $L OR $mx <> $L", "true", "false")
                case _ => m.matched + arg + ")" // unreachable op: loud
              }
              if (repl == m.matched + arg + ")") { from = i } // skip past it
              else out = qIn.substring(0, m.start) + repl + qIn.substring(i)
            }
            else {
              val arg = qIn.substring(m.end, i - 1)
              val op = if (m.group(2) == "==") "=" else m.group(2)
              val (fn, onNull) =
                if (m.group(3).equalsIgnoreCase("all")) ("forall", "true")
                else ("exists", "false")
              // a bare NULL list has no array type to give exists/forall —
              // it IS the probed constant (ANY(NULL) false, ALL(NULL) true).
              // A literal [..] list can never be NULL: skip the CASE guard
              // (which would duplicate the arg text — compounding under
              // nested quantifiers)
              val repl =
                if (arg.trim.equalsIgnoreCase("null")) onNull
                else if (arg.trim.startsWith("["))
                  s"$fn($arg, graft_q -> (${m.group(1)}) $op graft_q)"
                else s"(CASE WHEN ($arg) IS NULL THEN $onNull ELSE " +
                  s"$fn($arg, graft_q -> (${m.group(1)}) $op graft_q) END)"
              out = qIn.substring(0, m.start) + repl + qIn.substring(i)
            }
        }
      }
    }
    // numeric literals may carry underscore separators (1_000_000)
    if (out.contains("_")) {
      val Und = """(?<![\w'.])(\d[\d_]*\d)(?![\w])""".r
      out = SqlLex.replace(out, Und)(_.matched.replace("_", ""))
    }
    // comparisons under DuckDB collations fold BOTH sides (probed:
    // 'ABC' = 'abc' COLLATE NOCASE true, 'a' < 'B' COLLATE NOCASE true)
    // — NOCASE via lower, NOACCENT via the registered strip_accents,
    // dotted combinations compose ('Ölung' = 'olung' COLLATE
    // NOCASE.NOACCENT — probed). A leftover single-operand COLLATE (an
    // ORDER BY key) folds just that key; it never fires on a
    // comparison's right side (the operator guard), so both-sides
    // folding can't silently degrade to one-sided.
    if (out.toLowerCase.contains("collate")) {
      val Spec = """((?:NOCASE|NOACCENT)(?:\.(?:NOCASE|NOACCENT))*)"""
      def fold(expr: String, spec: String): String =
        spec.toLowerCase.split("\\.").foldLeft(expr) {
          case (e, "nocase") => s"lower($e)"
          case (e, "noaccent") => s"strip_accents($e)"
          case (e, _) => e
        }
      // both-sides spelling FIRST (before the right-side rule, whose
      // leading Operand would otherwise greedily match the left spec
      // word): same spec folds once (probed: 'ABC' COLLATE NOCASE =
      // 'abc' COLLATE NOCASE → true); DIFFERENT specs are DuckDB's
      // binder error ("Cannot combine types with different collation!")
      // — left unmatched, they refuse loudly
      val ColBoth = (s"(?i)$Operand\\s+COLLATE\\s+$Spec" +
        s"\\s*(=|<>|!=|<=|>=|<|>)\\s*$Operand\\s+COLLATE\\s+$Spec").r
      out = SqlLex.replace(out, ColBoth)(m =>
        if (!m.group(2).equalsIgnoreCase(m.group(5))) m.matched
        else s"(${fold(m.group(1), m.group(2))} ${m.group(3)} " +
          s"${fold(m.group(4), m.group(2))})")
      val Col = (s"(?i)$Operand\\s*(=|<>|!=|<=|>=|<|>)\\s*$Operand" +
        s"\\s+COLLATE\\s+$Spec").r
      out = SqlLex.replace(out, Col)(m =>
        s"(${fold(m.group(1), m.group(4))} ${m.group(2)} " +
          s"${fold(m.group(3), m.group(4))})")
      // LEFT-side spelling folds the whole comparison too (probed:
      // 'ABC' COLLATE NOCASE = 'abc' → true)
      if (out.toLowerCase.contains("collate")) {
        val ColLeft = (s"(?i)$Operand\\s+COLLATE\\s+$Spec" +
          s"\\s*(=|<>|!=|<=|>=|<|>)\\s*$Operand").r
        out = SqlLex.replace(out, ColLeft)(m =>
          s"(${fold(m.group(1), m.group(2))} ${m.group(3)} " +
            s"${fold(m.group(4), m.group(2))})")
      }
      // collated IN folds the probe and EVERY list element (probed:
      // 'Apple' COLLATE NOCASE IN ('APPLE','x') → true); BETWEEN folds
      // all three operands (probed)
      if (out.toLowerCase.contains("collate")) {
        val ColIn = (s"(?i)$Operand\\s+COLLATE\\s+$Spec" +
          s"\\s+(NOT\\s+)?IN\\s*\\(([^()]*)\\)").r
        out = SqlLex.replace(out, ColIn) { m =>
          val items = splitTopLevel(m.group(4)).map(e =>
            fold(e.trim, m.group(2))).mkString(", ")
          s"(${fold(m.group(1), m.group(2))} " +
            s"${Option(m.group(3)).getOrElse("")}IN ($items))"
        }
      }
      if (out.toLowerCase.contains("collate")) {
        val ColBtw = (s"(?i)$Operand\\s+COLLATE\\s+$Spec" +
          s"\\s+(NOT\\s+)?BETWEEN\\s+$Operand\\s+AND\\s+$Operand").r
        out = SqlLex.replace(out, ColBtw)(m =>
          s"(${fold(m.group(1), m.group(2))} " +
            s"${Option(m.group(3)).getOrElse("")}BETWEEN " +
            s"${fold(m.group(4), m.group(2))} AND ${fold(m.group(5), m.group(2))})")
      }
      if (out.toLowerCase.contains("collate")) {
        val Single = (s"(?i)$Operand\\s+COLLATE\\s+$Spec").r
        val sIn = out
        out = SqlLex.replace(out, Single) { m =>
          val prev = sIn.substring(0, m.start).reverse.dropWhile(_.isWhitespace)
          // a comparison/membership form that reached here was NOT matched
          // by the both-sides/left/IN/BETWEEN rules above (e.g. a list
          // element with parens) — folding just this side would be the
          // silent one-sided degrade, so leave it for the parser to refuse
          val next = sIn.substring(m.end).dropWhile(_.isWhitespace)
          val nextIsCmp = next.headOption.exists(c => "=<>!".contains(c)) ||
            """(?is)^(?:NOT\s+)?(?:IN|BETWEEN)\b""".r.findFirstIn(next).isDefined
          if (nextIsCmp || prev.headOption.exists(c => "=<>!".contains(c))) m.matched
          else fold(m.group(1), m.group(2))
        }
      }
    }
    // x ^@ y — starts_with operator (probed)
    if (out.contains("^@")) {
      val Sw = (s"$Operand\\s*\\^@\\s*$Operand").r
      out = SqlLex.replace(out, Sw)(m => s"startswith(${m.group(1)}, ${m.group(2)})")
    }
    // x GLOB 'pattern' (literal patterns): glob → anchored regex (LIKE
    // can't express [..] classes); non-literal patterns stay verbatim
    if (out.toLowerCase.contains("glob")) {
      val Glob = (s"(?i)$Operand\\s+GLOB\\s+('(?:[^']|'')*')").r
      out = SqlLex.replace(out, Glob) { m =>
        val pat = m.group(2).drop(1).dropRight(1)
        val rx = new StringBuilder
        pat.foreach {
          case '*' => rx ++= ".*"
          case '?' => rx += '.'
          case c @ ('[' | ']' | '^' | '-') => rx += c // class chars pass through
          case c if "\\$.|+(){}".contains(c) => rx ++= s"\\\\$c"
          case c => rx += c
        }
        s"regexp_like(${m.group(1)}, '^(?:${rx.toString})$$')"
      }
    }
    // x ** y → power(x, y): LEFT-associative, binds a leading unary minus
    // into its left operand ((-2) ** 2 = 4, probed) — a unary-minus left
    // operand has no safe textual spelling here, so it stays verbatim and
    // refuses loudly rather than negating the wrong term
    if (out.contains("**") &&
        // a UNARY minus on the left operand ((-2) ** 2 = 4) has no safe
        // textual spelling → refuse. Unary context = expression start:
        // an operator/paren/comma or a clause keyword before the minus.
        ("""(?i)(?:^|[(,=<>+*/%]|\b(?:select|where|when|then|else|and|or|""" +
         """not|by|as|in|on|having|limit|offset|union|all)\b)""" +
         """\s*-\s*[\w.]+\s*\*\*""").r.findFirstIn(out).isEmpty) {
      val Pow = (s"$Operand\\s*\\*\\*\\s*$Operand").r
      var guard = 0
      var changed = true
      while (guard < 8 && changed) { // leftmost-first = duck's left assoc
        guard += 1
        changed = false
        SqlLex(out).find(Pow).nextOption().foreach { m =>
          out = out.substring(0, m.start) +
            s"power(${m.group(1)}, ${m.group(2)})" + out.substring(m.end)
          changed = true
        }
      }
    }
    // postfix factorial on an integer literal: 5! → factorial(5)
    if (out.contains("!")) {
      val Fact = """\b(\d+)\s*!(?!=)""".r
      out = SqlLex.replace(out, Fact)(m => s"factorial(${m.group(1)})")
    }
    // prefix @ is abs: @(expr) → abs(expr)
    if (out.contains("@(")) {
      val At = """(?<=^|[\s,(+*/%=<>-])@\s*\(""".r
      out = SqlLex.replace(out, At)(_ => "abs(")
    }
    // SQL-spelled frame `EXCLUDE CURRENT ROW` (Spark has no frame EXCLUDE
    // grammar): sum/count over the same frame minus the current row's own
    // contribution — algebraically exact for exactly these two aggregates
    // (the engine's DataFrame-level EXCLUDE decomposition is q58); other
    // aggregates or EXCLUDE TIES/GROUP stay verbatim and refuse loudly.
    if (out.toLowerCase.contains("exclude")) {
      val Excl = ("""(?is)\b(sum|count)\s*\(\s*(\*|[^()']+?)\s*\)\s*over\s*""" +
        """\(([^()]*?)\s+exclude\s+current\s+row\s*\)""").r
      out = SqlLex.replace(out, Excl) { m =>
        val arg = m.group(2).trim; val win = m.group(3)
        m.group(1).toLowerCase match {
          case "sum" => s"(sum($arg) OVER ($win) - coalesce($arg, 0))"
          case _ if arg == "*" => s"(count(*) OVER ($win) - 1)"
          case _ => s"(count($arg) OVER ($win) - " +
            s"CASE WHEN ($arg) IS NULL THEN 0 ELSE 1 END)"
        }
      }
    }
    // DuckDB's bare aggregate-FILTER shorthand `agg(...) FILTER (cond)` →
    // the standard `FILTER (WHERE cond)` both engines accept. Anchored on
    // the aggregate call's closing paren, so the higher-order function
    // `filter(arr, …)` (which never directly follows `)`) is untouched.
    // Matched on the masked view: `) filter(` inside a string literal is
    // data, not syntax.
    if (out.toLowerCase.contains("filter"))
      out = SqlLex.replace(out, """(?is)\)\s*filter\s*\(\s*(?!where\b)""".r)(_ =>
        ") FILTER (WHERE ")
    // DuckDB's `//` division operator → Spark's `div` keyword (SAME
    // multiplicative precedence in both grammars, so operand grouping is
    // preserved exactly); the parsed IntegralDivide is then swapped for
    // DuckFloorDiv, which carries DuckDB 1.0's exact typed semantics
    // (see duckDivSql). Matched on the masked view: `'//'` inside a string
    // literal stays text.
    if (out.contains("//"))
      out = SqlLex.replace(out, "//".r)(_ => " div ")
    out
  }

  /** DuckDB container literals → Spark constructors, one left-to-right
    * pass that copies literals and quoted identifiers verbatim ([[SqlLex]]):
    *
    *   - `[a, b, c]` at EXPRESSION position (start of an expression:
    *     after an operator, comma, open paren, or SQL keyword) →
    *     `array(a, b, c)`;
    *   - `{'k': v, ...}` → `named_struct('k', v, ...)`, and
    *     `MAP {'k': v}` → `map('k', v)` — inside a brace scope a single
    *     top-level `:` becomes `,` (a `::` cast is left intact);
    *   - `'lit'[n]` (string-literal subscript, integer n ≥ 1 or ≤ -1) →
    *     `substr('lit', n, 1)` — DuckDB's 1-based character pick;
    *   - `(...)[e]` (subscript on a parenthesized/function-call result) →
    *     `element_at(..., e)` — 1-based with negative-from-end, exactly
    *     DuckDB's list indexing (out-of-range errors loudly under ANSI
    *     rather than DuckDB's NULL — never silently the wrong element);
    *   - `ident[...]` is left VERBATIM: it is a DDL array-type suffix
    *     (`INTEGER[]`) or a bare-column subscript whose operand type is
    *     unknowable from text — Spark's own 0-based `col[i]` would be
    *     silently off-by-one for a DuckDB client, so that spelling is a
    *     documented divergence in DuckDbCorpusSpec, not a guess here;
    *   - `read_*(...)` calls are copied untouched — their bracketed path
    *     lists belong to [[rewriteReadFunctionsTracked]]'s grammar.
    *
    * Slices (`l[2:3]`) and anything else unrecognized pass through and
    * refuse in the parser. */
  private[engine] def rewriteDuckLiterals(sql: String): String = {
    if (!sql.exists(c => c == '[' || c == '{')) return sql
    // SQL keywords after which a '[' opens a list literal even though the
    // preceding CHARACTER is a letter ("SELECT [1,2]")
    val kw = Set("select", "from", "where", "and", "or", "not", "in",
      "when", "then", "else", "end", "as", "on", "by", "having", "limit",
      "offset", "union", "all", "intersect", "except", "distinct",
      "values", "set", "returning", "between", "like", "ilike", "is",
      "case", "order", "group", "join", "using", "exists", "array")
    val lx = SqlLex(sql)
    val readSpans: Map[Int, Int] =
      lx.findRaw(ReadFnRe).map(m => m.start -> m.end).toMap
    val sb = new StringBuilder
    val stack = scala.collection.mutable.Stack[Char]()
    var i = 0
    def lastWord: String = {
      var j = sb.length - 1
      while (j >= 0 && sb.charAt(j).isWhitespace) j -= 1
      val e = j
      while (j >= 0 && (sb.charAt(j).isLetterOrDigit || sb.charAt(j) == '_' ||
        sb.charAt(j) == '$')) j -= 1
      sb.substring(j + 1, e + 1)
    }
    def lastSig: Char = {
      var j = sb.length - 1
      while (j >= 0 && sb.charAt(j).isWhitespace) j -= 1
      if (j >= 0) sb.charAt(j) else '\u0000'
    }
    // copy sql[i ..] verbatim through the ']' matching the '[' at i
    def copyBracketVerbatim(): Unit = {
      val e = lx.close(i)
      val end = if (e < 0) sql.length else e + 1
      sb.append(sql.substring(i, end)); i = end
    }
    // the span of sql[from..) up to the ']' matching the '[' at `from`
    def indexSpan(from: Int): Option[(String, Int)] = {
      val e = lx.close(from)
      if (e >= 0) Some(sql.substring(from + 1, e) -> (e + 1)) else None
    }
    // `[expr for x in list [if cond]]` (DuckDB list comprehension) at the
    // '[' at `from` → Some((spark spelling, index after the span)); the
    // pieces are recursively rewritten so nested list literals work
    def comprehension(from: Int): Option[(String, Int)] = {
      // first top-level (outside quotes/brackets) word occurrence in s
      def topWord(s0: String, word: String, start: Int): Int = {
        val s = SqlLex.mask(s0)
        var d = 0; var j = 0; var found = -1
        while (j <= s.length - word.length && found < 0) {
          val c = s.charAt(j)
          if (c == '(' || c == '[' || c == '{') d += 1
          else if (c == ')' || c == ']' || c == '}') d -= 1
          else if (j >= start && d == 0 &&
              s.regionMatches(true, j, word, 0, word.length) &&
              (j == 0 || (!s.charAt(j - 1).isLetterOrDigit && s.charAt(j - 1) != '_')) &&
              (j + word.length >= s.length ||
                (!s.charAt(j + word.length).isLetterOrDigit &&
                  s.charAt(j + word.length) != '_')))
            found = j
          j += 1
        }
        found
      }
      indexSpan(from).flatMap { case (body, after) =>
        val forAt = topWord(body, "for", 0)
        val inAt = if (forAt < 0) -1 else topWord(body, "in", forAt + 3)
        if (forAt < 0 || inAt < 0) None
        else {
          val expr = body.substring(0, forAt).trim
          val v = body.substring(forAt + 3, inAt).trim
          val rest = body.substring(inAt + 2)
          val ifAt = topWord(rest, "if", 0)
          val listTxt = (if (ifAt < 0) rest else rest.substring(0, ifAt)).trim
          val condTxt = if (ifAt < 0) None else Some(rest.substring(ifAt + 2).trim)
          if (!v.matches("""[A-Za-z_]\w*""") || expr.isEmpty ||
              listTxt.isEmpty || condTxt.exists(_.isEmpty)) None
          else {
            val lst = rewriteDuckLiterals(listTxt)
            val src = condTxt match {
              case Some(c) => s"filter($lst, $v -> ${rewriteDuckLiterals(c)})"
              case None => lst
            }
            Some((s"transform($src, $v -> ${rewriteDuckLiterals(expr)})", after))
          }
        }
      }
    }
    // top-level ':' separator positions in an index expression — the ONE
    // scanner behind isSlice and sliceParts ('::' is a duck CAST token,
    // not two separators)
    def sepColons(ix0: String): Seq[Int] = {
      val ix = SqlLex.mask(ix0)
      var d = 0; var k = 0
      val out = scala.collection.mutable.ArrayBuffer[Int]()
      while (k < ix.length) {
        val c = ix.charAt(k)
        if (c == '(' || c == '[') d += 1
        else if (c == ')' || c == ']') d -= 1
        else if (c == ':' && d == 0) {
          if (k + 1 < ix.length && ix.charAt(k + 1) == ':') k += 1
          else out += k
        }
        k += 1
      }
      out.toSeq
    }
    // does this top-level index expression look like a slice?
    def isSlice(ix: String): Boolean = sepColons(ix).nonEmpty
    // `[i:j]` with integer-literal (or absent) bounds → Some((iOpt, jOpt));
    // anything fancier refuses (stays verbatim → loud parser error)
    val SliceRe = """^\s*(-?\d+)?\s*:\s*(-?\d+)?\s*$""".r
    def sliceBounds(ix: String): Option[(Option[Long], Option[Long])] =
      ix match {
        case SliceRe(a, b) =>
          Some((Option(a).map(_.toLong), Option(b).map(_.toLong)))
        case _ => None
      }
    // DuckDB slice semantics (probed, v1.0): 1-based INCLUSIVE bounds,
    // index 0 behaves as 1, negative counts from the end (-1 = last),
    // out-of-range clamps, inverted → empty
    def sliceLiteral(s: String, io: Option[Long], jo: Option[Long]): String =
      duckSliceLiteral(s, io, jo)
    // split a slice index at its top-level ':' separators ('::' casts are
    // atomic) → (loTxt, hiTxt, stepTxt?). With a step, hi and step must be
    // spelled (DuckDB's parser errors on [2::2] / [::2]) — malformed forms
    // return None and the bracket stays verbatim → loud parse error.
    def sliceParts(ix: String): Option[(String, String, Option[String])] = {
      sepColons(ix) match {
        case Seq(c1) =>
          Some((ix.substring(0, c1).trim, ix.substring(c1 + 1).trim, None))
        case Seq(c1, c2) =>
          val (lo, hi, st) = (ix.substring(0, c1).trim,
            ix.substring(c1 + 1, c2).trim, ix.substring(c2 + 1).trim)
          if (hi.nonEmpty && st.nonEmpty) Some((lo, hi, Some(st))) else None
        case _ => None
      }
    }
    // `x[lo:hi]` → the registered graft_duck_slice placeholder (bounds are
    // arbitrary integral EXPRESSIONS in DuckDB — `l[i+1:j*2]`); the
    // analyzed-plan swap dispatches LIST vs VARCHAR operand by type
    def sliceCall(operand: String, lo: String, hi: String,
        step: Option[String] = None): String = {
      val loE = if (lo.nonEmpty) rewriteDuckLiterals(lo) else "0"
      val hiE = if (hi.nonEmpty) rewriteDuckLiterals(hi) else "0"
      step match {
        case Some(st) => s"graft_duck_slice_step($operand, $loE, $hiE, " +
          s"${rewriteDuckLiterals(st)}, ${lo.nonEmpty})"
        case None =>
          s"graft_duck_slice($operand, $loE, $hiE, ${lo.nonEmpty}, ${hi.nonEmpty})"
      }
    }
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (lx.inside(i)) { sb += c; i += 1 }
      else if (readSpans.contains(i)) {
        val end = readSpans(i); sb.append(sql.substring(i, end)); i = end
      } else c match {
        case '[' =>
          val p = lastSig
          val afterKeyword = (p.isLetter || p == '_') && kw(lastWord.toLowerCase)
          if (p == '\'') {
            // 'lit'[n] → substr('lit', n, 1); 'lit'[i:j] → the sliced
            // literal, computed here (the operand is known text)
            indexSpan(i) match {
              case Some((ix, after))
                  if (ix.trim.matches("-?\\d+") && ix.trim.toLong != 0) ||
                    (isSlice(ix) && sliceParts(ix).isDefined) =>
                // locate the literal's opening quote in sb (reject if the
                // literal contains doubled quotes — ambiguous backwards)
                var j = sb.length - 1
                while (j >= 0 && sb.charAt(j).isWhitespace) j -= 1
                val closeQ = j; j -= 1
                while (j >= 0 && sb.charAt(j) != '\'') j -= 1
                if (j >= 0 && (j == 0 || sb.charAt(j - 1) != '\'') && closeQ > j) {
                  val lit = sb.substring(j, closeQ + 1)
                  sb.delete(j, sb.length)
                  (sliceBounds(ix), sliceParts(ix)) match {
                    case (Some((io, jo)), _) =>
                      val inner = lit.substring(1, lit.length - 1)
                      sb.append(s"'${sliceLiteral(inner, io, jo)}'")
                    case (None, Some((lo, hi, st))) => // expression bounds
                      sb.append(sliceCall(lit, lo, hi, st))
                    case _ =>
                      sb.append(s"substr($lit, ${ix.trim}, 1)")
                  }
                  i = after
                } else copyBracketVerbatim()
              case _ => copyBracketVerbatim()
            }
          } else if (p == ')') {
            // (...)[i:j] → graft_duck_slice over the balanced-paren operand
            indexSpan(i) match {
              case Some((ix, after)) if isSlice(ix) &&
                  sliceParts(ix).isDefined =>
                var j = sb.length - 1
                while (j >= 0 && sb.charAt(j).isWhitespace) j -= 1
                var depth = 0; var open = -1
                while (j >= 0 && open < 0) {
                  val ch = sb.charAt(j)
                  if (ch == ')') depth += 1
                  else if (ch == '(') { depth -= 1; if (depth == 0) open = j }
                  if (open < 0) j -= 1
                }
                if (j >= 0) {
                  j -= 1
                  while (j >= 0 && (sb.charAt(j).isLetterOrDigit ||
                    sb.charAt(j) == '_' || sb.charAt(j) == '.' ||
                    sb.charAt(j) == '$')) j -= 1
                  val at = j + 1
                  val operand = sb.substring(at)
                  sb.delete(at, sb.length)
                  val (lo, hi, st) = sliceParts(ix).get
                  sb.append(sliceCall(operand, lo, hi, st))
                  i = after
                } else copyBracketVerbatim()
              case Some((ix, after)) if !isSlice(ix) =>
                // (...)[e] stays a BRACKET subscript (index recursively
                // rewritten): Spark parses it to GetArrayItem/GetMapValue/
                // GetStructField and DuckSemantics swaps the analyzed
                // nodes for DuckDB's semantics (1-based lists, list-
                // wrapped map values) with the operand TYPE known.
                sb.append('[').append(rewriteDuckLiterals(ix.trim)).append(']')
                i = after
              case _ => copyBracketVerbatim()
            }
          } else if ((p.isLetterOrDigit || p == '_' || p == '"' || p == ']')
              && !afterKeyword) {
            // bare-column slice `col[i:j]` → graft_duck_slice over the
            // ident chain already in sb (a DDL type suffix `INT[]`/`INT[3]`
            // never contains ':', so this cannot fire on one); plain
            // `col[e]` subscripts stay verbatim for DuckSemantics
            indexSpan(i) match {
              case Some((ix, after)) if isSlice(ix) &&
                  sliceParts(ix).isDefined && p != '"' && p != ']' =>
                var j = sb.length - 1
                while (j >= 0 && sb.charAt(j).isWhitespace) j -= 1
                while (j >= 0 && (sb.charAt(j).isLetterOrDigit ||
                  sb.charAt(j) == '_' || sb.charAt(j) == '.' ||
                  sb.charAt(j) == '$')) j -= 1
                val at = j + 1
                val operand = sb.substring(at).trim
                if (operand.nonEmpty && !operand.head.isDigit) {
                  sb.delete(at, sb.length)
                  val (lo, hi, st) = sliceParts(ix).get
                  sb.append(sliceCall(operand, lo, hi, st))
                  i = after
                } else copyBracketVerbatim()
              case _ =>
                copyBracketVerbatim() // type suffix / bare-column subscript
            }
          } else {
            // [expr for x in list [if cond]] — DuckDB list comprehension →
            // transform(/filter(…)) with the pieces recursively rewritten
            comprehension(i) match {
              case Some((built, after)) =>
                if (lastWord.equalsIgnoreCase("array")) {
                  val w = sb.lastIndexOf(lastWord); sb.delete(w, sb.length)
                }
                sb.append(built); i = after
              case None =>
                // ARRAY[1,2] (the explicit-keyword spelling) folds into array(
                if (lastWord.equalsIgnoreCase("array")) {
                  val w = sb.lastIndexOf(lastWord); sb.delete(w, sb.length)
                }
                sb.append("array("); stack.push('['); i += 1
            }
          }
        case '{' =>
          if (lastWord.equalsIgnoreCase("map") && stack.isEmpty) {
            val w = sb.lastIndexOf(lastWord)
            sb.delete(w, sb.length); sb.append("map(")
          } else sb.append("named_struct(")
          stack.push('{'); i += 1
        case '}' =>
          if (stack.nonEmpty && stack.top == '{') { stack.pop(); sb += ')' }
          else sb += c
          i += 1
        case ']' =>
          if (stack.nonEmpty && stack.top == '[') { stack.pop(); sb += ')' }
          else sb += c
          i += 1
        case '(' => if (stack.nonEmpty) stack.push('('); sb += c; i += 1
        case ')' =>
          if (stack.nonEmpty && stack.top == '(') stack.pop()
          sb += c; i += 1
        case ':' =>
          if (i + 1 < sql.length && sql.charAt(i + 1) == ':') {
            sb.append("::"); i += 2
          } else if (stack.nonEmpty && stack.top == '{') { sb += ','; i += 1 }
          else { sb += c; i += 1 }
        case _ => sb += c; i += 1
      }
    }
    sb.toString
  }

  private[engine] def duckCompat(sql: String): String =
    rewriteDuckDefaults(rewriteDuckAliases(rewriteDuckClauses(
      rewriteWindowExclude(foldWindowFilter(inlineNamedWindowFrames(rewriteDuckTypeSpellings(
        rewriteDuckLiterals(SqlLex.escapeBackslashes(
          rewriteCurrentQuery(rewriteBareDatetimeKeywords(
            rewriteIntervalHms(rewriteBlobLiterals(rewriteJsonColonCasts(
              rewriteMultiUnnest(sql)))))))))))))))

  /** `x::JSON` → `graft_json_cast(x)` (DuckJsonCast scaladoc). Spark's
    * parser rejects the JSON type name, so the operand is captured by a
    * BACKWARD scan over the postfix-primary grammar: string literals
    * (with '' doubling, plus a DATE/TIMESTAMP/TIME/INTERVAL typed-literal
    * keyword head), balanced (...)/[...]/{...} groups, identifiers and
    * dotted/chained combinations thereof. Rightmost-first so positions
    * stay valid. Anything the scan cannot own is left untouched — the
    * JSON type name then refuses loudly in Spark's parser. */
  private def rewriteJsonColonCasts(sql: String): String = {
    val re = """(?i)::\s*JSON(?![\w$])""".r
    if (!re.findFirstIn(sql).isDefined) return sql
    // leftmost-first with a FULL re-scan after each rewrite: a nested
    // cast (`f(x::JSON)::JSON`) sits inside the outer operand, so any
    // batch of precomputed offsets goes stale the moment one rewrite
    // inserts text. Each pass removes one `::JSON`, so this terminates.
    var out = sql
    var guard = 0
    var more = true
    while (more && guard < 64) {
      guard += 1
      more = false
      // first match (left to right) whose operand the scan can own; an
      // unownable match is skipped rather than blocking later ones
      val lx = SqlLex(out)
      lx.find(re).map(m => (m, jsonCastOperandStart(lx.masked, m.start)))
        .find(_._2 >= 0) match {
        case Some((m, start)) =>
          out = out.substring(0, start) + "graft_json_cast(" +
            out.substring(start, m.start) + ")" + out.substring(m.end)
          more = true
        case None => ()
      }
    }
    out
  }

  /** Start index of the postfix-primary expression ending just before
    * `pos` in the masked view `text`, or -1 when the shape is not
    * recognized. */
  private def jsonCastOperandStart(text: String, pos: Int): Int = {
    var j = pos - 1
    while (j >= 0 && text.charAt(j).isWhitespace) j -= 1
    if (j < 0) return -1
    def idChar(c: Char) = c.isLetterOrDigit || c == '_' || c == '$'
    var start = -1
    var continue = true
    while (continue && j >= 0) {
      val c = text.charAt(j)
      if (c == '\'') {
        // string literal backward: its contents are blank in the mask
        val open = text.lastIndexOf('\'', j - 1)
        if (open < 0) return -1
        start = open; j = open - 1
        // typed-literal keyword head (DATE '...'::JSON casts the DATE)
        var w = j
        while (w >= 0 && text.charAt(w).isWhitespace) w -= 1
        val e = w
        while (w >= 0 && idChar(text.charAt(w))) w -= 1
        val word = text.substring(w + 1, e + 1).toUpperCase
        if (Set("DATE", "TIMESTAMP", "TIMESTAMPTZ", "DATETIME", "TIME",
            "TIMETZ", "INTERVAL").contains(word)) {
          start = w + 1; j = w
        }
        continue = false
      } else if (c == ')' || c == ']' || c == '}') {
        val openCh = c match { case ')' => '('; case ']' => '['; case _ => '{' }
        var depth = 0; var k = j; var open = -1
        while (k >= 0 && open < 0) {
          val ch = text.charAt(k)
          if (ch == c) depth += 1
          else if (ch == openCh) { depth -= 1; if (depth == 0) open = k }
          k -= 1
        }
        if (open < 0) return -1
        start = open; j = open - 1
        val prev = if (j >= 0) text.charAt(j) else ' '
        // '(' preceded by a name is a function call — absorb the name;
        // '[' subscripts whatever primary precedes it — keep scanning;
        // a struct literal '{' (or a bare parenthesized group) is the
        // head of the expression — stop
        continue = (openCh == '(' && idChar(prev)) ||
          (openCh == '[' && (idChar(prev) || prev == ')' || prev == ']' ||
            prev == '\''))
      } else if (idChar(c)) {
        var k = j
        while (k >= 0 && idChar(text.charAt(k))) k -= 1
        start = k + 1; j = k
        continue = false
        // dotted qualification continues the scan (t.c::JSON)
        if (j >= 0 && text.charAt(j) == '.') { j -= 1; continue = true }
      } else return -1
      // a chained cast ('1'::VARCHAR::JSON) continues leftward — the
      // whole cast chain is the operand
      if (!continue && j >= 1 && text.charAt(j) == ':' &&
          text.charAt(j - 1) == ':') { j -= 2; continue = true }
    }
    start
  }

  /** DuckDB's clock-spelled interval strings — `INTERVAL '1:02:03[.5]'`
    * (H:M:S) and `INTERVAL '1:02'` (H:M) — become Spark's qualified
    * day-time literals (`HOUR TO SECOND` / `HOUR TO MINUTE`). Spellings
    * already carrying a qualifier keyword stay untouched. */
  private val IntervalHmsRe =
    ("""(?i)\bINTERVAL\s+'(-?\d+):(\d{1,2})(:\d{1,2}(?:\.\d+)?)?'""" +
     """(?!\s*(?:HOUR|MINUTE|SECOND|DAY|MONTH|YEAR|TO)\b)""").r
  private def rewriteIntervalHms(sql: String): String = {
    if (!sql.toLowerCase.contains("interval")) return sql
    SqlLex(sql).replaceRaw(IntervalHmsRe) { m =>
      // both engines FIELD-CHECK the clock parts (probed: DuckDB
      // refuses '0:90' and '0:10:90' exactly like Spark's qualified
      // literal will) — same loud failure mode, no normalization
      val qual = if (m.group(3) != null) "HOUR TO SECOND" else "HOUR TO MINUTE"
      s"INTERVAL '${m.group(1)}:${m.group(2)}${Option(m.group(3)).getOrElse("")}' $qual"
    }
  }

  /** DuckDB zips MULTIPLE unnests in one SELECT list to the longest
    * length, padding shorter (or NULL) lists with NULLs; scalar items
    * repeat per row (probed: `unnest([1,2]), unnest(['a','b','c'])` →
    * 3 rows, `unnest(l) , unnest(NULL::INT[])` keeps l's row count).
    * Spark allows one generator per projection, so a top-level simple
    * SELECT (single FROM target, optional ORDER BY — no WHERE/GROUP/
    * set-ops) rewrites to one explode over an index-driven struct zip:
    *
    *   SELECT a, graft_z.c0 AS x, ... FROM (
    *     SELECT *, explode(slice(transform(sequence(0, greatest(1,g)-1),
    *       graft_i -> named_struct('c0', try_element_at(A0, graft_i+1),
    *       ...)), 1, g)) AS graft_z FROM <from>) graft_mu [ORDER BY ...]
    *
    * with g = greatest(0, coalesce(size(A0),0), ...). Richer shapes
    * (WHERE, joins, unnest nested in expressions) keep the old loud
    * refusal (Spark's one-generator analysis error). */
  private def rewriteMultiUnnest(sql: String): String = {
    if (SqlLex(sql).find("""(?i)\bunnest\s*\(""".r).size < 2) return sql
    val SelRe = """(?is)^\s*SELECT\s+(.*)$""".r
    val body = SelRe.findFirstMatchIn(sql).map(_.group(1)).getOrElse(return sql)
    val (selectList, tail) = topLevel(body, """\bFROM\b""") match {
      case Some((s, e)) => (body.substring(0, s), Some(body.substring(e)))
      case None => (body, None)
    }
    // split an optional top-level ORDER BY off the FROM tail; any other
    // top-level clause keyword disqualifies (bail → untouched text)
    val (fromPart, orderPart) = tail match {
      case None => (None, "")
      case Some(t) => topLevel(t, """\bORDER\s+BY\b""") match {
        case Some((s, _)) => (Some(t.substring(0, s).trim), " " + t.substring(s).trim)
        case None => (Some(t.trim), "")
      }
    }
    if (fromPart.exists(f => topLevel(f,
        """\b(?:WHERE|GROUP\s+BY|HAVING|QUALIFY|WINDOW|LIMIT|OFFSET|UNION|INTERSECT|EXCEPT|JOIN)\b""").isDefined))
      return sql
    if (topLevel(selectList, """\b(?:OVER|DISTINCT)\b""").isDefined) return sql
    val items = splitTopLevel(selectList).map(_.trim)
    // an item is a zip participant iff it IS one unnest(...) call
    // (optionally aliased); unnest nested deeper stays untouched → the
    // whole statement bails to the loud path
    def unnestOf(item: String): Option[(String, Option[String])] = {
      val mm = """(?is)^unnest\s*\(""".r.findPrefixMatchOf(item).getOrElse(return None)
      val close = SqlLex(item).close(mm.end - 1)
      if (close < 0) return None
      val rest = item.substring(close + 1).trim
      val alias =
        if (rest.isEmpty) None
        else """(?is)^AS\s+(\w+)$""".r.findFirstMatchIn(rest) match {
          case Some(am) => Some(am.group(1))
          case None => return None // trailing expression → not a bare unnest
        }
      Some((item.substring(mm.end, close).trim, alias))
    }
    // a star item would leak the zip struct through the outer projection
    if (items.exists(i => i == "*" || i.endsWith(".*"))) return sql
    val parts = items.map(unnestOf)
    val unnestIdx = parts.zipWithIndex.collect { case (Some(_), i) => i }
    if (unnestIdx.size < 2) return sql
    if (parts.exists(p => p.exists(_._1.isEmpty))) return sql
    val args = unnestIdx.map(i => parts(i).get._1)
    val g = args.map(a => s"coalesce(size($a), 0)").mkString("greatest(0, ", ", ", ")")
    val fields = args.zipWithIndex.map { case (a, k) =>
      s"'c$k', try_element_at($a, graft_i + 1)" }.mkString(", ")
    val gen = s"explode(slice(transform(sequence(0, greatest(1, $g) - 1), " +
      s"graft_i -> named_struct($fields)), 1, $g)) AS graft_z"
    val inner = fromPart match {
      case Some(f) => s"SELECT *, $gen FROM $f"
      case None => s"SELECT $gen"
    }
    var k = -1
    val outerItems = items.zip(parts).map {
      case (item, Some((arg, alias))) =>
        k += 1
        // DuckDB names an unaliased unnest column `unnest(<arg>)` (probed:
        // `unnest(l1)` → "unnest(l1)", `unnest(t.l1)` → "unnest(t.l1)");
        // reproducible verbatim for identifier args. Other expressions get
        // engine-normalized text we can't reproduce → loud alias demand,
        // never a silently-divergent made-up name.
        val name = alias.getOrElse {
          if (arg.matches("""[A-Za-z_][\w$]*(\.[A-Za-z_][\w$]*)*"""))
            s"`unnest($arg)`"
          else throw new IllegalArgumentException(
            s"zipped unnest needs an explicit alias for unnest($arg): " +
              "DuckDB derives the column name from the normalized " +
              "expression text, which this engine cannot reproduce")
        }
        s"graft_z.c$k AS $name"
      case (item, None) => item
    }
    s"SELECT ${outerItems.mkString(", ")} FROM ($inner) graft_mu$orderPart"
  }

  /** String-literal → BLOB casts decode `\xHH` escapes in DuckDB
    * (probed: `'\xFF\x01ab'::BLOB` is the 4 bytes FF 01 61 62; a
    * backslash NOT followed by two hex digits is a loud Conversion
    * Error). Spark's cast keeps the backslash characters — so literal
    * casts containing a backslash become `X'hex'` binary literals here,
    * decoded on the driver with DuckDB's exact failure mode. Runs on the
    * raw duck text, before backslash escaping. Non-literal string→BLOB
    * casts keep the plain utf-8 cast (their values rarely spell escapes;
    * a mismatch there would need runtime decoding). */
  private def rewriteBlobLiterals(sql: String): String = {
    if (!"""(?i)::\s*blob|as\s+blob""".r.findFirstIn(sql).isDefined) return sql
    val Lit = """'((?:[^']|'')*)'"""
    val CastRe =
      (s"""(?i)(?:$Lit\\s*::\\s*blob\\b|cast\\s*\\(\\s*$Lit\\s+as\\s+blob\\s*\\))""").r
    // matched on the masked view: a '::BLOB'-shaped span INSIDE a larger
    // string literal is data, not a cast — rewriting it (or raising its
    // decode errors) would corrupt a valid query
    SqlLex.replace(sql, CastRe)(rewriteOneBlobCast)
  }

  private def rewriteOneBlobCast(m: scala.util.matching.Regex.Match): String = {
      val raw = Option(m.group(1)).getOrElse(m.group(2)).replace("''", "'")
      // non-ASCII is a loud DuckDB error in string→blob casts (probed:
      // "All non-ascii characters must be escaped with hex codes") —
      // refusing here also keeps the plain-cast path byte-exact
      if (raw.exists(_ > 127))
        throw new IllegalArgumentException(
          "Invalid byte encountered in STRING -> BLOB conversion. All " +
            "non-ascii characters must be escaped with hex codes (e.g. \\xAA)")
      if (!raw.contains("\\")) m.matched
      else {
        val bytes = new java.io.ByteArrayOutputStream()
        var i = 0
        while (i < raw.length) {
          val c = raw.charAt(i)
          if (c == '\\') {
            if (i + 4 <= raw.length &&
                (raw.charAt(i + 1) == 'x' || raw.charAt(i + 1) == 'X') &&
                raw.substring(i + 2, i + 4).forall(h =>
                  "0123456789abcdefABCDEF".contains(h))) {
              bytes.write(Integer.parseInt(raw.substring(i + 2, i + 4), 16))
              i += 4
            } else throw new IllegalArgumentException(
              "Invalid hex escape code encountered in string -> blob " +
                s"conversion: ${raw.substring(i, math.min(i + 4, raw.length))}")
          } else {
            bytes.write(c.toInt) // ASCII by the guard above
            i += 1
          }
        }
        val hex = bytes.toByteArray.map(b => f"${b & 0xff}%02X").mkString
        s"X'$hex'"
      }
  }

  /** DuckDB's parenless datetime keywords Spark lacks: bare
    * `localtimestamp` (duck: TIMESTAMP, probed) → `localtimestamp()`
    * (Spark's NTZ twin) and bare `localtime` (duck: TIME) →
    * `current_time()`. Quoted spellings and call forms stay untouched;
    * matched on the [[SqlLex]] masked view, so an apostrophe inside a
    * double-quoted identifier cannot open a string. */
  private def rewriteBareDatetimeKeywords(sql: String): String =
    if (!sql.toLowerCase.contains("localtime")) sql
    else SqlLex.replace(sql, BareDatetimeRe)(m =>
      if (m.group(1).length == "localtime".length) "current_time()"
      else "localtimestamp()")

  private val BareDatetimeRe =
    """(?i)(?<![\p{L}\p{N}_$.])(localtimestamp|localtime)(?![\p{L}\p{N}_$."])(?!\s*\()""".r

  /** `OVER (w ROWS BETWEEN ...)` — a named-WINDOW reference extended with
    * a frame (DuckDB grammar; Spark's parser takes `OVER w` but not the
    * parenthesized extension). Inline the window's definition in front of
    * the frame text; plain `OVER w` references stay for Spark to resolve.
    * Runs BEFORE rewriteWindowExclude so an inlined frame's EXCLUDE still
    * gets the frame-minus-excluded treatment. */
  private def inlineNamedWindowFrames(sql: String): String = {
    if (!"""(?i)\bwindow\s+\w+\s+as\s*\(""".r.findFirstIn(sql).isDefined)
      return sql
    // balanced-paren scan (a definition may itself contain parentheses —
    // `ORDER BY f(x)` — which a [^()]* regex can't match); masking keeps
    // positions aligned so bodies slice from the ORIGINAL text
    val masked = SqlLex.mask(sql)
    val defs = scala.collection.mutable.LinkedHashMap[String, String]()
    val NameAs = """(?is)^\s*(\w+)\s+AS\s*\(""".r
    for (m <- """(?i)\bWINDOW\s""".r.findAllMatchIn(masked)) {
      var i = m.end
      var more = true
      while (more) {
        more = false
        NameAs.findFirstMatchIn(masked.substring(i)).foreach { nm =>
          val open = i + nm.end - 1
          val close = SqlLex.close(masked, open)
          if (close > 0) {
            defs(nm.group(1)) = sql.substring(open + 1, close).trim
            var k = close + 1
            while (k < masked.length && masked.charAt(k).isWhitespace) k += 1
            if (k < masked.length && masked.charAt(k) == ',') { i = k + 1; more = true }
          }
        }
      }
    }
    if (defs.isEmpty) return sql
    val extended = defs.foldLeft(sql) { case (s, (name, body)) =>
      SqlLex.replace(s,
        s"""(?is)\\bOVER\\s*\\(\\s*$name\\s+(?=(?:ROWS|RANGE|GROUPS)\\b)""".r)(_ =>
        s"OVER ($body ")
    }
    // r14: a named-window DEFINITION carrying a frame EXCLUDE — plain
    // `OVER w` references must inline the body (rewriteWindowExclude only
    // rewrites EXCLUDE inside an OVER(...) spec), and the definition
    // itself must leave the WINDOW clause (Spark's parser has no EXCLUDE
    // grammar anywhere, so a surviving definition is a parse error even
    // when every reference was inlined)
    val q = java.util.regex.Pattern.quote _
    defs.filter { case (_, b) =>
      """(?i)\bexclude\b""".r.findFirstIn(b).isDefined
    }.foldLeft(extended) { case (s, (name, body)) =>
      val t = SqlLex.replace(s, s"""(?is)\\bOVER\\s+$name\\b""".r)(_ => s"OVER ($body)")
      val defBody = s"$name\\s+AS\\s*\\(${q(body)}\\)"
      val before = (s"(?is),\\s*$defBody").r
      val after = (s"(?is)\\b$defBody\\s*,").r
      val alone = (s"(?is)\\bWINDOW\\s+$defBody").r
      if (before.findFirstIn(t).isDefined) before.replaceAllIn(t, "")
      else if (after.findFirstIn(t).isDefined) after.replaceAllIn(t, "")
      else alone.replaceAllIn(t, "")
    }
  }

  /** `fn(x) FILTER (WHERE p) OVER …` → `fn(CASE WHEN p THEN x END)
    * OVER …` — exact for every NULL-skipping aggregate; count(*) counts
    * a CASE marker. Runs BEFORE [[rewriteWindowExclude]] (the EXCLUDE
    * arithmetic needs the bare aggregate call adjacent to its OVER, so a
    * FILTER between them must fold first — r14, the EXCLUDE × named
    * WINDOW × FILTER combination) and again in rewriteDuckDefaults for
    * windows arriving by other paths. Paren-free predicates only;
    * richer ones refuse downstream. */
  private def foldWindowFilter(sql: String): String = {
    if (!(sql.toLowerCase.contains("filter") && sql.toLowerCase.contains("over")))
      return sql
    val Fow = ("""(?i)\b(\w+)\s*\(\s*(\*|[^()]*?)\s*\)\s+FILTER\s*""" +
      """\(\s*WHERE\s+([^()]+?)\s*\)\s*(?=OVER\b)""").r
    SqlLex.replace(sql, Fow) { m =>
      val fn = m.group(1); val arg = m.group(2); val cond = m.group(3)
      if (fn.equalsIgnoreCase("count") && (arg == "*" || arg.isEmpty))
        s"count(CASE WHEN $cond THEN 1 END) "
      else s"$fn(CASE WHEN $cond THEN $arg END) "
    }
  }

  /** SQL-spelled window frame `EXCLUDE` (DuckDB 1.0 grammar: EXCLUDE may
    * only follow an explicit ROWS/RANGE frame — probed) → the
    * frame-minus-excluded arithmetic of q58/q58b, composed in TEXT for the
    * decomposable aggregates sum/count/avg:
    *
    *   - EXCLUDE NO OTHERS → dropped (identity);
    *   - frames that statically CANNOT contain the current row / its
    *     peers (both bounds PRECEDING, or both FOLLOWING) → dropped
    *     (probed: DuckDB's exclusion is a no-op there);
    *   - EXCLUDE CURRENT ROW → frame agg minus the current row's term,
    *     NULL-gated on the post-exclusion non-null count (ROWS or RANGE);
    *   - EXCLUDE GROUP / TIES → frame minus the RANGE-CURRENT-ROW peer
    *     window (plus the current term for TIES) — RANGE frames only: a
    *     ROWS frame can cut through a peer group, making which peers sit
    *     in the frame tie-order-dependent across engines, so those REFUSE
    *     (the untouched EXCLUDE then fails in Spark's parser).
    *
    * min/max/first/last and DISTINCT aggregates are not decomposable by
    * subtraction — untouched → refuse. Exact for integral/decimal
    * columns; DOUBLE columns may differ from DuckDB in final ulps (the
    * subtraction reassociates the float sum). */
  private[engine] def rewriteWindowExclude(sql: String): String = {
    if ("""(?i)\bexclude\b""".r.findFirstIn(sql).isEmpty) return sql
    // right to left: a splice changes only text after the match start, so
    // the masked view of the input stays valid for every backward scan
    val lx = SqlLex(sql)
    val mk = lx.masked
    val ExclRe = """(?i)\bEXCLUDE\s+(CURRENT\s+ROW|GROUP|TIES|NO\s+OTHERS)\s*""".r
    val Bound = """(?is)^\s*(UNBOUNDED\s+PRECEDING|UNBOUNDED\s+FOLLOWING|CURRENT\s+ROW|.+?\s+PRECEDING|.+?\s+FOLLOWING)\s*$""".r
    def kind(b: String): Char = {
      val u = b.trim.toUpperCase.replaceAll("\\s+", " ")
      if (u == "CURRENT ROW") 'c' else if (u.endsWith("PRECEDING")) 'p' else 'f'
    }
    var out = sql
    for (m <- lx.find(ExclRe).toList.reverse) {
      val mode = m.group(1).toUpperCase.replaceAll("\\s+", " ")
      val rewritten: Option[String] = {
        // EXCLUDE must be the LAST window-spec item: next sig char is ')'
        var close = m.end
        while (close < out.length && out.charAt(close).isWhitespace) close += 1
        if (close >= out.length || out.charAt(close) != ')') None
        else {
          // backward: the OVER-spec '(' enclosing the EXCLUDE
          var j = m.start - 1; var depth = 0; var open = -1
          while (j >= 0 && open < 0) {
            val ch = mk.charAt(j)
            if (ch == ')') depth += 1
            else if (ch == '(') { if (depth == 0) open = j else depth -= 1 }
            j -= 1
          }
          // the word before '(' must be OVER, then the aggregate call
          var k = if (open < 0) -1 else open - 1
          while (k >= 0 && out.charAt(k).isWhitespace) k -= 1
          if (open < 0 || k < 3 ||
              !out.substring(k - 3, k + 1).equalsIgnoreCase("over")) None
          else {
            var c2 = k - 4
            while (c2 >= 0 && out.charAt(c2).isWhitespace) c2 -= 1
            if (c2 < 0 || out.charAt(c2) != ')') None
            else {
              var d2 = 0; var callOpen = -1; var p = c2
              while (p >= 0 && callOpen < 0) {
                val ch = mk.charAt(p)
                if (ch == ')') d2 += 1
                else if (ch == '(') { d2 -= 1; if (d2 == 0) callOpen = p }
                p -= 1
              }
              var ns = callOpen - 1
              while (ns >= 0 && (out.charAt(ns).isLetterOrDigit ||
                out.charAt(ns) == '_')) ns -= 1
              val nameStart = ns + 1
              val agg = if (callOpen < 0) ""
                else out.substring(nameStart, callOpen).trim.toLowerCase
              val args = if (callOpen < 0) ""
                else out.substring(callOpen + 1, c2).trim
              val spec = out.substring(open + 1, m.start).trim
              // explicit frame required by DuckDB's own grammar (probed)
              val FrameRe = """(?is)^(.*?)\b(ROWS|RANGE)\b(.*)$""".r
              spec match {
                case _ if mode == "NO OTHERS" => // identity: drop the clause
                  Some(out.substring(0, m.start) + out.substring(m.end))
                case FrameRe(po0, fmode0, btxt0) if Set("sum", "count", "avg")
                    .contains(agg) && !args.toUpperCase.startsWith("DISTINCT") =>
                  val po = po0.trim; val fmode = fmode0.toUpperCase
                  val btxt = btxt0.trim
                  val BetweenRe = """(?is)^BETWEEN\s+(.+?)\s+AND\s+(.+)$""".r
                  val (b1, b2) = btxt match {
                    case BetweenRe(x, y) => (x.trim, y.trim)
                    case single => (single.trim, "CURRENT ROW")
                  }
                  (Bound.findFirstIn(b1), Bound.findFirstIn(b2)) match {
                    case (Some(_), Some(_)) =>
                      val (k1, k2) = (kind(b1), kind(b2))
                      val inclusive = (k1 == 'p' || k1 == 'c') &&
                        (k2 == 'f' || k2 == 'c')
                      lazy val hasOrder =
                        """(?i)\bORDER\s+BY\b""".r.findFirstIn(po).isDefined
                      if (!inclusive) // exclusion is a no-op (probed)
                        Some(out.substring(0, m.start) + out.substring(m.end))
                      else if (mode != "CURRENT ROW" &&
                          (fmode != "RANGE" || !hasOrder)) None
                      else {
                        val star = args == "*"
                        def w(a: String) = s"$a OVER ($spec)"
                        def wp(a: String) =
                          s"$a OVER ($po RANGE BETWEEN CURRENT ROW AND CURRENT ROW)"
                        val cNN = if (star) "1"
                          else s"(CASE WHEN ($args) IS NULL THEN 0 ELSE 1 END)"
                        val cVal = s"coalesce($args, 0)"
                        val cntF = if (star) w("count(*)") else w(s"count($args)")
                        val cntP = if (star) wp("count(*)") else wp(s"count($args)")
                        val sumF = s"coalesce(${w(s"sum($args)")}, 0)"
                        val sumP = s"coalesce(${wp(s"sum($args)")}, 0)"
                        val (nExcl, sExcl) = mode match {
                          case "CURRENT ROW" =>
                            (s"(($cntF) - $cNN)", s"(($sumF) - $cVal)")
                          case "GROUP" =>
                            (s"(($cntF) - ($cntP))", s"(($sumF) - ($sumP))")
                          case _ => // TIES: remove peers, keep current
                            (s"(($cntF) - ($cntP) + $cNN)",
                              s"(($sumF) - ($sumP) + $cVal)")
                        }
                        val repl = agg match {
                          case "count" => nExcl
                          case "sum" =>
                            s"(CASE WHEN $nExcl > 0 THEN $sExcl ELSE NULL END)"
                          case _ =>
                            s"(CASE WHEN $nExcl > 0 THEN $sExcl / $nExcl ELSE NULL END)"
                        }
                        Some(out.substring(0, nameStart) + repl +
                          out.substring(close + 1))
                      }
                    case _ => None
                  }
                case _ => None
              }
            }
          }
        }
      }
      rewritten.foreach(out = _)
    }
    out
  }

  /** DuckDB composite type SPELLINGS → Spark DDL spellings, recursively:
    * `T[]`/`T[n]` → `ARRAY<T>` (fixed-size arrays relax to lists — Spark
    * has no length-checked array type), `MAP(K, V)` → `MAP<K, V>`,
    * `STRUCT(a T, ...)` → `STRUCT<a: T, ...>`; bare `VARCHAR`/`TEXT` →
    * STRING and `BLOB` → BINARY at the leaves. Anything unrecognized
    * passes through unchanged and refuses in Spark's parser. */
  private[engine] def duckTypeToSpark(spec0: String): String = {
    val spec = spec0.trim
    val Arr = """(?s)^(.*?)\s*\[\s*\d*\s*\]$""".r
    spec match {
      case Arr(inner) => s"ARRAY<${duckTypeToSpark(inner)}>"
      case _ =>
        val up = spec.toUpperCase
        def innerOf(s: String) =
          s.substring(s.indexOf('(') + 1, s.lastIndexOf(')'))
        if (up.startsWith("MAP") && spec.contains("(") && spec.endsWith(")")) {
          val parts = splitTopLevel(innerOf(spec)).map(_.trim)
          if (parts.length == 2)
            s"MAP<${duckTypeToSpark(parts(0))}, ${duckTypeToSpark(parts(1))}>"
          else spec
        } else if (up.startsWith("STRUCT") && spec.contains("(") &&
            spec.endsWith(")")) {
          val fields = splitTopLevel(innerOf(spec)).map(_.trim).map { f =>
            val sp = f.split("\\s+", 2)
            if (sp.length == 2) s"${sp(0)}: ${duckTypeToSpark(sp(1))}" else f
          }
          s"STRUCT<${fields.mkString(", ")}>"
        } else up match {
          case "TEXT" | "VARCHAR" => "STRING"
          case "BLOB" | "BYTEA" => "BINARY"
          case _ => spec
        }
    }
  }

  /** Parse one type expression at `at` (identifier, optional balanced
    * parens, repeated `[n]` suffixes) → (span text, index after). */
  private def typeSpan(lx: SqlLex, at: Int): Option[(String, Int)] = {
    val sql = lx.sql
    var i = at
    while (i < sql.length && sql.charAt(i).isWhitespace) i += 1
    val start = i
    if (i >= sql.length || !(sql.charAt(i).isLetter || sql.charAt(i) == '_'))
      return None
    while (i < sql.length && (sql.charAt(i).isLetterOrDigit ||
      sql.charAt(i) == '_')) i += 1
    var j = i
    while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
    if (j < sql.length && sql.charAt(j) == '(') {
      val close = lx.close(j)
      if (close < 0) return None
      i = close + 1
    }
    var more = true
    while (more) { // [n] suffixes
      var k = i
      while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
      if (k < sql.length && sql.charAt(k) == '[') {
        k += 1
        while (k < sql.length && (sql.charAt(k).isDigit ||
          sql.charAt(k).isWhitespace)) k += 1
        if (k < sql.length && sql.charAt(k) == ']') i = k + 1 else more = false
      } else more = false
    }
    Some((sql.substring(start, i), i))
  }

  /** Composite type spellings in CAST positions — `x::INT[]`,
    * `CAST(x AS MAP(VARCHAR, INT))` — translated to Spark's `ARRAY<>`/
    * `MAP<>`/`STRUCT<>` forms (Spark's parser rejects the DuckDB
    * spellings outright, so before this pass every such cast refused).
    * The `AS` arm only fires when the translated span is directly
    * followed by `)` — a CAST/TRY_CAST close — so SELECT/FROM aliases
    * can never be touched. Literals are skipped by the [[SqlLex]] lex. */
  private[engine] def rewriteDuckTypeSpellings(sql: String): String = {
    def composite(span: String): Boolean = {
      val t = span.trim; val up = t.toUpperCase
      t.endsWith("]") || ((up.startsWith("MAP") || up.startsWith("STRUCT")) &&
        t.endsWith(")"))
    }
    if (!sql.contains('[') &&
        !"""(?i)\b(?:map|struct)\s*\(""".r.findFirstIn(sql).isDefined)
      return sql
    val sb = new StringBuilder(sql.length + 16)
    val lx = SqlLex(sql)
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (lx.inside(i)) { sb += c; i += 1 }
      else if (c == ':' && i + 1 < sql.length && sql.charAt(i + 1) == ':') {
        sb.append("::"); i += 2
        typeSpan(lx, i) match {
          case Some((span, after)) if composite(span) =>
            sb.append(duckTypeToSpark(span)); i = after
          case _ => ()
        }
      } else if ((c == 'a' || c == 'A') && i + 2 < sql.length &&
          (sql.charAt(i + 1) == 's' || sql.charAt(i + 1) == 'S') &&
          sql.charAt(i + 2).isWhitespace &&
          (i == 0 || (!sql.charAt(i - 1).isLetterOrDigit &&
            sql.charAt(i - 1) != '_' && sql.charAt(i - 1) != '$'))) {
        typeSpan(lx, i + 2) match {
          case Some((span, after)) if composite(span) &&
              after < sql.length && {
                var k = after
                while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
                k < sql.length && sql.charAt(k) == ')'
              } =>
            sb.append(sql.substring(i, i + 3))
            sb.append(duckTypeToSpark(span)); i = after
          case _ => sb += c; i += 1
        }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  /** `current_query()` returns the statement text VERBATIM (probed), so it
    * resolves first, against the pristine input, before any rewrite
    * changes the text. The substituted literal then shields its own
    * content from every later pass. */
  private def rewriteCurrentQuery(sql: String): String = {
    if (!sql.toLowerCase.contains("current_query")) return sql
    val lit = "'" + sql.replace("'", "''") + "'"
    SqlLex.replace(sql, """(?i)(?<![\w.$])current_query\s*\(\s*\)""".r)(_ => lit)
  }

  /** nextval over a table source would bind ONE literal for every result
    * row (DuckDB advances per row) — refuse like the insert path rather
    * than return silently-wrong repeats. currval is exempt: it does not
    * advance, so a repeated literal IS its per-row value. */
  private def guardMultiRowNextval(expanded: String): Unit = {
    val lx = SqlLex(expanded)
    val hasNextval = lx.findRaw(SeqFnRe).exists(_.group(1).equalsIgnoreCase("nextval"))
    if (hasNextval) {
      val hasFrom = lx.find("""(?i)(?<![\w.])FROM(?![\w])""".r).hasNext
      if (hasFrom)
        throw new IllegalArgumentException(
          "nextval in a query with a FROM clause is not supported " +
            "(each row would receive the same value)")
    }
  }

  // --- user views ------------------------------------------------------
  // Lazy-bound like DuckDB's: the registry holds body TEXT; materialization
  // runs the body through the full dialect pipeline and registers the
  // result as a temp view, re-done when a mutation may have changed what a
  // fresh bind would see. Registry scaladoc at [[userViews]].

  private val MutatingLead = Set("insert", "update", "delete", "create",
    "drop", "alter", "truncate", "copy", "import", "begin", "commit",
    "rollback", "set", "reset")

  /** Whole-word, case-insensitive occurrence of registered name `key` in
    * `text`, outside string literals. A double-quoted spelling
    * (`FROM "myview"`) counts too — it references the same catalog
    * object. */
  private def referencesName(text: String, key: String): Boolean = {
    val re = viewRefRe.getOrElseUpdate(key, {
      val q = java.util.regex.Pattern.quote(key)
      ("""(?i)(?:(?<![\w.$"])""" + q + """(?![\w$])|"""" + q + """")""").r
    })
    SqlLex(text).findRaw(re).hasNext
  }

  /** Bring every view the statement references (plus transitive view
    * dependencies) up to the current mutation generation, then replay the
    * bind error of any referenced view whose body no longer binds. Cheap
    * when no views are registered or none are referenced. */
  private def ensureUserViews(sql: String): Unit = {
    val uv = userViews // one immutable snapshot for the whole walk
    if (uv.isEmpty) return
    val keys = uv.keys.toSeq
    val roots = keys.filter(k => referencesName(sql, k))
    if (roots.isEmpty) return
    // transitive closure through bodies, then cycle + staleness handling
    val closure = scala.collection.mutable.LinkedHashSet[String]()
    def visit(k: String): Unit = if (closure.add(k))
      keys.filter(d => d != k &&
        referencesName(SqlLex.normalize(uv(k)._3), d)).foreach(visit)
    roots.foreach(visit)
    // materialization is SERIALIZED (leaf lock — view bodies are SELECTs,
    // never DML, so no path back to writeLock): two readers racing to
    // re-bind the same view would interleave temp-view swaps inside
    // Spark's analysis. The healthy-view fast path takes no lock, and the
    // staleness re-check inside the lock dedupes the waiting thread's work.
    if (closure.exists(k => viewGen.get(k).forall(_ != mutationGen)))
      viewMaterializeLock.synchronized {
        val gen = mutationGen
        val stale = closure.filter(k => viewGen.get(k).forall(_ != gen))
        if (stale.nonEmpty) materializeViews(uv, closure.toSeq, stale.toSet, gen)
      }
    roots.foreach(k => brokenViews.get(k).foreach(msg =>
      throw new IllegalArgumentException(msg)))
  }

  private val viewMaterializeLock = new Object

  /** Materialize `stale` views (dependencies first, within `closure`).
    * Never throws: a body that fails to bind — base table dropped, column
    * renamed, or the DuckDB-probed infinite-recursion case — records its
    * error for replay and loses its temp view, exactly a lazy binder's
    * observable behavior. */
  private def materializeViews(
      uv: scala.collection.immutable.VectorMap[String, (String, Option[Seq[String]], String)],
      closure: Seq[String], stale: Set[String], gen: Long): Unit = {
    val keys = uv.keys.toSeq
    val refMap = closure.map(k => k ->
      keys.filter(d => referencesName(SqlLex.normalize(uv(k)._3), d)).toSet).toMap
    def reachesSelf(k: String): Boolean = {
      val seen = scala.collection.mutable.HashSet[String]()
      def go(c: String): Boolean = refMap.get(c).exists(r =>
        r.contains(k) || r.exists(d => seen.add(d) && go(d)))
      go(k)
    }
    val done = scala.collection.mutable.HashSet[String]()
    def make(k: String): Unit = {
      if (!done.add(k)) return
      (refMap(k) - k).foreach(make)
      if (!stale.contains(k)) return
      brokenViews.remove(k)
      if (reachesSelf(k)) {
        // stale temp view must not satisfy a self-referencing body with
        // the OLD contents (DuckDB: infinite recursion error — probed)
        spark.catalog.dropTempView(k)
        brokenViews(k) = "infinite recursion detected: attempting to " +
          s"""recursively bind view "${uv(k)._1}""""
      } else {
        // swap-in-place: createOrReplaceTempView is atomic, so a
        // CONCURRENT reader of a healthy view never sees a
        // table-not-found window (drop-then-create did — r10 race);
        // a bind FAILURE drops the stale temp view, as a broken view
        // must not keep serving its old contents
        val (_, aliases, body) = uv(k)
        try {
          val df = materializeViewDf(aliases, body)
          val names = df.columns.toSeq
          val types = df.schema.fields.toSeq.map(f => Results.duckTypeName(f))
          viewShapes.get(k) match {
            // DuckDB refuses a re-bind whose shape drifted from the
            // creation-time bind (probed messages; types checked first —
            // an added column reports types, a renamed one reports names)
            case Some((_, t0)) if t0 != types =>
              spark.catalog.dropTempView(k)
              brokenViews(k) = "Binder Error: Contents of view were " +
                s"altered: types don't match! Expected [${t0.mkString(", ")}], " +
                s"but found [${types.mkString(", ")}] instead"
            case Some((n0, _)) if n0 != names =>
              spark.catalog.dropTempView(k)
              brokenViews(k) = "Binder Error: Contents of view were " +
                s"altered: names don't match! Expected [${n0.mkString(", ")}], " +
                s"but found [${names.mkString(", ")}] instead"
            case _ =>
              viewShapes.putIfAbsent(k, (names, types)) // imported views
              df.createOrReplaceTempView(k)
          }
        } catch { case scala.util.control.NonFatal(e) =>
          spark.catalog.dropTempView(k)
          brokenViews(k) = Option(e.getMessage).getOrElse(e.toString) }
      }
      viewGen(k) = gen
    }
    closure.foreach(make)
  }

  /** The body through the FULL dialect pipeline, with DuckDB's view
    * column-alias rule: aliases rename the leading columns, the rest keep
    * their own names; more aliases than columns is a bind error (probed). */
  private def materializeViewDf(aliases: Option[Seq[String]],
      body: String): DataFrame = {
    val df = queryDf(body)
    aliases.filter(_.nonEmpty).map { as =>
      if (as.length > df.columns.length) throw new IllegalArgumentException(
        "More VIEW aliases than columns in query result")
      df.toDF((as ++ df.columns.drop(as.length)).toIndexedSeq: _*)
    }.getOrElse(df)
  }

  private def createView(orReplace: Boolean, ifNotExists: Boolean,
      name: String, aliases: Option[Seq[String]], body: String): ExecuteResult = {
    val key = tableKey(name)
    if (!userViews.contains(key) && spark.catalog.tableExists(name))
      throw new IllegalArgumentException(
        s"Existing object $name is of type Table, trying to replace with type View")
    if (userViews.contains(key) && !orReplace) {
      if (ifNotExists) return ExecuteResult(0L)
      throw new IllegalArgumentException(
        s"""View with name "$name" already exists""")
    }
    // bind NOW against the PRE-replace catalog (DuckDB: CREATE errors on
    // an unbindable body; an OR REPLACE body naming the view itself binds
    // here and raises infinite recursion at query time — both probed)
    ensureUserViews(body)
    val bound = materializeViewDf(aliases, body)
    userViews = userViews.updated(key, (name, aliases, body))
    brokenViews.remove(key)
    viewShapes(key) = (bound.columns.toSeq,
      bound.schema.fields.toSeq.map(f => Results.duckTypeName(f)))
    viewGen.remove(key) // force materialization on first use
    ExecuteResult(0L)
  }

  /** Register a view WITHOUT bind-now validation — snapshot import only.
    * A legal live state can hold a broken view (base table dropped after
    * creation) or a self-referencing one (via CREATE OR REPLACE); replaying
    * its DDL through [[createView]] would throw mid-IMPORT and abort
    * restore. Raw registration + forced-stale generation defers binding to
    * first use, where [[materializeViews]] records any bind failure in
    * [[brokenViews]] — exactly the lazy binder's observable behavior. */
  private[engine] def registerViewRaw(name: String,
      aliases: Option[Seq[String]], body: String): Unit = {
    val key = tableKey(name)
    userViews = userViews.updated(key, (name, aliases, body))
    brokenViews.remove(key)
    viewShapes.remove(key) // recorded at first successful bind instead
    viewGen.remove(key)
  }

  private def dropView(ifExists: Boolean, name: String): ExecuteResult = {
    val key = tableKey(name)
    if (!userViews.contains(key)) {
      if (spark.catalog.tableExists(name))
        throw new IllegalArgumentException(
          s"Existing object $name is of type Table, trying to replace with type View")
      if (ifExists) return ExecuteResult(0L)
      throw new IllegalArgumentException(s"View with name $name does not exist!")
    }
    userViews = userViews.removed(key)
    brokenViews.remove(key)
    viewShapes.remove(key)
    viewGen.remove(key)
    comments.remove(s"view:$key")
    spark.catalog.dropTempView(key)
    ExecuteResult(0L)
  }

  /** DuckDB's SHOW TABLES lists views too (probed) — including a broken
    * one, whose temp view is gone but whose catalog entry remains. */
  private def showTablesDf: DataFrame = {
    import spark.implicits._
    val catalog = spark.sql("SHOW TABLES")
      .select(col("tableName").as("name"))
    val views = userViews.keys.toSeq.toDF("name")
    catalog.union(views).distinct().orderBy("name")
  }

  /** `ALTER VIEW v RENAME TO u` — registry rename preserving the
    * registration ORDER (snapshot export replays views in order, later
    * views may reference earlier ones). Other views' bodies that named
    * the old view break lazily at next use, like DuckDB's re-bind. */
  private def renameView(ifExists: Boolean, from: String, to: String): ExecuteResult = {
    val (kf, kt) = (tableKey(from), tableKey(to))
    if (!userViews.contains(kf)) {
      if (spark.catalog.tableExists(from))
        throw new IllegalArgumentException(
          "Can only modify table with ALTER TABLE statement")
      if (ifExists) return ExecuteResult(0L)
      throw new IllegalArgumentException(s"View with name $from does not exist!")
    }
    if (userViews.contains(kt) || spark.catalog.tableExists(to))
      throw new IllegalArgumentException(
        s"""Could not rename "$from" to "$to": another entry with this name already exists!""")
    userViews = userViews.map {
      case (k, (_, aliases, body)) if k == kf => kt -> (to, aliases, body)
      case other => other
    }
    brokenViews.remove(kf).foreach(brokenViews(kt) = _)
    viewShapes.remove(kf).foreach(viewShapes(kt) = _)
    viewGen.remove(kf) // stale → re-materialize under the new name at use
    viewRefRe.remove(kf)
    comments.remove(s"view:$kf").foreach(comments(s"view:$kt") = _)
    spark.catalog.dropTempView(kf)
    ExecuteResult(0L)
  }

  /** Drop every registered view (IMPORT DATABASE replaces whole-db state). */
  private[engine] def clearViews(): Unit = {
    userViews.keys.toSeq.foreach(k =>
      spark.catalog.dropTempView(k))
    userViews = scala.collection.immutable.VectorMap.empty
    brokenViews.clear(); viewGen.clear(); viewShapes.clear()
  }

  /** Registered views in registration order (snapshot export):
    * (display name, column aliases, body SQL). */
  private[engine] def viewEntries: Seq[(String, Option[Seq[String]], String)] =
    userViews.values.toSeq

  /** The text pipeline every passthrough statement goes through: comments
    * and alternative literals normalized ([[SqlLex.normalize]]), macros
    * expanded (their bodies may use sequences or read_*), a multi-row
    * nextval refused, then the dialect rewrites, sequence functions and
    * current_setting. */
  private def rewritePassthrough(sql: String): String = {
    val expanded = rewriteMacros(SqlLex.normalize(sql))
    guardMultiRowNextval(expanded)
    rewriteCurrentSetting(rewriteSequenceFunctions(duckCompat(expanded)))
  }

  private[engine] def rewriteSql(sql: String): String =
    rewriteReadFunctions(rewritePassthrough(sql))

  /** The statement-execution form of [[rewriteSql]]: read_* temp views
    * are dropped after eager analysis resolves them. */
  private def runSql(sql: String): DataFrame =
    sqlWithReadViews(rewritePassthrough(sql))

  /** `COMMENT ON TABLE/VIEW/COLUMN/INDEX name IS 'text'|NULL` — catalog
    * metadata, surfaced through CatalogInfo's comment columns. Probed
    * DuckDB 1.0: a missing target is a loud error; `IS NULL` clears;
    * COMMENT ON VIEW accepts a table target too (DuckDB is lax there —
    * mirrored). */
  private def commentOn(kind: String, name: String,
      valueText: String): ExecuteResult = {
    val k = kind.toLowerCase
    val key = name.toLowerCase
    def isView(n: String) = viewEntries.exists(_._1.equalsIgnoreCase(n))
    val mapKey = k match {
      case "table" =>
        if (!spark.catalog.tableExists(name) || isView(name))
          throw new IllegalArgumentException(
            s"Table with name $name does not exist!")
        s"table:$key"
      case "view" =>
        if (!isView(name) && !spark.catalog.tableExists(name))
          throw new IllegalArgumentException(
            s"View with name $name does not exist!")
        s"view:$key"
      case "index" =>
        if (!indexes.contains(key))
          throw new IllegalArgumentException(
            s"Index with name $name does not exist!")
        s"index:$key"
      case "column" =>
        val dot = key.lastIndexOf('.')
        if (dot < 0) throw new IllegalArgumentException(
          s"COMMENT ON COLUMN needs a table.column target, got $name")
        val (t, c) = (key.substring(0, dot), key.substring(dot + 1))
        if (!spark.catalog.tableExists(t) ||
            !spark.table(t).columns.exists(_.equalsIgnoreCase(c)))
          throw new IllegalArgumentException(
            s"Column with name $name does not exist!")
        s"column:$t.$c"
      case other => throw new IllegalArgumentException(
        s"COMMENT ON $other unsupported")
    }
    if (valueText.equalsIgnoreCase("NULL")) comments.remove(mapKey)
    else comments(mapKey) =
      valueText.stripPrefix("'").stripSuffix("'").replace("''", "'")
    ExecuteResult(0L)
  }

  /** `CREATE [UNIQUE] INDEX` — a plain index is catalog metadata (no
    * secondary-index access path in Spark scans; results are identical
    * with or without it, so accepting it is exact, not a shortcut). A
    * UNIQUE index is verified against the current data NOW and enforced on
    * every subsequent ingest/update path, like the PK. */
  private def createIndex(idx: String, table: String, cols: Seq[String],
      unique: Boolean): ExecuteResult = {
    val t = spark.table(table) // also validates the table exists
    val missing = cols.filterNot(c => t.columns.exists(_.equalsIgnoreCase(c)))
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"CREATE INDEX $idx: unknown column(s) ${missing.mkString(",")} on $table")
    if (indexes.contains(idx.toLowerCase))
      throw new IllegalArgumentException(s"index $idx already exists")
    if (unique) enforceUniqueKey(table, t, cols, s"UNIQUE INDEX $idx")
    indexes(idx.toLowerCase) = (tableKey(table), cols, unique)
    ExecuteResult(0L)
  }

  /** Throw unless `cols` is duplicate-free in `df` (rows with a NULL in
    * the key are exempt — SQL unique indexes treat NULLs as distinct).
    * One distributed aggregate; no driver loop. */
  private def enforceUniqueKey(table: String, df: DataFrame, cols: Seq[String],
      what: String): Unit = {
    val nonNull = df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
    val dups = nonNull
      .agg((count(lit(1)) - countDistinct(col(cols.head), cols.tail.map(col): _*))
        .as("__d")).collect().head.getAs[Long]("__d")
    if (dups > 0) throw uniqueViolation(table, cols, what)
  }

  private def uniqueViolation(table: String, cols: Seq[String], what: String) =
    new IllegalArgumentException(
      s"$what constraint failed: duplicate key on $table(${cols.mkString(",")})")

  /** The key columns of each UNIQUE index of `table`. */
  private def uniqueIndexCols(table: String): Seq[Seq[String]] =
    indexes.values.collect {
      case (t, cols, true) if t == tableKey(table) => cols
    }.toSeq

  /** Enforce every UNIQUE index of `table` against its prospective full
    * contents (called by the update/merge paths before the swap). */
  private def enforceUniqueIndexes(table: String, full: DataFrame): Unit =
    uniqueIndexCols(table).foreach(enforceUniqueKey(table, full, _, "UNIQUE INDEX"))

  /** `EXECUTE name(args)` → the prepared text with `$1`/`$2`… or `?`
    * placeholders bound to the argument literals. */
  private def bindPrepared(name: String, argText: Option[String]): String = {
    val body = prepared.getOrElse(name.toLowerCase,
      throw new IllegalArgumentException(s"unknown prepared statement $name"))
    val args = argText.map(splitTopLevel(_).map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)
    // named parameters: EXECUTE p(x := 2, y := 3) binds $x/$y (probed);
    // all-named argument lists take this path, mixed lists refuse below
    val Named = """(?s)^([A-Za-z_]\w*)\s*:=\s*(.+)$""".r
    val named = args.flatMap {
      case Named(k, v) => Some(k.toLowerCase -> v.trim)
      case _ => None
    }.toMap
    // placeholders inside a string literal stay untouched (masked view)
    if (named.nonEmpty && named.size == args.length)
      return SqlLex.replace(body, """\$([A-Za-z_]\w*)""".r)(m =>
        named.get(m.group(1).toLowerCase).map(v => s"($v)").getOrElse(m.matched))
    val out = SqlLex.replace(body, """\$(\d+)""".r) { m =>
      val n = m.group(1).toInt
      if (n >= 1 && n <= args.length) args(n - 1) else m.matched
    }
    // positional ?-placeholders, bound left to right
    if (!out.contains("?") || args.isEmpty) out
    else {
      var n = 0
      SqlLex.replace(out, """\?""".r)(m =>
        if (n < args.length) { n += 1; args(n - 1) } else m.matched)
    }
  }

  /** `PRAGMA table_info('t')` — DuckDB's SQLite-compatible column pragma:
    * (cid, name, type, notnull, dflt_value, pk). Same metadata as DESCRIBE
    * in the pragma's column shape. */
  private def pragmaTableInfo(table: String): DataFrame = {
    val df = spark.table(table)
    val (pk, notNull) = constraints.getOrElse(tableKey(table), (Nil, Nil))
    val rows = df.schema.fields.zipWithIndex.map { case (f, i) =>
      (i.toLong, f.name, Results.duckTypeName(f),
        notNull.exists(_.equalsIgnoreCase(f.name)),
        null: String, pk.exists(_.equalsIgnoreCase(f.name)))
    }
    spark.createDataFrame(rows.toSeq)
      .toDF("cid", "name", "type", "notnull", "dflt_value", "pk")
  }

  /** `DESCRIBE t` — DuckDB's column listing (reachable through
    * `db/db.go:70`): (column_name, column_type, "null", key, default,
    * extra). Declared DuckDB type names come from the same field metadata
    * that powers DatabaseTypeName fidelity; YES/NO nullability and the PRI
    * key flag come from the gateway's constraint registry. Pure metadata —
    * no scan. */
  private def describe(table: String): DataFrame =
    describeDf(spark.table(table), tableKey(table))

  private def describeDf(df: DataFrame, key: String = ""): DataFrame = {
    val (pk, notNull) = constraints.getOrElse(key, (Nil, Nil))
    val rows = df.schema.fields.map { f =>
      val nn = notNull.exists(_.equalsIgnoreCase(f.name))
      (f.name, Results.duckTypeName(f),
        if (nn) "NO" else "YES",
        if (pk.exists(_.equalsIgnoreCase(f.name))) "PRI" else null,
        null: String, null: String)
    }
    spark.createDataFrame(rows.toSeq)
      .toDF("column_name", "column_type", "null", "key", "default", "extra")
  }

  private def pivotStatement(table: String, on: String, inVals: Option[String],
      usingText: String, grp: Option[String], ord: Option[String]): DataFrame = {
    val df = spark.table(table)
    val FnRe = """(?is)^(\w+)\s*\(\s*([\w.*]+)\s*\)$""".r
    // USING admits a comma list of aggregates (probed: `USING sum(v),
    // count(*)` — value-major column order in both engines)
    val aggSpecs = splitTopLevel(usingText).map(_.trim).map {
      case FnRe(fn, arg) => (fn.toLowerCase, arg)
      case other =>
        throw new IllegalArgumentException(s"PIVOT USING $other unsupported")
    }
    def aggExpr(fn: String, arg: String) = fn match {
      case "sum" => sum(col(arg))
      case "count" => if (arg == "*") count(lit(1)) else count(col(arg))
      case "min" => min(col(arg))
      case "max" => max(col(arg))
      case "avg" => avg(col(arg))
      case "first" => first(col(arg))
      case "last" => last(col(arg))
      case other => throw new IllegalArgumentException(s"PIVOT USING $other unsupported")
    }
    val aggs = aggSpecs.map { case (f, a) => aggExpr(f, a) }
    val aggArgs = aggSpecs.map(_._2).toSet
    // `ON a, b` pivots the value COMBINATIONS, columns named a_b with '_'
    // (probed: PIVOT t ON c, g USING sum(v) → x_a, x_b, y_a, y_b, value
    // order ascending in both engines)
    val onCols = splitTopLevel(on).map(_.trim)
    val groupCols = grp match {
      case Some(g) => splitTopLevel(g).map(c => col(c.trim))
      case None => // DuckDB default: group by every non-pivot, non-value column
        df.columns
          .filterNot(c => onCols.exists(_.equalsIgnoreCase(c)) ||
            aggArgs.exists(_.equalsIgnoreCase(c)))
          .map(col).toSeq
    }
    // DuckDB pivot semantics, all probed: rows with a NULL in any ON
    // column are DROPPED (no "NULL" column, their measures vanish);
    // column names are the values' string renderings '_'-joined; and
    // column order is LEXICAL over those strings even for numeric ON
    // columns ('10_x' before '2_x', single-col '10' before '2') —
    // Spark's implicit pivot would keep NULLs and sort natively, so the
    // value list is always computed explicitly (one bounded
    // distinct-collect per ON column).
    val dfNn = df.filter(onCols.map(c => col(c).isNotNull).reduce(_ && _))
    val grouped = dfNn.groupBy(groupCols: _*)
    val pivCol =
      if (onCols.size == 1) col(onCols.head).cast("string")
      else concat_ws("_", onCols.map(c => col(c).cast("string")): _*)
    def distinctsOf(cols: Seq[String]): Seq[String] = {
      val perCol = cols.map(c => dfNn.select(col(c).cast("string"))
        .distinct().collect().map(_.getString(0)).sorted.toSeq)
      perCol.foldLeft(Seq("")) { (acc, vs) =>
        acc.flatMap(p => vs.map(v => if (p.isEmpty) v else s"${p}_$v"))
      }
    }
    // `ON ... IN (v1, ...)` applies to the LAST ON column (probed:
    // `ON g, c IN ('x')` crosses distinct(g) with the list)
    val values = inVals match {
      case Some(vs) =>
        val inList = splitTopLevel(vs).map(v =>
          v.trim.stripPrefix("'").stripSuffix("'"))
        if (onCols.size == 1) inList
        else distinctsOf(onCols.init).flatMap(p => inList.map(v => s"${p}_$v"))
      case None => distinctsOf(onCols)
    }
    val piv = grouped.pivot(pivCol, values)
    val pivoted = piv.agg(aggs.head, aggs.tail: _*)
    // bare-count pivots ZERO-fill the absent cells (probed); aggregate
    // pivots keep NULL
    val filled = if (aggSpecs == Seq(("count", "*"))) {
      val keyCols = groupCols.map(_.toString).toSet
      pivoted.select(pivoted.columns.map(c =>
        if (keyCols.contains(c)) col(s"`$c`")
        else coalesce(col(s"`$c`"), lit(0L)).as(c)): _*)
    } else pivoted
    ord.map(o => filled.orderBy(
      splitTopLevel(o).map(pivotSortExpr): _*)).getOrElse(filled)
  }

  /** PIVOT's ORDER BY keys with DuckDB's NULLS LAST default for both
    * directions (the parser's explicitNulls pass only sees ORDER BY
    * text, so the pivot path applies it here). */
  private def pivotSortExpr(item: String): Column = {
    val NullsRe2 = """(?is)^(.*?)\s+NULLS\s+(FIRST|LAST)\s*$""".r
    val DescRe = """(?is)^(.*?)\s+(ASC|DESC)\s*$""".r
    val (noNulls, nulls) = item.trim match {
      case NullsRe2(b, n) => (b.trim, Some(n.toUpperCase))
      case other => (other.trim, None)
    }
    val (body, desc) = noNulls match {
      case DescRe(b, d) => (b.trim, d.equalsIgnoreCase("DESC"))
      case other => (other, false)
    }
    val base = expr(body)
    (desc, nulls.getOrElse("LAST")) match {
      case (false, "LAST") => base.asc_nulls_last
      case (false, _) => base.asc_nulls_first
      case (true, "LAST") => base.desc_nulls_last
      case (true, _) => base.desc_nulls_first
    }
  }

  private def summarize(df: org.apache.spark.sql.DataFrame): DataFrame = {
    val profiles = df.schema.fields.map { f =>
      df.agg(
        count(lit(1)).as("count"),
        countDistinct(col(f.name)).as("approx_unique"),
        count(when(col(f.name).isNull, 1)).as("null_count"),
        min(col(f.name)).cast("string").as("min"),
        max(col(f.name)).cast("string").as("max"))
        .select(lit(f.name).as("column_name"), lit(f.dataType.sql).as("column_type"),
          col("min"), col("max"), col("approx_unique"), col("null_count"), col("count"))
    }
    profiles.reduce(_.unionByName(_))
  }

  // --- storage layout helpers (versioned data directories) --------------

  private def tableKey(table: String): String = table.toLowerCase

  /** Per-table root for versioned data dirs — distinct from the managed
    * location Spark would pick, so the two never collide. The root honors
    * the session-level `graft.data.dir` conf when set (warehouse.dir is a
    * STATIC conf, one per JVM): each gateway instance — e.g. a snapshot-
    * synced read replica on its own SparkSession (ReplicaSpec) — gets its
    * own storage root, the way each reference node has its own store dir
    * (`store/store.go:81`). */
  private def tableRoot(table: String): String = {
    val wh = spark.conf.getOption("graft.data.dir")
      .getOrElse(spark.conf.get("spark.sql.warehouse.dir")).stripSuffix("/")
    s"$wh/${tableKey(table).replace('.', '_')}__graft"
  }

  private def versionDir(table: String, version: Int): String =
    s"${tableRoot(table)}/v$version"

  private def deleteDir(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  // --- snapshot pins: an async snapshot (Service.takeSnapshot) captures a
  // consistent cut as {live version dir + its file list} per table, then
  // exports OUTSIDE the write lock. Version dirs are immutable except for
  // appended part files (unique names) and whole-dir GC — so deferring GC
  // of a pinned dir is all the isolation the cut needs.
  /** pinned version dir → refcount. Guarded by its own monitor (leaf lock:
    * never acquires writeLock/logLock inside). */
  private val pinnedDirs = scala.collection.mutable.HashMap[String, Int]()
  /** exact-path deletions deferred because the dir was pinned. */
  private val deferredDeletes = scala.collection.mutable.HashSet[String]()

  /** GC a version dir or table root. A pinned dir defers to pin release; a
    * root COVERING a pinned dir (DROP/re-CREATE TABLE) waits for the pins —
    * DDL is rare and the wait is bounded by the snapshot export. */
  private def gcDir(path: String): Unit = {
    pinnedDirs.synchronized {
      if (pinnedDirs.contains(path)) { deferredDeletes += path; return }
    }
    awaitPinsUnder(path)
    deleteDir(path)
  }

  /** Wait (bounded by the snapshot-export duration, 10 min hard cap) for
    * pins at or under `root` to drain. Used before any whole-root move or
    * delete (DROP/re-CREATE, ALTER ... RENAME TO) — a rename under an
    * in-flight export would invalidate the cut's pinned file paths. */
  private def awaitPinsUnder(root: String): Unit = pinnedDirs.synchronized {
    val deadline = System.nanoTime() + 10L * 60 * 1_000_000_000
    while (pinnedDirs.keysIterator.exists(k =>
             k == root || k.startsWith(root + "/")) &&
           System.nanoTime() < deadline)
      pinnedDirs.wait(1000)
  }

  /** Pin `table`'s live version dir and list its data files — the async
    * snapshot's cut handle. Appends only ADD uniquely-named part files and
    * rewrites land in NEW dirs, so this file list is immutable while the
    * pin holds. None for non-versioned (managed passthrough) tables. */
  private[engine] def pinTableCut(table: String)
      : Option[(String, Seq[org.apache.hadoop.fs.FileStatus])] =
    versions.get(tableKey(table)).map { v =>
      val dir = versionDir(table, v)
      pinnedDirs.synchronized {
        pinnedDirs(dir) = pinnedDirs.getOrElse(dir, 0) + 1
      }
      (dir, dataFiles(dir))
    }

  /** The data files of a version or delta dir: what a listing of it reads
    * (no `_`- or `.`-prefixed names). */
  private def dataFiles(dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(f => f.isFile && {
      val n = f.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }).toSeq
  }

  /** Release snapshot pins and run any deletions deferred while they held. */
  private[graft] def releasePins(dirs: Seq[String]): Unit = {
    val toDelete = pinnedDirs.synchronized {
      dirs.foreach { d =>
        pinnedDirs.get(d).foreach { c =>
          if (c <= 1) pinnedDirs.remove(d) else pinnedDirs(d) = c - 1
        }
      }
      val ready = deferredDeletes.filterNot(pinnedDirs.contains).toSeq
      deferredDeletes --= ready
      pinnedDirs.notifyAll()
      ready
    }
    toDelete.foreach(deleteDir)
  }

  /** Create the catalog entry for `table` over the parquet dir `loc` with
    * an explicit schema. Goes through the catalog API, not DDL text,
    * because `schema.toDDL` drops field METADATA — which carries declared
    * DuckDB types ([[Results.DuckTypeKey]]) through DML rewrites and
    * snapshot round trips (parquet footers persist it too). */
  private def createCatalogEntry(table: String,
      schema: org.apache.spark.sql.types.StructType, loc: String): Unit = {
    // materialize the (possibly still-empty) location first: resolving a
    // nonexistent path logs a FileNotFoundException WARN stack on every
    // CREATE TABLE (FileStreamSink.hasMetadata probing the dir)
    val p = new org.apache.hadoop.fs.Path(loc)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) fs.mkdirs(p)
    spark.catalog.createTable(table, "parquet", schema,
      Map("path" -> loc))
    ()
  }

  /** Create `table` populated from `df`, versioned from birth (v0). Used
    * by CTAS and by snapshot import. */
  private[engine] def createFromData(table: String, df: DataFrame): Unit = {
    if (userViews.contains(tableKey(table)))
      throw new IllegalArgumentException(
        s"Existing object $table is of type View, trying to replace with type Table")
    if (spark.catalog.tableExists(table))
      throw new IllegalArgumentException(s"table $table already exists")
    val loc = versionDir(table, 0)
    gcDir(tableRoot(table))
    df.write.parquet(loc)
    // a CHAR/VARCHAR(n) column (an older snapshot's, a passthrough
    // table's) stores as STRING like every gateway string column
    createCatalogEntry(table, org.apache.spark.sql.types.StructType(df.schema.map(f =>
      f.copy(metadata = org.apache.spark.sql.catalyst.util.CharVarcharUtils
        .cleanMetadata(f.metadata)))), loc)
    versions(tableKey(table)) = 0
    txn.foreach(_.created += tableKey(table)) // rollback will drop it
  }

  /** `ALTER TABLE [IF EXISTS] from RENAME TO to` — catalog + registry +
    * versioned-dir move. DuckDB (probed): a view target errors ("Can only
    * modify view with ALTER VIEW statement"), an existing destination
    * errors, IF EXISTS absorbs a missing source, constraints ride along,
    * and dependent views break lazily at their next bind (table-not-found)
    * — exactly what the generation-based re-bind here produces. */
  private def renameTable(ifExists: Boolean, from: String, to: String): ExecuteResult = {
    val (kf, kt) = (tableKey(from), tableKey(to))
    if (userViews.contains(kf))
      throw new IllegalArgumentException(
        "Can only modify view with ALTER VIEW statement")
    if (!spark.catalog.tableExists(from)) {
      if (ifExists) return ExecuteResult(0L)
      throw new IllegalArgumentException(s"Table with name $from does not exist!")
    }
    if (spark.catalog.tableExists(to) || userViews.contains(kt))
      throw new IllegalArgumentException(
        s"""Could not rename "$from" to "$to": another entry with this name already exists!""")
    if (inTxn)
      throw new IllegalArgumentException(
        "ALTER TABLE inside a transaction is not supported")
    versions.get(kf) match {
      case Some(v) =>
        val schema = spark.table(from).schema
        val src = new org.apache.hadoop.fs.Path(tableRoot(from))
        val dst = new org.apache.hadoop.fs.Path(tableRoot(to))
        val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // an in-flight async snapshot may hold pins on this root's version
        // dirs; moving the root out from under the cut would invalidate its
        // pinned file paths mid-export — wait for the pins like gcDir does
        awaitPinsUnder(tableRoot(from))
        spark.sql(s"DROP TABLE $from")
        if (fs.exists(dst)) fs.delete(dst, true)
        fs.rename(src, dst)
        createCatalogEntry(to, schema, versionDir(to, v))
        versions.remove(kf); versions(kt) = v
      case None => // managed passthrough table: Spark's own rename
        spark.sql(s"ALTER TABLE $from RENAME TO $to")
    }
    constraints.remove(kf).foreach(constraints(kt) = _)
    checks.remove(kf).foreach(checks(kt) = _)
    columnDefaults.remove(kf).foreach(columnDefaults(kt) = _)
    indexes.toSeq.collect { case (n, (t, cols, u)) if t == kf =>
      indexes(n) = (kt, cols, u) }
    comments.remove(s"table:$kf").foreach(comments(s"table:$kt") = _)
    comments.toSeq.collect { case (k, v) if k.startsWith(s"column:$kf.") =>
      comments.remove(k)
      comments(s"column:$kt.${k.stripPrefix(s"column:$kf.")}") = v }
    if (tempTables.remove(kf).isDefined) tempTables(kt) = ()
    // execute() bumps mutationGen for every ALTER — dependent views
    // re-bind on next use and break loudly, matching the probe
    ExecuteResult(0L)
  }

  private[engine] def dropTable(table: String): ExecuteResult = {
    if (userViews.contains(tableKey(table)))
      throw new IllegalArgumentException(
        s"Existing object $table is of type View, trying to replace with type Table")
    if (inTxn)
      throw new IllegalArgumentException(
        "DROP TABLE inside a transaction is not supported " +
          "(CREATE/INSERT/UPDATE/DELETE are)")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    constraints.remove(tableKey(table))
    checks.remove(tableKey(table))
    columnDefaults.remove(tableKey(table))
    versions.remove(tableKey(table))
    indexes.toSeq.filter(_._2._1 == tableKey(table))
      .foreach { case (k, _) => indexes.remove(k) }
    comments.remove(s"table:${tableKey(table)}")
    comments.keys.filter(_.startsWith(s"column:${tableKey(table)}."))
      .foreach(comments.remove)
    tempTables.remove(tableKey(table))
    // DROP TABLE leaves the files of a LOCATION-backed table in place —
    // remove our versioned data dirs so a re-CREATE starts empty
    gcDir(tableRoot(table))
    ExecuteResult(0L)
  }

  // --- CREATE TABLE AS SELECT: DuckDB runs the query and reports the row
  //     count; a CTAS table carries no declared constraints.
  private def ctas(table: String, query: String, ifNotExists: Boolean): ExecuteResult = {
    if (ifNotExists && spark.catalog.tableExists(table)) return ExecuteResult(0L)
    // DuckDB's CTAS grammar admits only query forms (probed: SELECT /
    // WITH / FROM-first / TABLE / VALUES / PIVOT / UNPIVOT parse; SHOW,
    // PRAGMA, DESCRIBE and DML all raise parser errors) — gate the lead
    // before queryDf0, whose statement dispatch is wider than a query
    val lead = query.trim.split("""[\s(]""", 2)(0).toLowerCase
    if (lead.nonEmpty && !Set("select", "with", "from", "table", "values",
        "pivot", "unpivot").contains(lead))
      throw new IllegalArgumentException(
        s"""syntax error at or near "${query.trim.split("\\s+", 2)(0)}"""")
    // `... WITH NO DATA` creates the schema only (probed; matched on the
    // masked view so literal text never triggers it)
    val NoData = """(?is)^(.*?)\s+WITH\s+NO\s+DATA\s*$""".r
    val (body, noData) = SqlLex(query).find(NoData).nextOption() match {
      case Some(m) => (m.group(1), true)
      case None => (query, false)
    }
    val df = queryDf0(body)
    createFromData(table, if (noData) df.limit(0) else df)
    constraints.remove(tableKey(table))
    ExecuteResult(spark.table(table).count())
  }

  // --- CREATE TABLE: strip constraint syntax Spark's parser rejects,
  //     normalize DuckDB-isms (TEXT), map the DuckDB-only types Spark
  //     lacks (UUID/TIME/TIMESTAMPTZ/HUGEINT/ENUM) onto storage types with
  //     the declared name stamped into field metadata for DatabaseTypeName
  //     fidelity (db/db.go:89-93), and remember the constraints.
  private def createTable(table: String, colSpec: String, ifNotExists: Boolean): ExecuteResult = {
    if (userViews.contains(tableKey(table)))
      throw new IllegalArgumentException(
        s"Existing object $table is of type View, trying to replace with type Table")
    // IF NOT EXISTS on an existing table is a no-op (DuckDB semantics) —
    // and must NOT overwrite the live table's constraint metadata
    if (ifNotExists && spark.catalog.tableExists(table)) return ExecuteResult(0L)
    if (spark.catalog.tableExists(table))
      throw new IllegalArgumentException(s"table $table already exists")
    var pk = Vector.empty[String]
    var notNull = Vector.empty[String]
    var checkExprs = Vector.empty[String]
    var defaults = Map.empty[String, String]
    val cleaned = splitTopLevel(colSpec).flatMap { raw =>
      val item = raw.trim
      val pkTable = """(?is)PRIMARY\s+KEY\s*\(([^)]*)\)""".r
      val checkTable = """(?is)CHECK\s*\((.*)\)\s*""".r
      item match {
        case pkTable(cols) =>
          pk ++= cols.split(",").map(_.trim.toLowerCase); None
        case checkTable(e) => // table-level CHECK (expr)
          checkExprs :+= e.trim; None
        case _ =>
          val parts = item.split("\\s+", 2)
          val name = parts(0)
          var spec = if (parts.length > 1) parts(1) else ""
          if ("""(?i).*\bPRIMARY\s+KEY\b.*""".r.matches(spec)) {
            pk :+= name.toLowerCase
            spec = spec.replaceAll("(?i)\\bPRIMARY\\s+KEY\\b", " ")
          }
          if ("""(?i).*\bNOT\s+NULL\b.*""".r.matches(spec)) {
            notNull :+= name.toLowerCase
            spec = spec.replaceAll("(?i)\\bNOT\\s+NULL\\b", " ")
          }
          // column-level CHECK (expr) — same enforcement as table-level
          val colCheck = """(?is)(.*?)\bCHECK\s*\((.*)\)\s*(.*)""".r
          spec match {
            case colCheck(pre, e, post) =>
              checkExprs :+= e.trim
              spec = (pre + " " + post).trim
            case _ => ()
          }
          // column-level DEFAULT <literal | (expr) | fn(...)> — stored as
          // DuckDB text and applied by insert() when the column is absent
          // from the batch (or spelled as the DEFAULT keyword)
          val colDefault = ("""(?is)(.*?)\bDEFAULT\s+""" +
            """('(?:[^']|'')*'|\([^()]*\)|[\w.+\-]+(?:\([^()]*\))?)""" +
            """\s*(.*)""").r
          spec match {
            case colDefault(pre, d, post) =>
              defaults += name.toLowerCase -> d.trim
              spec = (pre + " " + post).trim
            case _ => ()
          }
          spec = spec.replaceAll("(?i)\\bTEXT\\b", "STRING").trim
          Some((name, spec))
      }
    }
    // DuckDB type-surface corners reachable through the reference
    // passthrough (SURVEY §1.2 via db/db.go:70) with no Spark native type:
    // store in the closest Spark type, declare the DuckDB name in metadata.
    def cornerType(spec: String): Option[(String, String)] = {
      // a registered named type (CREATE TYPE) expands to its definition
      val resolved = namedTypes.getOrElse(spec.trim.toLowerCase, spec)
      val u = resolved.trim.toUpperCase
      u match {
        case "UUID" => Some(("STRING", "UUID"))
        case "TIME" => Some(("STRING", "TIME"))
        case "TIMESTAMPTZ" | "TIMESTAMP WITH TIME ZONE" =>
          Some(("TIMESTAMP", "TIMESTAMP WITH TIME ZONE"))
        case "HUGEINT" => Some(("DECIMAL(38,0)", "HUGEINT"))
        case "BIT" | "BITSTRING" => Some(("STRING", "BIT"))
        case e if e.startsWith("ENUM") => Some(("STRING", resolved.trim))
        // tagged UNION(tag TYPE, ...): DuckDB renders a union value as its
        // active member cast to VARCHAR at the database/sql boundary, so
        // string storage reproduces the wire value; the declared member
        // list survives verbatim in DatabaseTypeName (db/db.go:89-93).
        case e if e.startsWith("UNION(") => Some(("STRING", resolved.trim))
        case _ => None
      }
    }
    val fields = cleaned.map { case (name, spec) =>
      cornerType(spec) match {
        case Some((storage, duckName)) =>
          org.apache.spark.sql.types.StructField(name,
            org.apache.spark.sql.types.DataType.fromDDL(storage),
            nullable = true,
            new org.apache.spark.sql.types.MetadataBuilder()
              .putString(Results.DuckTypeKey, duckName).build())
        case None =>
          // DuckDB's VARCHAR spellings store as STRING and its binary
          // type is spelled BLOB; normalize for Spark's fromDDL — but only
          // HERE, after cornerType: a VARCHAR inside a declared corner
          // spec (UNION member list) must keep its DuckDB spelling in the
          // surfaced DatabaseTypeName. Composite spellings (`INT[]`,
          // `MAP(K,V)`, `STRUCT(...)`) translate recursively first.
          val norm = SqlGateway.DuckVarcharRe.replaceAllIn(duckTypeToSpark(spec), "STRING")
            .replaceAll("(?i)\\bBLOB\\b", "BINARY")
          org.apache.spark.sql.types.StructField(name,
            org.apache.spark.sql.types.DataType.fromDDL(norm), nullable = true)
      }
    }
    val loc = versionDir(table, 0)
    gcDir(tableRoot(table)) // stale files from a prior incarnation must not resurface
    createCatalogEntry(table, org.apache.spark.sql.types.StructType(fields), loc)
    versions(tableKey(table)) = 0
    txn.foreach(_.created += tableKey(table)) // rollback will drop it
    if (pk.nonEmpty || notNull.nonEmpty)
      constraints(tableKey(table)) = (pk, (notNull ++ pk).distinct)
    else constraints.remove(tableKey(table))
    if (checkExprs.nonEmpty) checks(tableKey(table)) = checkExprs
    else checks.remove(tableKey(table))
    if (defaults.nonEmpty) columnDefaults(tableKey(table)) = defaults
    else columnDefaults.remove(tableKey(table))
    ExecuteResult(0L)
  }

  /** `INSERT INTO t <rest>` → (optional column list, source query text).
    * The column list is only a column list when something follows its
    * closing paren; `INSERT INTO t (SELECT ...)` is a paren-wrapped source
    * (legal in DuckDB) and must still flow through the CHECKED insert path
    * — the old first-`)` regex let it fall through to raw passthrough,
    * silently skipping PK/NOT NULL enforcement. */
  private def parseInsertBody(rest: String): (Option[String], String) =
    if (rest.startsWith("(")) {
      val close = SqlLex(rest).close(0)
      if (close < 0)
        throw new IllegalArgumentException(s"unbalanced parentheses in INSERT: $rest")
      val inside = rest.substring(1, close).trim
      val after = rest.substring(close + 1).trim
      if (after.isEmpty) (None, inside) else (Some(inside), after)
    } else (None, rest)

  /** Find the first `kw` keyword outside quotes/parens and split there. */
  private def splitAtTopLevelKw(s: String, kw: String): (String, Option[String]) =
    topLevel(s, s"""(?<!\\S)${java.util.regex.Pattern.quote(kw)}(?!\\S)""") match {
      case Some((a, b)) => (s.substring(0, a).trim, Some(s.substring(b).trim))
      case None => (s.trim, None)
    }

  private def splitAtTopLevelWhere(s: String): (String, Option[String]) =
    splitAtTopLevelKw(s, "where")


  /** The `col = expr` pieces of a SET list, split at each piece's first
    * `=`, in the user's spelling ([[duckExpr]] compiles them). A piece
    * with no `=` is DuckDB's parser error. */
  private def setPairs(sets: String): Seq[(String, String)] =
    splitTopLevel(sets).map(_.split("=", 2) match {
      case Array(c, e) => (c.trim, e.trim)
      case _ => throw new IllegalArgumentException(
        "Parser Error: syntax error at end of input")
    })

  /** A user expression in DuckDB's spelling — a DML WHERE or SET, a
    * CHECK, a DEFAULT, an ALTER … USING — as a Column: the dialect text
    * pass once, then the gateway session's parser and analyzer, as for
    * every SELECT. */
  private def duckExpr(text: String): Column = expr(duckCompat(text))

  /** Throw if any row of `df` violates a registered CHECK of `table`.
    * SQL semantics: a row fails only when the expression is FALSE — NULL
    * passes (`expr === false` is NULL for NULL, dropped by the filter).
    * One filter per check, stopping at the first violating row; over a
    * literal batch the optimizer folds it on the driver (no job). */
  private def enforceChecks(table: String, df: DataFrame): Unit =
    checks.getOrElse(tableKey(table), Nil).foreach { e =>
      if (!df.filter(duckExpr(e) === lit(false)).isEmpty)
        throw new IllegalArgumentException(
          s"CHECK constraint failed: $table CHECK ($e)")
    }

  /** True iff `colName` appears as an identifier in any CHECK of `table` —
    * the guard ALTER RENAME/DROP uses (DuckDB refuses to mutate a column a
    * CHECK depends on). */
  private def checkReferences(table: String, colName: String): Boolean =
    checks.getOrElse(tableKey(table), Nil).exists(e =>
      ("(?i)(?<![\\w.])" + java.util.regex.Pattern.quote(colName) + "(?![\\w])").r
        .findFirstIn(e).isDefined)

  // --- INSERT with constraint enforcement (anti-join uniqueness check).
  //     skipConflicts = ON CONFLICT DO NOTHING: PK collisions (in-batch
  //     dups keep the first occurrence; existing keys drop) are filtered
  //     instead of rejected — rows_affected counts what actually landed.
  private def insert(table: String, cols: Option[String], source0: String,
      skipConflicts: Boolean = false, upsertSet: Option[String] = None,
      byName: Boolean = false): ExecuteResult = {
    // a bare FROM-first source (`INSERT INTO t FROM u [WHERE ...]`) is
    // DuckDB's SELECT-* sugar; the `FROM u SELECT ...` form falls through
    // untouched (it carries its own projection)
    val source =
      if ("""(?is)^\s*FROM\b""".r.findFirstIn(source0).isDefined &&
          !SqlLex(source0).find("""(?i)\bSELECT\b""".r).hasNext)
        s"SELECT * ${source0.trim}"
      else source0
    val tableDefaults = columnDefaults.getOrElse(tableKey(table), Map.empty)
    // the DEFAULT keyword inside a VALUES tuple takes the column's stored
    // default (NULL when none — DuckDB semantics); positional mapping via
    // the explicit column list or the table's column order
    val sourced = {
      val ValuesRe = """(?is)^\s*VALUES\s*(.+)$""".r
      source match {
        case ValuesRe(body)
            if """(?i)(?<![\w'])DEFAULT(?![\w'])""".r
              .findFirstIn(body).isDefined =>
          val order: Seq[String] = cols match {
            case Some(c) => c.split(",").map(_.trim.toLowerCase).toSeq
            case None => spark.table(table).columns.map(_.toLowerCase).toSeq
          }
          val tuples = splitTopLevel(body).map(_.trim).map { t =>
            if (!t.startsWith("(") || !t.endsWith(")")) t
            else splitTopLevel(t.drop(1).dropRight(1)).map(_.trim)
              .zipWithIndex.map { case (v, i) =>
                if (v.equalsIgnoreCase("DEFAULT"))
                  order.lift(i).flatMap(tableDefaults.get).getOrElse("NULL")
                else v
              }.mkString("(", ", ", ")")
          }
          "VALUES " + tuples.mkString(", ")
        case _ => source
      }
    }
    val batchSql = cols match {
      case Some(c) => s"SELECT * FROM (${valuesToSelect(sourced, c)})"
      case None => valuesToSelect(sourced, "")
    }
    // a nextval in a multi-row SELECT source would hand every row the SAME
    // id (the rewrite binds one literal per call site) — refuse it rather
    // than corrupt; VALUES lists carry one call site per tuple and are exact
    val macroExpanded = rewriteMacros(SqlLex.normalize(batchSql))
    if (SeqFnRe.findFirstIn(macroExpanded).isDefined &&
        !source.trim.toUpperCase.startsWith("VALUES"))
      throw new IllegalArgumentException(
        "nextval/currval in a SELECT insert source is not supported " +
          "(each row would receive the same value) — use a VALUES list")
    var batch = sqlWithReadViews(rewriteSequenceFunctions(duckCompat(macroExpanded)))
    val target = spark.table(table)
    // BY NAME: the batch's OWN column names are the insert list (an
    // unknown name errors like DuckDB); alignment then shares the
    // default-filling explicit-cols path below
    val nameCols =
      if (!byName) cols
      else {
        // DuckDB rejects combining BY NAME with an explicit column list —
        // silently realigning a misaligned statement would corrupt
        if (cols.isDefined) throw new IllegalArgumentException(
          "INSERT BY NAME cannot be combined with an explicit column list")
        val unknown = batch.columns.filterNot(bc =>
          target.columns.exists(_.equalsIgnoreCase(bc)))
        if (unknown.nonEmpty) throw new IllegalArgumentException(
          s"INSERT BY NAME: $table has no column ${unknown.head}")
        Some(batch.columns.mkString(","))
      }
    // align batch columns to target schema (explicit column list or position)
    batch = nameCols match {
      case Some(c) =>
        val given = c.split(",").map(_.trim)
        val renamed = batch.toDF(given.toIndexedSeq: _*)
        val missing = target.columns.filterNot(t => given.exists(_.equalsIgnoreCase(t)))
        // a column absent from the insert list takes its DEFAULT (NULL
        // when none — DuckDB semantics, probed incl. ALTER SET DEFAULT)
        missing.foldLeft(renamed)((df, m) =>
          df.withColumn(m, tableDefaults.get(m.toLowerCase)
            .map(duckExpr)
            .getOrElse(lit(null)).cast(target.schema(m).dataType)))
          .select(target.columns.map(col).toIndexedSeq: _*)
      case None => batch.toDF(target.columns.toIndexedSeq: _*)
    }
    batch = target.columns.foldLeft(batch)((df, c) =>
      df.withColumn(c, col(c).cast(target.schema(c).dataType)))

    val (pk, notNull) = constraints.getOrElse(table.toLowerCase, (Nil, Nil))
    batch.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        insertLocal(table, target, l, pk, notNull, skipConflicts, upsertSet)
      case _ =>
        insertStaged(table, target, batch, pk, notNull, skipConflicts, upsertSet)
    }
  }

  import SqlGateway.BatchStats

  /** The checks every insert batch passes before it meets the table: NOT
    * NULL, CHECK (on every ingest path, like DuckDB), then — for a plain
    * INSERT into a keyed table — no duplicate key within the batch. */
  private def checkBatch(table: String, staged: DataFrame, stats: BatchStats,
      pk: Seq[String], plain: Boolean): Unit = {
    stats.nullCols.headOption.foreach(c =>
      throw new IllegalArgumentException(s"NOT NULL constraint failed: $table.$c"))
    enforceChecks(table, staged)
    if (plain && pk.nonEmpty && stats.pkDups > 0)
      throw new IllegalArgumentException(
        s"PRIMARY KEY constraint failed (duplicate in batch): $table(${pk.mkString(",")})")
  }

  private def pkExists(table: String, pk: Seq[String]) =
    new IllegalArgumentException(
      s"PRIMARY KEY constraint failed (key exists): $table(${pk.mkString(",")})")

  /** INSERT of a batch whose rows are computed by Spark (INSERT … SELECT,
    * COPY, `read_*`). Staged once: the batch feeds the constraint checks
    * AND the write. __pos records each row's in-batch position (monotonic
    * id: partition index ≪ 33 | row-in-partition) so ON CONFLICT DO
    * NOTHING can keep the FIRST occurrence of a duplicated key
    * deterministically. */
  private def insertStaged(table: String, target: DataFrame, batch: DataFrame,
      pk: Seq[String], notNull: Seq[String], skipConflicts: Boolean,
      upsertSet: Option[String]): ExecuteResult = {
    val stagedPos = batch
      .withColumn("__pos", monotonically_increasing_id())
      .localCheckpoint(true)
    val staged = stagedPos.drop("__pos")
    // one aggregate job: row count + per-column null counts + in-batch dups
    val aggs = count(lit(1)).as("__n") +:
      notNull.map(c => count(when(col(c).isNull, 1)).as(s"__null_$c")) :+
      (if (pk.nonEmpty)
        (count(lit(1)) - countDistinct(col(pk.head), pk.tail.map(col): _*))
          .as("__pk_dups")
      else count(when(lit(false), 1)).as("__pk_dups"))
    val row = staged.agg(aggs.head, aggs.tail: _*).collect().head
    val stats = BatchStats(row.getAs[Long]("__n"),
      notNull.filter(c => row.getAs[Long](s"__null_$c") > 0),
      row.getAs[Long]("__pk_dups"))
    checkBatch(table, staged, stats, pk, upsertSet.isEmpty && !skipConflicts)
    if (upsertSet.isDefined) return upsertMerge(table, target, staged, pk, stats, upsertSet.get)
    if (pk.nonEmpty && !skipConflicts &&
        staged.join(target, pk.toSeq, "left_semi").limit(1).count() > 0)
      throw pkExists(table, pk)
    if (pk.nonEmpty && skipConflicts) {
      // keep the FIRST in-batch occurrence per key (min __pos), matching
      // the documented DO NOTHING semantics — dropDuplicates keeps an
      // arbitrary row
      val firstW = org.apache.spark.sql.expressions.Window
        .partitionBy(pk.map(col): _*).orderBy(col("__pos").asc)
      val surviving = stagedPos
        .withColumn("__rn", row_number().over(firstW))
        .filter(col("__rn") === 1).drop("__pos", "__rn")
        .join(target, pk.toSeq, "left_anti")
        .localCheckpoint(eager = true)
      val n = surviving.count()
      enforceUniqueIndexes(table, target.union(surviving))
      if (captureReturning) // RETURNING: only the rows actually inserted
        captureRows(surviving)
      appendRows(table, surviving)
      ExecuteResult(n)
    } else {
      enforceUniqueIndexes(table, target.union(staged))
      if (captureReturning)
        captureRows(staged)
      appendRows(table, staged)
      ExecuteResult(stats.n)
    }
  }

  /** INSERT of a literal batch: VALUES after alignment and casts, whose
    * optimized plan is a LocalRelation. Its rows are already on the
    * driver, so the row count, NOT NULL and in-batch duplicate checks read
    * them, CHECKs fold over the local relation, the PK-exists and UNIQUE
    * INDEX probes share one job over the table (only when it has such a
    * key), and [[appendRows]] writes the file without a job. ON CONFLICT,
    * upsert and RETURNING take their rows from the same local batch. */
  private def insertLocal(table: String, target: DataFrame,
      l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation,
      pk: Seq[String], notNull: Seq[String], skipConflicts: Boolean,
      upsertSet: Option[String]): ExecuteResult = {
    val staged = ColumnShim.ofRows(spark, l)
    val rows = staged.collect().toIndexedSeq // a local scan: no job
    val at = columnIndex(table, staged.columns.toSeq) _
    val pkAt = pk.map(at)
    val stats = BatchStats(rows.length,
      notNull.filter(c => rows.exists(_.isNullAt(at(c)))),
      if (pk.isEmpty) 0L else rows.length - rows.flatMap(rowKey(_, pkAt)).distinct.length)
    checkBatch(table, staged, stats, pk, upsertSet.isEmpty && !skipConflicts)
    if (upsertSet.isDefined) return upsertMerge(table, target, staged, pk, stats, upsertSet.get)
    val unique = uniqueIndexCols(table)
    val existing =
      existingKeys(table, target, l, rows, (if (pk.isEmpty) Nil else Seq(pk)) ++ unique)
    if (pk.nonEmpty && !skipConflicts && existing(pk).nonEmpty) throw pkExists(table, pk)
    // DO NOTHING on a keyed table: the first occurrence of each key that
    // the table does not hold yet
    val landing =
      if (pk.isEmpty || !skipConflicts) rows.indices
      else {
        val seen = scala.collection.mutable.HashSet.empty[Option[Seq[Any]]]
        rows.indices.filter { i =>
          val k = rowKey(rows(i), pkAt)
          seen.add(k) && !k.exists(existing(pk))
        }
      }
    unique.foreach { cols =>
      val keys = landing.flatMap(i => rowKey(rows(i), cols.map(at)))
      if (keys.distinct.length < keys.length || keys.exists(existing(cols)))
        throw uniqueViolation(table, cols, "UNIQUE INDEX")
    }
    val landed =
      if (landing.length == rows.length) staged
      else ColumnShim.ofRows(spark, l.copy(data = landing.map(l.data)))
    if (captureReturning) // RETURNING: only the rows actually inserted
      captureRows(landed)
    appendRows(table, landed)
    ExecuteResult(landing.length)
  }

  private def columnIndex(table: String, names: Seq[String])(c: String): Int = {
    val i = names.indexWhere(_.equalsIgnoreCase(c))
    if (i < 0) throw new IllegalArgumentException(s"$table has no column $c")
    i
  }

  /** A row's key on the columns at `idx`, equal exactly when a SQL
    * equi-join matches it (NaN = NaN, -0.0 = 0.0, BLOBs by content); None
    * when a key column is NULL. */
  private def rowKey(r: org.apache.spark.sql.Row, idx: Seq[Int]): Option[Seq[Any]] =
    if (idx.exists(r.isNullAt)) None
    else Some(idx.map(i => r.get(i) match {
      case d: Double => if (d.isNaN) "NaN" else d + 0.0
      case f: Float => if (f.isNaN) "NaN" else f + 0.0f
      case b: Array[Byte] => b.toSeq
      case v => v
    }))

  /** The keys of the local batch `l` that `target` already holds, per key
    * column list: one job for all the lists (a filter on an IN list of the
    * batch's literal keys, collected — no join, no shuffle), and none when
    * there is no list. */
  private def existingKeys(table: String, target: DataFrame,
      l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation,
      rows: Seq[org.apache.spark.sql.Row],
      keySets: Seq[Seq[String]]): Map[Seq[String], Set[Seq[Any]]] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val none = keySets.map(_ -> Set.empty[Seq[Any]]).toMap
    if (keySets.isEmpty || l.data.isEmpty) return none
    val at = columnIndex(table, l.schema.fieldNames.toSeq) _
    val hit = keySets.map { ks =>
      val idx = ks.map(at)
      val keys = l.data.filterNot(r => idx.exists(r.isNullAt)).map { r =>
        val lits = idx.map(i => ColumnShim.column(
          Literal(r.get(i, l.schema(i).dataType), l.schema(i).dataType)))
        if (lits.length == 1) lits.head
        else struct(lits.zipWithIndex.map { case (c, j) => c.as(s"_$j") }: _*)
      }
      val probe =
        if (ks.length == 1) col(ks.head)
        else struct(ks.zipWithIndex.map { case (c, j) => col(c).as(s"_$j") }: _*)
      if (keys.isEmpty) lit(false) else probe.isin(keys: _*)
    }.reduce(_ || _)
    val cols = keySets.flatten.distinctBy(_.toLowerCase)
    val found = target.filter(hit).select(cols.map(col): _*).collect()
    val foundAt = columnIndex(table, cols) _
    keySets.map { ks =>
      val inBatch = rows.flatMap(rowKey(_, ks.map(at))).toSet
      ks -> found.flatMap(rowKey(_, ks.map(foundAt))).filter(inBatch).toSet
    }.toMap
  }

  /** `ON CONFLICT DO UPDATE SET ...`: a distributed full-outer merge on
    * the PK — target-only rows pass through, new rows insert, conflicting
    * rows take the SET expressions (with `excluded.<col>` bound to the
    * incoming row, DuckDB semantics) — written through the versioned
    * atomic swap, so readers never see a half-merged table.
    * rows_affected = batch size (inserted + updated), as in DuckDB. */
  private def upsertMerge(table: String, target: DataFrame, staged: DataFrame,
      pk: Seq[String], stats: BatchStats, sets: String): ExecuteResult = {
    if (pk.isEmpty)
      throw new IllegalArgumentException(
        s"ON CONFLICT DO UPDATE requires a PRIMARY KEY on $table")
    if (stats.pkDups > 0)
      throw new IllegalArgumentException(
        s"ON CONFLICT DO UPDATE: duplicate key within the batch is ambiguous: $table")
    val known = target.columns.map(_.toLowerCase).toSet
    val assignments = setPairs(sets).map { case (c, e) =>
      val colName = c.toLowerCase
      if (!known.contains(colName))
        throw new IllegalArgumentException(s"upsert $table: unknown column $c")
      // bind DuckDB's `excluded.<col>` to the staged batch's aliased cols
      (colName, rewriteExcluded(e))
    }.toMap
    val ex = staged.select(staged.columns.map(c => col(c).as(s"__ex_$c")).toIndexedSeq: _*)
    val cond = pk.map(k => col(k) === col(s"__ex_$k")).reduce(_ && _)
    val merged = target.join(ex, cond, "full").select(target.columns.map { c =>
      val updated = assignments.get(c.toLowerCase)
        .map(e => duckExpr(e).cast(target.schema(c).dataType))
        .getOrElse(col(c))
      when(col(s"__ex_${pk.head}").isNull, col(c)) // target-only row
        .when(col(pk.head).isNull, col(s"__ex_$c")) // brand-new row
        .otherwise(updated) // conflict → SET expressions
        .as(c)
    }.toIndexedSeq: _*)
    enforceChecks(table, merged) // upserted + merged rows must satisfy CHECK
    enforceUniqueIndexes(table, merged)
    overwriteTable(table, merged)
    ExecuteResult(stats.n)
  }

  /** Rewrite `excluded.<col>` → `__ex_<col>` — but ONLY outside
    * single-quoted string literals, and only at identifier boundaries: a
    * plain replaceAll would also rewrite `'see excluded.x'` inside a SET
    * string value, silently corrupting the stored text. */
  private[engine] def rewriteExcluded(e: String): String =
    // the dot must follow (optional whitespace around it) — a bare
    // `excluded` that is not a qualifier is left untouched
    SqlLex.replace(e, """(?i)(?<![\w])excluded\s*\.\s*""".r)(_ => "__ex_")

  /** `VALUES (...),(...)` → runnable SELECT; pass SELECT/TABLE through. */
  private def valuesToSelect(source: String, cols: String): String = {
    val s = source.trim
    if (s.toUpperCase.startsWith("VALUES")) s"SELECT * FROM ($s)"
    else s
  }

  // --- ALTER TABLE vs the constraint registry (VERDICT r3 item 7): Spark's
  //     v1 parquet tables support neither RENAME COLUMN nor DROP COLUMN, and
  //     a raw passthrough would anyway leave `constraints` naming a column
  //     that no longer exists — a stale PK that breaks every later INSERT.
  //     Both statements are full read-rewrite-swap commands here (same
  //     versioned-dir machinery as UPDATE/DELETE), with the registry updated
  //     in the same locked step.

  private def alterRenameColumn(table: String, from: String, to: String): ExecuteResult = {
    val target = spark.table(table)
    val actual = target.columns.find(_.equalsIgnoreCase(from)).getOrElse(
      throw new IllegalArgumentException(s"ALTER $table: unknown column $from"))
    if (target.columns.exists(_.equalsIgnoreCase(to)))
      throw new IllegalArgumentException(s"ALTER $table: column $to already exists")
    // renaming a column a CHECK references would orphan the expression
    // text (DuckDB rewrites it; refusing is the honest subset)
    if (checkReferences(table, from))
      throw new IllegalArgumentException(
        s"ALTER $table: column $from is referenced by a CHECK constraint")
    replaceSchema(table, target.withColumnRenamed(actual, to))
    constraints.updateWith(tableKey(table)) {
      case Some((pk, nn)) =>
        def ren(cols: Seq[String]) =
          cols.map(c => if (c.equalsIgnoreCase(from)) to.toLowerCase else c)
        Some((ren(pk), ren(nn)))
      case None => None
    }
    columnDefaults.updateWith(tableKey(table)) {
      case Some(m) => Some(m.map { case (k, v) =>
        (if (k.equalsIgnoreCase(from)) to.toLowerCase else k) -> v })
      case None => None
    }
    // the column's COMMENT follows the rename (DuckDB keeps it; leaving
    // the old key would also leak the comment onto a later re-created
    // column of the old name) — same migration renameTable does
    comments.remove(s"column:${tableKey(table)}.${from.toLowerCase}")
      .foreach(comments(s"column:${tableKey(table)}.${to.toLowerCase}") = _)
    ExecuteResult(0L)
  }

  private def alterDropColumn(table: String, colName: String): ExecuteResult = {
    val target = spark.table(table)
    val actual = target.columns.find(_.equalsIgnoreCase(colName)).getOrElse(
      throw new IllegalArgumentException(s"ALTER $table: unknown column $colName"))
    val (pk, _) = constraints.getOrElse(tableKey(table), (Nil, Nil))
    // DuckDB refuses to drop a key column while the constraint stands —
    // silently un-keying the table would be worse than erroring
    if (pk.exists(_.equalsIgnoreCase(colName)))
      throw new IllegalArgumentException(
        s"ALTER $table: cannot drop PRIMARY KEY column $colName")
    if (checkReferences(table, colName))
      throw new IllegalArgumentException(
        s"ALTER $table: cannot drop column $colName referenced by a CHECK constraint")
    replaceSchema(table, target.drop(actual))
    constraints.updateWith(tableKey(table)) {
      case Some((p, nn)) => Some((p, nn.filterNot(_.equalsIgnoreCase(colName))))
      case None => None
    }
    columnDefaults.updateWith(tableKey(table)) {
      case Some(m) =>
        val next = m - colName.toLowerCase
        if (next.isEmpty) None else Some(next)
      case None => None
    }
    // a re-created column under this name must not inherit the dead
    // column's COMMENT from the registry
    comments.remove(s"column:${tableKey(table)}.${colName.toLowerCase}")
    ExecuteResult(0L)
  }

  /** `ALTER … ALTER COLUMN c SET DEFAULT expr` / `DROP DEFAULT` — the
    * default store insert() reads for absent columns and the DEFAULT
    * keyword (Spark's own column-default metadata never fires because the
    * gateway builds every insert batch itself). */
  private def alterSetDefault(table: String, colName: String,
      dflt: Option[String]): ExecuteResult = {
    val target = spark.table(table)
    if (!target.columns.exists(_.equalsIgnoreCase(colName)))
      throw new IllegalArgumentException(s"ALTER $table: unknown column $colName")
    // unparseable defaults fail NOW (a Column parses its text lazily)
    dflt.foreach(d => ColumnShim.expression(spark, duckExpr(d)))
    columnDefaults.updateWith(tableKey(table)) { cur =>
      val m = cur.getOrElse(Map.empty)
      val next = dflt match {
        case Some(d) => m + (colName.toLowerCase -> d.trim)
        case None => m - colName.toLowerCase
      }
      if (next.isEmpty) None else Some(next)
    }
    ExecuteResult(0L)
  }

  /** `ALTER … ADD COLUMN [IF NOT EXISTS] c <spec>` — delegates to Spark's
    * native ADD COLUMN (whose DEFAULT backfills existing rows, matching
    * DuckDB — probed) and records the DEFAULT so the gateway's own insert
    * path applies it to FUTURE rows too. */
  private def alterAddColumn(table: String, ifNotExists: Boolean,
      colName: String, spec0: String): ExecuteResult = {
    val target = spark.table(table)
    if (target.columns.exists(_.equalsIgnoreCase(colName))) {
      if (ifNotExists) return ExecuteResult(0L)
      throw new IllegalArgumentException(
        s"ALTER $table: column $colName already exists")
    }
    val spec = SqlLex.replace(spec0.trim.replaceAll("(?i)\\bTEXT\\b", "STRING"),
      SqlGateway.DuckVarcharRe)(_ => "STRING")
    val ColDefault = ("""(?is)(.*?)\bDEFAULT\s+""" +
      """('(?:[^']|'')*'|\([^()]*\)|[\w.+\-]+(?:\([^()]*\))?)\s*(.*)""").r
    spec match {
      case ColDefault(_, d, _) =>
        columnDefaults.updateWith(tableKey(table)) { cur =>
          Some(cur.getOrElse(Map.empty) + (colName.toLowerCase -> d.trim))
        }
      case _ => ()
    }
    spark.sql(s"ALTER TABLE $table ADD COLUMN $colName $spec")
    spark.catalog.refreshTable(table)
    ExecuteResult(0L)
  }

  /** `ALTER … ALTER COLUMN c [SET DATA] TYPE t [USING expr]` — a
    * read-cast-swap through the versioned rewrite. DuckDB errors the
    * whole statement when any value fails to convert (probed); a cast
    * that NULLs a non-NULL input reproduces that loudly. */
  private def alterColumnType(table: String, colName: String,
      typeSpec: String, using: Option[String]): ExecuteResult = {
    val target = spark.table(table)
    val actual = target.columns.find(_.equalsIgnoreCase(colName)).getOrElse(
      throw new IllegalArgumentException(s"ALTER $table: unknown column $colName"))
    if (checkReferences(table, colName))
      throw new IllegalArgumentException(
        s"ALTER $table: column $colName is referenced by a CHECK constraint")
    val sparkType = SqlGateway.DuckVarcharRe.replaceAllIn(typeSpec.trim, "STRING")
      .replaceAll("(?i)^TEXT$", "STRING")
      .replaceAll("(?i)^INT4$|^INTEGER$", "INT")
      .replaceAll("(?i)^INT8$", "BIGINT")
    val value = using.map(duckExpr).getOrElse(col(actual))
    val casted = value.cast(sparkType)
    val bad = target.filter(value.isNotNull && casted.isNull).count()
    if (bad > 0) throw new IllegalArgumentException(
      s"ALTER $table: could not convert $bad row(s) of $colName to $typeSpec")
    replaceSchema(table, target.select(target.columns.map(c =>
      if (c.equalsIgnoreCase(colName)) casted.as(actual) else col(c))
      .toIndexedSeq: _*))
    ExecuteResult(0L)
  }

  // --- COPY (reference passthrough surface; DuckDB Copy semantics:
  //     rows_affected = rows copied, COPY FROM obeys table constraints)

  /** Parse a DuckDB COPY option list into (spark format, reader/writer
    * options). Defaults mirror DuckDB: no FORMAT means CSV, and DuckDB's
    * CSV writer emits a header unless HEADER false. */
  private def copyOptions(spec: String,
      path: String = ""): (String, Map[String, String], Seq[String]) = {
    // DuckDB infers the format from the file extension when no FORMAT
    // option is given (probed: .parquet → parquet, unknown → csv; a COPY
    // to '.json' silently wrote CSV here before r10)
    val p = path.toLowerCase
    var format =
      if (p.endsWith(".parquet") || p.endsWith(".pq")) "parquet"
      else if (p.endsWith(".json") || p.endsWith(".jsonl") ||
               p.endsWith(".ndjson")) "json"
      else "csv"
    var partitionBy = Seq.empty[String]
    val opts = scala.collection.mutable.Map("header" -> "true")
    Option(spec).toSeq.flatMap(splitTopLevel).map(_.trim).filter(_.nonEmpty).foreach { o =>
      val parts = o.split("\\s+", 2)
      parts(0).toUpperCase match {
        case "FORMAT" => format = parts(1).trim.toLowerCase
        case "HEADER" =>
          opts("header") =
            if (parts.length == 1) "true"
            else (parts(1).trim.toLowerCase != "false" && parts(1).trim != "0").toString
        case "DELIMITER" | "DELIM" | "SEP" =>
          opts("delimiter") = parts(1).trim.stripPrefix("'").stripSuffix("'")
        case "PARTITION_BY" =>
          // DuckDB's hive-layout export: PARTITION_BY (a, b) or PARTITION_BY a
          partitionBy = parts(1).trim.stripPrefix("(").stripSuffix(")")
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        case _ => throw new IllegalArgumentException(s"unsupported COPY option: $o")
      }
    }
    format match {
      case "parquet" | "json" => (format, Map.empty, partitionBy)
      case "csv" => ("csv", opts.toMap, partitionBy)
      case f => throw new IllegalArgumentException(s"unsupported COPY format: $f")
    }
  }

  /** `COPY <t|(query)> TO 'path' (...)`: distributed export — every
    * partition writes its own part file (the 100 TB posture; DuckDB's
    * single file would serialize the write through one thread). Staged
    * via persist so the count and the write share one computation. */
  private def copyTo(df: DataFrame, path: String, optSpec: String): ExecuteResult = {
    val (fmt, opts, partitionBy) = copyOptions(optSpec, path)
    val staged = df.persist()
    try {
      val n = staged.count()
      // PARTITION_BY → hive directory layout (key=value dirs), the pruning
      // lever a partition-key filter uses to skip whole directories
      staged.write.format(fmt).options(opts)
        .partitionBy(partitionBy: _*).mode("overwrite").save(path)
      ExecuteResult(n)
    } finally staged.unpersist()
  }

  /** `COPY t FROM 'path' (...)`: reads the file(s) and routes through the
    * same constraint-checked [[insert]] path as INSERT — PK and NOT NULL
    * hold on every ingest path, exactly as DuckDB enforces them on COPY. */
  private def copyFrom(table: String, path: String, optSpec: String): ExecuteResult = {
    val (fmt, opts, _) = copyOptions(optSpec, path)
    val target = spark.table(table) // errors like DuckDB if the table is absent
    val reader = spark.read.format(fmt).options(opts)
    val src = fmt match {
      // CSV carries no types: read against the target schema (DuckDB
      // casts CSV text to the table's column types the same way)
      case "csv" => reader.schema(target.schema).load(path)
      case _ => reader.load(path)
    }
    val view = s"graft_copy_src_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    src.createOrReplaceTempView(view)
    try insert(table, None, s"SELECT * FROM $view")
    finally spark.catalog.dropTempView(view)
  }

  /** Schema-changing table rewrite (ALTER): write the new contents to the
    * next versioned dir, then drop + recreate the catalog entry against it.
    * The catalog swap is two metadata ops, not one — a reader that resolves
    * the name in that window fails (readers already resolved keep their
    * `v<N>` snapshot, whose files stay on disk). DDL is not a hot path;
    * writers are serialized by the gateway lock. */
  private def replaceSchema(table: String, df: DataFrame): Unit = {
    if (inTxn)
      throw new IllegalArgumentException(
        "ALTER TABLE inside a transaction is not supported")
    versions.get(tableKey(table)) match {
      case Some(cur) =>
        val next = cur + 1
        val loc = versionDir(table, next)
        deleteDir(loc)
        df.write.parquet(loc)
        spark.sql(s"DROP TABLE $table")
        createCatalogEntry(table, df.schema, loc)
        versions(tableKey(table)) = next
        if (next >= 2) gcDir(versionDir(table, next - 2))
      case None =>
        val staged = df.localCheckpoint(eager = true)
        spark.sql(s"DROP TABLE $table")
        createFromData(table, staged)
    }
  }

  // --- UPDATE: read-filter-rewrite (write temp, swap via overwrite).
  private def update(table: String, setClause: String, where: Option[String]): ExecuteResult = {
    val pred = where.map(duckExpr).getOrElse(lit(true))
    val tableDefaults = columnDefaults.getOrElse(tableKey(table), Map.empty)
    val assignments = setPairs(setClause).map { case (c, e) =>
      // SET col = DEFAULT takes the declared default, NULL when none
      // (DuckDB probed)
      val ex = duckExpr(
        if (!e.equalsIgnoreCase("DEFAULT")) e
        else tableDefaults.collectFirst {
          case (k, d) if k.equalsIgnoreCase(c) => d
        }.getOrElse("NULL"))
      (c, ex)
    }
    val target = spark.table(table)
    // a SET target that names no table column is an error (SQL engines
    // raise unknown-column; silently dropping it would "succeed" a typo)
    val known = target.columns.map(_.toLowerCase).toSet
    assignments.foreach { case (c, _) =>
      if (!known.contains(c.toLowerCase))
        throw new IllegalArgumentException(s"UPDATE $table: unknown column $c")
    }
    val hit = target.filter(pred)
    val affected = localRows(hit).map(_.size.toLong).getOrElse(hit.count())
    // SQL UPDATE evaluates every SET expression against the OLD row
    // (UPDATE t SET a = b, b = a swaps) — so build one simultaneous
    // projection instead of folding withColumn (which would let later
    // assignments see already-updated values)
    val byName = assignments.map { case (c, e) => c.toLowerCase -> e }.toMap
    val updated = target.select(target.columns.map { c =>
      byName.get(c.toLowerCase) match {
        case Some(e) =>
          when(pred, e.cast(target.schema(c).dataType)).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }.toIndexedSeq: _*)
    // enforce on the FULL updated frame, not `updated.filter(pred)`: the
    // WHERE predicate references post-update values here, so a SET that
    // changes a WHERE column would make the filter miss the rewritten rows
    // and skip the CHECK entirely (unchanged rows are known-valid, so the
    // full-frame check is equivalent and safe — same as updateFrom)
    enforceChecks(table, updated)
    enforceUniqueIndexes(table, updated)
    if (captureReturning) {
      // RETURNING: the POST-image of the affected rows (probed) —
      // collected off the OLD snapshot before the atomic swap
      val post = hit.select(target.columns.map { c =>
        byName.get(c.toLowerCase)
          .map(e => e.cast(target.schema(c).dataType).as(c))
          .getOrElse(col(c))
      }.toIndexedSeq: _*)
      captureRows(post)
    }
    overwriteTable(table, updated)
    ExecuteResult(affected)
  }

  /** `FROM u` / `USING u` clause text → (source DataFrame, alias). Accepts
    * `u`, `u a`, `u AS a`. */
  private def sourceClause(clause: String): (DataFrame, String) = {
    val (name, alias) = clause.trim.split("\\s+").toList match {
      case n :: Nil => (n, n.split("\\.").last)
      case n :: a :: Nil => (n, a)
      case n :: as_ :: a :: Nil if as_.equalsIgnoreCase("AS") => (n, a)
      case _ => throw new IllegalArgumentException(
        s"unsupported FROM/USING clause (single table [AS alias] only): $clause")
    }
    (spark.table(name), alias)
  }

  // --- UPDATE ... FROM (DuckDB's join-form update, reachable through the
  //     reference passthrough `db/db.go:52`): each target row matching at
  //     least one source row under WHERE takes the SET expressions, which
  //     may reference the matched source row's columns. One distributed
  //     plan: tag target rows with a row id, join on the predicate, keep
  //     ONE deterministic match per target row (DuckDB's own pick among
  //     multiple matches is unspecified; sorting by the source row makes
  //     ours stable), left-join the per-row SET values back, swap via the
  //     versioned-dir rewrite. No driver loop anywhere.
  private def updateFrom(table: String, setClause: String, fromClause: String,
      where: Option[String]): ExecuteResult = {
    val target = spark.table(table)
    val (src, srcAlias) = sourceClause(fromClause)
    val tAlias = table.split("\\.").last
    val actualByLower = target.columns.map(c => c.toLowerCase -> c).toMap
    val assignments = setPairs(setClause).map { case (c, e) =>
      val cn = c.toLowerCase
      if (!actualByLower.contains(cn))
        throw new IllegalArgumentException(s"UPDATE $table: unknown column $c")
      cn -> e
    }
    // pin row ids: the id column feeds two plans (hit count + merge-back)
    // and must not be re-derived differently on re-execution
    val t = target.withColumn("__rid", monotonically_increasing_id())
      .localCheckpoint(eager = true)
    val cond = where.map(duckExpr).getOrElse(lit(true))
    val pickW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__rid"))
      .orderBy(src.columns.map(c => col(s"$srcAlias.$c")).toIndexedSeq: _*)
    // SET expressions evaluate against the OLD target row + matched source
    // row (both visible in the join), exactly like simple UPDATE's
    // simultaneous projection
    val hits = t.alias(tAlias).join(src.alias(srcAlias), cond, "inner")
      .withColumn("__rn", row_number().over(pickW)).filter(col("__rn") === 1)
      .select(col("__rid").as("__hit_rid") +: assignments.map { case (cn, e) =>
        duckExpr(e).cast(target.schema(actualByLower(cn)).dataType).as(s"__set_$cn")
      }.toIndexedSeq: _*)
      .localCheckpoint(eager = true)
    val affected = hits.count()
    val updated = t.join(hits, col("__rid") === col("__hit_rid"), "left")
      .select(target.columns.map { c =>
        val cn = c.toLowerCase
        if (assignments.exists(_._1 == cn))
          when(col("__hit_rid").isNotNull, col(s"__set_$cn")).otherwise(col(c)).as(c)
        else col(c)
      }.toIndexedSeq: _*)
    enforceChecks(table, updated) // merged rows must still satisfy CHECK
    enforceUniqueIndexes(table, updated)
    overwriteTable(table, updated)
    ExecuteResult(affected)
  }

  // --- DELETE ... USING (DuckDB's join-form delete): drop every target
  //     row with at least one WHERE-matching source row. A left-anti join
  //     IS that semantics (NULL predicate → no match → row kept, as SQL
  //     requires); the affected count is the matching left-semi.
  private def deleteUsing(table: String, tAliasOpt: Option[String],
      usingClause: String, where: Option[String]): ExecuteResult = {
    val w = where.getOrElse(throw new IllegalArgumentException(
      s"DELETE FROM $table USING ... requires a WHERE clause"))
    val target = spark.table(table)
    val (src, srcAlias) = sourceClause(usingClause)
    val tAlias = tAliasOpt.getOrElse(table.split("\\.").last)
    val pred = duckExpr(w)
    val affected = target.alias(tAlias)
      .join(src.alias(srcAlias), pred, "left_semi").count()
    val remaining = target.alias(tAlias).join(src.alias(srcAlias), pred, "left_anti")
    overwriteTable(table, remaining)
    ExecuteResult(affected)
  }

  // --- DELETE: read-filter-rewrite. Over a small table's driver image the
  //     filter folds on the driver and the statement runs no job; else the
  //     rewrite is its only job. Rows affected are the folded hit rows, or
  //     the old version's rows minus the new one's, from the footers.
  private def delete(table: String, where: Option[String]): ExecuteResult = {
    // SQL deletes rows where the predicate is TRUE; rows where it is
    // NULL are KEPT — `!pred` alone would drop them (NULL stays NULL)
    val pred = where.map(w => coalesce(duckExpr(w), lit(false))).getOrElse(lit(true))
    val target = spark.table(table)
    val hit = target.filter(pred)
    if (captureReturning) // RETURNING on DELETE: the deleted rows
      captureRows(hit)
    val kept = target.filter(!pred)
    localRows(hit).map(_.size.toLong) match {
      case None if versions.contains(tableKey(table)) =>
        val before = footerRows(target.inputFiles.toSeq)
        overwriteTable(table, kept)
        ExecuteResult(before - footerRows(spark.table(table).inputFiles.toSeq))
      case n =>
        val affected = n.getOrElse(hit.count())
        overwriteTable(table, kept)
        ExecuteResult(affected)
    }
  }

  // --- transactions (`BEGIN` / `COMMIT` / `ROLLBACK`, reachable like any
  //     other DuckDB statement through the passthrough `db/db.go:52`).
  //     Single-connection semantics, exactly the shape the reference has:
  //     it holds ONE shared DB handle, so every statement between BEGIN
  //     and COMMIT joins the transaction. The versioned-dir storage makes
  //     this natural on Spark: a table's data is one value, its file set
  //     (version dir + append-delta dirs). In-txn writes land in dirs the
  //     catalog does not reference yet — a new version for a rewrite, a
  //     new delta for an append — and a temp view over the txn's file set,
  //     shadowing the table name, gives the transaction its own-writes
  //     visibility, while every reader outside keeps resolving the catalog
  //     location (the pre-txn snapshot). COMMIT is metadata-only: rename
  //     the delta part files into the version dir and repoint the table's
  //     location (the cheap `ALTER ... SET LOCATION` swap, no data move —
  //     the same O(1) commit at 100 TB); ROLLBACK deletes the orphan dirs.
  //     Honest subset, documented: DROP TABLE and ALTER inside a
  //     transaction are refused (not silently non-transactional), and
  //     sequences do not refund ids on rollback (PostgreSQL semantics).

  import SqlGateway.FileSet

  private final class TxnState {
    val baseVersions: Map[String, Int] = versions.toMap
    val baseConstraints: Map[String, (Seq[String], Seq[String])] = constraints.toMap
    val baseChecks: Map[String, Seq[String]] = checks.toMap
    val baseIndexes: Map[String, (String, Seq[String], Boolean)] = indexes.toMap
    // catalog DDL snapshot: macros and named types restore fully on
    // rollback (pure definitions — a snapshot restore also undoes CREATE
    // OR REPLACE). Sequences restore by KEY SET only: a sequence created
    // in the txn is removed, but a pre-existing sequence keeps its
    // advanced counter (the documented PostgreSQL non-refund semantics —
    // restoring the counter would hand out duplicate ids).
    val baseMacros: Map[String, (Seq[String], String)] = macros.toMap
    val baseMacroDefaults: Map[String, Map[String, String]] = macroDefaults.toMap
    val baseNamedTypes: Map[String, String] = namedTypes.toMap
    val baseSequenceKeys: Set[String] = sequences.keySet.toSet
    // COMMENT ON and temp-flag changes are catalog ops too — DuckDB rolls
    // them back with the transaction (r11 review finding)
    val baseComments: Map[String, String] = comments.toMap
    val baseTempTables: Set[String] = tempTables.keySet.toSet
    /** tableKey → the file set of each table this txn wrote. */
    val files = scala.collection.mutable.Map.empty[String, FileSet]
    /** tables created inside the txn (rollback drops them). */
    val created = scala.collection.mutable.Set.empty[String]
  }
  @volatile private var txn: Option[TxnState] = None
  private def inTxn: Boolean = txn.isDefined
  /** Service-visible: a snapshot cut taken mid-transaction would truncate
    * the statement log across its BEGIN — replay would then see a COMMIT
    * with no transaction open. */
  private[graft] def inTransaction: Boolean = inTxn

  private def beginTxn(): ExecuteResult = {
    if (inTxn) throw new IllegalStateException("a transaction is already active")
    txn = Some(new TxnState)
    ExecuteResult(0L)
  }

  private def commitTxn(): ExecuteResult = {
    val t = txn.getOrElse(throw new IllegalStateException("no transaction is active"))
    txn = None // clear first: each table below takes the live-table path
    t.files.foreach { case (key, set) =>
      spark.catalog.dropTempView(key)
      // rename the delta part files into the version dir — O(files)
      // metadata ops, no data copy (the same visibility caveat as the
      // non-txn append path, which also adds files to a live dir)
      val dir = new org.apache.hadoop.fs.Path(versionDir(key, set.version))
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(dir)) fs.mkdirs(dir)
      set.deltas.foreach { d =>
        fs.listStatus(new org.apache.hadoop.fs.Path(d))
          .filter(_.getPath.getName.startsWith("part-"))
          .foreach(f => fs.rename(f.getPath,
            new org.apache.hadoop.fs.Path(dir, f.getPath.getName)))
        deleteDir(d)
      }
      publish(key, FileSet(versions(key)), FileSet(set.version))
    }
    ExecuteResult(t.files.size.toLong)
  }

  private def rollbackTxn(): ExecuteResult = {
    val t = txn.getOrElse(throw new IllegalStateException("no transaction is active"))
    txn = None // clear first: dropTable below must run its non-txn path
    // discard the txn's deltas and versions past the live one — the
    // catalog never referenced them, so no reader outside saw these rows
    t.files.foreach { case (key, set) =>
      spark.catalog.dropTempView(key)
      set.deltas.foreach(deleteDir)
      (versions(key) + 1 to set.version).foreach(v => deleteDir(versionDir(key, v)))
    }
    t.created.foreach { tbl =>
      // already gone, or its files are: nothing is left to discard
      try dropTable(tbl)
      catch { case _: org.apache.spark.sql.AnalysisException | _: java.io.IOException => () }
    }
    constraints.clear(); constraints ++= t.baseConstraints
    checks.clear(); checks ++= t.baseChecks
    indexes.clear(); indexes ++= t.baseIndexes
    versions.clear(); versions ++= t.baseVersions
    macros.clear(); macros ++= t.baseMacros
    macroDefaults.clear(); macroDefaults ++= t.baseMacroDefaults
    namedTypes.clear(); namedTypes ++= t.baseNamedTypes
    comments.clear(); comments ++= t.baseComments
    tempTables.clear()
    t.baseTempTables.foreach(k => tempTables(k) = ())
    (sequences.keySet -- t.baseSequenceKeys).foreach { k =>
      sequences.remove(k); seqLast.remove(k); seqStarts.remove(k)
    }
    ExecuteResult(0L)
  }

  /** Append `rows` to `table`'s file set. Outside a transaction the batch
    * joins the live version dir. Inside one it lands in a new delta dir
    * added to the txn's file set: the live dir stays untouched for
    * ROLLBACK, and the statement stays O(batch) however big the table,
    * also after the txn rewrote it. A statement that errors leaves no
    * delta behind, or COMMIT would apply rows the client was told were
    * rejected. A table the gateway does not version takes Spark's insert. */
  private def appendRows(table: String, rows: DataFrame): Unit = writeSet(table) match {
    case Some(set) =>
      val dir =
        if (inTxn) s"${versionDir(table, set.version)}_txd${set.deltas.size}"
        else versionDir(table, set.version)
      try {
        writeRows(table, rows, dir, append = true)
        publish(table, set, if (inTxn) set.copy(deltas = set.deltas :+ dir) else set)
      } catch { case e: Throwable if inTxn => deleteDir(dir); throw e }
    case None => rows.write.mode("append").insertInto(table)
  }

  /** A batch that is already on the driver (its optimized plan is a
    * LocalRelation): its rows, the schema its file gets (the batch's
    * columns with the table's field metadata, as Spark's insert writes
    * them), and the table's parquet relation as the statement resolved it,
    * whose images the write extends. None when Spark must run the write:
    * rows it computes. */
  private def driverBatch(table: String, rows: DataFrame): Option[(
      Seq[org.apache.spark.sql.catalyst.InternalRow],
      org.apache.spark.sql.types.StructType,
      Option[org.apache.spark.sql.execution.datasources.HadoopFsRelation])] = {
    val t = spark.table(table)
    rows.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if l.schema.map(_.dataType) == t.schema.map(_.dataType) =>
        Some((l.data, org.apache.spark.sql.types.StructType(
          l.schema.zip(t.schema).map { case (b, f) => b.copy(metadata = f.metadata) }),
          t.queryExecution.analyzed.collectFirst {
            case org.apache.spark.sql.execution.datasources.LogicalRelation(
                r: org.apache.spark.sql.execution.datasources.HadoopFsRelation, _, _, _, _) => r
          }))
      case _ => None
    }
  }

  /** The rows of `df` when the optimizer folded it to a LocalRelation: they
    * were computed on the driver, and reading them runs no job. */
  private def localRows(df: DataFrame): Option[Seq[org.apache.spark.sql.catalyst.InternalRow]] =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => Some(l.data)
      case _ => None
    }

  /** `table`'s file set in the current context: inside a transaction the
    * one the txn holds for it, else its live version dir. None for a
    * table the gateway does not version. */
  private def fileSet(table: String): Option[FileSet] = {
    val key = tableKey(table)
    txn.flatMap(_.files.get(key)).orElse(versions.get(key).map(FileSet(_)))
  }

  /** [[fileSet]] of a table a statement writes. Inside a transaction the
    * table must be versioned and named without a qualifier: the view that
    * shows the txn its own writes carries the bare name. */
  private def writeSet(table: String): Option[FileSet] = {
    if (inTxn && tableKey(table).contains("."))
      throw new IllegalArgumentException(
        s"DML on qualified table name $table inside a transaction is not supported")
    val set = fileSet(table)
    if (inTxn && set.isEmpty)
      throw new IllegalArgumentException(
        s"$table is not a gateway-managed table — transactional DML requires one")
    set
  }

  private def dirsOf(table: String, set: FileSet): Seq[String] =
    versionDir(table, set.version) +: set.deltas

  /** Copy the parquet `files` (a pinned table version) into `dir` under
    * `schema`: as one file written on the driver when they have a driver
    * image, else as a job. */
  private[engine] def copyFiles(schema: org.apache.spark.sql.types.StructType,
      files: Seq[org.apache.hadoop.fs.FileStatus], dir: String): Unit = {
    deleteDir(dir)
    images.rows(spark, schema, files) match {
      case Some(rows) => writeOnDriver(rows, schema, dir)
      case None => spark.read.schema(schema)
        .parquet(files.map(_.getPath.toString): _*).write.parquet(dir)
    }
  }

  /** Write `df` as the table version in `loc`. */
  private def writeVersion(table: String, df: DataFrame, loc: String): Unit = {
    deleteDir(loc) // leftovers of a previously failed rewrite attempt
    writeRows(table, df, loc, append = false)
  }

  /** Add `df`'s rows to `dir`: on the driver when they are already there
    * ([[driverBatch]]), else as one right-sized job. A driver write keeps
    * the next read warm: the new file set's image is the old one's
    * (`append`) or none's, plus the rows written. */
  private def writeRows(table: String, df: DataFrame, dir: String, append: Boolean): Unit =
    driverBatch(table, df) match {
      case Some((rows, schema, source)) =>
        val file = writeOnDriver(rows, schema, dir)
        source.foreach(r => images.written(r.dataSchema,
          if (append) DriverImages.filesOf(r) else Nil, file, rows))
      case None => rightSized(df).write.mode("append").parquet(dir)
    }

  /** Write `rows` as one parquet file in `dir` with no Spark job: Spark's
    * own parquet writer (the factory a write job's tasks use), under the
    * session's Hadoop conf. The file is written hidden (`.`-prefixed, so a
    * listing never reads it half-written) and renamed into place under a
    * part-file name, whose status it returns; a failure removes it. */
  private def writeOnDriver(rows: Seq[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType, dir: String)
      : org.apache.hadoop.fs.FileStatus = {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
    val job = Job.getInstance(ColumnShim.hadoopConf(spark))
    val factory = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    val name = s"part-00000-${java.util.UUID.randomUUID()}-c000" +
      factory.getFileExtension(ctx)
    val d = new Path(dir)
    val fs = d.getFileSystem(job.getConfiguration)
    fs.mkdirs(d)
    val hidden = new Path(d, "." + name)
    try {
      val w = factory.newInstance(hidden.toString, schema, ctx)
      try rows.foreach(w.write) finally w.close()
      if (!fs.rename(hidden, new Path(d, name)))
        throw new java.io.IOException(s"could not move $hidden into $dir")
    } catch { case e: Throwable => fs.delete(hidden, false); throw e }
    fs.getFileStatus(new Path(d, name))
  }

  /** Rows in parquet files, from their footers (no data page read). */
  private def footerRows(files: Seq[String]): Long = {
    import scala.jdk.CollectionConverters._
    val conf = ColumnShim.hadoopConf(spark)
    files.map { f =>
      org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader.readFooter(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf),
        org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
        .getBlocks.asScala.map(_.getRowCount).sum
    }.sum
  }

  /** `df` in as many partitions as its input fills scan splits
    * (`spark.sql.files.maxPartitionBytes`), at least one: a rewrite of a
    * small table writes one file, not one per input split. The input is
    * the size of the plan's leaves (file bytes for a table; a checkpoint
    * keeps the estimate of the plan it stands for). */
  private def rightSized(df: DataFrame): DataFrame = {
    val bytes = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    val split = ColumnShim.maxPartitionBytes(spark)
    df.coalesce(((bytes + split - 1) / split).max(1).min(Int.MaxValue).toInt)
  }

  /** Make `now` `table`'s file set in place of `from`.
    *
    * Inside a transaction `now` is what the txn reads: a session temp view
    * shadowing the table name, one scan of its dirs under the catalog
    * schema (no schema inference). Temp views are session-scoped, so
    * every reader of THIS session sees the txn's writes — single-connection
    * semantics, exactly what the reference's one shared DB handle gives all
    * its HTTP clients. A reader on a separate SparkSession (the
    * multi-connection shape) resolves the catalog location = the pre-txn
    * snapshot (spec-asserted). Deltas that `now` no longer holds were
    * folded into a rewrite and are deleted; a superseded version is not
    * (reads take no lock): COMMIT's GC or ROLLBACK removes it.
    *
    * Outside one `now` is the live table: a new version is swapped in with
    * one `SET LOCATION` and the versions before `from`'s predecessor are
    * GC'd (retain current + previous, mirroring the reference's
    * `retainSnapshotCount = 2`); files added to the same version dir are
    * picked up with a refresh. */
  private def publish(table: String, from: FileSet, now: FileSet): Unit = {
    val key = tableKey(table)
    txn match {
      case Some(t) =>
        spark.read.schema(spark.table(key).schema).parquet(dirsOf(key, now): _*)
          .createOrReplaceTempView(key)
        t.files(key) = now
        from.deltas.filterNot(now.deltas.contains).foreach(deleteDir)
      case None if now.version == from.version => spark.catalog.refreshTable(table)
      case None =>
        // the command refreshes the table itself (one listing)
        spark.sql(s"ALTER TABLE $table SET LOCATION '${versionDir(key, now.version)}'")
        versions(key) = now.version
        (math.max(0, from.version - 1) to now.version - 2)
          .foreach(v => gcDir(versionDir(key, v)))
    }
  }

  /** Atomic table rewrite. For versioned tables (anything created through
    * the gateway): write the new contents COMPLETELY to `v<N+1>` — the
    * rewrite plan reads the current file set, so no self-read staging is
    * needed — then [[publish]] it. A reader resolved against `v<N>` keeps
    * its intact snapshot (the reference gets the same isolation from
    * DuckDB MVCC); a failure mid-write leaves the table untouched.
    *
    * Tables that bypassed the gateway DDL path (raw passthrough) have no
    * version dir; they fall back to checkpoint + in-place overwrite, which
    * is atomic only against failure after the checkpoint, not against
    * concurrent reads — the versioned path is the supported one. */
  private def overwriteTable(table: String, df: DataFrame): Unit = writeSet(table) match {
    case Some(set) =>
      val loc = versionDir(table, set.version + 1)
      writeVersion(table, df, loc)
      try publish(table, set, FileSet(set.version + 1))
      catch { case e: Throwable if inTxn => deleteDir(loc); throw e }
    case None =>
      val staged = df.localCheckpoint(eager = true)
      staged.write.mode("overwrite").insertInto(table)
  }
}

object SqlGateway {
  /** Sequence metadata: the next value to hand out, increment, bounds and
    * cycle flag — DuckDB's full CREATE SEQUENCE surface (probed 1.0.0).
    * A counter that overflowed int64 is stored WRAPPED (two's-complement),
    * exactly like DuckDB — nextval's both-bound retrieval check then
    * reports the right error without extra state. */
  final case class SeqState(next: Long, inc: Long, min: Long, max: Long,
      cycle: Boolean)

  /** What an insert batch's first checks read: its row count, the NOT
    * NULL columns it has a NULL in, and its in-batch PK duplicates. */
  private final case class BatchStats(n: Long, nullCols: Seq[String], pkDups: Long)

  /** A versioned table's data in one context: its version dir
    * `v<version>` and the append-delta dirs a transaction added in front
    * of it (none outside a transaction). Readers scan all of them. */
  private final case class FileSet(version: Int, deltas: Vector[String] = Vector.empty)

  /** The most bytes of decoded rows (UnsafeRow size) a DELETE, UPDATE or
    * snapshot export reads into a driver image before it takes the job
    * path instead. A probe of both paths on a 4-core box (CHANGES.md)
    * found the driver path cheaper in CPU up to a 2.3 MB image, level
    * with the job at 4.7 MB and up to twice its cost at 9.5 MB. */
  private[graft] val DriverImageBytes: Long = 2L << 20

  /** DuckDB's VARCHAR spellings, with the length DuckDB ignores (probed
    * 1.0.0: a VARCHAR(3) column stores 'abcdef', a CHAR(2) column reads
    * 'x' back unpadded). Each stores as STRING: Spark's CHAR/VARCHAR(n)
    * would check the length on write and pad CHAR on read. */
  private[graft] val DuckVarcharRe: scala.util.matching.Regex =
    ("""(?i)\b(?:CHARACTER\s+VARYING|CHARACTER|CHAR|BPCHAR|NVARCHAR|VARCHAR)\b""" +
      """(?:\s*\(\s*\d+\s*\))?""").r

  /** One step of the gateway's DuckDB-default rewrite: a call rule or a
    * raw pass. */
  private[graft] sealed trait DuckStep

  /** Rewrites every `name(…)` call with `arity` arguments (< 0 = any
    * arity) to `rebuild(args)`; None leaves the call as written (it then
    * refuses downstream rather than being guessed at). `allowAt(text, i)`
    * can veto a call site by its position (e.g. table vs scalar). */
  private[graft] final case class DuckCall(name: String, arity: Int,
      rebuild: Seq[String] => Option[String],
      allowAt: (String, Int) => Boolean) extends DuckStep {
    val re: scala.util.matching.Regex =
      ("""(?i)(?<![\w.$])""" + name + """\s*\(""").r
  }

  /** A whole-statement pass over the text's lex, for the clause and
    * operator spellings that are not one function call. It runs when the
    * lowercased text contains one of `when`; a trigger that is more than a
    * substring stays inside the pass. */
  private[graft] final case class DuckRaw(when: Seq[String],
      pass: SqlLex => String) extends DuckStep
}
