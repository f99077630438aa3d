package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.function.{Function => JFunction}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Loaders for the driver-generated parquet corpus (see TESTDATA.md).
  *
  * The reference service keeps all state in one embedded DuckDB file
  * (reference `db/db.go:17`); our engine's equivalent durable state is a
  * directory of parquet tables, which is also exactly what the reference
  * snapshots to (`store/store.go:263`, `EXPORT DATABASE ... FORMAT PARQUET`).
  *
  * DataFrames are memoized per (session, dir, table): `spark.read.parquet`
  * re-lists files and re-reads the footer schema on every call, which at
  * 60+ queries/run is pure fixed cost. A DataFrame is an immutable logical
  * plan, so handing the same instance to every query is safe — and lets an
  * opt-in [[pin]] (used by Bench) attach an in-memory cache that every
  * subsequent query plan reuses, the way a real deployment would register
  * its hot corpus once per session.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // keyed by the session OBJECT (SparkSession uses identity equality), not
  // its identityHashCode: identity hashes are not unique, so two live
  // sessions could collide and one would receive a DataFrame bound to the
  // other's session. Stopped sessions are pruned on access — an explicit
  // eviction rather than weak refs, because a cached DataFrame points back
  // at its session and would pin a WeakHashMap key forever.
  private val memo = new ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    memo.keySet.removeIf(
      new java.util.function.Predicate[(SparkSession, String, String)] {
        def test(k: (SparkSession, String, String)): Boolean =
          k._1.sparkContext.isStopped
      })
    memo.computeIfAbsent(
      (spark, dir, name),
      new JFunction[(SparkSession, String, String), DataFrame] {
        def apply(k: (SparkSession, String, String)): DataFrame = load(spark, dir, name)
      })
  }

  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts is parquet TIMESTAMP(NANOS) in the driver corpus, which
      // Spark 4 rejects by default. Read nanos as long and truncate to
      // microseconds — exactly what DuckDB's CAST(ts AS TIMESTAMP) does
      // (verified: truncation, not rounding) — so both engines see
      // identical µs instants. A corpus whose ts is already µs (e.g. the
      // derived scaling corpus) reads as a plain timestamp and passes
      // through untouched.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.timestamp_micros(
              org.apache.spark.sql.functions.expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // parquet writers that mark µs timestamps NTZ (no UTC flag) —
          // session TZ is UTC, so the instant is unchanged by the cast
          df.withColumn("ts",
            org.apache.spark.sql.functions.col("ts")
              .cast(org.apache.spark.sql.types.TimestampType))
        case _ => df
      }
    } else spark.read.parquet(s"$dir/$name.parquet")

  /** Pin every corpus table into executor memory (deserialized columnar
    * cache) and materialize it, so subsequent queries in the session read
    * cached batches instead of re-scanning parquet. Memory-and-disk: a
    * table that outgrows the cache degrades to spill, never to OOM. */
  /** Dominant key per table: the column most aggregations, windows, and
    * equi-joins over that table cluster on. Pinning the cache
    * HASH-partitioned on it lets every such plan reuse the cached
    * partitioning instead of exchanging — `InMemoryTableScanExec` reports
    * the cached plan's `outputPartitioning`, so a groupBy/window on the
    * key (or a join of two co-keyed pinned tables, e.g. orders ⋈
    * lineitem-agg on the order key) plans ZERO Exchange. This is the
    * resident-engine layout decision — the in-memory twin of bucketed
    * storage (engine/Bucketing.scala does it durably). */
  private val pinKeys: Map[String, String] = Map(
    "lineitem" -> "l_orderkey", "orders" -> "o_orderkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "events" -> "user_id",
    "documents" -> "doc_id", "embeddings" -> "vec_id")

  /** Pin the corpus into the in-memory columnar cache — REPARTITIONED on
    * each table's dominant key first (see [[pinKeys]]). The driver corpus
    * is one row group per file, so a raw read (and therefore a raw cache)
    * is ONE partition: every downstream map stage would run
    * single-threaded regardless of core count. A resident engine holds
    * its hot corpus spread across the cluster, clustered by its hot key;
    * tiny dims stay single-partition — 32 near-empty tasks per scan is
    * pure scheduling overhead. The repartitioned DataFrame replaces the
    * memo entry so every later query plan hits the partitioned cache. */
  def pin(spark: SparkSession, dir: String): Unit = {
    val rows = all.map(n => n -> apply(spark, dir, n).count()).toMap
    // partition ∝ rows, capped: ~75k rows/task keeps tasks meaningful —
    // full-core fan-out on these corpus sizes measured SLOWER (per-task
    // scheduling dwarfs 2 ms of map work per 19k-row slice). FLOOR of 4
    // for keyed tables: a pinned cache that carries NO hash partitioning
    // (a raw scan reports UnknownPartitioning even at one partition)
    // forces an Exchange under every keyed groupBy/window/join over that
    // table — the whole point of key-aware pinning. Four small tasks cost
    // ~10 ms of scheduling; the avoided exchange per query costs more.
    def partsFor(rs: Long) = math.min(32L, math.max(4L, rs / 75000L)).toInt
    // co-partition JOIN-RELATED tables with the SAME partition count:
    // hashpartitioning(l_orderkey, N) and hashpartitioning(o_orderkey, M)
    // are compatible for a zero-Exchange join ONLY when N == M — sized
    // independently they diverge (6M lineitem → 32, 1.5M orders → 20) and
    // every orders ⋈ lineitem plan silently re-exchanges a side. Sized off
    // the larger table so the big side's task balance governs.
    val orderGroupParts = partsFor(math.max(rows("lineitem"), rows("orders")))
    val partsUsed = Map.newBuilder[String, Int]
    all.foreach { n =>
      val parts =
        if (n == "lineitem" || n == "orders") orderGroupParts
        else partsFor(rows(n))
      partsUsed += n -> parts
      // un-keyed tiny dims (region, nation) stay as-read: nothing keys on
      // them, and a 4-way spread of 5 rows is pure scheduling noise
      val df = (if (pinKeys.contains(n))
        apply(spark, dir, n)
          .repartition(parts, org.apache.spark.sql.functions.col(pinKeys(n)))
      else apply(spark, dir, n))
        .persist(StorageLevel.MEMORY_AND_DISK)
      df.foreach(_ => ()) // materialize the cache once, before timing starts
      memo.put((spark, dir, n), df)
    }
    pinnedParts.put((spark, dir), partsUsed.result())
  }

  // partition counts chosen at pin time, so secondary layouts can co-size
  private val pinnedParts =
    new ConcurrentHashMap[(SparkSession, String), Map[String, Int]]()

  /** Secondary resident layout: the same table cached under a DIFFERENT
    * hash key — the in-memory twin of writing a second bucketed projection
    * of the table (engine/Bucketing.scala is the durable form). Orders is
    * orderkey-clustered ([[pinKeys]]); every custkey-side join or distinct
    * over it re-exchanges the fact side each query. A resident engine
    * declares the second layout once and every such plan becomes
    * exchange-free — sized to `partner`'s pinned partition count so the
    * co-located join really is co-located (same key, same N).
    *
    * Outside a pinned session (Verify, tests) this is the PLAIN table —
    * layout is a bench/deployment concern, never a correctness one. */
  def keyed(spark: SparkSession, dir: String, table: String, key: String,
      partner: String): DataFrame = {
    val pp = pinnedParts.get((spark, dir))
    if (pp == null) return apply(spark, dir, table)
    memo.computeIfAbsent(
      (spark, dir, s"$table#$key"),
      new JFunction[(SparkSession, String, String), DataFrame] {
        def apply(k: (SparkSession, String, String)): DataFrame = {
          val parts = pp.getOrElse(partner, pp(table))
          val df = Tables(spark, dir, table)
            .repartition(parts, org.apache.spark.sql.functions.col(key))
            .persist(StorageLevel.MEMORY_AND_DISK)
          df.foreach(_ => ())
          df
        }
      })
  }

  /** Register every corpus table as a temp view so `spark.sql` works with the
    * same table names the DuckDB oracle uses. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
