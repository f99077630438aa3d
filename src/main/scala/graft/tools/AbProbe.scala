package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** r12 A/B probe for the two remaining >2×-per-query entries (q05, q18).
  *
  * Runs each query's CURRENT production plan against the specific
  * alternative the r11 verdict asked to measure, in ONE session
  * (Bench-identical confs, warmup pass, min-of-3 noop-sink timing):
  *
  *   - q05 alt: pre-aggregate lineitem by (l_orderkey, l_suppkey) BELOW
  *     the orders join (the q04 trick) vs the current stream-through.
  *   - q18 alt: one pass with ALL THREE windows as plain window calls —
  *     the two ROWS frames share the user_id sort (as today) and
  *     n_near_value rides a RANGE frame partitioned by event_type —
  *     vs the current bucketed-running-sum formulation.
  *
  * Output lines: `AB <name> <variant> <sec>` (grep ^AB). The verdict's
  * "done" for item 5 accepts either ≤2× within-chain or this A/B showing
  * the alternative loses, with the floor decomposition attributing the
  * residual (BENCH_NOTES r12 section).
  */
object AbProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SessionProfile.session()
    graft.SessionProfile.resident(spark, sfDir)

    def q05Alt(s: SparkSession, dir: String): DataFrame = {
      val r = graft.Tables(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = graft.Tables(s, dir, "nation")
      val c = graft.Tables(s, dir, "customer")
      val sup = graft.Tables(s, dir, "supplier")
      val l = graft.Tables(s, dir, "lineitem")
      val asiaN = n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val cA = c.join(broadcast(asiaN), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
      val supA = sup.join(broadcast(asiaN.select(col("n_nationkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_nationkey"))
      // THE ALT: partial-aggregate lineitem to (orderkey, suppkey) grain
      // below the join graph
      val lAgg = l.groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(graft.ops.Det.revenueSum(col("l_extendedprice"),
          col("l_discount")).as("rev"))
      val oCust = graft.Tables.keyed(s, dir, "orders", "o_custkey", "customer")
      val oc = oCust.join(cA, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_nationkey"), col("n_name"))
      lAgg.join(oc, col("l_orderkey") === col("o_orderkey"))
        .join(supA,
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("rev")).as("revenue"))
    }

    def q18Alt(s: SparkSession, dir: String): DataFrame = {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc_nulls_first, col("event_id").asc_nulls_first)
      val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val moving = byUser.rowsBetween(-3, Window.currentRow)
      val byTypeValue = Window.partitionBy(col("event_type"))
        .orderBy(col("value").asc).rangeBetween(-10, 0)
      val ev = graft.Tables(s, dir, "events")
      ev.select(col("event_id"),
        (sum(graft.functions.ScaledLong(col("value"), 2)).over(running) / 100.0)
          .as("running_sum"),
        (sum(graft.functions.ScaledLong(col("value"), 2)).over(moving) / 100.0)
          .as("moving_sum"),
        count(lit(1)).over(byTypeValue).as("n_near_value"))
    }

    /** x02 with the shingle table PERSISTED as a real parquet table
      * instead of a single-copy localCheckpoint — the 100-TB posture the
      * x02 comment names (a derived table distributes with data-local
      * reads; checkpoint blocks live on one executor and ship remotely
      * to every other consumer — the r12 scale-out probe's suspect). */
    def x02Persisted(s: SparkSession, dir: String): DataFrame = {
      import graft.ext.Dedup._
      import graft.ext.TextOps.shingleTable
      val docs = graft.Tables(s, dir, "documents")
      val path = s"/tmp/graft_ab_shingles_${dir.replaceAll("[^\\w]", "_")}"
      if (!new java.io.File(path).exists())
        shingleTable(docs).write.mode("overwrite").parquet(path)
      val sh = s.read.parquet(path)
      val bands = lshBands(minhashSignatureFromShingles(sh))
      val cand = bands.as("l")
        .join(bands.as("r"),
          col("l.band") === col("r.band") &&
            col("l.band_key") === col("r.band_key") &&
            col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
        .distinct()
      verifyJaccardFromShingles(sh, cand)
        .filter(col("jacc") >= 0.5)
        .select(col("a"), col("b"), round(col("jacc"), 4).as("jacc"))
    }

    // r13 q14 A/B (verdict item 3): the r5 stock-vs-split measurement
    // predates the uncompressed pinned cache, static-plan pins, and the
    // suite-sized codegen cache — re-measure the two named alternatives
    // against the stock Expand plan at sf0.1 AND 10×.
    def q14TwoPhase(s: SparkSession, dir: String): DataFrame = {
      val o = graft.Tables(s, dir, "orders")
      val nCusts = o.select(col("o_orderstatus"), col("o_custkey")).distinct()
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n_custs"))
      val nPrios = o.select(col("o_orderstatus"), col("o_orderpriority")).distinct()
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n_prios"))
      val base = o.groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      base.join(nCusts, "o_orderstatus").join(nPrios, "o_orderstatus")
        .select(col("o_orderstatus"), col("n_custs"), col("n_prios"), col("n"))
    }
    def q14PreAgg(s: SparkSession, dir: String): DataFrame = {
      // partial-distinct pre-aggregate: collapse to the (status, cust,
      // prio) grain first (map-side combinable), then Expand over the
      // collapsed frame — the Expand ×3 fan-out runs on ~|distinct
      // combos| rows instead of |orders|
      val o = graft.Tables(s, dir, "orders")
      o.groupBy(col("o_orderstatus"), col("o_custkey"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_custs"),
          countDistinct(col("o_orderpriority")).as("n_prios"),
          sum(col("cnt")).as("n"))
    }

    // r16 tok-pass A/B: the OLD x30/x31/x42 formulations (second corpus
    // tokenize+explode feeding the sketch / the nll join probe) vs the
    // current derived-from-counts shapes. Values-agree is asserted below.
    def x30OldTok(s: SparkSession, dir: String): DataFrame = {
      import org.apache.spark.sql.types.{DoubleType, LongType}
      val tok = graft.Tables(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val freq = tok.groupBy(col("term")).agg(count(lit(1)).as("c"))
      val tot = freq.agg(sum(col("c")).as("total"))
      tok.join(freq, "term")
        .crossJoin(broadcast(tot))
        .withColumn("nll_u",
          floor(round(-log(col("c").cast(DoubleType) / col("total")), 6) * 1e6 + 0.5)
            .cast(LongType))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"), sum(col("nll_u")).as("sum_u"))
        .select(
          col("doc_id"), col("n_tok"),
          (col("sum_u").cast(DoubleType) / 1e6 / col("n_tok")).as("avg_nll"),
          floor(col("sum_u").cast(DoubleType) / 1e6 / col("n_tok")).cast(LongType)
            .as("nll_bucket"),
          (col("sum_u").cast(DoubleType) / 1e6 / col("n_tok") <= 3.5).as("lm_pass"))
    }
    def x31OldTok(s: SparkSession, dir: String): DataFrame = {
      import org.apache.spark.sql.types.DoubleType
      val tok = graft.Tables(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("term"))
      val exact = tok.groupBy(col("lang"), col("term")).agg(count(lit(1)).as("n"))
      val tot = exact.groupBy(col("lang")).agg(sum(col("n")).as("n_tok"))
      val mg = tok.groupBy(col("lang"))
        .agg(graft.functions.MisraGries.topkSketch(col("term"), 32).as("mg"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n").desc_nulls_last, col("term").asc_nulls_first)
      exact.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .join(tot, "lang")
        .join(mg, "lang")
        .withColumn("est", coalesce(element_at(col("mg"), col("term")), lit(0L)))
        .select(col("lang"), col("rk"), col("term"), col("n"),
          (col("est") <= col("n") &&
            (col("n") - col("est")).cast(DoubleType) <=
              col("n_tok").cast(DoubleType) / 33.0).as("mg_ok"))
    }
    def x42OldTok(s: SparkSession, dir: String): DataFrame = {
      import graft.functions.CountMinSketch
      import org.apache.spark.sql.types.DoubleType
      val tok = graft.Tables(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("term"))
      val exact = tok.groupBy(col("lang"), col("term")).agg(count(lit(1)).as("n"))
      val tot = exact.groupBy(col("lang")).agg(sum(col("n")).as("n_tok"))
      val cms = tok.groupBy(col("lang"))
        .agg(CountMinSketch.sketch(col("term")).as("cms"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n").desc_nulls_last, col("term").asc_nulls_first)
      exact.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .join(tot, "lang")
        .join(cms, "lang")
        .withColumn("est", CountMinSketch.estimate(col("cms"), col("term")))
        .select(col("lang"), col("rk"), col("term"), col("n"),
          (col("est") >= col("n") &&
            (col("est") - col("n")).cast(DoubleType) <=
              col("n_tok").cast(DoubleType) / 64.0).as("cms_ok"))
    }

    // r16 x02 decomposition: cumulative prefixes of the minhash pipeline
    // (each re-materializes its own shingle checkpoint, like the real
    // query does per execution), timed pinned (production) and un-pinned
    // (plain AQE). Prefix deltas attribute the 100x cost.
    def x02Shingles(s: SparkSession, dir: String): DataFrame =
      graft.ext.TextOps.shingleTable(graft.Tables(s, dir, "documents"))
        .localCheckpoint(eager = false)
    def x02Cand(s: SparkSession, dir: String): DataFrame = {
      import graft.ext.Dedup._
      val bands = lshBands(
        minhashSignatureFused(graft.Tables(s, dir, "documents")))
      bands.as("l")
        .join(bands.as("r"),
          col("l.band") === col("r.band") &&
            col("l.band_key") === col("r.band_key") &&
            col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
        .distinct()
    }
    def x02Sig(s: SparkSession, dir: String): DataFrame =
      graft.ext.Dedup.minhashSignatureFused(graft.Tables(s, dir, "documents"))

    val mode = sys.env.getOrElse("AB_MODE", "q05q18")
    val variants: Seq[(String, String, (SparkSession, String) => DataFrame)] =
      if (mode == "x02parts") Seq(
        // names ending in "-aqe" don't resolve to a registered query, so
        // timed() runs them WITHOUT the static pin
        ("x02", "P3-full-pinned",
          (s, d) => graft.SparkEntry.queries("x02_dedup_minhash")(s, d)),
        ("x02aqe", "P3-full-aqe",
          (s, d) => graft.SparkEntry.queries("x02_dedup_minhash")(s, d)),
        ("x02", "P1-shingle-ckpt-pinned", x02Shingles),
        ("x02aqe", "P1-shingle-ckpt-aqe", x02Shingles),
        ("x02", "P1b-fused-sig-pinned", x02Sig),
        ("x02", "P2-cand-fused-pinned", x02Cand),
        ("x02aqe", "P2-cand-fused-aqe", x02Cand))
      else if (mode == "tok") Seq(
        ("x30", "old-2pass", x30OldTok),
        ("x30", "current-dtf",
          (s, d) => graft.SparkEntry.queries("x30_unigram_lm")(s, d)),
        ("x31", "old-2pass", x31OldTok),
        ("x31", "current-weighted-mg",
          (s, d) => graft.SparkEntry.queries("x31_mg_heavyhitters")(s, d)),
        ("x42", "old-2pass", x42OldTok),
        ("x42", "current-weighted-cms",
          (s, d) => graft.SparkEntry.queries("x42_cms_heavyhitters")(s, d)))
      else if (mode == "x02") Seq(
        ("x02", "current-checkpoint",
          (s, d) => graft.SparkEntry.queries("x02_dedup_minhash")(s, d)),
        ("x02", "persisted-shingles", x02Persisted))
      else if (mode == "q14") Seq(
        ("q14", "current-expand",
          (s, d) => graft.SparkEntry.queries("q14_count_distinct")(s, d)),
        ("q14", "two-phase-distinct", q14TwoPhase),
        ("q14", "preagg-then-expand", q14PreAgg))
      else Seq(
      ("q05", "current", (s, d) => graft.SparkEntry.queries("q05_star_join")(s, d)),
      ("q05", "lineitem-preagg", q05Alt),
      ("q18", "current", (s, d) => graft.SparkEntry.queries("q18_window_frames")(s, d)),
      ("q18", "naive-3-window", q18Alt))

    // each variant runs under the SAME per-query plan profile Bench
    // executes (static pin or AQE) — an A/B that times a pinned query
    // unpinned measures the wrong plan
    val fullName = graft.SparkEntry.queries.keys
      .map(k => k.takeWhile(_ != '_') -> k).toMap
    def timed[T](name: String)(action: => T): T =
      fullName.get(name)
        .map(fn => graft.ops.PlanProfile.withProfile(spark, fn)(action))
        .getOrElse(action)
    // warmup every variant (codegen + AQE stats), then min-of-3
    variants.foreach { case (name, variant, fn) =>
      graft.SessionProfile.attempt(s"ab warm $name $variant") {
        timed(name)(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      }
    }
    variants.foreach { case (name, variant, fn) =>
      val t = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        timed(name)(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"AB $name $variant $t%.3f")
    }
    // sanity: the alternatives must agree with production on VALUES
    def rowsOf(df: DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    if (mode == "tok") {
      Seq(
        ("x30", x30OldTok _, "x30_unigram_lm"),
        ("x31", x31OldTok _, "x31_mg_heavyhitters"),
        ("x42", x42OldTok _, "x42_cms_heavyhitters")
      ).foreach { case (n, old, full) =>
        val same = rowsOf(old(spark, sfDir)) ==
          rowsOf(graft.SparkEntry.queries(full)(spark, sfDir))
        println(s"AB $n values-agree $same")
      }
    } else if (mode == "x02") {
      val same = rowsOf(x02Persisted(spark, sfDir)) ==
        rowsOf(graft.SparkEntry.queries("x02_dedup_minhash")(spark, sfDir))
      println(s"AB x02 values-agree $same")
    } else if (mode == "q14") {
      val cur = rowsOf(graft.SparkEntry.queries("q14_count_distinct")(spark, sfDir))
      println(s"AB q14 values-agree-two-phase ${rowsOf(q14TwoPhase(spark, sfDir)) == cur}")
      println(s"AB q14 values-agree-preagg ${rowsOf(q14PreAgg(spark, sfDir)) == cur}")
    } else {
      val q05same = rowsOf(q05Alt(spark, sfDir)
          .select(col("n_name"), round(col("revenue").cast("double"), 2))) ==
        rowsOf(graft.SparkEntry.queries("q05_star_join")(spark, sfDir)
          .select(col("n_name"), round(col("revenue").cast("double"), 2)))
      val q18same = rowsOf(q18Alt(spark, sfDir).orderBy("event_id").limit(5000)) ==
        rowsOf(graft.SparkEntry.queries("q18_window_frames")(spark, sfDir)
          .orderBy("event_id").limit(5000))
      println(s"AB q05 values-agree $q05same")
      println(s"AB q18 values-agree $q18same")
    }
    spark.stop()
  }
}
