package graft.queries

import org.apache.spark.sql.functions._

import graft.{Q, QueryFamily, Tables}
import graft.plans.HdrQuantileAgg

/** §2.3 Aggregate library.
  *
  * Re-expresses the reference's aggregation surface
  * (reference: presto-main/src/main/java/com/facebook/presto/operator/
  * aggregation/ — ~200 classes incl.
  * ApproximateCountDistinctAggregation.java:1,
  * ApproximateLongPercentileAggregations.java:1, ChecksumAggregationFunction
  * .java:1) with Spark built-ins. All are hash aggregates with map-side
  * partial aggregation for free.
  *
  * Spark's skewness/kurtosis are population moments while DuckDB's are
  * sample-corrected — the oracles spell out the population formulas
  * explicitly so both engines compute the same statistic.
  */
object AggregateQueries extends QueryFamily {

  val q45 = Q(
    "q45_stat_aggs",
    """WITH mu AS (SELECT c_mktsegment AS seg, avg(c_acctbal) AS m FROM customer GROUP BY 1)
      |SELECT c_mktsegment AS seg,
      | round(stddev_samp(c_acctbal), 4) AS sd_samp,
      | round(stddev_pop(c_acctbal), 4) AS sd_pop,
      | round(var_samp(c_acctbal), 4) AS v_samp,
      | round(var_pop(c_acctbal), 4) AS v_pop,
      | round(corr(c_acctbal, CAST(c_custkey AS DOUBLE)), 6) AS cor,
      | round(covar_pop(c_acctbal, CAST(c_custkey AS DOUBLE)), 4) AS cov_pop,
      | round(covar_samp(c_acctbal, CAST(c_custkey AS DOUBLE)), 4) AS cov_samp,
      | round(avg(pow(c_acctbal - m, 3)) / pow(avg(pow(c_acctbal - m, 2)), 1.5), 4) AS skew,
      | round(avg(pow(c_acctbal - m, 4)) / pow(avg(pow(c_acctbal - m, 2)), 2) - 3, 4) AS kurt
      |FROM customer JOIN mu ON c_mktsegment = mu.seg
      |GROUP BY c_mktsegment
      |ORDER BY seg""".stripMargin) { (s, d) =>
    Tables.customer(s, d).groupBy(col("c_mktsegment").as("seg"))
      .agg(
        round(stddev_samp(col("c_acctbal")), 4).as("sd_samp"),
        round(stddev_pop(col("c_acctbal")), 4).as("sd_pop"),
        round(var_samp(col("c_acctbal")), 4).as("v_samp"),
        round(var_pop(col("c_acctbal")), 4).as("v_pop"),
        round(corr(col("c_acctbal"), col("c_custkey").cast("double")), 6).as("cor"),
        round(covar_pop(col("c_acctbal"), col("c_custkey").cast("double")), 4).as("cov_pop"),
        round(covar_samp(col("c_acctbal"), col("c_custkey").cast("double")), 4).as("cov_samp"),
        round(skewness(col("c_acctbal")), 4).as("skew"),
        round(kurtosis(col("c_acctbal")), 4).as("kurt"))
      .orderBy("seg")
  }

  val q46 = Q(
    "q46_minmax_by",
    """SELECT o_orderpriority,
      | max_by(o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) * 100000 + o_orderkey) AS biggest_order,
      | min_by(o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) * 100000 + o_orderkey) AS smallest_order,
      | round(max(o_totalprice), 2) AS max_price,
      | round(min(o_totalprice), 2) AS min_price,
      | min(o_orderkey) AS any_order
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    // max_by/min_by need a unique comparator for determinism: price ties
    // broken by orderkey via exact decimal arithmetic (orderkey < 100000).
    val cmp = col("o_totalprice").cast("decimal(18,2)") * 100000 + col("o_orderkey")
    Tables.orders(s, d).groupBy(col("o_orderpriority"))
      .agg(
        max_by(col("o_orderkey"), cmp).as("biggest_order"),
        min_by(col("o_orderkey"), cmp).as("smallest_order"),
        round(max(col("o_totalprice")), 2).as("max_price"),
        round(min(col("o_totalprice")), 2).as("min_price"),
        min(col("o_orderkey")).as("any_order"))
      .orderBy("o_orderpriority")
  }

  val q47 = Q(
    "q47_count_if_bool",
    """SELECT l_returnflag,
      | CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_highdisc,
      | bool_and(l_quantity > 0) AS all_pos,
      | bool_or(l_tax > 0.07) AS any_hightax,
      | CAST(count_if(l_quantity >= 25 AND l_discount = 0) AS BIGINT) AS n_full_price_bulk
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d).groupBy(col("l_returnflag"))
      .agg(
        count_if(col("l_discount") > 0.05).as("n_highdisc"),
        bool_and(col("l_quantity") > 0).as("all_pos"),
        bool_or(col("l_tax") > 0.07).as("any_hightax"),
        count_if(col("l_quantity") >= 25 && col("l_discount") === 0).as("n_full_price_bulk"))
      .orderBy("l_returnflag")
  }

  val q48 = Q(
    "q48_array_agg",
    """SELECT s_nationkey,
      | array_to_string(list_transform(list(s_suppkey ORDER BY s_suppkey), x -> CAST(x AS VARCHAR)), ',') AS suppliers,
      | array_to_string(list_transform(list_sort(list_distinct(list(s_suppkey % 7))), x -> CAST(x AS VARCHAR)), ',') AS key_mods,
      | CAST(len(list(s_suppkey ORDER BY s_suppkey)) AS INTEGER) AS n
      |FROM supplier
      |GROUP BY s_nationkey
      |ORDER BY s_nationkey""".stripMargin) { (s, d) =>
    // arrays projected as joined strings: the driver's comparator sorts
    // rows by every column, which list-typed cells break
    Tables.supplier(s, d).groupBy(col("s_nationkey"))
      .agg(
        array_join(sort_array(collect_list(col("s_suppkey"))).cast("array<string>"), ",").as("suppliers"),
        array_join(array_sort(collect_set(col("s_suppkey") % 7)).cast("array<string>"), ",").as("key_mods"),
        size(collect_list(col("s_suppkey"))).as("n"))
      .orderBy("s_nationkey")
  }

  // Sketch estimates are engine-specific (HLL/KLL implementations differ)
  // → rows-only; exact companions are q11_distinct and q50_percentiles.
  // SQL-replayable HLL (Sketches §HyperLogLog): p = 8 → 256 registers,
  // ~6.5% standard error; exact-count companion column in the same row.
  // Spark's own HLL (approx_count_distinct) stays covered by
  // SketchAccuracySpec — its sketch hash is not replayable in DuckDB.
  private val q49P = 8

  val q49 = Q(
    "q49_approx_sketches",
    s"""WITH h AS (SELECT l_returnflag,
       |  CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       | FROM lineitem),
       |b AS (SELECT l_returnflag, h % 256 AS bucket, h // 256 AS w FROM h),
       |rho AS (SELECT l_returnflag, bucket,
       |  CASE WHEN w = 0 THEN 53 ELSE CAST(round(log2(w & (-w))) AS INTEGER) + 1 END AS rho
       | FROM b),
       |reg AS (SELECT l_returnflag, bucket, max(rho) AS r FROM rho GROUP BY 1, 2),
       |s AS (SELECT l_returnflag,
       |  CAST(sum(CAST(1 AS BIGINT) << (53 - r)) + (256 - count(*)) * 9007199254740992 AS BIGINT) AS hsum,
       |  count(*) AS nb
       | FROM reg GROUP BY 1),
       |ex AS (SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts FROM lineitem GROUP BY 1)
       |SELECT s.l_returnflag,
       | ${graft.functions.Sketches.hllEstimateDuckSql("hsum", "nb", q49P)} AS hll_parts,
       | exact_parts
       |FROM s JOIN ex USING (l_returnflag)
       |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    import graft.functions.Sketches
    val li = Tables.lineitem(s, d)
    val reg = li
      .select(col("l_returnflag"), Sketches.hllHash("l_partkey").as("h"))
      .select(col("l_returnflag"), expr(s"h % ${1 << q49P}").as("bucket"),
        expr(s"h div ${1 << q49P}").as("w"))
      .select(col("l_returnflag"), col("bucket"), Sketches.hllRho("w", q49P).as("rho"))
      .groupBy(col("l_returnflag"), col("bucket")).agg(max("rho").as("r"))
    val sums = reg.groupBy(col("l_returnflag"))
      .agg(Sketches.hllHarmonicSum("r", q49P).as("hsum"), count(lit(1)).as("nb"))
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"))
    sums.join(exact, "l_returnflag")
      .select(col("l_returnflag"),
        Sketches.hllEstimate("hsum", "nb", q49P).as("hll_parts"),
        col("exact_parts"))
      .orderBy("l_returnflag")
  }

  val q50 = Q(
    "q50_percentiles",
    """SELECT l_returnflag,
      | round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.25), 4) AS p25,
      | round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 4) AS p50,
      | round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.75), 4) AS p75,
      | round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9), 4) AS price_p90
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d).groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_quantity, 0.75)"), 4).as("p75"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("price_p90"))
      .orderBy("l_returnflag")
  }

  val q51 = Q(
    "q51_histogram_map_agg",
    """WITH h AS (
      |  SELECT o_orderpriority AS pri, o_orderstatus AS st, count(*) AS n
      |  FROM orders GROUP BY 1, 2)
      |SELECT pri,
      | array_to_string(list(st ORDER BY st), ',') AS hist_keys,
      | array_to_string(list_transform(list(n ORDER BY st), x -> CAST(x AS VARCHAR)), ',') AS hist_vals,
      | CAST(len(list(st)) AS INTEGER) AS n_buckets
      |FROM h GROUP BY pri
      |ORDER BY pri""".stripMargin) { (s, d) =>
    // histogram(x) → MAP(value, count); projected as sorted key/value
    // arrays for an engine-neutral oracle (same trick as q42).
    val h = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("pri"), col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("n"))
    h.groupBy(col("pri"))
      .agg(map_from_entries(array_sort(collect_list(struct(col("st"), col("n"))))).as("m"))
      .select(col("pri"),
        // joined strings, not raw arrays: see q48 comment
        array_join(map_keys(col("m")), ",").as("hist_keys"),
        array_join(map_values(col("m")).cast("array<string>"), ",").as("hist_vals"),
        size(col("m")).as("n_buckets"))
      .orderBy("pri")
  }

  val q52 = Q(
    "q52_checksum_agg",
    """SELECT l_returnflag,
      | CAST(sum(CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) || '|' || l_returnflag), 1, 7) AS BIGINT)) AS BIGINT) AS checksum,
      | count(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    // Order-independent content checksum (reference:
    // ChecksumAggregationFunction.java:1): sum of a 28-bit md5-derived
    // value per row — associative, so map-side partials compose, and the
    // sum of ≤2^35 rows still fits a BIGINT.
    val rowHash = conv(substring(md5(concat_ws("|",
      col("l_orderkey").cast("string"),
      col("l_linenumber").cast("string"),
      col("l_returnflag"))), 1, 7), 16, 10).cast("long")
    Tables.lineitem(s, d).groupBy(col("l_returnflag"))
      .agg(sum(rowHash).cast("long").as("checksum"), count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** Mergeable HLL sketches (reference: approx_set / merge /
    * cardinality over HyperLogLog state — HyperLogLogFunctions.java:1):
    * per-nation customer sketches union-merged up to region level
    * without re-scanning rows — the distributed two-level rollup the
    * sketch representation exists for. Rows-only for the driver
    * (DuckDB has no HLL state); SketchAccuracySpec bounds the estimate
    * against the exact count.
    */
  // Mergeable-sketch rollup, SQL-replayable: per-nation HLL registers
  // (p = 6 → 64 registers) are union-merged to the region by taking the
  // slotwise max — the defining property of HLL merge (Presto
  // merge(approx_set(…)) analog). The estimate is derived only AFTER the
  // merge, so the oracle checks true sketch mergeability, not just a
  // direct region-level count. Spark's Datasketches-backed
  // hll_sketch_agg/hll_union_agg path stays covered by SketchAccuracySpec.
  private val q57P = 6

  val q57 = Q(
    "q57_hll_sketch_union",
    s"""WITH h AS (SELECT n_regionkey, n_nationkey,
       |  CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       | FROM customer JOIN nation ON c_nationkey = n_nationkey),
       |b AS (SELECT n_regionkey, n_nationkey, h % 64 AS bucket, h // 64 AS w FROM h),
       |rho AS (SELECT n_regionkey, n_nationkey, bucket,
       |  CASE WHEN w = 0 THEN 55 ELSE CAST(round(log2(w & (-w))) AS INTEGER) + 1 END AS rho
       | FROM b),
       |nat AS (SELECT n_regionkey, n_nationkey, bucket, max(rho) AS r
       | FROM rho GROUP BY 1, 2, 3),
       |merged AS (SELECT n_regionkey, bucket, max(r) AS r FROM nat GROUP BY 1, 2),
       |s AS (SELECT n_regionkey,
       |  CAST(sum(CAST(1 AS BIGINT) << (55 - r)) + (64 - count(*)) * 36028797018963968 AS BIGINT) AS hsum,
       |  count(*) AS nb
       | FROM merged GROUP BY 1),
       |ex AS (SELECT n_regionkey, count(DISTINCT c_custkey) AS exact_customers
       | FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1)
       |SELECT s.n_regionkey,
       | ${graft.functions.Sketches.hllEstimateDuckSql("hsum", "nb", q57P)} AS hll_customers,
       | exact_customers
       |FROM s JOIN ex USING (n_regionkey)
       |ORDER BY n_regionkey""".stripMargin) { (s, d) =>
    import graft.functions.Sketches
    val joined = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
    val natRegs = joined
      .select(col("n_regionkey"), col("n_nationkey"), Sketches.hllHash("c_custkey").as("h"))
      .select(col("n_regionkey"), col("n_nationkey"),
        expr(s"h % ${1 << q57P}").as("bucket"), expr(s"h div ${1 << q57P}").as("w"))
      .select(col("n_regionkey"), col("n_nationkey"), col("bucket"),
        Sketches.hllRho("w", q57P).as("rho"))
      .groupBy(col("n_regionkey"), col("n_nationkey"), col("bucket"))
      .agg(max("rho").as("r")) // per-nation sketch registers
    val merged = natRegs.groupBy(col("n_regionkey"), col("bucket"))
      .agg(max("r").as("r")) // sketch union = slotwise max
    val sums = merged.groupBy(col("n_regionkey"))
      .agg(Sketches.hllHarmonicSum("r", q57P).as("hsum"), count(lit(1)).as("nb"))
    val exact = joined.groupBy(col("n_regionkey"))
      .agg(countDistinct(col("c_custkey")).as("exact_customers"))
    sums.join(exact, "n_regionkey")
      .select(col("n_regionkey"),
        Sketches.hllEstimate("hsum", "nb", q57P).as("hll_customers"),
        col("exact_customers"))
      .orderBy("n_regionkey")
  }

  // Mergeable HDR-histogram quantile sketch (graft.plans.HdrQuantileAgg):
  // money quantiles over exact integer cents. The oracle replays the
  // log-linear bucketing + rank walk in SQL — every step is integer
  // arithmetic, so the sketch estimate (not just some statistic of it)
  // hash-matches. Both engines compute rank = ceil(q·n) in DOUBLE.
  private def hdrMidpointDuck(b: String): String =
    s"CASE WHEN $b < 8 THEN CAST($b AS DOUBLE) " +
      s"ELSE (8 + $b % 8) * (CAST(1 AS BIGINT) << (CAST($b // 8 AS INTEGER) - 3)) " +
      s"+ (CAST(1 AS BIGINT) << (CAST($b // 8 AS INTEGER) - 3)) * 0.5 END"

  private def hdrPickDuck(q: Double, name: String): String =
    s"""$name AS (SELECT l_returnflag, min(bucket) AS b FROM cum
       | WHERE cum >= greatest(1, ceil(CAST($q AS DOUBLE) * total)) GROUP BY 1)"""
      .stripMargin

  val q85 = Q(
    "q85_hdr_quantile",
    s"""WITH c AS (SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem),
       |b AS (SELECT l_returnflag,
       |  CASE WHEN c < 8 THEN c
       |       ELSE 8 * CAST(floor(log2(c)) AS BIGINT)
       |            + (c >> (CAST(floor(log2(c)) AS INTEGER) - 3)) - 8 END AS bucket
       | FROM c),
       |cnt AS (SELECT l_returnflag, bucket, count(*) AS n FROM b GROUP BY 1, 2),
       |cum AS (SELECT l_returnflag, bucket, n,
       |   sum(n) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS cum,
       |   sum(n) OVER (PARTITION BY l_returnflag) AS total
       | FROM cnt),
       |${hdrPickDuck(0.5, "p50")},
       |${hdrPickDuck(0.9, "p90")},
       |n AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows FROM lineitem GROUP BY 1)
       |SELECT n.l_returnflag,
       | round(${hdrMidpointDuck("p50.b")} / 100, 6) AS p50_price,
       | round(${hdrMidpointDuck("p90.b")} / 100, 6) AS p90_price,
       | n_rows
       |FROM n JOIN p50 USING (l_returnflag) JOIN p90 USING (l_returnflag)
       |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    import graft.plans.NativeFunctions
    val cents = expr("cast(round(l_extendedprice * 100) as bigint)")
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), cents.as("c"))
      .groupBy(col("l_returnflag"))
      .agg(
        round(NativeFunctions.hdrQuantile(col("c"), 0.5) / 100, 6).as("p50_price"),
        round(NativeFunctions.hdrQuantile(col("c"), 0.9) / 100, 6).as("p90_price"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")
  }

  // Bitwise aggregates (Presto bitwise_and_agg/bitwise_or_agg + the
  // xor-reduce the checksum agg already uses).
  val q92 = Q(
    "q92_bit_aggs",
    """SELECT l_returnflag,
      | CAST(bit_and(l_orderkey) AS BIGINT) AS band,
      | CAST(bit_or(l_orderkey) AS BIGINT) AS bor,
      | CAST(bit_xor(l_orderkey) AS BIGINT) AS bxor,
      | CAST(bit_and(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qand
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d).groupBy(col("l_returnflag"))
      .agg(
        expr("bit_and(l_orderkey)").as("band"),
        expr("bit_or(l_orderkey)").as("bor"),
        expr("bit_xor(l_orderkey)").as("bxor"),
        expr("bit_and(cast(l_quantity as bigint))").as("qand"))
      .orderBy("l_returnflag")
  }

  // Heavy hitters (Presto approx_most_frequent analog): top-k most
  // frequent values per group with deterministic ties. Exact two-phase
  // count+rank at test scale; at 100 TB the same shape runs over a
  // count-min/space-saving pre-aggregation — the per-group rank logic
  // is unchanged, which is why the exact form is the right contract.
  val q94 = Q(
    "q94_heavy_hitters",
    """WITH f AS (SELECT l_returnflag, l_quantity AS v, count(*) AS freq
      | FROM lineitem GROUP BY 1, 2),
      |r AS (SELECT l_returnflag, v, freq,
      |  CAST(row_number() OVER (PARTITION BY l_returnflag
      |    ORDER BY freq DESC, v) AS INTEGER) AS rk
      | FROM f)
      |SELECT l_returnflag, v, CAST(freq AS BIGINT) AS freq, rk
      |FROM r WHERE rk <= 5
      |ORDER BY l_returnflag, rk""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("freq").desc, col("v"))
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_quantity").as("v"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("l_returnflag"), col("v"), col("freq"), col("rk"))
      .orderBy("l_returnflag", "rk")
  }

  // Linear-regression aggregates (Presto regr_slope/regr_intercept) +
  // Shannon entropy (Presto entropy()) — entropy composed from counts
  // since Spark has no built-in. Rounding scales chosen so cross-engine
  // summation-order ulp noise stays far below the rounding grain.
  val q95 = Q(
    "q95_regression_aggs",
    """WITH e AS (
      | SELECT l_returnflag,
      |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
      |  round(regr_intercept(l_extendedprice, l_quantity), 2) AS icept,
      |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
      | FROM lineitem GROUP BY 1),
      |h AS (
      | SELECT l_returnflag,
      |  round(-sum(p * log2(p)), 6) AS qty_entropy
      | FROM (SELECT l_returnflag,
      |         CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (PARTITION BY l_returnflag) AS p
      |       FROM lineitem GROUP BY l_returnflag, l_quantity)
      | GROUP BY 1)
      |SELECT l_returnflag, slope, icept, n, qty_entropy
      |FROM e JOIN h USING (l_returnflag)
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val e = li.groupBy(col("l_returnflag")).agg(
      round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope"),
      round(expr("regr_intercept(l_extendedprice, l_quantity)"), 2).as("icept"),
      expr("regr_count(l_extendedprice, l_quantity)").as("n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_returnflag"))
    val h = li.groupBy(col("l_returnflag"), col("l_quantity")).agg(count(lit(1)).as("c"))
      .withColumn("p", col("c").cast("double") / sum(col("c")).over(w))
      .groupBy(col("l_returnflag"))
      .agg(round(-sum(col("p") * log2(col("p"))), 6).as("qty_entropy"))
    e.join(h, "l_returnflag")
      .select(col("l_returnflag"), col("slope"), col("icept"), col("n"), col("qty_entropy"))
      .orderBy("l_returnflag")
  }

  // KMV bottom-k theta sketch (graft.plans.KmvSketchAgg): per-priority
  // distinct-customer sketches, a union rollup merged FROM SKETCH STATE
  // ONLY (re-aggregating sketch elements is the lossless union merge),
  // and per-group Jaccard vs the 1-URGENT set — the reference's
  // sketch_theta / setdigest surface (sketch.rst, setdigest.rst). Every
  // step is integer/IEEE-portable, so the oracle replays the whole
  // sketch: DuckDB's bottom-k is just ORDER BY hash LIMIT k.
  private val kmvK = 128

  val q99 = Q(
    "q99_kmv_theta",
    s"""WITH d AS (SELECT DISTINCT o_orderpriority AS grp,
       |  CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       | FROM orders),
       |r AS (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rk FROM d),
       |sk AS (SELECT grp, list(h ORDER BY h) AS sk FROM r WHERE rk <= $kmvK GROUP BY grp),
       |ad AS (SELECT DISTINCT h FROM r WHERE rk <= $kmvK),
       |ar AS (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM ad),
       |ask AS (SELECT 'ALL' AS grp, list(h ORDER BY h) AS sk FROM ar WHERE rk <= $kmvK),
       |sks AS (SELECT * FROM sk UNION ALL SELECT * FROM ask),
       |ex AS (SELECT o_orderpriority AS grp, count(DISTINCT o_custkey) AS exact_distinct
       |       FROM orders GROUP BY 1
       |       UNION ALL
       |       SELECT 'ALL', count(DISTINCT o_custkey) FROM orders),
       |u AS (SELECT sk AS usk FROM sks WHERE grp = '1-URGENT')
       |SELECT s.grp,
       | ${graft.functions.Sketches.kmvEstimateDuckSql("s.sk", kmvK)} AS est_distinct,
       | ex.exact_distinct,
       | ${graft.functions.Sketches.kmvJaccardDuckSql("s.sk", "u.usk", kmvK)} AS jacc_vs_urgent
       |FROM sks s CROSS JOIN u JOIN ex ON s.grp = ex.grp
       |ORDER BY s.grp""".stripMargin) { (s, d) =>
    import graft.functions.Sketches
    import graft.plans.NativeFunctions
    val o = Tables.orders(s, d)
    // ONE orders scan: the persisted distinct (grp, custkey) projection
    // (the oracle's own `d` CTE) feeds the sketch side AND both exact
    // sides — the r9 shape re-derived each branch from orders (5 scans).
    // KMV sketches dedupe by hash, so sketching the distinct projection
    // is identical to sketching the raw rows.
    val pairs = o.select(col("o_orderpriority").as("grp"), col("o_custkey"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pairs.count()
    val perGroup = pairs
      .select(col("grp"), Sketches.hllHash("o_custkey").as("h"))
      .groupBy("grp")
      .agg(NativeFunctions.kmvSketch(col("h"), kmvK).as("sk"))
      // 5 sketch rows, referenced by three consumers below — persist so
      // the group aggregation runs once
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    perGroup.count()
    // union rollup: the sketches' own elements re-aggregated — no second
    // pass over the data, the production shape for a 100 TB daily→total
    // distinct rollup
    val allRow = perGroup.select(explode(col("sk")).as("h"))
      .agg(NativeFunctions.kmvSketch(col("h"), kmvK).as("sk"))
      .select(lit("ALL").as("grp"), col("sk"))
    val sketches = perGroup.unionByName(allRow)
    val exact = pairs.groupBy(col("grp"))
      .agg(count(lit(1)).as("exact_distinct"))
      .unionByName(pairs.select(col("o_custkey")).distinct()
        .agg(count(lit(1)).as("exact_distinct"))
        .select(lit("ALL").as("grp"), col("exact_distinct")))
    val urgent = sketches.filter(col("grp") === "1-URGENT")
      .select(col("sk").as("usk"))
    sketches.crossJoin(broadcast(urgent))
      .join(exact, "grp")
      .select(col("grp"),
        Sketches.kmvEstimate("sk", kmvK).as("est_distinct"),
        col("exact_distinct"),
        Sketches.kmvJaccard("sk", "usk", kmvK).as("jacc_vs_urgent"))
      .orderBy("grp")
  }

  // qdigest/tdigest API surface over the HDR sketch (qdigest.rst:
  // values_at_quantiles, quantile_at_value; tdigest.rst mirrors both):
  // one sketch build per group, multi-quantile walk (array out), plus
  // the inverse rank query at a fixed value — all replayed exactly by
  // the oracle from the same integer bucket walk as q85.
  private val q102RankCents = 2000000L // quantile_at_value probe: $20k

  val q102 = Q(
    "q102_qdigest_api",
    s"""WITH c AS (SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem),
       |b AS (SELECT l_returnflag,
       |  CASE WHEN c < 8 THEN c
       |       ELSE 8 * CAST(floor(log2(c)) AS BIGINT)
       |            + (c >> (CAST(floor(log2(c)) AS INTEGER) - 3)) - 8 END AS bucket
       | FROM c),
       |cnt AS (SELECT l_returnflag, bucket, count(*) AS n FROM b GROUP BY 1, 2),
       |cum AS (SELECT l_returnflag, bucket, n,
       |   sum(n) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS cum,
       |   sum(n) OVER (PARTITION BY l_returnflag) AS total
       | FROM cnt),
       |${hdrPickDuck(0.25, "p25")},
       |${hdrPickDuck(0.5, "p50")},
       |${hdrPickDuck(0.75, "p75")},
       |${hdrPickDuck(0.95, "p95")},
       |rk AS (SELECT l_returnflag,
       |   round(CAST(sum(n) FILTER (WHERE bucket <= ${HdrQuantileAgg.bucketOf(q102RankCents)}) AS DOUBLE)
       |         / CAST(max(total) AS DOUBLE), 6) AS rank_at_20k
       | FROM cum GROUP BY 1)
       |SELECT p25.l_returnflag,
       | round(${hdrMidpointDuck("p25.b")} / 100, 6) AS p25_price,
       | round(${hdrMidpointDuck("p50.b")} / 100, 6) AS p50_price,
       | round(${hdrMidpointDuck("p75.b")} / 100, 6) AS p75_price,
       | round(${hdrMidpointDuck("p95.b")} / 100, 6) AS p95_price,
       | rank_at_20k
       |FROM p25 JOIN p50 USING (l_returnflag) JOIN p75 USING (l_returnflag)
       | JOIN p95 USING (l_returnflag) JOIN rk USING (l_returnflag)
       |ORDER BY p25.l_returnflag""".stripMargin) { (s, d) =>
    import graft.plans.NativeFunctions
    val cents = expr("cast(round(l_extendedprice * 100) as bigint)")
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), cents.as("c"))
      .groupBy(col("l_returnflag"))
      .agg(
        NativeFunctions.hdrQuantiles(col("c"), Seq(0.25, 0.5, 0.75, 0.95)).as("vq"),
        round(NativeFunctions.hdrRank(col("c"), q102RankCents), 6).as("rank_at_20k"))
      .select(col("l_returnflag"),
        round(expr("element_at(vq, 1)") / 100, 6).as("p25_price"),
        round(expr("element_at(vq, 2)") / 100, 6).as("p50_price"),
        round(expr("element_at(vq, 3)") / 100, 6).as("p75_price"),
        round(expr("element_at(vq, 4)") / 100, 6).as("p95_price"),
        col("rank_at_20k"))
      .orderBy("l_returnflag")
  }

  // Bounded-memory heavy hitters (graft.plans.SpaceSavingAgg): the
  // sketch-path counterpart of q94's exact two-phase rank. State is
  // ≤ capacity counters per group — at 100 TB the partial aggregation
  // ships KB-scale sketches where q94's pre-agg shuffles one row per
  // distinct value. l_quantity has 50 distinct values < capacity 64,
  // so no eviction fires and the sketch is EXACT under any partitioning
  // — which is what lets DuckDB oracle the full pipeline; the
  // eviction/error regime is covered by SpaceSavingSpec.
  val q109 = Q(
    "q109_approx_most_frequent",
    """WITH f AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS value,
      |  CAST(count(*) AS BIGINT) AS cnt
      | FROM lineitem GROUP BY 1, 2),
      |r AS (SELECT l_returnflag, value, cnt,
      |  CAST(row_number() OVER (PARTITION BY l_returnflag
      |    ORDER BY cnt DESC, value) AS INTEGER) AS rk
      | FROM f)
      |SELECT l_returnflag, rk, value, cnt FROM r WHERE rk <= 8
      |ORDER BY l_returnflag, rk""".stripMargin) { (s, d) =>
    import graft.plans.NativeFunctions
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(NativeFunctions.approxMostFrequent(
        col("l_quantity").cast("long"), capacity = 64, k = 8).as("hh"))
      .select(col("l_returnflag"), posexplode(col("hh")))
      .select(col("l_returnflag"), (col("pos") + 1).cast("int").as("rk"),
        col("col.value").as("value"), col("col.cnt").as("cnt"))
      .orderBy("l_returnflag", "rk")
  }

  // map_union / map_union_sum / multimap_agg (graft.functions.Maps):
  // per-nation mktsegment→count maps are built as REAL map columns,
  // then unioned to region level. Canonicalized to sorted "k=v" entry
  // strings on both engines (DuckDB's map comparison semantics differ,
  // the entry-list form is portable — the q101 convention).
  val q110 = Q(
    "q110_map_union",
    """WITH cn AS (SELECT r_name AS region, n_name AS nation,
      |  c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS cnt
      | FROM customer
      | JOIN nation ON c_nationkey = n_nationkey
      | JOIN region ON n_regionkey = r_regionkey
      | GROUP BY 1, 2, 3),
      |u AS (SELECT region, seg, max(cnt) AS mx, CAST(sum(cnt) AS BIGINT) AS sm
      | FROM cn GROUP BY 1, 2),
      |f1 AS (SELECT region,
      |  array_to_string(list_transform(list(struct_pack(k := seg, v := mx) ORDER BY seg),
      |    e -> e.k || '=' || CAST(e.v AS VARCHAR)), ',') AS union_max,
      |  array_to_string(list_transform(list(struct_pack(k := seg, v := sm) ORDER BY seg),
      |    e -> e.k || '=' || CAST(e.v AS VARCHAR)), ',') AS union_sum
      | FROM u GROUP BY 1),
      |m AS (SELECT region, seg,
      |  array_to_string(list(nation ORDER BY nation), '|') AS ns
      | FROM cn GROUP BY 1, 2),
      |f2 AS (SELECT region,
      |  array_to_string(list(seg || ':' || ns ORDER BY seg), ',') AS mm
      | FROM m GROUP BY 1)
      |SELECT region, union_max, union_sum, mm
      |FROM f1 JOIN f2 USING (region)
      |ORDER BY region""".stripMargin) { (s, d) =>
    import graft.functions.Maps
    def canon(mapCol: String, render: String => String = v => v): org.apache.spark.sql.Column =
      expr(s"array_join(transform(array_sort(map_entries($mapCol)), " +
        s"e -> concat(e.key, '=', ${render("e.value")})), ',')")
    val cn = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"),
        col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("cnt"))
    // nation-level map column — the real map-typed input of the unions.
    // localCheckpoint: three consumers flow from this ≤|region|×|nation|-
    // row frame; without the materialization each would re-run the
    // customer scan + aggregation (3 corpus passes at warehouse scale
    // for a dimension-sized intermediate).
    val nmaps = cn.groupBy(col("region"), col("nation"))
      .agg(map_from_entries(sort_array(collect_list(struct(col("seg"), col("cnt")))))
        .as("m"))
      .localCheckpoint(true)
    // both unions in ONE entry pass (r6 plan diet: a max-union +
    // sum-union + join shape re-shuffled the same entries twice and
    // sort-merge-joined two 5-row aggregates back together)
    val u = Maps.mapUnions(nmaps, Seq("region"), "m", "u_max", "u_sum")
    // the multimap's input is nmaps re-exploded, not a fresh cn pass
    val mmap = Maps.multimapAgg(
      nmaps.select(col("region"), col("nation"), explode(col("m")).as(Seq("seg", "cnt"))),
      Seq("region"), "seg", "nation", "mm0")
    u.join(broadcast(mmap), Seq("region"))
      .select(col("region"),
        canon("u_max").as("union_max"),
        canon("u_sum").as("union_sum"),
        expr("array_join(transform(array_sort(map_entries(mm0)), " +
          "e -> concat(e.key, ':', array_join(e.value, '|'))), ',')").as("mm"))
      .orderBy("region")
  }

  // Parameterized-accuracy quantile sketch (the qdigest/tdigest
  // user-chosen-accuracy knob): the same HDR sketch at bits=6 (4096
  // slots, ≤0.78% relative error vs the default 6.25%) plus the
  // WEIGHTED insert (qdigest weighted add / scale_qdigest surface) —
  // median unit price weighted by line quantity. Oracle replays the
  // 6-bit bucket walk and the weight-cumulative rank in integer SQL.
  private def hdrBucket6(c: String): String =
    s"CASE WHEN $c < 64 THEN $c " +
      s"ELSE 64 * CAST(floor(log2($c)) AS BIGINT) " +
      s"+ ($c >> (CAST(floor(log2($c)) AS INTEGER) - 6)) - 64 END"

  private def hdrMid6(b: String): String =
    s"CASE WHEN $b < 64 THEN CAST($b AS DOUBLE) " +
      s"ELSE (64 + $b % 64) * (CAST(1 AS BIGINT) << (CAST($b // 64 AS INTEGER) - 6)) " +
      s"+ (CAST(1 AS BIGINT) << (CAST($b // 64 AS INTEGER) - 6)) * 0.5 END"

  val q113 = Q(
    "q113_qdigest_resolution",
    s"""WITH c AS (SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
       |  CAST(l_quantity AS BIGINT) AS w FROM lineitem),
       |b AS (SELECT l_returnflag, ${hdrBucket6("c")} AS bucket, w FROM c),
       |cnt AS (SELECT l_returnflag, bucket, count(*) AS n, sum(w) AS wn FROM b GROUP BY 1, 2),
       |cum AS (SELECT l_returnflag, bucket,
       |   sum(n) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS cum,
       |   sum(n) OVER (PARTITION BY l_returnflag) AS total,
       |   sum(wn) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS wcum,
       |   sum(wn) OVER (PARTITION BY l_returnflag) AS wtotal
       | FROM cnt),
       |p50 AS (SELECT l_returnflag, min(bucket) AS b FROM cum
       |  WHERE cum >= greatest(1, ceil(0.5 * total)) GROUP BY 1),
       |p95 AS (SELECT l_returnflag, min(bucket) AS b FROM cum
       |  WHERE cum >= greatest(1, ceil(0.95 * total)) GROUP BY 1),
       |wp50 AS (SELECT l_returnflag, min(bucket) AS b FROM cum
       |  WHERE wcum >= greatest(1, ceil(0.5 * wtotal)) GROUP BY 1)
       |SELECT p50.l_returnflag,
       | round(${hdrMid6("p50.b")} / 100, 6) AS p50_hi,
       | round(${hdrMid6("p95.b")} / 100, 6) AS p95_hi,
       | round(${hdrMid6("wp50.b")} / 100, 6) AS wp50_hi
       |FROM p50 JOIN p95 USING (l_returnflag) JOIN wp50 USING (l_returnflag)
       |ORDER BY p50.l_returnflag""".stripMargin) { (s, d) =>
    import graft.plans.NativeFunctions
    Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("c"),
        col("l_quantity").cast("long").as("w"))
      .groupBy(col("l_returnflag"))
      .agg(
        round(NativeFunctions.hdrQuantile(col("c"), 0.5, bits = 6) / 100, 6).as("p50_hi"),
        round(NativeFunctions.hdrQuantile(col("c"), 0.95, bits = 6) / 100, 6).as("p95_hi"),
        round(NativeFunctions.hdrWeightedQuantile(col("c"), col("w"), 0.5, bits = 6) / 100, 6)
          .as("wp50_hi"))
      .orderBy("l_returnflag")
  }

  // Fixed-bucket numeric histogram (reference numeric_histogram,
  // NumericHistogram.java:36). The reference's bin-merging algorithm is
  // insertion-order dependent (unoracleable); graft's contract is the
  // deterministic equi-width histogram over the group's [min, max]
  // range — same bucket arithmetic on both engines, identical IEEE
  // double ops → identical bucket assignment.
  val q114 = Q(
    "q114_numeric_histogram",
    """WITH s AS (SELECT l_returnflag, min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
      | FROM lineitem GROUP BY 1),
      |b AS (SELECT l.l_returnflag,
      |  CAST(least(9, greatest(0, floor((l_extendedprice - lo) / ((hi - lo) / 10)))) AS INTEGER) AS bucket,
      |  lo, hi
      | FROM lineitem l JOIN s ON l.l_returnflag = s.l_returnflag)
      |SELECT l_returnflag, bucket,
      | round(lo + bucket * ((hi - lo) / 10), 2) AS bucket_lo,
      | CAST(count(*) AS BIGINT) AS n
      |FROM b
      |GROUP BY l_returnflag, bucket, lo, hi
      |ORDER BY l_returnflag, bucket""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val stats = li.groupBy(col("l_returnflag"))
      .agg(min(col("l_extendedprice")).as("lo"), max(col("l_extendedprice")).as("hi"))
    li.join(broadcast(stats), "l_returnflag")
      .withColumn("bucket",
        least(lit(9), greatest(lit(0),
          floor((col("l_extendedprice") - col("lo")) / ((col("hi") - col("lo")) / 10))))
          .cast("int"))
      .groupBy(col("l_returnflag"), col("bucket"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("bucket"),
        round(col("lo") + col("bucket") * ((col("hi") - col("lo")) / 10), 2).as("bucket_lo"),
        col("n"))
      .orderBy("l_returnflag", "bucket")
  }

  // Aggregate long tail (aggregate.rst): geometric_mean, the n-variant
  // max_by/min_by (top-n/bottom-n arrays, deterministic ties via the
  // sort key), string_agg over the distinct set. Tie order is pinned on
  // both engines: top-n sorts (price DESC, key ASC) — Spark realizes
  // the same order by sorting struct(price, -key) ascending + reverse.
  val q117 = Q(
    "q117_agg_misc",
    """SELECT o_orderpriority,
      | round(exp(avg(ln(o_totalprice))), 2) AS geo_mean,
      | array_to_string(list_transform(list(o_orderkey ORDER BY o_totalprice DESC, o_orderkey)[1:3],
      |   x -> CAST(x AS VARCHAR)), '|') AS top3,
      | array_to_string(list_transform(list(o_orderkey ORDER BY o_totalprice, o_orderkey)[1:3],
      |   x -> CAST(x AS VARCHAR)), '|') AS bot3,
      | array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') AS statuses,
      | CAST(count(*) AS BIGINT) AS n
      |FROM orders
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, d) =>
    // top3/bot3 via the bounded-state k-smallest fold (TopKeys.kSmallest,
    // r8): the old collect_list+sort+slice spelling shipped EVERY
    // (price, key) struct per group through the exchange (4.3 MB for 5
    // output rows at sf0.1 — the full-value-set anti-shape at 100 TB);
    // the fold's map-side partials carry at most 3 structs each. top3 =
    // k-smallest of (-price, key); sentinels (MaxValue fields, sort
    // after every real order) are filtered on read. collect_set stays:
    // statuses are distinct-bounded (3 values).
    import org.apache.spark.sql.Column
    def strip(state: Column): Column =
      array_join(transform(
        filter(state, x => x.getField("b") =!= Long.MaxValue),
        x => x.getField("b").cast("string")), "|")
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        round(exp(avg(log(col("o_totalprice")))), 2).as("geo_mean"),
        strip(graft.operators.TopKeys.kSmallestPairs(
          -col("o_totalprice"), col("o_orderkey"), 3)).as("top3"),
        strip(graft.operators.TopKeys.kSmallestPairs(
          col("o_totalprice"), col("o_orderkey"), 3)).as("bot3"),
        expr("array_join(array_sort(collect_set(o_orderstatus)), ',')").as("statuses"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  // set_agg / set_union / any_value / bitwise_xor_agg (aggregate.rst;
  // reference impls presto-main/.../aggregation/SetAggregationFunction
  // and BitwiseXorAggregation). set_agg = distinct collect canonicalized
  // sorted; set_union = distinct union of array inputs; any_value is
  // "arbitrary" in the reference — graft pins min so results are
  // reproducible under any partitioning (same determinism contract as
  // Maps.mapUnions' max-wins union). All hash-aggregate with map-side partials; xor
  // is commutative/associative so partial combine is exact.
  val q134 = Q(
    "q134_set_aggs",
    """WITH d AS (SELECT doc_id, lang, source,
      |  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')[1:3] AS w3
      | FROM documents),
      |su AS (SELECT lang, string_agg(word, ',' ORDER BY word) AS set_union
      |       FROM (SELECT DISTINCT lang, unnest(w3) AS word FROM d) u GROUP BY lang),
      |sa AS (SELECT lang, string_agg(source, ',' ORDER BY source) AS set_sources,
      |         CAST(min(mn) AS BIGINT) AS any_doc, CAST(xor_all AS BIGINT) AS xor_doc
      |       FROM (SELECT lang, source, min(doc_id) AS mn FROM d GROUP BY lang, source) g
      |       JOIN (SELECT lang, bit_xor(doc_id) AS xor_all FROM d GROUP BY lang) x
      |         USING (lang)
      |       GROUP BY lang, xor_all)
      |SELECT sa.lang, set_sources, set_union, any_doc, xor_doc
      |FROM sa JOIN su ON sa.lang = su.lang
      |ORDER BY sa.lang""".stripMargin) { (s, d) =>
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        graft.functions.Text.words(col("text")).as("w"))
      .withColumn("w3", expr("slice(w, 1, 3)"))
    // set_union via explode + collect_set (r8): the old
    // flatten(collect_list(w3)) spelling buffered EVERY document's
    // word array per lang before the distinct — unbounded agg state at
    // corpus scale. collect_set's buffer IS the distinct set (map-side
    // partial dedup), so state and exchange are bounded by the output
    // vocabulary itself. collect_set(source) was already this shape.
    val su = base.select(col("lang"), explode(col("w3")).as("word"))
      .groupBy(col("lang"))
      .agg(expr("array_join(array_sort(collect_set(word)), ',')").as("set_union"))
    base
      .groupBy(col("lang"))
      .agg(
        expr("array_join(array_sort(collect_set(source)), ',')").as("set_sources"),
        min(col("doc_id")).as("any_doc"),
        expr("bit_xor(doc_id)").as("xor_doc"))
      .join(su, "lang")
      .select(col("lang"), col("set_sources"), col("set_union"),
        col("any_doc"), col("xor_doc"))
      .orderBy("lang")
  }

  // classification_precision/_recall/_fall_out/_miss_rate/_thresholds
  // (aggregate.rst) over a deterministic predictor: x blends the
  // outcome-correlated signal (value/100) with an event-id hash, y =
  // value > 50. Ten buckets; arrays are fixed-length with NULL where a
  // denominator is empty (pinned semantics — see operators/MlEval).
  //
  // The driver's pandas compare can't sort/hash array cells, so the
  // registered query scalarizes each array to a canonical comma-joined
  // string of integer micro-units (round(v·10^6) as bigint, 'null' for
  // NULL entries) — same double-rounded formula on both engines, so no
  // float-to-string repr divergence. The array-typed operator API stays
  // as-is (MlEvalSpec covers it).
  private val q135Metrics =
    Seq("thresholds", "precision_a", "recall_a", "fall_out_a", "miss_rate_a")
  private def q135DuckS6(metric: String): String =
    s"string_agg(coalesce(CAST(CAST(round($metric * 1000000) AS BIGINT) AS VARCHAR), 'null'), ',' ORDER BY bk)"
  val q135 = Q(
    "q135_classification_eval",
    s"""WITH e AS (SELECT event_type,
      |  CASE WHEN value > 50 THEN 1.0 ELSE 0.0 END AS pos,
      |  CAST(least(floor((least(value / 100.0, 1.0) * 0.7
      |    + (event_id % 100) / 100.0 * 0.3) * 10), 9) AS INTEGER) AS bk
      | FROM events),
      |g AS (SELECT event_type, bk, sum(pos) AS pw, CAST(count(*) AS DOUBLE) AS tw
      |      FROM e GROUP BY 1, 2),
      |spine AS (SELECT event_type, r.range AS bk
      |          FROM (SELECT DISTINCT event_type FROM events) d, range(0, 10) r),
      |filled AS (SELECT s.event_type, CAST(s.bk AS INTEGER) AS bk,
      |             coalesce(pw, 0) AS pw, coalesce(tw, 0) AS tw
      |           FROM spine s LEFT JOIN g ON s.event_type = g.event_type AND s.bk = g.bk),
      |c AS (SELECT event_type, bk, pw, tw,
      |        sum(pw) OVER (PARTITION BY event_type ORDER BY bk DESC) AS cpos,
      |        sum(tw) OVER (PARTITION BY event_type ORDER BY bk DESC) AS ctot,
      |        sum(pw) OVER (PARTITION BY event_type) AS tpos,
      |        sum(tw - pw) OVER (PARTITION BY event_type) AS tneg
      |      FROM filled),
      |m AS (SELECT event_type, bk,
      |        round(bk / 10.0, 6) AS thresholds,
      |        CASE WHEN ctot > 0 THEN round(cpos / ctot, 6) END AS precision_a,
      |        CASE WHEN tpos > 0 THEN round(cpos / tpos, 6) END AS recall_a,
      |        CASE WHEN tneg > 0 THEN round((ctot - cpos) / tneg, 6) END AS fall_out_a,
      |        CASE WHEN tpos > 0 THEN round((tpos - cpos) / tpos, 6) END AS miss_rate_a
      |      FROM c)
      |SELECT event_type,
      | ${q135Metrics.map(m => q135DuckS6(m) + " AS " + m).mkString(",\n ")}
      |FROM m GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    import graft.operators.MlEval
    def s6(c: String) = expr(
      s"array_join(transform($c, v -> coalesce(cast(cast(round(v * 1000000) as bigint) as string), 'null')), ',')"
    ).as(c)
    MlEval.classificationEval(Tables.events(s, d), "event_type",
        col("value") > 50,
        least(col("value") / 100.0, lit(1.0)) * 0.7
          + (col("event_id") % 100) / 100.0 * 0.3,
        buckets = 10)
      .select(col("event_type") +: q135Metrics.map(s6): _*)
      .orderBy("event_type")
  }

  // ---- q144: reduce_agg — user-defined declarative fold -------------------
  // (aggregate.rst:114, ReduceAggregationFunction.java:1; implemented as
  // graft.plans.Reduce — a DeclarativeAggregate with map-side partial
  // aggregation, see ReduceAggSpec.)
  //
  // Two folds Spark has no builtin for:
  //  - modular product (s·v mod p): exact int64 arithmetic, commutative, so
  //    order/partitioning-invariant; DuckDB replays it as an ordered
  //    list_reduce (same result by commutativity);
  //  - dynamic bitmask fold (s | 1<<(v%61)): per-value bit positions,
  //    replayed in DuckDB via bit_or of the shifted values.
  val q144 = Q(
    "q144_reduce_agg",
    """WITH b AS (SELECT c_nationkey, c_custkey,
      |  (CAST(round(c_acctbal * 100) AS BIGINT) % 1000003 + 1000003) % 1000003 + 2 AS v
      | FROM customer)
      |SELECT c_nationkey,
      | CAST(list_reduce(list_prepend(CAST(1 AS BIGINT), list(v ORDER BY c_custkey)),
      |   (a, b) -> (a * b) % 2147483647) AS BIGINT) AS modprod,
      | CAST(bit_or(CAST(1 AS BIGINT) << CAST(v % 61 AS INTEGER)) AS BIGINT) AS mask,
      | CAST(count(*) AS BIGINT) AS n
      |FROM b
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin) { (s, d) =>
    import graft.plans.Reduce
    val M = 2147483647L
    Tables.customer(s, d)
      .select(col("c_nationkey"),
        ((expr("cast(round(c_acctbal * 100) as bigint)") % 1000003L + 1000003L) % 1000003L + 2L).as("v"))
      .groupBy("c_nationkey")
      .agg(
        Reduce.reduceAgg(col("v"), lit(1L))(
          (st, t) => (st * t) % M, (a, b) => (a * b) % M).as("modprod"),
        Reduce.reduceAgg(col("v"), lit(0L))(
          (st, t) => st.bitwiseOR(call_function("shiftleft", lit(1L), (t % 61).cast("int"))),
          (a, b) => a.bitwiseOR(b)).as("mask"),
        count(lit(1)).as("n"))
      .orderBy("c_nationkey")
  }

  // ---- q148: seeded noisy aggregates -------------------------------------
  // noisy_count_gaussian / noisy_count_if_gaussian / noisy_sum_gaussian /
  // noisy_avg_gaussian with random_seed (aggregate.rst:386,:413,:440,:498 —
  // the seeded form IS deterministic by contract; the unseeded form is
  // excluded as unoracleable, SURVEY §2.2 exclusions).
  //
  // noisy_avg keeps the all-integer discipline: the exact average is
  // carried as micro-dollars via integer division (cents·10⁴ div n — both
  // engines truncate toward zero), noise is added in integer micros, and
  // the double rendering divides by 10⁶ only at the very end (one
  // correctly-rounded IEEE op, identical cross-engine).
  //
  // Noise: Irwin–Hall(12) — sum of 12 uniform draws — the classic exact-
  // arithmetic Gaussian approximation. Each draw is 40 bits of
  // md5(seed|group|i), so the centered sum is an exact int64 in
  // [−6·2^40, 6·2^40) with sd 2^40; noise = (scale·centered) div 2^40.
  // Integer arithmetic end-to-end — no transcendental whose low bits
  // could flip a rounded value between engines.
  private[graft] def q148NoiseSpark(groupExpr: String, seed: Int, scale: Long, salt: String): String =
    s"(($scale * (aggregate(sequence(1, 12), cast(0 as bigint), (a, i) -> a + " +
      s"cast(conv(substring(md5(concat('$salt|', cast($seed as string), '|', $groupExpr, '|', cast(i as string))), 1, 10), 16, 10) as bigint)) " +
      s"- 6597069766656)) div 1099511627776)"

  private def q148NoiseDuck(groupExpr: String, seed: Int, scale: Long, salt: String): String =
    s"(($scale * (list_reduce(list_prepend(CAST(0 AS BIGINT), range(1, 13)), (a, i) -> a + " +
      s"CAST(('0x' || substr(md5('$salt|' || CAST($seed AS VARCHAR) || '|' || $groupExpr || '|' || CAST(i AS VARCHAR)), 1, 10)) AS BIGINT)) " +
      s"- 6597069766656)) // 1099511627776)"

  val q148 = Q(
    "q148_noisy_aggs",
    s"""WITH g AS (SELECT event_type,
       |  count(*) AS exact_n,
       |  count(*) FILTER (value > 50) AS exact_hi,
       |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS exact_cents
       | FROM events GROUP BY 1)
       |SELECT event_type, exact_n,
       | exact_n + ${q148NoiseDuck("event_type", 42, 10L, "nc")} AS noisy_n,
       | exact_hi + ${q148NoiseDuck("event_type", 42, 10L, "ncif")} AS noisy_hi,
       | exact_cents + ${q148NoiseDuck("event_type", 42, 5000L, "ns")} AS noisy_cents,
       | (exact_cents * 10000 // exact_n) + ${q148NoiseDuck("event_type", 42, 2000000L, "na")} AS noisy_avg_micro,
       | CAST((exact_cents * 10000 // exact_n) + ${q148NoiseDuck("event_type", 42, 2000000L, "na")} AS DOUBLE) / 1000000.0 AS noisy_avg
       |FROM g
       |ORDER BY event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("exact_n"),
        count_if(col("value") > 50).as("exact_hi"),
        sum(expr("cast(round(value * 100) as bigint)")).as("exact_cents"))
      .withColumn("noisy_avg_micro",
        expr("exact_cents * 10000 div exact_n") +
          expr(q148NoiseSpark("event_type", 42, 2000000L, "na")))
      .select(col("event_type"), col("exact_n"),
        (col("exact_n") + expr(q148NoiseSpark("event_type", 42, 10L, "nc"))).as("noisy_n"),
        (col("exact_hi") + expr(q148NoiseSpark("event_type", 42, 10L, "ncif"))).as("noisy_hi"),
        (col("exact_cents") + expr(q148NoiseSpark("event_type", 42, 5000L, "ns"))).as("noisy_cents"),
        col("noisy_avg_micro"),
        (col("noisy_avg_micro").cast("double") / 1000000.0).as("noisy_avg"))
      .orderBy("event_type")
  }

  // ---- q158: trimmed mean (tdigest.rst trimmed_mean) ---------------------
  // The reference's trimmed_mean(tdigest, lo, hi) returns the mean of the
  // values between the lo/hi quantiles (reference
  // presto-main/.../aggregation/TDigestAggregationFunction.java:1). The
  // deterministic analog pins the trim to integer ranks — drop the
  // lowest and highest ⌊n/10⌋ rows by value order (row_number ties land
  // on equal values, interchangeable under avg) — and computes it from
  // the per-group VALUE HISTOGRAM, not a per-row rank: the kept count of
  // value v is the overlap of its cumulative-rank interval with
  // (⌊n/10⌋, n−⌊n/10⌋]. The full table flows through one map-side-
  // combinable (grp, value) count — the rank window runs over the
  // distinct-value table (≤50 rows/group for quantities), so nothing
  // funnels 100 TB through 3 reducers the way a naive per-row
  // row_number() would. Decimal sums exact; one double division at the
  // end, rounded to 6 dp.
  val q158 = Q(
    "q158_trimmed_mean",
    """WITH h AS (SELECT l_returnflag AS grp, CAST(l_quantity AS DECIMAL(18,2)) AS q,
      |  count(*) AS c
      | FROM lineitem GROUP BY 1, 2),
      |r AS (SELECT grp, q, c,
      |  sum(c) OVER (PARTITION BY grp ORDER BY q) AS cum,
      |  sum(c) OVER (PARTITION BY grp) AS n
      | FROM h),
      |k AS (SELECT grp, q,
      |  greatest(least(cum, n - n // 10) - greatest(cum - c, n // 10), 0) AS kept
      | FROM r)
      |SELECT grp,
      | CAST(sum(kept) AS BIGINT) AS n_kept,
      | round(CAST(sum(q * kept) AS DOUBLE) / sum(kept), 6) AS trimmed_mean,
      | round(CAST(min(CASE WHEN kept > 0 THEN q END) AS DOUBLE), 2) AS lo_kept,
      | round(CAST(max(CASE WHEN kept > 0 THEN q END) AS DOUBLE), 2) AS hi_kept
      |FROM k GROUP BY grp
      |ORDER BY grp""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val wc = Window.partitionBy("grp").orderBy("q")
    val wn = Window.partitionBy("grp")
    Tables.lineitem(s, d)
      .select(col("l_returnflag").as("grp"), col("l_quantity").cast("decimal(18,2)").as("q"))
      .groupBy("grp", "q").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wc))
      .withColumn("n", sum(col("c")).over(wn))
      .withColumn("kept",
        expr("greatest(least(cum, n - (n div 10)) - greatest(cum - c, n div 10), 0)"))
      .groupBy("grp")
      .agg(sum(col("kept")).cast("bigint").as("n_kept"),
        round(sum(col("q") * col("kept")).cast("double") / sum(col("kept")), 6).as("trimmed_mean"),
        round(min(when(col("kept") > 0, col("q"))).cast("double"), 2).as("lo_kept"),
        round(max(when(col("kept") > 0, col("q"))).cast("double"), 2).as("hi_kept"))
      .orderBy("grp")
  }

  // ---- q160: setdigest part 2 (setdigest.rst) ----------------------------
  // intersection_cardinality + hash_counts (reference
  // presto-main/.../type/setdigest/SetDigestFunctions.java:1) on the q99
  // KMV machinery. intersection_cardinality is the MinHash estimate
  // round(jaccard × |A∪B|_est) — every term integer/IEEE-portable, so
  // the oracle replays it. hash_counts is the reference's stored
  // hash→multiplicity map over the bottom-k DISTINCT hashes; one
  // grouped count + one rank window builds it in a single pass (the
  // sketch-state variant would carry the count beside each hash — same
  // bound, k entries). Canonicalized as the first 8 "hash:count" pairs
  // by hash order (the map-output discipline of q42/q51).
  private val sdK = 64

  val q160 = {
    import graft.functions.Sketches
    Q(
      "q160_setdigest2",
      s"""WITH h AS (SELECT o_orderpriority AS grp,
         |  CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         | FROM orders),
         |gc AS (SELECT grp, h, count(*) AS c FROM h GROUP BY grp, h),
         |r AS (SELECT grp, h, c, row_number() OVER (PARTITION BY grp ORDER BY h) AS rk FROM gc),
         |sk AS (SELECT grp, list(h ORDER BY h) AS sk FROM r WHERE rk <= $sdK GROUP BY grp),
         |u AS (SELECT sk AS usk FROM sk WHERE grp = '1-URGENT'),
         |m AS (SELECT grp, sk, usk,
         |        list_sort(list_distinct(list_concat(sk, usk)))[1:$sdK] AS msk
         |      FROM sk CROSS JOIN u),
         |hc AS (SELECT grp, string_agg(CAST(h AS VARCHAR) || ':' || CAST(c AS VARCHAR), ',' ORDER BY h) AS hcs
         |       FROM r WHERE rk <= 8 GROUP BY grp)
         |SELECT m.grp,
         | CAST(round(${Sketches.kmvJaccardDuckSql("m.sk", "m.usk", sdK)} *
         |   ${Sketches.kmvEstimateDuckSql("m.msk", sdK)}) AS BIGINT) AS inter_card,
         | hc.hcs AS hash_counts8
         |FROM m JOIN hc ON m.grp = hc.grp
         |ORDER BY m.grp""".stripMargin) { (s, d) =>
      import graft.plans.NativeFunctions
      val hashed = Tables.orders(s, d)
        .select(col("o_orderpriority").as("grp"), Sketches.hllHash("o_custkey").as("h"))
      // one pass: distinct hashes WITH multiplicities, then the bottom-k
      // rank window — the sketch contents and the counts from the same scan
      val gc = hashed.groupBy("grp", "h").agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("grp").orderBy("h")
      // ≤ k rows per group after the rank filter; persisted so the three
      // consumers (sketch, urgent side, hash_counts8) share ONE orders
      // scan instead of re-deriving the window per branch (r9: 3 scans)
      val ranked = gc.withColumn("rk", row_number().over(w)).where(col("rk") <= sdK)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ranked.count()
      val sk = ranked.groupBy("grp").agg(sort_array(collect_list(col("h"))).as("sk"))
      val usk = sk.where(col("grp") === "1-URGENT").select(col("sk").as("usk"))
      val merged = sk.crossJoin(broadcast(usk))
        .withColumn("msk", expr(s"slice(array_sort(array_union(sk, usk)), 1, $sdK)"))
      // struct sort keeps the (h, c) pairs in NUMERIC hash order — a sort
      // on pre-concatenated strings would order "10:…" before "9:…"
      val hc = ranked.where(col("rk") <= 8).groupBy("grp")
        .agg(collect_list(struct(col("h"), col("c"))).as("hcarr"))
        .select(col("grp"), expr(
          "array_join(transform(array_sort(hcarr), " +
            "e -> concat(cast(e.h as string), ':', cast(e.c as string))), ',')")
          .as("hash_counts8"))
      merged.join(hc, "grp")
        .select(col("grp"),
          round(Sketches.kmvJaccard("sk", "usk", sdK) *
            Sketches.kmvEstimate("msk", sdK)).cast("bigint").as("inter_card"),
          col("hash_counts8"))
        .orderBy("grp")
    }
  }

  val all: Seq[Q] = Seq(q45, q46, q47, q48, q49, q50, q51, q52, q57, q85, q92, q94, q95, q99, q102, q109, q110, q113, q114, q117, q134, q135, q144, q148, q158, q160)
}
