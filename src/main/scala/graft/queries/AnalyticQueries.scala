package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Round-2 widening of the relational surface (SURVEY §2.3 continued):
  * pivot/unpivot, statistical and percentile aggregates, string distance,
  * extra window analytics, map functions, IN/NOT-IN subqueries, multiset
  * set-ops, a stream-stream interval join (batch form), radius similarity
  * search, and corpus n-gram frequency.
  *
  * Same contract as everywhere else: identical column aliases on both
  * sides, a total ORDER BY, exact DECIMAL paths for float aggregation,
  * round(x, 6) on any double derived from commutative-but-not-associative
  * float math.
  */
object AnalyticQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  val defs: Seq[QueryDef] = Seq(

    // ── Q32 pivot (wide conditional aggregation) ─────────────────────
    QueryDef(
      "q32_pivot",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_linestatus"))
          // explicit pivot values: no extra distinct-collect job, and the
          // plan is a single partial-agg + one shuffle, same as a plain
          // groupBy — the shape that survives any scale.
          .pivot("l_returnflag", Seq("A", "N", "R"))
          .agg(sum(dec2(col("l_quantity"))).cast(DoubleType))
          .orderBy(col("l_linestatus")),
      Some("""SELECT l_linestatus,
          CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "A",
          CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "N",
          CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "R"
        FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus"""),
      doc = "pivot with explicit values = one shuffle; no distinct-values pre-job."),

    // ── Q33 unpivot / melt ───────────────────────────────────────────
    QueryDef(
      "q33_unpivot",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            sum(dec2(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
            sum(dec2(col("l_extendedprice"))).cast(DoubleType).as("sum_price"))
          .unpivot(
            Array(col("l_returnflag")),
            Array(col("sum_qty"), col("sum_price")),
            "metric", "value")
          .orderBy(col("l_returnflag"), col("metric")),
      Some("""WITH agg AS (
          SELECT l_returnflag,
            CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
            CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM agg
        UNION ALL
        SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM agg
        ORDER BY l_returnflag, metric"""),
      doc = "unpivot is a narrow per-row expand (Expand node) — no shuffle."),

    // ── Q34 statistical aggregates ───────────────────────────────────
    // Small-magnitude inputs (quantity ~[1,50], discount ~[0,0.1]) keep
    // round(·,6) far above float merge-order noise.
    QueryDef(
      "q34_stats_agg",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
            round(var_samp(col("l_quantity")), 6).as("var_qty"),
            round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
            round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_qty_disc"),
            count(lit(1)).as("n"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
          round(stddev_samp(l_quantity), 6) AS sd_qty,
          round(var_samp(l_quantity), 6) AS var_qty,
          round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
          round(covar_samp(l_quantity, l_discount), 6) AS cov_qty_disc,
          count(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ── Q35 exact percentiles (interpolated) + median ────────────────
    QueryDef(
      "q35_percentiles",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            round(expr("percentile(l_quantity, 0.25)"), 6).as("p25"),
            round(expr("median(l_quantity)"), 6).as("p50"),
            round(expr("percentile(l_quantity, 0.75)"), 6).as("p75"),
            round(expr("percentile(l_quantity, 0.99)"), 6).as("p99"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
          round(quantile_cont(l_quantity, 0.25), 6) AS p25,
          round(median(l_quantity), 6) AS p50,
          round(quantile_cont(l_quantity, 0.75), 6) AS p75,
          round(quantile_cont(l_quantity, 0.99), 6) AS p99
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      doc = "Exact linear-interpolation percentiles; the sketch path is q15 (HLL) / percentile_approx."),

    // ── Q35b approx percentile (sketch path) accuracy invariant ──────
    // Like q15b: the raw sketch values differ per engine (Spark =
    // rank-accuracy histogram, DuckDB = t-digest), so the oracle checks
    // the shared invariant — approx within ±1.0 of the exact interpolated
    // quantile on the [1,50] quantity domain.
    QueryDef(
      "q35b_approx_percentile",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            round(expr("percentile(l_quantity, 0.5)"), 6).as("exact_p50"),
            expr("approx_percentile(l_quantity, 0.5, 1000)").as("approx"))
          .select(col("l_returnflag"), col("exact_p50"),
            (abs(col("approx") - col("exact_p50")) <= 1.0).as("approx_ok"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
          round(quantile_cont(l_quantity, 0.5), 6) AS exact_p50,
          abs(approx_quantile(l_quantity, 0.5) - quantile_cont(l_quantity, 0.5)) <= 1.0 AS approx_ok
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ── Q36 string distance (edit-distance pairs) ────────────────────
    QueryDef(
      "q36_string_distance",
      (s, dir) => {
        // Deterministic ~1% sample via key modulus (pushed to the scan),
        // then all-pairs edit distance. At scale the sample IS the
        // operator's contract (fuzzy-match candidate scoring after a
        // blocking join); all-pairs over the full corpus never ships.
        val p = t(s, dir, "part")
          .filter(col("p_partkey") % 97 === 0)
          .select(col("p_partkey"), col("p_name"))
        p.as("a")
          .join(p.as("b"), col("a.p_partkey") < col("b.p_partkey"))
          .select(
            col("a.p_partkey").as("pa"), col("b.p_partkey").as("pb"),
            levenshtein(col("a.p_name"), col("b.p_name")).as("lev"))
          .filter(col("lev") <= 15)
          .orderBy(col("pa"), col("pb"))
      },
      Some("""SELECT a.p_partkey AS pa, b.p_partkey AS pb,
          levenshtein(a.p_name, b.p_name) AS lev
        FROM part a JOIN part b ON a.p_partkey < b.p_partkey
        WHERE a.p_partkey % 97 = 0 AND b.p_partkey % 97 = 0
          AND levenshtein(a.p_name, b.p_name) <= 15
        ORDER BY pa, pb""")),

    // ── Q37 window analytics round 2: percent_rank/cume_dist/nth ─────
    QueryDef(
      "q37_window_extra",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
        val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, dir, "orders")
          .select(
            col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            round(percent_rank().over(w), 6).as("pct_rank"),
            round(cume_dist().over(w), 6).as("cume"),
            nth_value(col("o_orderkey"), 2).over(wFull).as("second_cheapest"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
          round(percent_rank() OVER w, 6) AS pct_rank,
          round(cume_dist() OVER w, 6) AS cume,
          nth_value(o_orderkey, 2) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_cheapest
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC)
        ORDER BY o_custkey, o_orderkey""")),

    // ── Q38 map functions (map build + lookup) ───────────────────────
    QueryDef(
      "q38_map_funcs",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .groupBy(col("user_id"))
          // sort_array makes the collect_list order (and thus the map)
          // deterministic under any partitioning.
          .agg(map_from_entries(sort_array(collect_list(struct(col("event_type"), col("n")))))
            .as("m"))
          .select(
            col("user_id"),
            size(col("m")).cast(LongType).as("n_types"),
            element_at(col("m"), "click").as("n_click"),
            element_at(col("m"), "purchase").as("n_purchase"),
            element_at(col("m"), "error").as("n_error"))
          .orderBy(col("user_id")),
      Some("""SELECT user_id,
          count(DISTINCT event_type) AS n_types,
          CAST(sum(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_click,
          CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchase,
          CAST(sum(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS n_error
        FROM events GROUP BY user_id ORDER BY user_id"""),
      doc = "map_from_entries/element_at; absent key → NULL ≙ SUM(CASE) over empty set."),

    // ── Q39 IN / NOT-IN subqueries (null-aware anti join) ────────────
    QueryDef(
      "q39_in_subquery",
      (s, dir) => {
        Tables.registerAll(s, dir)
        s.sql("""SELECT p_partkey, p_name FROM part
          WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 48)
            AND p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity <= 2)
          ORDER BY p_partkey""")
      },
      Some("""SELECT p_partkey, p_name FROM part
        WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 48)
          AND p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity <= 2)
        ORDER BY p_partkey"""),
      doc = "IN → left-semi; NOT IN → null-aware left-anti (Catalyst decorrelation)."),

    // ── Q40 multiset set-ops: INTERSECT ALL / EXCEPT ALL ─────────────
    QueryDef(
      "q40_setops_all",
      (s, dir) => {
        val ck = t(s, dir, "customer").select(col("c_nationkey").as("k"))
        val sk = t(s, dir, "supplier").select(col("s_nationkey").as("k"))
        val inter = ck.intersectAll(sk).select(lit("intersect_all").as("op"), col("k"))
        val diff = ck.exceptAll(sk).select(lit("except_all").as("op"), col("k"))
        inter.unionByName(diff).orderBy(col("op"), col("k"))
      },
      Some("""SELECT 'intersect_all' AS op, k FROM
          (SELECT c_nationkey AS k FROM customer INTERSECT ALL SELECT s_nationkey FROM supplier)
        UNION ALL
        SELECT 'except_all' AS op, k FROM
          (SELECT c_nationkey AS k FROM customer EXCEPT ALL SELECT s_nationkey FROM supplier)
        ORDER BY op, k""")),

    // ── Q41 RANGE window frame (value-based running aggregation) ─────
    QueryDef(
      "q41_range_frame",
      (s, dir) => {
        // RANGE frame: all orders within ±5000 of this order's price in
        // the same status — value-based, not row-count-based.
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_totalprice"))
          .rangeBetween(-5000L, 5000L)
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
            count(lit(1)).over(w).as("n_near"),
            sum(dec2(col("o_totalprice"))).over(w).cast(DoubleType).as("near_sum"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice,
          count(*) OVER w AS n_near,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS near_sum
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice
                     RANGE BETWEEN 5000 PRECEDING AND 5000 FOLLOWING)
        ORDER BY o_orderkey""")),

    // ── Q42 array aggregation (deterministically ordered) ────────────
    QueryDef(
      "q42_array_agg",
      (s, dir) =>
        t(s, dir, "supplier")
          .groupBy(col("s_nationkey"))
          .agg(
            array_join(sort_array(collect_list(col("s_suppkey"))), ",").as("supp_keys"),
            array_join(sort_array(collect_set(col("s_name"))), ",").as("supp_names"))
          .orderBy(col("s_nationkey")),
      Some("""SELECT s_nationkey,
          array_to_string(list_sort(list(s_suppkey)), ',') AS supp_keys,
          array_to_string(list_sort(list(DISTINCT s_name)), ',') AS supp_names
        FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey"""),
      doc = "collect_list/collect_set with sort_array; emitted as joined strings " +
        "because the driver's pandas compare cannot hash array cells."),

    // ── Q43 string aggregation ───────────────────────────────────────
    QueryDef(
      "q43_string_agg",
      (s, dir) =>
        t(s, dir, "nation")
          .groupBy(col("n_regionkey"))
          .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"),
            count(lit(1)).as("n"))
          .orderBy(col("n_regionkey")),
      Some("""SELECT n_regionkey,
          string_agg(n_name, ',' ORDER BY n_name) AS nations, count(*) AS n
        FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")),

    // ── interval join: purchase ← clicks within preceding 30 min ─────
    // Batch form of a stream-stream interval join (watermarked join in
    // Structured Streaming). Physical shape: one shuffle on user_id, then
    // the range predicate filters inside each key group — never a BNLJ.
    QueryDef(
      "ev_interval_join",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("purchase_ts"))
        val c = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
        p.join(c, Seq("user_id"))
          .filter(
            col("click_ts") <= col("purchase_ts") &&
            col("click_ts") > col("purchase_ts") - expr("INTERVAL 30 MINUTES"))
          .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
            col("click_id"), col("click_ts"))
          .orderBy(col("purchase_id"), col("click_id"))
      },
      // epoch_us comparisons: Spark reads the ns fixture truncated to µs,
      // so the oracle must apply the range predicate at µs precision too.
      Some("""SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
          c.event_id AS click_id, c.ts AS click_ts
        FROM events p JOIN events c
          ON p.user_id = c.user_id
         AND p.event_type = 'purchase' AND c.event_type = 'click'
         AND epoch_us(c.ts) <= epoch_us(p.ts)
         AND epoch_us(c.ts) > epoch_us(p.ts) - 1800000000
        ORDER BY purchase_id, click_id""")),

    // ── interval join, LEFT OUTER: unattributed purchases kept ───────
    // The range predicate must live in the JOIN condition (a post-filter
    // would turn left-outer into inner); streaming form is
    // EventStreams.intervalJoinLeftOuter with the same expression tree.
    QueryDef(
      "ev_interval_join_outer",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
            col("ts").as("purchase_ts"))
        val c = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
            col("ts").as("click_ts"))
        p.join(c,
            col("p_user") === col("c_user") &&
            col("click_ts") <= col("purchase_ts") &&
            col("click_ts") > col("purchase_ts") - expr("INTERVAL 30 MINUTES"),
            "left_outer")
          .select(col("purchase_id"), col("p_user").as("user_id"),
            col("purchase_ts"), col("click_id"), col("click_ts"))
          .orderBy(col("purchase_id").asc, col("click_id").asc_nulls_last)
      },
      Some("""SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
          c.event_id AS click_id, c.ts AS click_ts
        FROM events p LEFT JOIN events c
          ON p.user_id = c.user_id AND c.event_type = 'click'
         AND epoch_us(c.ts) <= epoch_us(p.ts)
         AND epoch_us(c.ts) > epoch_us(p.ts) - 1800000000
        WHERE p.event_type = 'purchase'
        ORDER BY purchase_id, click_id NULLS LAST""")),

    // ── Q44 calendar functions round 2 ───────────────────────────────
    QueryDef(
      "q44_datetime_more",
      (s, dir) =>
        t(s, dir, "orders")
          .select(
            col("o_orderkey"),
            weekofyear(col("o_orderdate")).as("iso_week"),
            dayofweek(col("o_orderdate")).as("dow"),
            last_day(to_date(col("o_orderdate"))).as("month_end"),
            add_months(to_date(col("o_orderdate")), 2).as("plus2m"),
            quarter(col("o_orderdate")).as("qtr"),
            dayofyear(col("o_orderdate")).as("doy"))
          .orderBy(col("o_orderkey")),
      // DuckDB dayofweek is 0-based (Sunday=0); Spark's is 1-based.
      Some("""SELECT o_orderkey,
          weekofyear(o_orderdate) AS iso_week,
          dayofweek(o_orderdate) + 1 AS dow,
          last_day(CAST(o_orderdate AS DATE)) AS month_end,
          CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2m,
          quarter(o_orderdate) AS qtr,
          dayofyear(o_orderdate) AS doy
        FROM orders ORDER BY o_orderkey""")),

    // ── Q45 bitwise functions ────────────────────────────────────────
    QueryDef(
      "q45_bitwise",
      (s, dir) =>
        t(s, dir, "lineitem")
          .select(
            col("l_orderkey"), col("l_linenumber"),
            (col("l_orderkey").bitwiseAND(255)).as("and255"),
            (col("l_orderkey").bitwiseOR(7)).as("or7"),
            (col("l_orderkey").bitwiseXOR(col("l_partkey"))).as("xor_pk"),
            shiftleft(col("l_linenumber"), 3).as("shl3"),
            shiftright(col("l_orderkey"), 2).as("shr2"),
            expr("bit_count(l_orderkey)").as("popcount"))
          .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber,
          l_orderkey & 255 AS and255,
          l_orderkey | 7 AS or7,
          xor(l_orderkey, l_partkey) AS xor_pk,
          CAST(l_linenumber << 3 AS INTEGER) AS shl3,
          l_orderkey >> 2 AS shr2,
          bit_count(l_orderkey) AS popcount
        FROM lineitem ORDER BY l_orderkey, l_linenumber""")),

    // ── Q46 struct expressions (build + field access) ────────────────
    QueryDef(
      "q46_struct_funcs",
      (s, dir) =>
        t(s, dir, "customer")
          .select(col("c_custkey"),
            struct(col("c_name").as("name"), col("c_acctbal").as("bal")).as("info"))
          .select(
            col("c_custkey"),
            col("info.name").as("name"),
            (col("info.bal") * 2).as("bal2"))
          .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey,
          (struct_pack(name := c_name, bal := c_acctbal)).name AS name,
          (struct_pack(name := c_name, bal := c_acctbal)).bal * 2 AS bal2
        FROM customer ORDER BY c_custkey""")),

    // ── Q47 binary / encoding functions ──────────────────────────────
    QueryDef(
      "q47_binary_funcs",
      (s, dir) =>
        t(s, dir, "part")
          .select(
            col("p_partkey"),
            base64(col("p_name").cast(BinaryType)).as("b64"),
            lower(hex(col("p_name").cast(BinaryType))).as("hexed"),
            md5(col("p_name")).as("md5sum"),
            octet_length(col("p_name")).as("n_bytes"))
          .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey,
          to_base64(CAST(p_name AS BLOB)) AS b64,
          lower(hex(CAST(p_name AS BLOB))) AS hexed,
          md5(p_name) AS md5sum,
          CAST(octet_length(CAST(p_name AS BLOB)) AS INTEGER) AS n_bytes
        FROM part ORDER BY p_partkey""")),

    // ── Q48 string functions round 2 ─────────────────────────────────
    QueryDef(
      "q48_string_funcs2",
      (s, dir) =>
        t(s, dir, "part")
          .select(
            col("p_partkey"),
            lpad(col("p_brand"), 12, "0").as("brand_pad"),
            rpad(col("p_type"), 30, ".").as("type_pad"),
            translate(col("p_name"), "aeiou", "AEIOU").as("caps_vowels"),
            reverse(col("p_name")).as("rev_name"),
            concat_ws("-", col("p_brand"), col("p_type")).as("joined"),
            instr(col("p_name"), "e").as("first_e"),
            repeat(lit("ab"), 3).as("ab3"))
          .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey,
          lpad(p_brand, 12, '0') AS brand_pad,
          rpad(p_type, 30, '.') AS type_pad,
          translate(p_name, 'aeiou', 'AEIOU') AS caps_vowels,
          reverse(p_name) AS rev_name,
          concat_ws('-', p_brand, p_type) AS joined,
          CAST(instr(p_name, 'e') AS INTEGER) AS first_e,
          repeat('ab', 3) AS ab3
        FROM part ORDER BY p_partkey""")),

    // ── Q49 array functions round 2 (slice/reverse/position/flatten) ─
    QueryDef(
      "q49_array_funcs2",
      (s, dir) =>
        t(s, dir, "embeddings")
          .select(
            col("vec_id"),
            element_at(slice(col("embedding"), 2, 3), 1).as("second_dim"),
            element_at(reverse(col("embedding")), 1).as("last_dim"),
            array_position(col("embedding"), element_at(col("embedding"), 5))
              .cast(LongType).as("pos_of_5th"),
            size(flatten(array(col("embedding"), slice(col("embedding"), 1, 2))))
              .as("flat_n"),
            array_contains(col("embedding"), element_at(col("embedding"), 7))
              .as("has_7th"))
          .orderBy(col("vec_id")),
      Some("""SELECT vec_id,
          list_slice(embedding, 2, 3)[1] AS second_dim,
          list_reverse(embedding)[1] AS last_dim,
          CAST(list_position(embedding, embedding[5]) AS BIGINT) AS pos_of_5th,
          len(flatten([embedding, list_slice(embedding, 1, 2)])) AS flat_n,
          list_contains(embedding, embedding[7]) AS has_7th
        FROM embeddings ORDER BY vec_id""")),

    // ── Q50 union by name with missing columns ───────────────────────
    QueryDef(
      "q50_union_byname",
      (s, dir) => {
        val c = t(s, dir, "customer")
          .select(lit("c").as("src"), col("c_custkey").as("k"),
            col("c_name").as("name"), col("c_acctbal").as("bal"))
        val sup = t(s, dir, "supplier")
          .select(lit("s").as("src"), col("s_suppkey").as("k"),
            col("s_name").as("name"))
        c.unionByName(sup, allowMissingColumns = true)
          .orderBy(col("src"), col("k"))
      },
      Some("""SELECT * FROM (
          SELECT 'c' AS src, c_custkey AS k, c_name AS name, c_acctbal AS bal FROM customer
          UNION ALL BY NAME
          SELECT 's' AS src, s_suppkey AS k, s_name AS name FROM supplier)
        ORDER BY src, k"""),
      doc = "Schema-evolution-tolerant union: absent columns null-fill on both engines."),

    // ── Q51 JSON generation (to_json over struct) ────────────────────
    QueryDef(
      "q51_to_json",
      (s, dir) =>
        t(s, dir, "customer")
          .select(col("c_custkey"),
            to_json(
              struct(col("c_custkey").as("id"), col("c_name").as("name"),
                col("c_mktsegment").as("seg"),
                nullif(col("c_mktsegment"), col("c_mktsegment")).as("always_null")),
              // keep nulls: DuckDB's to_json always serializes them
              java.util.Collections.singletonMap("ignoreNullFields", "false"))
              .as("doc"))
          .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey,
          to_json(struct_pack(id := c_custkey, name := c_name, seg := c_mktsegment,
            always_null := NULLIF(c_mktsegment, c_mktsegment))) AS doc
        FROM customer ORDER BY c_custkey""")),

    // ── Q52 argmin/argmax aggregates ─────────────────────────────────
    // Deterministic on this data: the per-status max/min o_totalprice is
    // unique at sf0.01 and sf0.1 (checked); with ties, max_by/arg_max
    // would need a composite tiebreak key in BOTH engines.
    QueryDef(
      "q52_argminmax",
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy(col("o_orderstatus"))
          .agg(
            expr("max_by(o_orderkey, o_totalprice)").as("best_order"),
            expr("min_by(o_orderkey, o_totalprice)").as("worst_order"),
            max(col("o_totalprice")).as("max_price"),
            min(col("o_totalprice")).as("min_price"))
          .orderBy(col("o_orderstatus")),
      Some("""SELECT o_orderstatus,
          arg_max(o_orderkey, o_totalprice) AS best_order,
          arg_min(o_orderkey, o_totalprice) AS worst_order,
          max(o_totalprice) AS max_price,
          min(o_totalprice) AS min_price
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ── Q53 conditional / boolean aggregates ─────────────────────────
    QueryDef(
      "q53_cond_agg",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            expr("count_if(l_quantity > 45)").as("n_big"),
            expr("bool_or(l_discount > 0.09)").as("any_deep_disc"),
            expr("bool_and(l_quantity >= 1)").as("all_nonzero"),
            count(lit(1)).as("n"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
          CAST(count_if(l_quantity > 45) AS BIGINT) AS n_big,
          bool_or(l_discount > 0.09) AS any_deep_disc,
          bool_and(l_quantity >= 1) AS all_nonzero,
          count(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ── Q54 linear-regression aggregates ─────────────────────────────
    QueryDef(
      "q54_regr",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope"),
            round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4).as("icept"),
            round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
            expr("regr_count(l_extendedprice, l_quantity)").as("n"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
          round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
          round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
          round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
          regr_count(l_extendedprice, l_quantity) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ── Q55 outer generator (explode_outer keeps empty/null input) ───
    QueryDef(
      "q55_explode_outer",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
            // empty array for every 10th doc: the outer explode must
            // keep those rows with a null token
            when(pmod(col("doc_id"), lit(10)) === 0, array().cast("array<string>"))
              .otherwise(slice(Corpus.tokens(col("text")), 1, 3)).as("toks"))
          .select(col("doc_id"), explode_outer(col("toks")).as("tok"))
          .orderBy(col("doc_id"), col("tok")),
      Some(s"""WITH prepped AS (
          SELECT doc_id,
            CASE WHEN doc_id % 10 = 0 THEN []
                 ELSE list_slice(${Corpus.tokensDuck("text")}, 1, 3) END AS toks
          FROM documents),
        outered AS (
          SELECT doc_id,
            unnest(CASE WHEN len(toks) = 0 THEN [NULL] ELSE toks END) AS tok
          FROM prepped)
        SELECT doc_id, tok FROM outered ORDER BY doc_id, tok"""),
      doc = "explode_outer ≙ unnest of [NULL]-padded lists: empty groups survive."),

    // ── Q56 higher-order array functions (exists/forall/zip/reduce) ──
    QueryDef(
      "q56_hof",
      (s, dir) =>
        t(s, dir, "embeddings")
          .select(
            col("vec_id"),
            exists(col("embedding"), x => x > lit(2.0f)).as("any_gt2"),
            forall(col("embedding"), x => abs(x) < lit(10.0f)).as("all_small"),
            element_at(zip_with(col("embedding"), reverse(col("embedding")),
              (a, b) => a + b), 1).as("palindrome_sum"),
            round(aggregate(col("embedding"), lit(0.0),
              (acc, x) => acc + x.cast(DoubleType)), 6).as("sum_dims"))
          .orderBy(col("vec_id")),
      Some("""SELECT vec_id,
          len(list_filter(embedding, x -> x > 2.0)) > 0 AS any_gt2,
          len(list_filter(embedding, x -> NOT (abs(x) < 10.0))) = 0 AS all_small,
          list_transform(list_zip(embedding, list_reverse(embedding)),
            s -> s[1] + s[2])[1] AS palindrome_sum,
          round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(embedding, x -> CAST(x AS DOUBLE))), (a, b) -> a + b), 6) AS sum_dims
        FROM embeddings ORDER BY vec_id"""),
      doc = "exists/forall/zip_with/aggregate ≙ list_filter/list_zip/list_reduce; left-fold order matches."),

    // ── Q59 range join, binned (the scale path for q09's BNLJ) ───────
    // Same answer as q09_join_range, different physical shape: the
    // interval [s_acctbal/10, s_acctbal/10+20) is exploded into
    // fixed-width bins, parts join on their single bin (equi shuffle),
    // and the exact range predicate filters inside the bin groups. BNLJ
    // is O(|part|·|supplier|); this is O(|part| + |supplier|·bins) with
    // one hash shuffle — the shape that survives when the build side
    // outgrows the broadcast threshold.
    QueryDef(
      "q59_range_join_binned",
      (s, dir) => {
        val binW = 20.0
        val sup = t(s, dir, "supplier")
          .select(col("s_suppkey"), (col("s_acctbal") / 10).as("lo"))
          .withColumn("hi", col("lo") + binW)
          // interval spans at most 2 fixed-width bins (width == binW)
          .withColumn("bin", explode(sequence(
            floor(col("lo") / binW).cast(LongType),
            floor(col("hi") / binW).cast(LongType))))
        val p = t(s, dir, "part")
          .select(col("p_partkey"), col("p_retailprice"),
            floor(col("p_retailprice") / binW).cast(LongType).as("bin"))
        p.join(sup, Seq("bin"))
          .filter(col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
          .groupBy(col("s_suppkey"))
          .agg(count(lit(1)).as("n_parts"))
          .orderBy(col("s_suppkey"))
      },
      Some("""SELECT s_suppkey, count(*) AS n_parts
        FROM part JOIN supplier
          ON p_retailprice >= s_acctbal / 10 AND p_retailprice < s_acctbal / 10 + 20.0
        GROUP BY s_suppkey ORDER BY s_suppkey"""),
      doc = "Binned equi-join form of the q09 range join; identical answer, shuffle instead of BNLJ."),

    // ── Q60 stratified sampling (per-stratum bounds invariant) ───────
    // sampleBy draws a different Bernoulli fraction per stratum; like
    // q31b, the rows are seed-specific, so the oracle checks the
    // invariant: each stratum's sampled share within ±30σ of its target.
    QueryDef(
      "q60_stratified_bounds",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val fractions = Map("A" -> 0.05, "N" -> 0.2, "R" -> 0.1)
        val sampled = li.stat.sampleBy("l_returnflag", fractions, seed = 42L)
          .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_sampled"))
        val totals = li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_total"))
        val target = typedLit(fractions)
        totals.join(sampled, Seq("l_returnflag"), "left")
          .select(col("l_returnflag"), col("n_total"),
            (abs(coalesce(col("n_sampled"), lit(0L)).cast(DoubleType) / col("n_total") -
              element_at(target, col("l_returnflag"))) <= 0.05).as("share_ok"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, count(*) AS n_total, true AS share_ok
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ── Q57 error-tolerant expressions (try_* semantics) ─────────────
    QueryDef(
      "q57_try_arith",
      (s, dir) =>
        t(s, dir, "part")
          .select(
            col("p_partkey"),
            expr("try_cast(p_name AS INT)").as("name_as_int"),
            expr("try_cast(cast(p_size AS STRING) AS INT)").as("size_rt"),
            expr("try_divide(p_retailprice, p_size - p_size)").as("div_by_zero"),
            expr("try_divide(p_retailprice, 2.0)").as("half_price"))
          .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey,
          TRY_CAST(p_name AS INTEGER) AS name_as_int,
          TRY_CAST(CAST(p_size AS VARCHAR) AS INTEGER) AS size_rt,
          p_retailprice / NULLIF(p_size - p_size, 0) AS div_by_zero,
          p_retailprice / 2.0 AS half_price
        FROM part ORDER BY p_partkey"""),
      doc = "try_cast/try_divide: NULL-on-error semantics instead of task failure."),

    // ── Q58 decimal(38,10) aggregation (the reference's DDL type) ────
    // The reference's 11 numeric(38,10) columns (SURVEY §1.2) make exact
    // wide-decimal aggregation a first-class requirement; sums here are
    // exact integers in 10^-10 units — no float rounding anywhere.
    QueryDef(
      "q58_decimal_agg",
      (s, dir) =>
        t(s, dir, "lineitem")
          .select(col("l_returnflag"),
            col("l_quantity").cast(DecimalType(38, 10)).as("qd"))
          .groupBy(col("l_returnflag"))
          .agg(
            // Aggregate exactly in DECIMAL(38,10); emit DOUBLE because the
            // driver's pandas compare sees Spark decimals as Decimal objects
            // but DuckDB decimals as float64 (quantities are integral, so the
            // double is exact).
            sum(col("qd")).cast(DoubleType).as("sum_d"),
            min(col("qd")).cast(DoubleType).as("min_d"),
            max(col("qd")).cast(DoubleType).as("max_d"),
            count(col("qd")).as("n"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
          CAST(sum(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS sum_d,
          CAST(min(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS min_d,
          CAST(max(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS max_d,
          count(l_quantity) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ── time-series resample + forward fill (gap-fill) ───────────────
    // Per-user hourly resampling of event values onto a dense hour grid
    // (min..max hour of that user), forward-filling empty hours from the
    // last observed hour. Scale shape: one shuffle to the hourly agg, the
    // grid explode is narrow per user, and the fill is a single ordered
    // window — no self-join, no driver-side loop.
    QueryDef(
      "ev_resample_ffill",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
          .filter(col("user_id") < 20)
        val hourly = ev
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
          .agg(sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("hour_sum"))
        val grid = ev
          .groupBy(col("user_id"))
          .agg(date_trunc("hour", min(col("ts"))).as("h0"),
            date_trunc("hour", max(col("ts"))).as("h1"))
          .select(col("user_id"),
            explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(hourly, Seq("user_id", "hour"), "left")
          .select(col("user_id"), col("hour"),
            col("hour_sum"),
            last(col("hour_sum"), ignoreNulls = true).over(w).as("filled_sum"))
          .orderBy(col("user_id"), col("hour"))
      },
      Some("""WITH hourly AS (
          SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
            CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS hour_sum
          FROM events WHERE user_id < 20 GROUP BY 1, 2),
        bounds AS (
          SELECT user_id,
            CAST(date_trunc('hour', min(ts)) AS TIMESTAMP) AS h0,
            CAST(date_trunc('hour', max(ts)) AS TIMESTAMP) AS h1
          FROM events WHERE user_id < 20 GROUP BY user_id),
        grid AS (
          SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
          FROM bounds)
        SELECT g.user_id, g.hour, h.hour_sum,
          last_value(h.hour_sum IGNORE NULLS) OVER (
            PARTITION BY g.user_id ORDER BY g.hour
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum
        FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
        ORDER BY g.user_id, g.hour""")),

    // ── radius similarity search (one-vs-all within cosine radius) ───
    QueryDef(
      "sim_radius_search",
      (s, dir) => {
        val v = Corpus.nvecs(s, dir)
        val q = v.filter(col("vec_id") === 0)
          .select(col("v").as("qv"), col("nrm").as("qnrm"))
        // broadcast the single query row; the corpus side streams — the
        // same shape serves a 100 TB corpus with a list of query vectors.
        v.filter(col("vec_id") > 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            round(VectorOps.dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6)
              .as("cosine"))
          .filter(col("cosine") >= 0.2)
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH v AS (
          SELECT vec_id, ${VectorOps.duckToDouble("embedding")} AS v FROM embeddings),
        n AS (
          SELECT vec_id, v, ${VectorOps.duckNorm("v")} AS nrm FROM v),
        q AS (SELECT v AS qv, nrm AS qnrm FROM n WHERE vec_id = 0)
        SELECT vec_id,
          round(${VectorOps.duckDot("n.v", "q.qv")} / (n.nrm * q.qnrm), 6) AS cosine
        FROM n, q
        WHERE vec_id > 0
          AND round(${VectorOps.duckDot("n.v", "q.qv")} / (n.nrm * q.qnrm), 6) >= 0.2
        ORDER BY vec_id""")),

    // ── q15b: approx-distinct accuracy invariant (oracle-checkable) ──
    // q15_approx_distinct's raw HLL++ values are impl-specific (rows-only
    // check); this variant checks the INVARIANT both engines' sketches
    // must satisfy — approx within 15% (3× the default rsd) of exact —
    // which is hash-comparable across engines.
    QueryDef(
      "q15b_approx_bounds",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            countDistinct(col("l_partkey")).as("n_exact"),
            approx_count_distinct(col("l_partkey")).as("approx"))
          .select(
            col("l_returnflag"), col("n_exact"),
            (abs(col("approx") - col("n_exact")).cast(DoubleType) / col("n_exact") <= 0.15)
              .as("approx_ok"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
          count(DISTINCT l_partkey) AS n_exact,
          abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
            / CAST(count(DISTINCT l_partkey) AS DOUBLE) <= 0.15 AS approx_ok
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ── q31b: sampling bounds invariant (oracle-checkable) ───────────
    // q31_sample's rows are seed/partitioning-specific; the checkable
    // contract is the Bernoulli bound: n/N within [0.07, 0.13] for
    // fraction 0.1 (±30σ at sf0.01 — deterministically true).
    QueryDef(
      "q31b_sample_bounds",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val n = li.sample(withReplacement = false, fraction = 0.1, seed = 42)
          .agg(count(lit(1)).as("n"))
        val tot = li.agg(count(lit(1)).as("total"))
        n.crossJoin(tot)
          .select(col("total"),
            (col("n").cast(DoubleType) / col("total")).between(0.07, 0.13)
              .as("in_bounds"))
      },
      Some("SELECT count(*) AS total, true AS in_bounds FROM lineitem")),

    // ── corpus bigram frequency (top-20) ─────────────────────────────
    QueryDef(
      "text_ngram_freq",
      (s, dir) =>
        Tables.load(s, dir, "documents")
          // tokenize ONCE into a materialized array column, with the
          // repartition as a CollapseProject barrier: inlining split()
          // into the per-element lambda would re-split the text for every
          // bigram — O(words²) per document (measured ×23 at a ×10
          // corpus before this form).
          .select(Corpus.tokens(col("text")).as("tk"))
          .transform(graft.operators.Layouts.spread)
          .select(explode(expr(
            "transform(sequence(0, size(tk) - 2), i -> concat(tk[i], ' ', tk[i+1]))"))
            .as("bigram"))
          .groupBy(col("bigram"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("bigram").asc)
          .limit(20),
      Some(s"""WITH toks AS (
          SELECT ${Corpus.tokensDuck("text")} AS tk FROM documents),
        bg AS (
          SELECT unnest(list_transform(range(len(tk) - 1),
            i -> tk[i+1] || ' ' || tk[i+2])) AS bigram
          FROM toks)
        SELECT bigram, count(*) AS n FROM bg
        GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20"""),
      doc = "explode → partial-agg count → TakeOrderedAndProject top-k.")
  )
}
