package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The generic relational operator surface (SURVEY.md §2: J*, A*, O*, P13-16,
  * S4/S5/S8) as oracle-checked queries over the fixture tables.
  *
  * Conventions shared with the DuckDB oracle SQL:
  *   - every double is `round`ed so engine-order float summation can't flip
  *     the hash compare;
  *   - every query is deterministically ordered by a unique key (and the
  *     SQL carries the same ORDER BY);
  *   - `events.ts` is nanosecond-precision parquet; Spark reads it at
  *     microsecond precision, so oracle SQL casts `ts` to DuckDB's
  *     microsecond TIMESTAMP before comparing/ordering;
  *   - DuckDB `sum` over integers yields HUGEINT — oracle SQL casts those
  *     back to BIGINT to keep schemas aligned.
  */
object RelationalQueries {

  // J1/J6/A2: TPC-H Q5-shaped multiway join — broadcastable dims
  // (region/nation) joined against fact tables; revenue per nation.
  val q02 = Q.checked(
    "q02_join_multiway",
    """SELECT n_name,
              round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
              count(*) AS n_lineitems
       FROM region
         JOIN nation ON n_regionkey = r_regionkey
         JOIN customer ON c_nationkey = n_nationkey
         JOIN orders ON o_custkey = c_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
       WHERE r_name = 'ASIA'
       GROUP BY n_name
       ORDER BY n_name""") { (s, d) =>
    Tables.region(s, d).filter(col("r_name") === "ASIA")
      .join(Tables.nation(s, d), col("n_regionkey") === col("r_regionkey"))
      .join(Tables.customer(s, d), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(s, d),
        col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
      .groupBy("n_name")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_lineitems"))
      .orderBy("n_name")
  }

  // J6 full outer: per-nation BUILDING-segment customer count vs
  // high-balance supplier count — filters guarantee null sides exist.
  val q03 = Q.checked(
    "q03_join_full_outer",
    """WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust
                  FROM customer WHERE c_mktsegment = 'BUILDING' GROUP BY 1),
            s AS (SELECT s_nationkey AS nk, count(*) AS n_supp
                  FROM supplier WHERE s_acctbal > 5000 GROUP BY 1)
       SELECT coalesce(c.nk, s.nk) AS nationkey,
              coalesce(n_cust, 0) AS n_cust,
              coalesce(n_supp, 0) AS n_supp
       FROM c FULL OUTER JOIN s ON c.nk = s.nk
       ORDER BY nationkey""") { (s, d) =>
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .groupBy(col("c_nationkey").as("cnk")).agg(count(lit(1)).as("n_cust"))
    val sp = Tables.supplier(s, d).filter(col("s_acctbal") > 5000)
      .groupBy(col("s_nationkey").as("snk")).agg(count(lit(1)).as("n_supp"))
    c.join(sp, col("cnk") === col("snk"), "full_outer")
      .select(
        coalesce(col("cnk"), col("snk")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy("nationkey")
  }

  // J6 anti: customers with no finished ('F') order.
  val q04 = Q.checked(
    "q04_join_anti",
    """SELECT c_custkey, c_name
       FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
       ORDER BY c_custkey""") { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  // J3/J6 semi: customers with at least one finished order.
  val q05 = Q.checked(
    "q05_join_semi",
    """SELECT c_custkey, c_mktsegment
       FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
       ORDER BY c_custkey""") { (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")
  }

  // J6 right outer: supplier counted into every nation, nations without
  // suppliers kept by the right side.
  val q06 = Q.checked(
    "q06_join_right",
    """SELECT n_nationkey, n_name, count(s_suppkey) AS n_supp
       FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
       GROUP BY n_nationkey, n_name
       ORDER BY n_nationkey""") { (s, d) =>
    Tables.supplier(s, d)
      .join(Tables.nation(s, d),
        col("s_nationkey") === col("n_nationkey"), "right_outer")
      .groupBy("n_nationkey", "n_name")
      .agg(count(col("s_suppkey")).as("n_supp"))
      .orderBy("n_nationkey")
  }

  // O4 window functions: row_number / rank / lag / lead / running frame sum
  // per user, ordered by (ts, event_id) so ties can't flip ranks.
  val q07 = Q.checked(
    "q07_window_funcs",
    """SELECT event_id, user_id,
              row_number() OVER w AS rn,
              rank() OVER (PARTITION BY user_id ORDER BY round(value, 2) DESC, event_id) AS value_rank,
              round(lag(value, 1) OVER w, 2) AS prev_value,
              round(lead(value, 1) OVER w, 2) AS next_value,
              round(sum(value) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS run_sum3
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
       ORDER BY event_id""") { (s, d) =>
    val e = Tables.events(s, d)
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wv = Window.partitionBy("user_id")
      .orderBy(round(col("value"), 2).desc, col("event_id"))
    val wf = w.rowsBetween(-2, Window.currentRow)
    e.select(
      col("event_id"), col("user_id"),
      row_number().over(w).cast("long").as("rn"),
      rank().over(wv).cast("long").as("value_rank"),
      round(lag("value", 1).over(w), 2).as("prev_value"),
      round(lead("value", 1).over(w), 2).as("next_value"),
      round(sum("value").over(wf), 2).as("run_sum3"))
      .orderBy("event_id")
  }

  // P14 date/time: monthly rollup of events with epoch extraction.
  val q08 = Q.checked(
    "q08_datetime_trunc",
    """SELECT strftime(date_trunc('month', CAST(ts AS TIMESTAMP)), '%Y-%m') AS month,
              event_type,
              count(*) AS n_events,
              round(sum(value), 2) AS sum_value,
              CAST(floor(min(epoch(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS first_epoch,
              CAST(max(year(CAST(ts AS TIMESTAMP))) AS INT) AS yr
       FROM events
       GROUP BY month, event_type
       ORDER BY month, event_type""") { (s, d) =>
    Tables.events(s, d)
      .groupBy(
        date_format(date_trunc("month", col("ts")), "yyyy-MM").as("month"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"),
        min(unix_timestamp(col("ts"))).as("first_epoch"),
        max(year(col("ts"))).as("yr"))
      .orderBy("month", "event_type")
  }

  // P16 JSON: parse events.props both via from_json (schema'd) and
  // get_json_object (path), aggregated per event type.
  val q09 = Q.checked(
    "q09_json_props",
    """SELECT event_type,
              count(*) AS n,
              CAST(sum(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
              CAST(max(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS max_k,
              CAST(sum(CASE WHEN CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) > 50
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_high
       FROM events
       GROUP BY event_type
       ORDER BY event_type""") { (s, d) =>
    val kSchema = StructType(Seq(StructField("k", LongType)))
    val e = Tables.events(s, d).select(
      col("event_type"),
      from_json(col("props"), kSchema).getField("k").as("k1"),
      get_json_object(col("props"), "$.k").cast("long").as("k2"))
    e.groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum("k1").as("sum_k"),
        max("k2").as("max_k"),
        sum(when(col("k1") > 50, 1L).otherwise(0L)).as("n_high"))
      .orderBy("event_type")
  }

  // O3/O4 set ops: (F ∩ O) \ P over per-status customer-key sets, then
  // union with big spenders.
  val q10 = Q.checked(
    "q10_setops",
    """WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
            o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
            p AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'P'),
            big AS (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 400000)
       SELECT o_custkey FROM (
         SELECT * FROM ((SELECT * FROM f INTERSECT SELECT * FROM o)
                        EXCEPT SELECT * FROM p)
         UNION SELECT * FROM big)
       ORDER BY o_custkey""") { (s, d) =>
    val orders = Tables.orders(s, d)
    def keys(status: String) = orders
      .filter(col("o_orderstatus") === status).select("o_custkey").distinct()
    val big = orders
      .filter(col("o_totalprice") > 400000).select("o_custkey").distinct()
    keys("F").intersect(keys("O")).except(keys("P"))
      .unionByName(big).distinct()
      .orderBy("o_custkey")
  }

  // A9 rollup with grouping id; null group keys coalesced so ordering
  // semantics (Spark nulls-first vs DuckDB nulls-last) can't diverge.
  val q11 = Q.checked(
    "q11_rollup",
    """SELECT CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
              coalesce(o_orderstatus, '(all)') AS status,
              coalesce(o_orderpriority, '(all)') AS priority,
              count(*) AS n,
              round(sum(o_totalprice), 2) AS total
       FROM orders
       GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
       ORDER BY gid, status, priority""") { (s, d) =>
    Tables.orders(s, d)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("total"))
      .select(
        col("gid"),
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("n"), col("total"))
      .orderBy("gid", "status", "priority")
  }

  // A9 cube over lineitem flags.
  val q12 = Q.checked(
    "q12_cube",
    """SELECT CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
              coalesce(l_returnflag, '(all)') AS rflag,
              coalesce(l_linestatus, '(all)') AS lstatus,
              count(*) AS n,
              round(sum(l_quantity), 2) AS sum_qty
       FROM lineitem
       GROUP BY CUBE(l_returnflag, l_linestatus)
       ORDER BY gid, rflag, lstatus""") { (s, d) =>
    Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).as("sum_qty"))
      .select(
        col("gid"),
        coalesce(col("l_returnflag"), lit("(all)")).as("rflag"),
        coalesce(col("l_linestatus"), lit("(all)")).as("lstatus"),
        col("n"), col("sum_qty"))
      .orderBy("gid", "rflag", "lstatus")
  }

  // A8 exact count-distinct per group.
  val q13 = Q.checked(
    "q13_count_distinct",
    """SELECT o_orderpriority,
              count(*) AS n_orders,
              count(DISTINCT o_custkey) AS n_customers,
              count(DISTINCT o_orderstatus) AS n_statuses
       FROM orders
       GROUP BY o_orderpriority
       ORDER BY o_orderpriority""") { (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        countDistinct(col("o_orderstatus")).as("n_statuses"))
      .orderBy("o_orderpriority")
  }

  // A8 approximate distinct (HLL) — implementation-defined sketch, so a
  // cross-engine RECOMPUTATION oracle would test a DuckDB
  // reimplementation of Spark's HLL++ internals, not the operator. The
  // estimate is deterministic for a fixed fixture (register-max merge is
  // commutative), so round 13 pins it via the committed frozen table
  // (tools/freeze_sketches.py, the q101 discipline): the oracle joins
  // the frozen estimate against the LIVE exact distinct count and
  // recomputes the 20% band boolean in DuckDB. The in-query raise_error
  // gate stays: it is SF-agnostic, so the operator is band-checked at
  // every scale Bench runs, not just the pinned fixture — a broken
  // sketch trips it (4·rsd ≈ 20%, a once-per-10⁵ tail for a correct
  // HLL), a drifted-but-plausible one trips the pin.
  val q14 = Q.checked("q14_approx_distinct",
    FrozenSketchSql.q14) { (s, d) =>
    val err = abs(col("approx_customers") - col("exact_customers"))
    val bound = lit(4 * 0.05) * col("exact_customers")
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        approx_count_distinct(col("o_custkey")).as("approx_customers"),
        countDistinct(col("o_custkey")).as("exact_customers"))
      .withColumn("within_bound",
        when(err <= bound, lit(true)).otherwise(raise_error(concat(
          lit("HLL estimate outside 4*rsd of exact for "),
          col("o_orderpriority"), lit(": "), col("approx_customers"),
          lit(" vs "), col("exact_customers"))).cast("boolean")))
      .orderBy("o_orderpriority")
  }

  // A10 stats aggregates + ordered distinct string agg.
  val q15 = Q.checked(
    "q15_stats_agg",
    """SELECT l_returnflag,
              count(*) AS n,
              round(avg(l_extendedprice), 4) AS avg_price,
              round(stddev_samp(l_extendedprice), 4) AS sd_price,
              min(l_quantity) AS min_qty,
              max(l_quantity) AS max_qty,
              string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses
       FROM lineitem
       GROUP BY l_returnflag
       ORDER BY l_returnflag""") { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(stddev_samp("l_extendedprice"), 4).as("sd_price"),
        min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty"),
        array_join(sort_array(collect_set("l_linestatus")), ",").as("statuses"))
      .orderBy("l_returnflag")
  }

  // P13 string functions over part.
  val q16 = Q.checked(
    "q16_string_fns",
    """SELECT p_partkey,
              upper(p_brand) AS brand_u,
              lower(p_type) AS type_l,
              substring(p_name, 1, 8) AS name_pfx,
              length(p_name) AS name_len,
              concat_ws('-', p_brand, CAST(p_size AS VARCHAR)) AS brand_size,
              regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowel,
              lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
              replace(p_name, ' ', '_') AS name_us
       FROM part
       ORDER BY p_partkey""") { (s, d) =>
    Tables.part(s, d).select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_u"),
      lower(col("p_type")).as("type_l"),
      substring(col("p_name"), 1, 8).as("name_pfx"),
      length(col("p_name")).cast("long").as("name_len"),
      concat_ws("-", col("p_brand"), col("p_size").cast("string"))
        .as("brand_size"),
      regexp_replace(col("p_name"), "[aeiou]", "").as("name_novowel"),
      lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
      regexp_replace(col("p_name"), " ", "_").as("name_us"))
      .orderBy("p_partkey")
  }

  // P15 math functions; filtered to bound output size.
  val q17 = Q.checked(
    "q17_math_fns",
    """SELECT l_orderkey, l_linenumber,
              round(ln(l_quantity + 1), 6) AS ln_qty,
              round(sqrt(l_extendedprice), 6) AS sqrt_price,
              round(pow(1.0 + l_discount, 2), 6) AS pow_disc,
              round(exp(l_discount), 6) AS exp_disc,
              abs(round(l_tax - 0.5, 2)) AS abs_tax,
              CAST(ceil(l_quantity) AS BIGINT) AS ceil_qty,
              CAST(floor(l_quantity) AS BIGINT) AS floor_qty,
              CAST(l_orderkey % 7 AS BIGINT) AS key_mod
       FROM lineitem
       WHERE l_orderkey < 1000
       ORDER BY l_orderkey, l_linenumber""") { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 1000)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round(log(col("l_quantity") + 1), 6).as("ln_qty"),
        round(sqrt(col("l_extendedprice")), 6).as("sqrt_price"),
        round(pow(lit(1.0) + col("l_discount"), 2), 6).as("pow_disc"),
        round(exp(col("l_discount")), 6).as("exp_disc"),
        abs(round(col("l_tax") - 0.5, 2)).as("abs_tax"),
        ceil(col("l_quantity")).as("ceil_qty"),
        floor(col("l_quantity")).as("floor_qty"),
        (col("l_orderkey") % 7).as("key_mod"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // G4 explode + word count over documents.
  val q18 = Q.checked(
    "q18_explode_wordcount",
    """SELECT word, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
       FROM (SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '[\s\x0B]+'))) AS word
             FROM documents)
       GROUP BY word
       HAVING count(*) >= 5
       ORDER BY word""") { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(split(trim(col("text")), "\\s+"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"))
      .filter(col("n_docs") >= 5)
      .orderBy("word")
  }

  // O4 top-k via global sort + limit (TakeOrderedAndProject).
  val q19 = Q.checked(
    "q19_topk_limit",
    """SELECT o_orderkey, o_custkey, o_totalprice
       FROM orders
       ORDER BY o_totalprice DESC, o_orderkey
       LIMIT 100""") { (s, d) =>
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
  }

  // J7 range join: events within 1 hour of an earlier event by the same
  // user; equi on user_id + range residual, AQE-skew-splittable.
  val q20 = Q.checked(
    "q20_range_join",
    """SELECT e1.user_id AS user_id,
              count(*) AS n_pairs,
              round(min(e2.value - e1.value), 2) AS min_delta,
              round(max(e2.value - e1.value), 2) AS max_delta
       FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_id FROM events) e1
         JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_id FROM events) e2
           ON e1.user_id = e2.user_id
          AND e2.ts > e1.ts
          AND e2.ts <= e1.ts + INTERVAL 1 HOUR
       GROUP BY e1.user_id
       ORDER BY user_id""") { (s, d) =>
    val e = Tables.events(s, d).select("user_id", "ts", "value", "event_id")
    val e1 = e.select(col("user_id").as("u1"), col("ts").as("ts1"),
      col("value").as("v1"), col("event_id").as("id1"))
    val e2 = e.select(col("user_id").as("u2"), col("ts").as("ts2"),
      col("value").as("v2"), col("event_id").as("id2"))
    e1.join(e2,
      col("u1") === col("u2") &&
        col("ts2") > col("ts1") &&
        col("ts2") <= col("ts1") + expr("INTERVAL 1 HOUR"))
      .groupBy(col("u1").as("user_id"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(min(col("v2") - col("v1")), 2).as("min_delta"),
        round(max(col("v2") - col("v1")), 2).as("max_delta"))
      .orderBy("user_id")
  }

  // J7 as-of join: each purchase picks the latest at-or-before signup of
  // the same user (union + last-carry-forward, one shuffle on user_id);
  // DuckDB checks it with its native ASOF JOIN.
  val q23 = Q.checked(
    "q23_asof_join",
    """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
                  FROM events WHERE event_type = 'purchase'),
            s AS (SELECT event_id AS s_event_id, user_id,
                         CAST(ts AS TIMESTAMP) AS ts, value AS s_value
                  FROM events WHERE event_type = 'signup')
       SELECT p.event_id, p.user_id, round(p.value, 2) AS value,
              s.s_event_id AS asof_event_id, round(s.s_value, 2) AS asof_value
       FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
       ORDER BY p.event_id""") { (s, d) =>
    val e = Tables.events(s, d)
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val signups = e.filter(col("event_type") === "signup")
      .select("event_id", "user_id", "ts", "value")
    graft.operators.AsOfJoin
      .asOfJoin(purchases, signups, Seq("user_id"), "ts", "ts",
        Seq("event_id", "value"))
      .select(col("event_id"), col("user_id"), round(col("value"), 2).as("value"),
        col("asof_event_id"), round(col("asof_value"), 2).as("asof_value"))
      .orderBy("event_id")
  }

  // P16 array functions: distinct/sort/slice/contains/join over word
  // arrays (arrays stringified for a representation-neutral compare).
  val q24 = Q.checked(
    "q24_array_fns",
    """SELECT doc_id,
              len(list_distinct(string_split(text, ' '))) AS n_distinct,
              array_to_string(list_slice(list_sort(list_distinct(string_split(text, ' '))), 1, 3), ',') AS first3,
              CAST(list_contains(string_split(text, ' '), 'spark') AS BOOLEAN) AS has_spark,
              string_split(text, ' ')[1] AS first_word
       FROM documents
       ORDER BY doc_id""") { (s, d) =>
    val words = split(col("text"), " ")
    Tables.documents(s, d).select(
      col("doc_id"),
      size(array_distinct(words)).cast("long").as("n_distinct"),
      array_join(slice(sort_array(array_distinct(words)), 1, 3), ",")
        .as("first3"),
      array_contains(words, "spark").as("has_spark"),
      words.getItem(0).as("first_word"))
      .orderBy("doc_id")
  }

  // P16 map functions: JSON parsed into a real MapType, keys/values
  // checked against DuckDB's JSON functions as ground truth.
  val q25 = Q.checked(
    "q25_map_fns",
    """SELECT event_id,
              array_to_string(json_keys(props), ',') AS keys_str,
              CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
              CAST(len(json_keys(props)) AS INT) AS n_keys
       FROM events
       ORDER BY event_id""") { (s, d) =>
    val m = from_json(col("props"), org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType,
      org.apache.spark.sql.types.LongType))
    Tables.events(s, d).select(
      col("event_id"),
      array_join(map_keys(m), ",").as("keys_str"),
      element_at(m, "k").as("k_value"),
      size(map_keys(m)).as("n_keys"))
      .orderBy("event_id")
  }

  // A10 second-moment statistics: correlation / sample covariance and
  // variance (both engines use the same two-pass-free definitions;
  // rounded well away from representability noise).
  val q26 = Q.checked(
    "q26_stat_corr",
    """SELECT l_returnflag,
              round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
              round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_cov,
              round(var_samp(l_discount), 6) AS disc_var
       FROM lineitem
       GROUP BY l_returnflag
       ORDER BY l_returnflag""") { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(corr("l_quantity", "l_extendedprice"), 4).as("qty_price_corr"),
        round(covar_samp("l_quantity", "l_extendedprice"), 2).as("qty_price_cov"),
        round(var_samp("l_discount"), 6).as("disc_var"))
      .orderBy("l_returnflag")
  }

  // S4+/J6 bucketed co-located join: both fact tables written bucketed on
  // the join key, so the join needs NO exchange (PlanAuditSpec asserts the
  // shuffle-free plan) — the brief's "bucketing for co-located joins".
  val q27 = Q.checked(
    "q27_bucketed_join",
    """SELECT o_orderstatus,
              count(*) AS n,
              round(sum(l_extendedprice), 2) AS total_price
       FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       GROUP BY o_orderstatus
       ORDER BY o_orderstatus""") { (s, d) =>
    // pid-scoped table names (like q21/q22's tmp paths): two concurrent
    // graft processes sharing a warehouse dir must not clobber each
    // other's bucketed files mid-read. A fresh session's in-memory
    // catalog doesn't know tables written by earlier JVMs, but their
    // warehouse directories survive — drop both or saveAsTable fails
    // with LOCATION_ALREADY_EXISTS.
    val pid = ProcessHandle.current().pid()
    val ordersBkt = s"graft_orders_bkt_$pid"
    val lineitemBkt = s"graft_lineitem_bkt_$pid"
    val warehouse = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"))
    val fs = warehouse.getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq(ordersBkt, lineitemBkt).foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      fs.delete(new org.apache.hadoop.fs.Path(warehouse, t), true)
    }
    // reap orphans from DEAD processes only (a live pid may be mid-read —
    // deleting its table would reintroduce the clobber hazard the pid
    // scoping exists to prevent); without this, every JVM run leaks two
    // table directories into the shared warehouse forever. Age guard for
    // pid recycling: a recycled pid keeps isPresent true forever, so
    // anything older than a day is reaped regardless — no graft process
    // holds a bucketed table that long.
    if (fs.exists(warehouse)) fs.listStatus(warehouse).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("graft_orders_bkt_") ||
          name.startsWith("graft_lineitem_bkt_")) {
        val owner = name.substring(name.lastIndexOf('_') + 1)
        val ownerDead = owner.toLongOption
          .exists(p => p != pid && !ProcessHandle.of(p).isPresent)
        val stale = owner.toLongOption.exists(_ != pid) &&
          st.getModificationTime < System.currentTimeMillis() - 24L * 3600 * 1000
        if (ownerDead || stale) fs.delete(st.getPath, true)
      }
    }
    // prune to the two consumed columns before the bucketed write — the
    // sink is the expensive half of this query and a bucketed table only
    // needs what its consumers read
    Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable(ordersBkt)
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_extendedprice")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable(lineitemBkt)
    s.table(ordersBkt)
      .join(s.table(lineitemBkt),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        round(sum("l_extendedprice"), 2).as("total_price"))
      .orderBy("o_orderstatus")
  }

  // A-family pivot: orderstatus spread into columns per priority (oracle
  // recomputes as portable conditional aggregation).
  val q28 = Q.checked(
    "q28_pivot",
    """SELECT o_orderpriority,
              CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
              CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
              CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
       FROM orders
       GROUP BY o_orderpriority
       ORDER BY o_orderpriority""") { (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .na.fill(0L, Seq("F", "O", "P"))
      .orderBy("o_orderpriority")
  }

  // A-family unpivot/melt: customer metrics to long form.
  val q29 = Q.checked(
    "q29_unpivot",
    """SELECT c_custkey, metric, value FROM (
         SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS value FROM customer
         UNION ALL
         SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS value FROM customer)
       ORDER BY c_custkey, metric""") { (s, d) =>
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal").as("acctbal"),
        col("c_nationkey").cast("double").as("nationkey"))
      .unpivot(Array(col("c_custkey")),
        Array(col("acctbal"), col("nationkey")), "metric", "value")
      .orderBy("c_custkey", "metric")
  }

  // A-family exact percentiles (sort-based linear interpolation in both
  // engines; the sketch-based approx_percentile is q51, rows-only).
  val q47 = Q.checked(
    "q47_percentiles",
    """SELECT l_returnflag,
              round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
              round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
              round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price
       FROM lineitem
       GROUP BY l_returnflag
       ORDER BY l_returnflag""") { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
        round(expr("percentile(l_quantity, 0.9)"), 4).as("p90_qty"),
        round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25_price"))
      .orderBy("l_returnflag")
  }

  // A-family approximate percentiles: Spark's Greenwald-Khanna sketch is
  // algorithm-specific (DuckDB's approx_quantile is a t-digest), so no
  // recomputation oracle exists — round 13 pins the estimates via the
  // committed frozen table (tools/freeze_sketches.py): the oracle
  // recomputes the EXACT percentile brackets at q ± 0.005 live
  // (quantile_cont — 5× the rank-error guarantee at accuracy 1000,
  // interpolation slack) and band-checks the frozen estimate in DuckDB.
  // LAYOUT INDEPENDENCE (round 14, VERDICT r13 #7): GK's merge is
  // partition-structure-sensitive, so the query pins its OWN layout —
  // repartition(4) on the group key puts each group's rows in exactly
  // one partition (no partial-sketch merge at all) and the total
  // sortWithinPartitions order makes the insert sequence a pure
  // function of the data. The pin now survives any session parallelism
  // / shuffle-partition / file-split configuration (FrozenSketchSpec
  // asserts an alternate layout reproduces it bit-for-bit). Scale note:
  // the same agg already computes EXACT percentile() brackets, which
  // necessarily funnels each group's rows through its reducer — the
  // fixed repartition matches that inherent |groups|-way shape rather
  // than adding a bottleneck. The in-query raise_error gate stays, SF-
  // and layout-agnostic, proving the ε bound at every scale Bench runs.
  val q51 = Q.checked("q51_approx_percentile",
    FrozenSketchSql.q51) { (s, d) =>
    // accuracy 1000 → rank ε 0.001; exact-percentile brackets at ±0.005
    def bracket(colName: String, q: Double,
        approx: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] = {
      val lo = expr(s"percentile($colName, ${q - 0.005})")
      val hi = expr(s"percentile($colName, ${q + 0.005})")
      Seq(approx.as(s"${colName}_p${(q * 100).toInt}_approx"),
        when(approx.between(lo, hi), lit(true)).otherwise(
          raise_error(concat(lit(s"GK $colName p$q outside exact bracket: "),
            approx.cast("string"), lit(" not in ["), lo.cast("string"),
            lit(", "), hi.cast("string"), lit("]"))).cast("boolean"))
          .as(s"${colName}_p${(q * 100).toInt}_ok"))
    }
    val checks =
      bracket("l_quantity", 0.5,
        expr("approx_percentile(l_quantity, 0.5, 1000)")) ++
      bracket("l_quantity", 0.9,
        expr("approx_percentile(l_quantity, 0.9, 1000)")) ++
      bracket("l_extendedprice", 0.25,
        expr("approx_percentile(l_extendedprice, 0.25, 1000)"))
    Tables.lineitem(s, d)
      .repartition(4, col("l_returnflag"))
      .sortWithinPartitions("l_returnflag", "l_orderkey", "l_linenumber")
      .groupBy("l_returnflag")
      .agg(checks.head, checks.tail: _*)
      .orderBy("l_returnflag")
  }

  // O4 rank statistics: percent_rank / cume_dist / ntile, deterministic
  // ordering via (value, event_id).
  val q48 = Q.checked(
    "q48_window_rank_stats",
    """SELECT event_id,
              round(percent_rank() OVER w, 6) AS pct_rank,
              round(cume_dist() OVER w, 6) AS cume,
              CAST(ntile(4) OVER w AS BIGINT) AS quartile
       FROM events
       WINDOW w AS (PARTITION BY event_type ORDER BY round(value, 2), event_id)
       ORDER BY event_id""") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type")
      .orderBy(round(col("value"), 2), col("event_id"))
    Tables.events(s, d).select(
      col("event_id"),
      round(percent_rank().over(w), 6).as("pct_rank"),
      round(cume_dist().over(w), 6).as("cume"),
      ntile(4).over(w).cast("long").as("quartile"))
      .orderBy("event_id")
  }

  // SQL entry surface: scalar and correlated subqueries through
  // spark.sql over a registered view — identical text runs on DuckDB.
  val q49 = Q.checked(
    "q49_sql_subqueries",
    """SELECT o_orderkey,
              round(o_totalprice / (SELECT avg(o_totalprice) FROM orders), 6) AS global_ratio,
              round(o_totalprice / (SELECT avg(o2.o_totalprice) FROM orders o2
                                    WHERE o2.o_custkey = o.o_custkey), 6) AS cust_ratio
       FROM orders o
       WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)
       ORDER BY o_orderkey""") { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql(
      """SELECT o_orderkey,
                round(o_totalprice / (SELECT avg(o_totalprice) FROM orders), 6) AS global_ratio,
                round(o_totalprice / (SELECT avg(o2.o_totalprice) FROM orders o2
                                      WHERE o2.o_custkey = o.o_custkey), 6) AS cust_ratio
         FROM orders o
         WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)
         ORDER BY o_orderkey""")
  }

  // S5/S8 sink+source roundtrip: nation → TSV on disk → schema'd CSV read
  // → broadcast join region. Result must equal the pure-parquet oracle.
  val q21 = Q.checked(
    "q21_tsv_roundtrip",
    """SELECT n_nationkey, n_name, r_name
       FROM nation JOIN region ON n_regionkey = r_regionkey
       ORDER BY n_nationkey""") { (s, d) =>
    // pid-scoped path: concurrent graft processes must not clobber each
    // other's roundtrip directories mid-read
    val path = s"${sys.props("java.io.tmpdir")}/graft_tsv_nation_${ProcessHandle.current().pid()}"
    Tables.nation(s, d)
      .select("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1)
      .write.mode("overwrite").option("sep", "\t").csv(path)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    s.read.schema(schema).option("sep", "\t").csv(path)
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name", "r_name")
      .orderBy("n_nationkey")
  }

  // S7+ ORC sink/source roundtrip (built-in columnar format beside
  // parquet): part -> ORC on disk -> read back -> aggregate. Result must
  // equal the pure-parquet oracle, proving the roundtrip is lossless.
  val q57 = Q.checked(
    "q57_orc_roundtrip",
    """SELECT p_brand, count(*) AS n, round(sum(p_retailprice), 2) AS total
       FROM part
       GROUP BY p_brand
       ORDER BY p_brand""") { (s, d) =>
    val path = s"${sys.props("java.io.tmpdir")}/graft_orc_part_${ProcessHandle.current().pid()}"
    Tables.part(s, d).write.mode("overwrite").orc(path)
    s.read.orc(path)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), round(sum("p_retailprice"), 2).as("total"))
      .orderBy("p_brand")
  }

  // S8+ JSON-lines sink/source roundtrip with an explicit read schema
  // (inference would widen s_nationkey to long): supplier -> JSON ->
  // schema'd read -> aggregate; equals the pure-parquet oracle.
  val q58 = Q.checked(
    "q58_json_roundtrip",
    """SELECT s_nationkey, count(*) AS n, round(sum(s_acctbal), 2) AS total_bal
       FROM supplier
       GROUP BY s_nationkey
       ORDER BY s_nationkey""") { (s, d) =>
    val path = s"${sys.props("java.io.tmpdir")}/graft_json_supplier_${ProcessHandle.current().pid()}"
    Tables.supplier(s, d).write.mode("overwrite").json(path)
    val schema = StructType(Seq(
      StructField("s_suppkey", LongType),
      StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType)))
    s.read.schema(schema).json(path)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), round(sum("s_acctbal"), 2).as("total_bal"))
      .orderBy("s_nationkey")
  }

  // Semi-structured VARIANT path (Spark 4): parse_json once into the
  // binary variant encoding, then typed variant_get extraction — the
  // shred-on-read shape for heterogeneous props columns (vs q09's
  // schema'd from_json). try_variant_get on an absent path must be a
  // clean typed null, not an error.
  val q72 = Q.checked(
    "q72_variant_json",
    """SELECT event_id,
              CAST(json_extract(props, '$.k') AS BIGINT) AS k,
              CAST(NULL AS BIGINT) AS k_missing
       FROM events
       ORDER BY event_id""") { (s, d) =>
    val v = parse_json(col("props"))
    Tables.events(s, d).select(
      col("event_id"),
      variant_get(v, "$.k", "long").as("k"),
      try_variant_get(v, "$.missing", "long").as("k_missing"))
      .orderBy("event_id")
  }

  // Native XML source (Spark 4): nation written as XML files and read
  // back schema'd — the third non-parquet container round-trip next to
  // ORC (q57) and JSON-lines (q58).
  val q73 = Q.checked(
    "q73_xml_roundtrip",
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
       ORDER BY n_nationkey""") { (s, d) =>
    val path = s"${sys.props("java.io.tmpdir")}/graft_xml_nation_${ProcessHandle.current().pid()}"
    Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").option("rowTag", "row").format("xml").save(path)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    s.read.schema(schema).option("rowTag", "row").format("xml").load(path)
      .select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey")
  }

  // S4 partitioned parquet write: orders partitioned by status on disk,
  // read back (partition pruning applies to the status filter downstream).
  val q22 = Q.checked(
    "q22_partitioned_write",
    """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
       FROM orders
       GROUP BY o_orderstatus
       ORDER BY o_orderstatus""") { (s, d) =>
    val path = s"${sys.props("java.io.tmpdir")}/graft_part_orders_${ProcessHandle.current().pid()}"
    Tables.orders(s, d)
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    s.read.parquet(path)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .select(col("o_orderstatus").cast("string").as("o_orderstatus"),
        col("n"), col("total"))
      .orderBy("o_orderstatus")
  }

  // LATERAL correlated subquery in FROM (SQL:1999 surface, supported by
  // Spark since 3.2 and by DuckDB): per-customer top-2 orders WITHOUT a
  // window — the lateral subquery's LIMIT is pushed per outer row.
  // Identical SQL text runs on both engines.
  private val lateralSql =
    """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
       FROM customer c, LATERAL (
         SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
       ORDER BY c.c_custkey, o.o_orderkey"""

  val q96 = Q.checked("q96_sql_lateral", lateralSql) { (s, d) =>
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql(lateralSql)
  }

  // Three-valued-logic torture: NULL keys in GROUP BY (group together),
  // count(*) vs count(col) vs count(DISTINCT col), SUM over an
  // all-null slice, and null-safe vs plain equality in a self-join —
  // the semantics engines silently diverge on. Nulls are constructed
  // from orders so both engines derive the identical nullable table;
  // IS NOT DISTINCT FROM is the portable null-safe equality spelling.
  private val nullSemanticsSql =
    """WITH t AS (
         SELECT o_orderkey AS k,
                CASE WHEN o_orderkey % 3 = 0 THEN NULL
                     ELSE o_custkey % 5 END AS g,
                CASE WHEN o_orderkey % 4 = 0 THEN NULL
                     ELSE o_totalprice END AS v
         FROM orders),
       agg AS (
         SELECT g,
                count(*) AS n_rows,
                count(v) AS n_vals,
                count(DISTINCT v) AS n_distinct,
                round(sum(v), 2) AS sum_v,
                round(sum(CASE WHEN v IS NULL THEN v END), 2) AS sum_all_null
         FROM t GROUP BY g),
       joins AS (
         SELECT
           CAST((SELECT count(*) FROM t a JOIN t b
                 ON a.g IS NOT DISTINCT FROM b.g AND a.k = b.k) AS BIGINT)
             AS nullsafe_matches,
           CAST((SELECT count(*) FROM t a JOIN t b
                 ON a.g = b.g AND a.k = b.k) AS BIGINT) AS plain_matches)
       SELECT g, n_rows, n_vals, n_distinct, sum_v, sum_all_null,
              nullsafe_matches, plain_matches
       FROM agg CROSS JOIN joins
       ORDER BY g NULLS FIRST"""

  val q97 = Q.checked("q97_sql_null_semantics", nullSemanticsSql) { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql(nullSemanticsSql)
  }

  // Parquet schema evolution: two batches written with DIFFERENT
  // schemas (the second adds a column), read back with mergeSchema —
  // old rows surface the new column as NULL. The production "a new
  // pipeline version added a field" path; the oracle recomputes the
  // union with explicit NULLs.
  val q102 = Q.checked(
    "q102_schema_evolution",
    """SELECT r_regionkey, r_name,
              CASE WHEN r_regionkey >= 3 THEN r_regionkey * 10 END AS extra
       FROM region
       UNION ALL
       SELECT r_regionkey + 100 AS r_regionkey, r_name, NULL AS extra
       FROM region
       ORDER BY r_regionkey""") { (s, d) =>
    val path = s"${sys.props("java.io.tmpdir")}/graft_evolve_${ProcessHandle.current().pid()}"
    val base = Tables.region(s, d)
    // batch 1: old writer version — no `extra` column, shifted keys
    base.select((col("r_regionkey") + 100).as("r_regionkey"), col("r_name"))
      .write.mode("overwrite").parquet(s"$path/b1")
    // batch 2: new writer version — adds `extra` (nullable)
    base.select(col("r_regionkey"), col("r_name"),
      when(col("r_regionkey") >= 3, col("r_regionkey") * 10).as("extra"))
      .write.mode("overwrite").parquet(s"$path/b2")
    s.read.option("mergeSchema", "true").parquet(s"$path/b1", s"$path/b2")
      .select("r_regionkey", "r_name", "extra")
      .orderBy("r_regionkey")
  }

  // Higher-order array functions (Catalyst lambda surface, all
  // codegen'd): transform/filter/exists/forall/aggregate/zip_with
  // against DuckDB's list comprehensions and list_* lambdas.
  val q103 = Q.checked(
    "q103_array_higher_order",
    """SELECT o_orderkey,
              array_to_string([x * 2 FOR x IN parts], ',') AS doubled,
              COALESCE(array_to_string([x FOR x IN parts IF x % 3 = 0], ','), '')
                AS div3,
              len([x FOR x IN parts IF x > 50]) > 0 AS has_big,
              len([x FOR x IN parts IF x >= 0]) = len(parts) AS all_nonneg,
              CAST(list_sum(parts) AS BIGINT) AS total,
              array_to_string([parts[i] + rev[i]
                               FOR i IN range(1, len(parts) + 1)], ',')
                AS palindrome_sum
       FROM (SELECT o_orderkey,
                    [o_orderkey % 7, o_orderkey % 5, o_orderkey % 3] AS parts,
                    [o_orderkey % 3, o_orderkey % 5, o_orderkey % 7] AS rev
             FROM orders)
       ORDER BY o_orderkey""") { (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        array(col("o_orderkey") % 7, col("o_orderkey") % 5,
          col("o_orderkey") % 3).as("parts"),
        array(col("o_orderkey") % 3, col("o_orderkey") % 5,
          col("o_orderkey") % 7).as("rev"))
      .select(
        col("o_orderkey"),
        array_join(transform(col("parts"), x => x * 2), ",").as("doubled"),
        array_join(filter(col("parts"), x => x % 3 === 0), ",").as("div3"),
        exists(col("parts"), x => x > 50).as("has_big"),
        forall(col("parts"), x => x >= 0).as("all_nonneg"),
        aggregate(col("parts"), lit(0L), (acc, x) => acc + x).as("total"),
        array_join(zip_with(col("parts"), col("rev"), (a, b) => a + b), ",")
          .as("palindrome_sum"))
      .orderBy("o_orderkey")
  }

  // Range-clustered parquet layout (ClusteredWrite): events rewritten
  // range-partitioned + sorted on user_id with small row groups, read
  // back through a selective filter. The oracle is the plain filter over
  // the ORIGINAL table — the layout must be invisible to results while
  // zone-map pruning makes the scan read a fraction of the table
  // (asserted with scan metrics in ClusteredWriteSpec).
  val q87 = Q.checked(
    "q87_clustered_write_skipping",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
       FROM events
       WHERE user_id BETWEEN 10 AND 19
       ORDER BY event_id""") { (s, d) =>
    val path = s"${sys.props("java.io.tmpdir")}/graft_clustered_events_${ProcessHandle.current().pid()}"
    graft.operators.ClusteredWrite.write(
      Tables.events(s, d).drop("props"), path, Seq("user_id"),
      rowGroupBytes = 64 * 1024, numFiles = 8)
    s.read.parquet(path)
      .filter(col("user_id").between(10, 19))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  /** Z-order-clustered layout (q115): like q87 but the table is laid
    * out on the Morton interleave of TWO bucketized columns, so
    * min/max pruning works for selective predicates on EITHER — the
    * multi-dimensional access-path layout (a linear user_id sort can't
    * skip on value). The oracle is layout-invisible by design: the same
    * filter over the plain table must return identical rows whatever
    * the physical order; the skipping itself is proven by scan metrics
    * in `ZOrderSpec`.
    */
  val q115 = Q.checked(
    "q115_zorder_write_skipping",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
       FROM events
       WHERE user_id BETWEEN 10 AND 19 AND value BETWEEN 100.0 AND 200.0
       ORDER BY event_id""") { (s, d) =>
    val path = s"${sys.props("java.io.tmpdir")}/graft_zorder_events_${ProcessHandle.current().pid()}"
    graft.operators.ClusteredWrite.writeZOrder(
      Tables.events(s, d).drop("props"), path, "user_id", "value",
      bits = 8, rowGroupBytes = 64 * 1024, numFiles = 8)
    s.read.parquet(path)
      .filter(col("user_id").between(10, 19) &&
        col("value").between(100.0, 200.0))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  /** Per-node triangle counts (q124) over the parts-co-ordered-together
    * graph (edges = distinct part pairs sharing an order): the
    * degree-ordered wedge join that bounds fan-out at O(sqrt(m)) per
    * node. The oracle counts the same triangles with canonical-order
    * wedge+closure joins in DuckDB.
    */
  val q124 = Q.checked(
    "q124_graph_triangles",
    """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                      FROM lineitem),
       e AS (SELECT DISTINCT i1.pk AS a, i2.pk AS b
             FROM items i1 JOIN items i2
               ON i1.ok = i2.ok AND i1.pk < i2.pk),
       deg AS (SELECT v, CAST(count(*) AS BIGINT) AS degree
               FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
               GROUP BY v),
       tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
               FROM e e1
               JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
               JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
       n AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles
             FROM (SELECT x AS node FROM tri
                   UNION ALL SELECT y FROM tri
                   UNION ALL SELECT z FROM tri)
             GROUP BY node)
       SELECT deg.v AS node, deg.degree,
              COALESCE(n.triangles, 0) AS triangles
       FROM deg LEFT JOIN n ON n.node = deg.v
       ORDER BY node""") { (s, d) =>
    val items = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val edges = items.alias("i1")
      .join(items.alias("i2"),
        col("i1.ok") === col("i2.ok") && col("i1.pk") < col("i2.pk"))
      .select(col("i1.pk").as("a"), col("i2.pk").as("b"))
      .distinct()
    graft.operators.DupGraph.triangleCounts(edges)
      .orderBy("node")
  }

  /** Salted skew join (q127): orders⋈customer through
    * SkewJoin.saltedJoin with a merge-join hint so the (key, salt)
    * shuffle actually runs instead of a broadcast. The oracle is the
    * plain inner join — the salt must be invisible in the result.
    */
  val q127 = Q.checked(
    "q127_salted_skew_join",
    """SELECT o_orderkey, c_custkey, c_nationkey,
              round(o_totalprice, 2) AS price
       FROM orders JOIN customer ON o_custkey = c_custkey
       ORDER BY o_orderkey""") { (s, d) =>
    graft.operators.SkewJoin.saltedJoin(
        Tables.orders(s, d).hint("merge"),
        Tables.customer(s, d).select(col("c_custkey").as("o_custkey"),
          col("c_nationkey")),
        keys = Seq("o_custkey"), saltFactor = 8,
        uniquifier = Some("o_orderkey"))
      .select(col("o_orderkey"),
        col("o_custkey").as("c_custkey"), col("c_nationkey"),
        round(col("o_totalprice"), 2).as("price"))
      .orderBy("o_orderkey")
  }

  /** Bloom-prefiltered fact⋈dim join (q131): lineitem joined to URGENT
    * orders through [[graft.operators.BloomJoin]] — the probe side is
    * filtered by a broadcast Bloom of the ~18% matching order keys
    * before it reaches the shuffle (semi-join reduction, the 100 TB
    * fact-table shape). Blooms have no false negatives, so the oracle
    * is the PLAIN join; the require asserts the filter genuinely
    * reduced the probe side, so a degraded (fpp→1) filter fails loudly
    * instead of silently running the unreduced join.
    */
  val q131 = Q.gated(
    "q131_bloom_prefilter_join",
    """SELECT l.l_orderkey, l.l_linenumber, o.o_orderpriority,
              round(l.l_extendedprice, 2) AS price
       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       WHERE o.o_orderpriority = '1-URGENT'
       ORDER BY l.l_orderkey, l.l_linenumber, price""") { (s, d, g) =>
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey", "o_orderpriority")
    val li = Tables.lineitem(s, d)
    val pre = g.hold(graft.operators.BloomJoin.prefilterProbe(
      li, urgent, probeKey = "l_orderkey", buildKey = "o_orderkey"))
    val tagged = pre.select(lit(true).as("kept"))
      .unionByName(li.select(lit(false).as("kept")))
    g.check(tagged)("kept" -> count_if(col("kept")),
      "total" -> count_if(!col("kept")))(
      "bloom prefilter reduces the probe side" -> (col("kept") < col("total")))
    pre.join(urgent, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("o_orderpriority"),
        round(col("l_extendedprice"), 2).as("price"))
      .orderBy("l_orderkey", "l_linenumber", "price")
  }

  /** Histogram-sketch quantiles (q134): l_extendedprice percentiles from
    * a 1,100-bin width-100 histogram — the mergeable, cross-engine-exact
    * alternative to a global sort (or an engine-specific GK/t-digest
    * sketch) at 100 TB. The DuckDB twin replays the identical binning and
    * integer quantile pick; the require checks the sketch's declared
    * value-error bound (one bin width) against the exact percentile.
    */
  val q134 = Q.gated(
    "q134_histogram_quantiles",
    """WITH b AS (SELECT CAST(least(greatest(floor(l_extendedprice / 100.0),
                                             0), 1099) AS BIGINT) AS bin
                  FROM lineitem),
       h AS (SELECT bin, count(*) AS n FROM b GROUP BY bin),
       t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM h),
       c AS (SELECT bin, CAST(sum(n) OVER (ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum, total
             FROM h, t),
       q AS (SELECT * FROM (VALUES (250), (500), (900), (990))
             AS v(q_permille))
       SELECT q.q_permille, min(c.bin) AS bin,
              round(min(c.bin) * 100.0, 6) AS est
       FROM q JOIN c ON c.cum >= (c.total * q.q_permille + 999) // 1000
       GROUP BY q.q_permille
       ORDER BY q.q_permille""") { (s, d, g) =>
    val li = Tables.lineitem(s, d)
    val qs = Seq(250, 500, 900, 990)
    val out = g.hold(graft.operators.HistogramSketch.quantiles(
      li, valueCol = "l_extendedprice", lo = 0.0, hi = 110000.0,
      nBins = 1100, qsPermille = qs))
    // declared guarantee: each estimate (bin lower edge) sits within one
    // bin width of the exact percentile
    val exact = li.agg(expr("percentile(l_extendedprice, " +
      s"array(${qs.map(_ / 1000.0).mkString(", ")}))").as("exact"))
    val exactOf = element_at(col("exact"),
      array_position(typedLit(qs), col("q_permille")).cast("int"))
    g.none(out.crossJoin(exact),
      "every estimate within one bin width of the exact percentile")(
      abs(col("est") - exactOf) > 100.0)
    out.orderBy("q_permille")
  }
}
