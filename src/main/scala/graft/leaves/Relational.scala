package graft.leaves

import org.apache.spark.sql.functions._

import graft.leaves.Golden.t

/** The general relational leaves over the TPC-H-ish tables: aggregates,
  * joins, windows, a rollup and set operations.
  */
object Relational {

  val leaves: Seq[Leaf] = Seq(
    Leaf("q01_pricing_summary", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, oracle =
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
         round(avg(l_quantity), 4) AS avg_qty,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""),

    Leaf("q02_top_customers", (s, dir) => {
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(round(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(10)
    }, oracle =
      """SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_custkey, c_name ORDER BY revenue DESC, c_custkey LIMIT 10"""),

    Leaf("q03_brand_part_agg", (s, dir) => {
      // small dim explicitly broadcast: no shuffle of the fact side
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").filter(col("p_brand") === "Brand#12")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("p_type")
    }, oracle =
      """SELECT p_brand, p_type,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, count(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand = 'Brand#12' GROUP BY p_brand, p_type ORDER BY p_type"""),

    Leaf("q04_customers_with_orders", (s, dir) => {
      // left-semi join (the reference's insert-if-absent dual, client.py:173-181)
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    }, oracle =
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 400000)
         ORDER BY c_custkey"""),

    Leaf("q05_top_orders_per_customer", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 2).as("price"), col("rn"))
        .orderBy("o_custkey", "rn")
    }, oracle =
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn"""),

    Leaf("q06_running_value", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("running_value", round(sum("value").over(w), 4))
        .select("event_id", "user_id", "running_value")
        .orderBy("user_id", "event_id")
    }, oracle =
      """SELECT event_id, user_id,
         round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
           AS running_value
         FROM events ORDER BY user_id, event_id"""),

    Leaf("q07_rollup_revenue", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum("l_extendedprice"), 2).as("revenue"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }, oracle =
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_extendedprice), 2) AS revenue, count(*) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),

    Leaf("q08_sessionize", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // 30-min-gap sessionization: the batch dual of the streaming
      // mapGroupsWithState session operator (SURVEY.md §1.4 streaming note)
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val events = t(s, dir, "events")
        .withColumn("prev_ts", lag("ts", 1).over(byUser))
        .withColumn("gap",
          when(col("prev_ts").isNull, 1)
            .when(unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
            .otherwise(0))
        .withColumn("session_id", sum("gap").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      events.groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("session_value"))
        .orderBy("user_id", "session_id")
    }, oracle =
      """WITH flagged AS (
           SELECT user_id, value,
                  CASE WHEN lag(ts) OVER w IS NULL THEN 1
                       WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1
                       ELSE 0 END AS gap,
                  ts, event_id
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sessions AS (
           SELECT user_id, value,
                  CAST(sum(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_id
           FROM flagged)
         SELECT user_id, session_id, count(*) AS n_events,
                round(sum(value), 4) AS session_value
         FROM sessions GROUP BY user_id, session_id ORDER BY user_id, session_id"""),

    Leaf("q09_hourly_events", (s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total_value"))
        .orderBy("hour", "event_type")
    }, oracle =
      """SELECT date_trunc('hour', ts) AS hour, event_type,
         count(*) AS n, round(sum(value), 4) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""),

    Leaf("q33_region_revenue", (s, dir) => {
      // multi-way join (TPC-H Q5 shape): fact × supplier × 2 broadcast dims
      // with a selective region filter — the dims are broadcast explicitly
      // (plan-asserted in PlanSpec) so the fact side shuffles only for the
      // supplier equi-join + final aggregate
      t(s, dir, "lineitem")
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }, oracle =
      """SELECT n_name,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
         GROUP BY n_name ORDER BY n_name"""),

    Leaf("q32_setops", (s, dir) => {
      // union / intersect / except surface (absent in the reference,
      // SURVEY §2 "Absent" row — engine completeness)
      val bigSpenders = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("custkey"))
      val machinery = t(s, dir, "customer").filter(col("c_mktsegment") === "MACHINERY")
        .select(col("c_custkey").as("custkey"))
      val u = bigSpenders.union(machinery).distinct().withColumn("op", lit("union"))
      val i = bigSpenders.intersect(machinery).withColumn("op", lit("intersect"))
      val e = bigSpenders.distinct().except(machinery).withColumn("op", lit("except"))
      u.unionAll(i).unionAll(e)
        .groupBy("op").agg(count(lit(1)).as("n"), sum("custkey").as("key_sum"))
        .orderBy("op")
    }, oracle =
      """WITH big AS (SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000),
         mach AS (SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'MACHINERY'),
         ops AS (
           SELECT 'union' AS op, custkey FROM (SELECT DISTINCT custkey FROM (SELECT custkey FROM big UNION ALL SELECT custkey FROM mach))
           UNION ALL
           SELECT 'intersect' AS op, custkey FROM (SELECT custkey FROM big INTERSECT SELECT custkey FROM mach)
           UNION ALL
           SELECT 'except' AS op, custkey FROM (SELECT DISTINCT custkey FROM big EXCEPT SELECT custkey FROM mach))
         SELECT op, count(*) AS n, CAST(sum(custkey) AS BIGINT) AS key_sum
         FROM ops GROUP BY op ORDER BY op""")
  )
}
