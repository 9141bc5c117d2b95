package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._

/** Join coverage (SURVEY.md §2.5 — the reference documents these as intended
  * but never implements them; they are first-class here). Every join is
  * planned scale-first:
  *  - dimension joins take an explicit `broadcast()` hint (region/nation/
  *    part/supplier/customer are small dims — at 100 TB the fact side never
  *    shuffles for these);
  *  - the fact-fact join (lineitem ⋈ orders) shuffles on the join key once,
  *    with AQE free to pick sort-merge vs shuffled-hash at runtime;
  *  - the interval join anchors on an equi-key (orderkey) so the range
  *    predicate is a post-join filter, NOT a cross product;
  *  - the as-of join is expressed as union + running window (one shuffle on
  *    user_id) instead of an O(n·m) inequality join.
  */
object JoinQueries extends QueryPack {

  val queries: Map[String, Q] = Map(
    // Broadcast dimension join: lineitem ⋈ part, agg by brand.
    "q_join_broadcast_dim" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("p_brand")),

    // Star-schema chain: orders ⋈ customer ⋈ nation ⋈ region, revenue by
    // region/nation. All dims broadcast — the orders scan is the only big
    // side and it never shuffles.
    "q_join_star" -> ((s, d) =>
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          round(sum("o_totalprice"), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("r_name", "n_name")),

    // Fact-fact equi join (shuffle on l_orderkey/o_orderkey).
    "q_join_fact_fact" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")),

    // Left-semi join (EXISTS): customers holding a >300k order.
    "q_join_semi" -> ((s, d) => {
      val bigOrders = Tables.orders(s, d).filter(col("o_totalprice") > 300000)
      Tables.customer(s, d)
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // Left-anti join (NOT EXISTS): customers with no >300k order.
    "q_join_anti" -> ((s, d) => {
      val bigOrders = Tables.orders(s, d).filter(col("o_totalprice") > 300000)
      Tables.customer(s, d)
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // Interval/range join, equi-key anchored: lineitems shipped within 120
    // days of the order date (the reference's intended jobs↔metrics interval
    // attribution, SURVEY.md §2.5). The equi key keeps it a hash join; the
    // BETWEEN is a cheap post-join filter.
    "q_join_interval" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") &&
            col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 120 DAYS"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_shipped_120d"),
          round(sum("l_quantity"), 4).as("qty_120d"))
        .orderBy("o_orderpriority")),

    // PURE range join (no equi key): errors paired with ANY user's
    // purchases within ±60 s, via the binned operator
    // (operators.RangeJoin — linear bin-keyed shuffle instead of the
    // BroadcastNestedLoopJoin Spark would otherwise plan).
    "q_join_range_pure" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"),
          col("ts").cast("long").as("err_sec"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"),
          col("ts").cast("long").as("p_sec"))
      graft.operators.RangeJoin.pointsWithin(
          errors, purchases, "err_sec", "p_sec", tolerance = 60L)
        .groupBy("err_id")
        .agg(count(lit(1)).as("n_nearby_purchases"),
          min(col("p_id")).as("first_p_id"))
        .orderBy("err_id")
    }),

    // As-of join: for each 'error' event, the most recent preceding 'signup'
    // timestamp of the same user. Spark-first formulation: tag + single
    // running-max window over (user_id, ts) — one shuffle, no inequality
    // join blowup. Deterministic tiebreak on event_id.
    "q_join_asof" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("error", "signup"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      ev.withColumn("last_signup_ts",
          max(when(col("event_type") === "signup", col("ts"))).over(w))
        .filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"), col("last_signup_ts"))
        .orderBy("event_id")
    }),

    // The same as-of semantics through the NATIVE whole-operator plan
    // (plans.AsOfJoin: key-clustered forward merge, one sorted pass per
    // side, full right payload available) instead of the union + running
    // window-max composition above. Same DuckDB oracle as q_join_asof —
    // two independent formulations and a third engine agreeing.
    "q_join_asof_native" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
      graft.plans.AsOfJoin.asOf(errors, signups,
          Seq("user_id"), Seq("s_user"), "ts", "s_ts")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("s_ts").as("last_signup_ts"))
        .orderBy("event_id")
    }),

    // Salted equi-join (operators.SkewJoin): the skew defense — the big
    // side's rows scatter across `salts` sub-keys, the small side
    // replicates ×salts, so one hot key spreads over `salts` reducers
    // instead of stalling a single straggler task. Semantics must be
    // EXACTLY the plain inner join (salting is a physical rewrite), so
    // the oracle is the unsalted SQL — the proof the rewrite is sound.
    "q_join_salted" -> ((s, d) =>
      graft.operators.SkewJoin.saltedInnerJoin(
          Tables.lineitem(s, d),
          Tables.supplier(s, d)
            .withColumnRenamed("s_suppkey", "l_suppkey"),
          "l_suppkey", salts = 8)
        .groupBy(col("s_name"))
        .agg(
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("s_name")),

    // TPC-H Q3 shape (shipping-priority top-k): selective dim filter →
    // broadcast into the fact-fact join → agg → global top-10. The
    // plan to check at 100 TB: both date filters push into the parquet
    // scans, customer broadcasts (it is the ONLY small side), lineitem ⋈
    // orders shuffles once on orderkey, and the final order-by-limit is
    // TakeOrderedAndProject — never a full sort of the aggregate.
    "q_tpch_q3" -> ((s, d) => {
      val cut = lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00"))
      val cust = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
      Tables.lineitem(s, d).filter(col("l_shipdate") > cut)
        .join(Tables.orders(s, d).filter(col("o_orderdate") < cut),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 shape (local-supplier volume): the 6-way join whose whole
    // point is join ORDER — lineitem ⋈ orders is the one fact-fact
    // shuffle; customer/supplier/nation/region all broadcast, and the
    // same-nation constraint (c_nationkey = s_nationkey) rides the
    // supplier broadcast join instead of forming a second shuffle.
    "q_tpch_q5" -> ((s, d) => {
      val lo = lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00"))
      val hi = lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00"))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // TPC-H Q21 SHAPE (waiting-supplier): the correlated
    // EXISTS + NOT EXISTS pattern — one semi-join (another supplier
    // exists in the order) and one anti-join (no OTHER supplier was
    // late) against the same fact, both keyed on orderkey. The fixture
    // lineitem has no receipt/commit dates, so "late" is
    // l_shipdate > o_orderdate + 90 days — the plan shape (fact
    // semi/anti self-joins + dim broadcast + TakeOrdered) is the point.
    "q_tpch_q21_shape" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_shipdate")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val late = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
      val any2 = li.select(col("l_orderkey").as("o2"),
        col("l_suppkey").as("s2"))
      val late3 = late.select(col("l_orderkey").as("o3"),
        col("l_suppkey").as("s3"))
      late
        .join(any2, col("o2") === col("l_orderkey") &&
          col("s2") =!= col("l_suppkey"), "left_semi")
        .join(late3, col("o3") === col("l_orderkey") &&
          col("s3") =!= col("l_suppkey"), "left_anti")
        .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(10)
    }),

    // TPC-H Q18 shape (large-volume customer): the HAVING-subquery
    // heavy-hitter pattern. The hot-orderkey list (sum(qty) > 250) comes
    // out of ONE partial-aggregating pass over lineitem and is tiny by
    // construction, so it broadcasts back as a semi-filter; lineitem
    // re-aggregates only the surviving orders, and CUSTOMER — which
    // scales with SF and must never broadcast — is joined LAST, with the
    // tiny hot-order aggregate broadcast into its scan. Customer and
    // lineitem both cross the plan unshuffled.
    "q_tpch_q18" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val hot = li.groupBy(col("l_orderkey"))
        .agg(sum("l_quantity").as("sq"))
        .filter(col("sq") > 250)
        .select(col("l_orderkey").as("hot_orderkey"))
      val o = Tables.orders(s, d)
        .join(broadcast(hot), col("o_orderkey") === col("hot_orderkey"),
          "left_semi")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      val perOrder = li
        .join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .agg(round(sum("l_quantity"), 4).as("total_qty"))
      Tables.customer(s, d)
        .join(broadcast(perOrder), col("c_custkey") === col("o_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate"),
          col("o_orderkey"))
        .limit(100)
    }),

    // TPC-H Q4 shape (order-priority checking): the EXISTS-subquery →
    // LEFT SEMI pattern with a NON-EQUI residual. The fixture lineitem
    // has no commit/receipt dates, so "a late line exists" is
    // l_shipdate > o_orderdate + 60 days — the plan shape is the point:
    // the date filter pushes into the orders scan, the semi-join keys on
    // orderkey with the date comparison as a residual (never a second
    // shuffle or a distinct-project of lineitem), and lineitem crosses
    // the plan as a 2-column projection.
    "q_tpch_q4_shape" -> ((s, d) => {
      val lo = lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
      val hi = lit(java.sql.Timestamp.valueOf("1997-04-01 00:00:00"))
      Tables.orders(s, d)
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .join(Tables.lineitem(s, d).select("l_orderkey", "l_shipdate"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >
              col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // TPC-H Q7 shape (volume shipping between two nations): the
    // symmetric nation-pair filter. Scale-first ordering: BOTH dims are
    // pre-filtered to the two nations of interest BEFORE touching facts,
    // so the customer/supplier broadcast joins act as semi-filters that
    // gate fact rows off the one lineitem ⋈ orders shuffle — the
    // symmetric (n1,n2)|(n2,n1) disjunction then runs on the already
    // tiny joined slice, never as a residual over the full fact join.
    "q_tpch_q7" -> ((s, d) => {
      val lo = lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00"))
      val hi = lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00"))
      val pair = Seq("NATION_3", "NATION_7")
      val nat = Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
        .select("n_nationkey", "n_name")
      val supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
        .join(broadcast(nat.withColumnRenamed("n_name", "supp_nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "supp_nation")
      val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
        .join(broadcast(nat.withColumnRenamed("n_name", "cust_nation")
            .withColumnRenamed("n_nationkey", "n_nationkey2")),
          col("c_nationkey") === col("n_nationkey2"))
        .select("c_custkey", "cust_nation")
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // TPC-H Q10 shape (returned-item revenue, top 20): written
    // scale-first like Q18 — revenue pre-aggregates to one row per
    // custkey BEFORE customer joins (the join input shrinks from
    // |returned lineitems| to |active customers|), customer — which
    // scales with SF and must never broadcast — joins the aggregate on
    // its key, nation broadcasts, and the top-20 is TakeOrdered on the
    // ROUNDED revenue (ties broken by custkey) — never a full sort.
    "q_tpch_q10" -> ((s, d) => {
      val lo = lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
      val hi = lit(java.sql.Timestamp.valueOf("1997-04-01 00:00:00"))
      val rev = Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
            .select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      Tables.customer(s, d)
        .join(rev, col("c_custkey") === col("o_custkey"))
        .join(broadcast(Tables.nation(s, d)
            .select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_acctbal").as("acctbal"), col("n_name"),
          col("c_mktsegment"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q14 (promotion effect): the conditional-aggregate-over-join
    // ratio. part scales with SF, so it gets NO broadcast hint — the
    // planner picks broadcast at fixture size and reverts to the
    // partkey shuffle join at scale; the date window pushes into the
    // lineitem scan, and the ratio is computed in the ONE formula shape
    // shared with the oracle (100·Σ/Σ — same op order, same rounding).
    "q_tpch_q14" -> ((s, d) => {
      val lo = lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
      val hi = lit(java.sql.Timestamp.valueOf("1997-04-01 00:00:00"))
      val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .join(Tables.part(s, d).select("p_partkey", "p_type"),
          col("l_partkey") === col("p_partkey"))
        .agg(round(
          lit(100.0) * sum(when(col("p_type") === "PROMO", disc)
            .otherwise(lit(0.0))) / sum(disc), 4).as("promo_revenue"))
    }),

    // TPC-H Q19 (discounted revenue, disjunctive predicate): the
    // OR-of-ANDs referencing BOTH join sides. The whole-disjunction
    // filter can only run above the join, but Catalyst derives the
    // per-side implications (p_brand IN (...), the l_quantity envelope)
    // and pushes THOSE into the scans — the plan to check at 100 TB is
    // that both scans carry pushed partial filters, not bare scans
    // feeding a fat join.
    "q_tpch_q19" -> ((s, d) => {
      def arm(brand: String, szHi: Int, qLo: Int, qHi: Int) =
        col("p_brand") === brand &&
          col("p_size").between(1, szHi) &&
          col("l_quantity") >= qLo && col("l_quantity") <= qHi
      Tables.lineitem(s, d)
        .join(Tables.part(s, d).select("p_partkey", "p_brand", "p_size"),
          col("l_partkey") === col("p_partkey"))
        .filter(arm("Brand#11", 15, 1, 11) || arm("Brand#12", 25, 10, 20) ||
          arm("Brand#13", 35, 20, 30))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
    }),

    // TPC-H Q15 (top supplier): the aggregate-of-aggregate view pattern.
    // Per-supplier revenue is ONE partial-aggregating pass over the
    // date-sliced lineitem — and it is evaluated exactly ONCE: the winner
    // is the rank-1 slice of that single aggregate (ties kept, matching
    // the SQL max-equality semantics), not an equality filter against a
    // separately recomputed max. The two-subtree max+equality form is the
    // classic Q15 nondeterminism trap — float partial-aggregation order
    // is not guaranteed identical across two evaluations of the same
    // subtree, so "rev.total_revenue = max(rev.total_revenue)" can
    // intermittently return an empty result under AQE/repartitioning.
    // The global rank window runs on the AGGREGATED per-supplier relation
    // (|suppliers| narrow rows — dimension cardinality, never the fact),
    // so its single-partition sort is bounded at any fact scale; the
    // winning slice (the tie set) then broadcast-joins supplier.
    "q_tpch_q15" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val lo = lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
      val hi = lit(java.sql.Timestamp.valueOf("1997-04-01 00:00:00"))
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .groupBy(col("l_suppkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("total_revenue"))
      val top = rev
        .withColumn("__rk", rank().over(Window.orderBy(col("total_revenue").desc)))
        .filter(col("__rk") === 1).drop("__rk")
      Tables.supplier(s, d).select("s_suppkey", "s_name")
        .join(broadcast(top), col("s_suppkey") === col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    }),

    // TPC-H Q13 shape (customer order distribution): the OUTER-join
    // histogram pattern. Written scale-first: instead of left-joining
    // customer to the raw orders fact and aggregating the blow-up
    // (|orders| join rows), the fact is pre-aggregated to one row per
    // custkey — the join input shrinks from |orders| to |customers|
    // BEFORE any wide row exists, and zero-order customers come back via
    // the left join + coalesce(0), which is exactly count(o_orderkey)'s
    // null semantics. Two shuffles total (custkey agg, c_count agg);
    // the reference SQL's join-then-count needs the same two plus the
    // fat outer join in between.
    "q_tpch_q13" -> ((s, d) => {
      val perCust = Tables.orders(s, d)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      Tables.customer(s, d)
        .join(perCust, col("c_custkey") === col("o_custkey"), "left")
        .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q17 shape (small-quantity revenue): the correlated-AVG
    // subquery pattern — each lineitem compared against 0.2 × the mean
    // quantity OF ITS OWN PART. Scale-first decorrelation: the brand
    // selection (broadcast) cuts lineitem to the ~1/|brands| slice
    // FIRST, the per-part average is computed only over that slice, and
    // the slice self-joins to its own aggregate on l_partkey — both
    // sides arrive partitioned by l_partkey from the same exchange, so
    // AQE reuses it instead of re-shuffling. The naive form (avg over
    // ALL of lineitem, then filter) would aggregate 50× more rows at
    // 100 TB only to throw 98% of the groups away.
    //
    // fp-parity notes: l_quantity is integer-valued, so sum/count are
    // exact in both engines regardless of summation order; the
    // avg * 0.2 double is therefore bit-identical and the `<` filter
    // cannot flip on a boundary row. The OUTER sum has no such
    // guarantee as a double (partial-agg merge order differs between
    // engines), so l_extendedprice is summed as DECIMAL(18,2) — exact
    // and order-independent — and converted to double only once, for
    // the shared /7.0 division both engines evaluate identically.
    "q_tpch_q17" -> ((s, d) => {
      val sel = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
            .filter(col("p_brand") === "Brand#23" &&
              col("p_type") === "PROMO")
            .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val qcut = sel.groupBy(col("l_partkey"))
        .agg((avg(col("l_quantity")) * lit(0.2)).as("qcut"))
        .select(col("l_partkey").as("q_partkey"), col("qcut"))
      sel.join(qcut, col("l_partkey") === col("q_partkey"))
        .filter(col("l_quantity") < col("qcut"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double") / 7.0, 2).as("avg_yearly"))
    }),

    // TPC-H Q2 shape (min-cost supplier): correlated MIN over a region-cut
    // subtree — Q15's sibling, but the MIN is PER PART and the subtree is
    // a join tree, not a bare aggregate. The fixture has no partsupp, so
    // the supply relation derives once from lineitem (min unit price per
    // (part, supplier) offer, rounded to 2dp BEFORE the min so the winning
    // cost is the same value in both engines). The cent rounding runs on
    // an exact DECIMAL, as in q11: a double quotient sitting on a half
    // cent (5.55/6 = 0.925) rounds down in one engine and up in the other.
    // DuckDB's DECIMAL/DECIMAL is a DOUBLE, so both sides pin the quotient
    // to DECIMAL(18,6) first — a unit price P/(100·q), q ≤ 50, is never
    // within 1e-6 of a half cent without being on it. The plan to check at
    // 100 TB: the EUROPE cut broadcasts INTO the supply subtree (out-of-
    // region suppliers never reach the aggregation), the part cut
    // semi-filters offers BEFORE the per-part ranking, and the winner is
    // the rank-1 slice of ONE evaluation of the subtree (ties kept —
    // the Q15 determinism posture; the oracle decorrelates the textbook
    // way instead, via the correlated scalar subquery).
    "q_tpch_q2_shape" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val eu = broadcast(Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name")))
      val cut = Tables.part(s, d)
        .filter(col("p_type") === "ECONOMY" && col("p_size") < 15)
        .select(col("p_partkey"), col("p_name"))
      val offers = Tables.lineitem(s, d)
        .join(broadcast(cut.select("p_partkey")),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(round((col("l_extendedprice").cast("decimal(18,2)") /
            col("l_quantity").cast("decimal(18,2)")).cast("decimal(18,6)"), 2))
          .cast("double").as("min_cost"))
        .join(eu, col("l_suppkey") === col("s_suppkey"))
      offers
        .withColumn("__rk", rank().over(
          Window.partitionBy(col("l_partkey")).orderBy(col("min_cost"))))
        .filter(col("__rk") === 1)
        .join(broadcast(cut), col("l_partkey") === col("p_partkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"), col("min_cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),

    // TPC-H Q9 shape (product-type profit): LIKE-filtered part against a
    // multi-fact profit join — the test here is fact-fact SHUFFLE ORDER.
    // The broadcast part slice cuts lineitem FIRST (the '%red%' cut drops
    // ~7/8 of the fact before anything wide exists) and only the reduced
    // stream shuffles against orders; supplier/nation ride broadcasts.
    // No partsupp in the fixture, so supply cost is the part's retail
    // price, riding the same broadcast join Q9 uses for ps_supplycost:
    // amount = l_extendedprice·(1−l_discount) − p_retailprice·l_quantity/10.
    // The amount and its sum run in exact DECIMAL (/10 as ·0.1, which
    // stays DECIMAL in DuckDB too), so a half-cent total rounds the same
    // in both engines — a double sum can land a hair below it.
    "q_tpch_q9_shape" -> ((s, d) => {
      val red = broadcast(Tables.part(s, d)
        .filter(col("p_name").like("%red%"))
        .select(col("p_partkey"), col("p_retailprice")))
      def cents(c: String) = col(c).cast("decimal(12,2)")
      val amount = cents("l_extendedprice") * (lit(1) - cents("l_discount")) -
        cents("p_retailprice") * cents("l_quantity") * lit(BigDecimal("0.1"))
      Tables.lineitem(s, d)
        .join(red, col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("int").as("o_year"))
        .agg(round(sum(amount), 2).cast("double").as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // TPC-H Q11 shape (important stock): per-part value vs a FRACTION of
    // the global total — Q15's sibling with a 1-row global aggregate
    // broadcast back as a NON-EQUI filter. Sums run in DECIMAL(18,2) so
    // per-part values and the global total are exact and order-
    // independent (no float partial-agg drift on the HAVING boundary —
    // q17's fp-parity argument), and the threshold compare is
    // value·10000 > total: pure decimal math, no double enters the
    // predicate. The nation cut semi-broadcasts into the fact scan; the
    // 1-row total rides an explicit broadcast crossJoin (the LmScore
    // posture — by hint, not AQE courtesy).
    "q_tpch_q11_shape" -> ((s, d) => {
      val supN = broadcast(Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_5")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey")))
      val vals = Tables.lineitem(s, d)
        .join(supN, col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("value"))
      val tot = vals.agg(sum(col("value")).as("__tot"))
      vals.crossJoin(broadcast(tot))
        .filter(col("value") * lit(10000) > col("__tot"))
        .select(col("l_partkey").as("partkey"),
          round(col("value").cast("double"), 2).as("value"))
        .orderBy(col("value").desc, col("partkey"))
    }),

    // TPC-H Q20 shape (qualified suppliers): NESTED semi-joins — the
    // supplier semi consumes a subquery that is ITSELF semi-filtered by
    // the part LIKE cut, with a correlated per-part volume threshold in
    // between. Neither inner relation materializes: the 'blue%' slice
    // broadcasts as a semi into the date-cut lineitem scan, the
    // per-(part,supplier) and per-part totals are two keyed aggregations
    // over that ONE reduced stream (agg-of-agg), and qualifying supplier
    // ids flow straight into supplier's left-semi. l_quantity is
    // integer-valued ⇒ sums exact in double; 2·q > tot cannot drift.
    "q_tpch_q20_shape" -> ((s, d) => {
      val lo = lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
      val hi = lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00"))
      val blue = Tables.part(s, d).filter(col("p_name").like("blue%"))
        .select(col("p_partkey"))
      val shipped = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .join(broadcast(blue), col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("qty"))
      val perPart = shipped.groupBy(col("l_partkey"))
        .agg(sum(col("qty")).as("part_qty"))
        .select(col("l_partkey").as("__pk"), col("part_qty"))
      val qualified = shipped
        .join(perPart, col("l_partkey") === col("__pk"))
        .filter(col("qty") * 2 > col("part_qty"))
        .select(col("l_suppkey"))
      Tables.supplier(s, d)
        .filter(col("s_nationkey") === 7)
        .join(qualified, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H Q8 shape (national market share): nation joins the plan TWICE
    // under different roles — the customer side only as the ASIA market
    // cut (semi-joins: the row set is filtered, no column survives), the
    // supplier side carrying n_name into the share CASE. The share is a
    // conditional-aggregate ratio per order year over the one fact-fact
    // shuffle (part cut semi-broadcasts into lineitem first, date window
    // pushes into the orders scan), computed in the ONE formula shape the
    // oracle uses (Σ CASE / Σ — same op order, same rounding).
    "q_tpch_q8_shape" -> ((s, d) => {
      val lo = lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00"))
      val hi = lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00"))
      val asiaCust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
        .join(broadcast(Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey")),
          col("c_nationkey") === col("n_nationkey"), "left_semi")
        .select("c_custkey")
      val suppNat = broadcast(Tables.supplier(s, d)
        .select("s_suppkey", "s_nationkey")
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").as("__snk"),
            col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("__snk"))
        .select("s_suppkey", "supp_nation"))
      val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
            .filter(col("p_type") === "STANDARD").select("p_partkey")),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
            .select("o_orderkey", "o_custkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"),
          "left_semi")
        .join(suppNat, col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
        .agg(round(
          sum(when(col("supp_nation") === "NATION_3", vol).otherwise(lit(0.0)))
            / sum(vol), 6).as("mkt_share"))
        .orderBy("o_year")
    }),

    // TPC-H Q12 shape (late-shipment priority histogram): fact-fact join
    // + conditional aggregation. The fixture has no l_shipmode or
    // l_commitdate, so the mode analog is l_returnflag and lateness is
    // the q4-style ship-after-order residual — the engine shape (one
    // orderkey shuffle with the IN-list pushed to the lineitem scan,
    // CASE counts above it) is Q12's.
    "q_tpch_q12_shape" -> ((s, d) => {
      val highPri = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, d)
        .filter(col("l_returnflag").isin("A", "R"))
        .join(Tables.orders(s, d)
            .select("o_orderkey", "o_orderdate", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(highPri, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!highPri, 1L).otherwise(0L)).as("low_line_count"))
        .orderBy("l_returnflag")
    }),

    // TPC-H Q16 shape (supplier-count distribution): COUNT DISTINCT per
    // attribute group behind an anti-join. The (part, supplier) link
    // derives from lineitem (no partsupp); "complaint" suppliers
    // (acctbal < 500 standing in for the LIKE '%Complaints%' cut) leave
    // via a broadcast anti-join BEFORE the aggregation, and the
    // count-distinct shuffles once on the grouping keys with the
    // distinct expand below — never a global distinct of the fact.
    "q_tpch_q16_shape" -> ((s, d) => {
      val parts = broadcast(Tables.part(s, d)
        .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
        .select("p_partkey", "p_brand", "p_type", "p_size"))
      val complaints = broadcast(Tables.supplier(s, d)
        .filter(col("s_acctbal") < 500).select(col("s_suppkey")))
      Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
        .join(parts, col("l_partkey") === col("p_partkey"))
        .join(complaints, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // TPC-H Q22 shape (global sales opportunity): substring cut +
    // scalar-average filter + anti-join. The "country code" analog is the
    // last digit of c_name (no phone column in the fixture); the
    // positive-balance average arrives as a 1-row broadcast, and the
    // comparison is acctbal·n > total — both sides exact DECIMAL × COUNT
    // math, so the boundary cannot drift between engines the way a float
    // average could. The anti-join is against RECENT orders (every
    // fixture customer has some order, so the classic any-order NOT
    // EXISTS would be vacuous; "no order since 2000" keeps the same
    // shape with a date residual that pushes into the orders scan). At
    // 100 TB orders shuffles once on o_custkey and the probe side is a
    // fraction of customers. The customer scan DOES run twice — the
    // balance-average branch filters c_acctbal > 0, so the subtrees
    // differ and nothing is reusable — but the second scan is pruned to
    // two columns and collapses map-side into the 1-row aggregate.
    "q_tpch_q22_shape" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .withColumn("cntrycode", substring(col("c_name"), -1, 1))
        .filter(col("cntrycode").isin("1", "3", "5", "7", "9"))
      val bal = cust.filter(col("c_acctbal") > 0)
        .agg(sum(col("c_acctbal").cast("decimal(18,2)")).as("__tot"),
          count(lit(1)).as("__n"))
      val recent = Tables.orders(s, d)
        .filter(col("o_orderdate") >=
          lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00")))
        .select(col("o_custkey"))
      cust.crossJoin(broadcast(bal))
        .filter(col("c_acctbal").cast("decimal(18,2)") * col("__n") > col("__tot"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          round(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2)
            .as("totacctbal"))
        .orderBy(col("cntrycode"))
    }),

    // Runtime bloom-filter join pruning: when the dim side is too big to
    // broadcast (forced here via autoBroadcastJoinThreshold=-1, standing
    // in for a 100-TB dim), Spark's InjectRuntimeFilter builds a Bloom
    // filter from the SELECTIVE dim keys and pushes
    // bloom_filter_might_contain(o_custkey) into the fact scan — fact rows
    // that can't join die BEFORE the shuffle, which at scale is the
    // difference between shuffling the whole fact table and shuffling the
    // ~1/5 that survives the segment cut. False positives die in the join
    // itself, so the result is semantics-identical (hash-checked vs the
    // plain-SQL oracle); PlanSpec pins the filter's presence in the plan.
    "q_join_runtime_bloom" -> ((s, d) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val cust = Tables.customer(s2, d)
        .filter(col("c_mktsegment") === "BUILDING")
      Tables.orders(s2, d)
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(
          count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy(col("c_nationkey"))
    }))

  val oracle: Map[String, String] = Map(
    "q_join_runtime_bloom" ->
      """SELECT c_nationkey,
        |       count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q_join_broadcast_dim" ->
      """SELECT p_brand,
        |       round(sum(l_quantity), 4) AS sum_qty,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_join_star" ->
      """SELECT r_name, n_name,
        |       round(sum(o_totalprice), 2) AS revenue,
        |       count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q_join_fact_fact" ->
      """SELECT o_orderpriority,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_interval" ->
      """SELECT o_orderpriority,
        |       count(*) AS n_shipped_120d,
        |       round(sum(l_quantity), 4) AS qty_120d
        |FROM lineitem JOIN orders
        |  ON l_orderkey = o_orderkey
        | AND l_shipdate >= o_orderdate
        | AND l_shipdate <= o_orderdate + INTERVAL 120 DAY
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_join_range_pure" ->
      """WITH e AS (
        |  SELECT event_id AS err_id, CAST(floor(epoch(ts)) AS BIGINT) AS err_sec
        |  FROM events WHERE event_type = 'error'),
        |p AS (
        |  SELECT event_id AS p_id, CAST(floor(epoch(ts)) AS BIGINT) AS p_sec
        |  FROM events WHERE event_type = 'purchase')
        |SELECT err_id, count(*) AS n_nearby_purchases, min(p_id) AS first_p_id
        |FROM e JOIN p ON abs(err_sec - p_sec) <= 60
        |GROUP BY err_id ORDER BY err_id""".stripMargin,
    "q_join_asof" ->
      """WITH tagged AS (
        |  SELECT event_id, user_id, ts, event_type FROM events
        |  WHERE event_type IN ('error', 'signup')
        |), w AS (
        |  SELECT *, max(CASE WHEN event_type = 'signup' THEN ts END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_ts
        |  FROM tagged)
        |SELECT event_id, user_id, ts, last_signup_ts FROM w
        |WHERE event_type = 'error' ORDER BY event_id""".stripMargin,
    // identical semantics, independent DuckDB formulation (correlated
    // max-subquery instead of the window) — fixture has no same-(user,ts)
    // error/signup ties, so rts<=lts and the window frame agree
    "q_join_asof_native" ->
      """SELECT e.event_id, e.user_id, e.ts,
        |  (SELECT max(s.ts) FROM events s
        |   WHERE s.event_type = 'signup' AND s.user_id = e.user_id
        |     AND s.ts <= e.ts) AS last_signup_ts
        |FROM events e WHERE e.event_type = 'error'
        |ORDER BY e.event_id""".stripMargin,
    // unsalted twin of q_join_salted: salting must be result-invisible
    "q_join_salted" ->
      """SELECT s_name,
        |       round(sum(l_quantity), 4) AS sum_qty,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin,
    "q_tpch_q3" ->
      """SELECT l_orderkey, o_orderdate,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q_tpch_q5" ->
      """SELECT n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q_tpch_q4_shape" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_tpch_q7" ->
      """SELECT supp_nation, cust_nation, l_year,
        |       round(sum(volume), 2) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |         year(l.l_shipdate)::INT AS l_year,
        |         l.l_extendedprice * (1 - l.l_discount) AS volume
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        |    AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00')
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "q_tpch_q10" ->
      """WITH rev AS (
        |  SELECT o.o_custkey,
        |         round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
        |           AS revenue
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_returnflag = 'R'
        |    AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY o.o_custkey)
        |SELECT c.c_custkey, c.c_name, rev.revenue,
        |       c.c_acctbal AS acctbal, n.n_name, c.c_mktsegment
        |FROM rev
        |JOIN customer c ON rev.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |ORDER BY rev.revenue DESC, c.c_custkey
        |LIMIT 20""".stripMargin,
    "q_tpch_q14" ->
      """SELECT round(
        |    100.0 * sum(CASE WHEN p_type = 'PROMO'
        |                     THEN l_extendedprice * (1 - l_discount)
        |                     ELSE 0.0 END)
        |      / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'""".stripMargin,
    "q_tpch_q19" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity >= 1 AND l_quantity <= 11)
        |   OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity >= 10 AND l_quantity <= 20)
        |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin,
    "q_tpch_q15" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         round(sum(l_extendedprice * (1 - l_discount)), 2)
        |           AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q_tpch_q21_shape" ->
      """WITH late AS (
        |  SELECT l.l_orderkey, l.l_suppkey
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        |SELECT s_name, count(*) AS numwait
        |FROM late l1 JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM late l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 10""".stripMargin,
    "q_tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |       round(sum(l_quantity), 4) AS total_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        |LIMIT 100""".stripMargin,
    "q_tpch_q13" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // independent decorrelation on purpose: the oracle keeps the textbook
    // correlated scalar-MIN subquery; the Spark side ranks ONE evaluation
    // of the supply subtree
    "q_tpch_q2_shape" ->
      """WITH offers AS (
        |  SELECT l_partkey, l_suppkey,
        |         min(round(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |           / CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(18,6)), 2))
        |           ::DOUBLE AS min_cost
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_type = 'ECONOMY' AND p_size < 15)
        |  GROUP BY l_partkey, l_suppkey),
        |eu AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE')
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, min_cost
        |FROM part p
        |JOIN offers o ON o.l_partkey = p.p_partkey
        |JOIN eu ON o.l_suppkey = eu.s_suppkey
        |WHERE p.p_type = 'ECONOMY' AND p.p_size < 15
        |  AND o.min_cost = (SELECT min(o2.min_cost)
        |                    FROM offers o2
        |                    JOIN eu e2 ON o2.l_suppkey = e2.s_suppkey
        |                    WHERE o2.l_partkey = p.p_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,
    "q_tpch_q9_shape" ->
      """SELECT nation, o_year, round(sum(amount), 2)::DOUBLE AS sum_profit
        |FROM (
        |  SELECT n_name AS nation, year(o_orderdate)::INT AS o_year,
        |         CAST(l_extendedprice AS DECIMAL(12,2))
        |           * (1 - CAST(l_discount AS DECIMAL(12,2)))
        |           - CAST(p_retailprice AS DECIMAL(12,2))
        |           * CAST(l_quantity AS DECIMAL(12,2)) * 0.1 AS amount
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE p_name LIKE '%red%')
        |GROUP BY nation, o_year
        |ORDER BY nation, o_year DESC""".stripMargin,
    "q_tpch_q11_shape" ->
      """WITH vals AS (
        |  SELECT l_partkey AS partkey,
        |         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS v
        |  FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey
        |    WHERE n_name = 'NATION_5')
        |  GROUP BY l_partkey)
        |SELECT partkey, round(CAST(v AS DOUBLE), 2) AS value
        |FROM vals
        |WHERE v * 10000 > (SELECT sum(v) FROM vals)
        |ORDER BY value DESC, partkey""".stripMargin,
    "q_tpch_q20_shape" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_nationkey = 7
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem l1
        |    WHERE l_partkey IN (SELECT p_partkey FROM part
        |                        WHERE p_name LIKE 'blue%')
        |      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |    GROUP BY l_partkey, l_suppkey
        |    HAVING 2 * sum(l_quantity) > (
        |      SELECT sum(l2.l_quantity) FROM lineitem l2
        |      WHERE l2.l_partkey = l1.l_partkey
        |        AND l2.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |        AND l2.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'))
        |ORDER BY s_suppkey""".stripMargin,
    "q_tpch_q8_shape" ->
      """SELECT o_year,
        |       round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
        |                      ELSE 0.0 END) / sum(volume), 6) AS mkt_share
        |FROM (
        |  SELECT year(o.o_orderdate)::INT AS o_year, n2.n_name AS supp_nation,
        |         l.l_extendedprice * (1 - l.l_discount) AS volume
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'STANDARD'
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        |  JOIN region r ON n1.n_regionkey = r.r_regionkey
        |    AND r.r_name = 'ASIA'
        |  JOIN supplier s2 ON l.l_suppkey = s2.s_suppkey
        |  JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |  WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin,
    "q_tpch_q12_shape" ->
      """SELECT l_returnflag,
        |       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
        |       sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END)::BIGINT AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_returnflag IN ('A', 'R')
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_tpch_q16_shape" ->
      """SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 500)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q_tpch_q22_shape" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_acctbal,
        |         substr(c_name, length(c_name), 1) AS cntrycode
        |  FROM customer
        |  WHERE substr(c_name, length(c_name), 1) IN ('1','3','5','7','9'))
        |SELECT cntrycode, count(*) AS numcust,
        |       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
        |         AS totacctbal
        |FROM cust c
        |WHERE CAST(c_acctbal AS DECIMAL(18,2))
        |        * (SELECT count(*) FROM cust WHERE c_acctbal > 0)
        |      > (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2)))
        |         FROM cust WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c.c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY cntrycode
        |ORDER BY cntrycode""".stripMargin,
    "q_tpch_q17" ->
      """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23' AND p_type = 'PROMO'
        |  AND l_quantity < (
        |    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
        |    WHERE l2.l_partkey = p_partkey)""".stripMargin)
}
